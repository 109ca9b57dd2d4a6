package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * BM25 ranked retrieval over the corpus — the targeted-data-selection
 * primitive: score every document against a (small) set of keyword
 * queries and keep the best matches per query. This is how a training
 * pipeline pulls "documents about X" out of 100 TB without embeddings
 * (and how retrieval-quality eval sets are mined).
 *
 * Scoring is classic BM25 with Lucene's non-negative idf:
 * {{{
 *   idf(t)      = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))
 *   score(q, d) = Σ_{t ∈ q}  idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
 * }}}
 * over [[Dedup.wordTable]] tokens (the corpus-wide word notion shared
 * with dedup/top-words/unigram scoring). N and avgdl count ALL
 * corpus docs, including token-free ones.
 *
 * Scale shape: the query term set is metadata-sized and BROADCAST; the
 * corpus is exploded ONCE and immediately semi-joined against it, so
 * only query-matching postings (docs × query terms, a sliver of the
 * token stream) ever reach a shuffle. Document frequencies are a
 * PARTIAL-AGGREGATED terms-sized table over the postings aggregate,
 * re-read through the SAME shuffle (ReuseExchange) and broadcast back
 * — NOT a per-word count window (a window gathers every posting of a
 * word into one task, so a stopword-like query term at corpus scale
 * is a straggler) and NOT a second aggregation of the corpus (a
 * naïve `postings.groupBy` branch gets column-pruned into a different
 * exchange and silently re-scans the corpus; see the reuse guard in
 * the code, and RetrievalSpec pins exactly one corpus explode plus
 * the ReusedExchange). N/avgdl ride along as a broadcast 1-row
 * aggregate (the [[TextAnalysis.unigramNll]] T/V shape, kept inside
 * the plan — no eager action). The corpus is never shuffled and never
 * joined to itself; every shuffle after the semi join is
 * postings-sized or smaller.
 */
object Retrieval {

  /**
   * All (query_id, doc_id, score) pairs with at least one matching
   * term — the value surface (oracle-gated; ranking is a window over
   * this). Docs sharing no term with a query are absent (BM25 gives
   * them score 0; materializing the zero cross product would be a
   * corpus × queries blowup for no information).
   */
  def bm25Scores(
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    queries: DataFrame,
    queryIdCol: String,
    queryTextCol: String,
    k1: Double = 1.2,
    b: Double = 0.75
  ): DataFrame = {
    require(k1 >= 0.0, s"k1 must be non-negative: $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1]: $b")
    // NULL text counts as a ZERO-LENGTH document (dl = 0, no postings):
    // N already counts it, so leaving its dl NULL would make avgdl's
    // denominator diverge from n_docs — the coherent contract, and the
    // one the sidecar layout's registry keeps (a token-free doc registers
    // with dl 0, so its forget's sum_dl/n_docs arithmetic stays exact)
    val docs = Dedup.wordTable(corpus, textCol, idCol)
      .select(col("doc_id"), col("w"),
        coalesce(size(col("w")), lit(0)).as("dl"))
    // one broadcast row: corpus size + average doc length (metadata fold
    // kept inside the plan — no eager action)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      coalesce(avg(col("dl")), lit(0.0)).as("avgdl"))
    // query side inlines the same word notion (metadata-sized frame;
    // keeping its explode textually distinct from the corpus's bound-`w`
    // explode also lets RetrievalSpec count corpus scans unambiguously)
    val qterms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(graft.functions.Hashing.normalizedWords(col(queryTextCol))).as("word"))
      .distinct()
    val terms = qterms.select("word").distinct()
    // postings restricted to query terms BEFORE any shuffle
    val postings = docs
      .select(col("doc_id"), col("dl"), explode(col("w")).as("word"))
      .join(broadcast(terms), Seq("word"), "left_semi")
      .groupBy("word", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
    // document frequency: partial-aggregated per word over the postings
    // aggregate — the partials collapse to ≤ |terms| rows per partition
    // BEFORE the word shuffle, so a stopword-like term costs the same as
    // a rare one (a count window over partitionBy(word) would instead
    // drag every posting of the word into one task — the straggler this
    // round removed). count(when(tf > 0, 1)), NOT count(1), and the
    // difference is load-bearing: tf = count(1) ≥ 1 always, so counting
    // rows where
    // tf > 0 is the row count — but the predicate is opaque to the
    // optimizer, so this branch KEEPS consuming tf and its copy of the
    // postings aggregate stays column-identical to the scoring
    // branch's. count(1) — or anything Catalyst can simplify to it
    // (count(tf) rewrites via tf's non-nullability) — lets pruning
    // specialize the partial aggregate under the postings exchange,
    // breaking exchange identity → no ReuseExchange → a silent second
    // corpus scan (the pruned-agg trap; RetrievalSpec pins scan count
    // AND the ReusedExchange)
    val dfTable = postings
      .groupBy("word")
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
    // terms-sized (≤ |query terms| rows): broadcast it back onto postings
    val withDf = postings.join(broadcast(dfTable), Seq("word"))
    withDf
      .crossJoin(broadcast(stats))
      .select(col("word"), col("doc_id"),
        bm25Contrib(col("n_docs"), col("avgdl"), k1, b).as("contrib"))
      .join(broadcast(qterms), Seq("word"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("score"))
  }

  /** One posting's BM25 contribution `idf(t) · tfPart(t, d)` over the
    * `tf`/`dl`/`df` columns in scope — the ONE expression tree behind
    * [[bm25Scores]] and [[bm25ScoresFromSidecar]] (only the N/avgdl
    * operands differ: broadcast columns inline, driver literals for the
    * sidecar), so both arms score bit-identically. */
  private def bm25Contrib(nDocs: Column, avgdl: Column, k1: Double, b: Double): Column = {
    val idf: Column =
      log(lit(1.0) + (nDocs - col("df") + 0.5) / (col("df") + 0.5))
    val tfPart: Column =
      col("tf") * (k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    idf * tfPart
  }

  /** Top-k ranking over `(query_id, doc_id, score)`: rank 1..k by score
    * desc with doc_id tiebreak. row_number ≤ k plans as
    * WindowGroupLimit — each partition surrenders only its local top-k. */
  private def rankTopK(scores: DataFrame, k: Int): DataFrame =
    scores
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)

  // ------------------------------------------------------------------
  // STATS-SIDECAR layout — the one persisted BM25 index: built once,
  // probed many times, grown and forgotten without rewriting postings.
  //
  // Denormalizing df/N/avgdl/sum_dl onto every posting row buys
  // probe-time scoring with zero joins, but makes EVERY grow an
  // O(index) rewrite: one drop touches every row's statistics. A
  // daily 1 TB drop into a 100 TB index pays 100 TB of IO. This layout
  // inverts the trade: posting rows are IMMUTABLE `(word, doc_id, tf,
  // dl)` (plus the NULL-word registry sentinels for token-free docs),
  // the per-word document frequencies live in a vocabulary-sized `df`
  // sidecar table, and N/sum_dl live in ONE metadata row — so a grow
  // appends drop-sized posting files, rewrites the (sidecar-sized,
  // never index-sized) df table with drop-vocab-sized COMPUTE, and
  // flips the metadata row. Probes pay one extra broadcast join
  // against the query-vocab-pruned df sidecar — metadata-sized.
  //
  // On-disk shape under `path/`:
  //   postings-g1/ … postings-g<G>/   immutable posting generations,
  //                                   hive-partitioned by word-hash bucket
  //   registry-g1/ … registry-g<G>/   (doc_id, dl) doc registries, one per
  //                                   generation — doc-count-sized, so
  //                                   lifecycle ops never scan posting rows
  //   df-v<V>/                        (word, df), same bucket partitioning
  //   removed-v<R>/                   (doc_id) tombstones (R = 0: none)
  //   _bm25_sidecar                   "n_docs,sum_dl,G,V,R,buckets"
  //
  // Generations and the df table are partitioned by
  // `pmod(md5_long60(word), buckets)` (the engine's portable hash; the
  // modulus rides the metadata row — readers must use the writer's
  // modulus, a guess would prune wrong buckets and silently lose
  // words): probes compute the query words' buckets DRIVER-side and
  // partition-prune every generation and the df sidecar, so probe IO
  // is query-bounded on top of the sublinear grows.
  // NULL-word registry sentinels land in the hive default partition
  // (probes never prune into it; forget's full registry pass reads it).
  //
  // The `_bm25_sidecar` metadata file is the PUBLICATION POINT: every
  // mutation first commits its new generation/version directories,
  // then flips the metadata through `IndexStore.publish` (an
  // overwrite-rename: one FS operation where the filesystem supports
  // it — POSIX and HDFS do; filesystems without FileContext fall back
  // to delete+rename and accept a momentary not-found window). A
  // crash mid-grow leaves orphan dirs and an unchanged pointer — readers never observe new postings
  // with stale statistics. Superseded df/tombstone versions are
  // garbage-collected ONE MUTATION LATE (a one-version grace window):
  // a probe that loaded the metadata just before a flip finishes
  // against its version instead of failing mid-plan on a deleted
  // directory. The window is one mutation deep — snapshot reads are
  // safe against a single concurrent grow/forget, not an unbounded
  // backlog of them.
  //
  // Forget is sidecar-delta too: tombstone the removed ids (probes
  // anti-join the removal-sized tombstone table), decrement df/N/
  // sum_dl exactly — posting bytes are never rewritten. Tombstones
  // accumulate across forgets; [[bm25SidecarCompact]] is the
  // amortized maintenance that rewrites postings minus tombstones.
  //
  // Lifecycle-op IO economics (r18): the per-generation registries
  // make the grow's collision guard and the forget's N/sum_dl deltas
  // registry joins (doc-count-sized); the df rewrite on BOTH arms
  // recomputes only the buckets containing changed vocabulary and
  // byte-copies untouched bucket files forward — only the forget's df
  // decrement legitimately reads posting rows (column-pruned: a
  // removed doc's words are not knowable from any sidecar).
  // ------------------------------------------------------------------

  private val SidecarMetaFile = "_bm25_sidecar"

  /** `gens` is the EXPLICIT list of live generation ids (dirs
    * `postings-g<id>`/`registry-g<id>`): an append adds `max + 1`, a
    * merge ([[bm25SidecarMergeGenerations]]) replaces several ids with
    * one fresh id — ids are never reused, so a racing reader's
    * generation set stays readable until the one-mutation-late GC. */
  private final case class SidecarMeta(
    nDocs: Long, sumDl: Long, gens: Seq[Int], dfV: Int, rmV: Int, buckets: Int) {
    def nextGen: Int = gens.max + 1
    /** sum_dl / n_docs from the exact long total (0.0 for an empty corpus). */
    def avgdl: Double = if (nDocs == 0L) 0.0 else sumDl.toDouble / nDocs
  }

  private def readSidecarMeta(spark: SparkSession, path: String): SidecarMeta = {
    val text = IndexStore.read(spark, path, SidecarMetaFile).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no $SidecarMetaFile metadata - was it written by bm25SidecarWrite?"))
    val parts = text.split(",")
    require(parts.length == 6,
      s"$path/$SidecarMetaFile is malformed ('$text') - expected " +
        "n_docs,sum_dl,gens,dfv,rmv,buckets")
    // generation field: "g3.5.6" = explicit live-id list (merge-era
    // writer); a bare count N = legacy dense 1..N (pre-merge layouts
    // stay readable)
    val gens =
      if (parts(2).startsWith("g")) parts(2).drop(1).split('.').map(_.toInt).toSeq
      else (1 to parts(2).toInt)
    require(gens.nonEmpty && gens.distinct == gens,
      s"$path/$SidecarMetaFile generation list is malformed ('${parts(2)}')")
    SidecarMeta(parts(0).toLong, parts(1).toLong,
      gens, parts(3).toInt, parts(4).toInt, parts(5).toInt)
  }

  /** Commit point of every sidecar-layout mutation ([[IndexStore.publish]]). */
  private def writeSidecarMeta(
    spark: SparkSession, path: String, m: SidecarMeta): Unit =
    IndexStore.publish(spark, path, SidecarMetaFile,
      s"${m.nDocs},${m.sumDl},g${m.gens.mkString(".")},${m.dfV},${m.rmV},${m.buckets}")

  private def postingPaths(path: String, m: SidecarMeta): Seq[String] =
    m.gens.map(g => s"$path/postings-g$g")

  /** Pinned layout schemas: an EMPTY partitioned write leaves no data
    * files, and schema inference over such a directory throws where an
    * empty layout is correct (the stream-sink pinned-read doctrine). */
  private val SidecarPostingsSchema =
    "word STRING, doc_id BIGINT, tf BIGINT, dl INT, bucket INT"
  private val SidecarDfSchema = "word STRING, df BIGINT, bucket INT"

  /** Word-hash bucket under the layout's own modulus — the engine's
    * portable hash, recomputable driver-side for probe-time partition
    * pruning. NULL (sentinel) words land in the hive default partition;
    * probes never prune INTO it, full scans (forget's registry pass)
    * read it like any other. */
  private def sidecarBucket(buckets: Int): Column =
    pmod(graft.functions.Hashing.md5Long60(col("word")), lit(buckets.toLong))
      .cast("int")

  /** Cluster rows on the hive partition column before a
    * `partitionBy("bucket")` write (guide §6 output file sizing): a
    * partitioned write opens one file per bucket value PER TASK, so a
    * write whose input arrives in T tasks emits up to T × buckets
    * files — a merge/compact (T = read tasks of every merged
    * generation) multiplies near-empty files per lifecycle mutation,
    * and probe-time IO pays the file count forever. The AQE REBALANCE
    * exchange clusters by bucket, coalescing tiny buckets into shared
    * tasks and splitting oversized ones at the advisory partition
    * size, so output files track data volume at every scale (one
    * file per populated bucket at gate scale; advisory-sized files
    * per bucket at corpus scale). Costs one exchange of the written
    * rows — the standard write-distribution trade for a build-once
    * read-many artifact. */
  private def bucketClustered(df: DataFrame): DataFrame =
    df.hint("rebalance", "bucket")

  /** Full (unpruned) posting read across generations — the forget df
    * decrement and the compact rewrite, the only two lifecycle reads
    * that legitimately need posting rows; probes use
    * [[prunedSidecarPostings]], everything else the registry. */
  private def readSidecarPostings(
    spark: SparkSession, path: String, m: SidecarMeta): DataFrame =
    // one read PER generation, unioned: a multi-path read over several
    // hive-partitioned roots fails partition discovery (conflicting
    // directory structures)
    postingPaths(path, m)
      .map(g => spark.read.schema(SidecarPostingsSchema).parquet(g))
      .reduce(_ unionByName _).drop("bucket")

  private val SidecarRegistrySchema = "doc_id BIGINT, dl INT"

  private def registryPaths(path: String, m: SidecarMeta): Seq[String] =
    m.gens.map(g => s"$path/registry-g$g")

  /** Union of the per-generation (doc_id, dl) doc registries — the
    * doc-count-sized sidecar the grow guard and the forget stats read
    * INSTEAD of scanning posting rows (O(index) IO per lifecycle op,
    * the cost class this layout exists to avoid). Every indexed doc
    * owns exactly one registry row in exactly one generation (the
    * append collision guard enforces id uniqueness across
    * generations); tombstoned ids KEEP their registry row until
    * compaction — which is what lets the guard reject a re-append that
    * would resurrect their postings. Fails loud on a layout written
    * before the registry existed. */
  private def readSidecarRegistry(
    spark: SparkSession, path: String, m: SidecarMeta): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    registryPaths(path, m).foreach { r =>
      require(fs.exists(new org.apache.hadoop.fs.Path(r)),
        s"$path: missing ${r.substring(r.lastIndexOf('/') + 1)} - this layout " +
          "predates the doc-registry sidecar; rebuild with bm25SidecarWrite " +
          "or bm25SidecarCompact under the current writer")
    }
    registryPaths(path, m)
      .map(r => spark.read.schema(SidecarRegistrySchema).parquet(r))
      .reduce(_ unionByName _)
  }

  /** The word-hash buckets present in `words` — at most the layout
    * modulus, so a metadata-sized driver collect. */
  private def touchedBuckets(words: DataFrame, buckets: Int): Seq[Int] =
    words.select(sidecarBucket(buckets).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Publish df-v(cur+1): `newRows` — the complete new (word, df) rows
    * for the `touched` buckets — written bucket-partitioned, every
    * UNTOUCHED bucket directory byte-copied forward from df-v(cur). A
    * grow/forget thus pays changed-vocab COMPUTE and untouched-bucket
    * copy IO, never a vocabulary-wide rewrite; the copied files are
    * byte-identical (the grow gate asserts it). */
  private def writeDfVersion(
    spark: SparkSession, path: String, m: SidecarMeta,
    touched: Seq[Int], newRows: DataFrame): Unit = {
    val next = s"$path/df-v${m.dfV + 1}"
    bucketClustered(newRows.withColumn("bucket", sidecarBucket(m.buckets)))
      .write.partitionBy("bucket").mode("overwrite").parquet(next)
    val hconf = spark.sparkContext.hadoopConfiguration
    val nextP = new org.apache.hadoop.fs.Path(next)
    val fs = nextP.getFileSystem(hconf)
    val touchedDirs = touched.map(b => s"bucket=$b").toSet
    val prior = new org.apache.hadoop.fs.Path(s"$path/df-v${m.dfV}")
    fs.listStatus(prior).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("bucket=") && !touchedDirs(name))
        require(org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, fs, new org.apache.hadoop.fs.Path(nextP, name),
          false, hconf),
          s"bm25 sidecar: could not carry $name forward into df-v${m.dfV + 1}")
    }
  }

  /** One-mutation-late GC (see the section doc): delete the df (and
    * tombstone) version superseded by the PREVIOUS mutation, keeping
    * the one this mutation just superseded alive for racing readers. */
  private def gcSuperseded(
    spark: SparkSession, path: String, dfVGone: Int, rmVGone: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dfVGone >= 1)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/df-v$dfVGone"), true)
    if (rmVGone >= 1)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/removed-v$rmVGone"), true)
  }

  /** The distinct normalized query words, collected driver-side under
    * the metadata-sized-queries contract: limit(cap + 1) keeps even a
    * misuse collect bounded — the overflow row exists only to prove the
    * violation and name it. */
  private def collectQueryWords(
    queries: DataFrame, queryTextCol: String,
    maxQueryTerms: Int, what: String): Array[String] = {
    // the upper bound keeps the cap+1 overflow-free — the error below
    // says "raise maxQueryTerms explicitly", so Int.MaxValue must not
    // turn that escape hatch into a negative limit() crash
    require(maxQueryTerms >= 1 && maxQueryTerms < Int.MaxValue,
      s"maxQueryTerms must be in [1, ${Int.MaxValue - 1}]: $maxQueryTerms")
    val words = queries.select(
        explode(graft.functions.Hashing.normalizedWords(col(queryTextCol)))
          .as("word"))
      .distinct().limit(maxQueryTerms + 1).collect().map(_.getString(0))
    require(words.length <= maxQueryTerms,
      s"$what: queries carry more than $maxQueryTerms distinct terms - " +
        "the query frame must be metadata-sized (terms are collected " +
        "driver-side for partition pruning); raise maxQueryTerms explicitly")
    words
  }

  /** Driver-side buckets of the query words under the layout modulus. */
  private def wantedBuckets(words: Array[String], buckets: Int): IndexedSeq[Int] =
    words.map { w =>
      val h = graft.functions.Md5Long60Expr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(w))
      (((h % buckets) + buckets) % buckets).toInt
    }.distinct.toIndexedSeq

  /** Partition predicate selecting exactly `buckets` (none when empty). */
  private def inBuckets(buckets: Seq[Int]): Column =
    if (buckets.isEmpty) lit(false) else col("bucket").isin(buckets: _*)

  /** PARTITION-PRUNED posting read: only the query words' bucket
    * directories open, across every generation. */
  private def prunedSidecarPostings(
    spark: SparkSession, path: String, m: SidecarMeta,
    wanted: IndexedSeq[Int]): DataFrame =
    postingPaths(path, m)
      .map(g => spark.read.schema(SidecarPostingsSchema).parquet(g)
        .filter(inBuckets(wanted)))
      .reduce(_ unionByName _).drop("bucket")

  /** The drop's (word, doc_id, tf, dl) posting rows INCLUDING the
    * NULL-word registry sentinels for token-free docs — the shared
    * projection of the sidecar build and grow arms. */
  private def sidecarPostingsOf(docs: DataFrame): DataFrame = {
    // per-doc TF is ROW-LOCAL (every occurrence of a word lives in one
    // row's array), so the posting build is a pure projection — the
    // earlier explode + groupBy(word, doc_id, dl) spelling paid a full
    // posting-sized Exchange to meet occurrences that were never apart
    // (guide §2.4). The inline bm25Scores builder deliberately KEEPS
    // the groupBy: there the postings Exchange is the materialization
    // point the df branch reuses — see WordTfExpr's scaladoc.
    val postings = docs
      .select(col("doc_id"), col("dl"),
        explode(graft.functions.WordTfExpr(col("w"))).as("wt"))
      .select(col("wt.word").as("word"), col("doc_id"),
        col("wt.tf").as("tf"), col("dl"))
    val tokenless = docs.filter(col("dl") === 0)
      .select(lit(null).cast("string").as("word"), col("doc_id"),
        lit(0L).as("tf"), col("dl"))
    postings.unionByName(tokenless)
  }

  private def sidecarDocs(corpus: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.wordTable(corpus, textCol, idCol)
      .select(col("doc_id"), col("w"),
        coalesce(size(col("w")), lit(0)).as("dl"))

  /**
   * Build the stats-sidecar layout fresh from a corpus (see the
   * section doc above). One corpus tokenization for the postings, one
   * column-pruned re-aggregation of the WRITTEN postings for the df
   * sidecar and the global stats (reading the compact artifact back
   * beats a second corpus tokenization, and guarantees the sidecars
   * describe exactly what landed on disk).
   */
  def bm25SidecarWrite(
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    path: String,
    buckets: Int = 32
  ): Unit = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val spark = corpus.sparkSession
    // generations AND the df sidecar are hive-partitioned by the word's
    // hash bucket (the modulus rides the metadata row): probes prune to
    // the query words' buckets across every generation, so probe IO is
    // query-bounded — on top of the sublinear grows
    bucketClustered(
      sidecarPostingsOf(sidecarDocs(corpus, textCol, idCol))
        .withColumn("bucket", sidecarBucket(buckets)))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/postings-g1")
    val written = spark.read.schema(SidecarPostingsSchema)
      .parquet(s"$path/postings-g1")
    // df sidecar and doc registry are INDEPENDENT derivations of the
    // written postings with disjoint targets — overlapped (guide §2.6)
    // so the second write's tasks back-fill the first's tail
    graft.GraftSession.runConcurrently(Seq(
      () => bucketClustered(
          written.filter(col("word").isNotNull)
            .groupBy("word").agg(count(lit(1)).as("df"))
            .withColumn("bucket", sidecarBucket(buckets)))
        .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/df-v1"),
      // the (doc_id, dl) doc registry: every doc owns ≥ 1 posting row
      // (sentinels included) carrying one (doc_id, dl) per word — the
      // distinct collapses to the registry, persisted per generation so
      // later grows/forgets never scan posting rows
      () => written.select("doc_id", "dl").distinct()
        .write.mode("overwrite").parquet(s"$path/registry-g1")))
    val st = spark.read.schema(SidecarRegistrySchema)
      .parquet(s"$path/registry-g1")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")).cast("long"), lit(0L)).as("s"))
      .head()
    writeSidecarMeta(spark, path,
      SidecarMeta(st.getLong(0), st.getLong(1), gens = Seq(1), dfV = 1, rmV = 0,
        buckets = buckets))
  }

  /** Current tombstone table, None when no forget has run. */
  private def sidecarRemoved(
    spark: SparkSession, path: String, m: SidecarMeta): Option[DataFrame] =
    if (m.rmV == 0) None
    else Some(spark.read.schema("doc_id BIGINT")
      .parquet(s"$path/removed-v${m.rmV}"))

  /** `rows` (keyed by `doc_id`) minus the tombstoned ids — a
    * removal-set-sized anti join, the identity before any forget. */
  private def minusTombstones(
    spark: SparkSession, path: String, m: SidecarMeta, rows: DataFrame): DataFrame =
    sidecarRemoved(spark, path, m).fold(rows) { rm =>
      val r = rm.select(col("doc_id").as("__rm_id"))
      rows.join(broadcast(r), col("doc_id") === col("__rm_id"), "left_anti")
    }

  /** Every live posting row (sentinels included) across generations —
    * the full read behind [[bm25SidecarRows]] and the compact rewrite. */
  private def liveSidecarPostings(
    spark: SparkSession, path: String, m: SidecarMeta): DataFrame =
    minusTombstones(spark, path, m, readSidecarPostings(spark, path, m))

  /**
   * BM25 scores probed from a [[bm25SidecarWrite]] layout —
   * value-identical to [[bm25Scores]] over the live corpus (same
   * exact-long operands through the same arithmetic; the gate pins it
   * under the q_bm25 oracle). Cost shape: the query words' buckets are
   * computed DRIVER-side (queries are metadata-sized by contract —
   * `maxQueryTerms` caps the collect, and an oversized query frame
   * fails loud) and PARTITION-PRUNE both the posting generations and
   * the df sidecar, so probe IO opens only matched bucket directories
   * (a query frame with no terms opens none); within them the
   * broadcast term set prunes rows, tombstones anti-join at
   * removal-set size, and N/avgdl are driver metadata — the df join is
   * the one probe-time join a stats-denormalized index would avoid,
   * bought back as sublinear grows.
   */
  def bm25ScoresFromSidecar(
    spark: SparkSession,
    path: String,
    queries: DataFrame,
    queryIdCol: String,
    queryTextCol: String,
    k1: Double = 1.2,
    b: Double = 0.75,
    maxQueryTerms: Int = 100000
  ): DataFrame = {
    require(k1 >= 0.0, s"k1 must be non-negative: $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1]: $b")
    val m = readSidecarMeta(spark, path)
    val words = collectQueryWords(queries, queryTextCol, maxQueryTerms,
      "bm25ScoresFromSidecar")
    val wanted = wantedBuckets(words, m.buckets)
    val qterms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(graft.functions.Hashing.normalizedWords(col(queryTextCol))).as("word"))
      .distinct()
    val terms = qterms.select("word").distinct()
    val posts = minusTombstones(spark, path, m,
      prunedSidecarPostings(spark, path, m, wanted)
        .join(broadcast(terms), Seq("word"), "left_semi"))
    val dfT = spark.read.schema(SidecarDfSchema)
      .parquet(s"$path/df-v${m.dfV}")
      .filter(inBuckets(wanted))
      .drop("bucket")
      .join(broadcast(terms), Seq("word"), "left_semi")
    posts.join(broadcast(dfT), Seq("word"))
      .select(col("word"), col("doc_id"),
        bm25Contrib(lit(m.nDocs), lit(m.avgdl), k1, b).as("contrib"))
      .join(broadcast(qterms), Seq("word"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("score"))
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
   * the standard hybrid-retrieval combiner: given N per-query ranked
   * lists (each `(query_id, doc_id, rank)`, rank 1-based — e.g.
   * [[bm25TopK]]'s lexical ranking and a
   * [[graft.operators.Similarity.bruteForceTopK]]/IVF dense ranking),
   * every document scores `Σ_lists 1 / (k0 + rank)` and the fused
   * top-`topK` per query comes back as
   * `(query_id, doc_id, rrf_score, rank)`. Rank-based fusion needs no
   * score calibration between lists — the reason RRF is the default
   * hybrid combiner — and `k0` (classically 60) damps the head so one
   * list's #1 cannot dominate every fused decision.
   *
   * Scale shape: input lists are already top-k-bounded per query, so
   * everything here is (queries × k × lists)-sized — one union, one
   * hash aggregation, one WindowGroupLimit ranking; no corpus access.
   * The arithmetic is exact-rational-in-doubles (`1/(k0+rank)` over
   * integer operands, at most `lists` additions per doc), so an oracle
   * re-derives fused scores bit-for-bit.
   *
   * Input contract: each list must be a PROPER ranking — one row per
   * (query_id, doc_id). A list carrying duplicate doc rows would
   * contribute once per row (the aggregation cannot distinguish a
   * malformed list from a legitimate multi-list union); every top-k
   * producer in this engine satisfies the contract by construction.
   *
   * `weights` (opt-in) is the per-list weight — the production knob
   * for trusting one retriever more (`wᵢ / (k0 + rank)`, the weighted
   * RRF of the learned-fusion literature). None (default) is the
   * classic unweighted SIGIR'09 form; each contribution stays ONE
   * double division, so an oracle still re-derives fused scores
   * bit-for-bit.
   */
  def rrfFuse(
    lists: Seq[DataFrame],
    k0: Int = 60,
    topK: Int = 10,
    weights: Option[Seq[Double]] = None
  ): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 1, s"k0 must be >= 1: $k0")
    require(topK >= 1, s"topK must be >= 1: $topK")
    weights.foreach { w =>
      require(w.length == lists.length,
        s"rrfFuse: ${w.length} weights for ${lists.length} lists")
      require(w.forall(x => x > 0.0 && !x.isInfinite),
        s"rrfFuse: weights must be positive finite: ${w.mkString(", ")}")
    }
    val prepped = lists.zipWithIndex.map { case (l, i) =>
      val missing = Seq("query_id", "doc_id", "rank").filterNot(l.columns.contains)
      require(missing.isEmpty,
        s"rrfFuse: list $i lacks column(s) ${missing.mkString(", ")} - " +
          "each input must be a per-query ranked list (query_id, doc_id, rank)")
      val wi = weights.map(_(i)).getOrElse(1.0)
      l.select(col("query_id"), col("doc_id"),
        (lit(wi) / (lit(k0) + col("rank")).cast("double")).as("__c"))
    }
    prepped.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).as("rrf_score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
  }

  /** Top-k per query over the sidecar layout: [[bm25ScoresFromSidecar]]
    * + the [[bm25TopK]] ranking — layout parity with the inline arm.
    * row_number ≤ k plans as WindowGroupLimit: each partition
    * surrenders only its local top-k. */
  def bm25TopKFromSidecar(
    spark: SparkSession,
    path: String,
    queries: DataFrame,
    queryIdCol: String,
    queryTextCol: String,
    k: Int = 10,
    k1: Double = 1.2,
    b: Double = 0.75,
    maxQueryTerms: Int = 100000
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    rankTopK(
      bm25ScoresFromSidecar(spark, path, queries, queryIdCol, queryTextCol,
        k1, b, maxQueryTerms), k)
  }

  /** The grow's guarded posting frame: the drop's posting rows plus a
    * raise-or-empty collision-guard leg that semi-joins the drop ids
    * against the REGISTRY sidecars (doc-count-sized) — never a posting
    * generation. Package-visible so the grow gate can pin, on the
    * plan, that the guard reads `registry-g*` paths only. */
  private[graft] def sidecarAppendPostings(
    spark: SparkSession,
    path: String,
    drop: DataFrame,
    textCol: String,
    idCol: String
  ): DataFrame = {
    val m = readSidecarMeta(spark, path)
    val docs = sidecarDocs(drop, textCol, idCol)
    val newPost = sidecarPostingsOf(docs)
    // collision guard: the registry holds every indexed doc_id —
    // INCLUDING tombstoned ids, whose registry rows survive until
    // compaction precisely so this guard can reject a re-append that
    // would resurrect their postings; evaluated lazily inside the
    // write via a raise-or-empty leg, one doc-count-sized scan. Every
    // row reaching the leg IS a collision, so the raise sits in the
    // leg's FILTER predicate, not an output column: a filter decides
    // cardinality, so every consumer evaluates it — a raise woven into
    // a projected column is elided by column pruning for a consumer
    // that never reads it (a bare count()).
    val dropIds = docs.select(col("doc_id").as("__aid")).distinct()
    readSidecarRegistry(spark, path, m).select("doc_id")
      .join(broadcast(dropIds), col("doc_id") === col("__aid"), "left_semi")
      .limit(1)
      .filter(raise_error(concat(
          lit("bm25SidecarAppend: drop id already registered: "),
          col("doc_id").cast("string"),
          lit(" - appending an indexed (or tombstoned) document would " +
            "double-count df/N/avgdl or resurrect forgotten postings; " +
            "forget+compact first or dedup the drop")))
        .cast("boolean"))
      .select(lit(null).cast("string").as("word"),
        col("doc_id"), lit(0L).as("tf"), lit(0).as("dl"))
      .unionByName(newPost)
  }

  /**
   * Grow the sidecar layout by a corpus drop — a SUBLINEAR grow (a
   * stats-denormalized index would rewrite every row): writes ONE new
   * posting generation and its (doc-count-sized) registry sidecar — prior
   * generations are never opened for reading OR writing — recomputes
   * only the df buckets containing drop vocabulary (untouched bucket
   * files byte-copied forward, asserted identical in-gate), and flips
   * the metadata row. The collision guard and the N/sum_dl deltas are
   * registry joins; no posting row of any prior generation is read.
   *
   * Ids must be NEW: a drop id already registered would double-count
   * every statistic, and a TOMBSTONED one would bring its stale posting
   * rows back to life — either fails loud inside the posting write
   * action, which aborts before committing any file. The result is
   * row-equal ([[bm25SidecarRows]]) to a fresh build over corpus ∪ drop.
   */
  def bm25SidecarAppend(
    spark: SparkSession,
    path: String,
    drop: DataFrame,
    textCol: String,
    idCol: String
  ): Unit = {
    val m = readSidecarMeta(spark, path)
    bucketClustered(
      sidecarAppendPostings(spark, path, drop, textCol, idCol)
        .withColumn("bucket", sidecarBucket(m.buckets)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/postings-g${m.nextGen}")
    // read the committed generation back ONCE (what was actually
    // written, including the guard leg's outcome) and pin it: the
    // registry derivation, the df aggregation, and the stats fold all
    // consume it — the r18 spelling re-scanned the files three times,
    // a real fixed cost on the lifecycle path. Drop-sized by
    // construction.
    val committed = spark.read.schema(SidecarPostingsSchema)
      .parquet(s"$path/postings-g${m.nextGen}")
      .persist()
    try {
      // registry sidecar for the committed generation (drop-sized);
      // pinned too — the stats fold below re-consumes it
      val reg = committed.select("doc_id", "dl").distinct().persist()
      try {
        // registry write and df-version rewrite are independent
        // derivations of the committed generation with disjoint targets
        // — overlapped (guide §2.6)
        graft.GraftSession.runConcurrently(Seq(
          () => reg.write.mode("overwrite")
            .parquet(s"$path/registry-g${m.nextGen}"),
          () => {
            // df merge: broadcast LEFT join + anti leg (full-outer would
            // not broadcast — the Forget.appendFingerprints doctrine);
            // the old df read is PRUNED to the drop vocabulary's buckets
            // — untouched buckets are byte-copied forward by
            // writeDfVersion, never read
            val aDf = committed
              .filter(col("word").isNotNull)
              .groupBy("word").agg(count(lit(1)).as("__a_df"))
              .persist()
            try {
              val touched = touchedBuckets(aDf.select("word"), m.buckets)
              val oldDf = spark.read.schema(SidecarDfSchema)
                .parquet(s"$path/df-v${m.dfV}")
                .filter(inBuckets(touched))
                .drop("bucket")
              val merged = oldDf.join(broadcast(aDf), Seq("word"), "left")
                .select(col("word"),
                  (col("df") + coalesce(col("__a_df"), lit(0L))).as("df"))
              val matched = oldDf.select("word")
                .join(broadcast(aDf.select("word")), Seq("word"), "left_semi")
              val newOnly = aDf
                .join(broadcast(matched), Seq("word"), "left_anti")
                .select(col("word"), col("__a_df").as("df"))
              writeDfVersion(spark, path, m, touched, merged.unionByName(newOnly))
            } finally aDf.unpersist()
          }))
        // global stats deltas from the committed generation's registry
        // (the frame just written — identical rows, no file re-read)
        val st = reg
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("dl")).cast("long"), lit(0L)).as("s"))
          .head()
        writeSidecarMeta(spark, path,
          m.copy(nDocs = m.nDocs + st.getLong(0), sumDl = m.sumDl + st.getLong(1),
            gens = m.gens :+ m.nextGen, dfV = m.dfV + 1))
      } finally reg.unpersist()
    } finally committed.unpersist()
    // one-mutation-late GC: keep the version this flip superseded
    // alive for racing readers, drop the one before it
    gcSuperseded(spark, path, dfVGone = m.dfV - 1, rmVGone = 0)
  }

  /**
   * Forget documents from the sidecar layout WITHOUT rewriting posting
   * bytes — the same sidecar deltas as the grow arm, run in reverse:
   * tombstone the removed ids (probes anti-join them; the ids-actually-
   * indexed set and the N/sum_dl deltas come from the doc-registry
   * sidecar, never a posting scan), decrement the
   * touched words' df (removal-vocab-sized compute over one pruned
   * posting pass), decrement N/sum_dl exactly — the live rows
   * ([[bm25SidecarRows]]) equal a fresh build over the reduced corpus.
   * Ids absent from the index are no-ops; ids ALREADY tombstoned
   * fail loud — double-forgetting would double-decrement the
   * statistics. Tombstones accumulate; [[bm25SidecarCompact]] purges.
   */
  def bm25SidecarForget(
    spark: SparkSession,
    path: String,
    removed: DataFrame,
    removedIdCol: String
  ): Unit = {
    val m = readSidecarMeta(spark, path)
    val rem = removed.select(col(removedIdCol).as("__rid")).distinct()
    val oldRm = sidecarRemoved(spark, path, m)
    // double-forget guard (lazy, rides the tombstone write below)
    val guarded = oldRm.fold(rem) { prior =>
      val dup = prior.select(col("doc_id").as("__rid"))
        .join(broadcast(rem), Seq("__rid"), "left_semi").limit(1)
      rem.unionByName(dup.select(
        when(col("__rid").isNotNull,
          raise_error(concat(
            lit("bm25SidecarForget: id already tombstoned: "),
            col("__rid").cast("string"),
            lit(" - double-forgetting would double-decrement df/N/sum_dl"))))
          .otherwise(lit(null)).cast("long").as("__rid")))
    }
    // the forgotten docs' (doc_id, dl): a REGISTRY semi join — the
    // r17 spelling re-derived these from a full posting scan, O(index)
    // IO per takedown. Registry rows are unique per id (the append
    // guard), so no distinct is needed. Removal-sized after the join;
    // persisted because the tombstone write and the stats fold both
    // consume it.
    val removedReg = readSidecarRegistry(spark, path, m)
      .join(broadcast(guarded), col("doc_id") === col("__rid"), "left_semi")
      .persist()
    try {
      // new tombstone version: prior tombstones ∪ the newly forgotten
      // ids ACTUALLY indexed (absent ids are no-ops and must not
      // tombstone — a later legitimate append of that id would fail
      // for no reason)
      val newRm = removedReg.select("doc_id")
      oldRm.fold(newRm)(_.unionByName(newRm))
        .write.mode("overwrite").parquet(s"$path/removed-v${m.rmV + 1}")
      // df decrement: the ONE lifecycle read that legitimately needs
      // posting rows (a removed doc's words are not knowable from any
      // sidecar) — column-pruned to (word, doc_id). Only the touched
      // words' buckets are recomputed; untouched bucket files are
      // byte-copied forward.
      val rDf = readSidecarPostings(spark, path, m)
        .join(broadcast(guarded), col("doc_id") === col("__rid"), "left_semi")
        .filter(col("word").isNotNull)
        .groupBy("word").agg(count(lit(1)).as("__r_df"))
        .persist()
      try {
        val touched = touchedBuckets(rDf.select("word"), m.buckets)
        val decremented = spark.read.schema(SidecarDfSchema)
          .parquet(s"$path/df-v${m.dfV}")
          .filter(inBuckets(touched))
          .drop("bucket")
          .join(broadcast(rDf), Seq("word"), "left")
          .select(col("word"),
            (col("df") - coalesce(col("__r_df"), lit(0L))).as("df"))
          .filter(col("df") > 0)
        writeDfVersion(spark, path, m, touched, decremented)
      } finally rDf.unpersist()
      val st = removedReg
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")).cast("long"), lit(0L)).as("s"))
        .head()
      writeSidecarMeta(spark, path,
        m.copy(nDocs = m.nDocs - st.getLong(0), sumDl = m.sumDl - st.getLong(1),
          dfV = m.dfV + 1, rmV = m.rmV + 1))
    } finally removedReg.unpersist()
    // one-mutation-late GC (see the section doc)
    gcSuperseded(spark, path, dfVGone = m.dfV - 1, rmVGone = m.rmV - 1)
  }

  /**
   * Bound the sidecar layout's GENERATION COUNT without a compaction:
   * every probe opens each live generation's matched bucket
   * directories, so daily drops grow per-probe file counts without
   * bound, and [[bm25SidecarCompact]] — the only prior remedy — pays a
   * full-corpus rewrite. This merges the SMALLEST generations (by
   * on-disk bytes) down to `maxGenerations` live ones: their posting
   * and registry rows are unioned into ONE fresh generation id, the
   * metadata's generation list flips to (kept ++ merged), and the
   * superseded generation directories become orphans — deleted one
   * mutation late (the next merge's GC), so a reader racing the flip
   * finishes against its generation set. Merging smallest-first makes
   * the rewrite bytes the MINIMUM possible for the target count — the
   * standard LSM small-run compaction economics, and exactly right for
   * the daily-drop shape (many small drop generations, one huge build
   * generation that is never touched).
   *
   * df/N/sum_dl are untouched BY CONSTRUCTION (a merge moves rows
   * between files, it changes no statistic); tombstoned rows ride
   * along still masked (only [[bm25SidecarCompact]] purges them), and
   * their registry rows keep re-append rejection working across the
   * merge. In-place by design — unlike compact there is no cross-corpus
   * rewrite to stage, and generation ids are never reused, so the flip
   * has the same crash-safety as a grow (a crash leaves orphan dirs
   * and an unchanged pointer).
   */
  def bm25SidecarMergeGenerations(
    spark: SparkSession,
    path: String,
    maxGenerations: Int = 8
  ): Unit = {
    require(maxGenerations >= 1, s"maxGenerations must be >= 1: $maxGenerations")
    val m = readSidecarMeta(spark, path)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    // one-mutation-late GC of ORPHAN generation dirs (ids on disk but
    // not in the live list — superseded by an earlier merge's flip)
    def gcOrphanGens(live: Set[Int]): Unit =
      Seq("postings-g", "registry-g").foreach { prefix =>
        fs.globStatus(new org.apache.hadoop.fs.Path(path, prefix + "*"))
          .foreach { st =>
            st.getPath.getName.stripPrefix(prefix).toIntOption.foreach { id =>
              if (!live.contains(id)) fs.delete(st.getPath, true)
            }
          }
      }
    if (m.gens.size <= maxGenerations) { gcOrphanGens(m.gens.toSet); return }
    val bySize = m.gens
      .map(g => g -> fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$path/postings-g$g")).getLength)
      .sortBy(_._2)
    val nMerge = m.gens.size - maxGenerations + 1
    val merged = bySize.take(nMerge).map(_._1)
    val kept = m.gens.filterNot(merged.contains)
    val newGen = m.nextGen
    // rewrite = union of the merged generations only (smallest-first
    // bytes); bucket partitioning carries over so probe pruning is
    // unchanged. Posting and registry rewrites read disjoint sources
    // and write disjoint targets — overlapped (guide §2.6)
    graft.GraftSession.runConcurrently(Seq(
      () => bucketClustered(
          merged
            .map(g => spark.read.schema(SidecarPostingsSchema)
              .parquet(s"$path/postings-g$g"))
            .reduce(_ unionByName _))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$path/postings-g$newGen"),
      () => merged
        .map(g => spark.read.schema(SidecarRegistrySchema)
          .parquet(s"$path/registry-g$g"))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$path/registry-g$newGen")))
    writeSidecarMeta(spark, path, m.copy(gens = kept :+ newGen))
    gcOrphanGens((kept :+ newGen).toSet ++ merged.toSet)
  }

  /**
   * Amortized maintenance for the sidecar layout: rewrite the live
   * postings (minus tombstones) as ONE fresh generation at `outPath`,
   * carrying the current df sidecar and stats over unchanged — the
   * full-rewrite cost the per-drop grows and per-takedown forgets
   * deferred, paid once when tombstone volume or generation count
   * warrants it. Write-fresh-and-flip-a-pointer: an `outPath` that
   * resolves to the source (trailing slash, relative spelling, symlink)
   * is refused — an in-place overwrite would delete the layout while
   * the rewrite still reads it.
   */
  def bm25SidecarCompact(
    spark: SparkSession,
    path: String,
    outPath: String
  ): Unit = {
    IndexStore.requireFreshOut(spark, path, outPath, "bm25SidecarCompact")
    val m = readSidecarMeta(spark, path)
    val live = liveSidecarPostings(spark, path, m)
    // the registry compacts the same way: live rows only — tombstoned
    // ids lose their registry row here, which is what re-opens their
    // ids for a legitimate later append
    val liveReg = minusTombstones(spark, path, m, readSidecarRegistry(spark, path, m))
    // postings, registry, and df carry-over read disjoint sources and
    // write disjoint targets — overlapped (guide §2.6)
    graft.GraftSession.runConcurrently(Seq(
      () => bucketClustered(live.withColumn("bucket", sidecarBucket(m.buckets)))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$outPath/postings-g1"),
      () => liveReg.write.mode("overwrite").parquet(s"$outPath/registry-g1"),
      () => bucketClustered(
          spark.read.schema(SidecarDfSchema)
            .parquet(s"$path/df-v${m.dfV}").drop("bucket")
            .withColumn("bucket", sidecarBucket(m.buckets)))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$outPath/df-v1")))
    writeSidecarMeta(spark, outPath,
      SidecarMeta(m.nDocs, m.sumDl, gens = Seq(1), dfV = 1, rmV = 0, m.buckets))
  }

  /**
   * The sidecar layout's live index as denormalized
   * `(word, doc_id, tf, dl, df, n_docs, avgdl, sum_dl)` rows — one per
   * live posting (tombstones anti-joined), NULL-word registry sentinels
   * included with `df` 0, each joined to the current df table, with
   * `n_docs`/`sum_dl` from the metadata row and
   * `avgdl = sum_dl / n_docs` (0.0 for an empty corpus). Every lifecycle
   * contract is a row equality here: a grow, a forget, a merge or a
   * compaction must read out exactly what a fresh [[bm25SidecarWrite]]
   * over the same live corpus reads out — checkable without storing the
   * statistics a second time. A full read (every posting generation):
   * a verification surface, not a probe path.
   */
  private[graft] def bm25SidecarRows(spark: SparkSession, path: String): DataFrame = {
    val m = readSidecarMeta(spark, path)
    val dfT = spark.read.schema(SidecarDfSchema)
      .parquet(s"$path/df-v${m.dfV}").drop("bucket")
    // only a sentinel lacks a df row; a real word missing one stays
    // NULL so a df/postings mismatch surfaces instead of reading as 0
    liveSidecarPostings(spark, path, m)
      .join(dfT, Seq("word"), "left")
      .select(col("word"), col("doc_id"), col("tf"), col("dl"),
        when(col("word").isNull, lit(0L)).otherwise(col("df")).as("df"),
        lit(m.nDocs).as("n_docs"), lit(m.avgdl).as("avgdl"),
        lit(m.sumDl).as("sum_dl"))
  }

  /**
   * Top-k documents per query: (query_id, doc_id, score, rank), rank
   * 1..k by score desc with doc_id tiebreak. row_number ≤ k plans as
   * WindowGroupLimit — each partition surrenders only its local top-k
   * (the [[Sampling.topKBy]] economics; RetrievalSpec asserts it).
   */
  def bm25TopK(
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    queries: DataFrame,
    queryIdCol: String,
    queryTextCol: String,
    k: Int = 10,
    k1: Double = 1.2,
    b: Double = 0.75
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    rankTopK(
      bm25Scores(corpus, textCol, idCol, queries, queryIdCol, queryTextCol, k1, b), k)
  }
}
