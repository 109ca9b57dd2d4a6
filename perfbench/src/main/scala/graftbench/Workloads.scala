package graftbench

import java.io.File

import scala.collection.mutable

import graft.operators.{Contamination, Dedup, Retrieval, TextAnalysis, Transformations}
import graft.plans.{CurationPipeline, DatasetSpecificPipeline, ExtractionPipeline, V2F, V2FTables}
import graft.sources.JsonLines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a run shares with its workload: the session, the tracer (traced
  * runs only) and the ledger of attempted and failed calls. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  /** wall seconds of every call, by name, in call order */
  val calls: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty

  def traced: Boolean = tracer.exists(_.enabled)

  /** One call into a graft layer: counted, timed and (when tracing) a span. */
  def call[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try tracer.fold(body)(_.span(layer, name)(body))
    catch { case e: Throwable => failed += 1; throw e }
    finally calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }

  /** A span of the benchmark's own (a pass, a probe) that is not a call. */
  def within[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  /** Materialize to the noop sink; wall seconds. */
  def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of `reps` noop materializations. */
  def noopMedian(df: DataFrame, reps: Int = 3): Double = Stats.median(Seq.fill(reps)(noop(df)))
}

final case class Check(name: String, ok: Boolean, detail: String)

abstract class Workload {
  def name: String
  /** Write the seeded inputs under `in`; untimed. */
  def prepare(spark: SparkSession, seed: Long, in: File, out: File): InputStats
  /** Input records one steady pass processes. */
  def recordsPerPass: Long
  /** Untimed work before pass `i` (e.g. writing the day's drop). */
  def beforePass(ctx: Ctx, i: Int): Unit = ()
  /** One timed pass; pass 0 runs in the fresh session. */
  def pass(ctx: Ctx, i: Int): Unit
  /** Bytes the workload's outputs occupy now. */
  def outputBytes: Long
  /** Output checks, run after the timed window. */
  def checks(ctx: Ctx): Seq[Check]
  /** Traced-run layer measurements outside the passes. */
  def probes(ctx: Ctx): Map[String, Double]
  /** Traced-run counters read off the pass spans. */
  def passCounters(ctx: Ctx, tr: Tracer): Map[String, Double] = Map.empty
  /** Extra facts for the run record. */
  def record: Seq[(String, Any)] = Nil
}

object Workloads {
  def byName(name: String): Option[Workload] = name match {
    case "v2f_extract" => Some(new V2fExtract)
    case "curate_corpus" => Some(new CurateCorpus(docs = 10000))
    case "index_lifecycle" => Some(new IndexLifecycle(baseDocs = 10000, dropDocs = 1000))
    case _ => None
  }
  val names: Seq[String] = Seq("v2f_extract", "curate_corpus", "index_lifecycle")
}

/** ExtractionPipeline then DatasetSpecificPipeline over a V2F drop. */
final class V2fExtract extends Workload {
  val name = "v2f_extract"
  private var in: File = _
  private var out: File = _
  private var truth: V2fGen.Truth = _

  def prepare(spark: SparkSession, seed: Long, in: File, out: File): InputStats = {
    this.in = in; this.out = out
    truth = V2fGen.generate(seed, in)
    truth.input
  }

  def recordsPerPass: Long = truth.rows.values.sum

  def pass(ctx: Ctx, i: Int): Unit = {
    ctx.call("plans", "ExtractionPipeline.run")(
      ExtractionPipeline.run(ctx.spark, in.getPath, out.getPath))
    ctx.call("plans", "DatasetSpecificPipeline.run")(
      DatasetSpecificPipeline.run(ctx.spark, in.getPath, out.getPath))
  }

  def outputBytes: Long = Gen.dataFiles(out).map(_.length).sum

  def checks(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val rows = truth.rows.toSeq.sortBy(_._1).map { case (rel, n) =>
      val got = spark.read.text(s"$out/$rel").count()
      Check(s"rows:$rel", got == n, s"$got rows, generated $n")
    }
    val variants = {
      val got = spark.read.text(s"$out/variants").count()
      Check("rows:variants", got == truth.variants, s"$got merged variants, generated ${truth.variants}")
    }
    val nulls = V2fGen.typedColumns.toSeq.sortBy(_._1).map { case (rel, cols) =>
      val df = spark.read.schema(cols.map { case (c, t) => s"`$c` $t" }.mkString(", "))
        .json(s"$out/$rel")
      val got = df.select(cols.map { case (c, _) => sum(when(col(s"`$c`").isNull, 1L).otherwise(0L)) }: _*)
        .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Long]).getOrElse(0L))
      val bad = cols.map(_._1).zip(got).filter { case (c, g) => g != truth.blanks.getOrElse((rel, c), 0L) }
      Check(s"nulls:$rel", bad.isEmpty,
        if (bad.isEmpty) s"${cols.size} typed columns match the planted blanks"
        else bad.take(3).map { case (c, g) => s"$c: $g NULLs, planted ${truth.blanks.getOrElse((rel, c), 0L)}" }
          .mkString("; "))
    }
    rows ++ (variants +: nulls)
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    import V2FTables._
    val spark = ctx.spark
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val tables = Seq(FrequencyAnalysis, MetaAnalysisAncestrySpecific, MetaAnalysisTransEthnic,
      VariantEffectRegulatoryFeatureConsequences, VariantEffectTranscriptConsequences)
    val scans = tables.map { cfg =>
      val t0 = System.nanoTime()
      val raw = ctx.within("sources", s"V2F.extractAndConvert:${cfg.filePath}")(
        V2F.extractAndConvert(spark, cfg, in.getPath))
      m("sources.resolve_s") += (System.nanoTime() - t0) / 1e9
      val df = if (cfg == MetaAnalysisAncestrySpecific) V2F.withAncestry(raw) else raw
      val scan = ctx.within("sources", s"scan:${cfg.filePath}")(ctx.noop(df))
      val transformed = ctx.within("operators", s"V2F.transform:${cfg.filePath}")(
        ctx.noop(V2F.transform(cfg)(df)))
      m("sources.tsv_scan_s") += scan
      m("operators.v2f_transform_s") += transformed - scan
      cfg -> (df, scan)
    }.toMap
    val t0 = System.nanoTime()
    val ds = ctx.within("sources", "JsonLines.read:dataset-specific")(
      JsonLines.read(spark, s"$in/${DatasetSpecificAnalysis.filePath}", recursive = true))
    m("sources.json_read_s") = (System.nanoTime() - t0) / 1e9
    m("sources.resolve_s") += m("sources.json_read_s")
    ctx.within("sources", "scan:dataset-specific")(ctx.noop(ds))

    val variantTables = Seq(FrequencyAnalysis, MetaAnalysisAncestrySpecific, MetaAnalysisTransEthnic)
    val merged = V2F.mergeVariants(variantTables.map { cfg =>
      val df = scans(cfg)._1
      V2F.extractVariants(cfg)(if (cfg == MetaAnalysisAncestrySpecific) df.drop("ancestry") else df)
    })
    val mergeWall = ctx.within("operators", "V2F.mergeVariants")(ctx.noop(merged))
    m("operators.merge_variants_s") = mergeWall - variantTables.map(scans(_)._2).sum
    m("operators.busy_s") = m("operators.v2f_transform_s") + m("operators.merge_variants_s")
    ctx.tracer.foreach { tr =>
      m("operators.merge_variants_shuffle_bytes") =
        tr.named("V2F.mergeVariants").map(tr.total(_, "shuffle_write_bytes")).sum
    }

    // functions: the double-array kernel over the cached string table
    val cfg = VariantEffectTranscriptConsequences
    val fields = cfg.fieldsToConvertToDoubleArray
    val cached = Transformations.renameFields(cfg.fieldsToRename)(scans(cfg)._1)
      .select(fields.values.flatten.toSeq.map(col): _*).cache()
    try {
      cached.count()
      val base = ctx.within("functions", "noop:double-array strings")(ctx.noopMedian(cached))
      val parsed = fields.foldLeft(cached) { case (df, (delim, fs)) =>
        Transformations.parseDoubleArrays(fs, delim, Set("."))(df)
      }
      m("functions.parse_double_arrays_s") =
        ctx.within("functions", "Transformations.parseDoubleArrays")(ctx.noopMedian(parsed)) - base
      m("functions.kernel_s") = m("functions.parse_double_arrays_s")
    } finally cached.unpersist()
    m.toMap
  }

  override def record: Seq[(String, Any)] = Seq(
    "generated_rows" -> truth.rows, "generated_variants" -> truth.variants)
}

/** CurationPipeline.runObserved plus one parquet write over a planted corpus. */
final class CurateCorpus(docs: Int) extends Workload {
  val name = "curate_corpus"
  private var in: File = _
  private var out: File = _
  private var truth: CorpusGen.Truth = _
  private val stageCounts = mutable.ArrayBuffer.empty[Map[String, Long]]

  def prepare(spark: SparkSession, seed: Long, in: File, out: File): InputStats = {
    this.in = in; this.out = out
    truth = CorpusGen.generate(seed, in, docs, new Gen.Vocab(seed, 6000))
    truth.input
  }

  def recordsPerPass: Long = truth.docs

  private def read(ctx: Ctx): (DataFrame, DataFrame) = {
    val corpus = ctx.call("sources", "JsonLines.read:corpus")(
      JsonLines.read(ctx.spark, s"$in/corpus"))
    val eval = ctx.call("sources", "JsonLines.read:eval")(
      JsonLines.read(ctx.spark, s"$in/eval"))
    (corpus, eval)
  }

  def pass(ctx: Ctx, i: Int): Unit = {
    val (corpus, eval) = read(ctx)
    val (_, counts) = ctx.call("plans", "CurationPipeline.runObserved") {
      CurationPipeline.runObserved(corpus, "text", "id",
        CurationPipeline.Config(evalSet = Some(eval))) { df =>
        df.write.mode("overwrite").parquet(out.getPath)
      }
    }
    stageCounts += counts
  }

  def outputBytes: Long = Gen.dataFiles(out).map(_.length).sum

  def checks(ctx: Ctx): Seq[Check] = {
    val c = stageCounts.last
    def get(stage: String): Long = c.getOrElse(stage, -1L)
    val n = truth.docs
    val afterExact = n - truth.twins
    val nearDropped = get("after_exact_dedup") - get("after_near_dedup")
    // LSH recall is probabilistic per pair; precision is exact (verified
    // Jaccard ≥ 0.8 never holds between unrelated generated documents)
    val nearOk = nearDropped <= truth.nearDups && nearDropped >= (truth.nearDups * 0.9).toLong
    val written = ctx.spark.read.parquet(out.getPath).count()
    Seq(
      Check("stage:scrubbed", get("scrubbed") == n, s"${get("scrubbed")} of $n docs"),
      Check("stage:after_exact_dedup", get("after_exact_dedup") == afterExact,
        s"${get("after_exact_dedup")}, planted arithmetic $n - ${truth.twins} twins = $afterExact"),
      Check("stage:after_near_dedup", nearOk,
        s"$nearDropped near-dups dropped of ${truth.nearDups} planted"),
      Check("stage:after_decontamination",
        get("after_near_dedup") - get("after_decontamination") == truth.contaminated,
        s"${get("after_near_dedup") - get("after_decontamination")} dropped of ${truth.contaminated} planted"),
      Check("stage:final", get("final") == get("after_decontamination") &&
        get("after_quality") == get("after_decontamination"),
        s"after_quality ${get("after_quality")}, final ${get("final")}"),
      Check("stages:repeat", stageCounts.forall(_ == c),
        s"${stageCounts.distinct.size} distinct stage-count maps over ${stageCounts.size} passes"),
      Check("output:rows", written == get("final"), s"$written rows written, final ${get("final")}"))
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val (corpus0, eval) = read(ctx)
    val corpus = corpus0.select("id", "text").cache()
    val pinned = mutable.Buffer[DataFrame](corpus)
    def pin(df: DataFrame): (DataFrame, Double) = {
      val c = df.cache(); pinned += c
      (c, ctx.noop(c))
    }
    try {
      corpus.count()
      val base = ctx.within("functions", "noop:corpus")(ctx.noopMedian(corpus))
      def kernel(key: String, span: String, df: DataFrame): Unit =
        m(key) = ctx.within("functions", span)(ctx.noopMedian(df)) - base
      kernel("functions.scrub_pii_s", "TextAnalysis.scrubPii",
        corpus.select(col("id"), TextAnalysis.scrubPii(col("text")).as("text")))
      kernel("functions.word_table_s", "Dedup.wordTable", Dedup.wordTable(corpus, "text", "id"))
      kernel("functions.minhash_s", "Dedup.minHashSignatures",
        Dedup.minHashSignatures(corpus, "text", "id"))
      m("functions.kernel_s") = m("functions.scrub_pii_s") + m("functions.word_table_s") +
        m("functions.minhash_s")

      // operator stages in pipeline order, each over its pinned upstream
      val (scrubbed, scrubT) = ctx.within("operators", "scrub") {
        val masked = corpus.select(col("id"), TextAnalysis.scrubPii(col("text")).as("text"))
        pin(Dedup.dropDuplicateLines(Dedup.dropRepeatedLinesWithinDoc(masked, "text"), "text", "id"))
      }
      m("operators.scrub_s") = scrubT - base
      val (exact, exactT) = ctx.within("operators", "Dedup.dropExactDuplicates")(
        pin(Dedup.dropExactDuplicates(scrubbed, "text", "doc_id")))
      m("operators.exact_dedup_s") = exactT - ctx.noop(scrubbed)
      val (near, nearT) = ctx.within("operators", "Dedup.dropNearDuplicates")(
        pin(Dedup.dropNearDuplicates(exact, "text", "doc_id")))
      m("operators.near_dedup_s") = nearT - ctx.noop(exact)
      m("operators.decontam_s") = ctx.within("operators", "Contamination.decontaminate")(
        ctx.noop(Contamination.decontaminate(near, eval, "text", "doc_id"))) - ctx.noop(near)
      m("operators.busy_s") = m("operators.scrub_s") + m("operators.exact_dedup_s") +
        m("operators.near_dedup_s") + m("operators.decontam_s")
      m("operators.lsh_candidates") = ctx.within("operators", "Dedup.lshCandidates")(
        Dedup.lshCandidates(Dedup.minHashSignatures(exact, "text", "doc_id")).count().toDouble)
      m("operators.near_pairs") = ctx.within("operators", "Dedup.nearDuplicates")(
        Dedup.nearDuplicates(exact, "text", "doc_id").count().toDouble)
      m("operators.lsh_verify_yield") =
        if (m("operators.lsh_candidates") > 0) m("operators.near_pairs") / m("operators.lsh_candidates")
        else 0.0
    } finally pinned.foreach(_.unpersist())
    m.toMap
  }

  override def record: Seq[(String, Any)] = Seq(
    "planted" -> Json.obj("docs" -> truth.docs, "twins" -> truth.twins,
      "near_dups" -> truth.nearDups, "contaminated" -> truth.contaminated,
      "eval_items" -> truth.evalItems),
    "stage_counts" -> stageCounts.lastOption.getOrElse(Map.empty))
}

/**
 * The BM25 stats-sidecar lifecycle. Pass 0 builds the index over the
 * base drop; every pass then runs one daily cycle (append a drop, probe
 * a query batch, forget a takedown set) and ends with generation merge
 * and compaction into a fresh directory.
 */
final class IndexLifecycle(baseDocs: Int, dropDocs: Int) extends Workload {
  val name = "index_lifecycle"
  private val Queries = 50
  private val Takedown = 200
  private var in: File = _
  private var out: File = _
  private var gen: IndexGen = _
  private var index: File = _
  private var cycle = 0
  private val live = mutable.ArrayBuffer.empty[Long]
  private val counters = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit =
    counters.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def prepare(spark: SparkSession, seed: Long, in: File, out: File): InputStats = {
    this.in = in; this.out = out
    gen = new IndexGen(seed, in, baseDocs, dropDocs, Queries, Takedown, new Gen.Vocab(seed, 6000))
    live ++= (0L until baseDocs.toLong)
    gen.writeBase()
  }

  def recordsPerPass: Long = dropDocs + Queries + Takedown

  private def indexDir(c: Int) = new File(out, s"index-$c")

  override def beforePass(ctx: Ctx, i: Int): Unit = {
    gen.writeDrop(cycle)
    // the compaction output that pass i - 1 superseded
    Gen.deleteTree(indexDir(cycle - 1))
  }

  private def queryFrame(spark: SparkSession, c: Int): DataFrame =
    spark.createDataFrame(gen.queryBatch(c)).toDF("query_id", "query")

  private def probe(ctx: Ctx, c: Int): Array[org.apache.spark.sql.Row] =
    Retrieval.bm25TopKFromSidecar(ctx.spark, index.getPath, queryFrame(ctx.spark, c),
      "query_id", "query").select("query_id", "rank", "doc_id").collect()

  def pass(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val c = cycle
    if (i == 0) {
      index = indexDir(c)
      val base = ctx.call("sources", "JsonLines.read:base")(JsonLines.read(spark, gen.basePath.getPath))
      ctx.call("operators", "Retrieval.bm25SidecarWrite")(
        Retrieval.bm25SidecarWrite(base, "text", "id", index.getPath))
    }
    val filesBefore = Gen.dataFiles(index).toSet
    val drop = ctx.call("sources", "JsonLines.read:drop")(JsonLines.read(spark, gen.dropPath(c).getPath))
    ctx.call("operators", "Retrieval.bm25SidecarAppend")(
      Retrieval.bm25SidecarAppend(spark, index.getPath, drop, "text", "id"))
    live ++= gen.dropIds(c).map(_.toLong)
    if (ctx.traced) {
      val after = Gen.dataFiles(index)
      val added = after.filterNot(filesBefore)
      note("operators.bm25.files_per_append", added.size)
      note("operators.bm25.bytes_per_append", added.map(_.length).sum.toDouble)
      note("index_bytes", after.map(_.length).sum.toDouble)
    }
    ctx.call("operators", "Retrieval.bm25TopKFromSidecar")(probe(ctx, c))
    val ids = gen.takedownSet(c, live)
    ctx.call("operators", "Retrieval.bm25SidecarForget")(
      Retrieval.bm25SidecarForget(spark, index.getPath,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"), "id"))
    if (ctx.traced) {
      note("operators.bm25.live_generations",
        index.listFiles().count(_.getName.startsWith("postings-g")))
      val removed = index.listFiles().filter(_.getName.startsWith("removed-v"))
        .maxByOption(_.getName.stripPrefix("removed-v").toInt)
      note("operators.bm25.tombstones",
        removed.map(d => spark.read.parquet(d.getPath).count().toDouble).getOrElse(0.0))
    }
    ctx.call("operators", "Retrieval.bm25SidecarMergeGenerations")(
      Retrieval.bm25SidecarMergeGenerations(spark, index.getPath, maxGenerations = 1))
    val next = indexDir(c + 1)
    ctx.call("operators", "Retrieval.bm25SidecarCompact")(
      Retrieval.bm25SidecarCompact(spark, index.getPath, next.getPath))
    index = next
    cycle += 1
  }

  def outputBytes: Long = Gen.dataFiles(index).map(_.length).sum

  def checks(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val c = cycle
    val got = probe(ctx, c).map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val liveIds = spark.createDataFrame(live.toSeq.map(Tuple1(_))).toDF("id")
    val corpus = JsonLines.read(spark, gen.basePath.getPath)
      .unionByName(JsonLines.read(spark, s"$in/drops", recursive = true))
      .join(liveIds, Seq("id"), "left_semi")
    val want = Retrieval.bm25TopK(corpus, "text", "id", queryFrame(spark, c), "query_id", "query")
      .select("query_id", "rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Seq(Check("probe:top10", got == want && got.nonEmpty,
      s"${got.size} ranked hits from the sidecar, ${want.size} from bm25TopK over " +
        s"${live.size} live docs, ${(got diff want).size} differ"))
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val base = JsonLines.read(spark, gen.basePath.getPath).select("id", "text").cache()
    try {
      base.count()
      val b = ctx.within("functions", "noop:base")(ctx.noopMedian(base))
      val wt = ctx.within("functions", "Dedup.wordTable")(
        ctx.noopMedian(Dedup.wordTable(base, "text", "id"))) - b
      Map("functions.word_table_s" -> wt, "functions.kernel_s" -> wt)
    } finally base.unpersist()
  }

  override def passCounters(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    def perCall(name: String, k: String): Double =
      Stats.median(tr.named(name).map(tr.total(_, k)))
    val probeBytes = perCall("Retrieval.bm25TopKFromSidecar", "input_bytes")
    val indexBytes = counters.get("index_bytes").map(b => Stats.median(b.toSeq)).getOrElse(0.0)
    val opNames = Seq("Retrieval.bm25SidecarAppend", "Retrieval.bm25TopKFromSidecar",
      "Retrieval.bm25SidecarForget", "Retrieval.bm25SidecarMergeGenerations",
      "Retrieval.bm25SidecarCompact")
    counters.view.filterKeys(_ != "index_bytes").map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++
      Map(
        "operators.bm25.actions_per_append" -> perCall("Retrieval.bm25SidecarAppend", "actions"),
        "operators.bm25.actions_per_forget" -> perCall("Retrieval.bm25SidecarForget", "actions"),
        "operators.bm25.probe_input_bytes" -> probeBytes,
        "operators.bm25.probe_pruned_fraction" ->
          (if (indexBytes > 0) 1.0 - probeBytes / indexBytes else 0.0),
        "operators.busy_s" -> Stats.median(tr.named("pass").drop(1).map { p =>
          tr.children(p).filter(s => opNames.contains(s.name)).map(_.seconds).sum
        }))
  }

  override def record: Seq[(String, Any)] = Seq(
    "cycles" -> cycle, "live_docs" -> live.size, "base_docs" -> baseDocs,
    "drop_docs" -> dropDocs, "queries_per_probe" -> Queries, "ids_per_takedown" -> Takedown)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
