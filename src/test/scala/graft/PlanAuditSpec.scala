package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis, Transformations}

/**
 * Machine-checked plan audits for the SURVEY §4 scale claims: pushdown
 * and pruning reach the parquet scan, small sides broadcast, hot paths
 * stay inside whole-stage codegen, and the expression-materialization
 * projections survive the optimizer (a regression here silently turns
 * O(words) text operators into O(words²)).
 */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("filter + projection reach the parquet scan (PushedFilters, ReadSchema)") {
    val q = li.filter(col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"), scan)
    // column pruning: the scan schema carries only the two referenced columns
    val readSchema = "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"
    assert(scan.contains(readSchema), scan)
  }

  test("kernel transform chain stays in whole-stage codegen, no UDFs") {
    val q = Transformations.parseLongs(Set("ok"))(
      li.select(col("l_orderkey").cast("string").as("ok"), col("l_linenumber")))
    // "*(n)" prefixes mark whole-stage-codegen'd operators in plan output
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"), plan)
  }

  test("typed-array parse runs as one fused native call, no HOF lambda chain") {
    val q = Transformations.parseDoubleArrays(Set("arr"), ",", Set("."))(
      li.select(concat(col("l_quantity"), lit(","), col("l_tax")).as("arr")))
    val plan = q.queryExecution.executedPlan.toString
    // whole-stage codegen'd, and the per-element parse is the fused
    // expression — no interpreted lambdafunction/transform() in the plan
    assert(plan.contains("*(1)"), plan)
    assert(plan.contains("parse_double_array"), plan)
    assert(!plan.toLowerCase.contains("lambdafunction"), plan)
  }

  test("salted agg is two hash aggregations over exactly two shuffles") {
    val df = li.select(col("l_returnflag"), col("l_quantity"))
    val plan = graft.operators.Skew.saltedAgg(df, "l_returnflag", 8)(
        partial = Seq(count(lit(1)).as("pn")),
        combine = Seq(sum(col("pn")).as("n")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"expected map-side partials:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"expected the (key,salt) and key shuffles only:\n$plan")
  }

  test("brute-force ANN broadcasts the query side; corpus is never shuffled") {
    val plan = Similarity.bruteForceTopK(
      embs, embs.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
    // the only Exchange allowed is the broadcast + the final top-k window
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF probe join is a broadcast join on centroid buckets") {
    val plan = Similarity.ivfTopK(
      embs, embs.filter(col("vec_id") < 5), "embedding", "vec_id",
      k = 3, nCentroids = 4, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("mergeVariants dedups via partial + final hash aggregate, one shuffle") {
    val v = spark.range(100).select(
      concat(lit("v"), col("id")).as("id"), lit("1").as("chromosome"))
    val plan = graft.plans.V2F.mergeVariants(Seq(v, v)).queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"expected map-side partial aggregation:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one shuffle:\n$plan")
  }

  // The wordTable/shingleTable projections exist so the expensive
  // normalization (the fused normalize_text / normalized_words byte-scan
  // since r21; lower+regexp_replace+split before) runs ONCE per
  // document. If CollapseProject ever inlines them into a downstream
  // lambda, the expression gets re-evaluated per array element / per
  // seed — these counts are the early-warning tripwire.
  private def lowerCount(plan: String): Int =
    "normalize_text\\(|normalized_words\\(".r.findAllIn(plan).size

  test("minhash signatures evaluate the text normalization exactly once") {
    val plan = Dedup.minHashSignatures(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(lowerCount(plan) == 1, plan)
  }

  test("simhash evaluates the text normalization exactly once") {
    val plan = Dedup.simHashes(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(lowerCount(plan) == 1, plan)
  }

  test("language ID evaluates the text normalization exactly once") {
    val plan = TextAnalysis.withLangId(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(lowerCount(plan) == 1, plan)
  }

  test("fingerprints evaluate the text normalization exactly once") {
    val plan = TextAnalysis.fingerprints(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(lowerCount(plan) == 1, plan)
  }

  test("withUrlParts under the full-size PSL stays a scan projection: no join, no exchange") {
    // 9,304 rules — the real public-suffix list's size class. The PSL
    // must ride the plan as per-depth InSet literals inside ONE
    // projection; a join/exchange here would shuffle the corpus against
    // deployment metadata
    val psl = graft.operators.Web.pslFromTable {
      import spark.implicits._
      graft.gates.LlmGates.GatePsl9k.toDF("suffix")
    }
    assert(psl.size > 9000, s"fixture shrank: ${psl.size}")
    val urls = docs.select(col("doc_id"),
      concat(lit("https://a."), col("doc_id"), lit(".co3.z42/x")).as("url"))
    val plan = graft.operators.Web.withUrlParts(urls, "url", psl)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan.take(2000))
    assert(plan.contains("Project"), plan.take(500))
  }

  test("hashSample is one scan-stage filter: no exchange, no UDF, codegen'd") {
    val plan = graft.operators.Sampling.hashSample(docs, "doc_id", 0.25)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"), plan)
    assert(plan.contains("*(1) Filter"), plan) // the * prefix = whole-stage codegen
  }

  test("binByTokenBudget: keyed = one window; global = range shuffle, NO SinglePartition") {
    val withTok = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.wsTokenCount(col("text")).as("tok"))
    // the global arm takes the withGlobalIndex recipe: range shuffle +
    // per-partition prefix + broadcast offsets — no stage may plan a
    // single-task exchange (the r11-and-earlier scale hazard, closed)
    val global = graft.operators.Sampling
      .binByTokenBudget(withTok, "tok", "doc_id", budget = 2000L)
      .queryExecution.executedPlan.toString
    assert(!global.contains("Exchange SinglePartition"), global)
    assert(!global.contains("Window"), global) // no global window either
    // the range shuffle + prefix passes live in the RDD lineage (the
    // documented withGlobalIndex carve-out) — the plan surfaces it as
    // an ExistingRDD scan, same as withGlobalIndex's own audit
    assert(global.contains("ExistingRDD"), global)

    val keyed = graft.operators.Sampling
      .binByTokenBudget(withTok, "tok", "doc_id", budget = 2000L, byCol = Some("lang"))
      .queryExecution.executedPlan.toString
    assert("(?m)^.*Window".r.findAllIn(keyed).size == 1, keyed)
    assert(keyed.contains("Exchange hashpartitioning"), keyed)
    assert(!keyed.contains("Exchange SinglePartition"), keyed)
  }

  test("dropDuplicateLines: line counts partial-aggregate before their shuffle") {
    val plan = graft.operators.Dedup
      .dropDuplicateLines(docs.select("doc_id", "text"), "text", "doc_id")
      .queryExecution.executedPlan.toString
    // the name predates the shared line exchange: the count is still a
    // codegen'd count aggregate (partial + final), never a collect, but it
    // now reads the one line exchange it shares with the drop, so both
    // halves run after it (see the shared-exchange audit below)
    assert(plan.contains("partial_count"), plan)
    // the shuffle/join key is the BINARY 16-byte digest, not the 32-char
    // hex string (half the key bytes in the one corpus-wide shuffle)
    assert(plan.contains("unhex"), plan)
  }

  test("contamination: eval grams broadcast, corpus regrouped once (no gram-level corpus shuffle)") {
    val ev = docs.filter(col("doc_id") % 100 === 7)
    val plan = graft.operators.Contamination
      .contaminationScores(docs, ev, "text", "doc_id", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // shuffles: the eval-side distinct + the per-doc final aggregate —
    // the corpus's exploded grams must partially aggregate BEFORE any
    // exchange, so no third shuffle may appear
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"$shuffles shuffles:\n$plan")
  }

  test("bloom contamination: might_contain prunes grams before the exact join") {
    val ev = docs.filter(col("doc_id") % 100 === 7)
    val plan = graft.operators.Contamination
      .contaminationScores(docs, ev, "text", "doc_id", k = 3, bloomPrefilter = true)
      .queryExecution.executedPlan.toString
    // the bloom predicate must sit in the corpus-side projection (array
    // filter before explode), and the exact broadcast join must remain
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"$shuffles shuffles:\n$plan")
  }

  test("topWords plans as TakeOrderedAndProject over a partial-aggregated count") {
    val plan = graft.operators.TextAnalysis.topWords(docs, "text", 100)
      .queryExecution.executedPlan.toString
    // each partition surrenders its local top-k — never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("gopherFilter is a scan-stage filter: no exchange, no join, codegen'd") {
    val plan = graft.operators.TextAnalysis.gopherFilter(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("*(1)"), plan) // whole-stage codegen'd
  }

  test("stratified sample is one scan-stage filter like hashSample") {
    val plan = graft.operators.Sampling.sampleByStrata(
        docs, "doc_id", "lang", Seq(("en", 0.5), ("de", 0.2)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  test("connectedComponents: result plan is iteration-flat (lineage truncated per round)") {
    import spark.implicits._
    // distributed arm (localizeEdgeLimit = 0): without the per-round
    // localCheckpoint the returned plan would embed every round's join
    // chain and DOUBLE in size per iteration
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(edges, localizeEdgeLimit = 0L)
    val planNodes = out.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planNodes <= 3, s"expected a flat checkpointed relation, got $planNodes nodes")
    // and the propagation actually converged across those rounds
    assert(out.collect().map(_.getLong(1)).distinct.toSeq == Seq(0L))
    org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(out)
  }

  test("connectedComponents: localized arm is a driver-local relation (no jobs per read)") {
    import spark.implicits._
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(edges)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"), plan)
  }

  test("near-dup chain: no cartesian product, single-pass bounded bucket cap") {
    val plan = Dedup.nearDuplicates(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // signature computation happens once AT EXECUTION, and the r18
    // single-pass cap (BoundedCollectAgg) schedules NO count pass, NO
    // filter join and NO extra exchange: the capped bucket build is one
    // aggregation, so the whole candidate plan is join-free
    val q = Dedup.lshCandidates(Dedup.minHashSignatures(docs, "text", "doc_id"))
    q.collect()
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("minhash_signature".r.findAllIn(fin).size == 1,
      s"signature computed more than once:\n${fin.take(4000)}")
    assert(fin.contains("bounded_collect"),
      s"bucket build is not the bounded single-pass cap:\n${fin.take(4000)}")
    assert(!fin.contains("Join"),
      s"capped candidate generation schedules a join (two-pass relapse):\n${fin.take(4000)}")
  }

  test("bounded bucket cap: one aggregation, no unbounded collect on a capped path") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import spark.implicits._
    // planted degenerate key: every band bucket is over the tiny cap
    val degen = (1L to 30L).map(i => (i, "exactly the same text for everyone"))
      .toDF("doc_id", "text")
    val q = Dedup.lshCandidates(
      Dedup.minHashSignatures(degen, "text", "doc_id"), maxBucket = Some(10))
    assert(q.count() == 0L)
    // structural pin of the r18 hardening: a capped bucket path carries
    // NO collect_list/collect_set at all — the only bucket aggregate is
    // bounded_collect, whose buffer cannot exceed the cap by
    // construction (an over-cap bucket never materializes ANYWHERE, not
    // even transiently), and no cap join/count pass exists to pay for
    val opt = q.queryExecution.optimizedPlan
    val unbounded = opt.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(e =>
        e.prettyName == "collect_list" || e.prettyName == "collect_set")) => a
    }
    assert(unbounded.isEmpty,
      s"capped bucket path materializes an unbounded collect:\n$unbounded")
    val bounded = opt.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(
        _.prettyName == "bounded_collect")) => a
    }
    assert(bounded.nonEmpty, opt.toString)
    // stage economy: the capped candidate plan is join-free (the r17
    // two-pass spelling scheduled a count aggregation + filter join per
    // capped stage — the round-17 boards' measured regression)
    assert(opt.collect { case j: Join => j }.isEmpty,
      s"capped candidate generation joins:\n$opt")
  }

  test("late-round-8 operators: column pruning reaches the parquet scan, no UDFs") {
    import spark.implicits._
    val queries = Seq((1L, "fast hash join")).toDF("query_id", "qtext")
    val bm25 = graft.operators.Retrieval.bm25Scores(
      docs, "text", "doc_id", queries, "query_id", "qtext")
    val bm25Plan = bm25.queryExecution.executedPlan.toString
    // every corpus scan in the BM25 plan reads at most (doc_id, text)
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(bm25Plan).toSeq
    assert(schemas.nonEmpty &&
      schemas.forall(s => s == "ReadSchema: struct<doc_id:bigint,text:string>" ||
        s == "ReadSchema: struct<text:string>"), schemas.mkString("\n"))
    assert(!bm25Plan.contains("BatchEvalPython"), bm25Plan.take(1000))
    // entropy and stripHtml ride the scan in whole-stage codegen
    val proj = docs.select(
        graft.operators.Web.stripHtml(col("text")).as("clean"))
    val projPlan = proj.queryExecution.executedPlan.toString
    assert(projPlan.contains("*(1)") &&
      projPlan.contains("ReadSchema: struct<text:string>"), projPlan)
    val ent = graft.operators.TextAnalysis.withCharEntropy(
      docs.select("doc_id", "text"), "text")
    val entPlan = ent.queryExecution.executedPlan.toString
    assert(entPlan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), entPlan)
  }

  test("incremental near-dup: index streams unshuffled into the semi join; " +
    "both sides aggregated BEFORE the cross-side bucket join") {
    val idx = Dedup.minHashSignatures(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val q = Dedup.nearDuplicatesAgainstIndex(batch, idx, "text", "doc_id")
    // pre-AQE physical plan: the corpus-sized index meets the batch at a
    // band-keyed broadcast SEMI join — the 100 TB claim is that the index
    // reaches it scan→generate, never shuffled
    val sp = q.queryExecution.sparkPlan
    val bandJoins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "band")) => j
    }
    val semi = bandJoins.find(_.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi)
    assert(semi.nonEmpty, s"no band-keyed broadcast semi join:\n$sp")
    val shuffles = semi.get.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"index side shuffled before the semi join:\n${semi.get.left}")
    // the cross-side bucket join consumes two ALREADY-AGGREGATED sides —
    // a megabucket shared by I index and B batch docs costs O(I + B)
    // rows into aggregation, never an I×B join explosion (ADVICE r9)
    val inner = bandJoins.find(_.joinType == org.apache.spark.sql.catalyst.plans.Inner)
    assert(inner.nonEmpty, s"no band-keyed inner bucket join:\n$sp")
    Seq(inner.get.left -> "index", inner.get.right -> "batch").foreach {
      case (side, name) =>
        val agg = side.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(agg.nonEmpty,
          s"$name side of the bucket join is not pre-aggregated:\n$side")
    }
  }

  test("incremental near-dup stage economy: single-pass caps (no count pass, " +
    "no cap join), batch signatures computed once (shared exchange)") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val idx = Dedup.minHashSignatures(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val q = Dedup.nearDuplicatesAgainstIndex(batch, idx, "text", "doc_id")
    // the r18 evidence the r17 verdict asked for, pinned: each side's
    // cap is ONE bounded_collect aggregation — the logical plan carries
    // NO count-pass aggregate and NO unbounded collect at all (the r17
    // two-pass spelling scheduled both per capped stage, the measured
    // 1.5-2.2x on this family)
    val opt = q.queryExecution.optimizedPlan
    val aggs = opt.collect { case a: Aggregate => a }
    val byFn = (name: String) => aggs.count(_.aggregateExpressions.exists(
      _.exists(_.prettyName == name)))
    // 3 LOGICAL copies: the index side, plus the batch side TWICE (the
    // semi-join probe and the bucket join both consume batchBuckets —
    // textually duplicated in the logical plan, one shared exchange at
    // execution, asserted below)
    assert(byFn("bounded_collect") == 3,
      s"expected 3 bounded_collect aggregate copies:\n$opt")
    assert(byFn("count") == 0, s"cap count pass resurfaced:\n$opt")
    assert(byFn("collect_list") == 0 && byFn("collect_set") == 0,
      s"unbounded collect on the incremental path:\n$opt")
    // the batch-side aggregation feeds BOTH the semi-join probe and the
    // bucket join; at execution the twin consumers read ONE exchange
    // (ReusedExchange) and the batch signature derivation runs once
    q.collect()
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"),
      s"batch bucket exchange not shared between probe and join:\n${fin.take(4000)}")
  }

  test("dropDuplicateSpans: occurrence collection is count-pruned (two-phase)") {
    val q = Dedup.dropDuplicateSpans(
      docs.select("doc_id", "text"), "text", "doc_id", k = 5)
    val sp = q.queryExecution.sparkPlan
    // phase boundary: a gram-keyed join prunes the position stream to
    // duplicated grams BEFORE any collect_list — the O(tokens)-object
    // aggregation a single group-then-filter spelling would pay never
    // exists (inner join ≡ semi here: dup-gram keys are unique)
    val semi = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
          j.leftKeys.exists(_.references.exists(_.name == "g")) => j
    }
    assert(semi.nonEmpty, s"no gram-keyed broadcast prune join:\n$sp")
    // the dup-gram build side is a codegen'd COUNT aggregate…
    val buildAggs = semi.head.right.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(buildAggs.exists(_.aggregateExpressions.exists(
      _.aggregateFunction.toString.startsWith("count"))),
      s"dup-gram side is not a count aggregate:\n${semi.head.right}")
    assert(buildAggs.forall(!_.aggregateExpressions.exists(
      _.aggregateFunction.toString.contains("collect_list"))),
      s"dup-gram side collects positions:\n${semi.head.right}")
    // …and every occurrence-collecting aggregate sits ABOVE the semi join
    val collectAggs = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.aggregateExpressions.exists(
          _.aggregateFunction.toString.contains("collect_list")) => a
    }
    assert(collectAggs.nonEmpty, s"no occurrence collect_list aggregate:\n$sp")
    assert(collectAggs.forall(a => a.find(_ eq semi.head).isDefined),
      s"collect_list aggregate not fed by the count-prune semi join:\n$sp")
    // both phases read ONE shared gram exchange: a single corpus gram
    // explode, the other branch a ReusedExchange (the count's opaque
    // predicate keeps the two exchange copies column-identical — the
    // BM25 pruned-agg guard; if this explode count goes to 2, pruning
    // specialized a branch and the corpus is silently scanned twice).
    // collect(), not a noop write: AQE dedupes identical stages at
    // EXECUTION, and only this dataset's own QueryExecution finalizes
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val gramExplodes = "Generate posexplode".r.findAllIn(plan).size
    assert(gramExplodes == 1, s"corpus grams exploded $gramExplodes times:\n${plan.take(4000)}")
    assert("ReusedExchange.*hashpartitioning\\(g#".r.findAllIn(plan).nonEmpty,
      s"gram exchange not reused:\n${plan.take(4000)}")
  }

  test("dropDuplicateLines: the count and the drop read one shared line exchange") {
    // a footer line every document shares, so the duplicate set is
    // non-empty and the drop branch survives to the final plan
    val q = Dedup.dropDuplicateLines(
      docs.select(col("doc_id"), concat(col("text"), lit("\nshared footer")).as("text")),
      "text", "doc_id")
    // collect(), not a noop write: only this dataset's own QueryExecution
    // finalizes (the dropDuplicateSpans audit's convention)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one corpus line explode: the input is evaluated once, and the
    // second consumer of its line rows is a ReusedExchange (a second
    // explode means pruning or an inferred filter specialized a branch)
    val explodes = "Generate posexplode".r.findAllIn(plan).size
    assert(explodes == 1, s"corpus lines exploded $explodes times:\n${plan.take(4000)}")
    assert("ReusedExchange.*hashpartitioning\\(lh#".r.findAllIn(plan).nonEmpty,
      s"line exchange not reused:\n${plan.take(4000)}")
  }

  test("dropDuplicateLinesByGroup: the count and the drop read one shared line exchange") {
    // a footer line every document of a group shares, so the duplicate set
    // is non-empty and the drop branch survives to the final plan
    val q = Dedup.dropDuplicateLinesByGroup(
      docs.select(col("doc_id"), concat(col("text"), lit("\nshared footer")).as("text"),
        (col("doc_id") % 3).as("src")),
      "text", "doc_id", "src")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val explodes = "Generate posexplode".r.findAllIn(plan).size
    assert(explodes == 1, s"corpus lines exploded $explodes times:\n${plan.take(4000)}")
    assert("ReusedExchange.*hashpartitioning\\(__g#\\d+, lh#".r.findAllIn(plan).nonEmpty,
      s"line exchange not reused:\n${plan.take(4000)}")
  }

  test("dropDuplicateParagraphs: the count and the drop read one shared paragraph exchange") {
    // a closing paragraph every document shares
    val q = Dedup.dropDuplicateParagraphs(
      docs.select(col("doc_id"), concat(col("text"), lit("\n\nshared closing")).as("text")),
      "text", "doc_id")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val explodes = "Generate posexplode".r.findAllIn(plan).size
    assert(explodes == 1, s"corpus paragraphs exploded $explodes times:\n${plan.take(4000)}")
    assert("ReusedExchange.*hashpartitioning\\(lh#".r.findAllIn(plan).nonEmpty,
      s"paragraph exchange not reused:\n${plan.take(4000)}")
  }

  test("curation run(): one exact-dedup and one LSH band exchange across the " +
    "action's plan and every pinned plan") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    // planted exact and near twins, so neither dedup stage is empty
    val base = docs.select("doc_id", "text")
    val corpus = base
      .unionByName(base.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" appended")).as("text")))
    val ev = base.filter(col("doc_id") % 50 === 7)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    assert(org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, 10000))
    spark.listenerManager.register(listener)
    try {
      graft.plans.CurationPipeline.run(corpus, "text", "doc_id",
        graft.plans.CurationPipeline.Config(evalSet = Some(ev), contaminationK = 5))(
        _.write.format("noop").mode("overwrite").save())
      assert(org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, 10000))
    } finally spark.listenerManager.unregister(listener)
    // every EXECUTED shuffle: the final AQE plans, their query stages and
    // each persisted frame's cached plan (walked once, however many scans
    // reference it); a ReusedExchange executes nothing new
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case i: InputAdapter => strip(i.child)
      case o => o
    }
    val cachedSeen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val exchanges = scala.collection.mutable.Buffer[ShuffleExchangeExec]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _: ReusedExchangeExec => ()
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        if (cachedSeen.add(m.relation.cachedPlan)) walk(m.relation.cachedPlan)
      case e: ShuffleExchangeExec => exchanges += e; walk(e.child)
      case o => o.children.foreach(walk); o.subqueries.foreach(walk)
    }
    assert(!plans.isEmpty, "no plan captured for the action")
    plans.forEach(walk(_))
    val exactWindow = exchanges.count(e => strip(e.child) match {
      case w: WindowGroupLimitExec => w.mode == org.apache.spark.sql.execution.window.Partial
      case _ => false
    })
    val lshBand = exchanges.count(_.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } == Seq("band", "band_key")
      case _ => false
    })
    val shown = exchanges.map(e => s"${e.outputPartitioning} <- ${strip(e.child).nodeName}")
      .mkString("\n")
    // unpinned, each of exact's consumers (signature, verify, anti-join —
    // twice over through decontamination's two reads of near) re-ran the
    // window shuffle above the pinned scrub, and the LSH chain ran twice
    assert(exactWindow == 1, s"exact-dedup window exchange ran $exactWindow times:\n$shown")
    assert(lshBand == 1, s"LSH band exchange ran $lshBand times:\n$shown")
  }

  test("curation: the near-dup chain is evaluated once (quality inline, no self-join)") {
    val q = graft.plans.CurationPipeline.curate(
      docs.select("doc_id", "text"), "text", "doc_id")
    // the shingle-hash derivation EXECUTES exactly twice — the near-dup
    // chain's two legitimate consumers (signature + in-bucket verify);
    // the single-pass bounded bucket cap adds no copy at all. The
    // pre-round-9 quality stage joined (doc_id, quality) back to the
    // ruled frame, doubling this to four: BOTH join sides re-evaluated
    // the exact+near dedup chain (the pipeline's most expensive stages)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val shingles = "shingle_hashes".r.findAllIn(plan).size
    assert(shingles == 2,
      s"expected 2 executed shingle_hashes consumers (signature + verify), got $shingles")
  }

  test("decontaminateSpans: corpus never sort-merge-joined, rebuild side broadcast") {
    import spark.implicits._
    val ev = Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text")
    val q = graft.operators.Contamination.decontaminateSpans(
      docs.select("doc_id", "text"), ev, "text", "doc_id", k = 3)
    q.write.format("noop").mode("overwrite").save()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    // the rebuild is a broadcast LEFT join of the corpus against the
    // matched-docs table; the gram match is a broadcast semi join
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("temperatureRebalance is a single-scan filter: no shuffle in the corpus plan") {
    import spark.implicits._
    val df = ((1L to 400L).map(i => (i, "en")) ++ (401L to 500L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val q = graft.operators.Sampling.temperatureRebalance(
      df, "doc_id", "lang", Seq("en", "de"))
    // the weight derivation ran as two metadata jobs at CALL time; the
    // returned corpus plan is a pure filter — no Exchange at all
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("corpusDiff: digests computed below ONE join, no extra corpus passes") {
    val q = graft.operators.Dedup.corpusDiff(
      docs.select("doc_id", "text"),
      docs.select("doc_id", "text").filter(col("doc_id") % 2 === 0),
      "text", "doc_id")
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size == 1, plan.take(3000))
    // full-outer join keyed on id: exactly one exchange per side
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan.take(3000))
  }

  test("overlapJoin plans a shuffled equi-join on the bin, no nested loop") {
    import spark.implicits._
    val l = Seq((1L, 0L, 10L)).toDF("lid", "ls", "le")
    val r = Seq((2L, 5L, 12L)).toDF("rid", "rs", "re")
    val q = graft.operators.Joins.overlapJoin(l, "ls", "le", r, "rs", "re", binWidth = 4)
    val nested = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nested.isEmpty, "overlap spelling must not plan a nested-loop/cartesian join")
  }

  private def noNestedJoin(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val nested = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nested.isEmpty, s"$what must not plan a nested-loop/cartesian join")
  }

  test("exact similarity joins: equi-join candidates only, never a cartesian") {
    noNestedJoin(
      graft.operators.SetSim.setSimilarityPairs(docs, "text", "doc_id", 0.8),
      "setSimilarityPairs")
    noNestedJoin(
      graft.operators.EditSim.editDistancePairs(
        docs.select(col("doc_id"), substring(col("text"), 1, 12).as("s")),
        "s", "doc_id", 1),
      "editDistancePairs")
  }

  test("z-order value is a pure projection; clustering pays exactly one range exchange") {
    val zv = graft.operators.Layout.withZorderValue(
      li.select("l_partkey", "l_suppkey"), Seq("l_partkey", "l_suppkey"), 8)
    val zvPlan = zv.queryExecution.executedPlan.toString
    assert(!zvPlan.contains("Exchange"), s"z-value must not shuffle:\n$zvPlan")
    assert(zvPlan.contains("*(1)"), zvPlan) // shift/mask stays codegen'd
    val clustered = graft.operators.Layout.clusterByZorder(
      li.select("l_partkey", "l_suppkey"), Seq("l_partkey", "l_suppkey"), 8)
    val cPlan = clustered.queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(cPlan).size == 1, cPlan.take(3000))
    assert(!cPlan.contains("Exchange hashpartitioning"), cPlan.take(3000))
  }

  test("weightedSample global arm plans TakeOrderedAndProject, never a global sort") {
    val q = graft.operators.Sampling.weightedSample(
      docs.select(col("doc_id"), col("n_chars")), "n_chars", "doc_id", 25)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(3000))
  }

  test("rolling window: one hash exchange, the RANGE frame rides one Window node") {
    val ev = graft.streaming.Events.readEventsParquet(spark, s"$sfDir/events.parquet")
    val plan = graft.streaming.Events.rolling(ev, 60000000L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(3000))
    assert("Window".r.findAllIn(plan).size >= 1, plan.take(3000))
  }

  test("cdc apply: union + one key shuffle + one window, zero join nodes") {
    import spark.implicits._
    val snap = Seq((1L, "a")).toDF("id", "v")
    val chg = Seq((1L, "b", 1L, "U")).toDF("id", "v", "seq", "op")
    val plan = graft.operators.Cdc.applyChangelog(snap, chg, Seq("id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"cdc must not plan a join:\n${plan.take(3000)}")
    assert(plan.contains("Union"), plan.take(3000))
  }

  test("bloomSemiJoin: might_contain filters in the scan stage, below the join") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber")
    val keys = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 97 === 0).select("o_orderkey")
    val plan = graft.operators.Joins.bloomSemiJoin(li, keys, "l_orderkey", "o_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(3000))
    // the prefilter must sit on the scan side, not above the join: the
    // first (top-down) Join node appears AFTER the filter in the tree,
    // so the text between the root and the filter holds no semi join
    val filterIdx = plan.indexOf("might_contain")
    assert(plan.take(filterIdx).contains("Join"), // join is above the filter
      plan.take(3000))
  }

  test("feature hashing: one shuffle, partial-aggregated, native hash in the scan") {
    val q = graft.operators.FeatureHash.hashedTf(docs, "text", "doc_id", 64)
    val plan = q.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(plan.contains("partial_"), plan.take(3000))
    assert(plan.contains("md5_long60"), plan.take(3000))
  }

  // ------------------------------------------------------- r15 additions

  test("c4Clean: one native call in a codegen'd projection, filter pushed, no HOFs") {
    val q = graft.operators.TextAnalysis.c4Clean(docs.select("doc_id", "text"), "text")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("c4_lines"), plan.take(3000))
    assert(plan.contains("*(1)"), s"expected whole-stage codegen:\n${plan.take(3000)}")
    assert(!plan.toLowerCase.contains("lambdafunction"), plan.take(3000))
    assert(!plan.contains("Exchange"), s"pure projection must not shuffle:\n${plan.take(3000)}")
  }

  test("selectByBudget: never a single-partition window; cumsum filter stays first-stage") {
    val t = docs.select(col("doc_id"), col("n_chars"),
      graft.operators.TextAnalysis.wsTokenCount(col("text")).as("toks"))
    val q = graft.operators.Sampling.selectByBudget(t, "toks", 20000L,
      Seq(col("n_chars").desc, col("doc_id").asc))
    val plan = q.queryExecution.executedPlan.toString
    // the running total is RDD-backed (the withGlobalIndex carve-out),
    // so the SQL plan must show NO window/exchange at all — just the
    // pushed budget filter over the numbered lineage; the range shuffle
    // lives in the RDD DAG, asserted via its partitioner below
    assert(!plan.contains("SinglePartition"), s"global-sort hazard:\n${plan.take(3000)}")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("Filter") && plan.contains("__sbb_cum"), plan.take(3000))
    val cum = graft.operators.TrainingOrder.withRunningTotal(
      t, Seq(col("n_chars").desc, col("doc_id").asc), "toks", "cum",
      numPartitions = Some(8))
    assert(cum.rdd.getNumPartitions == 8, "offsets ride the 8 range partitions")
  }

  test("leakageSafeSplits: the corpus side is never shuffled; member join broadcasts") {
    val pairs = graft.operators.Dedup.nearDuplicates(
      docs.select("doc_id", "text"), "text", "doc_id")
    val q = graft.operators.Sampling.leakageSafeSplits(
      docs.select("doc_id", "text"), pairs, "doc_id",
      Seq(("train", 0.8), ("val", 0.2)))
    val plan = q.queryExecution.executedPlan.toString
    // the final corpus-side join is broadcast (member table pair-bounded
    // -> AQE/stats pick BHJ); no sort-merge join may touch the corpus
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }
}
