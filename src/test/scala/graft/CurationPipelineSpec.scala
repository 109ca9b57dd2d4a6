package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.plans.CurationPipeline
import graft.sources.JsonLines

class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("full curation flow: each stage fires, in the documented order") {
    val boiler = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    val prose = "the cat is in the hat and it is flat for all of us to see " * 2
    val corpus = Seq(
      // 1+3: differ only in phone number — IDENTICAL after scrub, so the
      // exact-dedup stage must collapse them (scrub-before-dedup order)
      (1L, s"$prose call 415-555-0143 now"),
      (2L, s"$prose call 415-555-9999 now"),
      // 3,4,5: share a boilerplate line (3 occurrences -> removed), keep
      // their distinct prose
      (3L, s"$boiler\n$prose alpha beta gamma delta"),
      (4L, s"$boiler\n$prose epsilon zeta eta theta"),
      (5L, s"$boiler\n$prose iota kappa lambda mu"),
      // 6: a verbatim eval-set member -> decontaminated (its text shares
      // nothing with the other docs, so only stage 5 can drop it)
      (6L, "what is the capital of assyria is the question we ask of every model today"),
      // 7: junk below the quality floor
      (7L, "@@@ ### $$$ %%% ^^^ &&& *** ((( )))")
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "what is the capital of assyria is the question we ask of every model today"))
      .toDF("doc_id", "text")

    val rows = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(
        evalSet = Some(evalSet),
        contaminationK = 5,
        maxContamination = 0.5,
        minQuality = 0.2))(_.collect())
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet

    assert(ids == Set(1L, 3L, 4L, 5L), rows.mkString("\n"))
    // scrub happened: the survivor of 1/2 carries the mask, not a number
    val t1 = rows.find(_.getAs[Long]("doc_id") == 1L).get.getAs[String]("text")
    assert(t1.contains("<PII>") && !t1.contains("415"))
    // line rule happened: boilerplate gone, distinct prose kept
    val t3 = rows.find(_.getAs[Long]("doc_id") == 3L).get.getAs[String]("text")
    assert(!t3.contains("SUBSCRIBE") && t3.contains("alpha beta"))
    // every survivor has a quality score and a split label
    assert(rows.forall(r => r.getAs[Double]("quality") >= 0.2))
    assert(rows.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
  }

  test("incremental prune: prior-corpus indexes drop seen docs before within-batch dedup") {
    import graft.operators.Dedup
    val prose = "the cat is in the hat and it is flat for all of us to see " * 2
    val prior = Seq(
      (100L, s"$prose exactly as the corpus already has it"),
      (101L, s"$prose near enough to be the same document for all practical purposes")
    ).toDF("doc_id", "text")
    // indexes built over SAME-scrubbed text (fixture has nothing to scrub)
    val fps = Dedup.exactFingerprintIndex(prior, "text")
    val sigs = Dedup.minHashSignatures(prior, "text", "doc_id")
    val batch = Seq(
      (1L, s"$prose EXACTLY as the corpus already has it!"), // exact dup of 100
      (2L, s"$prose near enough to be the same document for all practical purposes"), // sig dup of 101
      (3L, s"$prose genuinely new content nothing indexed resembles at all")
    ).toDF("doc_id", "text")
    val ids = CurationPipeline.run(batch, "text", "doc_id",
      CurationPipeline.Config(
        priorFingerprints = Some(fps),
        priorSignatures = Some(sigs),
        minLineCount = 99))(_.collect()).map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(3L), ids)
    // and with no indexes configured the same batch keeps all three
    val all = CurationPipeline.run(batch, "text", "doc_id",
      CurationPipeline.Config(minLineCount = 99))(_.collect())
      .map(_.getAs[Long]("doc_id")).toSet
    assert(all == Set(1L, 2L, 3L))
  }

  test("incremental prune: SimHash and embedding arms ≡ the standalone operator chain") {
    import graft.operators.Dedup
    val prose = "the cat is in the hat and it is flat for all of us to see " * 2
    val prior = Seq(
      (100L, s"$prose exactly as the corpus already has it"),
      (101L, s"$prose near enough to be the same document for all practical purposes")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // same words as 100 (hamming 0 — only the simhash arm is on, so
      // this pins that arm, not the exact one)
      (1L, s"$prose exactly as the corpus already has it"),
      (2L, s"$prose genuinely new content nothing indexed resembles at all"),
      (3L, s"$prose another genuinely novel document with fresh words entirely")
    ).toDF("doc_id", "text")
    val cfg0 = CurationPipeline.Config(minLineCount = 99)
    // builders guarantee same-scrub by construction (fixture scrub is
    // identity, but the call path is the contract under test)
    val shIdx = CurationPipeline.simhashIndex(prior, "text", "doc_id", cfg0)
    // embedding tables: batch doc 3 is a near-exact vector match of an
    // indexed one; docs 1/2 are far
    val embIdx = Seq((500L, Array(1.0f, 0.0f, 0.0f))).toDF("doc_id", "embedding")
    val embBatch = Seq(
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)),
      (3L, Array(0.999f, 0.001f, 0.0f))
    ).toDF("doc_id", "embedding")
    val cfg = cfg0.copy(
      priorSimhashes = Some(shIdx),
      priorEmbeddings = Some(CurationPipeline.EmbeddingPrior(embBatch, embIdx)))
    val pipelineIds = CurationPipeline.run(batch, "text", "doc_id", cfg)(_.collect())
      .map(_.getAs[Long]("doc_id")).toSet
    // the standalone chain the pipeline must equal: simhash prune, then
    // embedding-matched ids anti-joined (fixture needs no scrub stages)
    val afterSim = Dedup.dropSimHashDuplicatesAgainst(
      batch, Dedup.simHashes(prior, "text", "doc_id"), "text", "doc_id")
    val matched = Dedup.embeddingNearDupAgainstIndex(
        embBatch, embIdx, "embedding", "doc_id", planes = 16, threshold = 0.9)
      .select(col("batch_id").as("doc_id")).distinct()
    val standaloneIds = afterSim.join(matched, Seq("doc_id"), "left_anti")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(pipelineIds == standaloneIds,
      s"pipeline $pipelineIds != standalone $standaloneIds")
    // the fixture actually exercises both arms: 1 gone via simhash,
    // 3 gone via embedding, 2 survives
    assert(pipelineIds == Set(2L), pipelineIds)
  }

  test("model quality gate ≡ standalone fit-then-score chain; zero-gram docs fail it") {
    import graft.operators.QualityClassifier
    val good = (0 until 20).map(i =>
      (i.toLong, s"well written informative careful article number $i", 1))
    val spam = (0 until 20).map(i =>
      (100L + i, s"buy cheap pills casino bonus click now $i", 0))
    val train = (good ++ spam).toDF("doc_id", "text", "label")
    val m = QualityClassifier.fit(
      train, "text", "label", "doc_id", nBuckets = 256, iters = 40, lr = 2.0)
    // batch: one good-flavored, one spam-flavored, one empty (zero grams)
    val batch = Seq(
      (1L, "careful informative well written piece"),
      (2L, "cheap casino pills bonus click"),
      (3L, "")).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minLineCount = 99,
      qualityModel = Some(CurationPipeline.ModelGate(m.weights, m.bias, minScore = 0.5)))
    val pipelineIds = CurationPipeline.run(batch, "text", "doc_id", cfg)(_.collect())
      .map(_.getAs[Long]("doc_id")).toSet
    val keep = QualityClassifier.score(batch, m.weights, "text", "doc_id", m.bias)
      .filter(col("quality_score") >= 0.5).select("doc_id")
    val standaloneIds = batch.join(keep, Seq("doc_id"), "left_semi")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(pipelineIds == standaloneIds, s"$pipelineIds != $standaloneIds")
    // the gate actually discriminates: good kept, spam cut, empty cut
    assert(pipelineIds == Set(1L), pipelineIds)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "run() leaked persists")
  }

  test("runObserved: stage counts ride the one action and match direct counts") {
    val base = (0 until 40).map(i =>
      (i.toLong, s"document number $i with reasonably long unique content body", s"l${i % 2}"))
    // planted exact dups: 4 re-keyed copies the exact stage must drop
    val dups = (0 until 4).map(i =>
      (1000L + i, s"document number $i with reasonably long unique content body", s"l${i % 2}"))
    val corpus = (base ++ dups).toDF("doc_id", "text", "lang")
    val cfg = CurationPipeline.Config(minLineCount = 99, minQuality = 0.0)
    val ((rows, n), metrics) =
      CurationPipeline.runObserved(corpus, "text", "doc_id", cfg) { df =>
        (df.collect(), df.count())
      }
    assert(n == rows.length.toLong)
    // stage set: no eval set / priors / model → fixed four counters
    assert(metrics.keySet ==
      Set("scrubbed", "after_exact_dedup", "after_near_dedup", "after_quality", "final"))
    assert(metrics("scrubbed") == 44L) // scrub rewrites, never drops
    assert(metrics("after_exact_dedup") == 40L, metrics.toString)
    // counts only shrink through the funnel
    val order = Seq("scrubbed", "after_exact_dedup", "after_near_dedup",
      "after_quality", "final").map(metrics)
    assert(order.zip(order.tail).forall { case (a, b) => b <= a }, metrics.toString)
    assert(metrics("final") == n)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "runObserved leaked persists")
  }

  test("runObserved: optional stages add counters only when configured; mix's eager action agrees") {
    val corpus = (0 until 30).map(i =>
      (i.toLong, s"unique prose item $i carrying its own words", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
    val prior = CurationPipeline.exactIndex(
      corpus.filter(col("doc_id") < 5), "text", "doc_id",
      CurationPipeline.Config(minLineCount = 99))
    val cfg = CurationPipeline.Config(minLineCount = 99,
      priorFingerprints = Some(prior),
      targetMix = Some(("lang", Seq(("l0", 1L), ("l1", 1L), ("l2", 1L)))))
    val (_, metrics) =
      CurationPipeline.runObserved(corpus, "text", "doc_id", cfg)(_.count())
    assert(metrics.contains("after_incremental_prune"), metrics.toString)
    assert(metrics("after_incremental_prune") == 25L, metrics.toString)
    assert(metrics("scrubbed") == 30L)
  }

  test("runObserved: stage keys iterate in execution order past four stages") {
    // an immutable default Map is a HashMap past 4 entries: the 6- and
    // 7-stage configurations are the ones a plain toMap would scramble
    val corpus = (0 until 24).map(i =>
      (i.toLong, s"ordinary prose entry $i with its own distinct wording"))
      .toDF("doc_id", "text")
    val evalSet = Seq((900L, "ordinary prose entry 3 with its own distinct wording"))
      .toDF("doc_id", "text")
    val base = CurationPipeline.Config(minLineCount = 99,
      evalSet = Some(evalSet), contaminationK = 5)
    val (_, six) = CurationPipeline.runObserved(corpus, "text", "doc_id", base)(_.count())
    assert(six.keys.toSeq == Seq("scrubbed", "after_exact_dedup",
      "after_near_dedup", "after_decontamination", "after_quality", "final"),
      six.toString)
    val prior = CurationPipeline.exactIndex(
      corpus.filter(col("doc_id") < 4), "text", "doc_id", base)
    val (_, seven) = CurationPipeline.runObserved(corpus, "text", "doc_id",
      base.copy(priorFingerprints = Some(prior)))(_.count())
    assert(seven.keys.toSeq == Seq("scrubbed", "after_incremental_prune",
      "after_exact_dedup", "after_near_dedup", "after_decontamination",
      "after_quality", "final"), seven.toString)
  }

  test("run and runObserved release every pin when the action throws") {
    // distinct documents, so both mix strata survive the dedup stages
    val corpus = (0 until 12).map(i => (i.toLong,
        s"document number $i with reasonably long unique content body", s"l${i % 2}"))
      .toDF("doc_id", "text", "lang")
    val train = corpus.select(col("doc_id"), col("text"),
      (col("doc_id") % 2).cast("int").as("label"))
    val m = graft.operators.QualityClassifier.fit(
      train, "text", "label", "doc_id", nBuckets = 64, iters = 2)
    // the model-gate base, the mix input and the leak-safe split input
    // are each read twice, so with the exact survivors four pins are
    // live while the action runs
    val cfg = CurationPipeline.Config(
      qualityModel = Some(CurationPipeline.ModelGate(m.weights, m.bias, minScore = 0.0)),
      targetMix = Some(("lang", Seq(("l0", 1L), ("l1", 1L)))),
      splitLeakThreshold = Some(0.5))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var pinnedDuring = 0
    def failing(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      pinnedDuring = spark.sparkContext.getPersistentRDDs.size - before.size
      throw new IllegalStateException("sink failed")
    }
    val runs = Seq[(String, () => Unit)](
      "run" -> (() => CurationPipeline.run(corpus, "text", "doc_id", cfg)(failing)),
      "runObserved" -> (() =>
        CurationPipeline.runObserved(corpus, "text", "doc_id", cfg)(failing)))
    for ((name, body) <- runs) {
      pinnedDuring = 0
      val e = intercept[IllegalStateException](body())
      assert(e.getMessage == "sink failed", name)
      assert(pinnedDuring >= 3, s"$name: only $pinnedDuring frames pinned during the action")
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$name left persisted RDDs behind")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cache entries behind")
    }
  }

  test("run pins only the exact survivors under the default config with an " +
    "eval set, and under a signature prior too") {
    val prose = "the cat is in the hat and it is flat for all of us to see " * 2
    val corpus = (0 until 12).map(i => (i.toLong, s"$prose item ${i % 8}"))
      .toDF("doc_id", "text")
    val evalSet = Seq((900L, s"$prose item 3")).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(evalSet = Some(evalSet), contaminationK = 5)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a cached frame's RDD is named after its plan, whose root is the
    // stage counter the pin sits above; returns each pin's stage name
    def pinned(cfg: CurationPipeline.Config) =
      withConf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true") {
        CurationPipeline.runObserved(corpus, "text", "doc_id", cfg) { df =>
          df.write.format("noop").mode("overwrite").save()
          spark.sparkContext.getPersistentRDDs
            .filter { case (id, _) => !before.contains(id) }.values
            .map(r => "graft_curation_[a-z_]+".r.findFirstIn(r.name).getOrElse(r.name))
            .toSeq.sorted
        }
      }
    val (names, counts) = pinned(cfg)
    assert(names == Seq("graft_curation_after_exact_dedup"), names.mkString("\n---\n"))
    assert(counts("after_decontamination") < counts("after_near_dedup"), counts.toString)
    // a signature prior reads the scrubbed corpus twice (its match and
    // its anti-join), but the two reads share their exchanges, so the
    // scrub stays unpinned
    val prior = Seq((500L, "a prior corpus document that matches none of these"))
      .toDF("doc_id", "text")
    val (priorNames, _) = pinned(cfg.copy(
      priorSignatures = Some(CurationPipeline.signatureIndex(prior, "text", "doc_id", cfg))))
    assert(priorNames == Seq("graft_curation_after_exact_dedup"),
      priorNames.mkString("\n---\n"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("decontamination over the exact survivors equals decontaminate of the " +
    "near-dup survivors, also when near dedup drops a contaminated doc") {
    val words = (0 until 40).map(i => s"w$i")
    val quoted = words.mkString(" ")
    val corpus = Seq(
      // 1 quotes the eval item; its near-twin 2 (one word changed) loses
      // near dedup to it, and is contaminated too
      (1L, quoted),
      (2L, (words.init :+ "yy").mkString(" ")),
      // 3 quotes the eval item inside a longer body: contaminated, no twin
      (3L, s"$quoted ${(0 until 20).map(i => s"v$i").mkString(" ")}"),
      // 4 and its near-twin 5: clean
      (4L, (0 until 40).map(i => s"u$i").mkString(" ")),
      (5L, ((0 until 39).map(i => s"u$i") :+ "zz").mkString(" ")),
      (6L, "an unrelated clean document with its own distinct words"))
      .toDF("doc_id", "text")
    val evalSet = Seq((900L, quoted)).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minLineCount = 99, contaminationK = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Double]("quality"), r.getAs[String]("split"))).toSet
    withConf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true") {
      val near = CurationPipeline.run(corpus, "text", "doc_id", cfg)(rows)
      // the fixture exercises the case: near dedup dropped doc 2, which
      // the contamination scores over the exact survivors flag
      assert(near.map(_._1) == Set(1L, 3L, 4L, 6L), near.map(_._1).toString)
      val dirty = graft.operators.Contamination.contaminationScores(
          corpus.filter(col("doc_id") === 2L), evalSet, "text", "doc_id", k = 5)
        .filter(col("contamination") >= cfg.maxContamination).count()
      assert(dirty == 1L)
      val nearFrame = near.toSeq.map { case (id, t, _, _) => (id, t) }.toDF("doc_id", "text")
      val expected = graft.operators.Contamination.decontaminate(
          nearFrame, evalSet, "text", "doc_id", k = 5,
          maxContamination = cfg.maxContamination)
        .select("doc_id").as[Long].collect().toSet
      val cleaned = CurationPipeline.run(corpus, "text", "doc_id",
        cfg.copy(evalSet = Some(evalSet)))(rows)
      assert(expected == Set(4L, 6L), expected.toString)
      assert(cleaned == near.filter(r => expected.contains(r._1)),
        s"$cleaned != decontaminate(near) = $expected")
    }
  }

  test("paragraph rule composes into scrub: banner blocks vanish before dedup") {
    val banner = "BANNER LINE A\nBANNER LINE B"
    val corpus = Seq(
      (1L, s"unique intro one\n\n$banner"),
      (2L, s"unique intro two\n\n$banner"),
      (3L, s"unique intro three\n\n$banner"),
      (4L, "untouched solitary document"))
      .toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minLineCount = 99, paraMinCount = Some(3))
    val out = CurationPipeline.run(corpus, "text", "doc_id", cfg)(_.collect())
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // the banner paragraph is gone from all three docs; all four docs
    // survive (their intros differ, so no doc-level dedup fires)
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == "unique intro one" && out(3L) == "unique intro three")
    assert(out(4L) == "untouched solitary document")
    // without the stage the banner survives
    val off = CurationPipeline.run(corpus, "text", "doc_id",
        cfg.copy(paraMinCount = None))(_.collect())
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(off(1L).contains("BANNER LINE A"))
  }

  test("within-doc line rule and gopher gate fire when enabled; bloom path agrees") {
    val prose = "the cat is in the hat and it is flat for all of us to see " * 2
    // 64 words, mean length and stopword mix pass the paper-default rules
    val passing = ("the quick brown fox jumps over the lazy dog and it runs away with great speed " * 4).trim
    val corpus = Seq(
      // internal scraper loop: repeats ONE line 2x inside the doc — below
      // the corpus-wide minLineCount, so only the within-doc rule catches it
      (1L, s"INTERNAL MENU\n$passing\nINTERNAL MENU"),
      // long clean prose with stopwords: survives the gopher gate
      (2L, (prose + "alpha beta gamma delta epsilon zeta eta theta ") * 2),
      // short doc: passes the composite floor at 0.0 but FAILS the
      // gopher word-count rule
      (3L, "the short one")
    ).toDF("doc_id", "text")
    val rows = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(gopherFilter = true))(_.collect())
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L), rows.mkString("\n"))
    val t1 = rows.find(_.getAs[Long]("doc_id") == 1L).get.getAs[String]("text")
    assert(t1.indexOf("INTERNAL MENU") == t1.lastIndexOf("INTERNAL MENU"))
    // flag off: the repeated internal line survives
    val off = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(dropRepeatedLinesInDoc = false))(_.collect())
    val t1off = off.find(_.getAs[Long]("doc_id") == 1L).get.getAs[String]("text")
    assert(t1off.indexOf("INTERNAL MENU") != t1off.lastIndexOf("INTERNAL MENU"))
    // bloom-prefiltered decontamination drops the same doc the exact path does
    val evalSet = Seq((100L, "what is the capital of assyria we ask today"))
      .toDF("doc_id", "text")
    val withEval = corpus.union(Seq(
      (4L, "what is the capital of assyria we ask today")).toDF("doc_id", "text"))
    def curated(bloom: Boolean) = CurationPipeline.run(withEval, "text", "doc_id",
      CurationPipeline.Config(evalSet = Some(evalSet), contaminationK = 5,
        bloomPrefilter = bloom))(
      _.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(curated(bloom = true) == curated(bloom = false))
    assert(!curated(bloom = true).contains(4L))
  }

  test("per-group cap and target mix: group columns looked up from the original corpus") {
    // distinct texts so no dedup stage interferes; 40 src-a docs, 10 src-b
    val corpus = (1L to 40L).map(i => (i, s"unique prose number $i about topic $i", "a")) ++
      (41L to 50L).map(i => (i, s"other words entirely for doc $i here", "b"))
    val df = corpus.toDF("doc_id", "text", "source")
    // cap: at most 2 docs per source, lowest ids kept
    val capped = CurationPipeline.run(df, "text", "doc_id",
      CurationPipeline.Config(perGroupCap = Some(("source", 2))))(
      _.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(capped == Set(1L, 2L, 41L, 42L))
    // the output schema is unchanged by the capped/mixed paths
    assert(CurationPipeline.curate(df, "text", "doc_id",
      CurationPipeline.Config(perGroupCap = Some(("source", 2)))).columns.toSeq ==
      Seq("doc_id", "text", "quality", "split"))
    // mix to a:b = 1:1 — b (10 docs) binds: a samples ~10 of 40
    // (hash-approximate), b keeps ~all 10
    val mixed = CurationPipeline.run(df, "text", "doc_id",
      CurationPipeline.Config(targetMix = Some(("source", Seq(("a", 1L), ("b", 1L))))))(
      _.select("doc_id").collect().map(_.getLong(0)).toSet)
    val aCount = mixed.count(_ <= 40L)
    val bCount = mixed.count(_ >= 41L)
    assert(bCount >= 7, s"mix a=$aCount b=$bCount")
    assert(aCount >= 3 && aCount <= 20, s"mix a=$aCount b=$bCount")
    // mix and split seeds must be DE-correlated: with generous splits, a
    // stratum the mix cut to its low hash buckets still spreads across
    // more than one split (same-seed hashing would funnel it into the
    // lowest split exclusively)
    val splitsOfA = CurationPipeline.run(df, "text", "doc_id",
      CurationPipeline.Config(
        targetMix = Some(("source", Seq(("a", 1L), ("b", 1L)))),
        splits = Seq(("train", 0.5), ("val", 0.25), ("test", 0.25))))(
      _.filter(col("doc_id") <= 40L).select("split").collect()
        .map(_.getString(0)).toSet)
    assert(splitsOfA.size > 1, s"cut stratum landed only in $splitsOfA")
  }

  test("inputExpectations: a failing rule aborts before any stage; passing rules cost-gate through") {
    val corpus = Seq(
      (1L, "plain text one"),
      (1L, "plain text two"), // duplicate id → UniqueRate fails
      (3L, "plain text three")
    ).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      CurationPipeline.run(corpus, "text", "doc_id",
        CurationPipeline.Config(inputExpectations = Seq(
          graft.operators.Checks.UniqueRate("doc_id", 1.0))))(_.count())
    }
    assert(ex.getMessage.contains("unique_rate(doc_id)"))
    // passing expectations: pipeline runs normally
    val n = CurationPipeline.run(corpus.filter(col("doc_id") =!= 1L), "text", "doc_id",
      CurationPipeline.Config(inputExpectations = Seq(
        graft.operators.Checks.UniqueRate("doc_id", 1.0),
        graft.operators.Checks.NonNullRate("text", 1.0))))(_.count())
    assert(n === 1L)
  }

  test("no eval set, no quality floor: only scrub/line/dedup stages act") {
    val corpus = Seq(
      (1L, "plain text one"),
      (2L, "plain text one"), // exact dup
      (3L, "plain text three")
    ).toDF("doc_id", "text")
    val ids = CurationPipeline.run(corpus, "text", "doc_id")(
      _.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(ids == Set(1L, 3L))
    // the lazy plan form exposes the same schema without executing
    assert(CurationPipeline.curate(corpus, "text", "doc_id").columns.toSeq ==
      Seq("doc_id", "text", "quality", "split"))
  }

  test("unicodeNorm stage: mixed composed/decomposed boilerplate collapses for the line rule") {
    import spark.implicits._
    // the same boilerplate line in three byte forms: composed, decomposed,
    // composed — only NFC makes the corpus-wide count reach minLineCount=3
    val composed = "Caf\u00e9 newsletter footer"
    val decomposed = "Cafe\u0301 newsletter footer"
    val corpus = Seq(
      (1L, s"$composed\nkeep one"),
      (2L, s"$decomposed\nkeep two"),
      (3L, s"$composed\nkeep three")
    ).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minQuality = -1.0,
      splits = Seq(("train", 1.0)))
    def texts(c: CurationPipeline.Config): Map[Long, String] =
      CurationPipeline.run(corpus, "text", "doc_id", c)(
        _.select("doc_id", "text").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap)
    // without normalization the decomposed copy keeps the count at 2+1:
    // the rule never fires and every footer survives
    val raw = texts(cfg)
    assert(raw.values.forall(_.contains("newsletter footer")))
    // with NFC the three forms are one line occurring 3 times -> deleted
    // everywhere, and doc 2's surviving text is byte-identical composed
    val nfc = texts(cfg.copy(unicodeNorm = Some("NFC")))
    assert(nfc.values.forall(!_.contains("newsletter footer")))
    assert(nfc(2L) == "keep two")
  }

  test("stripHtml stage: markup-shrouded boilerplate collapses for the hash stages") {
    import spark.implicits._
    // one body wrapped in three different markups: only tag-stripping
    // makes the exact-dedup stage see them as the same document
    val corpus = Seq(
      (1L, "<p>only unique content</p>"),
      (2L, "<div><b>same</b> doc body</div>"),
      (3L, "<span>same</span> doc <i>body</i>"),
      (4L, "same doc body")
    ).toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minQuality = -1.0, minLineCount = 99,
      splits = Seq(("train", 1.0)))
    def ids(c: CurationPipeline.Config): Set[Long] =
      CurationPipeline.run(corpus, "text", "doc_id", c)(
        _.select("doc_id").collect().map(_.getLong(0)).toSet)
    // without stripping, tag NAMES survive text normalization as words
    // ("div b same b doc body div" ≠ "same doc body") — all four docs
    // pass exact dedup
    assert(ids(cfg) == Set(1L, 2L, 3L, 4L))
    // with the stage on, the three markup variants of one body become
    // byte-identical and exact-dedup to a single survivor
    assert(ids(cfg.copy(stripHtml = true)).intersect(Set(2L, 3L, 4L)).size == 1)
    // and the surviving text is detagged
    val out = CurationPipeline.run(corpus, "text", "doc_id",
      cfg.copy(stripHtml = true))(
      _.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(out.values.forall(t => !t.contains("<") && !t.contains(">")))
  }

  test("streamingSink: MemoryStream batches drop exactly what one batch run drops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prose = "the cat is in the hat and it is flat for all of us to see " * 2
    // long shared core (≈33 distinct shingles) + a one-word tail:
    // Jaccard ≈ 0.94, comfortably past the 0.8 signature threshold
    val core = "the quick brown fox jumps over a lazy dog while it is raining " +
      "in the old town and every bird sings to find its nest before dark " +
      "clouds gather above them all for warmth tonight"
    val nearA = s"$core one"
    val nearB = s"$core two"
    // three ascending-id batches: exact dups within AND across batches,
    // one pairwise near-dup pair spanning batches, junk below the floor
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(
        (1L, s"$prose first keeper"),
        (2L, s"$prose first keeper"),      // within-batch exact dup of 1
        (3L, nearA)),
      Seq(
        (4L, s"$prose first keeper"),      // cross-batch exact dup of 1
        (5L, nearB),                       // cross-batch near dup of 3
        // keepers carry genuinely fresh text: the against-index arm
        // verifies SIGNATURE agreement (the index stores 16 longs per
        // doc, not shingle sets), the within-batch arm true Jaccard —
        // a pair sitting between the two estimates would diverge by
        // mode, which is a documented arm difference, not a recipe bug
        (6L, "every mountain stream carries cold water down to the " +
          "valley floor where it feeds the green meadows each spring")),
      Seq(
        (7L, nearB),                       // cross-batch EXACT dup of 5 (dropped doc: must stay dropped)
        (8L, "@@@ ### $$$ %%% ^^^ &&&"),   // junk below the quality floor
        (9L, "the harbor lights glow softly when the evening boats " +
          "return with their catch and the town gathers to meet them"),
        // near-dup of batch-1 keeper 6: drops ONLY if the signature
        // index actually GREW at batch 1 — pre-r17 the grow legs'
        // own appends recached-by-path and recomputed the (merely
        // persisted) survivor frame against the freshly-grown
        // fingerprint index, self-matching the whole batch, so the
        // signature index silently stopped growing after batch 0
        (10L, "every mountain stream carries cold water down to the " +
          "valley floor where it feeds the green meadows each spring today")))
    // minLineCount high: the corpus-wide line rule counts GLOBALLY in
    // batch mode but per-micro-batch in streaming — the one stage whose
    // thresholds are mode-sensitive, so the equivalence fixture keeps
    // it out of range (the e2e gate covers it in batch mode)
    val cfg = CurationPipeline.Config(minQuality = 0.3, minLineCount = 10)

    val indexDir = java.nio.file.Files.createTempDirectory("graft-cursink").toString
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val sinkFn = CurationPipeline.streamingSink("text", "doc_id", cfg, indexDir) {
      (curated, _) =>
        collected ++= curated.select("doc_id", "text", "split").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    }
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sinkFn).start()
    try batches.foreach { b => stream.addData(b: _*); query.processAllAvailable() }
    finally query.stop()

    val batchRun = CurationPipeline.run(
      batches.flatten.toDF("doc_id", "text"), "text", "doc_id", cfg)(
      _.select("doc_id", "text", "split").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))))

    assert(collected.map(_._1).toSet == batchRun.map(_._1).toSet,
      s"streaming ${collected.map(_._1).sorted} vs batch ${batchRun.map(_._1).sorted}")
    // full rows agree too — scrubbed text and the hash-split assignment
    // are both id-deterministic, so mode cannot change them
    assert(collected.toSet == batchRun.toSet)
    // and the cross-batch drops actually happened via the GROWN indexes
    assert(!collected.map(_._1).contains(4L) && !collected.map(_._1).contains(5L)
      && !collected.map(_._1).contains(7L))
    // 10 dropped via the signature index grown at BATCH 1 (doc 6) — the
    // second-batch-growth regression (see the fixture comment)
    assert(!collected.map(_._1).contains(10L) && collected.map(_._1).contains(6L))
    // replaying a micro-batch recomputes the SAME survivors: the priors
    // anti-join the batch's own ids, so a retry after a failed
    // checkpoint commit sees exactly the first attempt's index state
    val replay = scala.collection.mutable.ArrayBuffer.empty[Long]
    CurationPipeline.streamingSink("text", "doc_id", cfg, indexDir) {
      (curated, _) => replay ++= curated.select("doc_id").as[Long].collect()
    }.apply(batches(2).toDF("doc_id", "text"), 2L)
    assert(replay.toSet ==
      collected.collect { case (id, _, _) if id >= 7L => id }.toSet,
      s"replay ${replay.sorted} vs first attempt " +
        collected.map(_._1).filter(_ >= 7L).sorted)
  }

  // ------------------------------------------------- r14: multimodal arm

  private def pngBytes(w: Int, h: Int)(color: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, color(x, y))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("imageDedup stage: re-encoded image copies drop; text stages untouched") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),   // image = 2x-rescaled copy of doc 1's -> dropped
      (3L, "how vexingly quick daft zebras jump today"), // unrelated image -> kept
      (4L, "sphinx of black quartz judge my vow now"),   // undecodable payload -> never dropped
      (5L, "jived fox nymph grabs quick waltz tonight")  // no payload row at all -> never dropped
    ).toDF("doc_id", "text")
    // a gradient image and its nearest-resize 2x upscale share dHash
    // bits (MultimodalSpec pins rescale invariance); the unrelated
    // checkerboard is far in Hamming space
    def grad(scale: Int) = pngBytes(9 * scale, 8 * scale) { (x, y) =>
      val g = (x / scale) * 28
      (g << 16) | (g << 8) | g
    }
    val checker = pngBytes(9, 8)((x, y) => if (((x + y) % 2) == 0) 0 else 0xffffff)
    val payloads = Seq(
      (1L, grad(1)),
      (2L, grad(2)),
      (3L, checker),
      (4L, Array[Byte](1, 2, 3))
    ).toDF("doc_id", "payload")

    val cfg = CurationPipeline.Config(
      imageDedup = Some(CurationPipeline.ImageDedup(payloads)),
      minQuality = 0.0)
    val (rows, metrics) = CurationPipeline.runObserved(
      corpus, "text", "doc_id", cfg)(_.select("doc_id").as[Long].collect().toSet)
    assert(rows == Set(1L, 3L, 4L, 5L), rows.toString)
    // the stage has its own observed counter, between near-dedup and final
    assert(metrics("after_near_dedup") == 5L)
    assert(metrics("after_image_dedup") == 4L)
    // without the stage nothing image-related drops
    val plain = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(plain == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("imageDedup never deletes the kept copy when the pair's low id was already dropped") {
    // doc 2's TEXT exact-duplicates doc 1 -> doc 2 drops in the text
    // stages; docs 2 and 3 carry the SAME image. Pairing all payloads
    // and anti-joining id_b would form (2, 3) and delete doc 3 too --
    // every copy of that image content silently lost. Survivor-scoped
    // pairing keeps doc 3.
    def grad(scale: Int) = pngBytes(9 * scale, 8 * scale) { (x, y) =>
      val g = (x / scale) * 28
      (g << 16) | (g << 8) | g
    }
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact text dup of 1
      (3L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text")
    val payloads = Seq((2L, grad(1)), (3L, grad(2))).toDF("doc_id", "payload")
    val kept = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(
        imageDedup = Some(CurationPipeline.ImageDedup(payloads)),
        minQuality = 0.0))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(kept == Set(1L, 3L), kept.toString)
  }

  test("imageDedup honors keeper: best keeps the higher-quality member of an image cluster") {
    def grad(scale: Int) = pngBytes(9 * scale, 8 * scale) { (x, y) =>
      val g = (x / scale) * 28
      (g << 16) | (g << 8) | g
    }
    // distinct texts (no text-stage pairing), same image; doc 1's text
    // is junk, doc 2's is clean prose -> composite quality ranks 2 first
    val corpus = Seq(
      (1L, "zzz qqq zzz qqq zzz qqq !!! ??? %%% ### @@@ zzz qqq zzz"),
      (2L, "the quick brown fox jumps over the lazy dog every single day")
    ).toDF("doc_id", "text")
    val payloads = Seq((1L, grad(1)), (2L, grad(2))).toDF("doc_id", "payload")
    def kept(keeper: String) = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(
        imageDedup = Some(CurationPipeline.ImageDedup(payloads)),
        keeper = keeper, minQuality = 0.0))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(kept(CurationPipeline.KeepFirst) == Set(1L))
    assert(kept(CurationPipeline.KeepBest) == Set(2L))
  }

  test("imageDedup id contract: non-castable TYPES rejected up front, numeric " +
    "strings key correctly, non-numeric string VALUES fail loud at runtime") {
    val corpus = Seq((1L, "some text here")).toDF("doc_id", "text")
    // a type that can never key the integral indexes → config-time reject
    val badType = Seq((1.5, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.run(corpus, "text", "doc_id",
        CurationPipeline.Config(
          imageDedup = Some(CurationPipeline.ImageDedup(badType)),
          minQuality = 0.0))(_.count())
    }
    assert(e.getMessage.contains("must be an integral"), e.getMessage)
    // numeric STRING ids ("1") cast losslessly and are accepted (the r18
    // guard rejected StringType outright — a behavioral regression for
    // pipelines whose ids arrive as numeric strings)
    val numericStr = Seq(("1", Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val ok = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(
        imageDedup = Some(CurationPipeline.ImageDedup(numericStr)),
        minQuality = 0.0))(_.count())
    assert(ok == 1L)
    // a non-numeric string VALUE fails loud (raise_error in the cast),
    // never silently NULLing the payload out of dedup
    val badValue = Seq(("not-a-number", Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val e2 = intercept[Exception] {
      CurationPipeline.run(corpus, "text", "doc_id",
        CurationPipeline.Config(
          imageDedup = Some(CurationPipeline.ImageDedup(badValue)),
          minQuality = 0.0))(_.count())
    }
    val msg = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("does not cast losslessly") ||
      msg.contains("CAST_INVALID_INPUT") ||
      msg.contains("not-a-number"), s"$e2")
    // a FRACTIONAL numeric string must also fail loud: non-ANSI
    // string→long TRUNCATES ('1.5' → 1), which would silently collide
    // distinct ids onto one key — the round-trip guard catches it
    val fractional = Seq(("1.5", Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val e3 = intercept[Exception] {
      CurationPipeline.run(corpus, "text", "doc_id",
        CurationPipeline.Config(
          imageDedup = Some(CurationPipeline.ImageDedup(fractional)),
          minQuality = 0.0))(_.count())
    }
    val msg3 = Option(e3.getMessage).getOrElse("") +
      Option(e3.getCause).map(_.getMessage).getOrElse("")
    assert(msg3.contains("does not cast losslessly") ||
      msg3.contains("CAST_INVALID_INPUT") || msg3.contains("1.5"), s"$e3")
  }

  test("c4Clean stage: boilerplate drops before every hash-keyed stage; text rewritten") {
    val prose = Seq(
      "The committee approved the budget on Tuesday.",
      "Several members raised concerns about timing!",
      "Was the quorum requirement actually satisfied?",
      "The chair promised a written follow-up shortly.",
      "Minutes will be published on the public record.")
    val corpus = Seq(
      (1L, ("Cookie Settings Menu Home" +: prose).mkString("\n")),
      (2L, "Nav Only Header\nFooter Links Page")
    ).toDF("doc_id", "text")
    val got = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(c4Clean = true, minQuality = 0.0,
        minLineCount = 10))(
      _.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(got.keySet == Set(1L))
    assert(got(1L) == prose.mkString("\n"), got(1L))
    // off by default: nothing drops, text untouched
    val off = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0, minLineCount = 10))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(off == Set(1L, 2L))
  }

  test("c4Clean + uax29 fails loud without an explicit terminator choice; CJK arm curates CJK") {
    val corpus = Seq(
      (1L, "天地玄黄、宇宙は洪荒です。\n日月は盈昃、辰宿は列張します。\nメニュー ホーム リンク"),
      (2L, "ナビゲーション\nフッター リンク")) // boilerplate only
      .toDF("doc_id", "text")
    val uax = graft.operators.TextAnalysis.Uax29Tokenizer
    // the double-fault guard: c4Clean's default ASCII terminal set
    // would delete every CJK line before uax29 ever tokenizes
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.run(corpus, "text", "doc_id",
        CurationPipeline.Config(c4Clean = true, tokenizer = uax,
          minQuality = 0.0, minLineCount = 10, c4MinLines = 1,
          c4MinWordsPerLine = 1))(_.count())
    }
    assert(e.getMessage.contains("c4Terminators"), e.getMessage)
    // with the explicit CJK arm the prose survives, boilerplate dies
    val got = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(c4Clean = true, tokenizer = uax,
        minQuality = 0.0, minLineCount = 10, c4MinLines = 1,
        c4MinWordsPerLine = 1,
        c4Terminators = Some(graft.functions.C4LinesExpr.CjkTerminators)))(
      _.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(got.keySet == Set(1L))
    assert(got(1L) == "天地玄黄、宇宙は洪荒です。\n日月は盈昃、辰宿は列張します。")
    // an explicit ASCII choice is honored (insisting on the paper's
    // English-only rule is allowed, just never silent)
    val asciiKept = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(c4Clean = true, tokenizer = uax,
        minQuality = 0.0, minLineCount = 10, c4MinLines = 1,
        c4MinWordsPerLine = 1,
        c4Terminators = Some(graft.functions.C4LinesExpr.AsciiTerminators)))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(asciiKept == Set.empty[Long])
  }

  test("tokenizer=uax29 threads to exact dedup: distinct CJK docs stop collapsing") {
    // under the whitespace default every pure-CJK doc normalizes to ""
    // -> ONE fingerprint -> catastrophic over-dedup; uax29 keys on the
    // segmented words and keeps them apart
    val corpus = Seq(
      (1L, "天地玄黄宇宙洪荒"),
      (2L, "日月盈昃辰宿列张"),
      (3L, "天地玄黄宇宙洪荒")) // true duplicate of 1 -> dropped either way
      .toDF("doc_id", "text")
    def kept(cfg: CurationPipeline.Config) =
      CurationPipeline.run(corpus, "text", "doc_id", cfg)(
        _.select("doc_id").as[Long].collect().toSet)
    assert(kept(CurationPipeline.Config(minQuality = 0.0)) == Set(1L))
    assert(kept(CurationPipeline.Config(minQuality = 0.0,
      tokenizer = graft.operators.TextAnalysis.Uax29Tokenizer)) == Set(1L, 2L))
  }

  test("keeper=best keeps each duplicate group's higher-quality member") {
    val prose = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra tango"
    val corpus = Seq(
      (1L, prose + " @@@ ### $$$ %%%"),    // junk-laden near-dup copy
      (2L, prose + " ending words"),       // the clean copy (higher id!)
      (3L, "unrelated: text, with; lots!!! of??? punctuation %% marks ##"),
      (4L, "unrelated text with lots of punctuation marks")) // exact twin of 3
      .toDF("doc_id", "text")
    def kept(cfg: CurationPipeline.Config) =
      CurationPipeline.run(corpus, "text", "doc_id", cfg)(
        _.select("doc_id").as[Long].collect().toSet)
    assert(kept(CurationPipeline.Config(minQuality = 0.0)) == Set(1L, 3L))
    assert(kept(CurationPipeline.Config(minQuality = 0.0,
      keeper = CurationPipeline.KeepBest)) == Set(2L, 4L))
    intercept[IllegalArgumentException] {
      kept(CurationPipeline.Config(keeper = "nope"))
    }
  }

  test("videoDedup/audioDedup stages: re-encoded copies drop; counters observed") {
    val ramp = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val g = x * 10; img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    val gif = graft.gates.LlmGates.encodeAnimatedGif(Seq(ramp, ramp))
    val avi = graft.gates.LlmGates.encodeAvi(Seq(ramp, ramp))
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),   // video = AVI re-encode of 1's GIF -> dropped
      (3L, "how vexingly quick daft zebras jump today")  // no payload -> kept
    ).toDF("doc_id", "text")
    val vids = Seq((1L, gif), (2L, avi)).toDF("doc_id", "payload")
    val (rows, metrics) = CurationPipeline.runObserved(
      corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0,
        videoDedup = Some(CurationPipeline.VideoDedup(vids, n = 2))))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(rows == Set(1L, 3L), rows.toString)
    assert(metrics("after_video_dedup") == 2L)
    // audio arm: volume-scaled copy drops (amplitude invariance)
    val Wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val a1 = Array.tabulate(65)(j => ((j + 1) * 300).toShort)
    val a2 = Array.tabulate(65)(j => ((j + 1) * 450).toShort)
    val auds = Seq(
      (1L, graft.gates.LlmGates.encodeAudio(Wave, 8000, 1, a1, bigEndian = false)),
      (2L, graft.gates.LlmGates.encodeAudio(Wave, 8000, 1, a2, bigEndian = false)))
      .toDF("doc_id", "payload")
    val (rowsA, metricsA) = CurationPipeline.runObserved(
      corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0,
        audioDedup = Some(CurationPipeline.AudioDedup(auds))))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(rowsA == Set(1L, 3L), rowsA.toString)
    assert(metricsA("after_audio_dedup") == 2L)
  }

  test("streamingSink media parity: cross-batch image dups drop via the grown artifact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def grad(scale: Int) = pngBytes(9 * scale, 8 * scale) { (x, y) =>
      val g = (x / scale) * 28
      (g << 16) | (g << 8) | g
    }
    val checker = pngBytes(9, 8)((x, y) => if (((x + y) % 2) == 0) 0 else 0xffffff)
    // texts all distinct and clean — only the IMAGE stage can drop;
    // batch 0 plants a within-batch rescaled copy, batch 1 a rescaled
    // copy of a batch-0 SURVIVOR (must drop via the grown banded
    // artifact — batch-0 payloads never re-decoded), plus a genuinely
    // new image, an undecodable payload and a payload-free doc (kept)
    val batches: Seq[Seq[(Long, String, Array[Byte])]] = Seq(
      Seq(
        (1L, "the quick brown fox jumps over the lazy dog", grad(1)),
        (2L, "pack my box with five dozen liquor jugs", grad(2)), // within-batch copy of 1
        (3L, "sphinx of black quartz judge my vow now", Array[Byte](1, 2, 3))),
      Seq(
        (11L, "how vexingly quick daft zebras jump today", grad(4)), // cross-batch copy of 1
        (12L, "jived fox nymph grabs quick waltz tonight", checker), // new image
        (13L, "five quacking zephyrs jolt my wax bed again", null)))
    val cfg = CurationPipeline.Config(
      imageDedup = Some(CurationPipeline.ImageDedup(
        payloads = spark.emptyDataFrame)), // streaming arm derives per-batch payloads
      minQuality = 0.0)
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-cursink-img").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sinkFn = CurationPipeline.streamingSink("text", "doc_id", cfg, indexDir) {
      (curated, _) => got ++= curated.select("doc_id").as[Long].collect()
    }
    val stream = MemoryStream[(Long, String, Array[Byte])]
    val query = stream.toDF().toDF("doc_id", "text", "payload")
      .writeStream.foreachBatch(sinkFn).start()
    try batches.foreach { b => stream.addData(b: _*); query.processAllAvailable() }
    finally query.stop()
    // batch-mode reference: ONE pipeline run over the union with the
    // payload side-table split out (the batch-arm contract)
    val union = batches.flatten.map { case (i, t, _) => (i, t) }.toDF("doc_id", "text")
    val payloads = batches.flatten.collect { case (i, t, p) if p != null => (i, p) }
      .toDF("doc_id", "payload")
    val batchKept = CurationPipeline.run(union, "text", "doc_id",
      cfg.copy(imageDedup = Some(CurationPipeline.ImageDedup(payloads))))(
      _.select("doc_id").as[Long].collect().toSet)
    assert(got.toSet == batchKept,
      s"stream ${got.sorted} vs batch ${batchKept.toSeq.sorted}")
    assert(got.toSet == Set(1L, 3L, 12L, 13L))
    // the grown artifact is the PRE-BANDED form holding only survivors'
    // decodable images
    val idx = spark.read.parquet(s"$indexDir/dhash")
    assert(idx.columns.toSet == Set("band", "band_key", "index_id", "index_hash"))
    assert(idx.select("index_id").distinct().as[Long].collect().toSet
      == Set(1L, 12L))
    // a replayed micro-batch recomputes the SAME survivors (the index
    // anti-join on the batch id set hides the first attempt's append)
    val replay = scala.collection.mutable.ArrayBuffer.empty[Long]
    CurationPipeline.streamingSink("text", "doc_id", cfg, indexDir) {
      (curated, _) => replay ++= curated.select("doc_id").as[Long].collect()
    }.apply(batches(1).toDF("doc_id", "text", "payload"), 1L)
    assert(replay.toSet == Set(12L, 13L), replay.toString)
  }

  test("softDedup: hard vs soft on the same plants — soft keeps the cluster " +
    "with 1/|cluster| weights, co-splits its members, and charges the " +
    "budget expected mass") {
    // the DedupSpec softDedupWeights fixture: docs 1-3 close into one
    // transitive near-dup cluster (first/last word varied around a
    // 40-word base), doc 9 is a singleton
    val base = (0 until 40).map(i => s"w$i")
    val corpus = Seq(
      (1L, ("zz" +: base.tail).mkString(" ")),
      (2L, base.mkString(" ")),
      (3L, (base.init :+ "yy").mkString(" ")),
      (9L, "completely unrelated text about something else entirely")
    ).toDF("doc_id", "text")

    // HARD (default): the cluster collapses to its lowest id
    val hard = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0))(_.collect())
    assert(hard.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 9L))
    assert(!hard.head.schema.fieldNames.contains("soft_weight"))

    // SOFT: nobody drops; weights carry the cluster mass
    val soft = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0, softDedup = true))(_.collect())
    assert(soft.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L, 9L))
    val w = soft.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("soft_weight")).toMap
    assert(w(1L) == 1.0 / 3 && w(2L) == 1.0 / 3 && w(3L) == 1.0 / 3)
    assert(w(9L) == 1.0)
    // forced leak-safe splits: retained twins share one split label
    val splits = soft.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(Set(splits(1L), splits(2L), splits(3L)).size == 1, splits.toString)

    // budget charges tokens × weight (expected mass): each cluster doc
    // has 40 tokens but charges ceil(40/3) = 14; the singleton has 7.
    // Budget 49 = 7 + 3×14 fits ALL FOUR docs — unweighted accounting
    // (40×3 + 7 = 127) would not — while budget 20 still binds.
    val budgeted = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0, softDedup = true,
        tokenBudget = Some(49L)))(_.collect())
    assert(budgeted.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L, 9L),
      budgeted.mkString("\n"))
    val tight = CurationPipeline.run(corpus, "text", "doc_id",
      CurationPipeline.Config(minQuality = 0.0, softDedup = true,
        tokenBudget = Some(20L)))(_.collect())
    assert(tight.length < 4, tight.mkString("\n"))

    // streaming sink: soft mode needs the signature pairing surface
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.streamingSink("text", "doc_id",
        CurationPipeline.Config(softDedup = true), "/tmp/unused",
        nearDup = false) { (_, _) => () }
    }
    assert(e.getMessage.contains("nearDup"), e.getMessage)
  }

  test("streamingSink softDedup: cross-batch twins pair (never prune), the " +
    "label fold matches a full rebuild, weights are current at emission, " +
    "and replay is idempotent") {
    val base = (0 until 40).map(i => s"w$i")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-softstream").toString
    val cfg = CurationPipeline.Config(minQuality = 0.0, softDedup = true)
    val out = scala.collection.mutable.Buffer[(Long, Long, Double)]()
    val sink = CurationPipeline.streamingSink("text", "doc_id", cfg, idxDir) {
      (c, bid) =>
        out ++= c.select(col("doc_id"), col("soft_weight"))
          .as[(Long, Double)].collect().map { case (d, w) => (bid, d, w) }
    }
    val b0 = Seq(
      (1L, base.mkString(" ")),
      (9L, "completely unrelated text about something else entirely"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (11L, ("zz" +: base.tail).mkString(" ")), // near-dup of 1, via the index
      (19L, "another unrelated body of prose holding its own meaning"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (21L, (base.init :+ "yy").mkString(" "))) // near-dup of 1 (and thus 11)
      .toDF("doc_id", "text")
    sink(b0, 0L); sink(b1, 1L); sink(b2, 2L)
    val w = out.map { case (b, d, wt) => (b, d) -> wt }.toMap
    assert(w.size == 5, out.toString) // NOBODY was pruned cross-batch
    assert(w((0L, 1L)) == 1.0 && w((0L, 9L)) == 1.0)
    assert(w((1L, 11L)) == 0.5, out.toString) // cluster {1, 11} at emission
    assert(w((1L, 19L)) == 1.0)
    assert(w((2L, 21L)) == 1.0 / 3, out.toString) // cluster {1, 11, 21}
    // the label artifact is GENERATIONAL (r20): per batch, only the
    // CHANGED labels — resolved latest-version-wins it equals the
    // batch-mode rebuild over the union corpus (duplicate-content
    // plants — the updateClusterLabels equality scope)
    def resolved(): Map[Long, Long] = spark.read
      .schema("doc_id BIGINT, cluster_id BIGINT, version BIGINT")
      .parquet((0 to 2).map(g => s"$idxDir/labels/g$g"): _*)
      .groupBy(col("doc_id"))
      .agg(max_by(col("cluster_id"), col("version")).as("cluster_id"))
      .as[(Long, Long)].collect().toMap
    val labels = resolved()
    assert(labels == Map(1L -> 1L, 11L -> 1L, 21L -> 1L, 9L -> 9L, 19L -> 19L),
      labels.toString)
    // delta-sized generations: each batch wrote only ITS changed rows
    val genSizes = (0 to 2).map(g =>
      spark.read.parquet(s"$idxDir/labels/g$g").count())
    assert(genSizes == Seq(2L, 2L, 1L), genSizes.toString)
    // and the signed size deltas sum to the resolved-label recount —
    // the counted-merge parity arm
    val sums = spark.read.schema("cluster_id BIGINT, n_delta BIGINT")
      .parquet((0 to 2).map(g => s"$idxDir/labels/sizes-g$g"): _*)
      .groupBy("cluster_id").agg(sum("n_delta").as("n"))
      .as[(Long, Long)].collect().toMap
    val recount = labels.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(sums == recount, s"deltas $sums vs recount $recount")
    // replaying the last batch (a failed checkpoint commit) re-emits the
    // SAME weights against the pre-attempt label state — the index rows
    // its first attempt appended are shielded by the batch-id anti-join,
    // and it overwrites its own generation (same delta rows)
    out.clear()
    sink(b2, 2L)
    assert(out.toList == List((2L, 21L, 1.0 / 3)), out.toString)
    val replayLabels = resolved()
    assert(replayLabels == labels, replayLabels.toString)
    assert(spark.read.parquet(s"$idxDir/labels/g2").count() == 1L)
    // the END-STATE weight reader: batch-0 doc 1 was EMITTED at 1.0 but
    // its cluster grew to 3 — currentSoftWeights reads 1/3 for all
    // members, 1.0 for the singletons (the authoritative mass source
    // the as-of-emission contract points at)
    val cur = CurationPipeline.currentSoftWeights(spark, idxDir)
      .select(col("doc_id"), col("cluster_id"), col("soft_weight"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, c, w) => d -> ((c, w)) }.toMap
    assert(cur(1L) == ((1L, 1.0 / 3)) && cur(11L) == ((1L, 1.0 / 3)) &&
      cur(21L) == ((1L, 1.0 / 3)), cur.toString)
    assert(cur(9L) == ((9L, 1.0)) && cur(19L) == ((19L, 1.0)))
    // no artifact → fail loud, not an empty frame
    val e2 = intercept[IllegalArgumentException] {
      CurationPipeline.currentSoftWeights(spark,
        java.nio.file.Files.createTempDirectory("graft-nolabels").toString)
    }
    assert(e2.getMessage.contains("no label artifact"), e2.getMessage)
  }

  test("streamingSink softDedup: a cross-batch cluster MERGE re-labels the " +
    "absorbed members (departure deltas), compaction is reader-identity, " +
    "and an r19 v-layout fails loud") {
    val base = (0 until 40).map(i => s"w$i")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-softmerge").toString
    val cfg = CurationPipeline.Config(minQuality = 0.0, softDedup = true)
    val out = scala.collection.mutable.Buffer[(Long, Long, Double)]()
    val sink = CurationPipeline.streamingSink("text", "doc_id", cfg, idxDir) {
      (c, bid) =>
        out ++= c.select(col("doc_id"), col("soft_weight"))
          .as[(Long, Double)].collect().map { case (d, w) => (bid, d, w) }
    }
    // batch 0: docs 5/6 pair WITHIN the batch -> cluster label 5
    sink(Seq(
      (5L, base.mkString(" ")),
      (6L, ("zz" +: base.tail).mkString(" ")))
      .toDF("doc_id", "text"), 0L)
    assert(out.toSet == Set((0L, 5L, 0.5), (0L, 6L, 0.5)), out.toString)
    // batch 1: doc 3 (a LOWER id) pairs into the cluster via the index
    // -> min-id label moves to 3; docs 5 AND 6 are re-labeled
    sink(Seq((3L, (base.init :+ "yy").mkString(" ")))
      .toDF("doc_id", "text"), 1L)
    assert(out.toSet.contains((1L, 3L, 1.0 / 3)), out.toString)
    // generation g1 carries the drop row AND both departures
    val g1 = spark.read
      .schema("doc_id BIGINT, cluster_id BIGINT, version BIGINT")
      .parquet(s"$idxDir/labels/g1")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(g1 == Set((3L, 3L), (5L, 3L), (6L, 3L)), g1.toString)
    // signed deltas: the absorbed cluster 5 nets to ZERO
    val sums = spark.read.schema("cluster_id BIGINT, n_delta BIGINT")
      .parquet(s"$idxDir/labels/sizes-g0", s"$idxDir/labels/sizes-g1")
      .groupBy("cluster_id").agg(sum("n_delta").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(sums == Map(3L -> 3L, 5L -> 0L), sums.toString)
    // batch 2: doc 1 relabels the cluster THROUGH its min doc 3, whose
    // own artifact row is singleton-shaped (3 -> 3) — the pruned prior
    // read must still find it via the cluster-min leg, or 3's label
    // would silently stay behind while 5/6 moved
    sink(Seq((1L, ("zz" +: base.init.tail :+ "yy").mkString(" ")))
      .toDF("doc_id", "text"), 2L)
    assert(out.toSet.contains((2L, 1L, 1.0 / 4)), out.toString)
    val g2 = spark.read
      .schema("doc_id BIGINT, cluster_id BIGINT, version BIGINT")
      .parquet(s"$idxDir/labels/g2")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(g2 == Set((1L, 1L), (3L, 1L), (5L, 1L), (6L, 1L)), g2.toString)
    // batch 3: an unrelated singleton — the replay-window generation
    // compaction must leave untouched
    sink(Seq((7L, "completely unrelated text about something else entirely"))
      .toDF("doc_id", "text"), 3L)
    val before = CurationPipeline.currentSoftWeights(spark, idxDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(before == Set((1L, 1L, 1.0 / 4), (3L, 1L, 1.0 / 4),
      (5L, 1L, 1.0 / 4), (6L, 1L, 1.0 / 4), (7L, 7L, 1.0)), before.toString)
    // compaction folds everything BELOW the newest generation (g0-g2 ->
    // g2; g3 stays — the in-flight batch's replay must still resolve
    // its pre-attempt state) and is identity on the reader
    CurationPipeline.compactSoftLabels(spark, idxDir)
    val gens = new java.io.File(s"$idxDir/labels").listFiles()
      .map(_.getName).filter(_.matches("g\\d+")).toSeq.sorted
    assert(gens == Seq("g2", "g3"), gens.toString)
    val after = CurationPipeline.currentSoftWeights(spark, idxDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before, after.toString)
    // zero-sum absorbed clusters are gone from the compacted sizes; the
    // newest generation's sizes are untouched
    val compSizes = spark.read.schema("cluster_id BIGINT, n_delta BIGINT")
      .parquet(s"$idxDir/labels/sizes-g2")
      .as[(Long, Long)].collect().toMap
    assert(compSizes == Map(1L -> 4L), compSizes.toString)
    val g3Sizes = spark.read.schema("cluster_id BIGINT, n_delta BIGINT")
      .parquet(s"$idxDir/labels/sizes-g3")
      .as[(Long, Long)].collect().toMap
    assert(g3Sizes == Map(7L -> 1L), g3Sizes.toString)
    // a REPLAY of the newest batch after compaction resolves the
    // compacted state and lands identically (the reason the newest
    // generation is never folded)
    sink(Seq((7L, "completely unrelated text about something else entirely"))
      .toDF("doc_id", "text"), 3L)
    val replay = CurationPipeline.currentSoftWeights(spark, idxDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(replay == before, replay.toString)
    // FORGET the cluster-MIN doc: the survivors keep its id as a GHOST
    // KEY (stable for splits and later folds), mass drops to 3
    CurationPipeline.forgetSoftLabels(spark, idxDir,
      Seq(1L).toDF("doc_id"), "doc_id")
    val afterForget = CurationPipeline.currentSoftWeights(spark, idxDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(afterForget == Set((3L, 1L, 1.0 / 3), (5L, 1L, 1.0 / 3),
      (6L, 1L, 1.0 / 3), (7L, 7L, 1.0)), afterForget.toString)
    // a LATER batch folds into the ghost-keyed cluster correctly: doc 2
    // (a FRESH variant — an exact copy of a prior doc would be dropped
    // by the exact prune, which hard-drops even in soft mode) pairs
    // with the survivors via the index, the component min is the ghost
    // id 1, and the mass counts only live members (4, not 5)
    sink(Seq((2L, ("aa" +: base.tail).mkString(" ")))
      .toDF("doc_id", "text"), 4L)
    val afterGrow = CurationPipeline.currentSoftWeights(spark, idxDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(afterGrow == Set((2L, 1L, 1.0 / 4), (3L, 1L, 1.0 / 4),
      (5L, 1L, 1.0 / 4), (6L, 1L, 1.0 / 4), (7L, 7L, 1.0)),
      afterGrow.toString)
    // a takedown with an uncastable id type fails loud, never a silent
    // no-op (the streamingSink id-guard at the compliance entry point)
    val badId = intercept[IllegalArgumentException] {
      CurationPipeline.forgetSoftLabels(spark, idxDir,
        Seq(1.5).toDF("doc_id"), "doc_id")
    }
    assert(badId.getMessage.contains("integral"), badId.getMessage)
    // an r19 full-rewrite layout fails loud instead of misreading
    val legacy = java.nio.file.Files
      .createTempDirectory("graft-softlegacy").toString
    new java.io.File(s"$legacy/labels/v2").mkdirs()
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.currentSoftWeights(spark, legacy)
    }
    assert(e.getMessage.contains("full-rewrite-era"), e.getMessage)
    // an INTERRUPTED publish (crash between publishSoftLabels' two
    // renames: `labels` gone, `labels.compact` staged) fails loud —
    // the silent-empty read would rebuild a fresh artifact and corrupt
    // every cross-batch weight (the r20 advice item)
    val interrupted = java.nio.file.Files
      .createTempDirectory("graft-softinterrupted").toString
    new java.io.File(s"$interrupted/labels.compact/g3").mkdirs()
    val e2 = intercept[IllegalStateException] {
      CurationPipeline.currentSoftWeights(spark, interrupted)
    }
    assert(e2.getMessage.contains("interrupted"), e2.getMessage)
    // same signature one rename earlier: live renamed to .old, staging
    // not yet published
    val interrupted2 = java.nio.file.Files
      .createTempDirectory("graft-softinterrupted2").toString
    new java.io.File(s"$interrupted2/labels.old/g3").mkdirs()
    val e3 = intercept[IllegalStateException] {
      CurationPipeline.currentSoftWeights(spark, interrupted2)
    }
    assert(e3.getMessage.contains("interrupted"), e3.getMessage)
  }

  test("batch softDedup x prior indexes: signature prior PAIRS (twins " +
    "weighted, split co-keyed on the index id), simhash/embedding priors " +
    "fail loud") {
    val base = (0 until 40).map(i => s"w$i")
    val prior = Seq(
      (1L, base.mkString(" ")),
      (9L, "completely unrelated text about something else entirely"))
      .toDF("doc_id", "text")
    val cfgBase = CurationPipeline.Config(minQuality = 0.0)
    val sigIdx = CurationPipeline.signatureIndex(prior, "text", "doc_id", cfgBase)
    def batch = Seq(
      (11L, ("zz" +: base.tail).mkString(" ")),
      (19L, "another unrelated body of prose holding its own meaning"),
      (21L, (base.init :+ "yy").mkString(" ")))
      .toDF("doc_id", "text")
    val soft = CurationPipeline.run(batch, "text", "doc_id",
      cfgBase.copy(priorSignatures = Some(sigIdx), softDedup = true))(_.collect())
    assert(soft.map(_.getAs[Long]("doc_id")).toSet == Set(11L, 19L, 21L))
    val w = soft.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("soft_weight")).toMap
    // the indexed twin (doc 1) counts toward the mass: 1/3, not 1/2
    assert(w(11L) == 1.0 / 3 && w(21L) == 1.0 / 3 && w(19L) == 1.0, w.toString)
    // forced leak-safe splits key on the COMBINED cluster (min id 1 —
    // an index-side id): both retained twins share a split
    val splits = soft.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(splits(11L) == splits(21L), splits.toString)
    // the unsupported prior arms fail loud, naming the pairing route
    val simhashes = CurationPipeline.simhashIndex(prior, "text", "doc_id", cfgBase)
    val e1 = intercept[IllegalArgumentException] {
      CurationPipeline.curate(batch, "text", "doc_id",
        cfgBase.copy(priorSimhashes = Some(simhashes), softDedup = true))
    }
    assert(e1.getMessage.contains("priorSimhashes"), e1.getMessage)
    val ep = CurationPipeline.EmbeddingPrior(
      spark.emptyDataFrame, spark.emptyDataFrame)
    val e2 = intercept[IllegalArgumentException] {
      CurationPipeline.curate(batch, "text", "doc_id",
        cfgBase.copy(priorEmbeddings = Some(ep), softDedup = true))
    }
    assert(e2.getMessage.contains("priorEmbeddings"), e2.getMessage)
  }

  test("runObserved: a repeated curation action compiles no class after its first run") {
    // the benchmark's curate pass in miniature: JSON-lines corpus and eval
    // set, every default stage plus decontamination, one parquet write.
    // One such action generates ~100 classes; the class count follows the
    // plan's shape, not the data size. At Spark's default cache size (100)
    // each repeat recompiled about half of them. A second cause, seen in
    // 2 of 4 benchmark-corpus runs once the cache was large: AQE numbered
    // a whole-stage codegen stage differently on the repeat (ids follow
    // the order concurrent stages finish), and the id was part of the
    // class name, so equal code compiled again (6 and 10 classes).
    // GraftSession.codegenReuse covers both.
    val dir = Files.createTempDirectory("codegen-reuse")
    val prose = (i: Int) => s"entry $i tells of river $i and the town of ${i * 7} by the hill"
    val corpus = (0 until 60).map(i => (i.toLong, prose(i))) ++
      (0 until 5).map(i => (100L + i, prose(i))) ++ // exact twins
      (0 until 5).map(i => (200L + i, prose(i) + " too")) ++ // near twins
      (0 until 4).map(i => (300L + i, s"SHARE THIS PAGE\n${prose(50 + i)} again")) :+
      (400L, "what is the capital of assyria is the question we ask of every model today")
    corpus.toDF("id", "text").write.json(s"$dir/corpus")
    Seq((1L, "what is the capital of assyria is the question we ask of every model today"))
      .toDF("doc_id", "text").write.json(s"$dir/eval")
    def pass(): Map[String, Long] = {
      val cfg = CurationPipeline.Config(evalSet = Some(JsonLines.read(spark, s"$dir/eval")))
      CurationPipeline.runObserved(JsonLines.read(spark, s"$dir/corpus"), "text", "id", cfg) {
        _.write.mode("overwrite").parquet(s"$dir/out")
      }._2
    }
    val (first, firstCompiled) = classesCompiledDuring(pass())
    val (second, secondCompiled) = classesCompiledDuring(pass())
    assert(second == first)
    assert(first("after_exact_dedup") < first("scrubbed"), first.toString)
    assert(first("after_decontamination") < first("after_near_dedup"), first.toString)
    info(s"classes compiled: $firstCompiled, then $secondCompiled")
    assert(secondCompiled == 0,
      s"the second run compiled $secondCompiled classes (the first $firstCompiled)")
  }
}
