package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/**
 * Dedup operator behavior, including a recall property for MinHash-LSH
 * against exact all-pairs Jaccard over the sf0.001 documents table.
 */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("exact dedup collapses case/punctuation/whitespace variants, min-id keeper") {
    val df = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").collect()
    assert(out.length == 2)
    val hw = out.find(_.getAs[Long]("n_docs") == 3L).get
    assert(hw.getAs[Long]("keeper_id") == 1L)
    assert(out.find(_.getAs[Long]("n_docs") == 1L).get.getAs[Long]("keeper_id") == 4L)
  }

  test("shingles: k-grams over words, whole-text fallback under k words") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
    val sh = df.select(col("id"), Dedup.shingles(col("t"), 3).as("s"))
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("a b"))
  }

  test("minhash signature: length, determinism, identity on equal shingle sets") {
    val df = Seq((1L, "the quick brown fox"), (2L, "The QUICK brown fox!"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "text", "doc_id", k = 2, numHashes = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 8)
    // normalization makes the two docs' shingle sets identical
    assert(sigs(1L) == sigs(2L))
  }

  test("MinHash-LSH near-dup recall >= 0.9 vs exact all-pairs Jaccard at j >= 0.9") {
    val found = Dedup.nearDuplicates(docs, "text", "doc_id",
        k = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // exact truth by brute force (fine at 500 docs, test-only)
    val sets = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val a = sets.select(col("doc_id").as("ia"), col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("ib"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val truth = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)).as("j"))
      .filter(col("j") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(truth.nonEmpty, "expected planted near-duplicates in documents")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
    // every reported pair really is >= threshold (verified, not just bucketed)
    assert(found.subsetOf(
      a.crossJoin(b).filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          (inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)).as("j"))
        .filter(col("j") >= 0.9 - 1e-9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("dropNearDuplicates keeps the lowest id of each near-dup pair") {
    val pairs = Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val kept = Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(!kept.contains(b) && a < b) }
    assert(kept.size == docs.count() - pairs.map(_._2).distinct.length)
  }

  test("connectedComponents: min reachable id per vertex, multi-component") {
    import spark.implicits._
    val edges = Seq((2L, 3L), (1L, 2L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // superseded per-round checkpoints are unpersisted eagerly: only the
    // FINAL labels checkpoint may remain cached (a loop over clustering
    // must not accumulate label blocks until ContextCleaner GC)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.size <= 1, s"leaked cached RDDs: $leftover")
  }

  test("connectedComponents: both arms agree, and convergence is an observed metric") {
    import spark.implicits._
    // star + chain + triangle + self-loop singleton, shuffled edge order
    val raw = Seq(
      (5L, 1L), (5L, 7L), (5L, 9L),            // star rooted past its min
      (20L, 21L), (21L, 22L), (22L, 23L),      // chain
      (30L, 31L), (31L, 32L), (32L, 30L),      // triangle
      (40L, 40L),                              // self-loop singleton
      (1L, 5L), (9L, 5L)                       // duplicate + reversed edges
    )
    val edges = scala.util.Random.shuffle(raw).toDF("id_a", "id_b")
    GraftSession.clearCcRuns(spark)
    val localRes = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distRes = Dedup.connectedComponents(edges, localizeEdgeLimit = 0L)
    val distMap = distRes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(distRes)
    assert(localRes == distMap, s"arms disagree: $localRes vs $distMap")
    assert(localRes(1L) == 1L && localRes(5L) == 1L && localRes(9L) == 1L)
    assert(localRes(23L) == 20L && localRes(32L) == 30L && localRes(40L) == 40L)
    val runs = GraftSession.ccRuns(spark)
    assert(runs.map(_.method) == Seq("localized", "distributed"), runs.toString)
    assert(runs.forall(_.converged), runs.toString)
    assert(runs.forall(_.edges == 10L), runs.toString) // dup + reversed collapsed
  }

  test("connectedComponents: diameter-50 chain converges within default iterations " +
    "(pointer jumping, O(log d) rounds)") {
    import spark.implicits._
    val edges = (1L until 51L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    GraftSession.clearCcRuns(spark)
    val out = Dedup.connectedComponents(edges, localizeEdgeLimit = 0L)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(out)
    assert(labels.size == 51 && labels.values.forall(_ == 1L),
      s"chain split: ${labels.values.toSet}")
    val run = GraftSession.ccRuns(spark).last
    assert(run.converged, run.toString)
    // plain propagation needs 50 rounds; the jump step must beat 20
    assert(run.rounds <= 12, s"expected O(log 50) rounds, took ${run.rounds}")
  }

  test("clusterNearDuplicates: transitive chain lands in ONE cluster; singletons keep own id") {
    import spark.implicits._
    // hub-and-spokes chain: doc 2 is near-dup of both 1 and 3, but 1 and
    // 3 need not verify pairwise — transitive closure must still merge
    // all three. Doc 9 shares nothing.
    val base = (0 until 40).map(i => s"w$i")
    val hub = base.mkString(" ")
    val chain1 = ("zz" +: base.tail).mkString(" ")      // first word differs
    val chain3 = (base.init :+ "yy").mkString(" ")      // last word differs
    val df = Seq(
      (1L, chain1), (2L, hub), (3L, chain3),
      (9L, "completely unrelated text about something else entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.clusterNearDuplicates(df, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L, out.toString)
    assert(out(9L) == 9L)
    // the greedy keeper on the same corpus keeps only the hub chain's min
    val kept = Dedup.dropNearDuplicates(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && kept.contains(9L))
  }

  test("updateClusterLabels: cross-cluster merge, drop singletons, " +
    "and randomized incremental == rebuild") {
    import spark.implicits._
    // hand fixture: prior components {1,2} and {3}; drop doc 4 bridges
    // them (pairs with 2 AND 3) -> all four take min-id 1; drop doc 5
    // pairs with nothing -> its own singleton label
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster_id")
    val pairs = Seq((4L, 2L), (4L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.updateClusterLabels(prior, Seq(4L, 5L).toDF("doc_id"), pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
    // decisive fixture: mutually-distinct docs (disjoint vocab — no
    // borderline jaccards, where the exact-verify rebuild and the
    // signature-agreement probe may legitimately disagree) + a drop of
    // re-keyed copies; the incremental fold must equal the full
    // re-pair rebuild label-for-label
    val base = (0 until 30).map(i =>
      (i.toLong, (0 until 25).map(j => s"w${i * 100 + j}").mkString(" ")))
    val corpus = base.toDF("doc_id", "text")
    val drop = corpus.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000)
    val p = Dedup.clusterNearDuplicates(corpus, "text", "doc_id")
      .select("doc_id", "cluster_id")
    val within = Dedup.nearDuplicates(drop, "text", "doc_id").select("id_a", "id_b")
    val cross = Dedup.nearDuplicatesAgainstIndex(drop,
        Dedup.minHashSignatures(corpus, "text", "doc_id"), "text", "doc_id")
      .select(col("batch_id").as("id_a"), col("index_id").as("id_b"))
    val incr = Dedup.updateClusterLabels(p, drop.select("doc_id"),
        within.unionByName(cross))
      .as[(Long, Long)].collect().toMap
    val rebuild = Dedup.clusterNearDuplicates(
        corpus.unionByName(drop), "text", "doc_id")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(incr == rebuild)
  }

  test("updateClusterLabelsDelta: changed rows only, departures carry the " +
    "old label, and delta-over-prior == the full fold") {
    import spark.implicits._
    // the updateClusterLabels hand fixture: drop doc 4 bridges {1,2}
    // and {3} (everyone re-labels to 1 except doc 1 itself), drop doc 5
    // is a singleton
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster_id")
    val pairs = Seq((4L, 2L), (4L, 3L)).toDF("id_a", "id_b")
    val dropIds = Seq(4L, 5L).toDF("doc_id")
    val delta = Dedup.updateClusterLabelsDelta(prior, dropIds, pairs)
      .as[(Long, Long, Option[Long])].collect().toSet
    // doc 1 (label unchanged) and doc 2 (already 1) are ABSENT; doc 3
    // moved 3 -> 1 with its departure recorded; drops carry NULL olds
    assert(delta == Set(
      (3L, 1L, Some(3L)), (4L, 1L, None), (5L, 5L, None)), delta.toString)
    // latest-wins overlay of the delta over the prior == the full fold
    val overlay = prior.as[(Long, Long)].collect().toMap ++
      delta.map { case (d, c, _) => d -> c }.toMap
    val full = Dedup.updateClusterLabels(prior, dropIds, pairs)
      .as[(Long, Long)].collect().toMap
    assert(overlay == full, s"overlay $overlay vs full $full")
    // signed size deltas reconstruct the recount: +1 per arrival, -1
    // per departure, summed over the PRIOR sizes
    val priorSizes = Map(1L -> 2L, 3L -> 1L)
    val after = delta.foldLeft(priorSizes.withDefaultValue(0L)) {
      case (m, (_, c, old)) =>
        val m2 = m.updated(c, m(c) + 1L)
        old.fold(m2)(o => m2.updated(o, m2(o) - 1L))
    }
    val recount = full.groupBy(_._2).map { case (c, g) => c -> g.size.toLong }
    assert(after.filter(_._2 != 0L) == recount, after.toString)
    // a wide dropIds frame without doc_id fails loud
    val e = intercept[IllegalArgumentException] {
      Dedup.updateClusterLabelsDelta(prior,
        Seq((4L, "x")).toDF("the_id", "extra"), pairs)
    }
    assert(e.getMessage.contains("doc_id"), e.getMessage)
  }

  test("requireConvergedComponents: passes on a converged run, throws on " +
    "an unconverged distributed run and on no run at all") {
    import spark.implicits._
    graft.GraftSession.clearCcRuns(spark)
    val none = intercept[IllegalStateException] {
      Dedup.requireConvergedComponents(spark, "spec")
    }
    assert(none.getMessage.contains("no connectedComponents run"),
      none.getMessage)
    Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    Dedup.requireConvergedComponents(spark, "spec") // localized: exact
    // a 24-node chain forced onto the distributed arm with maxIters = 1
    // cannot converge (pointer jumping needs O(log diameter) rounds)
    val chain = (0 until 24).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    Dedup.connectedComponents(chain, maxIters = 1, localizeEdgeLimit = 0L)
    val bad = intercept[IllegalStateException] {
      Dedup.requireConvergedComponents(spark, "spec-unconverged")
    }
    assert(bad.getMessage.contains("UNCONVERGED") &&
      bad.getMessage.contains("spec-unconverged"), bad.getMessage)
    // and a later converged run clears the contract again
    Dedup.connectedComponents(chain, localizeEdgeLimit = 0L)
    Dedup.requireConvergedComponents(spark, "spec")
  }

  test("softDedupWeightsWithClustersAgainst: prior-corpus twins weight the " +
    "batch (never pruned) and the member table carries the index ids") {
    import spark.implicits._
    val base = (0 until 40).map(i => s"w$i")
    val prior = Seq(
      (1L, base.mkString(" ")),
      (9L, "completely unrelated text about something else entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, ("zz" +: base.tail).mkString(" ")),
      (19L, "another unrelated body of prose holding its own meaning"),
      (21L, (base.init :+ "yy").mkString(" "))
    ).toDF("doc_id", "text")
    val (out, comp) = Dedup.softDedupWeightsWithClustersAgainst(
      batch, Dedup.minHashSignatures(prior, "text", "doc_id"),
      "text", "doc_id")
    val w = out.select("doc_id", "soft_weight").as[(Long, Double)]
      .collect().toMap
    assert(w.size == 3, w.toString) // nobody pruned
    // cluster {1, 11, 21}: the INDEXED twin counts toward the mass
    assert(w(11L) == 1.0 / 3 && w(21L) == 1.0 / 3, w.toString)
    assert(w(19L) == 1.0)
    val members = comp.as[(Long, Long)].collect().toMap
    assert(members(1L) == 1L && members(11L) == 1L && members(21L) == 1L,
      members.toString) // index doc 1 is IN the member table and keys it

    // a SOFT-curated prior retains twins the signature index carries no
    // pair structure for: the prior LABELS say docs 1 and 2 share a
    // cluster (e.g. paired under a different tokenizer run — the labels
    // are the authority), while 2's text is signature-dissimilar to the
    // batch doc. Without the labels, batch doc 11's cluster reads
    // {1, 11} (1/2); the label star edge restores {1, 2, 11} (1/3).
    val softPrior = Seq(
      (1L, base.mkString(" ")),
      (2L, "a different rendering of that very page after re-extraction"),
      (9L, "completely unrelated text about something else entirely")
    ).toDF("doc_id", "text")
    val softPriorLabels = Seq((1L, 1L), (2L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val oneTwin = Seq((11L, ("zz" +: base.tail).mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(softPrior, "text", "doc_id")
    val wNo = Dedup.softDedupWeightsWithClustersAgainst(
        oneTwin, sigs, "text", "doc_id")._1
      .select("doc_id", "soft_weight").as[(Long, Double)].collect().toMap
    val wWith = Dedup.softDedupWeightsWithClustersAgainst(
        oneTwin, sigs, "text", "doc_id",
        priorLabels = Some(softPriorLabels))._1
      .select("doc_id", "soft_weight").as[(Long, Double)].collect().toMap
    assert(wNo(11L) == 1.0 / 2, wNo.toString)
    assert(wWith(11L) == 1.0 / 3, wWith.toString)
  }

  test("softDedupWeights: 1/transitive-cluster-size, singletons 1.0, " +
    "row count and columns intact") {
    import spark.implicits._
    // the clusterNearDuplicates chain fixture: docs 1-3 close into one
    // transitive cluster, doc 9 is a singleton
    val base = (0 until 40).map(i => s"w$i")
    val df = Seq(
      (1L, ("zz" +: base.tail).mkString(" ")),
      (2L, base.mkString(" ")),
      (3L, (base.init :+ "yy").mkString(" ")),
      (9L, "completely unrelated text about something else entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.softDedupWeights(df, "text", "doc_id")
    assert(out.columns.toSeq == Seq("doc_id", "text", "soft_weight"))
    val w = out.select("doc_id", "soft_weight").as[(Long, Double)]
      .collect().toMap
    assert(w.size == 4) // nothing dropped
    assert(w(1L) == 1.0 / 3 && w(2L) == 1.0 / 3 && w(3L) == 1.0 / 3)
    assert(w(9L) == 1.0)
    // total mass = number of clusters (each contributes one doc's worth)
    assert(math.abs(w.values.sum - 2.0) < 1e-12)
    // a reserved output column fails loud instead of silently clobbering
    val e = intercept[IllegalArgumentException] {
      Dedup.softDedupWeights(df.withColumn("soft_weight", lit(0.5)),
        "text", "doc_id")
    }
    assert(e.getMessage.contains("soft_weight"), e.getMessage)
  }

  test("dropDuplicateLinesByGroup: boilerplate removed per group, " +
    "cross-group spread kept, NULL group keeps all lines") {
    import spark.implicits._
    val df = Seq(
      (1L, "keep\nFOOTER\ntail one", "a"),
      (2L, "FOOTER\ntail two", "a"),
      (3L, "FOOTER", "a"),
      (4L, "SPREAD\nbody", "a"),
      (5L, "SPREAD\nmore", "a"),
      (6L, "SPREAD\nelsewhere", "b"),        // 2+1 across groups: kept
      (7L, "FOOTER\nno group no rule", null) // NULL group: untouched
    ).toDF("doc_id", "text", "src")
    val out = Dedup.dropDuplicateLinesByGroup(df, "text", "doc_id", "src",
        minCount = 3)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) == "keep\ntail one")
    assert(out(2L) == "tail two")
    assert(out(3L) == "")
    // the global rule at minCount=3 would have deleted SPREAD too
    assert(out(4L) == "SPREAD\nbody" && out(6L) == "SPREAD\nelsewhere")
    assert(out(7L) == "FOOTER\nno group no rule")
    // group column rides the output
    assert(Dedup.dropDuplicateLinesByGroup(df, "text", "doc_id", "src")
      .columns.toSeq == Seq("doc_id", "src", "text"))
  }

  test("dropDuplicateParagraphs: multi-line blocks vanish whole; separators normalize") {
    import spark.implicits._
    val banner = "BANNER LINE ONE\nBANNER LINE TWO"
    val df = Seq(
      (1L, s"intro\n\n$banner\n\ntail one"),
      (2L, s"$banner\n\ntail two"),
      (3L, banner), // banner-only doc survives empty
      (4L, "solo\n\nunique block\nwith two lines"),
      (5L, "\n\n\nleading\n\n\n\ntrailing\n\n") // blank runs normalize
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(df, "text", "doc_id", minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "intro\n\ntail one",
      2L -> "tail two",
      3L -> "",
      // single-newline structure INSIDE a surviving paragraph intact
      4L -> "solo\n\nunique block\nwith two lines",
      5L -> "leading\n\ntrailing"))
    // the line rule would NOT have caught the banner: each line occurs
    // 3 times but the paragraph rule removes the BLOCK as one unit —
    // here, below-threshold corpora stay untouched (bar normalization)
    val none = Dedup.dropDuplicateParagraphs(
        df.filter(col("doc_id") <= 2), "text", "doc_id", minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(none(1L) == s"intro\n\n$banner\n\ntail one")
  }

  test("dropDuplicateLines: corpus-wide boilerplate vanishes, order kept, empty doc survives") {
    import spark.implicits._
    val df = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "BOILER\ntail"),
      (3L, "BOILER"),
      (4L, "solo\nBOILER\nBOILER") // two of its own copies count toward the total
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(df, "text", "doc_id", minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "keep one\nkeep two",
      2L -> "tail",
      3L -> "", // all-boilerplate doc survives as an empty row
      4L -> "solo"))
    // below the threshold nothing is touched
    val none = Dedup.dropDuplicateLines(df.filter(col("doc_id") <= 2), "text", "doc_id",
        minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(none == Map(1L -> "keep one\nBOILER\nkeep two", 2L -> "BOILER\ntail"))
    // blank separator lines are exempt no matter how often they occur
    val blanky = Seq(
      (1L, "a\n\nb"), (2L, "c\n\nd"), (3L, "e\n\nf"), (4L, "g\n\nh"))
      .toDF("doc_id", "text")
    val keptBlanks = Dedup.dropDuplicateLines(blanky, "text", "doc_id", minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keptBlanks == Map(1L -> "a\n\nb", 2L -> "c\n\nd", 3L -> "e\n\nf", 4L -> "g\n\nh"))
  }

  test("dropDuplicateLines: the shared-exchange form is value-identical to the " +
    "count-then-anti-join form, NULL and duplicate ids included") {
    // the two-branch formulation the shared-exchange operator replaced,
    // kept here as the reference: a map-side count over one evaluation
    // of the input, a left_anti drop over a second, and an `=` restore
    def reference(df: org.apache.spark.sql.DataFrame, minCount: Int) = {
      val lines = df
        .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        .withColumn("lh", unhex(md5(col("line"))))
      val dup = lines.filter(col("line") =!= "")
        .groupBy("lh").agg(count(lit(1)).as("c"))
        .filter(col("c") >= minCount).select("lh")
      val rebuilt = lines.join(dup, Seq("lh"), "left_anti")
        .groupBy("doc_id")
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line"))).as("text"))
      df.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    }
    val df = Seq[(java.lang.Long, String)](
      (1L, "keep one\nSHARED\nBOILER"),
      (2L, "SHARED\ntail\n\n\nmore"), // blank lines are exempt
      (2L, "second copy of id 2\nBOILER"), // duplicate id: both rows rebuild as one doc
      (3L, "BOILER\nBOILER"), // boilerplate only
      (null, "SHARED\nnull-id prose"), // its SHARED pushes the line to 3
      (null, "BOILER\nanother null-id doc"),
      (4L, null),
      (5L, ""),
      (6L, "\n\n"),
      (7L, "only\nits own\nlines")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-dup-lines").toString
    df.write.mode("overwrite").parquet(path)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), r.getString(1))).sortBy(_.toString).toSeq
    for (input <- Seq(df, spark.read.parquet(path)); minCount <- Seq(2, 3, 4)) {
      val got = Dedup.dropDuplicateLines(input, "text", "doc_id", minCount)
      val want = reference(input, minCount)
      assert(got.schema == want.schema, s"minCount=$minCount")
      assert(rows(got) == rows(want), s"minCount=$minCount")
    }
    // the NULL-id doc's SHARED line is the third copy: it must count
    val at3 = Dedup.dropDuplicateLines(df, "text", "doc_id", 3)
      .collect().filter(!_.isNullAt(0)).map(r => r.getLong(0) -> r.getString(1))
    assert(at3.toMap.apply(1L) == "keep one", at3.mkString("\n"))
    assert(at3.count(_._1 == 2L) == 2)
  }

  test("dropDuplicateLinesByGroup: the shared-exchange form is value-identical to " +
    "the count-then-anti-join form, NULL groups, ids and text included") {
    // the two-branch formulation the shared-exchange kernel replaced, kept
    // here as the reference: a map-side count over one evaluation of the
    // input, a left_anti drop over a second, and an `=` restore
    def reference(df: org.apache.spark.sql.DataFrame, minCount: Int) = {
      val lines = df
        .select(col("doc_id"), col("src"),
          posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        .withColumn("lh", unhex(md5(col("line"))))
      val dup = lines.filter(col("line") =!= "")
        .groupBy("src", "lh").agg(count(lit(1)).as("c"))
        .filter(col("c") >= minCount).select("src", "lh")
      val rebuilt = lines.join(dup, Seq("src", "lh"), "left_anti")
        .groupBy("doc_id")
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line"))).as("text"))
      df.select(col("doc_id"), col("src")).join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("src"), coalesce(col("text"), lit("")).as("text"))
    }
    val df = Seq[(java.lang.Long, String, String)](
      (1L, "keep one\nFOOTER\nNAV", "a"),
      (2L, "FOOTER\ntail\n\n\nmore", "a"), // blank lines are exempt
      (2L, "second copy of id 2\nNAV", "a"), // duplicate id: rebuilds as one doc
      (3L, "NAV\nNAV", "a"),
      (4L, "FOOTER\nNAV\nFOOTER", "b"), // the same lines in another group
      (5L, "FOOTER\nb prose", "b"),
      (null, "FOOTER\nnull-id prose", "a"), // a NULL id counts toward its group
      (null, "NAV\nanother null-id doc", "b"),
      (6L, "FOOTER\nNAV\nno group", null), // NULL group: never counts, keeps all
      (7L, "FOOTER\nFOOTER\nFOOTER", null),
      (8L, null, "a"),
      (9L, "", "b"),
      (10L, "\n\n", "a"),
      (11L, "\nFOOTER\n", "a") // leading and trailing blank lines
    ).toDF("doc_id", "text", "src")
    val path = java.nio.file.Files.createTempDirectory("graft-dup-lines-group").toString
    df.write.mode("overwrite").parquet(path)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2)))
        .sortBy(_.toString).toSeq
    for (input <- Seq(df, spark.read.parquet(path)); minCount <- Seq(2, 3, 4)) {
      val got = Dedup.dropDuplicateLinesByGroup(input, "text", "doc_id", "src", minCount)
      val want = reference(input, minCount)
      assert(got.schema == want.schema, s"minCount=$minCount")
      assert(rows(got) == rows(want), s"minCount=$minCount")
    }
    // the NULL group keeps its thrice-repeated line; group a loses FOOTER
    val at3 = Dedup.dropDuplicateLinesByGroup(df, "text", "doc_id", "src", 3)
      .collect().filter(!_.isNullAt(0)).map(r => r.getLong(0) -> r.getString(2))
    assert(at3.toMap.apply(7L) == "FOOTER\nFOOTER\nFOOTER", at3.mkString("\n"))
    assert(at3.toMap.apply(11L) == "\n", at3.mkString("\n"))
  }

  test("dropDuplicateParagraphs: the shared-exchange form is value-identical to the " +
    "count-then-anti-join form, NULL and duplicate ids and blank runs included") {
    // the two-branch formulation the shared-exchange kernel replaced, kept
    // here as the reference: empty split artifacts filtered from both the
    // count and the rebuild, a left_anti drop and an `=` restore
    def reference(df: org.apache.spark.sql.DataFrame, minCount: Int) = {
      val paras = df
        .select(col("doc_id"),
          posexplode(split(col("text"), "\\n{2,}")).as(Seq("pos", "para")))
        .withColumn("ph", unhex(md5(col("para"))))
      val dup = paras.filter(col("para") =!= "")
        .groupBy("ph").agg(count(lit(1)).as("c"))
        .filter(col("c") >= minCount).select("ph")
      val rebuilt = paras.filter(col("para") =!= "")
        .join(dup, Seq("ph"), "left_anti")
        .groupBy("doc_id")
        .agg(concat_ws("\n\n", transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s("para"))).as("text"))
      df.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    }
    val banner = "BANNER ONE\nBANNER TWO"
    val df = Seq[(java.lang.Long, String)](
      (1L, s"intro\n\n$banner\n\ntail one"),
      (2L, s"$banner\n\n\n\ntail two"),
      (2L, s"second copy of id 2\n\n$banner"), // duplicate id: rebuilds as one doc
      (3L, banner),
      (null, s"$banner\n\nnull-id prose"), // a NULL id counts like any other
      (null, "LICENSE\n\nanother null-id doc"),
      (4L, "LICENSE\n\nLICENSE"),
      (5L, null),
      (6L, ""),
      (7L, "\n\n\n"),
      (8L, "\n\n\nleading\n\n\n\ntrailing\n\n"), // blank runs normalize
      (9L, "single\nnewlines stay\n")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-dup-paras").toString
    df.write.mode("overwrite").parquet(path)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), r.getString(1))).sortBy(_.toString).toSeq
    for (input <- Seq(df, spark.read.parquet(path)); minCount <- Seq(2, 3, 4)) {
      val got = Dedup.dropDuplicateParagraphs(input, "text", "doc_id", minCount)
      val want = reference(input, minCount)
      assert(got.schema == want.schema, s"minCount=$minCount")
      assert(rows(got) == rows(want), s"minCount=$minCount")
    }
    // at minCount=3 the NULL-id doc's banner is the fifth copy and LICENSE's
    // three copies (two in doc 4) reach the threshold
    val at3 = Dedup.dropDuplicateParagraphs(df, "text", "doc_id", 3)
      .collect().filter(!_.isNullAt(0)).map(r => r.getLong(0) -> r.getString(1))
    assert(at3.toMap.apply(4L) == "", at3.mkString("\n"))
    assert(at3.toMap.apply(8L) == "leading\n\ntrailing", at3.mkString("\n"))
  }

  test("contamination: planted eval quote is contained; decontaminate drops it") {
    import spark.implicits._
    val evalQ = "what is the capital of france paris is the capital"
    val corpus = Seq(
      // doc 1 QUOTES the whole eval question inside a longer document —
      // symmetric Jaccard is low, containment of eval grams is high
      (1L, s"filler words before the quote $evalQ and some trailing filler text here"),
      (2L, "an entirely unrelated document about spark shuffles and parquet files"),
      (3L, evalQ) // verbatim eval member
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, evalQ)).toDF("doc_id", "text")

    val scores = graft.operators.Contamination
      .contaminationScores(corpus, evalSet, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("contamination")).toMap
    assert(scores(3L) == 1.0)
    assert(scores(1L) > 0.3 && scores(1L) < 1.0, scores.toString)
    assert(scores(2L) == 0.0)

    val clean = graft.operators.Contamination
      .decontaminate(corpus, evalSet, "text", "doc_id", k = 3, maxContamination = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("evalOverlapReport: contained items score 1, unseen 0, partial in between") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "alpha bravo charlie delta echo"),          // fully inside doc 1
      (101L, "zz1 zz2 zz3 zz4 zz5"),                     // nowhere in the corpus
      (102L, "four five six zz8 zz9"))                   // one corpus gram + gibberish: partial
      .toDF("doc_id", "text")
    val out = graft.operators.Contamination
      .evalOverlapReport(corpus, evalSet, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(100L)._3 == 1.0)
    assert(out(101L)._3 == 0.0)
    assert(out(102L)._3 > 0.0 && out(102L)._3 < 1.0, out(102L).toString)
    // gram accounting: 5-word item with k=3 -> 3 distinct grams
    assert(out(100L)._1 == 3L && out(100L)._2 == 3L)
  }

  test("decontaminateSpans: the quoted span comes out, overlapping grams union, rest intact") {
    import spark.implicits._
    // 7-word eval sentence with k=3 -> 5 overlapping grams; the union of
    // matched spans must cover exactly the 7 spliced tokens
    val evalQ = "alpha bravo charlie delta echo foxtrot golf"
    val corpus = Seq(
      (1L, Option(s"keep one two $evalQ keep three four")),
      (2L, Option("no quote in this document at all")),
      (3L, Option(evalQ)),            // verbatim member -> everything removed
      (4L, Option("Alpha BRAVO, charlie! delta echo foxtrot golf")), // case/punct variants match
      (5L, Option("tiny doc")),       // < k tokens: passes through
      (6L, Option.empty[String]),
      // unmatched docs pass through BYTE-VERBATIM: newlines/tabs/runs kept
      (7L, Option("line1\nline2\tkeep  intact")))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, evalQ)).toDF("doc_id", "text")
    val out = graft.operators.Contamination
      .decontaminateSpans(corpus, evalSet, "text", "doc_id", k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getString(1)), r.getAs[Int]("n_tokens_removed"))).toMap
    assert(out(1L) == (Some("keep one two keep three four"), 7))
    assert(out(2L) == (Some("no quote in this document at all"), 0))
    assert(out(3L) == (Some(""), 7))
    // original tokens (case/punctuation) are what gets REMOVED — match
    // happens on normalized forms, output is the original token stream
    assert(out(4L) == (Some(""), 7))
    assert(out(5L) == (Some("tiny doc"), 0))
    assert(out(6L) == (None, 0))
    assert(out(7L) == (Some("line1\nline2\tkeep  intact"), 0))
    // column collision guard
    intercept[IllegalArgumentException] {
      graft.operators.Contamination.decontaminateSpans(
        corpus.withColumn("n_tokens_removed", lit(1)), evalSet, "text", "doc_id")
    }
  }

  test("decontaminateSpans saturated-corpus fallback: shuffle join, same values") {
    import spark.implicits._
    val evalQ = "alpha bravo charlie delta echo foxtrot golf"
    // 100%-contaminated corpus: EVERY document quotes the eval sentence —
    // the shape where an unconditional broadcast of the matched-docs
    // table would OOM a driver at scale
    val corpus = (1L to 50L)
      .map(i => (i, s"doc $i says $evalQ end")).toDF("doc_id", "text")
    val evalSet = Seq((100L, evalQ)).toDF("doc_id", "text")
    // drop the hints (the corpus-sized escape) and disable auto-broadcast
    // so the rebuild join genuinely takes the shuffle path
    withConf("spark.sql.optimizer.disableHints" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = graft.operators.Contamination.decontaminateSpans(
        corpus, evalSet, "text", "doc_id", k = 3)
      val rows = q.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Int]("n_tokens_removed")))
        .toMap
      assert(rows.size == 50)
      assert((1L to 50L).forall(i => rows(i) == (s"doc $i says end", 7)), rows(1L))
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected the rebuild join to fall back to a shuffle join:\n${plan.take(3000)}")
    }
  }

  test("dropRepeatedLinesWithinDoc: first occurrence kept, blanks exempt, order preserved") {
    import spark.implicits._
    val df = Seq(
      (1L, "menu\nhome\nmenu\n\ncontent here\n\nmenu"),
      (2L, "a\na\na"),
      (3L, ""),
      (4L, "x\ny")) // no repeats: text unchanged
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropRepeatedLinesWithinDoc(df, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "menu\nhome\n\ncontent here\n") // both blank lines survive
    assert(out(2L) == "a")
    assert(out(3L) == "")
    assert(out(4L) == "x\ny")
    // column order and row count are preserved
    val shaped = graft.operators.Dedup.dropRepeatedLinesWithinDoc(
      df.withColumn("extra", lit(1)), "text")
    assert(shaped.columns.toSeq == Seq("doc_id", "text", "extra"))
    assert(shaped.count() == 4)
    // pure projection: no exchange in the plan
    val plan = shaped.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // a caller column colliding with the __ln staging name fails loudly
    // instead of being silently overwritten
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.dropRepeatedLinesWithinDoc(
        df.withColumn("__ln", lit(1)), "text")
    }
  }

  test("bloom-prefiltered contamination is value-identical to the exact path") {
    import spark.implicits._
    val evalQ = "what is the capital of france paris is the capital"
    val corpus = Seq(
      (1L, s"filler words before the quote $evalQ and some trailing filler text here"),
      (2L, "an entirely unrelated document about spark shuffles and parquet files"),
      (3L, evalQ),
      (4L, null.asInstanceOf[String]) // NULL text: excluded from BOTH paths
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, evalQ)).toDF("doc_id", "text")
    def rows(bloom: Boolean) = graft.operators.Contamination
      .contaminationScores(corpus, evalSet, "text", "doc_id", k = 3,
        bloomPrefilter = bloom)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_hits"), r.getAs[Double]("contamination"))).toSet
    assert(rows(bloom = true) == rows(bloom = false))
    // a doc with NO gram surviving the prefilter still surfaces at 0.0
    assert(rows(bloom = true).exists { case (id, _, h, c) => id == 2L && h == 0L && c == 0.0 })
    // the NULL-text doc appears in neither path (no NULL-score rows)
    assert(!rows(bloom = true).exists(_._1 == 4L))
    // empty eval set: the aggregated filter is null; every doc scores 0
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val z = graft.operators.Contamination
      .contaminationScores(corpus, emptyEval, "text", "doc_id", k = 3,
        bloomPrefilter = true)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    assert(z == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // decontaminate threads the flag and agrees with the exact path;
    // the NULL-text doc is unscoreable, hence never contaminated → kept
    val clean = graft.operators.Contamination
      .decontaminate(corpus, evalSet, "text", "doc_id", k = 3,
        maxContamination = 0.3, bloomPrefilter = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 4L))
  }

  test("near-dup plan has no cartesian product (LSH buckets, not all-pairs)") {
    val plan = Dedup.nearDuplicates(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("LSH bucket cap drops degenerate buckets") {
    val df = (1L to 30L).map(i => (i, "exactly the same text for everyone"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "text", "doc_id")
    // 30 < DefaultMaxBucket: the default cap must NOT drop real buckets
    val uncapped = Dedup.lshCandidates(sigs).count()
    val capped = Dedup.lshCandidates(sigs, maxBucket = Some(10)).count()
    assert(uncapped == 30L * 29 / 2)
    assert(capped == 0L)
  }

  test("default bucket cap bounds a degenerate key without a quadratic pair set") {
    // 1500 identical docs — a boilerplate key over the 1024 default cap.
    // The capped chain emits ZERO pairs for it (exact dedup is the right
    // tool for identical rows) instead of ~1.1M quadratic candidates.
    val degenerate = (1L to 1500L)
      .map(i => (i, "the same boilerplate footer text on every single page"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDuplicates(degenerate, "text", "doc_id").count() == 0L)
    assert(Dedup.simHashNearDups(
      Dedup.simHashes(degenerate, "text", "doc_id")).count() == 0L)
  }

  test("bucket-cap drops are reported through the public API, not just the log") {
    GraftSession.registerBucketCapListener(spark)
    GraftSession.clearBucketCapDrops(spark)
    val df = (1L to 30L).map(i => (i, "exactly the same text for everyone"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "text", "doc_id")

    // planted degenerate key over a tiny cap: every band bucket (4 bands
    // × 30 docs) is oversized and dropped
    Dedup.lshCandidates(sigs, maxBucket = Some(10)).count()
    val dropped = GraftSession.bucketCapDrops(spark)
    assert(dropped.nonEmpty, "capped action must surface a drop record")
    assert(dropped.forall(_.metric.startsWith("graft.lsh.bucket_cap#")),
      dropped.toString)
    assert(dropped.map(_.droppedBuckets).sum == 4L)
    assert(dropped.map(_.droppedRows).sum == 4L * 30)

    // a fresh stage that drops nothing still reports: zero counts are
    // distinguishable from "didn't run"
    GraftSession.clearBucketCapDrops(spark)
    Dedup.lshCandidates(sigs).count() // 30 < default 1024 cap
    val clean = GraftSession.bucketCapDrops(spark)
    assert(clean.nonEmpty)
    assert(clean.forall(d => d.droppedBuckets == 0L && d.droppedRows == 0L))

    GraftSession.clearBucketCapDrops(spark)
    assert(GraftSession.bucketCapDrops(spark).isEmpty)
  }

  test("clearBucketCapDrops flushes in-flight listener events before clearing") {
    // Listener delivery is asynchronous: a drop event from an action that
    // already RETURNED can still be on the bus. A clear that doesn't
    // flush first lets that event land AFTER the clear and pollute the
    // next stage's read — regression for the r18 full-suite race where a
    // preceding test's simhash drop record survived a clear.
    GraftSession.registerBucketCapListener(spark)
    GraftSession.clearBucketCapDrops(spark)
    val df = (1L to 30L).map(i => (i, "exactly the same text for everyone"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "text", "doc_id")
    Dedup.lshCandidates(sigs, maxBucket = Some(10)).count()
    // clear immediately — no bucketCapDrops read (the read path's flush)
    // in between; the clear itself must drain the bus
    GraftSession.clearBucketCapDrops(spark)
    assert(GraftSession.bucketCapDrops(spark).isEmpty,
      "a drop event from the pre-clear action leaked past the clear")
  }

  test("bucketCapDrops re-asserts the AQE empty-relation exclusion after user conf clobbers it") {
    GraftSession.registerBucketCapListener(spark)
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "some.other.Rule")
      GraftSession.bucketCapDrops(spark)
      val after = spark.conf.get(key)
      assert(after.contains("AQEPropagateEmptyRelation"), after)
      assert(after.contains("some.other.Rule"), after) // the user's entry survives
    } finally before.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("bucketCapDrops on an UNREGISTERED session is read-only (no conf side effect)") {
    val fresh = spark.newSession() // shares the context, not the listener registration
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    fresh.conf.unset(key)
    assert(GraftSession.bucketCapDrops(fresh).isEmpty)
    assert(fresh.conf.getOption(key).forall(!_.contains("AQEPropagateEmptyRelation")),
      fresh.conf.getOption(key).toString)
  }

  test("simhash and embedding bucket caps drop degenerate buckets") {
    val same = (1L to 50L).map(i => (i, "identical words right here"))
      .toDF("doc_id", "text")
    val sh = Dedup.simHashes(same, "text", "doc_id")
    assert(Dedup.simHashNearDups(sh).count() == 50L * 49 / 2)
    assert(Dedup.simHashNearDups(sh, maxBucket = Some(10)).count() == 0L)

    val vecs = (1L to 50L).map(i => (i, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "v")
    assert(Dedup.embeddingNearDup(vecs, "v", "vec_id").count() == 50L * 49 / 2)
    assert(Dedup.embeddingNearDup(vecs, "v", "vec_id", maxBucket = Some(10))
      .count() == 0L)
  }

  test("simhash: equal for normalized-equal docs, near for planted near-dups") {
    val sh = Dedup.simHashes(
      Seq((1L, "The quick brown fox jumps"), (2L, "the QUICK brown fox jumps!"))
        .toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))

    // a planted near-dup pair from the corpus has small Hamming distance
    val pair = Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.95)
      .select("id_a", "id_b").head
    val hashes = Dedup.simHashes(
      docs.filter(col("doc_id").isin(pair.getLong(0), pair.getLong(1))),
      "text", "doc_id").collect().map(_.getLong(1))
    val hamming = java.lang.Long.bitCount(hashes(0) ^ hashes(1))
    assert(hamming <= 10, s"hamming=$hamming for a >=0.95-jaccard pair")
  }

  test("simHashNearDups finds near pairs via banding without all-pairs") {
    val pairs = Dedup.simHashNearDups(
      Dedup.simHashes(docs, "text", "doc_id"), maxHamming = 10, bands = 4)
    assert(pairs.count() > 0)
    assert(!pairs.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("embeddingNearDup finds planted duplicate vectors") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val withDups = e.unionByName(
      e.filter(col("vec_id") % 25 === 0).withColumn("vec_id", col("vec_id") + 100000))
    val found = Dedup.embeddingNearDup(withDups, "embedding", "vec_id",
        planes = 16, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = e.filter(col("vec_id") % 25 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000)).toSet
    assert(planted.subsetOf(found),
      s"missing ${planted.diff(found).size} of ${planted.size} planted dup pairs")
  }

  test("dropDuplicateSpans: repeated passage survives once corpus-wide; within-doc repeat cut") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique one tail here"),
      // quotes doc 1's 6-token run mid-document
      (2L, "prefix words alpha beta gamma delta epsilon zeta and more stuff"),
      // within-doc repeat: the second half duplicates the first
      (3L, "r1 r2 r3 r4 r5 r6 r1 r2 r3 r4 r5 r6"),
      (4L, "nothing shared with anything at all right"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(df, "text", "doc_id", k = 6)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Int]("n_tokens_removed"))).toMap
    // the canonical (lowest doc_id, position) occurrence keeps the span
    assert(out(1L) == (("alpha beta gamma delta epsilon zeta unique one tail here", 0)))
    assert(out(2L) == (("prefix words and more stuff", 6)), out(2L))
    assert(out(3L) == (("r1 r2 r3 r4 r5 r6", 6)), out(3L))
    assert(out(4L)._2 == 0)
    assert(out(5L) == ((null, 0)))
  }

  // ------------------------------------------------- incremental (indexed)

  test("incremental exact: indexed text vanishes, NULL and within-batch dups kept") {
    val prior = Seq((2L, "alpha beta gamma"), (4L, "delta")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "ALPHA beta. gamma"),            // normalized dup of indexed 2
      (13L, "brand new text"),               // genuinely new
      (15L, null.asInstanceOf[String]),      // NULL key matches nothing — kept
      (17L, "brand new text")                // within-batch dup — kept by design
    ).toDF("doc_id", "text")
    val idx = Dedup.exactFingerprintIndex(prior, "text")
    val out = Dedup.dropExactDuplicatesAgainst(batch, idx, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(13L, 15L, 17L))
  }

  test("incremental near-dup: planted index copy matches at est 1.0 and is pruned") {
    val prior = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely different content about spark partitioning")
    ).toDF("doc_id", "text")
    val idx = Dedup.minHashSignatures(prior, "text", "doc_id")
    val batch = Seq(
      (11L, "The QUICK brown fox jumps over the lazy dog today."), // ≡ indexed 2
      (13L, "unrelated fresh material nothing shared here at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatesAgainstIndex(batch, idx, "text", "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("index_id"),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(pairs == Set((11L, 2L, 1.0)), pairs)
    val kept = Dedup.dropNearDuplicatesAgainst(batch, idx, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(13L))
  }

  test("incremental exact dedup works unchanged on a STREAM (stateless stream-static anti join)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val prior = Seq((2L, "alpha beta gamma"), (4L, "delta")).toDF("doc_id", "text")
    val idx = Dedup.exactFingerprintIndex(prior, "text")
    val stream = MemoryStream[(Long, String)]
    stream.addData((11L, "ALPHA beta. gamma"), (13L, "brand new text"))
    val q = Dedup.dropExactDuplicatesAgainst(
        stream.toDF().toDF("doc_id", "text"), idx, "text")
      .writeStream.format("memory").queryName("incr_stream")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val out = spark.table("incr_stream").select("doc_id").as[Long].collect().toSet
    assert(out == Set(13L))
  }

  test("incremental simhash near-dup: planted index copy matches at hamming 0") {
    val prior = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely different content about spark partitioning")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "The QUICK brown fox jumps over the lazy dog today."), // ≡ indexed 2
      (13L, "unrelated fresh material nothing shared here at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDupsAgainstIndex(
        Dedup.simHashes(batch, "text", "doc_id"),
        Dedup.simHashes(prior, "text", "doc_id"))
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("index_id"),
        r.getAs[Int]("hamming"))).toSet
    assert(pairs == Set((11L, 2L, 0)), pairs)
  }

  test("incremental embedding near-dup finds planted index copies and prunes them") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val idx = e.filter(col("vec_id") % 2 === 0)
    val planted = idx.filter(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val batch = e.filter(col("vec_id") % 2 === 1).unionByName(planted)
    val pairs = Dedup.embeddingNearDupAgainstIndex(batch, idx, "embedding", "vec_id")
      .select("batch_id", "index_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = idx.filter(col("vec_id") % 50 === 0).select("vec_id")
      .as[Long].collect().map(id => (id + 100000L, id)).toSet
    assert(expected.subsetOf(pairs),
      s"missing ${expected.diff(pairs).size} of ${expected.size} planted pairs")
    val kept = Dedup.dropEmbeddingDuplicatesAgainst(batch, idx, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(expected.forall { case (bid, _) => !kept.contains(bid) })
  }

  test("stream-index near-dup matches the regrouping batch operator and prunes via foreachBatch") {
    // The statically-capped flat index must reproduce the batch
    // operator's verified pairs (no batch-side cap is the only
    // semantic delta, and the fixture is cap-free), and the full drop
    // semantics compose per micro-batch through foreachBatch.
    val prior = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely different content about spark partitioning")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(prior, "text", "doc_id")
    val streamIdx = Dedup.nearDupStreamIndex(sigs)
    val batch = Seq(
      (11L, "The QUICK brown fox jumps over the lazy dog today."), // ≡ indexed 2
      (13L, "unrelated fresh material nothing shared here at all")
    ).toDF("doc_id", "text")
    val viaStream = Dedup.nearDupMatchesAgainstIndex(batch, streamIdx, "text", "doc_id")
      .select("batch_id", "index_id", "est_jaccard").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStream == Set((11L, 2L, 1.0)), viaStream)
  }

  test("stream-index near-dup runs LIVE on a stream with zero state operators") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val prior = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely different content about spark partitioning")
    ).toDF("doc_id", "text")
    val streamIdx = Dedup.nearDupStreamIndex(
      Dedup.minHashSignatures(prior, "text", "doc_id"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(
      (11L, "The QUICK brown fox jumps over the lazy dog today."),
      (13L, "unrelated fresh material nothing shared here at all"))
    val q = Dedup.nearDupMatchesAgainstIndex(
        stream.toDF().toDF("doc_id", "text"), streamIdx, "text", "doc_id")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a second drop arrives: another copy of indexed doc 2 — matched
      // with no recompute of the index side and no state carried
      stream.addData((21L, "the quick brown fox jumps over the lazy dog today"))
      q.processAllAvailable()
      val prog = q.lastProgress
      assert(prog.stateOperators.isEmpty,
        s"expected a stateless plan, got ${prog.stateOperators.length} state operators")
    } finally q.stop()
    val out = spark.table("neardup_stream")
      .select("batch_id", "index_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((11L, 2L), (21L, 2L)), out)
  }

  test("foreachBatch composes the regrouping drop operator over a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val prior = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely different content about spark partitioning")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(prior, "text", "doc_id")
    val survivors = scala.collection.mutable.Set.empty[Long]
    val stream = MemoryStream[(Long, String)]
    stream.addData(
      (11L, "The QUICK brown fox jumps over the lazy dog today."),
      (13L, "unrelated fresh material nothing shared here at all"))
    val q = stream.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = Dedup.dropNearDuplicatesAgainst(df, sigs, "text", "doc_id")
          .select("doc_id").as[Long].collect()
        survivors.synchronized { survivors ++= kept }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    assert(survivors.toSet == Set(13L))
  }

  test("incremental near-dup bucket join broadcasts the batch bands by default") {
    val prior = docs.filter(col("doc_id") % 2 === 0)
    val idx = Dedup.minHashSignatures(prior, "text", "doc_id")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val q = Dedup.nearDuplicatesAgainstIndex(batch, idx, "text", "doc_id")
    q.collect()
    val plan = q.queryExecution.toString
    // the bucket join streams the index against the broadcast batch bands —
    // the index-side band table is never shuffled before the join
    assert("BroadcastHashJoin \\[band#\\d+, band_key#".r.findAllIn(plan).nonEmpty,
      plan.take(4000))
    // and with the hint dropped (the corpus-sized escape, auto-broadcast
    // off) the bucket join shuffles and still computes the same pairs
    val (viaAqe, aqePlan) = withConf("spark.sql.optimizer.disableHints" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val u = Dedup.nearDuplicatesAgainstIndex(batch, idx, "text", "doc_id")
        .select("batch_id", "index_id")
      (u.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        u.queryExecution.toString)
    }
    assert(!aqePlan.contains("BroadcastHashJoin"), aqePlan.take(4000))
    val viaHint = q.select("batch_id", "index_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaAqe == viaHint)
  }

  test("corpusDiff: added/removed/changed/unchanged, delta-sized by default") {
    import spark.implicits._
    val oldDf = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val newDf = Seq((1L, "a"), (2L, "B!"), (4L, "d"), (9L, "new")).toDF("doc_id", "text")
    val delta = Dedup.corpusDiff(oldDf, newDf, "text", "doc_id")
      .as[(Long, String)].collect().toSet
    assert(delta === Set((2L, "changed"), (3L, "removed"), (9L, "added")))
    val full = Dedup.corpusDiff(oldDf, newDf, "text", "doc_id",
        includeUnchanged = true)
      .as[(Long, String)].collect().toSet
    assert(full === delta ++ Set((1L, "unchanged"), (4L, "unchanged")))
    // raw-text digest: a case change IS a change (no normalization)
    val cased = Dedup.corpusDiff(oldDf, oldDf.withColumn("text", upper(col("text"))),
        "text", "doc_id")
      .as[(Long, String)].collect()
    assert(cased.length === 4 && cased.forall(_._2 == "changed"))
    // identical snapshots → empty delta
    assert(Dedup.corpusDiff(oldDf, oldDf, "text", "doc_id").isEmpty)
  }

  test("corpusDiff: NULL-text rows diff by presence, not fingerprint nullity") {
    import spark.implicits._
    // (1) NULL in both → unchanged; (2) NULL → text → changed;
    // (3) text → NULL → changed; (5) NULL only in old → removed;
    // (6) NULL only in new → added
    val oldDf = Seq((1L, null), (2L, null), (3L, "t3"), (5L, null))
      .toDF("doc_id", "text")
    val newDf = Seq((1L, null), (2L, "t2"), (3L, null), (6L, null))
      .toDF("doc_id", "text")
    val full = Dedup.corpusDiff(oldDf, newDf, "text", "doc_id",
        includeUnchanged = true)
      .as[(Long, String)].collect().toMap
    assert(full === Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      5L -> "removed", 6L -> "added"))
  }

  test("hammingNearDups: equals brute force on random 64-bit hashes incl. sign bits") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    // random bases (many with the sign bit set) plus planted near-copies
    // at distance 1..3 so the qualifying set is non-trivial
    val bases = (0 until 30).map(i => (i.toLong, rnd.nextLong()))
    val edits = bases.take(10).zipWithIndex.map { case ((id, h), j) =>
      val flips = 1 + j % 3
      val flipped = (0 until flips).foldLeft(h)((acc, _) =>
        acc ^ (1L << rnd.nextInt(64)))
      (100L + id, flipped)
    }
    val all = bases ++ edits
    val got = Dedup.hammingNearDups(all.toDF("id", "h"), "id", "h",
        bits = 64, maxHamming = 3, bands = 4, maxBucket = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got === want)
  }

  test("hammingNearDupsAgainstIndex: equals cross-side brute force, sign bits included") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val idx = (0 until 40).map(i => (i.toLong, rnd.nextLong()))
    // batch = fresh randoms + near-copies of index rows at distance 0..3
    val batch = (0 until 15).map(i => (1000L + i, rnd.nextLong())) ++
      idx.take(12).zipWithIndex.map { case ((id, h), j) =>
        val flipped = (0 until j % 4).foldLeft(h)((acc, _) =>
          acc ^ (1L << rnd.nextInt(64)))
        (2000L + id, flipped)
      }
    val got = Dedup.hammingNearDupsAgainstIndex(
        batch.toDF("id", "h"), idx.toDF("id", "h"), "id", "h",
        bits = 64, maxHamming = 3, bands = 4, maxBucket = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // maxHamming < bands -> pigeonhole completeness, so brute force is
    // the exact truth, not an upper bound
    val want = (for {
      (ib, hb) <- batch; (ii, hi) <- idx
      d = java.lang.Long.bitCount(hb ^ hi) if d <= 3
    } yield (ib, ii, d)).toSet
    assert(got === want)
    // and the simhash arm is literally this spine at 60 bits
    val sim = Dedup.simHashNearDupsAgainstIndex(
      batch.map { case (i, h) => (i, h & ((1L << 60) - 1)) }
        .toDF("doc_id", "simhash"),
      idx.map { case (i, h) => (i, h & ((1L << 60) - 1)) }
        .toDF("doc_id", "simhash"),
      maxHamming = 3, bands = 4, maxBucket = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want60 = (for {
      (ib, hb) <- batch; (ii, hi) <- idx
      d = java.lang.Long.bitCount((hb ^ hi) & ((1L << 60) - 1)) if d <= 3
    } yield (ib, ii, d)).toSet
    assert(sim === want60)
  }

  test("banded hamming index probe == flat probe == brute force, through parquet") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val idx = (0 until 40).map(i => (i.toLong, rnd.nextLong()))
    val batch = (0 until 15).map(i => (1000L + i, rnd.nextLong())) ++
      idx.take(12).zipWithIndex.map { case ((id, h), j) =>
        val flipped = (0 until j % 4).foldLeft(h)((acc, _) =>
          acc ^ (1L << rnd.nextInt(64)))
        (2000L + id, flipped)
      }
    val out = java.nio.file.Files
      .createTempDirectory("graft-banded-hamming").toString
    Dedup.hammingBandedIndex(idx.toDF("id", "h"), "id", "h",
        bits = 64, bands = 4, maxBucket = None)
      .write.mode("overwrite").parquet(out)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = pairs(Dedup.hammingMatchesAgainstBanded(
      batch.toDF("id", "h"), spark.read.parquet(out), "id", "h",
      bits = 64, maxHamming = 3, bands = 4, maxBucket = None))
    val flat = pairs(Dedup.hammingNearDupsAgainstIndex(
      batch.toDF("id", "h"), idx.toDF("id", "h"), "id", "h",
      bits = 64, maxHamming = 3, bands = 4, maxBucket = None))
    val want = (for {
      (ib, hb) <- batch; (ii, hi) <- idx
      d = java.lang.Long.bitCount(hb ^ hi) if d <= 3
    } yield (ib, ii, d)).toSet
    assert(banded === want)
    assert(flat === want)
    // the unhinted arm for corpus-sized batches is value-identical
    val wide = withConf("spark.sql.optimizer.disableHints" -> "true") {
      pairs(Dedup.hammingMatchesAgainstBanded(
        batch.toDF("id", "h"), spark.read.parquet(out), "id", "h",
        bits = 64, maxHamming = 3, bands = 4, maxBucket = None))
    }
    assert(wide === want)
    // NULL hashes on either side never band, never match
    val nulls = Seq((9000L, Option.empty[Long]), (9001L, Some(batch.head._2)))
      .toDF("id", "h")
    assert(pairs(Dedup.hammingMatchesAgainstBanded(
      nulls, spark.read.parquet(out), "id", "h",
      bits = 64, maxHamming = 3, bands = 4, maxBucket = None))
      == want.filter(_._1 == batch.head._1).map { case (_, i, d) => (9001L, i, d) })
    // the same artifact machinery serves the 60-bit TEXT simhash
    // family (one spine): banded probe == the per-call re-banding
    // simHashNearDupsAgainstIndex over the same tables
    val m60 = (1L << 60) - 1
    val idx60 = idx.map { case (i, h) => (i, h & m60) }
    val batch60 = batch.map { case (i, h) => (i, h & m60) }
    val out60 = java.nio.file.Files
      .createTempDirectory("graft-banded-sim").toString
    Dedup.hammingBandedIndexWrite(
      Dedup.hammingBandedIndex(idx60.toDF("doc_id", "simhash"),
        "doc_id", "simhash", bits = 60, maxBucket = None),
      out60, bits = 60, bands = 4)
    val bandedSim = pairs(Dedup.hammingMatchesAgainstBandedDir(spark, out60,
      batch60.toDF("doc_id", "simhash"), "doc_id", "simhash",
      maxHamming = 3, maxBucket = None))
    val flatSim = pairs(Dedup.simHashNearDupsAgainstIndex(
      batch60.toDF("doc_id", "simhash"), idx60.toDF("doc_id", "simhash"),
      maxHamming = 3, bands = 4, maxBucket = None))
    assert(bandedSim == flatSim)
    assert(bandedSim == (for {
      (ib, hb) <- batch60; (ii, hi) <- idx60
      d = java.lang.Long.bitCount(hb ^ hi) if d <= 3
    } yield (ib, ii, d)).toSet)
  }

  test("banded probe plan: zero index-side aggregation (the artifact amortizes it)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val idx = (0 until 20).map(i => (i.toLong, i.toLong * 7919))
    val batch = Seq((100L, 7919L), (101L, 0L))
    val out = java.nio.file.Files
      .createTempDirectory("graft-banded-plan").toString
    Dedup.hammingBandedIndex(idx.toDF("id", "h"), "id", "h", bits = 64)
      .write.mode("overwrite").parquet(out)
    val probe = Dedup.hammingMatchesAgainstBanded(
      batch.toDF("id", "h"), spark.read.parquet(out), "id", "h", bits = 64)
    val joins = probe.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // the join side carrying the artifact (index_hash rides its rows)
    // must be a bare scan chain - banding/grouping/capping happened at
    // build, never per probe
    val idxSides = joins.flatMap(j => Seq(j.left, j.right))
      .filter(_.output.exists(_.name == "index_hash"))
    assert(idxSides.nonEmpty, probe.queryExecution.optimizedPlan.toString)
    idxSides.foreach { side =>
      assert(side.collect { case a: Aggregate => a }.isEmpty,
        s"index-side aggregation in banded probe:\n$side")
    }
    // contrast: the flat arm re-groups its index side on every call
    // (what the artifact exists to amortize) - the audit would bite it
    val flat = Dedup.hammingNearDupsAgainstIndex(
      batch.toDF("id", "h"), idx.toDF("id", "h"), "id", "h", bits = 64)
    // (the capped bucket build is a bounded_collect aggregate; its
    // itemsName alias sits on the projection above it)
    val flatIdxAggs = flat.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(
        _.prettyName == "bounded_collect")) => a
    }
    assert(flatIdxAggs.nonEmpty)
  }

  test("banded artifact sidecar: Dir probe reads build params; mismatches fail loud") {
    import spark.implicits._
    val idx = (0 until 20).map(i => (i.toLong, i.toLong * 7919))
    val batch = Seq((100L, 7919L), (101L, 3L * 7919L ^ 1L)).toDF("id", "h")
    val out = java.nio.file.Files
      .createTempDirectory("graft-banded-meta").toString
    // write at NON-default banding: the Dir probe must still find the
    // matches because bits/bands come from the sidecar, not a guess
    Dedup.hammingBandedIndexWrite(
      Dedup.hammingBandedIndex(idx.toDF("id", "h"), "id", "h",
        bits = 64, bands = 8, maxBucket = None),
      out, bits = 64, bands = 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = pairs(Dedup.hammingMatchesAgainstBandedDir(spark, out,
      batch, "id", "h", maxHamming = 3, maxBucket = None))
    val want = (for {
      (ib, hb) <- Seq((100L, 7919L), (101L, 3L * 7919L ^ 1L))
      (ii, hi) <- idx
      d = java.lang.Long.bitCount(hb ^ hi) if d <= 3
    } yield (ib, ii, d)).toSet
    assert(got == want && got.nonEmpty)
    // appending with different banding would corrupt the key space
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingBandedIndexWrite(
        Dedup.hammingBandedIndex(batch, "id", "h", bits = 64, bands = 4),
        out, bits = 64, bands = 4, mode = "append")
    }
    assert(e.getMessage.contains("contract"), e.getMessage)
    // a parquet directory WITHOUT the sidecar (pre-banded flat table,
    // foreign data) fails naming the rebuild, never guesses
    val bare = java.nio.file.Files
      .createTempDirectory("graft-banded-bare").toString
    idx.toDF("doc_id", "dhash").write.mode("overwrite").parquet(bare)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.hammingMatchesAgainstBandedDir(spark, bare, batch, "id", "h")
    }
    assert(e2.getMessage.contains("hammingBandedIndexWrite"), e2.getMessage)
    // and the WRITE side mirrors the read-side require: appending into a
    // sidecar-less data directory would mix band-schema rows into a flat
    // table and stamp a fresh sidecar over the hybrid — fail loud instead
    val e3 = intercept[IllegalArgumentException] {
      Dedup.hammingBandedIndexWrite(
        Dedup.hammingBandedIndex(batch, "id", "h", bits = 64, bands = 8),
        bare, bits = 64, bands = 8, mode = "append")
    }
    assert(e3.getMessage.contains("no _hamming_bands sidecar"), e3.getMessage)
    assert(spark.read.parquet(bare).columns.toSet == Set("doc_id", "dhash"),
      "refused append must leave the foreign directory untouched")
    // appending into an EMPTY directory is a fresh build, not an error
    val empty = java.nio.file.Files
      .createTempDirectory("graft-banded-empty").toString
    Dedup.hammingBandedIndexWrite(
      Dedup.hammingBandedIndex(batch, "id", "h", bits = 64, bands = 8),
      empty, bits = 64, bands = 8, mode = "append")
    assert(Dedup.readHammingBandMeta(spark, empty) == ((64, 8)))
  }

  test("hammingBandedIndexWrite append leaves an unchanged _hamming_bands untouched") {
    import spark.implicits._
    val idx = (0 until 10).map(i => (i.toLong, i.toLong * 7919)).toDF("id", "h")
    val out = java.nio.file.Files
      .createTempDirectory("graft-banded-stamp").toString
    Dedup.hammingBandedIndexWrite(
      Dedup.hammingBandedIndex(idx, "id", "h", bits = 64, bands = 4),
      out, bits = 64, bands = 4)
    val stamp = new org.apache.hadoop.fs.Path(out, "_hamming_bands")
    val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_hamming_bands"))
    fs.setTimes(stamp, 0L, -1L)
    Dedup.hammingBandedIndexWrite(
      Dedup.hammingBandedIndex(Seq((100L, 3L)).toDF("id", "h"), "id", "h",
        bits = 64, bands = 4),
      out, bits = 64, bands = 4, mode = "append")
    // a racing probe must never see the stamp truncated mid-rewrite
    assert(fs.getFileStatus(stamp).getModificationTime == 0L)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_hamming_bands")).toSeq == before.toSeq)
    assert(spark.read.parquet(out).select("index_id").distinct().count() == 11L)
  }

  test("winnowIndexAppend: union == rebuild; (k, w) and id guards fail loud") {
    import spark.implicits._
    val a = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different content in this one here")).toDF("id", "text")
    val b = Seq((3L, "the quick brown fox leaps over the lazy dog")).toDF("id", "text")
    val grown = Dedup.winnowIndexAppend(
      Dedup.winnowIndex(a, "text", "id"), b, "text", "id")
    val rebuilt = Dedup.winnowIndex(a.unionByName(b), "text", "id")
    assert(grown.collect().map(_.toSeq).toSet == rebuilt.collect().map(_.toSeq).toSet)
    val e = intercept[Exception] {
      Dedup.winnowIndexAppend(
        Dedup.winnowIndex(a, "text", "id", k = 8, w = 4),
        b, "text", "id", k = 6, w = 4).count()
    }
    assert(e.getMessage.contains("one parameterization per artifact"), e.getMessage)
    val e2 = intercept[Exception] {
      Dedup.winnowIndexAppend(
        Dedup.winnowIndex(a, "text", "id"),
        Seq((1L, "re-added")).toDF("id", "text"), "text", "id").count()
    }
    assert(e2.getMessage.contains("already indexed"), e2.getMessage)
  }

  test("recapBandedIndex: re-cap ≡ fresh capped build; replay duplicates fold") {
    import spark.implicits._
    val X = 1407396358717445L // band keys (5,5,5,5) at 64/4
    val Y = 2533313445691401L // (9,9,9,9)
    def banded(rows: (Long, Long)*) =
      Dedup.hammingBandedIndex(rows.toDF("id", "h"), "id", "h",
        bits = 64, bands = 4, maxBucket = Some(2))
    // artifact grown one id per drop (nothing capped early), PLUS a
    // replayed append duplicating id 4's band rows
    val grown = banded((1L, X), (4L, Y))
      .unionByName(banded((2L, X)))
      .unionByName(banded((3L, X)))
      .unionByName(banded((4L, Y))) // replay re-append: duplicate rows
    val recapped = Dedup.recapBandedIndex(grown, Some(2))
    val fresh = banded((1L, X), (2L, X), (3L, X), (4L, Y))
    assert(recapped.collect().map(_.toSeq).toSet ==
      fresh.collect().map(_.toSeq).toSet)
    // the X bucket (3 distinct members) is gone, the Y singleton stays
    assert(recapped.select("index_id").distinct()
      .as[Long].collect().toSet == Set(4L))
    // dir arm refuses in-place rewrites (aliased spelling included)
    val out = java.nio.file.Files
      .createTempDirectory("graft-recap-dir").toString + "/idx"
    Dedup.hammingBandedIndexWrite(grown, out, 64, 4)
    val e = intercept[IllegalArgumentException] {
      Dedup.recapBandedIndexDir(spark, out, out + "/", Some(2))
    }
    assert(e.getMessage.contains("resolves to the source path"), e.getMessage)
  }

  test("hammingNearDups: rejects bits that don't divide into bands") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("id", "h")
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(df, "id", "h", bits = 64, maxHamming = 2, bands = 3)
    }
    // bits > 64 would wrap the band-key shift mod 64 and silently
    // collapse every key into one bucket — fail loud instead
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(df, "id", "h", bits = 128, maxHamming = 2, bands = 2)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupsAgainstIndex(df, df, "id", "h",
        bits = 128, maxHamming = 2, bands = 1)
    }
  }

  test("simHashes tokenizer=uax29: distinct CJK docs stop hashing identically") {
    import graft.operators.TextAnalysis.{Uax29Tokenizer, WhitespaceTokenizer}
    val cjk = Seq(
      (1L, "天地玄黄宇宙洪荒"),
      (2L, "日月盈昃辰宿列张")).toDF("doc_id", "text")
    def hashes(tok: String) = Dedup.simHashes(cjk, "text", "doc_id", tok)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // whitespace normalization maps CJK to empty word lists: BOTH docs
    // simhash to 0 and would Hamming-0 "near-dup" each other
    val ws = hashes(WhitespaceTokenizer)
    assert(ws(1L) == 0L && ws(2L) == 0L)
    // uax29 segments per ideograph: distinct content, distinct hashes
    val u = hashes(Uax29Tokenizer)
    assert(u(1L) != 0L && u(2L) != 0L && u(1L) != u(2L))
    intercept[IllegalArgumentException] {
      Dedup.simHashes(cjk, "text", "doc_id", "nope")
    }
  }

  test("keep-best keepers: cluster argmax beats the greedy lowest-id rule") {
    // docs 1, 2, 3 are near-identical (one transitive cluster); doc 3
    // scores highest. 4 is unrelated. The greedy pairwise rule keeps
    // doc 1 (lowest id — the LOW-quality copy); keep-best keeps doc 3.
    val base = "the quick brown fox jumps over the lazy dog and then naps all day"
    val corpus = Seq(
      (1L, base + " one", 0.1),
      (2L, base + " two", 0.5),
      (3L, base + " three", 0.9),
      (4L, "completely different text about spark shuffles and joins", 0.2))
      .toDF("doc_id", "text", "sc")
    val kept = graft.operators.Dedup.dropNearDuplicatesKeepBest(
        corpus, "text", "doc_id", "sc", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
    val greedy = graft.operators.Dedup.dropNearDuplicates(
        corpus, "text", "doc_id", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(greedy == Set(1L, 4L))
  }

  test("keep-best exact keeper: highest score wins, id breaks ties") {
    val corpus = Seq(
      (1L, "Same Text", 0.2),
      (2L, "same text", 0.8),   // same normalized text, better score
      (3L, "same text", 0.8),   // tie with 2 -> lower id (2) wins
      (4L, "other", 0.1))
      .toDF("doc_id", "text", "sc")
    val kept = graft.operators.Dedup.dropExactDuplicatesKeepBest(
        corpus, "text", "doc_id", "sc")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }
}
