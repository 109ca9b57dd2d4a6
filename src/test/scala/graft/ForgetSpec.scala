package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cdc, Dedup, Forget}

class ForgetSpec extends SparkSpec {
  import spark.implicits._

  test("removeIds drops exactly the removed ids; NULL index ids are kept") {
    val idx = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "c"), (Some(3L), "d"))
      .toDF("doc_id", "payload")
    val rm = Seq(2L, 99L).toDF("id")
    for (disableHints <- Seq(false, true)) {
      val out = withConf("spark.sql.optimizer.disableHints" -> disableHints.toString) {
        Forget.removeIds(idx, "doc_id", rm, "id")
          .select("payload").as[String].collect().toSet
      }
      assert(out === Set("a", "c", "d"), s"disableHints $disableHints")
    }
  }

  test("forgetFingerprints keeps shared fingerprints until the last holder goes") {
    val corpus = Seq((1L, "same text"), (2L, "Same  TEXT!"), (3L, "other")).toDF("id", "text")
    val counted = Dedup.exactFingerprintIndexCounted(corpus, "text")
    assert(counted.filter(col("n_docs") === 2).count() === 1L) // 1 and 2 collide
    // remove one holder: fingerprint survives at n_docs 1
    val after1 = Forget.forgetFingerprints(counted,
      Seq(Tuple1("same text")).toDF("text"), "text")
    assert(after1.as[(String, Long)].collect().toMap.values.toSeq.sorted === Seq(1L, 1L))
    // remove both holders: fingerprint gone
    val after2 = Forget.forgetFingerprints(counted,
      Seq(Tuple1("same text"), Tuple1("Same  TEXT!")).toDF("text"), "text")
    assert(after2.count() === 1L)
    // equivalently: forget(index, removed) == index(corpus minus removed)
    val rebuilt = Dedup.exactFingerprintIndexCounted(
      corpus.filter(col("id") === 3L), "text")
    assert(after2.collect().toSet === rebuilt.collect().toSet)
  }

  test("appendFingerprints == rebuild over the union; append-then-forget roundtrips") {
    val prior = Seq((1L, "same text"), (2L, "other")).toDF("id", "text")
    val drop = Seq((3L, "Same  TEXT!"), (4L, "brand new"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val counted = Dedup.exactFingerprintIndexCounted(prior, "text")
    val grown = Forget.appendFingerprints(counted, drop, "text")
    // shared fingerprint merges (same text/Same TEXT! -> 2), new one
    // starts at 1, NULL text adds nothing
    val rebuilt = Dedup.exactFingerprintIndexCounted(
      prior.unionByName(drop).filter(col("text").isNotNull), "text")
    assert(grown.collect().toSet === rebuilt.collect().toSet)
    assert(grown.as[(String, Long)].collect().toMap.values.toSeq.sorted
      === Seq(1L, 1L, 2L))
    // lifecycle symmetry: forgetting exactly the appended docs lands
    // back on the original counted index
    val roundtrip = Forget.forgetFingerprints(grown,
      drop.filter(col("text").isNotNull), "text")
    assert(roundtrip.collect().toSet === counted.collect().toSet)
    // the unhinted (corpus-sized escape) arm is value-identical
    val unhinted = withConf("spark.sql.optimizer.disableHints" -> "true") {
      Forget.appendFingerprints(counted, drop, "text").collect().toSet
    }
    assert(unhinted === rebuilt.collect().toSet)
    // tokenizer threads through BOTH arms: a uax29-built index grows
    // and forgets under uax29 keys (CJK docs don't collapse to one
    // fingerprint on either path)
    val uax = graft.operators.TextAnalysis.Uax29Tokenizer
    val cjkA = Seq((1L, "天地玄黄")).toDF("id", "text")
    val cjkB = Seq((2L, "日月盈昃")).toDF("id", "text")
    val cjkGrown = Forget.appendFingerprints(
      Dedup.exactFingerprintIndexCounted(cjkA, "text", uax), cjkB, "text", uax)
    assert(cjkGrown.count() === 2L)
    assert(Forget.forgetFingerprints(cjkGrown, cjkB, "text", uax).count() === 1L)
  }

  test("forgetFingerprints fails loudly on over-removal and unknown docs; NULL text is a no-op") {
    val corpus = Seq((1L, "only doc")).toDF("id", "text")
    val counted = Dedup.exactFingerprintIndexCounted(corpus, "text")
    intercept[Exception] {
      Forget.forgetFingerprints(counted,
        Seq(Tuple1("never indexed")).toDF("text"), "text").collect()
    }
    intercept[Exception] {
      Forget.forgetFingerprints(counted,
        Seq(Tuple1("only doc"), Tuple1("only doc")).toDF("text"), "text").collect()
    }
    val out = Forget.forgetFingerprints(counted,
      Seq(Tuple1(null.asInstanceOf[String])).toDF("text"), "text")
    assert(out.count() === 1L)
  }

  test("versioned lifecycle: init -> rewrite -> readCurrent, old versions retired") {
    val dir = java.nio.file.Files.createTempDirectory("graft-forget-spec").toString
    val idx = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "v")
    assert(Forget.initVersioned(idx, dir) === 1L)
    assert(Forget.readCurrent(spark, dir).count() === 3L)
    // double init is an error
    intercept[IllegalArgumentException] { Forget.initVersioned(idx, dir) }
    val v2 = Forget.rewriteVersioned(spark, dir)(cur =>
      Forget.removeIds(cur, "doc_id", Seq(2L).toDF("id"), "id"))
    assert(v2 === 2L)
    assert(Forget.readCurrent(spark, dir).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 3L))
    val v3 = Forget.rewriteVersioned(spark, dir, keepVersions = 1)(cur =>
      Forget.removeIds(cur, "doc_id", Seq(3L).toDF("id"), "id"))
    assert(v3 === 3L)
    assert(Forget.readCurrent(spark, dir).select("doc_id")
      .as[Long].collect().toSeq === Seq(1L))
    // keepVersions=1 retired v1 and v2; v3 is live
    val root = new java.io.File(dir)
    val versions = root.listFiles().map(_.getName).filter(_.startsWith("v")).sorted
    assert(versions === Array("v3"))
  }

  test("keepVersions <= 0 fails before writing; the live version survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft-forget-keep0").toString
    val idx = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "v")
    intercept[IllegalArgumentException] { Forget.initVersioned(idx, dir, keepVersions = 0) }
    intercept[IllegalStateException] { Forget.readCurrent(spark, dir) } // nothing published
    assert(Forget.initVersioned(idx, dir) === 1L)
    for (keep <- Seq(0, -1)) {
      intercept[IllegalArgumentException] {
        Forget.rewriteVersioned(spark, dir, keepVersions = keep)(cur =>
          Forget.removeIds(cur, "doc_id", Seq(2L).toDF("id"), "id"))
      }
    }
    assert(Forget.readCurrent(spark, dir).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L))
    assert(!new java.io.File(dir, "v2").exists())
  }

  test("rewriteVersioned without a _CURRENT pointer fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-forget-nocur").toString
    intercept[IllegalStateException] {
      Forget.rewriteVersioned(spark, dir)(identity)
    }
    intercept[IllegalStateException] { Forget.readCurrent(spark, dir) }
  }

  test("_CURRENT pointer: malformed fails loud, publishes leave no tmp files, " +
    "a checksummed-era .crc is dropped") {
    val idx = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft-forget-ptr").toString
    Forget.initVersioned(idx, dir)
    val ptr = new org.apache.hadoop.fs.Path(dir, "_CURRENT")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writePointer(text: String): Unit = {
      // through the CHECKSUM fs, as a pre-overwrite-rename writer did
      val os = fs.create(ptr, true)
      try os.write(text.getBytes("UTF-8")) finally os.close()
    }
    // an empty or non-numeric pointer names _CURRENT, never NPE/NFE
    for (bad <- Seq("", "  ", "v2", "1x")) {
      writePointer(bad)
      val e = intercept[IllegalStateException] { Forget.readCurrent(spark, dir) }
      assert(e.getMessage.contains("_CURRENT"), e.getMessage)
      val e2 = intercept[IllegalStateException] { Cdc.readCurrent(spark, dir) }
      assert(e2.getMessage.contains("_CURRENT"), e2.getMessage)
    }
    // a checksummed rewrite leaves a `._CURRENT.crc`; the next publish
    // drops it (it would describe the OLD bytes) and reads still work
    writePointer("1")
    assert(new java.io.File(dir, "._CURRENT.crc").exists())
    for (i <- 2L to 4L)
      assert(Forget.rewriteVersioned(spark, dir)(cur =>
        Forget.removeIds(cur, "doc_id", Seq(i - 1).toDF("id"), "id")) === i)
    assert(!new java.io.File(dir, "._CURRENT.crc").exists())
    assert(Forget.readCurrent(spark, dir).select("doc_id").as[Long]
      .collect().isEmpty)
    val strays = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.contains("_CURRENT.tmp"))
    assert(strays.isEmpty, strays.mkString(","))
  }

  test("stream-index forget equals rebuild from the reduced signature table") {
    val docs = (0L until 40L).map(i => (i, s"doc number $i shares words with doc ${i % 7}"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, "text", "doc_id")
    val forgotten = Forget.removeIds(
      Dedup.nearDupStreamIndex(sigs), "index_id",
      Seq(3L, 9L, 12L).toDF("id"), "id")
    val rebuilt = Dedup.nearDupStreamIndex(
      Dedup.minHashSignatures(
        docs.filter(!col("doc_id").isin(3L, 9L, 12L)), "text", "doc_id"))
    assert(forgotten.withColumn("index_signature", to_json(col("index_signature")))
      .collect().toSet ===
      rebuilt.withColumn("index_signature", to_json(col("index_signature")))
        .collect().toSet)
  }

  test("counted-index merge plans broadcast: no full-outer, no index shuffle") {
    // BroadcastHashJoin has no full-outer build side — the old full_outer
    // spelling silently ignored the hint and shuffled the whole index.
    // The split spelling (broadcast LEFT join + match-bounded anti leg)
    // must plan every index-touching join as a broadcast join.
    val corpus = (0L until 50L).map(i => (i, s"text $i")).toDF("id", "text")
    val counted = Dedup.exactFingerprintIndexCounted(corpus, "text")
    val drop = Seq((100L, "brand new")).toDF("id", "text")
    for ((name, df) <- Seq(
      "append" -> Forget.appendFingerprints(counted, drop, "text"),
      "forget" -> Forget.forgetFingerprints(counted,
        corpus.filter(col("id") < 5).select("text"), "text"))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("FullOuter"), s"$name still plans a full-outer:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name shuffles the index through a sort-merge join:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
    }
  }
}
