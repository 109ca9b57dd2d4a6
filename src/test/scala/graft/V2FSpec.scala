package graft

import java.nio.file.{Files, Path}
import graft.plans.{DatasetSpecificPipeline, ExtractionPipeline, V2F, V2FTables}
import graft.sources.JsonLines

/**
 * End-to-end pipeline behavior over small fixtures, mirroring the shape of
 * the reference's integration inputs (reference: v2f/src/it/test-files).
 */
class V2FSpec extends SparkSpec {

  private def write(dir: Path, rel: String, content: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    ()
  }

  /** The five V2F tables in the reference layout; `ancestryDir` is the
    * directory the ancestry-specific table sits in. */
  private def writeTables(in: Path, ancestryDir: String = "ancestry=EU"): Unit = {
    write(in, "frequency-analysis/a.csv",
      "varId\tchromosome\tposition\treference\talt\teaf\tmaf\n" +
        "v1\t1\t100.0\tA\tT\t0.5\t0.25\n" +
        "v2\t2\t200\tG\tC\t\t0.125\n")
    write(in, s"meta-analysis/ancestry-specific/$ancestryDir/b.csv",
      "varId\tchromosome\tposition\treference\talt\tpValue\tbeta\tstdErr\tn\n" +
        "v1\t1\t100.0\tA\tT\t0.01\t1.5\t0.1\t1000\n")
    write(in, "meta-analysis/trans-ethnic/c.csv",
      "varId\tchromosome\tposition\treference\talt\tpValue\tzScore\tstdErr\tbeta\tn\ttop\n" +
        "v3\t3\t300\tT\tG\t0.05\t2.5\t0.2\t0.9\t500\ttrue\n")
    write(in, "variant-effect/regulatory-feature-consequences/d.csv",
      "id\tpick\tconsequenceTerms\n" +
        "v1\t1\tregulatory_region_variant,TF_binding_site_variant\n")
    write(in, "variant-effect/transcript-consequences/e.csv",
      "id\tstrand\tcanonical\tsiftScore\tsiphy29WayPi\n" +
        "v1\t1\ttrue\t0.1,.\t0.2:0.3\n")
  }

  test("ExtractionPipeline end-to-end: 5 tables + merged variants as drop-null JSON") {
    val in = Files.createTempDirectory("v2f-in")
    val out = Files.createTempDirectory("v2f-out")
    writeTables(in)

    ExtractionPipeline.run(spark, in.toString, out.toString)

    val fa = JsonLines.read(spark, s"$out/frequency-analysis/*.json")
    assert(fa.columns.toSet == Set("variant_id", "eaf", "maf"))
    val faRows = fa.orderBy("variant_id").collect()
    assert(faRows(0).getAs[Double]("eaf") == 0.5)
    assert(faRows(1).isNullAt(faRows(1).fieldIndex("eaf"))) // empty cell dropped

    val maas = JsonLines.read(spark, s"$out/meta-analysis/ancestry-specific/*.json")
    assert(maas.columns.contains("ancestry"))
    assert(maas.head.getAs[String]("ancestry") == "EU")
    assert(maas.head.getAs[Long]("n") == 1000L)

    val mate = JsonLines.read(spark, s"$out/meta-analysis/trans-ethnic/*.json")
    assert(mate.head.getAs[Boolean]("top"))

    val verfc = JsonLines.read(spark,
      s"$out/variant-effect/regulatory-feature-consequences/*.json")
    val verfcRow = verfc.head
    // Spark 4 returns mutable.ArraySeq; getSeq avoids the immutable-Seq cast
    assert(verfcRow.getSeq[String](verfcRow.fieldIndex("consequence_terms")) ==
      Seq("regulatory_region_variant", "TF_binding_site_variant"))
    assert(!verfcRow.getAs[Boolean]("pick")) // "1" not in default true-set

    val vetc = JsonLines.read(spark,
      s"$out/variant-effect/transcript-consequences/*.json")
    val vetcRow = vetc.head
    // NaN inside a written double array serializes as the JSON string
    // "NaN", so the untyped read-back infers array<string>; the values
    // cast back to (0.1, NaN)
    assert(vetcRow.getSeq[String](vetcRow.fieldIndex("sift_score"))
      .map(s => java.lang.Double.doubleToLongBits(s.toDouble)) ==
      Seq(0.1, Double.NaN).map(java.lang.Double.doubleToLongBits))
    assert(vetcRow.getSeq[Any](vetcRow.fieldIndex("siphy_29_way_pi")) == Seq(0.2, 0.3))
    assert(vetc.head.getAs[Long]("strand") == 1L)

    // variants: v1 appears in frequency-analysis AND ancestry-specific ->
    // merged once; v2, v3 once each
    val variants = JsonLines.read(spark, s"$out/variants/*.json")
    assert(variants.count() == 3)
    assert(variants.select("id").distinct().count() == 3)
    val v1 = variants.filter("id = 'v1'").head
    assert(v1.getAs[Long]("position") == 100L) // "100.0" trimmed to long
  }

  test("ExtractionPipeline: a failing sink rethrows its own error, not an ExecutionException") {
    val in = Files.createTempDirectory("v2f-noanc-in")
    val out = Files.createTempDirectory("v2f-noanc-out")
    writeTables(in, ancestryDir = "EU")
    val e = intercept[Throwable](ExtractionPipeline.run(spark, in.toString, out.toString))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("addAncestryID: no match for pattern"), messages)
  }

  test("ExtractionPipeline releases every persist after a successful and a failed run") {
    val in = Files.createTempDirectory("v2f-ok-in")
    writeTables(in)
    ExtractionPipeline.run(spark, in.toString, Files.createTempDirectory("v2f-ok-out").toString)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)

    val bad = Files.createTempDirectory("v2f-bad-in")
    writeTables(bad, ancestryDir = "EU")
    intercept[Throwable](ExtractionPipeline.run(
      spark, bad.toString, Files.createTempDirectory("v2f-bad-out").toString))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("ExtractionPipeline sink jobs carry the caller's job group") {
    val in = Files.createTempDirectory("v2f-group-in")
    writeTables(in)
    val out = Files.createTempDirectory("v2f-group-out")
    spark.sparkContext.setJobGroup("v2f-test", "concurrent sinks", interruptOnCancel = false)
    val (_, jobs) =
      try jobsDuring(ExtractionPipeline.run(spark, in.toString, out.toString))
      finally spark.sparkContext.clearJobGroup()
    assert(jobs.nonEmpty)
    assert(jobs.map(_.getProperty("spark.jobGroup.id")).forall(_ == "v2f-test"),
      jobs.map(_.getProperty("spark.jobGroup.id")))
  }

  test("ExtractionPipeline: a repeated run compiles no class after the first") {
    val in = Files.createTempDirectory("v2f-reuse-in")
    writeTables(in)
    val out = Files.createTempDirectory("v2f-reuse-out").toString
    val (_, first) = classesCompiledDuring(ExtractionPipeline.run(spark, in.toString, out))
    val (_, second) = classesCompiledDuring(ExtractionPipeline.run(spark, in.toString, out))
    // the first run may compile nothing either: the tests before it ran
    // the same plans in this JVM
    info(s"classes compiled: $first, then $second")
    assert(second == 0, s"the second run compiled $second classes (the first $first)")
  }

  test("DatasetSpecificPipeline: JSON -> snake/rename/remove -> JSON") {
    val in = Files.createTempDirectory("dsa-in")
    val out = Files.createTempDirectory("dsa-out")
    write(in, "dataset-specific/a.json",
      """{"varId":"v1","chromosome":"1","position":100,"reference":"A","alt":"T","oddsRatio":1.5}""" +
        "\n" +
        """{"varId":"v2","chromosome":"2","position":200,"reference":"G","alt":"C","oddsRatio":2.5}""" +
        "\n")
    DatasetSpecificPipeline.run(spark, in.toString, out.toString)
    val got = JsonLines.read(spark, s"$out/dataset-specific/*.json")
    assert(got.columns.toSet == Set("variant_id", "odds_ratio"))
    assert(got.orderBy("variant_id").collect().map(_.getAs[Double]("odds_ratio")).toSeq ==
      Seq(1.5, 2.5))
  }

  test("mergeVariants keeps exactly one row per id across many inputs") {
    import spark.implicits._
    val a = Seq(("v1", 1L), ("v2", 2L)).toDF("id", "position")
    val b = Seq(("v2", 2L), ("v3", 3L)).toDF("id", "position")
    val merged = V2F.mergeVariants(Seq(a, b))
    assert(merged.count() == 3)
    // plan audit: dedup must be a hash aggregate/shuffle, not a collect
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange") || plan.contains("Aggregate"), plan)
  }

  test("V2FTables carries the full reference table configuration") {
    assert(V2FTables.all.size == 6)
    assert(V2FTables.VariantEffectTranscriptConsequences.fieldsToConvertToDouble.size == 55)
    assert(V2FTables.VariantEffectTranscriptConsequences
      .fieldsToConvertToDoubleArray(":").contains("siphy_29_way_pi"))
  }
}
