package graft

import org.apache.spark.sql.functions._

/**
 * Gate frames that carry an in-plan parity guard must keep it under any
 * consumer: a guard riding a projected column is elided by column
 * pruning when the consumer reads no columns (a bare count).
 */
class GateGuardSpec extends SparkSpec {
  import spark.implicits._

  /** A gate data directory holding only a small synthetic documents table. */
  private lazy val sfDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("gate-guard").toString
    val words = Vector("river", "stone", "cloud", "maple", "ember", "harbor", "quill", "lantern")
    (0L until 120L)
      .map { i =>
        val text = (0 until 6).map(j => words(((i * 7 + j * 3) % words.size).toInt))
        (i, text.mkString(" ") + s" item $i")
      }
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_forget_editsim: the parity raise survives a groupBy().count() consumer") {
    val frame = SparkEntry.queries("q_forget_editsim")(spark, sfDir)
    val counted = frame.groupBy().count()
    val plan = counted.queryExecution.optimizedPlan.toString
    assert(plan.contains("raise_error"), s"parity guard pruned away:\n$plan")
    // parity holds on this corpus: the guard contributes no rows
    assert(counted.head().getLong(0) == frame.collect().length.toLong)
    assert(frame.filter(col("batch_id").isNull).count() == 0L)
  }

  test("q_bm25_sidecar_append: the registry guard check holds under a long layout path") {
    val base = java.nio.file.Files.createTempDirectory("gate-guard-long").toString
    val out = s"$base/${"n" * math.max(1, 80 - base.length)}/layout"
    graft.operators.Retrieval.bm25SidecarWrite(
      spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id", out)
    val guard = graft.operators.Retrieval.sidecarAppendPostings(
        spark, out, Seq((1000L, "river stone")).toDF("doc_id", "text"), "text", "doc_id")
      .queryExecution.sparkPlan
    // the fixture exercises the case: the plan string cuts each file
    // location at 100 characters, before the generation's name
    assert(!guard.toString.contains("registry-g"), guard.toString)
    assert(graft.gates.CorpusGates.generationsScanned(guard) == Seq("registry-g1"),
      guard.toString)
    // the whole gate, under a layout path as long
    graft.gates.CorpusGates.sidecarAppend(spark, sfDir, s"$out-gate").collect()
  }
}
