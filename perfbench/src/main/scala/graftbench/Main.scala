package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in a fresh JVM:
 *
 *  1. set up the engine (`GraftSession.create` plus a trivial action),
 *     timed from JVM start;
 *  2. write the workload's seeded inputs (untimed);
 *  3. run the cold pass, then passes for `--seconds`; passes that start
 *     in the first `WarmupShare` of that window still carry JIT warm-up
 *     and are left out, the later ones are the steady passes;
 *  4. check the outputs (untimed);
 *  5. with `--trace 1`: steady passes alternate untraced and traced, and
 *     the workload's layer probes run after the checks;
 *  6. set up `SetupReps - 1` more times (stop, create, trivial action)
 *     for the set-up median;
 *  7. write the run record and print the result line.
 *
 * A call into graft that throws ends the passes; the run still prints
 * its result, with `correct` false, and exits 1.
 *
 * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
 *   --trace <0|1> --work <dir> --record <file>
 */
object Main {
  private val SetupReps = 9
  private val MinSteadyPasses = 2
  private val WarmupShare = 0.4

  private type Metrics = Seq[(String, (Double, String))]

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** GraftSession.create plus a trivial action: (session, create s, action s). */
  private def setUp(): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val s = GraftSession.create("graft-perfbench")
    val t1 = System.nanoTime()
    s.range(1).count()
    (s, (t1 - t0) / 1e9, seconds(t1))
  }

  private def asJson(ms: Metrics): Json.Obj =
    Json.Obj(ms.map { case (k, (v, unit)) => k -> Json.obj("value" -> v, "unit" -> unit) })

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(args("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}; " +
        s"expected one of ${Workloads.names.mkString(", ")}"))
    val seed = args("seed").toLong
    val window = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work"))
    val runId = s"${workload.name}-seed$seed-trace${if (trace) 1 else 0}"

    // 1. set-up, from JVM start
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (firstSession, coldCreate, coldFirstAction) = setUp()
    var spark = firstSession
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3)
    var exitCode = 0
    try {
      // 2. inputs
      val in = new File(work, "in")
      val out = new File(work, "out")
      Seq(in, out).foreach(Gen.deleteTree)
      val g0 = System.nanoTime()
      val input = workload.prepare(spark, seed, in, out)
      log(f"generated ${input.records} records, ${input.bytes} bytes in ${input.files} files " +
        f"(${seconds(g0)}%.1f s)")
      val tracer = if (trace) Some(new Tracer(spark, runId)) else None
      val ctx = new Ctx(spark, tracer)

      // 3. passes
      val untraced = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[Double]
      def timedPass(i: Int, withTrace: Boolean): Double = {
        workload.beforePass(ctx, i)
        tracer.foreach(_.enabled = withTrace)
        val t0 = System.nanoTime()
        try ctx.within("plans", "pass")(workload.pass(ctx, i))
        finally tracer.foreach(_.enabled = false)
        val dt = seconds(t0)
        log(f"pass $i${if (withTrace) " (traced)" else ""}: $dt%.3f s")
        dt
      }
      var cold = Double.NaN
      val passesOk = try {
        cold = timedPass(0, withTrace = trace)
        val w0 = System.nanoTime()
        var i = 1
        while (seconds(w0) < window || untraced.size < MinSteadyPasses ||
            (trace && traced.isEmpty)) {
          val warm = seconds(w0) < WarmupShare * window
          val withTrace = trace && !warm && traced.size < untraced.size
          val dt = timedPass(i, withTrace)
          if (!warm) (if (withTrace) traced else untraced) += dt
          i += 1
        }
        true
      } catch { case NonFatal(e) => log(s"pass failed: $e"); false }

      // 4. checks
      val checks = if (passesOk) workload.checks(ctx) else Nil
      checks.foreach(c => log(s"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
      val peakRss = peakRssMb()
      val bytesOut = workload.outputBytes.toDouble
      val steady = Stats.median(untraced.toSeq)

      // 5. layers
      val (layers, layerDetails) = tracer.filter(_ => passesOk)
        .map(tr => layerMetrics(tr, ctx, workload, input, coldCreate, coldFirstAction,
          steady, Stats.median(traced.toSeq)))
        .getOrElse((Nil, Map.empty[String, Double]))
      tracer.foreach(_.close())

      // 6. more set-ups; each stops the session the passes used
      (1 until SetupReps).foreach { _ =>
        spark.stop()
        val t0 = System.nanoTime()
        spark = setUp()._1
        setups += seconds(t0)
      }
      log(f"setup samples: ${setups.map(s => f"$s%.3f").mkString(", ")}")
      val e2e: Metrics = Seq(
        "setup_s" -> (Stats.median(setups.toSeq), "s"),
        "cold_s" -> (cold, "s"),
        "rows_per_s" -> (workload.recordsPerPass / steady, "rows/s"),
        "bytes_out_per_byte_in" -> (bytesOut / input.bytes, "ratio"),
        "peak_rss_mb" -> (peakRss, "MB"))

      // 7. record and result
      val attempted = ctx.attempted + checks.size
      val failed = ctx.failed + checks.count(!_.ok)
      val correct = passesOk && failed == 0
      val record = new File(args("record"))
      record.getParentFile.mkdirs()
      Files.write(record.toPath, Json.render(Json.obj(
        "run_id" -> runId, "workload" -> workload.name, "seed" -> seed, "seconds" -> window,
        "cores" -> GraftSession.localCores,
        "input" -> Json.obj("records" -> input.records, "bytes" -> input.bytes, "files" -> input.files),
        "records_per_pass" -> workload.recordsPerPass,
        "setup_samples_s" -> setups.toSeq, "cold_pass_s" -> cold,
        "steady_passes_s" -> untraced.toSeq, "traced_passes_s" -> traced.toSeq,
        "end_to_end" -> asJson(e2e),
        "per_layer" -> asJson(layers),
        "layer_details" -> Json.Obj(layerDetails.toSeq.sortBy(_._1)),
        "calls" -> Json.Obj(ctx.calls.toSeq.map { case (k, v) =>
          k -> Json.obj("n" -> v.size, "p50_s" -> Stats.median(v.toSeq), "all_s" -> v.toSeq) }),
        "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "workload_facts" -> Json.Obj(workload.record),
        "spans" -> tracer.map(_.records).getOrElse(Nil)
      )).getBytes(StandardCharsets.UTF_8))
      println(Json.render(Json.obj("correct" -> correct, "attempted" -> attempted,
        "failed" -> math.max(failed, if (correct) 0L else 1L),
        "metrics" -> asJson(if (trace) layers else e2e))))
      if (!correct) exitCode = 1
    } finally spark.stop()
    sys.exit(exitCode)
  }

  /** The per-layer metrics of BENCHMARK.json, and the finer values the
    * workload measured (kept in the record only). "Per pass" values are
    * medians over the traced steady passes. */
  private def layerMetrics(tr: Tracer, ctx: Ctx, workload: Workload, input: InputStats,
      coldCreate: Double, coldFirstAction: Double,
      steady: Double, steadyTraced: Double): (Metrics, Map[String, Double]) = {
    tr.enabled = true
    val probes = try ctx.within("plans", "probes")(workload.probes(ctx)) finally tr.enabled = false
    val counters = workload.passCounters(ctx, tr)
    val details = probes ++ counters
    val passes = tr.named("pass").drop(1) // the cold pass is span 0
    def perPass(f: tr.Span => Double): Double = Stats.median(passes.map(f))
    def total(k: String): Double = perPass(tr.total(_, k))
    def detail(k: String): Double = details.getOrElse(k, 0.0)
    val sourcesInPass = perPass(p => tr.children(p).filter(_.layer == "sources").map(_.seconds).sum)
    val capDrops = GraftSession.bucketCapDrops(ctx.spark).map(_.droppedRows).sum.toDouble
    val layers: Metrics = Seq(
      "session.create_s" -> (coldCreate, "s"),
      "session.first_action_s" -> (coldFirstAction, "s"),
      "sources.resolve_s" -> (details.getOrElse("sources.resolve_s", sourcesInPass), "s"),
      "sources.input_bytes" -> (input.bytes.toDouble, "bytes"),
      "sources.files_matched" -> (input.files.toDouble, "count"),
      "operators.busy_s" -> (detail("operators.busy_s"), "s"),
      "operators.lsh_candidates" -> (detail("operators.lsh_candidates"), "count"),
      "operators.near_pairs" -> (detail("operators.near_pairs"), "count"),
      "operators.lsh_verify_yield" -> (detail("operators.lsh_verify_yield"), "ratio"),
      "operators.bucket_cap_drops" -> (capDrops, "count"),
      "functions.kernel_s" -> (detail("functions.kernel_s"), "s"),
      "plans.actions" -> (total("actions"), "count"),
      "plans.compile_s" -> (total("compile_s"), "s"),
      "plans.driver_gap_s" -> (perPass(tr.driverGap), "s"),
      "plans.task_s" -> (total("task_s"), "s"),
      "plans.task_skew" -> (perPass(tr.taskSkew), "ratio"),
      "plans.shuffle_write_bytes" -> (total("shuffle_write_bytes"), "bytes"),
      "plans.shuffle_read_bytes" -> (total("shuffle_read_bytes"), "bytes"),
      "plans.spill_bytes" -> (total("spill_bytes"), "bytes"),
      "plans.gc_s" -> (total("gc_s"), "s"),
      "plans.tasks_failed" -> (total("tasks_failed"), "count"),
      "plans.output_files" -> (total("output_files"), "count"),
      "plans.output_bytes" -> (total("output_bytes"), "bytes"),
      "plans.persist_bytes" -> (perPass(tr.peakPersist), "bytes"),
      "trace.overhead_pct" -> ((steadyTraced / steady - 1) * 100, "%"))
    (layers, details)
  }
}
