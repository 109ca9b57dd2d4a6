package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/**
 * SparkSession factory carrying the engine's scale defaults.
 *
 * Every graft entry point (pipeline mains, Verify, Bench) builds its
 * session here so the 100-TB posture is uniform:
 *
 *  - AQE on, with skew-join splitting and partition coalescing — runtime
 *    re-planning is the first line of defense against skewed keys and
 *    over-partitioned shuffles at cluster scale.
 *  - Shuffle partitions sized to the local core count for local runs
 *    (Spark's 200 default is wrong in both directions: too many locally,
 *    far too few on a 1000-executor cluster — cluster deployments override
 *    via spark-submit conf).
 *  - UTC session timezone, so timestamp windows are reproducible across
 *    driver environments.
 *  - Generated-code reuse: a repeated action compiles nothing after its
 *    first run ([[CodegenCacheEntries]], [[codegenReuse]]).
 *
 * Every default, the master (local[cores]) included, applies only when the
 * launcher has not set its key: a spark-submit `--conf` or cluster master
 * always wins ([[defaultsUnset]]).
 *
 * Corpus-sized escape. Index probes, forget and append rewrites and the
 * decontamination rebuild always `broadcast()`-hint their small side
 * (the batch, drop, removal set or match table) so the persisted index
 * or corpus streams unshuffled. When that side is itself corpus-sized,
 * set `spark.sql.optimizer.disableHints=true` before calling the
 * operator (hints drop at analysis, so a frame built earlier keeps
 * them): every hint is dropped and AQE sizes each join from its actual
 * inputs (still a broadcast when a side turns out small, a shuffle join
 * otherwise), with the same values. It drops every other hint too,
 * e.g. the `rebalance` in [[graft.operators.Retrieval]]'s sidecar
 * append, which changes the output file count but not the values. Each
 * dropped hint logs a `HintErrorLogger` `Unrecognized hint: broadcast()`
 * WARN.
 */
object GraftSession {

  /** Core count for local sizing; SPARK_GRAFT_CPUS overrides for tests. */
  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /**
   * Entries of Spark's generated-code cache
   * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
   *
   * One `CurationPipeline.runObserved` action with decontamination
   * compiles 102 distinct classes (104 with stage ids in class names) and
   * the V2F extraction pass 50 (56); census in `plans/codegen_census.json`.
   * At 100 entries the cache cannot hold one curation action, so every
   * repeat of it recompiled about half its classes with Janino and ran
   * them cold until the JIT caught up again.
   * The cache is a Guava cache split into 4 segments that each evict at a
   * quarter of the bound, so the bound needs headroom over one action,
   * not just "above 104": 1000 holds about ten curation-sized actions.
   * Classes average 2–3 KB of bytecode (max 52 KB), so the retained set
   * stays small.
   *
   * It is a static conf: the cache is built once per JVM, on the first
   * code generation, from the session that runs it. The JVM's first
   * session therefore fixes its size (a session created before any
   * [[GraftSession]] session, or a `-Dspark.sql.codegen.cache.maxEntries`
   * from the launcher, wins over this constant).
   */
  val CodegenCacheEntries: Int = 1000

  /**
   * The session confs that let a repeated action reuse its generated
   * classes: the cache size above, and whole-stage classes named without
   * their codegen stage id (`spark.sql.codegen.useIdInClassName=false`).
   * AQE numbers whole-stage codegen stages in the order it creates query
   * stages, which follows which running stage finishes first, so the same
   * stage code can carry another id on the next run. With the id in the
   * class name that was a new cache key: in 2 of 4 census runs, one
   * steady curation pass compiled 6 and 10 classes again. Without it,
   * equal code is one class. The id stays in the generated code's
   * `codegenStageId` comment (`EXPLAIN CODEGEN`); stack traces show
   * `GeneratedIterator`.
   */
  private[graft] val codegenReuse: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** graft's session defaults, key to value, master included. */
  private def defaults: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$localCores]",
    "spark.sql.shuffle.partitions" -> localCores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // parallelismFirst stays at its default (true): an r21 experiment
    // with false + the 64m advisory showed no win beyond machine noise
    // at sf0.1, and byte-sized coalescing would serialize CPU-dense
    // post-shuffle stages (LSH in-bucket verify: kilobytes of hashes,
    // seconds of compute) onto one task at any scale where their
    // byte size undershoots the advisory — partition count must track
    // work, not bytes, for those stages.
    // Let AQE keep optimizing UNDER persist(): with the default
    // (false) a cached subtree's shuffles run at the raw
    // spark.sql.shuffle.partitions — no coalescing, no skew split —
    // so every operator-internal persist of a shuffled frame pays
    // full-width stages at any scale where AQE would have resized
    // them. The conf exists because re-optimization may change the
    // cached frame's OUTPUT partitioning, which no graft caller
    // depends on (cached frames here are operator intermediates and
    // index artifacts consumed by value).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // TIMESTAMP(NANOS) parquet columns surface as raw longs instead of
    // being refused outright (streaming.Events.readEventsParquet
    // truncates them to microseconds). Session-level because the scan
    // captures conf at planning time; the flag has no effect on any
    // column Spark could otherwise read, and setting it HERE keeps
    // operators from mutating shared session conf mid-flight.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ codegenReuse

  /** The defaults `launcher` has not set. A launcher's conf reaches this
    * JVM as `spark.*` system properties (what `spark-submit --conf` does
    * in client mode), which `new SparkConf()` loads; a key set there is
    * left to the launcher. */
  private[graft] def defaultsUnset(launcher: SparkConf): Seq[(String, String)] =
    defaults.filterNot { case (k, _) => launcher.contains(k) }

  def builder(appName: String): SparkSession.Builder =
    defaultsUnset(new SparkConf()).foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def create(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark) // SQL surface for the native expressions
    registerBucketCapListener(spark)
    spark
  }

  /**
   * Drop EVERY persisted block on the session: cached Datasets (via the
   * catalog) and directly-persisted RDDs — which includes the backing
   * blocks of `localCheckpoint()`ed frames, invisible to
   * `Dataset.unpersist`. Returns the number of persisted RDDs found
   * (the leak count, when called at a boundary where all prior work
   * should have cleaned up after itself).
   *
   * Session-hygiene primitive for long-lived multi-query sessions
   * (Bench sweeps between queries; SessionHygieneSpec pins it). Needed
   * because some operators legitimately RETURN checkpoint-backed frames
   * — connectedComponents' final label table IS its cached blocks, and
   * no handle survives the call to free them — so blocks otherwise
   * accumulate until ContextCleaner GC, and the resulting BlockManager
   * pressure made UNRELATED queries' steady timings regress 3× on the
   * round-8 full-board bench. NEVER call with an unconsumed
   * checkpoint-backed frame still needed: the cached blocks are its
   * only copy (lineage is truncated).
   */
  def sweepPersistedState(spark: SparkSession): Int = {
    val leaked = spark.sparkContext.getPersistentRDDs
    spark.catalog.clearCache()
    leaked.values.foreach { rdd =>
      // blocking so the blocks are really gone before the next timed
      // query — but NEVER abort the caller on a removal race: a block
      // whose executor already dropped it (partial caching under AQE,
      // ContextCleaner running concurrently) surfaces here as
      // "Block rdd_N_P does not exist", and the sweep's job is to leave
      // ZERO persisted state either way, not to crash the board
      try rdd.unpersist(blocking = true)
      catch {
        case e: Throwable =>
          org.slf4j.LoggerFactory.getLogger("graft.GraftSession").warn(
            s"sweepPersistedState: blocking unpersist of RDD ${rdd.id} " +
              s"failed (${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "retrying non-blocking")
          try rdd.unpersist(blocking = false)
          catch { case _: Throwable => () }
      }
    }
    leaked.size
  }

  /**
   * Run INDEPENDENT Spark actions concurrently and wait for all (guide
   * §2.6: actions are only sequential because driver code calls them
   * sequentially; overlapping lets the next job's tasks back-fill
   * executors freed by the current job's tail — on a cluster that is
   * idle-capacity reclaim, locally it overlaps per-action fixed costs).
   * Spark's scheduler is explicitly safe for concurrent jobs from one
   * session (FIFO by default — exactly the back-fill behaviour).
   *
   * Callers must pass actions with NO data dependency and disjoint
   * write targets. The first failure is rethrown UNWRAPPED (fail-loud
   * parity with the sequential spelling) after every action has been
   * waited on — a write racing a sibling's abort would be a worse
   * failure mode than finishing it.
   */
  def runConcurrently(actions: Seq[() => Unit]): Unit = {
    if (actions.isEmpty) return
    if (actions.size == 1) { actions.head(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size)
    try {
      val futs = actions.map(a =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = a()
        }))
      var firstFailure: Option[Throwable] = None
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure.isEmpty)
              firstFailure = Some(Option(e.getCause).getOrElse(e))
        }
      }
      firstFailure.foreach(throw _)
    } finally pool.shutdownNow()
  }

  // ------------------------------------------- observed-metric reporting

  /**
   * One connectedComponents execution's convergence record (see
   * Dedup.connectedComponents): `method` is "localized" (driver-side
   * union-find — always exact, rounds = 0) or "distributed" (the
   * pointer-jumping label-propagation loop); `converged = false` means
   * the distributed loop hit maxIters with labels still moving and the
   * returned clusters may be SPLIT — callers that need exact cluster
   * identity should check this instead of relying on the WARN log line.
   */
  final case class CcRun(
    method: String,
    rounds: Int,
    converged: Boolean,
    edges: Long)

  /** Per-session connectedComponents convergence records, newest last.
    * Weak keys — records die with their session; bounded like
    * [[bucketCapDrops]] records (oldest evicted past the cap). */
  private val ccRunRecords =
    new java.util.WeakHashMap[
      SparkSession, scala.collection.mutable.ArrayBuffer[CcRun]]()

  private def ccRecordsFor(spark: SparkSession) =
    ccRunRecords.synchronized {
      ccRunRecords.computeIfAbsent(
        spark, _ => scala.collection.mutable.ArrayBuffer.empty[CcRun])
    }

  /** Record one connectedComponents run (called by the operator itself —
    * the loop is driver-side, so no listener machinery is needed). */
  def recordCcRun(spark: SparkSession, run: CcRun): Unit = {
    val buf = ccRecordsFor(spark)
    buf.synchronized {
      buf += run
      if (buf.size > MaxCapDropRecords) buf.remove(0, buf.size - MaxCapDropRecords)
    }
  }

  /** Convergence records of every [[recordCcRun]]-reporting run on this
    * session since creation (or the last [[clearCcRuns]]), oldest first —
    * the observable companion to the operator's UNCONVERGED warn. */
  def ccRuns(spark: SparkSession): Seq[CcRun] = {
    val buf = ccRecordsFor(spark)
    buf.synchronized(buf.toSeq)
  }

  /** Reset [[ccRuns]] (e.g. between pipeline stages whose convergence
    * decisions are independent). */
  def clearCcRuns(spark: SparkSession): Unit = {
    val buf = ccRecordsFor(spark)
    buf.synchronized(buf.clear())
  }

  /** Drop counts one capped bucket stage reported after an action (see
    * Dedup.cappedBuckets): `metric` is the plan-unique observed-metric name
    * (`graft.<family>.bucket_cap#<n>`). */
  final case class BucketCapDrop(
    metric: String,
    droppedBuckets: Long,
    droppedRows: Long)

  /** Sessions that already carry the bucket-cap listener (register runs on
    * every create/getOrCreate; the listener must attach once). */
  private val capListenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Per-session record of observed bucket-cap metrics: metric name →
    * (dropped_buckets, dropped_rows) from its most recent action. Weak
    * keys — records die with their session. */
  private val capDropRecords =
    new java.util.WeakHashMap[
      SparkSession, scala.collection.mutable.LinkedHashMap[String, (Long, Long)]]()

  /** Bound on per-session cap-drop records: every cappedBuckets call mints a
    * unique metric name, so a long-lived session looping over LSH stages
    * would otherwise grow the record map one entry per executed query.
    * Past the bound the OLDEST entries are evicted (LinkedHashMap keeps
    * insertion order) — recent stages are the ones callers react to. */
  private val MaxCapDropRecords = 4096

  private def recordsFor(spark: SparkSession) =
    capDropRecords.synchronized {
      capDropRecords.computeIfAbsent(
        spark, _ => scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)])
    }

  /** AQE's runtime empty-relation propagation replaces already-executed
    * subtrees whose output turned out empty with an empty LocalRelation.
    * When a bucket cap drops EVERY bucket, the CollectMetrics node sits
    * exactly in such a subtree — the observed metric would vanish from
    * the final plan at the moment the cap fully engaged, the one case the
    * metric exists for. Excluded (per session, when the listener
    * registers) because a reliable safety valve is worth more than the
    * short-circuit of a branch that is already cheap to run: the stages
    * below the empty output have been executed either way, and
    * compile-time PropagateEmptyRelation still applies. NOTE: the
    * exclusion is SESSION-WIDE (it disables the rule for every query on
    * the session, not just capped stages — AQE conf has no per-query
    * scope); a user who later sets excludedRules themselves clobbers the
    * entry, so [[bucketCapDrops]] re-asserts it on every read and warns
    * when it had gone missing. */
  private val AqeEmptyRelationRule =
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"

  /** Ensure AQEPropagateEmptyRelation stays excluded on this session.
    * Returns true when the entry was MISSING and had to be (re)added —
    * existing user-provided exclusions are preserved either way. */
  private def ensureAqeExclusion(spark: SparkSession): Boolean = {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val existing = spark.conf.getOption(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val missing = !existing.contains(AqeEmptyRelationRule)
    if (missing)
      spark.conf.set(key, (existing :+ AqeEmptyRelationRule).mkString(","))
    missing
  }

  /**
   * WARN-log AND record any `graft.*.bucket_cap#*` observed metric with a
   * nonzero drop count (see Dedup.cappedBuckets): capping a degenerate LSH
   * bucket is a deliberate recall-for-boundedness trade, and this listener
   * keeps it from being a SILENT one — the log line for humans, the
   * [[bucketCapDrops]] accessor for pipelines that must react (rerun
   * exact dedup first, raise the cap, fail the run). Plan-side metrics +
   * a driver-side listener cost nothing per row — no second pass over the
   * data.
   */
  def registerBucketCapListener(spark: SparkSession): Unit =
    if (capListenerSessions.add(spark)) {
      ensureAqeExclusion(spark)
      val records = recordsFor(spark)
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private val log = org.slf4j.LoggerFactory.getLogger("graft.BucketCap")
        override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long
        ): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft.") && name.contains(".bucket_cap#")) {
              val buckets = row.getAs[Long]("dropped_buckets")
              val rows = row.getAs[Long]("dropped_rows")
              records.synchronized {
                records(name) = (buckets, rows)
                while (records.size > MaxCapDropRecords) records.remove(records.head._1)
              }
              if (buckets > 0)
                log.warn(
                  s"$name: dropped $buckets oversized bucket(s) covering " +
                    s">= $rows rows (exact on row-parity stages; a floor " +
                    "on distinct-parity stages, whose saturated buffers " +
                    "stop counting past the cap) — raise maxBucket " +
                    "or run exact dedup first if those clusters matter")
            }
          }
        override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception
        ): Unit = ()
      })
    }

  /**
   * Bucket-cap drop counts observed on this session since creation (or
   * the last [[clearBucketCapDrops]]), one entry per capped stage with
   * that stage's most recent action's counts — zero-drop observations
   * included, so "ran and dropped nothing" is distinguishable from
   * "didn't run". Listener delivery is asynchronous; this flushes the
   * listener bus (bounded by `flushTimeoutMs`) before reading so counts
   * for actions that already returned are visible.
   */
  def bucketCapDrops(
    spark: SparkSession,
    flushTimeoutMs: Long = 10000
  ): Seq[BucketCapDrop] = {
    val log = org.slf4j.LoggerFactory.getLogger("graft.BucketCap")
    // a timed-out flush can silently return stale/missing records — warn
    // so a caller reacting to drop counts knows the read was best-effort
    if (!org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, flushTimeoutMs))
      log.warn(
        s"listener bus flush did not complete within ${flushTimeoutMs}ms — " +
          "bucketCapDrops may be missing counts from just-finished actions")
    // the listener's AQE empty-relation exclusion is session conf a user
    // can clobber by setting excludedRules themselves; re-assert it so
    // the all-buckets-dropped case keeps reporting — but ONLY on sessions
    // that actually registered the listener (a read on an unregistered
    // session must stay read-only, not acquire optimizer side effects)
    if (capListenerSessions.contains(spark) && ensureAqeExclusion(spark))
      log.warn(
        s"spark.sql.adaptive.optimizer.excludedRules no longer contained " +
          s"$AqeEmptyRelationRule (overwritten by user conf?) — re-added; " +
          "drop metrics from queries run without it may be absent")
    val records = recordsFor(spark)
    records.synchronized {
      records.iterator.map { case (m, (b, r)) => BucketCapDrop(m, b, r) }.toSeq
    }
  }

  /** Reset [[bucketCapDrops]] for a session (e.g. between pipeline stages
    * whose drop decisions are independent). Listener delivery is
    * asynchronous, so an event from an action that already RETURNED can
    * still be in flight on the bus; without a flush it would land after
    * the clear and be mis-attributed to the next stage. Flush first
    * (same discipline as the read path) so the clear covers everything
    * the caller's completed actions produced. */
  def clearBucketCapDrops(
    spark: SparkSession,
    flushTimeoutMs: Long = 10000
  ): Unit = {
    if (!org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, flushTimeoutMs))
      org.slf4j.LoggerFactory.getLogger("graft.BucketCap").warn(
        s"listener bus flush did not complete within ${flushTimeoutMs}ms — " +
          "a drop record from a just-finished action may survive the clear")
    val records = recordsFor(spark)
    records.synchronized { records.clear() }
  }
}
