package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Change-data-capture changelog application — the MERGE INTO /
 * upsert-compaction primitive of every public lakehouse format (Delta,
 * Iceberg, Hudi all publish this semantics): fold a changelog of
 * keyed upserts and deletes into a base snapshot, last-writer-wins per
 * key by a sequence column.
 *
 * Semantics: for each key, the highest-`seqCol` changelog row wins
 * (base snapshot rows sit below every changelog row); op `"U"`/`"I"`
 * (both mean upsert — inserts and updates are indistinguishable at
 * apply time) replaces the row, `"D"` removes the key. Keys untouched
 * by the changelog keep their snapshot row. Equal-seq ties break
 * toward the upsert (deterministic — but give keys unique sequence
 * numbers; a real CDC source's log offsets are).
 *
 * Scale shape: ONE shuffle on the key (union + per-key window, the
 * as-of-join discipline — no join node at all, so no skew-prone
 * build side); the changelog is usually ≪ the snapshot and rides the
 * same exchange. Output is snapshot-sized; run it per micro-batch in
 * foreachBatch for a streaming materialized table.
 */
object Cdc {

  val Upsert = "U"
  val Insert = "I"
  val Delete = "D"

  /**
   * Apply `changelog` to `snapshot`. Both must carry the same payload
   * columns; `changelog` additionally carries `seqCol` (castable to
   * long) and `opCol` (one of U/I/D — anything else raises at
   * evaluation, loud by design).
   */
  def applyChangelog(
    snapshot: DataFrame,
    changelog: DataFrame,
    keyCols: Seq[String],
    seqCol: String = "seq",
    opCol: String = "op"
  ): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val payload = snapshot.columns.toSeq
    require(!payload.contains(seqCol) && !payload.contains(opCol),
      s"snapshot must not already carry $seqCol/$opCol")

    val base = snapshot.select(
      payload.map(col) :+ lit(Long.MinValue).as("__seq") :+ lit(Upsert).as("__op"): _*)
    val chg = changelog.select(
      payload.map(col) :+
        col(seqCol).cast("long").as("__seq") :+
        when(col(opCol).isin(Upsert, Insert, Delete), col(opCol))
          .otherwise(raise_error(concat(lit("unknown changelog op: "), col(opCol))))
          .as("__op"): _*)

    // last-writer-wins: one union + one per-key window — no join node
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__seq").desc, col("__op").desc) // seq tie: U/I before D
    base.unionByName(chg)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") =!= Delete)
      .select(payload.map(col): _*)
  }

  // ------------------------------------------------- streaming material

  /** State-table apply: BOTH sides carry (seqCol, opCol); winners kept
    * INCLUDING delete tombstones — a tombstone must survive so a
    * stale, late upsert (lower seq, later batch) cannot resurrect the
    * key. Same union + per-key window shape as [[applyChangelog]]. */
  private[operators] def applyState(
    state: DataFrame,
    changelog: DataFrame,
    keyCols: Seq[String],
    seqCol: String,
    opCol: String
  ): DataFrame = {
    val cols = state.columns.toSeq
    val chg = changelog.select(cols.map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc)
    state.unionByName(chg)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The version pointer of a versioned table directory, read and
    * flipped through [[IndexStore]]. */
  private[operators] val CurrentFile = "_CURRENT"

  /** The version `_CURRENT` names; None before the first publish. A
    * pointer that is not a version number fails loud — reading some
    * other version would serve a wrong table. */
  private[operators] def currentVersion(
    spark: org.apache.spark.sql.SparkSession, tableDir: String): Option[Long] =
    IndexStore.read(spark, tableDir, CurrentFile).map(t => t.toLongOption.getOrElse(
      throw new IllegalStateException(
        s"$tableDir/$CurrentFile is not a version number ('$t')")))

  /** [[currentVersion]] that must exist; `hint` ends the message. */
  private[operators] def requireVersion(
    spark: org.apache.spark.sql.SparkSession, tableDir: String, hint: String = ""): Long =
    currentVersion(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no $CurrentFile pointer under $tableDir$hint"))

  /**
   * A continuously-maintained materialized table: wire as
   * `changelogStream.writeStream.foreachBatch(Cdc.materializedSink(dir,
   * keys)).start()`. Each micro-batch folds into a VERSIONED snapshot
   * under `tableDir` (`v<N>/` parquet + `_CURRENT` pointer, updated by
   * atomic rename — readers never see a half-written version; the
   * previous `keepVersions` stay on disk for in-flight readers).
   *
   * The stored state keeps (seqCol, opCol) per key INCLUDING delete
   * tombstones, so late cross-batch data is ordered correctly: a batch-N
   * upsert with a LOWER sequence than the stored state (or than a
   * tombstone) loses, exactly as if all batches had been applied at
   * once — StreamingSpec pins stream ≡ one-shot batch equivalence. A
   * retried micro-batch re-applies the same changelog over the already-
   * applied state, which is value-idempotent (same winners by the same
   * keys/seqs) — the foreachBatch contract.
   *
   * Scale shape per batch: one snapshot scan + the batch through ONE
   * key shuffle and window (no join nodes); the write is snapshot-sized
   * — the standard compaction cost any materialized table pays. Read
   * the live table with [[readCurrent]].
   */
  def materializedSink(
    tableDir: String,
    keyCols: Seq[String],
    seqCol: String = "seq",
    opCol: String = "op",
    keepVersions: Int = 2
  ): (DataFrame, Long) => Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      val cur = currentVersion(spark, tableDir)
      val state = cur match {
        case Some(v) => spark.read.parquet(s"$tableDir/v$v")
        case None => batch.limit(0)
      }
      publishVersion(applyState(state, batch, keyCols, seqCol, opCol),
        tableDir, cur.getOrElse(0L) + 1, keepVersions)
    }
  }

  /** Write `df` as `v<next>/`, then flip `_CURRENT` to it
    * ([[IndexStore.publish]]: readers see the old or the new pointer,
    * never a half-written version or no pointer) and retire versions
    * beyond the grace window. Shared by [[materializedSink]] and
    * [[Forget.initVersioned]]/[[Forget.rewriteVersioned]]; validates
    * `keepVersions` before writing, since retiring from
    * `next - keepVersions` with `keepVersions <= 0` would delete the
    * version just published. */
  private[operators] def publishVersion(
    df: DataFrame,
    tableDir: String,
    next: Long,
    keepVersions: Int
  ): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val spark = df.sparkSession
    df.write.mode("overwrite").parquet(s"$tableDir/v$next")
    IndexStore.publish(spark, tableDir, CurrentFile, next.toString)
    // retire superseded versions beyond the reader grace window
    val f = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    var v = next - keepVersions
    while (v >= 1 && f.exists(new org.apache.hadoop.fs.Path(s"$tableDir/v$v"))) {
      f.delete(new org.apache.hadoop.fs.Path(s"$tableDir/v$v"), true)
      v -= 1
    }
  }

  /** The live materialized table: current version, tombstones hidden,
    * bookkeeping columns dropped. */
  def readCurrent(
    spark: org.apache.spark.sql.SparkSession,
    tableDir: String,
    seqCol: String = "seq",
    opCol: String = "op"
  ): DataFrame = {
    val v = requireVersion(spark, tableDir)
    spark.read.parquet(s"$tableDir/v$v")
      .filter(col(opCol) =!= Delete)
      .drop(seqCol, opCol)
  }
}
