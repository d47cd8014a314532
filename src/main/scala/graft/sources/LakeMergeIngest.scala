package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAMING twin of [[LakeMerge.merge]] — the `foreachBatch` fold that
  * keeps a keyed lake current as change-data batches arrive (SURVEY
  * §2.10's spec'd MERGE-upsert write path). Each micro-batch applies
  * with the SAME broadcast-anti-join decomposition as the batch
  * operator: the lake-sized side feeds one anti join against the
  * batch-sized change set and never shuffles; op='U' rows union in as
  * full-row replacements, op='D' keys simply vanish.
  *
  * Within-batch ordering: a CDC micro-batch may carry several changes
  * for one key, so the fold first collapses to the LAST writer per key
  * by the monotone `seq` column (ties to the higher seq are impossible
  * by contract; the collapse is the one-line row_number the batch
  * operator leaves to its caller, owned here because a stream cannot
  * push the policy upstream).
  *
  * Restart discipline — the two halves of exactly-once on a
  * `foreachBatch` sink:
  *   1. MERGE itself is IDEMPOTENT: full-row replace and delete applied
  *      twice produce the identical table, so a redelivered batch
  *      cannot corrupt state (LakeMergeIngestSpec pins both this and
  *      the checkpoint-restart equivalence).
  *   2. The fold still skips `batchId <= lastApplied` — the standard
  *      foreachBatch recipe — so a restart replaying the last
  *      uncommitted batch does no duplicate WORK either.
  *
  * State is one cut frame per generation (the
  * [[graft.pipeline.DedupIngest]] pattern, see [[graft.Cut]]), so batch
  * N's plan does not nest batch N−1's, and the superseded generation's
  * cut is released once the next is resident. In
  * production the same fold writes parquet generations (compacted
  * periodically); the in-memory leaf is the test-scale stand-in with
  * identical plan shape.
  */
object LakeMergeIngest {

  /** Mutable lake state: the current table generation (a cut leaf)
    * and the last applied batch id. Single-writer per state
    * (foreachBatch serializes batches within one query). */
  final class MergeState(
      val spark: SparkSession, initial: DataFrame, val key: String) {
    @volatile private[LakeMergeIngest] var current: DataFrame = initial
    @volatile private[LakeMergeIngest] var lastApplied: Long = -1L
    @volatile private[LakeMergeIngest] var generation: Long = 0L

    /** The current lake table — safe to read between batches. */
    def table: DataFrame = current
    def generationsApplied: Long = generation
  }

  /** Collapse a change batch to its last writer per key (max `seq`),
    * dropping `seq` — output honors [[LakeMerge.merge]]'s
    * at-most-once-per-key contract. */
  private[sources] def lastWriter(changes: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col("seq").desc)
    changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "seq")
  }

  /** Apply one change batch (target columns + `op` + `seq`) to the
    * state. Exposed so batch callers and the spec drive the same fold
    * the stream runs. */
  def foldBatch(state: MergeState, changes: DataFrame, batchId: Long): Unit =
    if (batchId > state.lastApplied) {
      val merged = LakeMerge.merge(
        state.current, lastWriter(changes, state.key), state.key)
      val leaf = graft.Cut(merged).df
      graft.Cut.release(state.current)
      state.current = leaf
      state.lastApplied = batchId
      state.generation += 1
    }

  // ---- SCD2 twin: versioned history maintained from the stream ------

  /** Mutable SCD2 history state — same generation discipline as
    * [[MergeState]]; `version` for each applied batch is `batchId + 1`
    * (version 0 is the initial load), so the history's version stamps
    * are reproducible from the stream's batch numbering alone. */
  final class Scd2State(
      val spark: SparkSession, initial: DataFrame, val key: String,
      val trackedCols: Seq[String]) {
    @volatile private[LakeMergeIngest] var current: DataFrame = initial
    @volatile private[LakeMergeIngest] var lastApplied: Long = -1L

    /** The current full version history — safe to read between batches. */
    def history: DataFrame = current
  }

  /** Apply one change batch to the SCD2 history. Idempotent at a fixed
    * version by [[LakeMerge.scd2Apply]]'s own semantics: a re-applied
    * update matches the open row it just wrote (identical tracked
    * attributes → no fork), a re-applied delete finds no open row to
    * close — so redelivery cannot fork versions even before the
    * batchId skip. */
  def foldScd2Batch(state: Scd2State, changes: DataFrame, batchId: Long): Unit =
    if (batchId > state.lastApplied) {
      val next = LakeMerge.scd2Apply(
        state.current, lastWriter(changes, state.key), state.key,
        state.trackedCols, version = batchId + 1)
      val leaf = graft.Cut(next).df
      graft.Cut.release(state.current)
      state.current = leaf
      state.lastApplied = batchId
    }

  /** Attach the SCD2 fold to a streaming change frame. */
  def startScd2(
      changes: DataFrame, state: Scd2State,
      checkpoint: Option[String] = None): StreamingQuery = {
    val w = changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) foldScd2Batch(state, batch, batchId)
      }
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** Attach the fold to a streaming change frame (target columns +
    * `op` + `seq`). The caller owns the returned query's lifecycle;
    * read the maintained lake via `state.table`. */
  def start(
      changes: DataFrame, state: MergeState,
      checkpoint: Option[String] = None): StreamingQuery = {
    val w = changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) foldBatch(state, batch, batchId)
      }
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
  }
}
