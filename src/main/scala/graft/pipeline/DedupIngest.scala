package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAMING corpus ingest with incremental near-dup dedup: a
  * `foreachBatch` fold that keeps an exactly-correct keep-list as
  * document batches arrive — the continuous form of
  * [[TrainingData.incrementalClusters]], and the operational answer to
  * "a 100 TB pipeline ingests increments" (full-corpus recluster per
  * ingest is the cost cliff).
  *
  * Per micro-batch, three steps, each linear in the BATCH (never the
  * corpus):
  *   1. shingle the new docs and append them to the signature store;
  *   2. probe the store with the batch ids for verified delta pairs
  *      ([[graft.dedup.Dedup.minhashLshPairsDeltaIds]]);
  *   3. fold the delta edges into the keep-list
  *      ([[TrainingData.incrementalClusters]] — untouched clusters pass
  *      through unchanged).
  *
  * State here is two cut frames (signature store + labels, see
  * [[graft.Cut]]), so batch N's plan does NOT nest batch N-1's (an
  * unioned chain would grow analysis cost O(N) per batch and eventually
  * overflow the driver); the previous generation's cut is released once
  * the next is materialized. This is the in-memory stand-in for the
  * lake tables a production pipeline would maintain (store and
  * keep-list as parquet, compacted periodically — which also truncates
  * the RDD lineage chain a very-long-running in-memory stream would
  * accumulate for block-loss recovery). Exactness is inherited, not approximated: after every
  * batch the keep-list equals the from-scratch clusters over all docs
  * ingested so far (DedupIngestSpec replays a multi-batch stream against
  * the from-scratch solve).
  *
  * Single-writer per [[IngestState]] (foreachBatch already serializes
  * batches within one query).
  */
object DedupIngest {

  /** Mutable ingest state: the accumulated signature store and current
    * labels, both cut leaves; `keepList` is safe to read between batches. */
  final class IngestState(val spark: SparkSession) {
    @volatile private[DedupIngest] var store: DataFrame =
      spark.emptyDataFrame
    @volatile private[DedupIngest] var labels: DataFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("cluster_id", LongType, nullable = false),
          StructField("is_keeper", BooleanType, nullable = false))))
    }
    @volatile private[DedupIngest] var nDocs: Long = 0L

    /** The current (doc_id, cluster_id, is_keeper) keep-list — pair
      * endpoints only, labels = component minima, exactly
      * [[TrainingData.qDedupClusters]]'s contract over everything
      * ingested so far. */
    def keepList: DataFrame = labels
    def docsIngested: Long = nDocs
  }

  /** Fold one batch of `(doc_id, text)` rows into the state. Exposed so
    * batch callers (and the spec) can drive the same fold the stream
    * runs. */
  def foldBatch(state: IngestState, batch: DataFrame): Unit = {
    val spark = state.spark
    val newSh = graft.dedup.Dedup.shingleArraysOf(
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    val all = graft.Cut(
      if (state.nDocs == 0L) newSh else state.store.unionAll(newSh))
    val delta = graft.dedup.Dedup.minhashLshPairsDeltaIds(
      all.df, newSh.select("doc_id"))
    val next = TrainingData.incrementalClusters(
      state.labels, delta.select("d1", "d2"), spark)
    // both successors are materialized — free the superseded generation
    graft.Cut.release(state.store)
    graft.Cut.release(state.labels)
    state.store = all.df
    state.labels = next
    state.nDocs = all.rows
  }

  /** Attach the fold to a streaming `(doc_id, text)` frame. The caller
    * owns the returned query's lifecycle; read results via
    * `state.keepList`. */
  def start(docs: DataFrame, state: IngestState): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) foldBatch(state, batch)
      }
      .start()
}
