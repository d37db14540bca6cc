package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Ann, IndexStore}

/** Streaming ANN-index maintenance — the vector-ingest member of the
  * streaming state-loop family ([[DedupLoop]] folds fingerprints,
  * [[NearDupLoop]] the banded index, [[SemDedupLoop]] the SemDeDup
  * state; this loop folds the SEARCH index itself): per micro-batch of
  * arriving embeddings, assign + int8-encode under FROZEN centroids and
  * append into the persisted cid-bucketed [[graft.ops.Ann.ivfIndex]],
  * emitting the per-cluster growth report (cid, prior_n, appended_n,
  * growth — the retrain signal; the batch-era
  * [[graft.ops.Ann.appendIvfIndex]] adds mean_assign_sim when a deeper
  * drift read is wanted) to `outDir/batch=<id>`. Search
  * stays live throughout: probe batches against
  * [[graft.ops.Ann.loadIvfIndexLive]] between triggers pay only
  * cluster-local work, and a vector is retrievable from the trigger
  * after its ingest.
  *
  * O(batch) per trigger: assignment/encoding is one narrow pass (the
  * appendIvfIndex plan), the bucketed append adds one file per bucket,
  * and the report's index-side reads are column-pruned (cid/g_id only).
  * Centroids are FROZEN for the life of the index (drift degrades
  * recall, never correctness — watch the report; re-cluster offline
  * into a fresh (table, path) and swap).
  *
  * TAKEDOWNS (`removedCol` non-empty) and crash posture: [[FoldLoop]]'s
  * prelude and guarded-append commit over the [[graft.ops.IndexStore]]
  * — a retracted doc stops being retrievable from its trigger on, and a
  * replay recomputes the IDENTICAL report (prior counts exclude the
  * batch's own ids) and skips the append. Clear tombstone debt offline
  * with [[graft.ops.Ann.compactIvfIndex]]. */
object AnnLoop {

  /** Seed the index from a batch-era gallery before the stream starts. */
  def seedIndex(gallery: DataFrame, centroids: DataFrame,
                table: String, path: String, buckets: Int = 32,
                id: String = "vec_id", vec: String = "embedding"): Unit =
    Ann.persistIvfIndex(Ann.ivfIndex(gallery, centroids, id, vec),
      table, path, buckets)

  /** One micro-batch — exposed for direct replay tests; [[run]] wires it
    * into [[FoldLoop]]. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   idCol: String, vecCol: String,
                                   removedCol: String,
                                   centroids: DataFrame,
                                   table: String, path: String,
                                   outDir: String, buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    val td = FoldLoop.takedowns("AnnLoop", batch, batchId, idCol, removedCol,
      "g_id", Ann.ivfTombstones(spark, path))
    val out = s"$outDir/batch=$batchId"
    // The batch's index rows (g_id, cid, g_q) under the frozen centroids
    // — identical to what appendIvfIndex would write.
    val newIdx = Ann.ivfIndex(td.additions, centroids, idCol, vecCol)
      .localCheckpoint()
    lazy val phys = Ann.loadIvfIndex(spark, table, path, buckets)
    lazy val batchIds = newIdx.select(col("g_id")).distinct().localCheckpoint()
    val appended = newIdx.groupBy("cid").agg(count(lit(1)).as("appended_n"))
    FoldLoop.appendCommit("AnnLoop", batchId, td, path)(
      retract = Ann.deleteFromIvfIndex(spark, table, path, _, buckets),
      genesis = () => {
        // The batch becomes the index; prior counts are all zero.
        Ann.ivfGrowth(appended, appended.select(col("cid"), lit(0L).as("prior_n")).limit(0))
          .write.mode(SaveMode.Overwrite).parquet(out)
        Ann.persistIvfIndex(newIdx, table, path, buckets, mode = SaveMode.Overwrite)
      },
      present = () => IndexStore.present(IndexStore.ivf, phys, batchIds),
      emit = fresh => {
        // Prior counts EXCLUDE the batch's own ids so a replay that finds
        // the batch appended still reports pre-batch state.
        val prior = phys.select(col("cid"), col("g_id"))
          .join(broadcast(batchIds), Seq("g_id"), "left_anti")
          .groupBy("cid").agg(count(lit(1)).as("prior_n"))
        Ann.ivfGrowth(appended, prior)
          .localCheckpoint()
          .write.mode(SaveMode.Overwrite).parquet(out)
        if (fresh) IndexStore.append(IndexStore.ivf, Seq(newIdx), table, buckets)
      })
  }

  /** Start the loop over an embedding stream carrying `idCol`/`vecCol`
    * and (optionally) a boolean `removedCol` marking takedowns. Drift
    * reports land under `outDir/batch=<id>/`; the index lives at the
    * [[graft.ops.Ann.persistIvfIndex]] (table, path); `centroids` is the
    * FROZEN centroid table the index was built with. */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          removedCol: String, centroids: DataFrame,
          table: String, path: String,
          outDir: String, checkpointDir: String,
          buckets: Int = 32, trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, idCol, vecCol, removedCol, centroids, table, path,
        outDir, buckets))
}
