package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Ann, IndexStore}

/** Streaming SEMANTIC dedup maintenance — the embedding-space member of
  * the streaming dedup family ([[DedupLoop]] folds EXACT-signature
  * dedup, [[NearDupLoop]] discovers token-Jaccard near-dup pairs; this
  * loop issues SemDeDup drop verdicts): per micro-batch of new
  * documents with embeddings, emit every batch id some smaller-id doc
  * — in the corpus so far or earlier in the batch — dominates at
  * cosine ≥ `threshold` within its (frozen-centroid) cluster, and fold
  * the batch into the persisted bucketed state — the streaming twin of
  * [[graft.ops.Ann.appendSemDedup]], with its exactness contract:
  * across batches the loop's drop sets are EXACTLY
  * `semDedupDrops(all docs, centroids)` restricted to each batch's ids
  * (SemDedupLoopSpec pins the equivalence, genesis included).
  *
  * State = the [[graft.ops.Ann.persistSemDedupState]] bucketed table
  * `(cid, doc_id, vec)` — EVERY ingested vector, drops included (a
  * dropped doc still dominates its own later neighbors under the
  * one-pass greedy contract) — so each batch's wide work is
  * batch-sized: the state probe is an equi join on `cid` whose
  * bucketed side never shuffles. Centroids are FROZEN for the life of
  * the state (assignment drift would split clusters invisibly);
  * persist them beside the state and re-cluster offline into a fresh
  * (table, path) when the drift report says so. Ids must be MONOTONE
  * across batches (the [[graft.ops.Ann.appendSemDedup]] guard — an
  * out-of-order id would retroactively drop an already-emitted
  * verdict), which is the natural crawl-ingest shape.
  *
  * TAKEDOWNS (`removedCol` non-empty) and crash posture: [[FoldLoop]]'s
  * prelude and guarded-append commit over the [[graft.ops.IndexStore]]
  * — a retracted doc stops dominating from its batch on (a fresh copy
  * of taken-down content is admitted instead of dropping against a
  * ghost), and a replay recomputes IDENTICAL verdicts (the old side
  * excludes the batch's own ids) and skips the append. Clear tombstone
  * debt offline with [[graft.ops.Ann.compactSemDedupState]]. */
object SemDedupLoop {

  /** Seed the state from a batch-era corpus before the stream starts
    * (batch 0 then competes against it instead of going through
    * genesis). Run the batch-era [[graft.ops.Ann.semDedup]] on the seed
    * corpus itself first if its internal drops are wanted — seeding
    * records vectors, it does not emit verdicts. */
  def seedState(docs: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String,
                table: String, path: String, buckets: Int = 32): Unit =
    Ann.persistSemDedupState(
      Ann.buildSemDedupState(docs, centroids, idCol, vecCol),
      table, path, buckets)

  /** One micro-batch — exposed for direct replay tests; [[run]] wires
    * it into [[FoldLoop]]. Emits the batch's drop ids `(doc_id)` to
    * `outDir/batch=<id>` (Overwrite). */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   idCol: String, vecCol: String,
                                   removedCol: String,
                                   centroids: DataFrame,
                                   table: String, path: String,
                                   outDir: String, threshold: Double,
                                   buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    val td = FoldLoop.takedowns("SemDedupLoop", batch, batchId, idCol, removedCol,
      "doc_id", Ann.semDedupTombstones(spark, path))
    val out = s"$outDir/batch=$batchId"
    val batchState = Ann.buildSemDedupState(td.additions, centroids, idCol, vecCol)
      .localCheckpoint()
    lazy val physState = Ann.loadSemDedupState(spark, table, path, buckets)
    lazy val batchIds = batchState.select(col("doc_id")).distinct().localCheckpoint()
    FoldLoop.appendCommit("SemDedupLoop", batchId, td, path)(
      retract = Ann.deleteFromSemDedupState(spark, table, path, _, buckets),
      genesis = () => {
        // Internal verdicts only; the batch becomes the state.
        Ann.semDedupDropsCore(batchState.limit(0), batchState, threshold)
          .write.mode(SaveMode.Overwrite).parquet(out)
        Ann.persistSemDedupState(batchState, table, path, buckets,
          mode = SaveMode.Overwrite)
      },
      present = () => IndexStore.present(IndexStore.semDedup, physState, batchIds),
      emit = fresh => {
        // First delivery only: a replay has the batch inside the physical
        // max, which is its own ids (excluded from the probe).
        if (fresh) Ann.requireMonotone("SemDedupLoop", physState, batchIds, s" $batchId")
        Ann.semDedupFold(physState, table, path, buckets, batchState, threshold,
          Some(batchIds), append = fresh)
          .write.mode(SaveMode.Overwrite).parquet(out)
      })
  }

  /** Start the loop over a document stream carrying `idCol`/`vecCol`
    * and (optionally) a boolean `removedCol` marking takedowns. Drop
    * verdicts land under `outDir/batch=<id>/`; the state lives at the
    * [[graft.ops.Ann.persistSemDedupState]] (table, path); `centroids`
    * is the FROZEN batch-era centroid table. */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          removedCol: String, centroids: DataFrame,
          table: String, path: String,
          outDir: String, checkpointDir: String,
          threshold: Double = 0.95,
          buckets: Int = 32, trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, idCol, vecCol, removedCol, centroids, table, path,
        outDir, threshold, buckets))
}
