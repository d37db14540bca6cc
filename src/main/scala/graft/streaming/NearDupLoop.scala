package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.DedupOps

/** Streaming THRESHOLD near-dup maintenance — the missing streaming
  * member of the near-dup family ([[DedupLoop]] folds EXACT-signature
  * dedup, [[ClusterLoop]] folds the cluster map over an already-known
  * pair stream; this loop DISCOVERS the pairs): per micro-batch of new
  * documents, emit every verified near-dup pair the batch forms against
  * the corpus so far (and within itself) at Jaccard ≥ `threshold`, and
  * fold the batch into the persisted banded index — the streaming twin
  * of [[graft.ops.DedupOps.appendNearDup]], with its exactness contract:
  * across batches the loop emits EXACTLY `minhashLshDocs(all docs)`'s
  * pair set, each pair once, in the batch of its later doc
  * (NearDupLoopSpec pins the equivalence, genesis included). Feed the
  * emitted pair stream to [[ClusterLoop]] and the two loops maintain
  * crawl-scale near-dup clusters end to end with O(batch) work per
  * trigger.
  *
  * State = the [[graft.ops.DedupOps.persistNearDupIndex]] pair of
  * bucketed tables (band buckets by `bk`, token arrays by `doc_id`), so
  * each batch's wide work is batch-sized: candidate probes and token
  * attaches join Exchange-free on the bucketed side, only batch keys
  * shuffle. Genesis (no index on disk) builds the index from batch 0
  * and emits its internal pairs; [[seedIndex]] seeds from a batch-era
  * corpus instead so batch 0 already pairs against it.
  *
  * TAKEDOWNS (`removedCol` non-empty): rows whose boolean marker is
  * true are retraction events carrying the REMOVED doc's id — the doc
  * is tombstoned ([[graft.ops.DedupOps.deleteFromNearDupIndex]]) BEFORE
  * the batch's additions pair, so retracted docs stop generating
  * candidates from this batch on; an id both removed and added in the
  * same batch resolves to deleted (the delete-then-append race
  * contract). Honest scope: admission control — pairs already emitted
  * against the doc are downstream state (retract their cluster edges
  * via [[ClusterLoop]]'s own `removedCol`).
  *
  * Crash posture: [[FoldLoop]]'s guarded-append commit — a replay
  * that finds the batch already in the index recomputes IDENTICAL pairs
  * (the old side always excludes the batch's own ids) and skips the
  * append. Unlike the versioned-state loops there is no in-loop
  * compaction: tombstone debt is bounded by takedown volume; clear it
  * offline with [[graft.ops.DedupOps.compactNearDupIndex]] between runs
  * (a fresh path swap — the loop then points at the compacted (table,
  * path)). */
object NearDupLoop {

  /** Seed the index from a batch-era corpus before the stream starts
    * (batch 0 then pairs against it instead of going through genesis). */
  def seedIndex(docs: DataFrame, idCol: String, textCol: String,
                table: String, path: String, k: Int, bands: Int,
                buckets: Int = 32): Unit =
    DedupOps.persistNearDupIndex(
      DedupOps.buildNearDupIndex(docs, col(idCol), col(textCol), k, bands),
      table, path, buckets)

  /** One micro-batch — exposed for direct replay tests; [[run]] wires it
    * into [[FoldLoop]]. Emits the batch's verified pairs to
    * `outDir/batch=<id>` (Overwrite). */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   idCol: String, textCol: String,
                                   removedCol: String,
                                   table: String, path: String,
                                   outDir: String,
                                   k: Int, bands: Int, threshold: Double,
                                   buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    val td = FoldLoop.takedowns("NearDupLoop", batch, batchId, idCol, removedCol,
      "doc_id", DedupOps.nearDupTombstones(spark, path))
    val additions = td.additions
    val out = s"$outDir/batch=$batchId"
    lazy val (physKeys, physToks) = DedupOps.loadNearDupIndex(spark, table, path, buckets)
    lazy val batchIds = additions.select(col(idCol).cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    lazy val (newKeys, newToks) = {
      val (keys, toks) = DedupOps.buildNearDupIndex(
        additions, col(idCol), col(textCol), k, bands)
      (keys.localCheckpoint(), toks.localCheckpoint())
    }
    FoldLoop.appendCommit("NearDupLoop", batchId, td, s"${path}_tk")(
      retract = DedupOps.deleteFromNearDupIndex(spark, table, path, _, buckets),
      genesis = () => {
        // Internal pairs only, from the same kernel as every later batch
        // (against an empty old side), so a replay that lands in the
        // steady state rewrites identical output; the batch becomes the
        // index (a crash between its two table writes re-enters genesis).
        DedupOps.nearDupPairsCore(newKeys.limit(0), newToks.limit(0),
            newKeys, newToks, threshold)
          .write.mode(SaveMode.Overwrite).parquet(out)
        DedupOps.persistNearDupIndex((newKeys, newToks), table, path, buckets,
          mode = SaveMode.Overwrite)
      },
      present = () => physToks.select(col("doc_id"))
        .join(batchIds, Seq("doc_id"), "left_semi").count(),
      emit = fresh => {
        // Tombstones are read AFTER this batch's retraction so they hide
        // its takedowns too; the old side also excludes the batch's own
        // ids so a replay that finds the batch appended still computes
        // pre-batch-state pairs.
        val deadNow = broadcast(
          DedupOps.nearDupTombstones(spark, path).select(col("doc_id")))
        val oldKeys = physKeys.join(deadNow, Seq("doc_id"), "left_anti")
          .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
        val oldToks = physToks.join(deadNow, Seq("doc_id"), "left_anti")
          .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
        DedupOps.nearDupPairsCore(oldKeys, oldToks, newKeys, newToks, threshold)
          .localCheckpoint()
          .write.mode(SaveMode.Overwrite).parquet(out)
        if (fresh) {
          graft.sources.Bucketed.appendRegistered(newKeys, s"${table}_bk", "bk", buckets)
          graft.sources.Bucketed.appendRegistered(newToks, s"${table}_tk", "doc_id", buckets)
        }
      })
  }

  /** Start the loop over a document stream carrying `idCol`/`textCol`
    * and (optionally) a boolean `removedCol` marking takedowns.
    * Verified pairs land under `outDir/batch=<id>/`; the index lives at
    * the [[graft.ops.DedupOps.persistNearDupIndex]] (table, path). */
  def run(stream: DataFrame, idCol: String, textCol: String,
          removedCol: String, table: String, path: String,
          outDir: String, checkpointDir: String,
          k: Int = 8, bands: Int = 4, threshold: Double = 0.8,
          buckets: Int = 32, trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, idCol, textCol, removedCol, table, path, outDir,
        k, bands, threshold, buckets))
}
