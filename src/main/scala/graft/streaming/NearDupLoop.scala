package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{DedupOps, IndexStore}

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
  * TAKEDOWNS (`removedCol` non-empty) and crash posture: [[FoldLoop]]'s
  * prelude and guarded-append commit over the [[graft.ops.IndexStore]]
  * — a retracted doc stops generating candidates from its batch on
  * (pairs already emitted against it are downstream state: retract
  * their cluster edges via [[ClusterLoop]]'s own `removedCol`), and a
  * replay recomputes IDENTICAL pairs (the old side excludes the batch's
  * own ids) and skips the append. Clear tombstone debt offline with
  * [[graft.ops.DedupOps.compactNearDupIndex]] (a fresh path swap). */
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
    lazy val phys = DedupOps.loadNearDupIndex(spark, table, path, buckets)
    lazy val batchIds = additions.select(col(idCol).cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    lazy val (newKeys, newToks) =
      DedupOps.nearDupBatch(additions, col(idCol), col(textCol), k, bands)
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
      present = () => IndexStore.present(IndexStore.nearDup, phys._2, batchIds),
      emit = fresh => DedupOps.nearDupFold(phys, table, path, buckets, (newKeys, newToks),
        threshold, Some(batchIds), append = fresh)
        .write.mode(SaveMode.Overwrite).parquet(out))
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
