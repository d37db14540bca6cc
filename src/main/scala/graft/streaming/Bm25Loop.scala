package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.SketchOps

/** Streaming BM25-index maintenance — the retrieval member of the
  * state-loop family ([[AnnLoop]] folds the vector index; this loop
  * folds the INVERTED index): per micro-batch of arriving documents,
  * tokenize and append postings + lengths into the persisted
  * term-bucketed index and log the (n_docs, total_dl) delta — search
  * stays live throughout ([[graft.ops.SketchOps.bm25QueryIndexed]]
  * between triggers equals the ad-hoc ranker over everything ingested
  * so far, the SketchOpsSpec exactness contract). O(batch) per trigger:
  * tokenization is narrow, appends add one file per bucket, the stats
  * delta is one tiny row.
  *
  * TAKEDOWNS (`removedCol` non-empty): retraction events tombstone
  * their id ([[graft.ops.SketchOps.deleteFromBm25Index]]) BEFORE the
  * batch's additions append — the doc leaves the ranking AND the
  * df/avgdl statistics from this trigger on; an id both removed and
  * added in one batch resolves to deleted.
  *
  * Crash posture: [[FoldLoop]]'s guarded-append commit, wrapped in a
  * per-batch marker dir — the index append, the stats delta, and the
  * marker are written only when the marker is absent, so a checkpoint
  * replay (only the LAST batch ever replays) skips the whole fold
  * instead of double-counting postings or stats; a replay that finds
  * the batch appended but unmarked audits the stats delta instead of
  * appending. Tombstone appends dedup on read. The emitted
  * per-batch stats snapshot (`outDir/batch=<id>`) is deterministic
  * Overwrite. */
object Bm25Loop {

  /** Seed the index from a batch-era corpus before the stream starts. */
  def seedIndex(docs: DataFrame, idCol: String, textCol: String,
                table: String, path: String, buckets: Int = 32): Unit =
    SketchOps.persistBm25Index(
      SketchOps.buildBm25Index(docs, col(idCol), col(textCol)),
      table, path, buckets)

  private def markerDir(path: String, batchId: Long): String =
    s"${path}_applied/batch=$batchId"

  /** One micro-batch — exposed for direct replay tests; [[run]] wires it
    * into [[FoldLoop]]. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   idCol: String, textCol: String,
                                   removedCol: String,
                                   table: String, path: String,
                                   outDir: String, buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    // appendBm25Index refuses tombstoned ids, so without the prelude's
    // tombstone filter a mixed batch would throw on every replay.
    val td = FoldLoop.takedowns("Bm25Loop", batch, batchId, idCol, removedCol,
      "doc_id", SketchOps.bm25Tombstones(spark, path))
    val additions = td.additions
    lazy val (po, dl) = SketchOps.loadBm25Index(spark, table, path, buckets)
    lazy val batchIds = additions.select(col(idCol).cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    val (fs, marker) = graft.sources.LakeFs.resolve(markerDir(path, batchId))
    if (!fs.exists(marker)) {
      FoldLoop.appendCommit("Bm25Loop", batchId, td, s"${path}_dl")(
        retract = SketchOps.deleteFromBm25Index(spark, table, path, _, buckets),
        genesis = () => SketchOps.persistBm25Index(
          SketchOps.buildBm25Index(additions, col(idCol), col(textCol)),
          table, path, buckets, mode = SaveMode.Overwrite),
        present = () => {
          // Presence must agree across BOTH tables: appendBm25Index
          // writes postings before lengths, so a crash between them
          // leaves batch ids in _po but not _dl — a lengths-only check
          // would read 0 and re-append, doubling every posting.
          val inDl = batchIds.join(dl.select(col("doc_id")), Seq("doc_id"), "left_semi").count()
          val inPo = batchIds.join(po.select(col("doc_id")), Seq("doc_id"), "left_semi").count()
          require(inDl == inPo,
            s"Bm25Loop: index holds $inPo/$inDl of ${td.nIds} batch-$batchId " +
              "ids in postings/lengths — partial append (crash inside the " +
              "fold?); compactBm25Index to a fresh path and restart")
          inDl
        },
        emit = fresh =>
          if (fresh)
            SketchOps.appendBm25Index(spark, table, path, additions,
              col(idCol), col(textCol), buckets)
          else {
            // Replay-only audit of the one silent crash window: the
            // batch's lengths landed but its stats delta may not have
            // (the delta is the append's LAST write) — a missing one
            // skews avgdl forever. One column-pruned count, paid only
            // after a crash.
            val (nDocs, _) = SketchOps.bm25Stats(spark, path)
            val liveDocs = dl.join(
              broadcast(SketchOps.bm25Tombstones(spark, path)),
              Seq("doc_id"), "left_anti").count()
            require(nDocs == liveDocs,
              s"Bm25Loop: stats log counts $nDocs live docs but the index " +
                s"holds $liveDocs — a fold crashed between the length append " +
                "and its stats delta; compactBm25Index to a fresh path and restart")
          })
      // The marker is the commit point: a crash before this line replays
      // the fold (the guards above make that safe); after it, the replay
      // skips every state mutation.
      fs.mkdirs(marker)
    }
    // Deterministic per-batch observability (rewritten on replay): the
    // live corpus scalars after this batch.
    val (nDocs, totalDl) = SketchOps.bm25Stats(spark, path)
    spark.range(1).select(lit(batchId).as("batch"), lit(nDocs).as("n_docs"),
        lit(totalDl).as("total_dl"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
  }

  /** Start the loop over a document stream carrying `idCol`/`textCol`
    * and (optionally) a boolean `removedCol` marking takedowns. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          removedCol: String, table: String, path: String,
          outDir: String, checkpointDir: String,
          buckets: Int = 32, trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, idCol, textCol, removedCol, table, path, outDir, buckets))
}
