package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.FileStats

/** Streaming ingestion that lands a PRUNING-READY lake: a [[FoldLoop]]
  * sink that writes each micro-batch under `outDir/batch=<id>` AND keeps
  * the [[FileStats]] manifest current — so a reader can
  * `FileStats.prunedRead(..., partitioned = true)` against live-ingested
  * data without ever re-scanning history for stats. The manifest fold is
  * O(batch): stats are collected over the just-written batch directory
  * only and unioned onto the prior manifest (the same O(new-data)
  * contract as [[FileStats.update]], driven by the stream).
  *
  * Commits through [[FoldLoop]]'s replace-version mode
  * ([[FileStats.prunedRead]] pins the basePath, so the
  * `batch` partition column survives pruned reads over the live lake).
  * Replay detail: rewriting `batch=<id>` gives the files
  * NEW uuid names, so the fold also DROPS any prior manifest rows under
  * that batch directory before unioning — a replayed batch replaces its
  * own stats rather than duplicating them (the prior version normally
  * predates the batch, but a belt against exotic replay interleavings
  * costs one filter).
  */
object ManifestLoop {

  /** The loop's current manifest (None until a batch ran). Feed it to
    * [[FileStats.prunedRead]], or persist it via
    * [[FileStats.writeManifest]] for the batch era. */
  def latestManifest(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.latest(spark, stateDir)

  /** Fold the stats of an ALREADY-written `outDir/batch=<id>` directory
    * into the versioned manifest state — the reusable half of
    * [[foldBatch]], for loops that write their own batch output (e.g.
    * [[DedupLoop]] survivors). A batch that wrote no parquet files (all
    * rows filtered) folds nothing: prior state is carried forward as the
    * next version; with no prior state either, no version exists yet
    * (there is nothing to describe and no schema to write). */
  private[streaming] def foldDirStats(spark: SparkSession, outDir: String,
                                      batchId: Long, statsCols: Seq[String],
                                      stateDir: String): Unit = {
    val batchDir = s"$outDir/batch=$batchId"
    // Hadoop listing, not java.io: the lake this loop lands may live on
    // object storage (same posture as the rest of the lake tooling).
    val hasFiles = graft.sources.LakeFs
      .listFiles(batchDir, skipHiddenDirs = true)
      .exists(_._1.endsWith(".parquet"))
    VersionedState.commit(spark, stateDir, batchId) { state =>
      val prior = state.map(_.where(!col("file").contains(s"/batch=$batchId/")))
      lazy val batchStats = FileStats.collect(spark, batchDir, statsCols)
      if (hasFiles) Some(prior.fold(batchStats)(_.unionByName(batchStats))) else prior
    }
  }

  /** One micro-batch fold — exposed for direct replay tests. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   outDir: String, statsCols: Seq[String],
                                   stateDir: String,
                                   refreshTable: Option[String] = None): Unit = {
    batch.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
    foldDirStats(batch.sparkSession, outDir, batchId, statsCols, stateDir)
    // CBO stats are a snapshot of one directory state: every batch this
    // loop lands invalidates them, and a stale "small" estimate
    // broadcasts a no-longer-small side. Refresh at the fold boundary so
    // the planner's view tracks the lake the loop is growing.
    refreshTable.foreach(t =>
      graft.sources.Catalog.refreshStats(batch.sparkSession, t))
  }

  /** Start the manifest-maintaining ingestion loop over `stream`. With
    * `refreshTable` (a [[graft.sources.Catalog.registerAnalyzed]] name
    * over `outDir`), catalog statistics are re-ANALYZEd after every
    * batch fold — the staleness discipline refreshStats documents, wired
    * into the loop that does the appending. */
  def run(stream: DataFrame, outDir: String, statsCols: Seq[String],
          stateDir: String, checkpointDir: String,
          trigger: Option[Trigger] = None,
          refreshTable: Option[String] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, outDir, statsCols, stateDir, refreshTable))
}
