package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{FileStats, Maintenance}

/** Streaming CDC apply: fold a change stream (upsert rows + optional
  * delete markers) into a keyed parquet state table via
  * [[Maintenance.upsert]], one targeted file-level merge per
  * micro-batch — the streaming twin of the batch upsert, completing the
  * lake family (ManifestLoop = appends, UpsertLoop = mutations).
  *
  * Stream schema = the table schema, plus an optional BOOLEAN
  * `deleteCol` marking rows to drop (the Debezium/CDC tombstone shape);
  * the marker column is stripped before rows are applied, and a delete
  * row's non-key columns are ignored. Replace-by-key semantics per
  * batch ([[Maintenance.upsert]]): later batches win over earlier ones,
  * and within one batch all change rows for a key replace the key's
  * prior rows.
  *
  * The manifest rides [[FoldLoop]]'s replace-version commit (version =
  * batchId + 1, GC below the prior version unless `retainHistory`) so
  * every batch's merge plans its candidate
  * files from stats — never a full table scan. First batch with no
  * seeded state: an existing non-empty table pays a ONE-TIME
  * [[FileStats.collect]] (document the cost at 100 TB: seed from the
  * batch era's persisted manifest instead via [[seedState]]); a missing
  * or empty table is created from the batch itself.
  *
  * Exactly-once posture: [[Maintenance.upsert]] re-applied with the
  * same batch is content-stable (its anti join removes every copy of
  * every change key before re-inserting), so a replayed batch repairs
  * rather than duplicates. A crash INSIDE the swap window additionally
  * leaves the persisted manifest naming files the swap deleted; the
  * fold detects that with [[FileStats.isFresh]] and re-collects stats
  * before merging — the rare-path repair cost is one stats pass,
  * against silently planning from a manifest whose files are gone.
  */
object UpsertLoop {

  /** Seed the manifest state from a batch-era manifest (e.g. the
    * `<dir>_stats` pair written by [[Maintenance.writeOptimized]]),
    * so the stream's first batch skips the full stats collect. */
  def seedState(manifest: DataFrame, stateDir: String): Unit =
    VersionedState.seed(manifest, stateDir)

  /** The loop's current manifest (None until a batch ran or state was
    * seeded). */
  def latestManifest(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.latest(spark, stateDir)

  /** All [[snapshotAt]]-readable versions (ascending batch-manifest
    * versions still on disk — with `retainHistory` that is every batch
    * since the last [[graft.sources.Maintenance.vacuumHistory]]). */
  def versions(stateDir: String): Seq[Long] =
    VersionedState.validVersions(stateDir)

  /** TIME TRAVEL over a `retainHistory = true` loop: the state table
    * exactly as of manifest version `v` (= batchId + 1 of the batch
    * that produced it), via [[graft.sources.Maintenance.readAt]] —
    * retired files resolve from `_history/`, vacuumed versions fail
    * loudly rather than read partially. */
  def snapshotAt(spark: SparkSession, dir: String, stateDir: String,
                 v: Long): DataFrame =
    Maintenance.readAt(spark, dir, VersionedState.read(spark, stateDir, v))

  /** One micro-batch fold — exposed for direct replay tests. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long, dir: String,
                                   key: String, statsCols: Seq[String],
                                   stateDir: String,
                                   deleteCol: Option[String],
                                   retainHistory: Boolean = false,
                                   evolveSchema: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val b = batch.localCheckpoint()
    val deletes = deleteCol.map(c =>
      b.where(coalesce(col(c), lit(false))).select(col(key)))
    val changes = deleteCol match {
      case Some(c) => b.where(!coalesce(col(c), lit(false))).drop(c)
      case None    => b
    }
    val dirHasData = graft.sources.LakeFs
      .listFiles(dir, skipHiddenDirs = true).exists(_._1.endsWith(".parquet"))
    // With history retained, every manifest version IS a readable
    // snapshot — keep them all; vacuumHistory owns retention.
    VersionedState.commit(spark, stateDir, batchId, gc = !retainHistory) { prior =>
      def upsert(manifest: DataFrame): DataFrame =
        Maintenance.upsert(spark, dir, manifest, changes, key, deletes,
          retainHistory = retainHistory, evolveSchema = evolveSchema)._2
      Some((prior, dirHasData) match {
        case (Some(m), true) if FileStats.isFresh(spark, dir, m) => upsert(m)
        // Stale state (crash inside a prior swap window) or a manifest
        // predating out-of-band writes: repair with one stats pass.
        case (_, true) => upsert(FileStats.collect(spark, dir, statsCols))
        case (_, false) =>
          // Table genesis: the first batch IS the table (delete markers
          // can only refer to rows that don't exist — dropped already).
          changes.write.mode(SaveMode.Overwrite).parquet(dir)
          FileStats.collect(spark, dir, statsCols)
      })
    }
  }

  /** Start the CDC apply loop over `stream`. `statsCols` are the
    * manifest columns for genesis/repair collects (must include `key`;
    * defaults to just the key). `evolveSchema` rides through to
    * [[graft.sources.Maintenance.upsert]] — the restart-with-a-widened-
    * source case: one streaming query's batches share a schema, but a
    * LOOP RESTART whose source gained columns must merge them into the
    * narrower on-disk table (null-padded survivors, mergeSchema reads)
    * instead of failing the union; leave it off for a typed state table
    * so a drifted source fails loudly. */
  def run(stream: DataFrame, dir: String, key: String, stateDir: String,
          checkpointDir: String, deleteCol: Option[String] = None,
          statsCols: Seq[String] = Nil,
          trigger: Option[Trigger] = None,
          retainHistory: Boolean = false,
          evolveSchema: Boolean = false): StreamingQuery = {
    val stats = if (statsCols.nonEmpty) statsCols else Seq(key)
    require(stats.contains(key), s"statsCols must include the merge key `$key`")
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, dir, key, stats, stateDir, deleteCol, retainHistory,
        evolveSchema))
  }
}
