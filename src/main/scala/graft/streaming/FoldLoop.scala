package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.LakeFs

/** The one driver behind every streaming fold loop. Fault tolerance is
  * MapReduce's: a micro-batch is a deterministic function of its input
  * and the committed state, Spark's checkpoint replays only the LAST
  * (possibly uncommitted) batch id, per-batch outputs are Overwrite
  * under `batch=<id>`, and each batch commits its state in one of two
  * modes:
  *
  *  - REPLACE-VERSION ([[VersionedState.commit]]) — Agg, Classifier,
  *    Cluster, Dedup, Distinct, Label, Manifest, Pack, Rank, Sketch,
  *    TopK, Upsert: batch N reads the latest valid version ≤ N and
  *    overwrites `v<N+1>`, so a replay rewrites the same state from the
  *    same base; versions below the one read are GC'd.
  *  - GUARDED APPEND ([[appendCommit]]) — NearDup, SemDedup, Ann, Bm25:
  *    batch N appends to a persisted bucketed index exactly when none of
  *    its ids is present yet, and computes its output with the batch's
  *    own ids excluded from the old side, so a replay that finds the
  *    batch appended recomputes identical output and skips the append.
  *    Bm25 adds its own marker directory around this for the one crash
  *    window specific to it (the stats delta).
  *
  * A loop is its fold function: [[start]] wires it into the
  * checkpointed query, and [[removedFlag]] / [[takedowns]] are the
  * shared takedown prelude. FoldLoopSpec replays every loop from each
  * commit point. */
private[streaming] object FoldLoop {

  /** Start `fold` as the `foreachBatch` sink of `stream`, checkpointed
    * under `checkpointDir`. */
  def start(stream: DataFrame, checkpointDir: String, trigger: Option[Trigger])
           (fold: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => fold(batch, batchId) }
    trigger.foreach(w.trigger)
    w.start()
  }

  /** A row's takedown marker: boolean `removedCol` with NULL as false;
    * constant false when `removedCol` is empty or not in the batch. */
  def removedFlag(batch: DataFrame, removedCol: String): Column =
    if (removedCol.nonEmpty && batch.columns.contains(removedCol))
      coalesce(col(removedCol).cast("boolean"), lit(false))
    else lit(false)

  /** A batch after the takedown prelude: the distinct long ids of its
    * retraction events (one column, the index's id name), the rows left
    * to add (marker dropped), and their id count. */
  final case class Takedowns(removals: DataFrame, additions: DataFrame, nIds: Long)

  /** The index loops' takedown prelude. Rows flagged by `removedCol` are
    * retractions of the id they carry. An id removed and added in one
    * batch resolves to deleted, and so does a re-add of an id in
    * `tombstones` (deleted in ANY earlier batch): its physical rows still
    * exist, so re-admitting it would wedge the all-or-none presence check
    * of [[appendCommit]] on a mixed batch — re-ingest under a new id, or
    * compact the index first. Ids cast with `try_cast`: a malformed
    * removal id can never match an index row, so it nets to a no-op.
    * The additions pass the [[graft.ops.IndexStore]] id guard with long
    * ids, or the batch fails loudly. */
  def takedowns(loop: String, batch: DataFrame, batchId: Long, idCol: String,
                removedCol: String, idName: String,
                tombstones: DataFrame): Takedowns = {
    val id = col(idCol).try_cast("long")
    val marked = batch.withColumn("__rm", removedFlag(batch, removedCol))
      .localCheckpoint()
    val removals = marked.where(col("__rm")).select(id.as(idName))
      .where(col(idName).isNotNull).distinct().localCheckpoint()
    val additions = marked.where(!col("__rm")).drop("__rm")
      .join(removals.select(col(idName).as("__rmid")), id === col("__rmid"), "left_anti")
      .join(tombstones.select(col(idName).as("__dead")), id === col("__dead"), "left_anti")
      .localCheckpoint()
    Takedowns(removals, additions, graft.ops.IndexStore.requireIds(loop, additions,
      col(idCol), longIds = true, s" in batch $batchId"))
  }

  /** The guarded-append commit of batch `batchId` into the index whose
    * existence `indexRoot` signals.
    *
    * GENESIS (no index yet): `genesis` writes the batch's output and
    * creates the index from the batch with Overwrite (a crash between
    * its writes re-enters genesis on replay, which repairs them); then
    * the takedowns are recorded. A replay after genesis lands in the
    * steady state and finds every id present.
    *
    * STEADY: takedowns are recorded FIRST, so retracted ids stop
    * matching from this batch on (tombstone appends dedup on read).
    * `present` counts the batch ids the physical index already holds —
    * all or none: only the last batch replays and a job commit is
    * atomic, so a partial count means an out-of-band writer and fails
    * loudly. `emit(fresh)` then runs the family's append body: output
    * materialized, the batch appended iff `fresh` (no id present), the
    * output written. */
  def appendCommit(loop: String, batchId: Long, td: Takedowns, indexRoot: String)(
      retract: DataFrame => Unit, genesis: () => Unit,
      present: () => Long, emit: Boolean => Unit): Unit = {
    val retractions = td.removals.limit(1).count() > 0
    val (fs, root) = LakeFs.resolve(indexRoot)
    if (!fs.exists(root)) {
      genesis()
      if (retractions) retract(td.removals)
    } else {
      if (retractions) retract(td.removals)
      val p = present()
      require(p == 0L || p == td.nIds,
        s"$loop: index holds $p of ${td.nIds} batch-$batchId ids — partial " +
          "append (out-of-band writer?); rebuild or compact the index")
      emit(p == 0L)
    }
  }
}
