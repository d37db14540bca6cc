package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.GraphOps

/** Streaming twin of [[GraphOps.pageRankWarm]]: maintain the PageRank of
  * an EVOLVING edge set — appends AND removals (takedowns, link-rot
  * purges, retractions) — by folding each batch into persisted ranks —
  * the rank-side completion of the streaming graph family ([[LabelLoop]]
  * maintains LPA community labels, [[ClusterLoop]] component structure;
  * this maintains authority scores).
  *
  * The incremental lever differs from LabelLoop's: PageRank has no
  * k-hop cone — every rank shifts on any edge change — so each batch
  * still ITERATES over the full current edge set. What the persisted
  * state buys is ROUNDS: warm-starting from the prior fixpoint after a
  * small change needs a fraction of the cold iteration count at equal
  * accuracy (PrIncProbe: one warm round beats eight cold rounds at 1M
  * edges + 1% append — per-round cost identical), because the fixpoint
  * is init-independent (damping < 1 contraction) and a small change
  * moves it little. THIS is why takedowns are nearly free here: unlike
  * the monotone CC iteration (where stale labels from removed edges are
  * undetectable and [[ClusterLoop]] needs the affected-cone machinery),
  * `pageRankWarm`'s fixpoint does not depend on the starting vector, so
  * warm-restarting on the NETTED edge set is sound as-is — a removed
  * edge just moves the fixpoint slightly and the prior ranks still
  * start near it; nodes that lose their last live edge leave the node
  * set and their prior rows drop inside [[GraphOps.pageRankWarm]].
  * `iterations` is therefore the per-batch maintenance budget (2 is the
  * measured sweet spot for ~1% changes), and the loop's output after
  * batch b is EXACTLY `pageRankWarm(netted edge set, prior state,
  * iterations)` — deterministic, so crash replay of a batch rewrites
  * identical bytes ([[FoldLoop]]'s replace-version commit). A
  * converged maintained run agrees with a converged cold
  * [[GraphOps.pageRank]] over the netted set to within one
  * micro-unit per node — integer quantization leaves a ±1 plateau of
  * stationary points, and different starting vectors may settle on
  * adjacent ones. RankLoopSpec pins the fold equality, the plateau
  * bound (including after removal-only and mixed batches), and a
  * mid-stream restart.
  *
  * Edges persist in the [[SignedEdgeStore]] (`edgesDir/batch=<id>`
  * dirs of `(src, dst, sign, b)`; last-action-wins netting; removal of
  * a never-present edge is a no-op). The per-batch global netting
  * group-by is deliberate and honest: PageRank's matvec consumes the
  * FULL edge set `iterations` times per batch anyway, so one more
  * edge-scale pass does not change the fold's complexity class — the
  * cone discipline that makes netting-on-a-slice matter belongs to the
  * loops with local dependency structure ([[ClusterLoop]],
  * [[LabelLoop]]). `compactEvery` bounds store growth with the shared
  * crash-safe compaction. Node ids are carried as strings (the loop
  * family's storage convention). */
object RankLoop {

  private val stateSchema = StructType(Seq(
    StructField("node", StringType, nullable = true),
    StructField("r", LongType, nullable = true)))

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stateSchema)

  /** Latest per-node integer micro-ranks (empty if never run). */
  def latestRanks(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.latest(spark, stateDir, Some(stateSchema))
      .getOrElse(emptyState(spark))

  /** The store's current directed edge set (src, dst) under
    * last-action-wins — exposed for spec twins and audits. */
  private[graft] def currentEdges(spark: SparkSession, edgesDir: String): DataFrame =
    SignedEdgeStore.current(spark, edgesDir, "src", "dst")

  /** One micro-batch — exposed for direct replay tests; [[run]] wires it
    * into [[FoldLoop]]. `removedCol` (when non-empty) names a boolean
    * column marking removal events; rows where it is true (and not
    * re-added in the same batch) delete their edge. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   src: String, dst: String, removedCol: String,
                                   iterations: Int,
                                   stateDir: String, edgesDir: String,
                                   outDir: String, compactEvery: Int = 0,
                                   damping: Double = 0.85): Unit = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = batch.sparkSession
    val canon = SignedEdgeStore.canonBatch(
        batch.select(col(src).cast("string").as("src"),
            col(dst).cast("string").as("dst"),
            FoldLoop.removedFlag(batch, removedCol).as("__rm"))
          .where(col("src").isNotNull && col("dst").isNotNull),
        "src", "dst")
      .localCheckpoint()
    SignedEdgeStore.writeBatch(canon, "src", "dst", edgesDir, batchId)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      SignedEdgeStore.compact(spark, edgesDir, batchId, "src", "dst")
    // The netted CURRENT edge set — includes this batch's actions (the
    // dir was just written), so a crash replay nets to the same set.
    val store = currentEdges(spark, edgesDir)
    VersionedState.commit(spark, stateDir, batchId, Some(stateSchema)) { prior =>
      val ranks = (prior match {
        case Some(p) =>
          GraphOps.pageRankWarm(store, p, iterations = iterations, damping = damping)
        case None =>
          GraphOps.pageRank(store, iterations = iterations, damping = damping)
      }).localCheckpoint()
      ranks.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
      Some(ranks.select(col("node"), col("r")))
    }
  }

  /** Start the rank-maintenance loop over an edge-event stream carrying
    * `src`/`dst` columns and (optionally) a boolean `removedCol` marking
    * takedowns. Per-batch maintained ranks land under `outDir/batch=<id>/`
    * as the full `(node, r, nrank)` table; the `(node, r)` state evolves
    * under `stateDir`; signed edges accumulate under `edgesDir` with
    * compaction every `compactEvery` batches. */
  def run(stream: DataFrame, src: String, dst: String, iterations: Int,
          stateDir: String, edgesDir: String, outDir: String,
          checkpointDir: String, trigger: Option[Trigger] = None,
          compactEvery: Int = 64, damping: Double = 0.85,
          removedCol: String = ""): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, src, dst, removedCol, iterations, stateDir, edgesDir,
        outDir, compactEvery, damping))
}
