package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Streaming twin of [[graft.ops.DedupOps.connectedComponents]] WITH
  * deletions: maintain the dedup cluster map (doc → component label)
  * of an evolving near-dup graph under both edge APPENDS (new
  * duplicates discovered) and edge REMOVALS (takedowns, retractions,
  * license filtering — the events that SPLIT clusters and that the
  * append-only warm start is unsound for). The missing member of the
  * streaming graph family: [[LabelLoop]] maintains community labels,
  * [[RankLoop]] authority, ClusterLoop the component structure itself.
  *
  * Exactness: after every batch the emitted labels equal
  * `connectedComponents(current edge set)` label-for-label
  * (ClusterLoopSpec pins it per batch, across a restart, and under
  * replay). Each batch folds through
  * [[graft.ops.DedupOps.connectedComponentsInc]]'s affected-cone core:
  * labels recompute cold ONLY inside components an added/removed edge
  * touches; every untouched component rides from the persisted state
  * (CcIncProbe: 0.03–0.04× the cold recompute's shuffled bytes).
  *
  * Edge store: SIGNED batch dirs `edgesDir/batch=<id>` carrying
  * `(lo, hi, sign, b)` — one row per canonical pair per batch, sign
  * +1 for upserted edges (within-batch remove+re-add nets to add),
  * −1 for removals, `b` the batch id. The CURRENT edge set is
  * last-action-wins: `sign of max b` per pair — NOT a sum (set
  * semantics: duplicate adds must not need two removals). The fold
  * reads the store through the cone restriction FIRST, so the
  * netting group-by runs on the cone slice, never the store
  * ([[graft.ops.DedupOps]] ccIncCore contract). `compactEvery`
  * batches the store nets globally into one `batch=<id>_compact` dir
  * (the cadence-amortized O(graph) moment, the [[LabelLoop]]
  * discipline).
  *
  * Crash posture: output writes are deterministic Overwrite per batch
  * id and state commits through [[FoldLoop]]'s replace-version mode;
  * the CC fold itself is IDEMPOTENT
  * under re-applied batches (re-adding a present edge and re-removing
  * an absent one are no-ops), so a replay that finds the store
  * already updated — even already compacted — reaches identical
  * labels. Node ids fold to STRING (the [[LabelLoop]] schema
  * convention); labels are component minima under STRING ordering,
  * matching what `connectedComponents` over string ids returns. */
object ClusterLoop {

  private val stateSchema = StructType(Seq(
    StructField("doc", StringType, nullable = true),
    StructField("label", StringType, nullable = true)))

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stateSchema)

  /** Latest maintained (doc, label) cluster map (empty if never run). */
  def latestLabels(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.latest(spark, stateDir, Some(stateSchema))
      .getOrElse(emptyState(spark))

  /** The store's current edge set (lo, hi) under last-action-wins —
    * exposed for spec twins and audits; the per-batch fold never runs
    * this globally. */
  private[graft] def currentEdges(spark: SparkSession, edgesDir: String): DataFrame =
    SignedEdgeStore.current(spark, edgesDir, "lo", "hi")

  /** Net the signed store into one `batch=<id>_compact` dir (present
    * edges only), deleting the folded dirs — [[SignedEdgeStore.compact]]
    * over the canonical `(lo, hi)` keys; see there for the
    * ascending-delete crash discipline. */
  private[graft] def compactEdgeStore(spark: SparkSession, edgesDir: String,
                                      batchId: Long): Unit =
    SignedEdgeStore.compact(spark, edgesDir, batchId, "lo", "hi")

  /** One micro-batch — exposed for direct replay tests; [[run]] wires
    * it into [[FoldLoop]]. `removedCol` (when non-empty) names a
    * boolean column marking removal events; rows where it is true (and
    * not re-added in the same batch) delete their edge. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   d1: String, d2: String, removedCol: String,
                                   stateDir: String, edgesDir: String,
                                   outDir: String, maxIter: Int = 30,
                                   compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val canonEvents = batch
      .select(col(d1).cast("string").as("a"), col(d2).cast("string").as("b"),
        FoldLoop.removedFlag(batch, removedCol).as("__rm"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"), col("__rm"))
    // Within one batch, an upsert beats a removal of the same pair
    // (the Debezium-shaped convention UpsertLoop uses) —
    // SignedEdgeStore.canonBatch's contract; the signed dir write is
    // deterministic per batch id (replay rewrites identical bytes).
    val canon = SignedEdgeStore.canonBatch(canonEvents, "lo", "hi")
      .localCheckpoint()
    val addU = canon.where(col("__allrm") === 0).select(col("lo"), col("hi"))
    val remU = canon.where(col("__allrm") === 1).select(col("lo"), col("hi"))
    SignedEdgeStore.writeBatch(canon, "lo", "hi", edgesDir, batchId)

    VersionedState.commit(spark, stateDir, batchId, Some(stateSchema)) { state =>
      val prior = state.getOrElse(emptyState(spark)).localCheckpoint()
      // Old edges reach the fold ONLY through the cone restriction; the
      // last-action-wins netting group-by runs on the cone slice. The
      // store is enumerated WITHOUT this batch's dir — oldEdges is the
      // pre-batch set — but a replay that finds a compacted store
      // (containing this batch) still folds to identical labels: the CC
      // fold is idempotent under re-applied batches.
      // readStore restricts to the store's OWNED batch dirs (foreign dirs
      // ignored) and refuses a pre-signed-format store loudly.
      val priorStore = SignedEdgeStore.readStore(spark, edgesDir, "lo", "hi",
        excludeName = Some(s"batch=$batchId"))
      val coneExtract = (coneNodes: DataFrame) =>
        SignedEdgeStore.net(
          priorStore.join(coneNodes.select(col("doc").as("__cn")),
            col("lo") === col("__cn"), "left_semi"),
          "lo", "hi")
      val labels = graft.ops.DedupOps.ccIncCore(
          prior, addU, remU, coneExtract, maxIter)
        .localCheckpoint()
      labels.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
      Some(labels)
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactEdgeStore(spark, edgesDir, batchId)
  }

  /** Start the cluster-maintenance loop over an edge-event stream
    * carrying `d1`/`d2` columns and (optionally) a boolean `removedCol`
    * marking takedowns. Maintained (doc, label) tables land under
    * `outDir/batch=<id>/`; state evolves under `stateDir`; signed
    * edges accumulate under `edgesDir`. */
  def run(stream: DataFrame, d1: String, d2: String, removedCol: String,
          stateDir: String, edgesDir: String, outDir: String,
          checkpointDir: String, trigger: Option[Trigger] = None,
          maxIter: Int = 30, compactEvery: Int = 64): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, d1, d2, removedCol, stateDir, edgesDir, outDir,
        maxIter, compactEvery))
}
