package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.SketchOps

/** Continuous distinct-census: a [[FoldLoop]] loop that folds each
  * micro-batch's per-group HLL sketches into a persisted, reaggregatable
  * sketch table ([[SketchOps.hllSketchTable]]'s streaming twin) — the
  * only way a live "distinct users by (day, type)" stays answerable from
  * kilobytes without re-reading the raw stream.
  *
  * [[FoldLoop]]'s replace-version commit ([[VersionedState]]): batch N
  * reads the latest valid state ≤ N, unions
  * in its own sketch table via `hll_union_agg`, overwrites `v<N+1>`,
  * GCs what no replay can need. HLL union is register-wise max — a SET
  * operation — so folding a replayed batch is IDEMPOTENT by construction
  * (not merely overwrite-idempotent like the dedup loop: even
  * double-folding the same items would change nothing), and the folded
  * state is register-identical to the batch sketch table built over the
  * whole history at once (spec-pinned: equal estimates at every rollup).
  *
  * The state stays a normal sketch table: hand [[latestState]] to
  * [[SketchOps.hllRollup]] for any coarser grouping, exactly like its
  * batch-era siblings.
  */
object SketchLoop {

  /** Seed with batch-era state (a [[SketchOps.hllSketchTable]] over the
    * historical corpus), written as `v0` so batch 0 folds onto it. */
  def seedState(sketchTable: DataFrame, stateDir: String): Unit =
    VersionedState.seed(sketchTable, stateDir)

  /** The loop's current sketch table (None until the loop or a seed has
    * written state). */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.latest(spark, stateDir)

  /** Estimate distinct counts from the current state rolled up to
    * `keepCols` (empty = global) — live answers from kilobytes. */
  def estimate(spark: SparkSession, stateDir: String, keepCols: String*): DataFrame = {
    val st = latestState(spark, stateDir).getOrElse(
      throw new IllegalStateException(s"no sketch state at $stateDir — seed it or run the loop"))
    SketchOps.hllRollup(st, keepCols: _*)
  }

  /** One micro-batch fold — exposed for direct idempotency tests. */
  private[streaming] def sketchBatch(batch: DataFrame, batchId: Long,
                                     itemCol: String, groupCols: Seq[String],
                                     stateDir: String): Unit = {
    val batchTable = SketchOps.hllSketchTable(batch, itemCol, groupCols: _*)
    VersionedState.commit(batch.sparkSession, stateDir, batchId) { prior =>
      Some(prior.fold(batchTable)(_.unionByName(batchTable)
        .groupBy(groupCols.map(col): _*)
        .agg(hll_union_agg(col("hll")).as("hll"))))
    }
  }

  /** Start the census loop over `stream` (must carry `itemCol` and
    * `groupCols`); state evolves under `stateDir`. */
  def run(stream: DataFrame, itemCol: String, groupCols: Seq[String],
          stateDir: String, checkpointDir: String,
          trigger: Option[Trigger] = None): StreamingQuery = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (use a literal group for a global census)")
    FoldLoop.start(stream, checkpointDir, trigger)(
      sketchBatch(_, _, itemCol, groupCols, stateDir))
  }
}
