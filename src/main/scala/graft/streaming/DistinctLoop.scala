package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained EXACT distinct counts — [[SketchLoop]]'s
  * exact twin, completing the rollup family ([[AggLoop]] exact
  * n/sum/min/max, [[SketchLoop]] approximate distinct, [[TopKLoop]]
  * exact top-k): "distinct users per (day, source)" stays current
  * without ever re-reading history, and reads are exact at ANY coarser
  * rollup level.
  *
  * State is the distinct (group-cols, value) PAIR SET, one row each —
  * the minimal information from which exact distinct counts at every
  * rollup level are derivable (a per-group counter alone cannot roll up:
  * distinct counts are not additive). Folding a batch is
  * `union.distinct` — set union, idempotent BY CONSTRUCTION, so a
  * replayed batch cannot change the state even before the versioned
  * overwrite makes replay deterministic. Cost per fold is one shuffle of
  * the batch's own distinct pairs (map-side combined); state size is the
  * true distinct-pair cardinality — that is the price of exactness, and
  * the reason [[SketchLoop]] exists for the unbounded case.
  *
  * Commits through [[FoldLoop]]'s replace-version mode.
  */
object DistinctLoop {

  /** One-shot distinct-pair table over `df` — also the per-batch
    * building block and the seed for the loop. */
  def pairTable(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "group columns required")
    df.select((groupCols :+ valueCol).map(col): _*).distinct()
  }

  /** Merge pair tables from any number of eras — set union. */
  def merge(tables: Seq[DataFrame]): DataFrame = {
    require(tables.nonEmpty, "nothing to merge")
    tables.reduce(_.unionByName(_)).distinct()
  }

  /** Exact distinct-value count per `keepCols` (⊆ the stored grouping;
    * fewer columns = a coarser rollup, still exact — the pair set is
    * what makes that true). */
  def report(state: DataFrame, keepCols: Seq[String], valueCol: String): DataFrame =
    state.groupBy(keepCols.map(col): _*)
      .agg(count_distinct(col(valueCol)).as(s"n_distinct_$valueCol"))

  /** Seed with batch-era state ([[pairTable]] over history), written as
    * `v0` so batch 0 folds onto it. */
  def seedState(table: DataFrame, stateDir: String): Unit =
    VersionedState.seed(table, stateDir)

  /** The loop's current pair set (None until seeded or run). */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.latest(spark, stateDir)

  /** One micro-batch fold — exposed for direct replay tests. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   groupCols: Seq[String], valueCol: String,
                                   stateDir: String): Unit = {
    val batchPairs = pairTable(batch, groupCols, valueCol)
    VersionedState.commit(batch.sparkSession, stateDir, batchId) { prior =>
      Some(prior.fold(batchPairs)(p => merge(Seq(p, batchPairs))))
    }
  }

  /** Start the incremental exact-distinct loop over `stream`. */
  def run(stream: DataFrame, groupCols: Seq[String], valueCol: String,
          stateDir: String, checkpointDir: String,
          trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, groupCols, valueCol, stateDir))
}
