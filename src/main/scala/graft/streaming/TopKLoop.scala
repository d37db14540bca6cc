package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained EXACT top-k rows per group — the streaming
  * leaderboard ("k highest-quality documents per source", "k largest
  * orders per status") kept current without ever re-reading history.
  *
  * Top-k selection is mergeable with NO loss of exactness: any row in
  * `topK(A ∪ B)` is necessarily in `topK(A)` or `topK(B)` (if more than
  * k rows of its own part beat it, they beat it in the union too). So
  * the state is just the current top-k rows per group — bounded at
  * `|groups| · k` FULL PAYLOAD rows regardless of history size — and a
  * fold is union-with-batch-topk + re-rank. This is the same reason
  * per-partition `TakeOrderedAndProject` is exact in batch Spark; here
  * the "partitions" are time-eras.
  *
  * (Contrast: top-k by FREQUENCY is NOT mergeable from truncated state —
  * a globally-heavy key can be locally light everywhere. That problem is
  * [[AggLoop]]'s: keep full per-key counts, rank at read time.)
  *
  * Determinism — which makes checkpoint replay byte-stable — requires a
  * total order: rows rank by `(orderCol, tiebreakCol)` with `tiebreakCol`
  * unique per group (typically the row id). Ties on `orderCol` resolve to
  * the LOWEST tiebreak value, forever, across restarts.
  *
  * Commits through [[FoldLoop]]'s replace-version mode. A naive re-fold of the same batch would double rows and
  * let one row occupy two of the k slots; the versioned overwrite (replay
  * rewrites `v<N+1>` from the same prior base) is what makes replay safe.
  */
object TopKLoop {

  /** One-shot top-k table over `df` — also the per-batch building block,
    * the fold's re-rank, and the seed for the loop. Keeps every column of
    * `df`, so the state rows ARE the winning payload rows. */
  def topK(df: DataFrame, groupCols: Seq[String], orderCol: String,
           tiebreakCol: String, k: Int, descending: Boolean = true): DataFrame = {
    require(groupCols.nonEmpty, "group columns required")
    require(k > 0, "k must be positive")
    val ord = if (descending) col(orderCol).desc else col(orderCol).asc
    // row_number under a rank bound lowers to WindowGroupLimit: each
    // input partition locally truncates to k rows per group BEFORE the
    // exchange, so the shuffle carries at most partitions·groups·k rows.
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(ord, col(tiebreakCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k).drop("__rk")
  }

  /** Merge top-k tables from any number of eras — exact by the
    * containment argument above. */
  def merge(tables: Seq[DataFrame], groupCols: Seq[String], orderCol: String,
            tiebreakCol: String, k: Int, descending: Boolean = true): DataFrame = {
    require(tables.nonEmpty, "nothing to merge")
    topK(tables.reduce(_.unionByName(_)), groupCols, orderCol, tiebreakCol, k, descending)
  }

  /** Seed with batch-era state ([[topK]] over history), written as `v0`
    * so batch 0 folds onto it. */
  def seedState(table: DataFrame, stateDir: String): Unit =
    VersionedState.seed(table, stateDir)

  /** The loop's current leaderboard (None until seeded or run). */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.latest(spark, stateDir)

  /** One micro-batch fold — exposed for direct replay tests. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   groupCols: Seq[String], orderCol: String,
                                   tiebreakCol: String, k: Int, descending: Boolean,
                                   stateDir: String): Unit = {
    val batchTop = topK(batch, groupCols, orderCol, tiebreakCol, k, descending)
    VersionedState.commit(batch.sparkSession, stateDir, batchId) { prior =>
      Some(prior.fold(batchTop)(p =>
        merge(Seq(p, batchTop), groupCols, orderCol, tiebreakCol, k, descending)))
    }
  }

  /** Start the incremental top-k loop over `stream`. */
  def run(stream: DataFrame, groupCols: Seq[String], orderCol: String,
          tiebreakCol: String, k: Int, stateDir: String, checkpointDir: String,
          descending: Boolean = true, trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, groupCols, orderCol, tiebreakCol, k, descending, stateDir))
}
