package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained EXACT rollup tables — [[SketchLoop]]'s exact
  * twin for the aggregates that ARE mergeable without sketches: per-group
  * `n / sum / min / max` (avg derived at read time). The state is a
  * normal table of partial aggregates; folding a new batch is the same
  * union-regroup merge an OLAP engine's incremental ETL runs, so a
  * "revenue by (day, status)" table stays current without ever
  * re-reading history.
  *
  * Sums are kept in DECIMAL(28,8): decimal addition is associative, so
  * the folded state is EXACTLY equal to the one-shot aggregate over all
  * history regardless of batch boundaries or merge order (double sums
  * would drift by accumulation order — spec-pinned equality would be
  * impossible to promise). Read-time accessors surface doubles (H2: raw
  * decimals are driver/pandas-hostile).
  *
  * Commits through [[FoldLoop]]'s replace-version mode. Unlike HLL union, a double-fold of the same batch WOULD
  * double-count — the versioned overwrite (replay rewrites from the same
  * prior base) is what makes replay safe.
  */
object AggLoop {

  private def sumCol(v: String) = s"sum_$v"
  private def minCol(v: String) = s"min_$v"
  private def maxCol(v: String) = s"max_$v"
  private def cntCol(v: String) = s"cnt_$v"
  private val dec = "decimal(28,8)"

  /** One-shot partial-aggregate table over `df` — also the per-batch
    * building block and the seed for the loop. `cnt_<v>` is the NON-NULL
    * count per value column (what SQL `COUNT(v)` returns): `sum` skips
    * NULLs, so a read-time average must divide by the same denominator or
    * it silently diverges from SQL `AVG` on nullable columns. */
  def aggTable(df: DataFrame, groupCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty && valueCols.nonEmpty, "group and value columns required")
    val aggs: Seq[Column] =
      count(lit(1)).as("n") +:
      valueCols.flatMap(v => Seq(
        sum(col(v).cast(dec)).as(sumCol(v)),
        min(col(v)).as(minCol(v)),
        max(col(v)).as(maxCol(v)),
        count(col(v)).as(cntCol(v))))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge partial-aggregate tables (any number of eras) down to
    * `keepCols` (⊆ the stored grouping; same columns = a state fold,
    * fewer = a coarser rollup). */
  def merge(tables: Seq[DataFrame], keepCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "nothing to merge")
    // Migration: state persisted before cnt_<v> existed divided avg by n,
    // i.e. assumed non-null values — backfill cnt_<v> = n for those rows
    // only, so an upgraded loop resumes an old state dir instead of
    // failing the union (and keeps exactly the old avg semantics for the
    // pre-upgrade history).
    val tables2 = tables.map { t =>
      valueCols.foldLeft(t) { (df, v) =>
        if (df.columns.contains(cntCol(v))) df else df.withColumn(cntCol(v), col("n"))
      }
    }
    val aggs: Seq[Column] =
      sum(col("n")).as("n") +:
      valueCols.flatMap(v => Seq(
        sum(col(sumCol(v))).as(sumCol(v)),
        min(col(minCol(v))).as(minCol(v)),
        max(col(maxCol(v))).as(maxCol(v)),
        sum(col(cntCol(v))).as(cntCol(v))))
    tables2.reduce(_.unionByName(_))
      .groupBy(keepCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Read-time report over a state (or any partial) table rolled up to
    * `keepCols`: n, and per value column sum/min/max/avg as DOUBLES on a
    * 4dp grid (H2). */
  def report(state: DataFrame, keepCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val merged = merge(Seq(state), keepCols, valueCols)
    valueCols.foldLeft(merged) { (df, v) =>
      // avg derives from the EXACT decimal sum over the NON-NULL count
      // (SQL AVG; `n` would be wrong for nullable columns), and only then
      // does each output round independently (rounding the sum first would
      // feed a 4dp-truncated numerator into the average). An all-NULL
      // group averages to NULL — the `when` also keeps ANSI mode from
      // raising on the /0.
      df.withColumn(s"avg_$v",
          when(col(cntCol(v)) > 0,
            round((col(sumCol(v)) / col(cntCol(v))).cast("double"), 4)))
        .withColumn(sumCol(v), round(col(sumCol(v)).cast("double"), 4))
    }
  }

  /** Seed with batch-era state ([[aggTable]] over history), written as
    * `v0` so batch 0 folds onto it. */
  def seedState(table: DataFrame, stateDir: String): Unit =
    VersionedState.seed(table, stateDir)

  /** The loop's current rollup table (None until seeded or run). */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.latest(spark, stateDir)

  /** One micro-batch fold — exposed for direct replay tests. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   groupCols: Seq[String], valueCols: Seq[String],
                                   stateDir: String): Unit = {
    val batchTable = aggTable(batch, groupCols, valueCols)
    VersionedState.commit(batch.sparkSession, stateDir, batchId) { prior =>
      Some(prior.fold(batchTable)(p => merge(Seq(p, batchTable), groupCols, valueCols)))
    }
  }

  /** Start the incremental-rollup loop over `stream`. */
  def run(stream: DataFrame, groupCols: Seq[String], valueCols: Seq[String],
          stateDir: String, checkpointDir: String,
          trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, groupCols, valueCols, stateDir))
}
