package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The byte-sized gate for compact tables that a caller cuts anyway: the
  * cut's own job counts its rows (`observe`), and rows × row width is
  * compared with `spark.sql.autoBroadcastJoinThreshold`. A relation small
  * enough to broadcast is small enough to hold on the driver, so one gate
  * serves both the broadcast hint of `Pipelines.curate`'s id sets and the
  * driver regime of [[DedupOps.connectedComponents]]. No option of its
  * own: the session's broadcast threshold is the budget. */
private[graft] object SizeGate {

  /** A cut frame, the values observed in its job (the row count first,
    * then the caller's `extra` aggregates, in order) and whether its
    * estimated bytes fit the broadcast threshold. `metrics` is None when
    * the job reported no observation (then `fits` is false). */
  final case class Cut(df: DataFrame, metrics: Option[Row], fits: Boolean)

  /** The session's broadcast threshold in bytes; -1 when broadcasting is
    * switched off (any negative setting). */
  def threshold(spark: SparkSession): Long = {
    val conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    if (conf.startsWith("-")) -1L
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
  }

  /** Materialize `df` once with `localCheckpoint`, counting its rows (and
    * evaluating `extra`) in that same job. The estimate is rows × (8 +
    * the schema's default row size), the row-width rule the planner's
    * own size estimates use. */
  def cut(df: DataFrame, extra: Column*): Cut = {
    val observed = df.observe("__cut_rows", count(lit(1)), extra: _*)
    val cut = observed.localCheckpoint()
    val metrics = observed.queryExecution.observedMetrics.get("__cut_rows")
    val limit = threshold(df.sparkSession)
    val fits = metrics.exists(_.getLong(0) * (8L + df.schema.defaultSize) <= limit)
    Cut(cut, metrics, fits)
  }
}
