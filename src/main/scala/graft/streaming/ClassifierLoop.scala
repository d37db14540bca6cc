package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.ops.LinearClassifier

/** Streaming maintenance for the learned quality gate
  * ([[graft.ops.LinearClassifier]]): fold arriving LABELED batches into
  * a continuously-retrained model — the [[RankLoop]] posture applied to
  * the classifier (state = the model, store = the labeled sample,
  * warm rounds ≪ cold rounds).
  *
  * Per micro-batch: the `(text, label)` rows append to `labelDir`
  * (labeled samples are the scarce, PRECIOUS input — they are kept, not
  * consumed, so every retrain sees the full history and the model never
  * forgets an earlier failure mode the way training on only the new
  * batch would), then the model WARM-STARTS from the persisted weights
  * and runs `iterations` gradient rounds over the accumulated store.
  * Logistic loss is convex: the warm path descends toward the same
  * optimum the cold run would reach, from a nearer point — so a few
  * rounds per batch track the moving optimum as labels accumulate.
  * Output after batch b is EXACTLY `train(store so far, init = prior,
  * iters)` — deterministic given partition-order-stable sums, and
  * content-replayable under checkpoint recovery ([[FoldLoop]]'s
  * replace-version commit). Node-scale state: `dim+1` floats, one
  * binary row per version.
  *
  * [[currentModel]] hands the live model to the serving side
  * ([[graft.ops.LinearClassifier.filterByScore]] on a stream, or the
  * batch `classifierFilter`) — retraining and gating are decoupled, the
  * lambda-architecture shape a production filter runs.
  */
object ClassifierLoop {

  private val stateSchema = StructType(Seq(
    StructField("model", BinaryType, nullable = false)))

  /** The latest maintained model (None until a batch ran). */
  def currentModel(spark: SparkSession,
                   stateDir: String): Option[LinearClassifier.Model] =
    VersionedState.latest(spark, stateDir, Some(stateSchema)).map(modelOf)

  private def modelOf(state: DataFrame): LinearClassifier.Model =
    LinearClassifier.Model.fromBytes(state.head().getAs[Array[Byte]](0))

  /** One micro-batch fold — exposed for direct replay tests. */
  private[streaming] def foldBatch(batch: DataFrame, batchId: Long,
                                   textCol: String, labelCol: String,
                                   stateDir: String, labelDir: String,
                                   dim: Int, iterations: Int): Unit = {
    val spark = batch.sparkSession
    val rows = batch.select(col(textCol).cast("string").as("t"),
      col(labelCol).cast("double").as("y"))
      .where(col("t").isNotNull && col("y").isin(0.0, 1.0))
      .localCheckpoint()
    rows.write.mode(SaveMode.Overwrite).parquet(s"$labelDir/batch=$batchId")
    val store = spark.read.parquet(labelDir)
    VersionedState.commit(spark, stateDir, batchId, Some(stateSchema)) { state =>
      val prior = state.map(modelOf)
      prior.foreach(m => require(m.dim == dim,
        s"persisted model dim ${m.dim} != configured dim $dim"))
      val model = LinearClassifier.train(store, col("t"), col("y"),
        dim = dim, iters = iterations, init = prior)
      Some(spark.createDataFrame(java.util.List.of(Row(model.toBytes)), stateSchema))
    }
  }

  /** Start the retrain loop over a labeled stream carrying `textCol` +
    * `labelCol` (0.0/1.0). `iterations` is the per-batch warm budget
    * (a handful suffices — the prior weights already sit near the
    * optimum of the slightly-smaller store). */
  def run(stream: DataFrame, textCol: String, labelCol: String,
          stateDir: String, labelDir: String, checkpointDir: String,
          dim: Int = 1 << 17, iterations: Int = 5,
          trigger: Option[Trigger] = None): StreamingQuery =
    FoldLoop.start(stream, checkpointDir, trigger)(
      foldBatch(_, _, textCol, labelCol, stateDir, labelDir, dim, iterations))
}
