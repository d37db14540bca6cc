package graft.ops

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** fastText/DCLM-style quality classifier with zero external deps: a
  * logistic regression over HASHED unigram+bigram text features, trained
  * by distributed batch gradient descent and scored in one narrow pass —
  * the modern curation stack's learned filter (train on "reference-like"
  * positives vs random-crawl negatives, gate the corpus on the score).
  *
  * Scale posture: TRAINING runs on the labeled sample (classifier
  * training sets are small — e.g. a few million docs — because labels
  * are the scarce input; each iteration is one map pass + a
  * `treeAggregate` of a dense `dim+1` gradient, the canonical Spark LR
  * shape, with the weight vector broadcast per iteration). SCORING is
  * the 100 TB side: a stateless per-partition pass with the model
  * broadcast once — no shuffle, no state, linear in corpus bytes.
  *
  * Determinism: feature hashing is MurmurHash3 over UTF-8 (stable across
  * JVMs and runs); training sums float gradients in partition order, so
  * two runs over different layouts can differ in final ulps — specs pin
  * separation quality and scoring determinism under a FIXED model, not
  * bitwise weight equality across layouts.
  */
object LinearClassifier {

  /** Trained model: `weights(dim)` + bias. */
  final case class Model(weights: Array[Float], bias: Float) {
    def dim: Int = weights.length

    /** Compact persistence form (dim:int, bias:float, weights). */
    def toBytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + 4 * weights.length)
      bb.putInt(weights.length).putFloat(bias)
      weights.foreach(bb.putFloat)
      bb.array()
    }
  }

  object Model {
    def fromBytes(b: Array[Byte]): Model = {
      val bb = java.nio.ByteBuffer.wrap(b)
      val d = bb.getInt
      require(d > 0 && b.length == 8 + 4L * d, s"corrupt model bytes (dim=$d)")
      val bias = bb.getFloat
      val w = Array.fill(d)(bb.getFloat)
      Model(w, bias)
    }
  }

  private def sigmoid(z: Double): Double =
    if (z >= 0) 1.0 / (1.0 + math.exp(-z))
    else { val e = math.exp(z); e / (1.0 + e) }

  /** Hashed unigram+bigram counts of a lowercased whitespace
    * tokenization, L2-style normalized (`count/√total`): with mostly
    * distinct grams the per-example squared feature norm is ~1
    * REGARDLESS of document length, so one gradient step moves every
    * example's logit by O(lr·err) — the conditioning that lets plain
    * batch GD converge in tens of iterations (the L1 spelling's
    * ~1/total values needed hundreds). */
  private[graft] def featurize(text: String, dim: Int): Array[(Int, Float)] = {
    if (text == null) return Array.empty
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return Array.empty
    val counts = new scala.collection.mutable.HashMap[Int, Float]
    def add(s: String): Unit = {
      val i = math.floorMod(MurmurHash3.stringHash(s, 0x5EED), dim)
      counts.update(i, counts.getOrElse(i, 0f) + 1f)
    }
    toks.foreach(add)
    var k = 0
    while (k < toks.length - 1) { add(toks(k) + " " + toks(k + 1)); k += 1 }
    val scale = (1.0 / math.sqrt(2.0 * toks.length - 1.0)).toFloat
    counts.iterator.map { case (i, c) => (i, c * scale) }.toArray
  }

  /** Train on `(text, label∈{0,1})` rows. Batch gradient descent with L2;
    * runs `iters` cluster jobs at call time. `init` WARM-STARTS from a
    * prior model (the maintenance posture shared with `pageRankWarm`:
    * when new labels arrive, continue the descent from the converged
    * weights instead of re-paying the full iteration budget — logistic
    * loss is convex, so the warm path descends toward the same optimum
    * from a nearer point). */
  def train(docs: DataFrame, text: Column, label: Column,
            dim: Int = 1 << 17, iters: Int = 30, lr: Double = 1.0,
            l2: Double = 1e-6, init: Option[Model] = None): Model = {
    require(dim > 0 && iters >= 1 && lr > 0)
    init.foreach(m => require(m.dim == dim,
      s"init model dim ${m.dim} != requested dim $dim — hashed features " +
        "are dim-specific, a resized warm start would scatter them"))
    val spark = docs.sparkSession
    val data = docs.select(text.cast("string").as("t"), label.cast("double").as("y"))
      .where(col("t").isNotNull && col("y").isin(0.0, 1.0))
      .rdd.map(r => (featurize(r.getString(0), dim), r.getDouble(1)))
      .filter(_._1.nonEmpty)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    require(n > 0, "no labeled rows to train on")
    val w = init.map(_.weights.map(_.toDouble)).getOrElse(new Array[Double](dim))
    var b = init.map(_.bias.toDouble).getOrElse(0.0)
    var it = 0
    while (it < iters) {
      val bw = spark.sparkContext.broadcast(w)
      val bb = b
      val (grad, gradB) = data.treeAggregate((new Array[Double](dim), 0.0))(
        seqOp = { case ((g, gb), (feats, y)) =>
          val wv = bw.value
          var z = bb
          feats.foreach { case (i, v) => z += wv(i) * v }
          val err = sigmoid(z) - y
          feats.foreach { case (i, v) => g(i) += err * v }
          (g, gb + err)
        },
        combOp = { case ((g1, gb1), (g2, gb2)) =>
          var i = 0
          while (i < g1.length) { g1(i) += g2(i); i += 1 }
          (g1, gb1 + gb2)
        },
        depth = 2)
      bw.destroy()
      var i = 0
      while (i < dim) { w(i) -= lr * (grad(i) / n + l2 * w(i)); i += 1 }
      b -= lr * (gradB / n)
      it += 1
    }
    data.unpersist(blocking = false)
    Model(w.map(_.toFloat), b.toFloat)
  }

  /** Score every row: `(id, score)` with score = P(label=1) ∈ (0,1).
    * One stateless per-partition pass, model broadcast once; null/empty
    * text scores at `sigmoid(bias)` (the prior), never errors. */
  def score(docs: DataFrame, id: Column, text: Column, model: Model): DataFrame = {
    val spark = docs.sparkSession
    val bm = spark.sparkContext.broadcast(model)
    val in = SkewOps.fanOutScan(docs)
      .select(id.cast("long").as("doc_id"), text.cast("string").as("t"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("score", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    in.mapPartitions { rows =>
      val m = bm.value
      rows.map { r =>
        Row(if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          scoreText(m, if (r.isNullAt(1)) null else r.getString(1)))
      }
    }(enc)
  }

  /** One text's score under `m` — the scoring [[score]] maps over rows. */
  private[graft] def scoreText(m: Model, text: String): Double = {
    var z = m.bias.toDouble
    featurize(text, m.dim).foreach { case (i, v) => z += m.weights(i) * v }
    sigmoid(z)
  }

  /** Held-out EVALUATION over a labeled `(text, label∈{0,1})` frame: the
    * confusion matrix and derived metrics at every threshold in `grid` —
    * the calibration evidence a production gate needs BEFORE a
    * `classifierFloor` is chosen (train on one side of a
    * [[graft.api.Pipelines.splitWeighted]] split, evaluate on the other,
    * then pick the floor whose precision/recall trade-off the curation
    * budget wants). Returns `(threshold, tp, fp, tn, fn, precision,
    * recall, accuracy, f1)` ordered by threshold; precision/recall/f1
    * are null where their denominator is 0 (no predicted / no actual
    * positives) rather than an arbitrary 0 or 1.
    *
    * Shape: ONE stateless scoring pass (model broadcast once, same as
    * [[score]]), then each scored row fans out to the |grid| thresholds
    * and a map-side-combined hash agg reduces to |grid| rows — no
    * per-threshold re-scan, one exchange of grid-scale data. Rows with
    * a null/other label are ignored; null text scores at the prior,
    * exactly as the production gate treats it. */
  def evaluate(docs: DataFrame, text: Column, label: Column, model: Model,
               grid: Seq[Double] = (1 to 19).map(_ / 20.0)): DataFrame = {
    require(grid.nonEmpty, "empty threshold grid")
    val spark = docs.sparkSession
    val bm = spark.sparkContext.broadcast(model)
    val in = docs.select(text.cast("string").as("t"), label.cast("double").as("y"))
      .where(col("y").isin(0.0, 1.0))
    val schema = StructType(Seq(
      StructField("y", DoubleType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val scored = in.mapPartitions { rows =>
      val m = bm.value
      rows.map { r =>
        val feats = featurize(if (r.isNullAt(0)) null else r.getString(0), m.dim)
        var z = m.bias.toDouble
        feats.foreach { case (i, v) => z += m.weights(i) * v }
        Row(r.getDouble(1), sigmoid(z))
      }
    }(enc)
    val pos = col("score") >= col("threshold")
    val cnt = (c: Column) => sum(when(c, 1L).otherwise(0L))
    scored
      .select(col("y"), col("score"),
        explode(array(grid.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(
        cnt(pos && col("y") === 1.0).as("tp"),
        cnt(pos && col("y") === 0.0).as("fp"),
        cnt(!pos && col("y") === 0.0).as("tn"),
        cnt(!pos && col("y") === 1.0).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("tn"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        ((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("tn") + col("fn"))).as("accuracy"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn")))
          .as("f1"))
      .orderBy("threshold")
  }

  /** [[calibrateFloor]]'s result: the model it calibrated, the chosen
    * gate floor, and its held-out operating point — hand it to
    * [[graft.api.Pipelines.curate]]'s `classifierCalibration` so the
    * funnel audit records WHY the gate runs where it runs. */
  final case class CalibratedFloor(model: Model, floor: Double,
                                   precision: Double, recall: Double,
                                   f1: Double, targetPrecision: Double)

  /** Pick the `classifierFloor` a production gate should run at: the
    * LOWEST [[evaluate]] grid threshold whose held-out precision meets
    * `targetPrecision`. Lowest is the right pick because recall is
    * non-increasing in the threshold — this is the most-recall
    * operating point inside the precision budget (the curation
    * trade-off: precision says how clean the kept corpus is, recall how
    * much good data survives). Train on one side of a
    * [[graft.api.Pipelines.splitWeighted]] split and calibrate on the
    * OTHER — calibrating on training rows overstates precision.
    *
    * Fails loudly when the held-out slice carries no positive labels
    * (nothing to measure recall against) or when NO grid threshold
    * reaches the target (an uncalibratable gate must not silently run
    * at an arbitrary point); thresholds with undefined precision (zero
    * predicted positives) never qualify. One scoring pass + one
    * grid-scale agg ([[evaluate]]'s shape), grid-scale collect. */
  def calibrateFloor(heldOut: DataFrame, text: Column, label: Column,
                     model: Model, targetPrecision: Double,
                     grid: Seq[Double] = (1 to 19).map(_ / 20.0)): CalibratedFloor = {
    require(targetPrecision > 0.0 && targetPrecision <= 1.0,
      s"targetPrecision must be in (0, 1], got $targetPrecision")
    val curve = evaluate(heldOut, text, label, model, grid).collect()
    require(curve.nonEmpty && curve.head.getLong(1) + curve.head.getLong(4) > 0,
      "calibrateFloor: held-out slice has no positive-labeled rows — " +
        "nothing to calibrate against")
    curve.find(r => !r.isNullAt(5) && r.getDouble(5) >= targetPrecision) match {
      case Some(r) => CalibratedFloor(model, r.getDouble(0), r.getDouble(5),
        r.getDouble(6), r.getDouble(8), targetPrecision)
      case None =>
        val best = curve.filter(!_.isNullAt(5)).map(_.getDouble(5))
          .maxOption.getOrElse(Double.NaN)
        throw new IllegalArgumentException(
          s"calibrateFloor: no grid threshold reaches precision " +
            s">= $targetPrecision on the held-out slice (best $best) — " +
            "the model cannot run this gate; retrain or lower the target")
    }
  }

  /** Gate rows on the learned score IN PLACE — schema untouched, one
    * stateless typed filter with the model broadcast once. Works
    * unchanged on a STREAMING DataFrame (no ids needed, no join, no
    * state operators — the streaming twin of the batch
    * [[graft.api.Pipelines.classifierFilter]], same posture as the LM
    * gate's `lmFilter`). Null/featureless text scores at the prior. */
  def filterByScore(docs: DataFrame, text: Column, model: Model,
                    floor: Double): DataFrame = {
    val bm = docs.sparkSession.sparkContext.broadcast(model)
    val withT = docs.withColumn("__cls_text", text.cast("string"))
    val ti = withT.columns.length - 1
    withT.filter { (r: Row) =>
      val m = bm.value
      val feats = featurize(if (r.isNullAt(ti)) null else r.getString(ti), m.dim)
      var z = m.bias.toDouble
      feats.foreach { case (i, v) => z += m.weights(i) * v }
      sigmoid(z) >= floor
    }.drop("__cls_text")
  }
}
