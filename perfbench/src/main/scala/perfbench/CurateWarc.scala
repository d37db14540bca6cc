package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Pipelines
import graft.ops.{DedupOps, TextOps, Warc}

/** The product path: WARC archives → main-content extraction → `curate`
  * (quality + language gate, LM gate, near-dup canonicalization, exact and
  * fuzzy decontamination). One operation takes the WARC bytes in and
  * collects the curated ids and the audit. */
final class CurateWarc extends Workload {
  private val lmFloor = -8.0
  private val threshold = 0.8
  private var corpus: Gen.Corpus = _
  private var archives: DataFrame = _
  private var eval: DataFrame = _
  private var firstIds: Option[Vector[Long]] = None

  def gen(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Gen.corpus(ctx.seed, nBase = if (ctx.tiny) 60 else 400)
    // Archive synthesis is input generation: the WARC bytes are the input.
    Warc.syntheticArchives(corpus.docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(ctx.inputPath("archives"))
    corpus.eval.toDF("text").write.mode("overwrite").parquet(ctx.inputPath("eval"))
  }

  def register(ctx: Ctx): Unit = {
    archives = ctx.spark.read.parquet(ctx.inputPath("archives"))
    eval = ctx.spark.read.parquet(ctx.inputPath("eval"))
  }

  private def documents(): DataFrame =
    Pipelines.warcMainDocuments(archives, col("asset_id"), col("payload"))
      .select(col("asset_id").as("doc_id"), col("text"))

  def unit(ctx: Ctx): Seq[OpRecord] = {
    val tr = ctx.tr
    Seq(ctx.attempt("curate") {
      val docs = tr.span("warcMainDocuments", "api")(documents())
      val res = tr.span("curate", "api")(Pipelines.curate(docs,
        lmScoreFloor = Some(lmFloor), evalSet = Some(eval), fuzzyEval = Some(threshold)))
      val ids = tr.span("collect_curated", "spark")(
        res.curated.select("doc_id").collect().map(_.getLong(0)).sorted.toVector)
      val audit = tr.span("collect_audit", "spark")(
        res.audit.orderBy("stage_no").select("stage", "n_docs").collect()
          .map(r => (r.getString(0), r.getLong(1))).toVector)
      (if (ctx.perturbNow) ids.tail else ids, audit)
    } { case (ids, audit) => check(ctx, ids, audit) })
  }

  private def check(ctx: Ctx, ids: Vector[Long], audit: Vector[(String, Long)]): Option[String] = {
    val n = corpus.docs.size
    val keep = ids.toSet
    // Near-dup detection is banded LSH with a 0.9 recall floor, so up to a
    // tenth of the planted pairs and of the paraphrased eval pages may slip.
    val bothKept = corpus.planted.count { case (a, b) => keep(a) && keep(b) }
    val leaked = corpus.contaminated.count(keep)
    ctx.record("curate.keep_frac", ids.size.toDouble / n)
    val first = firstIds.getOrElse { firstIds = Some(ids); ids }
    if (ids.isEmpty) Some("no survivors")
    else if (ids != first) Some(s"survivor set changed: ${ids.size} vs ${first.size} ids")
    else if (audit.headOption.map(_._2) != Some(n.toLong))
      Some(s"audit input ${audit.headOption} != $n extracted documents")
    else if (audit.zip(audit.drop(1)).exists { case (a, b) => b._2 > a._2 })
      Some(s"audit count increases: $audit")
    else if (bothKept > 0.1 * corpus.planted.size)
      Some(s"$bothKept of ${corpus.planted.size} planted near-dup pairs both survive (recall floor 0.9)")
    else if (corpus.gibberishIds.exists(keep)) Some("a gibberish page passed the LM gate")
    else if (leaked > 0.1 * corpus.contaminated.size)
      Some(s"$leaked of ${corpus.contaminated.size} eval-contaminated pages survived (recall floor 0.9)")
    else None
  }

  /** Calls the steps `curate` composes, one by one on the same input, so a
    * traced run can split the job by layer without tracing inside graft. */
  override def substeps(ctx: Ctx): Unit = {
    val tr = ctx.tr
    val (id, text) = (col("doc_id"), col("text"))
    tr.op("curate_substeps", kind = "substep") {
      val docs = tr.span("warcMainDocuments", "api")(documents().localCheckpoint())
      val model = tr.span("ngramModel", "ops")(TextOps.ngramModelBytes(TextOps.ngramModel(docs, text)))
      tr.span("lm_score", "functions")(
        docs.select(TextOps.lmScore(text, model).getField("score").as("s")).agg(sum("s")).collect())
      val pairs = tr.span("nearDuplicates", "api")(
        Pipelines.nearDuplicates(docs, id, text, threshold).select("d1", "d2").localCheckpoint())
      tr.span("connectedComponents", "ops")(DedupOps.connectedComponents(pairs).collect())
      tr.span("canonicalDocs", "api")(Pipelines.canonicalDocs(docs, id, text, threshold).collect())
      tr.span("fuzzyContaminatedDocs", "api")(
        Pipelines.fuzzyContaminatedDocs(docs, id, text, eval, text, threshold).collect())
    }
  }

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    Seq(("job_s", Workload.medianOf(ops, "curate"), "s"))
}
