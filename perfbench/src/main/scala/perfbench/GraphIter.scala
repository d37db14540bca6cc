package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, GraphOps}

/** Iterative graph kernels over a seeded power-law graph with string node
  * ids: PageRank and HITS (5 iterations each) and connected components.
  * One operation is one kernel, collected; a unit is one of each. */
final class GraphIter extends Workload {
  private val iterations = 5
  private var edges: DataFrame = _
  private var labels: Map[String, String] = Map.empty
  private var firstRanks: Option[Seq[(String, Long)]] = None
  private var pr1 = Seq.empty[Double]

  def gen(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val e = if (ctx.tiny) Gen.graph(ctx.seed, 200, 600, 20) else Gen.graph(ctx.seed, 4000, 16000, 300)
    labels = Gen.componentLabels(e)
    e.toDF("src", "dst").write.mode("overwrite").parquet(ctx.inputPath("edges"))
  }

  def register(ctx: Ctx): Unit = edges = ctx.spark.read.parquet(ctx.inputPath("edges"))

  private def pageRank(n: Int): Seq[(String, Long)] =
    GraphOps.pageRank(edges, "src", "dst", iterations = n).select("node", "r")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

  def unit(ctx: Ctx): Seq[OpRecord] = {
    val tr = ctx.tr
    val pr = ctx.attempt("pagerank") {
      val r = tr.span("pageRank", "ops")(GraphOps.pageRank(edges, "src", "dst", iterations = iterations))
      val rows = tr.span("collect", "spark")(
        r.select("node", "r").collect().map(x => (x.getString(0), x.getLong(1))).sortBy(_._1).toSeq)
      if (ctx.perturbNow) rows.updated(0, (rows.head._1, rows.head._2 + 1)) else rows
    } { ranks =>
      val first = firstRanks.getOrElse { firstRanks = Some(ranks); ranks }
      if (ranks != first) Some("exact-integer PageRank did not repeat bit for bit")
      else if (ranks.size != labels.size) Some(s"${ranks.size} ranked nodes, graph has ${labels.size}")
      else None
    }
    val hits = ctx.attempt("hits") {
      val h = tr.span("hits", "ops")(GraphOps.hits(edges, "src", "dst", iterations = iterations))
      tr.span("collect", "spark")(
        h.select("hub", "auth").collect().map(x => (x.getDouble(0), x.getDouble(1))).toSeq)
    } { hs =>
      val (hub, auth) = (hs.map(_._1).sum, hs.map(_._2).sum)
      if (hs.size != labels.size) Some(s"HITS scored ${hs.size} nodes, graph has ${labels.size}")
      else if (hs.exists { case (a, b) => !(a >= 0 && b >= 0) }) Some("negative or NaN HITS score")
      else if (math.abs(hub - 1) > 1e-6 || math.abs(auth - 1) > 1e-6) Some(s"HITS not L1-normalised: $hub, $auth")
      else None
    }
    val cc = ctx.attempt("cc") {
      val l = tr.span("connectedComponents", "ops")(
        DedupOps.connectedComponents(edges.select(col("src").as("d1"), col("dst").as("d2"))))
      tr.span("collect", "spark")(l.collect().map(r => (r.getString(0), r.getString(1))).toMap)
    } { got =>
      if (got == labels) None
      else Some(s"CC labels differ from union-find on ${(got.toSet diff labels.toSet).size} nodes")
    }
    Seq(pr, hits, cc)
  }

  /** One-iteration PageRank: with the 5-iteration time it separates the
    * per-iteration cost from the fixed prelude. */
  override def substeps(ctx: Ctx): Unit =
    ctx.tr.op("pagerank_1", kind = "substep") {
      val t0 = System.nanoTime()
      ctx.tr.span("pageRank", "ops")(pageRank(1))
      pr1 :+= (System.nanoTime() - t0) / 1e9
    }

  def iterSeconds(pagerankS: Double): Double =
    if (pr1.isEmpty) 0.0 else (pagerankS - Workload.median(pr1)) / (iterations - 1)

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    Seq(("pagerank_s", Workload.medianOf(ops, "pagerank"), "s"),
      ("hits_s", Workload.medianOf(ops, "hits"), "s"),
      ("cc_s", Workload.medianOf(ops, "cc"), "s"))
}
