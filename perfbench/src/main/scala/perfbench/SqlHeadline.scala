package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.Catalog

/** The 12 headline query shapes of `graft.Bench.suite` over generated
  * TPC-H-like tables, with predicate constants drawn from the seed. One
  * operation is one query, collected; a unit is one pass over the 12. Each
  * result must equal the result of the same query in a vanilla session. */
final class SqlHeadline extends Workload {
  private var queries: Seq[(String, String)] = Nil
  private var expected: Map[String, Seq[Row]] = Map.empty
  private var vanilla: SparkSession = _
  private var vanillaPasses = Seq.empty[Double]

  private def sf(ctx: Ctx): Double = if (ctx.tiny) 0.002 else 0.1

  def gen(ctx: Ctx): Unit = {
    Gen.writeTables(ctx.spark, ctx.inputPath("tables"), ctx.seed, sf(ctx))
    queries = SqlHeadline.queries(Gen.sqlConstants(ctx.seed))
  }

  def register(ctx: Ctx): Unit = Catalog.register(ctx.spark, ctx.inputPath("tables"))

  /** The reference results: the same queries in a `newSession()` with
    * Spark's default optimizer settings over plain parquet views. */
  override def prepare(ctx: Ctx): Unit = {
    vanilla = ctx.spark.newSession()
    SqlHeadline.sparkDefaults.foreach { case (k, v) => vanilla.conf.set(k, v) }
    Catalog.tableNames.foreach { t =>
      vanilla.read.parquet(s"${ctx.inputPath("tables")}/$t.parquet").createOrReplaceTempView(t)
    }
    expected = runVanilla()._1
  }

  private def runVanilla(): (Map[String, Seq[Row]], Double) = {
    var total = 0.0
    val rows = queries.map { case (name, q) =>
      val t0 = System.nanoTime()
      val r = vanilla.sql(SqlHeadline.vanillaSql(q)).collect().toSeq
      total += (System.nanoTime() - t0) / 1e9
      name -> r
    }.toMap
    (rows, total)
  }

  def unit(ctx: Ctx): Seq[OpRecord] = {
    val tr = ctx.tr
    queries.zipWithIndex.map { case ((name, q), i) =>
      ctx.attempt(name) {
        val df = tr.span("sql", "spark")(ctx.spark.sql(q))
        val rows = tr.span("collect", "spark")(df.collect().toSeq)
        if (ctx.perturbNow && i == 0) rows.drop(1) else rows
      } { rows =>
        if (rows == expected(name)) None
        else Some(s"$name: ${rows.size} rows differ from the vanilla result (${expected(name).size} rows)")
      }
    }
  }

  /** A warm vanilla pass, for graft's latency relative to vanilla Spark. */
  override def substeps(ctx: Ctx): Unit = vanillaPasses :+= runVanilla()._2

  def vanillaPassS: Option[Double] =
    if (vanillaPasses.isEmpty) None else Some(Workload.median(vanillaPasses))

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val ts = ops.map(_.seconds)
    Seq(("pass_s", Workload.unitSeconds(ops), "s"),
      ("query_p50_s", Workload.median(ts), "s"),
      ("query_p90_s", Workload.percentile(ts, 0.9), "s"))
  }
}

object SqlHeadline {
  /** Spark's defaults for the optimizer settings graft changes. */
  val sparkDefaults: Seq[(String, String)] = Seq(
    "spark.sql.cbo.enabled" -> "false",
    "spark.sql.cbo.joinReorder.enabled" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "true")

  private def replaceOnce(q: String, from: String, to: String): String = {
    require(q.contains(from), s"query shape changed: '$from' not found")
    q.replace(from, to)
  }

  def queries(c: Gen.SqlConstants): Seq[(String, String)] =
    graft.Bench.suite.map {
      case (n @ "q_agg_tpch1", q) => n -> replaceOnce(q, "'1998-09-02 00:00:00'", s"'${c.shipCutoff} 00:00:00'")
      case (n @ "q_join3_topk", q) => n -> replaceOnce(q, "'BUILDING'", s"'${c.segment}'")
      case (n @ "q_join5", q) => n -> replaceOnce(q, "'ASIA'", s"'${c.region}'")
      case (n @ "q_json", q) => n -> replaceOnce(q, "'$.k'", s"'$$.${c.jsonKey}'")
      case other => other
    }

  /** graft's native `cosine_sim` spelled with Spark's built-in higher-order
    * functions (graft.ops.VectorOps.cosine, bit-identical to the native). */
  def vanillaSql(q: String): String = {
    def norm(v: String) = s"sqrt(aggregate(transform($v, x -> cast(x as double) * cast(x as double)), 0D, (acc, x) -> acc + x))"
    val dot = "aggregate(zip_with(p.embedding, g.embedding, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, x) -> acc + x)"
    val den = s"(${norm("p.embedding")} * ${norm("g.embedding")})"
    q.replace("cosine_sim(p.embedding, g.embedding)",
      s"(case when $den = 0D then double('NaN') else $dot / $den end)")
  }
}
