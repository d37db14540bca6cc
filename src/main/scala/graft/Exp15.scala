package graft

import org.apache.spark.sql.functions._

/** Round-15 optimization experiment harness (diagnosis tooling, not part of
  * the driver contract): time the 12 headline queries under alternative
  * session/catalog configurations in a fresh JVM per mode, so variants can
  * be compared without cross-contaminating catalog state.
  *
  * Usage: runMain graft.Exp15 <mode>   (base | cbo | shj | fan | fanshj | all)
  */
object Exp15 {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "base"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.engine.Graft.cpus

    val spark = graft.engine.Graft.session(s"graft-exp15-$mode")
    if (mode.contains("cbo") || mode == "all") {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      if (!mode.contains("nr"))
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    }
    if (mode.contains("shj") || mode == "all")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")

    val fan = mode.contains("fan") || mode == "all"
    val analyzed = mode.contains("cbo") || mode.contains("stats") || mode == "all"
    graft.sources.Catalog.tableNames.foreach { n =>
      if (analyzed) {
        val keyCols: Map[String, Seq[String]] = Map(
          "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment"),
          "orders"   -> Seq("o_orderkey", "o_custkey"),
          "lineitem" -> Seq("l_orderkey", "l_shipdate", "l_returnflag", "l_linestatus"),
          "nation"   -> Seq("n_nationkey", "n_regionkey"),
          "region"   -> Seq("r_regionkey", "r_name"))
        graft.sources.Catalog.registerAnalyzed(spark, n, s"$sfDir/$n.parquet",
          analyzeColumns =
            if (mode.contains("cols")) keyCols.getOrElse(n, Nil) else Nil)
      } else {
        val df0 = graft.sources.Catalog.load(spark, sfDir, n)
        val df = if (fan && Seq("lineitem", "orders", "events").contains(n))
          df0.repartition(cpus.toInt) else df0
        df.createOrReplaceTempView(n)
      }
    }

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val results = Bench.suite.map { case (name, sql) =>
      spark.sql(sql).collect() // warm
      val xs = Seq.fill(5) {
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e9
      }
      name -> median(xs)
    }
    println(s"EXP15 mode=$mode total=${results.map(_._2).sum}")
    results.foreach { case (n, v) => println(f"EXP15 $n%-24s $v%.3f") }
    spark.stop()
  }
}
