package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` of every bench entry (headline suite +
  * extras) to `<outDir>/<name>_<tag>.txt` — the optimization-round evidence
  * artifact (plans/rNN/). Diagnosis tooling like [[XProbe]], not part of
  * the driver contract.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [namePrefix,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only: Option[Seq[String]] = if (args.length > 2) Some(args(2).split(",").toSeq) else None
    Files.createDirectories(Paths.get(outDir))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = graft.engine.Graft.session("graft-plandump")
    graft.sources.Catalog.register(spark, sfDir)
    def keep(n: String) = only.forall(ps => ps.exists(n.startsWith))
    def write(name: String, plan: String): Unit = {
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"wrote $outDir/${name}_$tag.txt")
    }
    Bench.suite.filter(t => keep(t._1)).foreach { case (name, sql) =>
      val df = spark.sql(sql)
      df.collect() // executed plan (AQE final) is what the file should show
      write(name, df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    Bench.extras(spark).filter(t => keep(t._1)).foreach { case (name, thunk) =>
      val df = thunk()
      df.collect()
      write(name, df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
