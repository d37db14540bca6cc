package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** The ad-hoc diagnosis driver: run selected bench entries — headline
  * [[Bench.suite]] queries or [[Bench.extras]] — in isolation with the
  * bench's median-of-N protocol, after warm runs until two consecutive
  * ones agree within 10% (at most 5). Per name it prints the median
  * wall seconds, the number of warm runs, the median shuffle read/write
  * MB ([[ShuffleMeter]]) and the median analysis / optimization /
  * planning ms that Spark's own `QueryPlanningTracker` recorded for each
  * timed run. The phases are those of the entry's final DataFrame:
  * actions an entry runs while building it (an iterative loop's
  * checkpoints) are in the seconds and the shuffle bytes but not in the
  * phase times. Diagnosis tooling, outside the `SparkEntry` contract;
  * [[PlanDump]] is its plan-text twin.
  *
  * Usage: runMain graft.XProbe <name[,name...]> [samples]
  * (the scale directory comes from SPARK_GRAFT_SF_DIR, as for [[Bench]])
  */
object XProbe {
  private val phases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
  private val maxWarm = 5

  def main(args: Array[String]): Unit = {
    val suite = Bench.suite.toMap
    // Every extra is pinned in extraReference, so its keys name the
    // extras without building their fixtures (which needs a session).
    val extraNames = Bench.extraReference.keySet
    val names = args.headOption.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val samples = args.lift(1).fold(5)(_.toIntOption.getOrElse(0))
    val unknown = names.filterNot(n => suite.contains(n) || extraNames(n))
    if (names.isEmpty || unknown.nonEmpty || args.length > 2 || samples < 1) {
      if (unknown.nonEmpty) System.err.println(s"unknown name(s): ${unknown.mkString(",")}")
      System.err.println("usage: runMain graft.XProbe <name[,name...]> [samples >= 1]")
      System.err.println(s"suite: ${Bench.suite.map(_._1).mkString(",")}")
      System.err.println(s"extras: ${extraNames.toSeq.sorted.mkString(",")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = graft.engine.Graft.session("graft-xprobe")
    graft.sources.Catalog.register(spark, sfDir)
    lazy val extras = Bench.extras(spark).toMap
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    names.foreach { name =>
      val thunk: () => DataFrame = suite.get(name) match {
        case Some(sql) => () => spark.sql(sql)
        case None => extras(name)
      }
      val t0 = System.nanoTime()
      val rows = thunk().collect() // first warm run + result echo
      println(s"XPROBE $name first-run ${rows.length} rows: " +
        rows.take(5).map(_.toString).mkString("; "))
      // Warm until two consecutive runs agree within 10% (at most
      // maxWarm runs), so the timed median does not depend on how much
      // JIT warm-up the entries before this one left behind.
      var last = (System.nanoTime() - t0) / 1e9
      var warm = 1
      var settled = false
      while (!settled && warm < maxWarm) {
        val t = System.nanoTime()
        thunk().collect()
        val s = (System.nanoTime() - t) / 1e9
        settled = math.abs(s - last) <= 0.1 * math.max(s, last)
        last = s
        warm += 1
      }
      val timed = Seq.fill(samples) {
        ShuffleMeter.measure(spark) {
          val t0 = System.nanoTime()
          val df = thunk()
          df.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          val tracked = df.queryExecution.tracker.phases
          (wall, phases.map(p => tracked(p).durationMs.toDouble))
        }
      }
      val (runs, reads, writes) = timed.unzip3
      val ts = runs.map(_._1)
      val phaseMs = phases.indices.map(i => f"${phases(i)} ${median(runs.map(_._2(i)))}%.0f ms")
      println(f"XPROBE $name median ${median(ts)}%.3f s (samples ${ts.map(t => f"$t%.3f").mkString(",")}, warm runs $warm) " +
        f"shuffle read ${median(reads)}%.1f MB written ${median(writes)}%.1f MB " +
        phaseMs.mkString(" "))
    }
    spark.stop()
  }
}
