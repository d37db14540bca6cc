package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One attempted operation: a public graft call (or chain of calls) whose
  * result was collected and checked. `cpuSeconds` is the CPU time the whole
  * JVM used meanwhile (driver, tasks, JIT and GC threads). */
final case class OpRecord(name: String, seconds: Double, cpuSeconds: Double, ok: Boolean,
                          note: String = "")

/** Everything one benchmark run shares. */
final class Ctx(val workload: String, val seed: Long, val tiny: Boolean,
                val perturb: Boolean, val root: Path, val cores: Int) {
  var spark: SparkSession = _
  /** Generated inputs, written once per run. */
  val input: Path = root.resolve(s"work/$workload/input")
  /** Work directory of the current set-up repetition. */
  var dir: Path = _
  val meter = new Meter
  val tr = new Tracer(() => spark, meter)
  /** Workload-specific per-layer values (means over what they measure). */
  val layer: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** 1-based index of the measured unit running (0 during warm-up). */
  var measuredUnit = 0

  def record(key: String, v: Double): Unit =
    layer.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def path(name: String): String = dir.resolve(name).toString
  def inputPath(name: String): String = input.resolve(name).toString

  /** Runs one checked operation; an exception or a failed check counts as a
    * failure. `check` returns None when the result is right. */
  def attempt[A](name: String)(body: => A)(check: A => Option[String]): OpRecord = {
    val (t0, c0) = (System.nanoTime(), Ctx.processCpuNs())
    val r = try Right(tr.op(name)(body)) catch { case e: Exception => Left(e) }
    val (secs, cpu) = ((System.nanoTime() - t0) / 1e9, (Ctx.processCpuNs() - c0) / 1e9)
    r match {
      case Left(e) => OpRecord(name, secs, cpu, ok = false, s"exception: ${e.toString.take(300)}")
      case Right(v) =>
        val bad = try check(v) catch { case e: Exception => Some(s"check threw: ${e.toString.take(300)}") }
        OpRecord(name, secs, cpu, bad.isEmpty, bad.getOrElse(""))
    }
  }

  /** True during the first measured unit of a perturbed run. */
  def perturbNow: Boolean = perturb && measuredUnit == 1
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  def processCpuNs(): Long = os match {
    case x: com.sun.management.OperatingSystemMXBean => x.getProcessCpuTime
    case _ => 0L
  }
}

/** A benchmark workload. A unit is the workload's closed-loop step: the
  * next unit starts only when the previous one has completed. */
trait Workload {
  /** Generate the inputs under `ctx.input`; runs once per run. */
  def gen(ctx: Ctx): Unit
  /** Register the inputs with graft and build whatever state the workload
    * starts from, under the fresh directory `ctx.dir`. This is graft's
    * set-up cost; it runs in a fresh session several times per run. */
  def register(ctx: Ctx): Unit
  /** One-off work after the last set-up that is not graft's set-up cost. */
  def prepare(ctx: Ctx): Unit = ()
  def unit(ctx: Ctx): Seq[OpRecord]
  /** Extra traced calls that split a unit by layer (traced runs only). */
  def substeps(ctx: Ctx): Unit = ()
  /** End-of-run checks. */
  def finish(ctx: Ctx): Seq[OpRecord] = Nil
  /** Stop what the set-up started, before the session stops. */
  def teardown(ctx: Ctx): Unit = ()
  /** The workload's own named end-to-end metrics: (name, value, unit). */
  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)]
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "curate_warc" -> (() => new CurateWarc),
    "sql_headline" -> (() => new SqlHeadline),
    "stream_fold" -> (() => new StreamFold),
    "graph_iter" -> (() => new GraphIter))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Sum over operation names of each name's median time: one unit's time
    * with per-operation noise damped. */
  def unitSeconds(ops: Seq[OpRecord], time: OpRecord => Double = _.seconds): Double =
    ops.groupBy(_.name).values.map(g => median(g.map(time))).sum

  def medianOf(ops: Seq[OpRecord], name: String): Double =
    median(ops.filter(_.name == name).map(_.seconds))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}
