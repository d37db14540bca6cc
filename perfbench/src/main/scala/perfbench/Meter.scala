package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for the `spark` layer, taken from Spark's public listener APIs:
  * a SparkListener (jobs, stages, tasks, task metrics, busy intervals), a
  * QueryExecutionListener (planning phases and execution time per action)
  * and a StreamingQueryListener (per-batch durations). All counters are
  * cumulative; callers take snapshots and subtract. */
final class Meter extends SparkListener with QueryExecutionListener {

  private val c = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // (launch, finish) wall-clock millis of every finished task.
  private val busy = ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(add("stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_b", m.inputMetrics.bytesRead.toDouble)
      add("output_b", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    add("plan_ms", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum)
    add("exec_ms", durationNs / 1e6)
    add("queries", 1)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(add("query_failures", 1))

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized {
        val d = e.progress.durationMs.asScala
        if (e.progress.numInputRows > 0) {
          add("add_batch_ms", d.get("addBatch").map(_.toDouble).getOrElse(0.0))
          add("wal_ms", Seq("walCommit", "commitOffsets").flatMap(d.get).map(_.toDouble).sum)
          add("batches", 1)
        }
      }
  }

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  /** Milliseconds inside [from, to] during which at least one task ran. */
  def busyMs(from: Long, to: Long): Double = synchronized {
    val iv = busy.iterator.filter { case (s, e) => e > from && s < to }
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }.toArray.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(spark: SparkSession): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }
}

object Meter {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap

  /** Total JVM garbage-collection time so far, seconds. */
  def jvmGcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak heap use since JVM start, MB (sum of the heap pools' peaks). */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  /** Peak resident set size of this process, MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) heapPeakMb()
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(heapPeakMb())
      finally src.close()
    }
  }
}

/** One traced interval. `op` groups the spans of one operation; `kind` is
  * "op" for the measured operations and "substep" for the extra calls a
  * traced run makes to split an operation by layer. */
final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String,
                      layer: String, startNs: Long, endNs: Long,
                      counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, every call just runs its body; the
  * spans are written out once, when the run ends. */
final class Tracer(spark: () => SparkSession, meter: Meter) {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var nextOp = 0
  private var curOp = -1
  private var curKind = "op"

  private def counters(): Map[String, Double] = {
    BusDrain(spark().sparkContext)
    meter.snapshot() + ("jvm_gc_s" -> Meter.jvmGcS()) + ("wall_ms" -> System.currentTimeMillis().toDouble)
  }

  /** A root span: one operation (kind "op") or one substep. */
  def op[A](name: String, kind: String = "op")(body: => A): A = {
    if (!enabled) body
    else {
      curOp = nextOp; nextOp += 1; curKind = kind
      try span(name, "bench")(body) finally curOp = -1
    }
  }

  def span[A](name: String, layer: String)(body: => A): A = {
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = counters()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = System.nanoTime()
        val c1 = counters()
        val d = Meter.delta(c0, c1)
        val gap = {
          val w0 = c0("wall_ms").toLong; val w1 = c1("wall_ms").toLong
          if (w1 > w0) 1.0 - meter.busyMs(w0, w1) / (w1 - w0) else 0.0
        }
        spans += Span(id, parent, curOp, curKind, name, layer, t0, t1,
          (d - "wall_ms") + ("driver_gap_frac" -> gap))
      }
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1)))).json
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
