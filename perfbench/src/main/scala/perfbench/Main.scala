package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.engine.Graft

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --out <result.json> --root <work dir> [--tiny] [--perturb]`.
  *
  * Inputs are generated once; graft's set-up (session start, registering
  * the inputs) runs several times and reports its median. Warm-up units
  * follow, then units run back to back inside a `--seconds` window (at
  * least one unit). With `--trace 1`
  * the units alternate between traced (listeners attached, spans recorded)
  * and untraced, and the run reports per-layer numbers instead of the
  * end-to-end ones. */
object Main {

  /** The per-layer metrics every traced run reports, zero where a layer is
    * not exercised by the workload. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.driver_gap_frac" -> "ratio", "spark.plan_ms" -> "ms", "sql.exec_ms" -> "ms",
    "sql.vanilla_ratio" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "engine.session_s" -> "s", "sources.register_s" -> "s", "gen_s" -> "s",
    "self.api_s" -> "s", "self.ops_s" -> "s", "self.functions_s" -> "s",
    "self.streaming_s" -> "s", "self.sources_s" -> "s", "self.spark_s" -> "s",
    "trace.unattributed_frac" -> "ratio", "trace_overhead_frac" -> "ratio",
    "warc.extract_s" -> "s", "functions.lm_score_s" -> "s", "dedup.pairs_s" -> "s",
    "dedup.cc_s" -> "s", "dedup.cc_jobs" -> "count", "dedup.canonical_s" -> "s",
    "decontam_s" -> "s", "curate.keep_frac" -> "ratio",
    "sources.state_write_mb" -> "MB", "sources.write_amp" -> "ratio",
    "stream.add_batch_ms" -> "ms", "stream.wal_ms" -> "ms",
    "graph.iter_s" -> "s")

  private val layers = Seq("api", "ops", "functions", "streaming", "sources", "spark")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val name = opt("workload")
    val wl = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name: ${Workload.all.keys.mkString(", ")}"))()
    val trace = opt.getOrElse("trace", "0") == "1"
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val root = Paths.get(opt("root")).toAbsolutePath
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val ctx = new Ctx(name, opt("seed").toLong, flags("tiny"), flags("perturb"), root, cores)

    val host = Host.fingerprint(cores)
    val idleWait = Host.waitIdle(cores, if (ctx.tiny) 0.0 else 3.0)

    // Inputs are generated once; graft's set-up (a fresh session plus
    // registering the inputs) runs at least three times, and up to seven
    // while the repeats (the first pays the cold JVM) stay under 2 s in all,
    // so a cheap set-up still gets a steady median. The last one is kept.
    val sessionS = ArrayBuffer.empty[Double]
    val registerS = ArrayBuffer.empty[Double]
    var genS = 0.0
    def moreSetups = {
      val r = sessionS.size
      if (ctx.tiny) r < 1
      else r < 3 || (r < 7 && sessionS.zip(registerS).drop(1).map { case (a, b) => a + b }.sum < 2.0)
    }
    while (moreSetups) {
      val r = sessionS.size + 1
      if (ctx.spark != null) {
        wl.teardown(ctx); ctx.spark.stop(); Workload.deleteTree(ctx.dir)
      }
      ctx.dir = root.resolve(s"work/$name/setup$r")
      Workload.deleteTree(ctx.dir); Files.createDirectories(ctx.dir)
      val t0 = System.nanoTime()
      ctx.spark = Graft.session("perfbench", s"local[$cores]")
      val t1 = System.nanoTime()
      if (r == 1) { Workload.deleteTree(ctx.input); wl.gen(ctx); genS = (System.nanoTime() - t1) / 1e9 }
      val t2 = System.nanoTime()
      wl.register(ctx)
      sessionS += (t1 - t0) / 1e9
      registerS += (System.nanoTime() - t2) / 1e9
    }
    val setupS = Workload.median(sessionS.zip(registerS).map { case (a, b) => a + b }.toSeq)
    val prepT0 = System.nanoTime()
    wl.prepare(ctx)
    val prepS = (System.nanoTime() - prepT0) / 1e9

    // Warm-up: at least one unit and 14 s. Operations keep getting faster
    // for a while (JIT); a cheap unit needs more than one to get there.
    val warm = ArrayBuffer.empty[OpRecord]
    var lastWarmS = 0.0
    while (warm.isEmpty || (!ctx.tiny && warm.map(_.seconds).sum < 14.0)) {
      val u = wl.unit(ctx)
      warm ++= u
      lastWarmS = u.map(_.seconds).sum
    }
    val warmS = warm.map(_.seconds).sum
    val settleS = Host.settle(if (ctx.tiny) 0.0 else 2.0)
    val measured = ArrayBuffer.empty[(Boolean, Seq[OpRecord])]
    val cpu0 = Host.cpuTimes()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastS = lastWarmS
    // Units run back to back while the next one, judged by the last one,
    // still ends inside the window; at least one. A traced run orders its
    // units untraced, traced, traced, untraced (repeating), at least four,
    // so a trend over the run cancels out of the tracing overhead.
    while (measured.size < (if (trace) 4 else 1) || elapsed + lastS <= seconds) {
      val traced = trace && (measured.size % 4 == 1 || measured.size % 4 == 2)
      ctx.measuredUnit = measured.size + 1
      val u0 = elapsed
      if (traced) { ctx.meter.attach(ctx.spark); ctx.tr.enabled = true }
      val ops = try wl.unit(ctx) finally if (traced) { ctx.tr.enabled = false; ctx.meter.detach(ctx.spark) }
      measured += ((traced, ops))
      lastS = elapsed - u0
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val stealFrac = Host.stealFrac(cpu0, Host.cpuTimes())
    if (trace) {
      ctx.meter.attach(ctx.spark); ctx.tr.enabled = true
      try wl.substeps(ctx) finally { ctx.tr.enabled = false; ctx.meter.detach(ctx.spark) }
    }
    val finT0 = System.nanoTime()
    val finals = wl.finish(ctx)
    val finishS = (System.nanoTime() - finT0) / 1e9
    val ops = measured.flatMap(_._2).toSeq
    val all = warm ++ ops ++ finals
    val failed = all.count(!_.ok)
    all.filterNot(_.ok).take(5).foreach(o => System.err.println(s"FAILED ${o.name}: ${o.note}"))
    val loadAfter = Host.loadPerCore(cores)
    wl.teardown(ctx)

    val rss = Meter.peakRssMb()
    val named = wl.named(ops) ++ Seq(("unit_s", Workload.unitSeconds(ops), "s"),
      ("setup_s", setupS, "s"), ("peak_rss_mb", rss, "MB"),
      ("failed_frac", failed.toDouble / all.size, "ratio"))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("unit_cpu_s", Workload.unitSeconds(ops, _.cpuSeconds), "s"),
        ("setup_s", setupS, "s"), ("peak_rss_mb", rss, "MB"))
      else {
        val traced = measured.filter(_._1).flatMap(_._2).toSeq
        val untraced = measured.filterNot(_._1).flatMap(_._2).toSeq
        val extra = Map(
          "engine.session_s" -> Workload.median(sessionS.toSeq),
          "sources.register_s" -> Workload.median(registerS.toSeq),
          "gen_s" -> genS,
          "jvm.heap_peak_mb" -> Meter.heapPeakMb(),
          "trace_overhead_frac" -> (Workload.unitSeconds(traced) / Workload.unitSeconds(untraced) - 1)) ++
          (wl match {
            case s: SqlHeadline => s.vanillaPassS.map(v => "sql.vanilla_ratio" -> Workload.unitSeconds(untraced) / v)
            case g: GraphIter => Some("graph.iter_s" -> g.iterSeconds(Workload.medianOf(traced, "pagerank")))
            case _ => None
          })
        val values = layerMetrics(ctx) ++ extra
        ctx.tr.writeJsonl(root.resolve(s"traces/$name-seed${ctx.seed}.spans.jsonl"))
        perLayer.map { case (k, u) => (k, values.get(k).filterNot(_.isNaN).getOrElse(0.0), u) }
      }

    println(s"host ${Json.obj(host.toSeq ++ Seq("idle_wait_s" -> idleWait,
      "load1_per_core_after" -> loadAfter, "steal_frac_measured" -> stealFrac)).json}")
    println(s"run workload=$name seed=${ctx.seed} setups=${sessionS.size} units=${measured.size} " +
      s"ops=${all.size} failed=$failed")
    println(s"phases gen_s=$genS session_s=${sessionS.mkString(",")} register_s=${registerS.mkString(",")} " +
      s"prepare_s=$prepS warmup_s=$warmS settle_s=$settleS measure_s=$measureS finish_s=$finishS")
    println(s"ops ${all.map(o => f"${o.name}=${o.seconds}%.3f/${o.cpuSeconds}%.3fcpu").mkString(" ")}")
    (named ++ (if (trace) metrics else Nil)).foreach { case (k, v, u) => println(s"metric $k $v $u") }
    val result = Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) })))
    Files.createDirectories(Paths.get(opt("out")).toAbsolutePath.getParent)
    Files.write(Paths.get(opt("out")), (result.json + "\n").getBytes("UTF-8"))
    ctx.spark.stop()
    Workload.deleteTree(root.resolve(s"work/$name"))
  }

  /** Per-operation means over the traced operations, from their spans. */
  private def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val spans = ctx.tr.spans.toSeq
    val byOp = spans.groupBy(_.op)
    val roots = spans.filter(s => s.parent == -1 && s.kind == "op")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(f: Span => Double) = mean(roots.map(f))
    def c(k: String, scale: Double = 1.0)(s: Span) = s.counters.getOrElse(k, 0.0) * scale
    val selfs = roots.map { r =>
      val ss = byOp(r.op)
      val childSum = ss.groupBy(_.parent).map { case (p, ch) => p -> ch.map(_.seconds).sum }
      val self = ss.filter(_.parent != -1).map(s => s.layer -> (s.seconds - childSum.getOrElse(s.id, 0.0)))
      (layers.map(l => l -> self.filter(_._1 == l).map(_._2).sum).toMap,
        (r.seconds - childSum.getOrElse(r.id, 0.0)) / r.seconds)
    }
    val sub = spans.filter(_.kind == "substep")
    def subS(n: String) = mean(sub.filter(s => s.name == n && s.parent != -1).map(_.seconds))
    def subJobs(n: String) = mean(sub.filter(s => s.name == n && s.parent != -1).map(c("jobs")))
    val base = Map(
      "spark.jobs" -> perOp(c("jobs")), "spark.stages" -> perOp(c("stages")),
      "spark.tasks" -> perOp(c("tasks")), "spark.task_s" -> perOp(c("task_ms", 1e-3)),
      "spark.task_cpu_s" -> perOp(c("task_cpu_ns", 1e-9)), "spark.gc_s" -> perOp(c("gc_ms", 1e-3)),
      "spark.shuffle_read_mb" -> perOp(c("shuffle_read_b", 1e-6)),
      "spark.shuffle_write_mb" -> perOp(c("shuffle_write_b", 1e-6)),
      "spark.spill_mb" -> perOp(c("spill_b", 1e-6)), "spark.input_mb" -> perOp(c("input_b", 1e-6)),
      "spark.output_mb" -> perOp(c("output_b", 1e-6)),
      "spark.driver_gap_frac" -> perOp(c("driver_gap_frac")),
      "spark.plan_ms" -> perOp(c("plan_ms")), "sql.exec_ms" -> perOp(c("exec_ms")),
      "stream.add_batch_ms" -> perOp(c("add_batch_ms")), "stream.wal_ms" -> perOp(c("wal_ms")),
      "jvm.gc_s" -> perOp(c("jvm_gc_s")),
      "trace.unattributed_frac" -> mean(selfs.map(_._2)),
      "warc.extract_s" -> subS("warcMainDocuments"), "functions.lm_score_s" -> subS("lm_score"),
      "dedup.pairs_s" -> subS("nearDuplicates"), "dedup.cc_s" -> subS("connectedComponents"),
      "dedup.cc_jobs" -> subJobs("connectedComponents"), "dedup.canonical_s" -> subS("canonicalDocs"),
      "decontam_s" -> subS("fuzzyContaminatedDocs"))
    val self = layers.map(l => s"self.${l}_s" -> mean(selfs.map(_._1(l)))).toMap
    base ++ self ++ ctx.layer.map { case (k, v) => k -> mean(v.toSeq) }
  }
}

/** Host fingerprint and the bounded wait for an idle host. */
object Host {
  def loadPerCore(cores: Int): Double = {
    val f = Paths.get("/proc/loadavg")
    if (!Files.exists(f)) -1.0
    else new String(Files.readAllBytes(f)).trim.split("\\s+")(0).toDouble / cores
  }

  def fingerprint(cores: Int): Map[String, Any] = Map(
    "cores" -> cores,
    "host_cpus" -> Runtime.getRuntime.availableProcessors(),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
    "load1_per_core_before" -> loadPerCore(cores))

  /** Lets the warm-up's lazy work finish before timing starts: a full
    * garbage collection, then a wait, for at most `maxS` seconds, until the
    * JIT compiler has been idle for half a second. Returns the time taken. */
  def settle(maxS: Double): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      var last = jit.getTotalCompilationTime
      var quiet = 0
      while (quiet < 2 && elapsed < maxS) {
        Thread.sleep(250)
        val now = jit.getTotalCompilationTime
        quiet = if (now == last) quiet + 1 else 0
        last = now
      }
    }
    elapsed
  }

  /** Jiffies of all CPUs from /proc/stat: user, nice, system, idle,
    * iowait, irq, softirq, steal, ... */
  def cpuTimes(): Option[Array[Long]] = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f)).linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong))
  }

  private def busyTotal(v: Array[Long]): (Long, Long) =
    (v.sum - v(3) - (if (v.length > 4) v(4) else 0L), v.sum)

  /** Share of CPU time the hypervisor gave to other guests in between. */
  def stealFrac(a: Option[Array[Long]], b: Option[Array[Long]]): Double = (a, b) match {
    case (Some(x), Some(y)) if x.length > 7 && y.sum > x.sum => (y(7) - x(7)).toDouble / (y.sum - x.sum)
    case _ => 0.0
  }

  /** Waits, for at most `maxS` seconds, until the host's busy CPUs over a
    * quarter second fall below half a core. Returns the time waited. */
  def waitIdle(cores: Int, maxS: Double): Double = {
    val t0 = System.nanoTime()
    val hostCpus = Runtime.getRuntime.availableProcessors()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var idle = false
    while (!idle && elapsed < maxS) {
      (cpuTimes().map(busyTotal), { Thread.sleep(250); cpuTimes().map(busyTotal) }) match {
        case (Some((b0, t0j)), Some((b1, t1j))) if t1j > t0j =>
          idle = (b1 - b0).toDouble / (t1j - t0j) * hostCpus < 0.5
        case _ => idle = true
      }
    }
    elapsed
  }
}
