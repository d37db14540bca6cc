package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession lifecycle + engine configuration for graft.
  *
  * Session-level hazards (SURVEY.md §2.5) are centralized here so every
  * entry point (SQL, DataFrame API, MR facade, streaming, verify, bench)
  * sees the same semantics:
  *
  *  - H1: `events.ts` is parquet TIMESTAMP(NANOS); Spark 4 refuses to read
  *    it without `spark.sql.legacy.parquet.nanosAsLong=true` (the column
  *    then surfaces as LongType and graft.sources.Catalog rewrites it).
  *  - Timestamp literals must parse as TIMESTAMP_NTZ and the session zone
  *    must be UTC for cross-engine (DuckDB-oracle) parity.
  *  - AQE on: runtime partition coalescing + skew-join splitting is part of
  *    the 100 TB posture (local bench barely exercises it, a cluster does).
  *  - Generated-class cache sized to graft's working set
  *    ([[codegenCacheEntries]]). Spark keeps compiled Janino classes in an
  *    LRU cache capped by `spark.sql.codegen.cache.maxEntries` (default
  *    100). One `curate` pass (LM gate, near-dup canonicalization, fuzzy
  *    decontamination: 76 jobs, 16 queries) needs about 300 distinct
  *    classes and one `DedupLoop` + `NearDupLoop` micro-batch more than
  *    100, and both revisit them cyclically, so at 100 entries nearly every
  *    lookup missed: every class was recompiled on every pass (341
  *    compilations per `curate` pass, 114 per micro-batch), then re-JITted
  *    by HotSpot, and each new class deoptimized already-compiled Catalyst
  *    code. Without eviction a whole run needs about 406 (`curate`) and 250
  *    (streaming folds) distinct classes; with the sized cache a pass
  *    compiles 17 (`curate`) and 4 (micro-batch), and process CPU per
  *    operation fell 29% (`curate`) and 24% (micro-batch) on 4 vCPUs.
  *    The conf is static and the cache JVM-global: it is sized once, by the
  *    session whose conf is active at the JVM's first code generation. A
  *    session graft did not build — or one `getOrCreate` returned already
  *    built — keeps Spark's 100-entry cache; [[configure]] cannot change it.
  *    Measured and rejected: `spark.sql.codegen.useIdInClassName=false`
  *    halves the remaining compilations (408 → 206) but gave no CPU gain
  *    over the sized cache alone.
  */
object Graft {

  /** Runtime (session) confs — also safe to apply to an externally-created
    * session via [[configure]]. Static confs (the codegen cache size) stay
    * out: `spark.conf.set` throws on them. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone"           -> "UTC",
    "spark.sql.timestampType"              -> "TIMESTAMP_NTZ",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled"           -> "true",
    // Round 15 (guide §3.1, §7.2): plan-time costing from catalog stats.
    // Catalog.register now ANALYZEs its fixture tables, and CBO turns
    // those row counts into join build-side/order decisions BEFORE the
    // first exchange is scheduled — the file-size path broadcast the
    // 600k-row lineitem side of q_join3/q_join5 (33 MiB hashed relation
    // built on the driver per run) while the 3k-row filtered side
    // streamed; with stats the small side broadcasts (q_join3 0.90→0.47 s,
    // q_join5 0.95→0.61 s, sf0.1). No stats ⇒ CBO falls back to the old
    // size-only estimates, so non-analyzed sources are unaffected.
    "spark.sql.cbo.enabled"                -> "true",
    "spark.sql.cbo.joinReorder.enabled"    -> "true",
    // Guide §3.1/§9: when a shuffle join is needed and one side's per-
    // partition build fits, a shuffled-hash join skips both sort passes;
    // sort-merge stays available for the spill-safe cases (planner still
    // checks size conditions before choosing SHJ).
    "spark.sql.join.preferSortMergeJoin"   -> "false",
  )

  /** Entries in Spark's JVM-global generated-class cache: the measured
    * working sets above plus headroom for larger pipelines. Static conf —
    * set by [[session]]'s builder only. */
  val codegenCacheEntries: Int = 2000

  /** Parallelism: the bench machine exposes 32 cores; shuffle partitions are
    * sized to cores for local mode (never the 200 default). On a real
    * cluster this is a deploy-time knob (or left to AQE coalescing). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Apply graft's runtime confs to an existing session (e.g. one handed to
    * us by a driver harness). Idempotent. Also ensures the native functions
    * exist even when the session was built without graft's extensions. */
  def configure(spark: SparkSession): SparkSession = {
    sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark
  }

  /** Build a local session with graft defaults (incl. the native-function
    * extension seam — cosine_sim/dot_f32 in the FunctionRegistry). */
  def session(appName: String = "graft", master: String = s"local[$cpus]"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
    sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark) // in case getOrCreate returned a pre-existing session
  }
}
