package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A file-prunable predicate on one stats column. Values go through
  * `lit(...)`, so use the column's external type
  * (Int/Long/Double/String/java.sql.Timestamp/...). */
sealed trait FilePredicate { def column: String }

/** Closed interval bounds; an open side is `None`. */
final case class ColumnBounds(column: String, lo: Option[Any], hi: Option[Any])
  extends FilePredicate

/** IN-list membership: a file survives if ANY listed value could fall in
  * its [min, max] — point lookups and small key sets prune as sharply as
  * ranges on a sorted layout. */
final case class ColumnPoints(column: String, values: Seq[Any]) extends FilePredicate {
  require(values.nonEmpty, "empty IN-list prunes everything — express that explicitly")
}

/** Manifest-style FILE-LEVEL statistics pruning — the planning-time skip
  * that parquet's own row-group stats cannot give. Stock Spark prunes a
  * file's row groups only AFTER scheduling a task and reading its footer;
  * at 100 TB (~a million files) a selective scan is therefore
  * scheduler-bound even when almost every file is irrelevant. A manifest
  * of per-file `min/max/null-count` — the same idea as a Delta/Iceberg
  * transaction-log manifest — lets the driver drop files BEFORE any task
  * exists: a range probe on a sorted or z-ordered layout schedules a
  * handful of tasks instead of a million.
  *
  * The manifest is one row per file, built in ONE distributed pass
  * (group-by `input_file_name`, map-side combined — never a footer loop
  * on the driver). Pruning collects the manifest to the driver: that list
  * is exactly what any Spark scan's file index already materializes, so
  * it is driver-safe by the same argument.
  *
  * Exactness is by construction, not by trust in the stats: a file
  * survives unless its stats PROVE no row can match (`max < lo` or
  * `min > hi`; missing/all-null stats keep the file), and [[prunedRead]]
  * re-applies the row-level predicate to the survivors.
  *
  * Staleness guard, like [[Maintenance]] (both walk through the Hadoop
  * `FileSystem` API via [[LakeFs]], so `file:`/`hdfs://`/`s3a://`
  * locations all work): a manifest describes one immutable snapshot of
  * the directory; [[prunedRead]] refuses to plan from a manifest whose
  * file set no longer matches the directory (a file added or compacted
  * away after [[collect]] would otherwise be silently skipped — the
  * failure mode transaction logs exist to prevent). File identity is the
  * NORMALIZED FULL PATH ([[LakeFs.normPath]]), never the basename: one
  * dynamic-partition write emits identical `part-NNNNN-<uuid>` basenames
  * into every partition subdirectory, so basename joins silently
  * cross-multiply manifest rows on `batch=N/...` layouts. Note an
  * UN-persisted manifest is lazily
  * re-evaluated by Spark and so re-lists the directory at use time —
  * always fresh, never stale; [[writeManifest]] is what turns it into
  * the durable snapshot the guard protects.
  */
object FileStats {

  private def minCol(c: String) = s"min_$c"
  private def maxCol(c: String) = s"max_$c"
  private def nullCol(c: String) = s"n_null_$c"

  /** The one manifest-building aggregation — shared by [[collect]] and
    * [[update]] so the two can never diverge on the manifest schema. */
  private def statsOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one stats column required")
    cols.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        min(col(c)).as(minCol(c)),
        max(col(c)).as(maxCol(c)),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(nullCol(c))))
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-file stats manifest for `cols` over the parquet table at `dir`:
    * `(file, n_rows, min_<c>, max_<c>, n_null_<c> ...)`. One distributed
    * aggregation pass over the data. ZERO-ROW parquet files (Spark writes
    * one schema-bearing empty part file when an empty frame is saved —
    * e.g. an all-duplicates [[graft.streaming.DedupLoop]] batch) produce
    * no group under `input_file_name`, so they are synthesized in from
    * the directory listing as `n_rows = 0` rows with null min/max —
    * every on-disk file is represented, which is what [[prunedRead]]'s
    * staleness check requires. */
  def collect(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    withAllFiles(spark, statsOf(spark.read.parquet(dir), cols),
      walkParquet(dir), cols)

  /** Full-outer-join `stats` against the file listing so files the
    * aggregation never saw (zero rows) still get a manifest row. The
    * join is on the NORMALIZED FULL PATH (`input_file_name` yields
    * `file:///x`-style URIs while the Hadoop walk yields `file:/x` —
    * [[LakeFs.normPath]] reconciles the spellings): basenames are NOT
    * unique across partition subdirectories, so a basename join would
    * cross-multiply manifest rows on a partitioned layout. */
  private def withAllFiles(spark: SparkSession, stats: DataFrame,
                           paths: Seq[String], cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val listed = paths.toDF("__disk_file")
    val outCols: Seq[Column] =
      coalesce(col("file"), col("__disk_file")).as("file") +:
      coalesce(col("n_rows"), lit(0L)).as("n_rows") +:
      cols.flatMap(c => Seq(
        col(minCol(c)), col(maxCol(c)),
        coalesce(col(nullCol(c)), lit(0L)).as(nullCol(c))))
    stats.join(listed,
        normPathCol(col("file")) === normPathCol(col("__disk_file")), "full_outer")
      .select(outCols: _*)
  }

  /** Column twin of [[LakeFs.normPath]] — keep the two rules identical. */
  private def normPathCol(c: Column): Column =
    regexp_replace(regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:", ""), "^/+", "/")

  /** 60-bit md5-prefix hash of a normalized path — the XOR-foldable
    * set fingerprint [[prunedRead]]'s staleness check compares. The
    * driver twin ([[pathHash]]) and this column MUST stay identical:
    * both take the first 15 hex chars of md5(UTF-8 path). 15 digits
    * keep the value under 2^60, inside Long for both sides' parsers. */
  private def pathHashCol(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver twin of [[pathHashCol]] over a normalized path string. */
  private def pathHash(p: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(p.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Incrementally extend a manifest after files were APPENDED to `dir`:
    * stat ONLY the files the manifest doesn't cover and union them in —
    * history is never re-scanned, so keeping the manifest current costs
    * O(new data), the property that makes a stats log viable at 100 TB
    * (re-collecting over the whole table would cost a full scan per
    * append). Files REMOVED from the directory are not handled here —
    * that's a rewrite (compact/zorder), after which [[collect]] over the
    * new directory is the honest move. */
  def update(spark: SparkSession, dir: String, manifest: DataFrame,
             cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one stats column required")
    val known = manifest.select("file").collect()
      .map(r => LakeFs.normPath(r.getString(0))).toSet
    val gone = known -- diskPaths(dir)
    require(gone.isEmpty,
      s"${gone.size} manifest file(s) no longer on disk — the directory was " +
        "rewritten, not appended; re-run FileStats.collect")
    val newPaths = walkParquet(dir).filterNot(p => known.contains(LakeFs.normPath(p)))
    if (newPaths.isEmpty) manifest
    else manifest.unionByName(withAllFiles(spark,
      statsOf(spark.read.parquet(newPaths: _*), cols), newPaths, cols))
  }

  /** Does `manifest` still describe `dir` exactly (same file set)? The
    * boolean form of [[prunedRead]]'s staleness guard, for maintenance
    * loops ([[graft.streaming.UpsertLoop]]) that must decide
    * repair-vs-proceed instead of throwing: a crash inside an upsert's
    * swap window leaves a manifest that names files the swap deleted,
    * and planning from it would fail on the missing files. */
  def isFresh(spark: SparkSession, dir: String, manifest: DataFrame): Boolean = {
    val (nDisk, diskXor) = probeDiskFingerprint(dir)
    val (mRows, mDistinct, mXor, _) = probeManifestAgg(manifest, Nil)
    mRows == mDistinct && mRows == nDisk.toLong && mXor == diskXor
  }

  /** The stats columns a manifest carries, recovered from its schema —
    * the `c` of every complete `(min_c, max_c, n_null_c)` triple. Lets
    * maintenance ops ([[Maintenance.upsert]]) refresh a manifest without
    * being told which columns it was collected over. */
  def statsColumns(manifest: DataFrame): Seq[String] = {
    val names = manifest.columns.toSet
    manifest.columns.toSeq.collect {
      case n if n.startsWith("min_") &&
        names.contains("max_" + n.stripPrefix("min_")) &&
        names.contains("n_null_" + n.stripPrefix("min_")) => n.stripPrefix("min_")
    }
  }

  /** Manifest maintenance for a TARGETED FILE REWRITE
    * ([[Maintenance.upsert]]'s copy-on-write swap): drop the rows of
    * `removedPaths`, stat ONLY `addedPaths` and union them in. Costs
    * O(rewritten data) — history outside the touched files is never
    * re-scanned, the same property [[update]] gives appends. Path
    * identity is the normalized full path on both sides, as everywhere
    * in the manifest layer. */
  def rewrite(spark: SparkSession, manifest: DataFrame, removedPaths: Seq[String],
              addedPaths: Seq[String], cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val kept =
      if (removedPaths.isEmpty) manifest
      else manifest.join(removedPaths.toDF("__rm"),
        normPathCol(col("file")) === normPathCol(col("__rm")), "left_anti")
    if (addedPaths.isEmpty) kept
    else kept.unionByName(withAllFiles(spark,
      statsOf(spark.read.parquet(addedPaths: _*), cols), addedPaths, cols))
  }

  /** Persist a manifest (tiny; one row per data file). */
  def writeManifest(manifest: DataFrame, path: String): Unit =
    manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  def readManifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** File survives unless stats prove emptiness; unknown (null) stats are
    * conservative — the file stays. A `n_rows = 0` file (synthesized by
    * [[collect]]/[[update]] for empty part files) is provably empty and
    * always drops. */
  private def survives(preds: Seq[FilePredicate]): Column =
    ((col("n_rows") > lit(0L)) +: preds.flatMap {
      case b: ColumnBounds =>
        b.lo.map(v => coalesce(col(maxCol(b.column)) >= lit(v), lit(true))) ++
        b.hi.map(v => coalesce(col(minCol(b.column)) <= lit(v), lit(true)))
      case p: ColumnPoints =>
        Seq(p.values.map(v => coalesce(
            col(minCol(p.column)) <= lit(v) && col(maxCol(p.column)) >= lit(v),
            lit(true)))
          .reduce(_ || _))
    }).reduce(_ && _)

  /** The row-level predicate the pruning stands in for — re-applied to
    * survivors so file-granularity skipping can never change results. */
  def residual(preds: Seq[FilePredicate]): Column =
    preds.flatMap {
      case b: ColumnBounds =>
        b.lo.map(v => col(b.column) >= lit(v)) ++
        b.hi.map(v => col(b.column) <= lit(v))
      case p: ColumnPoints =>
        Seq(col(p.column).isin(p.values: _*))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** The files a pruned scan would read — exposed for planning audits. */
  def prunedFiles(manifest: DataFrame, preds: Seq[FilePredicate]): Seq[String] =
    manifest.where(survives(preds)).select("file")
      .collect().map(_.getString(0)).toSeq.sorted

  /** The parquet data files under `dir` — fully-qualified scheme-carrying
    * paths via ONE Hadoop [[LakeFs.listFiles]] walk, so `file:`, `hdfs://`
    * and `s3a://` locations all work. Files under underscore/dot-prefixed
    * directories are skipped — Spark's reader hides those (e.g. a sibling
    * `_stats` manifest dir), so neither the manifest nor the staleness
    * comparison may see them. */
  private def walkParquet(dir: String): Seq[String] =
    LakeFs.listFiles(dir, skipHiddenDirs = true)
      .collect { case (p, _) if p.endsWith(".parquet") => p }

  /** Normalized full paths currently on disk ([[LakeFs.normPath]]
    * reconciles `file:///x` vs `file:/x` vs bare `/x` spellings). */
  private def diskPaths(dir: String): Set[String] =
    walkParquet(dir).map(LakeFs.normPath).toSet

  /** Read `dir` scheduling ONLY files whose stats admit `bounds`, with the
    * residual row predicate applied. Refuses a stale manifest. The
    * basePath is always pinned to `dir`, so partition columns
    * (`batch=N/...` layouts) survive the explicit-file read exactly as
    * they would a full directory scan; on an unpartitioned layout the
    * option is inert. */
  /** Disk-side set fingerprint: (file count, order-independent XOR of the
    * 60-bit md5 path prefixes). One Hadoop listing — driver-side
    * O(files), exactly what Spark's own file index materializes for any
    * scan. */
  private def probeDiskFingerprint(dir: String): (Int, Long) = {
    val onDisk = diskPaths(dir)
    (onDisk.size, onDisk.foldLeft(0L)(_ ^ pathHash(_)))
  }

  /** Steady-state memo #1 — manifest-side fingerprint, used ONLY for a
    * currently-PERSISTED manifest (persisted ⇒ its rows are frozen, so
    * re-running the aggregation per probe could never return anything
    * else — the memo is semantically invisible; an un-persisted manifest
    * re-lists the directory at every use and keeps the full per-probe
    * aggregation). Keyed by the Dataset INSTANCE (reference equality —
    * Dataset doesn't override equals) under weak keys, so a re-collected
    * manifest is a new key and a dropped one frees its entry. Worst case
    * after a cache-evict-and-recompute over a changed directory the memo
    * is stale-conservative: the disk fingerprint differs and the probe
    * errors, never silently plans from wrong stats. */
  private val fingerprintMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, (Long, Long, Long)]())

  /** Steady-state memo #2 — the full-directory read schema per
    * (normalized dir, disk fingerprint): per-probe `spark.read.parquet`
    * schema inference is a footer read + file-index build (~0.1 s of
    * every probe, round-8 manifest-probe breakdown, SURVEY §6); the
    * schema is a pure function of the file set, so the disk XOR in the
    * key invalidates it on any append/rewrite. Inference uses the FULL
    * directory (not the survivors), so partition-column TYPES are
    * inferred from all partition values — bit-identical to what the
    * unpruned scan would produce. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, org.apache.spark.sql.types.StructType)]()

  private def schemaFor(spark: SparkSession, dir: String, diskXor: Long) = {
    // One entry PER DIRECTORY (the current generation replaces the old
    // one) — keying by (dir, xor) would retain an entry per append
    // forever, a slow leak under loop-fold ingest.
    val key = LakeFs.normPath(dir)
    val cur = schemaCache.get(key)
    if (cur != null && cur._1 == diskXor) cur._2
    else {
      val s = spark.read.parquet(dir).schema
      schemaCache.put(key, (diskXor, s))
      s
    }
  }

  /** Trusted-probe schema: NEVER inferred from the live directory. The
    * trust premise is precisely that the directory is not re-checked, so
    * a memo-miss inference from it would bind a DRIFTED generation's
    * schema under the MANIFEST's fingerprint key — and a later re-collect
    * restoring that fingerprint would silently reuse the wrong schema.
    * Inferred instead from the manifest's OWN file list (basePath-pinned
    * so partition columns survive and their types are drawn from the full
    * generation's partition values, as the directory inference would),
    * memoized per (dir, manifest fingerprint) — the one-collect cost is
    * paid once per manifest generation, not per probe. */
  private def trustedSchemaFor(spark: SparkSession, dir: String, mXor: Long,
                               manifest: DataFrame) = {
    val key = LakeFs.normPath(dir)
    val cur = schemaCache.get(key)
    if (cur != null && cur._1 == mXor) cur._2
    else {
      val files = manifest.select("file").collect().map(_.getString(0)).toSeq
      if (files.isEmpty) {
        // Zero-file generation: there is nothing manifest-consistent to
        // infer from. A stale memo entry is safe here — the result is
        // provably empty, so any schema shape only types zero rows —
        // but with no memo at all the honest move is to demand one
        // verified probe (or a collect) rather than read the LIVE
        // directory the trust premise says not to touch.
        if (cur != null) cur._2
        else throw new IllegalStateException(
          s"trusted probe against an EMPTY manifest for $dir with no " +
            "memoized schema: run one verified probe (trustManifest=false) " +
            "or re-collect the manifest to establish the schema")
      } else {
        val s = spark.read.option("basePath", dir).parquet(files: _*).schema
        schemaCache.put(key, (mXor, s))
        s
      }
    }
  }

  /** Manifest-side half of the probe: ONE aggregation returning
    * (rows, distinct paths, path-set XOR, sorted surviving files). */
  private def probeManifestAgg(manifest: DataFrame,
      preds: Seq[FilePredicate]): (Long, Long, Long, Seq[String]) = {
    val row = manifest
      .select(col("file"), survives(preds).as("keep"),
        normPathCol(col("file")).as("__norm"))
      .agg(
        count(lit(1)).as("m_rows"),
        countDistinct(col("__norm")).as("m_distinct"),
        coalesce(bit_xor(pathHashCol(col("__norm"))), lit(0L)).as("m_xor"),
        sort_array(collect_list(when(col("keep"), col("file")))).as("files"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getSeq[String](3))
  }

  /** `trustManifest = true` skips the per-probe directory re-listing and
    * staleness check. The listing is the probe's dominant FIXED cost and
    * grows with file count (round-10 many-files regime, local fs,
    * SURVEY §6: 1.0 s at 16k files, 4.2 s at 131k; the verified range
    * probe runs 1.5 s / 9.6 s at those counts vs 0.8 s / 4.4 s trusted —
    * an object-store LIST at ~1M files is minutes and money) while
    * guarding only against OUT-OF-BAND writes; a manifest maintained
    * transactionally
    * (ManifestLoop folds its stats in the same micro-batch that lands
    * the files; [[update]] after every append) cannot drift from the
    * directory unless something else writes there. Trusting shifts
    * staleness protection to that writer discipline: a trusted STALE
    * manifest silently misses files added behind its back (or fails on
    * deleted ones) — exactly the transaction-log trade every
    * log-structured table format makes. Default stays verify-always. */
  def prunedRead(spark: SparkSession, dir: String, manifest: DataFrame,
                 bounds: Seq[FilePredicate],
                 trustManifest: Boolean = false): DataFrame = {
    require(bounds.nonEmpty, "no bounds — use spark.read.parquet directly")
    // The manifest side of the staleness check never ships the disk
    // listing to executors (an earlier join-based check broadcast ~100 MB
    // per probe at a million files; the round-6 bench tripwire caught
    // it), and the driver receives only O(survivors) paths plus three
    // counters. Set equality is compared by cardinality plus an
    // order-independent XOR of a 60-bit md5 prefix over the normalized
    // paths, computed identically driver-side over the Hadoop listing and
    // executor-side over the manifest — a false "fresh" verdict needs an
    // md5-prefix XOR collision between the two file sets (~2^-60, and
    // this guards operational drift, not an adversary). (The disk listing
    // itself is driver-side O(files), but that is exactly what Spark's
    // own file index materializes for any scan, so it adds no new
    // posture.)
    val (nDisk, diskXor) =
      if (trustManifest) (-1, 0L) else probeDiskFingerprint(dir)
    // Persisted manifest: fingerprint from the memo (one aggregation per
    // manifest instance, ever) + a NARROW single-stage survivor filter
    // per probe. Un-persisted: the combined one-job aggregation (its
    // full stats pass re-runs per use anyway — never add a second).
    val (mRows, mDistinct, mXor, files) =
      if (manifest.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
        // get-then-putIfAbsent, NOT computeIfAbsent: the synchronized
        // map's computeIfAbsent would run the aggregation job under the
        // global map mutex, serializing concurrent probes of DIFFERENT
        // manifests. The race is benign — both threads compute the same
        // frozen value.
        var fp = fingerprintMemo.get(manifest)
        if (fp == null) {
          val r0 = manifest.select(normPathCol(col("file")).as("__norm"))
            .agg(count(lit(1)), countDistinct(col("__norm")),
              coalesce(bit_xor(pathHashCol(col("__norm"))), lit(0L)))
            .head()
          fp = (r0.getLong(0), r0.getLong(1), r0.getLong(2))
          fingerprintMemo.put(manifest, fp)
        }
        (fp._1, fp._2, fp._3, prunedFiles(manifest, bounds))
      } else probeManifestAgg(manifest, bounds)
    require(mRows == mDistinct,
      s"corrupt manifest for $dir: ${mRows - mDistinct} duplicate file row(s) " +
        "— re-run FileStats.collect")
    if (!trustManifest)
      require(mDistinct == nDisk && mXor == diskXor,
        s"stale manifest for $dir: manifest covers $mDistinct file(s), disk has " +
          s"$nDisk, path-set fingerprints ${if (mXor == diskXor) "match"
            else "differ"} — re-run FileStats.collect after any rewrite")
    // Trusted probes never touch the live directory — schema comes from
    // the manifest's own file list, keyed by the manifest fingerprint
    // (the same value as the disk XOR whenever the trust premise holds).
    val schema =
      if (trustManifest) trustedSchemaFor(spark, dir, mXor, manifest)
      else schemaFor(spark, dir, diskXor)
    if (files.isEmpty)
      // Provably-empty result; keep the schema without scheduling a scan.
      spark.read.schema(schema).option("basePath", dir).parquet(dir).where(lit(false))
    else
      spark.read.schema(schema).option("basePath", dir).parquet(files: _*)
        .where(residual(bounds))
  }
}
