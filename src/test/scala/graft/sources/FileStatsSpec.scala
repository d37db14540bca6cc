package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Manifest pruning must (a) actually shrink the scheduled file set on a
  * sorted layout — measured, not assumed — (b) never change results on
  * ANY layout, (c) stay conservative for nulls, and (d) refuse a stale
  * manifest. */
class FileStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-filestats-$tag").toString + "/t"

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val files = 16

  private def sortedDir: String = {
    val d = tmp("sorted")
    TestSpark.table("orders")
      .repartitionByRange(files, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(d)
    d
  }

  test("sorted layout: a narrow key range schedules a small fraction of the files") {
    val d = sortedDir
    val manifest = FileStats.collect(spark, d, Seq("o_orderkey", "o_totalprice"))
    assert(manifest.count() == files)
    // sf0.001 keys span 0–1499; ~94 keys/file across 16 range files, so a
    // 101-key probe overlaps at most ~3 of them.
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(200L)))
    val pruned = FileStats.prunedFiles(manifest, bounds)
    assert(pruned.size * 4 <= files, s"pruning too weak: ${pruned.size} of $files files")
    // Result set identical to the unpruned scan + filter.
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    val want = spark.read.parquet(d)
      .where(col("o_orderkey").between(100L, 200L))
    assert(canon(got) == canon(want) && got.count() > 0)
    // The pruned scan really reads only the surviving files.
    val touched = got.select(input_file_name()).distinct().count()
    assert(touched == pruned.size.toLong, s"touched $touched, planned ${pruned.size}")
  }

  test("random layout: conservative (files survive) but results still exact") {
    val d = tmp("random")
    TestSpark.table("orders").repartition(files).write.parquet(d)
    val manifest = FileStats.collect(spark, d, Seq("o_orderkey"))
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(200L)))
    // Round-robin smears the range everywhere — stats can prove nothing.
    assert(FileStats.prunedFiles(manifest, bounds).size == files)
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    val want = spark.read.parquet(d).where(col("o_orderkey").between(100L, 200L))
    assert(canon(got) == canon(want))
  }

  test("IN-list points prune as sharply as ranges on a sorted layout") {
    val d = sortedDir
    val manifest = FileStats.collect(spark, d, Seq("o_orderkey"))
    // Three scattered point lookups → at most 3 files (plus boundary).
    val preds = Seq(ColumnPoints("o_orderkey", Seq(50L, 700L, 1400L)))
    val pruned = FileStats.prunedFiles(manifest, preds)
    assert(pruned.size <= 4, s"point pruning too weak: ${pruned.size} of $files files")
    val got = FileStats.prunedRead(spark, d, manifest, preds)
    val want = spark.read.parquet(d).where(col("o_orderkey").isin(50L, 700L, 1400L))
    assert(canon(got) == canon(want) && got.count() > 0)
    // Points + bounds compose conjunctively.
    val both = Seq(ColumnPoints("o_orderkey", Seq(50L, 700L, 1400L)),
      ColumnBounds("o_orderkey", Some(600L), None))
    val g2 = FileStats.prunedRead(spark, d, manifest, both)
    val w2 = spark.read.parquet(d)
      .where(col("o_orderkey").isin(50L, 700L, 1400L) && col("o_orderkey") >= 600L)
    assert(canon(g2) == canon(w2) && g2.count() > 0)
  }

  test("two-column bounds compose; one-sided bounds work") {
    val d = sortedDir
    val manifest = FileStats.collect(spark, d, Seq("o_orderkey", "o_totalprice"))
    val bounds = Seq(
      ColumnBounds("o_orderkey", Some(500L), None),
      ColumnBounds("o_totalprice", None, Some(200000.0)))
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    val want = spark.read.parquet(d)
      .where(col("o_orderkey") >= 500L && col("o_totalprice") <= 200000.0)
    assert(canon(got) == canon(want) && got.count() > 0)
  }

  test("all-null and mixed-null files are kept conservatively, rows exact") {
    import spark.implicits._
    val d = tmp("nulls")
    // File boundaries via repartitionByRange on a tag that isolates the
    // all-null group into its own file(s).
    Seq[(Int, Option[Long])]((0, None), (0, None), (1, Some(5L)), (1, None),
        (2, Some(50L)), (2, Some(99L)))
      .toDF("tag", "v")
      .repartitionByRange(3, col("tag")).write.parquet(d)
    val manifest = FileStats.collect(spark, d, Seq("v"))
    val bounds = Seq(ColumnBounds("v", Some(0L), Some(10L)))
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    assert(canon(got) == canon(spark.read.parquet(d).where(col("v").between(0L, 10L))))
    assert(got.count() == 1) // only v=5 matches; null rows excluded by residual
  }

  test("provably-empty range: zero rows, schema preserved, no scan") {
    val d = sortedDir
    val manifest = FileStats.collect(spark, d, Seq("o_orderkey"))
    val got = FileStats.prunedRead(spark, d, manifest,
      Seq(ColumnBounds("o_orderkey", Some(Long.MaxValue - 1), None)))
    assert(got.count() == 0)
    assert(got.columns.toSeq == spark.read.parquet(d).columns.toSeq)
  }

  test("zero-row part files are synthesized into the manifest and always prune away") {
    val d = tmp("zero")
    TestSpark.table("region").coalesce(1).write.parquet(d)
    // An empty frame still lands one schema-bearing part file — the
    // all-duplicates DedupLoop batch shape (r5 advice).
    spark.read.parquet(d).where(lit(false)).write.mode("append").parquet(d)
    val nOnDisk = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nOnDisk == 2, s"expected a schema-bearing empty part file, found $nOnDisk files")
    val manifest = FileStats.collect(spark, d, Seq("r_regionkey"))
    assert(manifest.count() == 2)
    val zeros = manifest.where(col("n_rows") === 0L)
    assert(zeros.count() == 1, "empty part file missing from manifest")
    assert(zeros.where(col("min_r_regionkey").isNull && col("max_r_regionkey").isNull
      && col("n_null_r_regionkey") === 0L).count() == 1)
    // Staleness passes (every on-disk file is represented) and the
    // zero-row file is provably empty — never scheduled.
    val bounds = Seq(ColumnBounds("r_regionkey", Some(0L), None))
    assert(FileStats.prunedFiles(manifest, bounds).size == 1)
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    val want = spark.read.parquet(d).where(col("r_regionkey") >= 0L)
    assert(canon(got) == canon(want) && got.count() > 0)
    // update() after a LATER empty append synthesizes the new file too.
    spark.read.parquet(d).where(lit(false)).write.mode("append").parquet(d)
    val updated = FileStats.update(spark, d, manifest, Seq("r_regionkey"))
    assert(updated.where(col("n_rows") === 0L).count() == 2)
    assert(canon(FileStats.prunedRead(spark, d, updated, bounds)) == canon(want))
  }

  test("stale PERSISTED manifest (file added after collect) is refused") {
    // An in-memory manifest re-lists the directory lazily (Spark read
    // semantics), so it always reflects current disk — safe by
    // freshness. The hazard is a manifest persisted as a snapshot and
    // then used after the data directory changed; that is exactly what
    // the guard must catch.
    val d = tmp("stale")
    val mPath = tmp("stale-manifest")
    TestSpark.table("region").write.parquet(d)
    FileStats.writeManifest(FileStats.collect(spark, d, Seq("r_regionkey")), mPath)
    TestSpark.table("region").write.mode("append").parquet(d)
    val e = intercept[IllegalArgumentException] {
      FileStats.prunedRead(spark, d, FileStats.readManifest(spark, mPath),
        Seq(ColumnBounds("r_regionkey", Some(0L), None)))
    }
    assert(e.getMessage.contains("stale manifest"))
  }

  test("trustManifest: verify-free probe ≡ verified probe; trust premise is the caller's") {
    val d = sortedDir
    val manifest = FileStats.collect(spark, d, Seq("o_orderkey")).persist()
    manifest.count()
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(200L)))
    // On a fresh manifest the trusted probe is the SAME plan over the
    // same survivors — results identical, just without the per-probe
    // directory re-listing (the fixed cost that grows linearly with file
    // count; the round-10 many-files regime table, SURVEY §6).
    val verified = FileStats.prunedRead(spark, d, manifest, bounds)
    val trusted = FileStats.prunedRead(spark, d, manifest, bounds,
      trustManifest = true)
    assert(canon(trusted) == canon(verified) && trusted.count() > 0)
    // The trade stated by the API: trusting a STALE manifest silently
    // misses out-of-band files (the verified path refuses instead) —
    // staleness protection moved to the writer discipline.
    TestSpark.table("orders").limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .write.mode("append").parquet(d)
    intercept[IllegalArgumentException] {
      FileStats.prunedRead(spark, d, manifest, bounds).collect()
    }
    val stale = FileStats.prunedRead(spark, d, manifest, bounds,
      trustManifest = true)
    assert(canon(stale) == canon(verified),
      "trusted probe must plan from the manifest snapshot, not the directory")
    manifest.unpersist()
  }

  test("trustManifest memo miss: schema binds to the MANIFEST generation, never the live directory") {
    val d = tmp("trust-schema")
    TestSpark.table("orders").limit(50).select("o_orderkey", "o_custkey")
      .write.parquet(d)
    val mPath = tmp("trust-schema-m")
    FileStats.writeManifest(FileStats.collect(spark, d, Seq("o_orderkey")), mPath)
    val manifest = FileStats.readManifest(spark, mPath).persist()
    manifest.count()
    // Out-of-band drift that CHANGES the directory's inferred schema: a
    // partitioned append adds a partition column a live-dir inference
    // would deterministically pick up. The first trusted probe against
    // this dir is a schema-memo MISS; inferring from the live directory
    // here would bind the drifted generation's schema to the MANIFEST's
    // fingerprint key — a later re-collect restoring that fingerprint
    // would silently reuse it. The fix infers from the manifest's own
    // file list instead.
    TestSpark.table("orders").limit(5).select("o_orderkey", "o_custkey")
      .write.parquet(s"$d/drift=1")
    val trusted = FileStats.prunedRead(spark, d, manifest,
      Seq(ColumnBounds("o_orderkey", Some(0L), None)), trustManifest = true)
    assert(!trusted.columns.contains("drift"),
      s"trusted schema leaked the drifted directory generation: ${trusted.columns.toSeq}")
    assert(trusted.count() == TestSpark.table("orders").limit(50)
      .where(col("o_orderkey") >= 0L).count())
    manifest.unpersist()
  }

  test("update stats only the appended files; result ≡ a fresh collect") {
    val d = tmp("update")
    val old = TestSpark.table("orders").where(col("o_orderkey") < 700)
    val neu = TestSpark.table("orders").where(col("o_orderkey") >= 700)
    old.repartition(4).write.parquet(d)
    val mPath = tmp("update-manifest")
    FileStats.writeManifest(FileStats.collect(spark, d, Seq("o_orderkey")), mPath)
    val snapshot = FileStats.readManifest(spark, mPath) // durable pre-append state
    neu.repartition(4).write.mode("append").parquet(d)

    val updated = FileStats.update(spark, d, snapshot, Seq("o_orderkey"))
    assert(canon(updated) == canon(FileStats.collect(spark, d, Seq("o_orderkey"))))
    // And the updated manifest plans correct pruned reads over the union.
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(900L)))
    val got = FileStats.prunedRead(spark, d, updated, bounds)
    val want = spark.read.parquet(d).where(col("o_orderkey").between(100L, 900L))
    assert(canon(got) == canon(want) && got.count() > 0)
    // No-op update (nothing new) returns the manifest unchanged.
    assert(canon(FileStats.update(spark, d, updated, Seq("o_orderkey"))) == canon(updated))
  }

  test("update refuses a directory that was rewritten (files removed)") {
    val d0 = tmp("rewrite-a")
    TestSpark.table("region").repartition(2).write.parquet(d0)
    val mPath = tmp("rewrite-manifest")
    FileStats.writeManifest(FileStats.collect(spark, d0, Seq("r_regionkey")), mPath)
    val snapshot = FileStats.readManifest(spark, mPath)
    // Simulate a compaction: delete the directory contents, write anew.
    val dir = new java.io.File(d0)
    dir.listFiles().foreach(_.delete())
    TestSpark.table("region").coalesce(1).write.mode("overwrite").parquet(d0)
    val e = intercept[IllegalArgumentException] {
      FileStats.update(spark, d0, snapshot, Seq("r_regionkey"))
    }
    assert(e.getMessage.contains("rewritten"))
  }

  test("writeOptimized: layout + manifest in one call, probe-ready") {
    val d = tmp("wo")
    val (data, manifest) = Maintenance.writeOptimized(
      spark, TestSpark.table("orders"), d, Seq("o_orderkey"), files)
    assert(data.count() == TestSpark.table("orders").count())
    assert(manifest.count() == files)
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(200L)))
    assert(FileStats.prunedFiles(manifest, bounds).size * 4 <= files)
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    val want = spark.read.parquet(d).where(col("o_orderkey").between(100L, 200L))
    assert(canon(got) == canon(want) && got.count() > 0)
    // Never in place.
    intercept[org.apache.spark.sql.AnalysisException] {
      Maintenance.writeOptimized(spark, TestSpark.table("orders"), d, Seq("o_orderkey"), files)
    }
  }

  test("writeOptimized with a trailing-slash outDir keeps the manifest OUTSIDE the data dir") {
    val d = tmp("wo-slash")
    val (_, manifest) = Maintenance.writeOptimized(
      spark, TestSpark.table("orders"), d + "/", Seq("o_orderkey"), 4)
    // The manifest must not pollute the data directory: pruned reads
    // right off the returned pair must pass the staleness guard.
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(200L)))
    val got = FileStats.prunedRead(spark, d, manifest, bounds)
    val want = spark.read.parquet(d).where(col("o_orderkey").between(100L, 200L))
    assert(canon(got) == canon(want) && got.count() > 0)
  }

  test("manifest round-trips through its persisted form") {
    val d = sortedDir
    val mPath = tmp("manifest")
    FileStats.writeManifest(
      FileStats.collect(spark, d, Seq("o_orderkey")), mPath)
    val back = FileStats.readManifest(spark, mPath)
    val bounds = Seq(ColumnBounds("o_orderkey", Some(1000L), Some(2000L)))
    val got = FileStats.prunedRead(spark, d, back, bounds)
    val want = spark.read.parquet(d).where(col("o_orderkey").between(1000L, 2000L))
    assert(canon(got) == canon(want) && got.count() > 0)
  }

  test("upsert: replace-by-key MERGE rewrites ONLY the touched files") {
    val d = tmp("upsert")
    val (_, manifest) = Maintenance.writeOptimized(
      spark, TestSpark.table("orders"), d, Seq("o_orderkey"), files)
    val before = LakeFs.listFiles(d, skipHiddenDirs = true).map(_._1)
      .filter(_.endsWith(".parquet")).toSet
    val orders = spark.read.parquet(d).localCheckpoint()
    // Change batch: updated versions of a NARROW key slice (price
    // zeroed), brand-new keys past the old range, and two deletes.
    val changes = orders.where(col("o_orderkey").between(100L, 120L))
      .withColumn("o_totalprice", lit(0.0))
      .unionByName(orders.where(col("o_orderkey") < 3)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
      .localCheckpoint()
    import spark.implicits._
    val dels = Seq(130L, 131L, 99999999L).toDF("k")
    val (table, m2) = Maintenance.upsert(spark, d, manifest, changes,
      "o_orderkey", Some(dels))
    // Content equals the MERGE definition computed independently.
    val changeKeys = changes.select("o_orderkey")
      .union(dels.select(col("k").as("o_orderkey")))
    val want = orders.join(changeKeys, Seq("o_orderkey"), "left_anti")
      .unionByName(changes)
    assert(canon(table) == canon(want))
    // Targeting: the narrow slice lives in ~1 of 16 range files, so the
    // overwhelming majority of original files must survive untouched.
    val after = LakeFs.listFiles(d, skipHiddenDirs = true).map(_._1)
      .filter(_.endsWith(".parquet")).toSet
    val untouched = (before intersect after).size
    assert(untouched >= files - 3,
      s"upsert rewrote too much: only $untouched of $files original files kept")
    assert(!after.exists(_.contains("_upsert_")), "staging dir leaked")
    // The refreshed manifest passes the staleness guard and still prunes.
    assert(m2.count() == after.size.toLong)
    val bounds = Seq(ColumnBounds("o_orderkey", Some(100L), Some(120L)))
    val got = FileStats.prunedRead(spark, d, m2, bounds)
    val w2 = spark.read.parquet(d).where(col("o_orderkey").between(100L, 120L))
    assert(canon(got) == canon(w2) && got.count() > 0)
    assert(got.agg(sum(col("o_totalprice"))).head().getDouble(0) == 0.0)
    // Re-running the SAME upsert (the crash-repair path) is content-stable.
    val (t3, m3) = Maintenance.upsert(spark, d, m2, changes,
      "o_orderkey", Some(dels))
    assert(canon(t3) == canon(want))
    assert(m3.count() == LakeFs.listFiles(d, skipHiddenDirs = true)
      .count(_._1.endsWith(".parquet")).toLong)
  }

  test("upsert schema evolution: widened batches opt in, diverge loudly otherwise") {
    val d = tmp("upsert-evolve")
    val (_, manifest) = Maintenance.writeOptimized(
      spark, TestSpark.table("orders"), d, Seq("o_orderkey"), 8)
    val orders = spark.read.parquet(d).localCheckpoint()
    val widened = orders.where(col("o_orderkey").between(100L, 110L))
      .withColumn("o_flag", lit("hot")).localCheckpoint()
    // Default: a schema-divergent batch fails loudly BEFORE any rewrite —
    // the right behavior for a typed state table.
    val eDiv = intercept[IllegalArgumentException] {
      Maintenance.upsert(spark, d, manifest, widened, "o_orderkey")
    }
    assert(eDiv.getMessage.contains("evolveSchema"))
    val (table, m2) = Maintenance.upsert(spark, d, manifest, widened,
      "o_orderkey", evolveSchema = true)
    assert(table.columns.contains("o_flag"), "widened column must be visible")
    val hot = table.where(col("o_orderkey").between(100L, 110L))
    assert(hot.count() > 0 &&
      hot.where(col("o_flag") === "hot").count() == hot.count())
    assert(table.where(col("o_flag").isNull).count() ==
      table.count() - hot.count(),
      "rows the batch didn't touch carry null in the new column")
    // Shared-column content still equals the merge definition, and the
    // manifest stays fresh + prunable over the evolved layout.
    assert(canon(table.select(orders.columns.map(col): _*)) ==
      canon(orders.join(widened.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(widened.drop("o_flag"))))
    assert(FileStats.isFresh(spark, d, m2))
    val probe = FileStats.prunedRead(spark, d, m2,
      Seq(ColumnBounds("o_orderkey", Some(100L), Some(110L))))
    assert(probe.count() == hot.count())

    // SECOND merge over the now-MIXED physical layout, touched set
    // spanning BOTH generations (an evolved file and a pre-evolution
    // file): the rewrite must read touched files schema-merged, or the
    // evolved generation's extra column silently drops from its
    // survivors and the originals are then deleted — permanent loss.
    val second = orders
      .where(col("o_orderkey").between(100L, 105L) ||   // evolved file
        col("o_orderkey").between(5000L, 5010L))        // pre-evolution file
      .withColumn("o_flag", lit("new")).localCheckpoint()
    val (t2, m3) = Maintenance.upsert(spark, d, m2, second,
      "o_orderkey", evolveSchema = true)
    val survivorsHot = t2.where(col("o_orderkey").between(106L, 110L))
    assert(survivorsHot.count() > 0 &&
      survivorsHot.where(col("o_flag") === "hot").count() == survivorsHot.count(),
      "survivor rows of the evolved generation lost their widened column")
    assert(t2.where(col("o_flag") === "new").count() == second.count())
    assert(FileStats.isFresh(spark, d, m3))
    // The mixed layout also gates the NON-evolve path: a narrow-schema
    // batch over it must refuse loudly (a plain read could infer either
    // generation's schema), never drop columns silently.
    val narrow = orders.where(col("o_orderkey").between(100L, 102L))
      .localCheckpoint()
    val eMix = intercept[IllegalArgumentException] {
      Maintenance.upsert(spark, d, m3, narrow, "o_orderkey")
    }
    assert(eMix.getMessage.contains("evolveSchema"))
  }

  test("upsert: no-op delete batches add no files") {
    val d = tmp("upsert-noop")
    val (_, manifest) = Maintenance.writeOptimized(
      spark, TestSpark.table("region"), d, Seq("r_regionkey"), 2)
    val region = spark.read.parquet(d).localCheckpoint()
    val empty = region.where(lit(false))
    import spark.implicits._
    def fileCount: Int = LakeFs.listFiles(d, skipHiddenDirs = true)
      .count(_._1.endsWith(".parquet"))
    val n0 = fileCount
    // Deletes whose keys touch no file: repeated calls must not grow
    // the table root with zero-row parts.
    var m = manifest
    for (_ <- 1 to 3) {
      val (t, m1) = Maintenance.upsert(spark, d, m, empty, "r_regionkey",
        Some(Seq(98765L).toDF("k")))
      assert(canon(t) == canon(region))
      m = m1
    }
    assert(fileCount == n0, s"no-op deletes grew the table: $n0 -> $fileCount")
    assert(canon(m) == canon(manifest))
    // After a schema evolution the no-op return must read like every
    // other evolveSchema return (mergeSchema) — a plain read samples one
    // footer and silently hides the widened column on the mixed layout.
    val widened = region.where(col("r_regionkey") === 0)
      .withColumn("r_extra", lit(7L))
    val (_, m2) = Maintenance.upsert(spark, d, m, widened, "r_regionkey",
      evolveSchema = true)
    val (tNoop, _) = Maintenance.upsert(spark, d, m2, empty.withColumn("r_extra", lit(0L)),
      "r_regionkey", Some(Seq(98765L).toDF("k")), evolveSchema = true)
    assert(tNoop.columns.contains("r_extra"),
      "the no-op return must carry the widened column on a mixed layout")
    assert(tNoop.where(col("r_extra") === 7L).count() == 1L)
  }

  test("upsert edge cases: empty batch, delete-only, null keys, missing key stats") {
    val d = tmp("upsert-edge")
    val (_, manifest) = Maintenance.writeOptimized(
      spark, TestSpark.table("region"), d, Seq("r_regionkey"), 2)
    val region = spark.read.parquet(d).localCheckpoint()
    val empty = region.where(lit(false))
    // Empty batch: identity, manifest unchanged row-for-row.
    val (t0, m0) = Maintenance.upsert(spark, d, manifest, empty, "r_regionkey")
    assert(canon(t0) == canon(region) && canon(m0) == canon(manifest))
    // Delete-only batch.
    import spark.implicits._
    val (t1, m1) = Maintenance.upsert(spark, d, m0, empty, "r_regionkey",
      Some(Seq(0L).toDF("k")))
    assert(canon(t1) == canon(region.where(col("r_regionkey") =!= 0L)))
    val got = FileStats.prunedRead(spark, d, m1,
      Seq(ColumnBounds("r_regionkey", Some(0L), Some(99L))))
    assert(canon(got) == canon(t1))
    // Null-keyed change rows are rejected loudly.
    val nulled = region.withColumn("r_regionkey",
      when(col("r_regionkey") === 1L, lit(null)).otherwise(col("r_regionkey")))
    val eNull = intercept[IllegalArgumentException] {
      Maintenance.upsert(spark, d, m1, nulled, "r_regionkey")
    }
    assert(eNull.getMessage.contains("null"))
    // A manifest without stats for the merge key is refused.
    val eKey = intercept[IllegalArgumentException] {
      Maintenance.upsert(spark, d, m1, empty, "r_name")
    }
    assert(eKey.getMessage.contains("no stats"))
  }
}
