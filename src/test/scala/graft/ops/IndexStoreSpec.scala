package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The id guard every long-keyed append shares through [[IndexStore]]. */
class IndexStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("the four long-keyed appends reject a non-numeric id with the shared guard's message") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-indexstore-badid").toString
    val docs = TestSpark.table("documents").where(col("doc_id") < 20)
      .select("doc_id", "text").localCheckpoint()
    val emb = TestSpark.table("embeddings").where(col("vec_id") < 20)
      .select("vec_id", "embedding").localCheckpoint()
    val cents = emb.where(col("vec_id") < 2)
    val cb = Pq.pqTrain(emb, col("vec_id"), col("embedding"), m = 8, k = 4, iters = 1)
    val badDocs = Seq(("7", "alpha beta gamma"), ("x9", "beta gamma delta"))
      .toDF("doc_id", "text")
    val badVecs = emb.where(col("vec_id") < 2)
      .select(when(col("vec_id") === 0, lit("7")).otherwise(lit("x9")).as("vec_id"),
        col("embedding"))
    DedupOps.persistNearDupIndex(DedupOps.buildNearDupIndex(docs, col("doc_id"),
      col("text"), 8, 4), "is_nd", s"$root/nd", buckets = 2)
    SketchOps.persistBm25Index(SketchOps.buildBm25Index(docs, col("doc_id"), col("text")),
      "is_bm", s"$root/bm", buckets = 2)
    Pq.persistPqIndex(Pq.pqIvfIndex(emb, cents, cb), "is_pq", s"$root/pq", buckets = 2)
    Ann.persistSemDedupState(Ann.buildSemDedupState(emb, cents), "is_sd", s"$root/sd",
      buckets = 2)
    val appends: Seq[(String, () => Any)] = Seq(
      "appendNearDup" -> (() => DedupOps.appendNearDup(spark, "is_nd", s"$root/nd",
        badDocs, col("doc_id"), col("text"), 8, 4, 0.8, buckets = 2)),
      "appendBm25Index" -> (() => SketchOps.appendBm25Index(spark, "is_bm", s"$root/bm",
        badDocs, col("doc_id"), col("text"), buckets = 2)),
      "appendPqIndex" -> (() => Pq.appendPqIndex(spark, "is_pq", s"$root/pq", badVecs,
        cents, cb, buckets = 2)),
      "appendSemDedup" -> (() => Ann.appendSemDedup(spark, "is_sd", s"$root/sd", badVecs,
        cents, 0.9, buckets = 2)))
    try appends.foreach { case (op, append) =>
      val e = intercept[IllegalArgumentException](append())
      assert(e.getMessage.contains(s"$op: 1 id value(s)") &&
        e.getMessage.contains("not castable to long"), s"$op: ${e.getMessage}")
    } finally {
      Seq("is_nd_bk", "is_nd_tk", "is_bm_po", "is_bm_dl", "is_pq", "is_sd")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      FileUtils.deleteQuietly(new File(root))
    }
  }

  test("the four long-keyed deletes drop a non-numeric id: 0 live, no tombstone") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-indexstore-baddel").toString
    val docs = TestSpark.table("documents").where(col("doc_id") < 20)
      .select("doc_id", "text").localCheckpoint()
    val emb = TestSpark.table("embeddings").where(col("vec_id") < 20)
      .select("vec_id", "embedding").localCheckpoint()
    val cents = emb.where(col("vec_id") < 2)
    val cb = Pq.pqTrain(emb, col("vec_id"), col("embedding"), m = 8, k = 4, iters = 1)
    DedupOps.persistNearDupIndex(DedupOps.buildNearDupIndex(docs, col("doc_id"),
      col("text"), 8, 4), "isd_nd", s"$root/nd", buckets = 2)
    SketchOps.persistBm25Index(SketchOps.buildBm25Index(docs, col("doc_id"), col("text")),
      "isd_bm", s"$root/bm", buckets = 2)
    Pq.persistPqIndex(Pq.pqIvfIndex(emb, cents, cb), "isd_pq", s"$root/pq", buckets = 2)
    Ann.persistSemDedupState(Ann.buildSemDedupState(emb, cents), "isd_sd", s"$root/sd",
      buckets = 2)
    val bad = Seq("abc").toDF("id")
    val deletes: Seq[(String, IndexStore.Layout, String, () => Long)] = Seq(
      ("deleteFromNearDupIndex", IndexStore.nearDup, s"$root/nd",
        () => DedupOps.deleteFromNearDupIndex(spark, "isd_nd", s"$root/nd", bad, buckets = 2)),
      ("deleteFromBm25Index", IndexStore.bm25, s"$root/bm",
        () => SketchOps.deleteFromBm25Index(spark, "isd_bm", s"$root/bm", bad, buckets = 2)),
      ("deleteFromPqIndex", IndexStore.pq, s"$root/pq",
        () => Pq.deleteFromPqIndex(spark, "isd_pq", s"$root/pq", bad, buckets = 2)),
      ("deleteFromSemDedupState", IndexStore.semDedup, s"$root/sd",
        () => Ann.deleteFromSemDedupState(spark, "isd_sd", s"$root/sd", bad, buckets = 2)))
    try deletes.foreach { case (op, lay, path, delete) =>
      assert(delete() == 0L, s"$op: a malformed id is never live")
      assert(IndexStore.tombstones(spark, lay, path).count() == 0L,
        s"$op: a malformed id leaves no tombstone")
    } finally {
      Seq("isd_nd_bk", "isd_nd_tk", "isd_bm_po", "isd_bm_dl", "isd_pq", "isd_sd")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      FileUtils.deleteQuietly(new File(root))
    }
  }

  test("an index persisted from an empty frame attaches again, and appending fills it like a build") {
    val root = Files.createTempDirectory("graft-indexstore-empty").toString
    val docs = TestSpark.table("documents").where(col("doc_id") < 20)
      .select("doc_id", "text").localCheckpoint()
    val emb = TestSpark.table("embeddings").where(col("vec_id") < 20)
      .select("vec_id", "embedding").localCheckpoint()
    val cents = emb.where(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
    try {
      Ann.persistIvfIndex(Ann.ivfIndex(emb.where(lit(false)), cents), "ise_ivf",
        s"$root/ivf", buckets = 2)
      assert(Ann.loadIvfIndex(spark, "ise_ivf", s"$root/ivf", 2).count() == 0)
      Ann.appendIvfIndex(spark, "ise_ivf", s"$root/ivf", emb, cents, buckets = 2).collect()
      assert(rows(Ann.loadIvfIndex(spark, "ise_ivf", s"$root/ivf", 2)) ==
        rows(Ann.ivfIndex(emb, cents)))

      DedupOps.persistNearDupIndex(DedupOps.buildNearDupIndex(docs.where(lit(false)),
        col("doc_id"), col("text"), 8, 4), "ise_nd", s"$root/nd", buckets = 2)
      val (k0, t0) = DedupOps.loadNearDupIndex(spark, "ise_nd", s"$root/nd", 2)
      assert(k0.count() == 0 && t0.count() == 0)
      DedupOps.appendNearDup(spark, "ise_nd", s"$root/nd", docs, col("doc_id"),
        col("text"), 8, 4, 0.8, buckets = 2).collect()
      val (keys, toks) = DedupOps.loadNearDupIndex(spark, "ise_nd", s"$root/nd", 2)
      val (bk, bt) = DedupOps.buildNearDupIndex(docs, col("doc_id"), col("text"), 8, 4)
      assert(rows(keys) == rows(bk) && rows(toks) == rows(bt) && rows(keys).nonEmpty)
    } finally {
      Seq("ise_ivf", "ise_nd_bk", "ise_nd_tk").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      FileUtils.deleteQuietly(new File(root))
    }
  }
}
