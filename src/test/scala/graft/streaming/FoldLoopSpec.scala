package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{Ann, DedupOps, LinearClassifier, SketchOps}
import graft.sources.FileStats

/** The crash-replay matrix over every loop [[FoldLoop]] drives. Each loop
  * folds three batches; at its crash batches the spec rebuilds, from
  * copies of the loop's directory tree taken before and after the
  * batch, every state a crash inside that batch's commit can leave on
  * disk, replays the batch, and requires the same state and output as
  * the run without a crash:
  *
  *  - replace-version loops (last batch): `v<N+1>` missing; `v<N+1>`
  *    written without `_SUCCESS`; `v<N+1>` committed while the versions
  *    below `v<N>` are not yet GC'd;
  *  - guarded-append loops (genesis batch and last batch): output
  *    written, index not yet appended (Bm25Loop writes its output after
  *    its marker); index appended but the batch not committed to the
  *    checkpoint; for Bm25Loop also appended but the batch marker
  *    absent.
  *
  * Catalog entries of the index tables are dropped before each replay,
  * as a restarted job starts with a fresh session catalog. A last case
  * feeds each index loop a non-numeric string id, which the shared
  * takedown prelude must reject with its own message. */
class FoldLoopSpec extends AnyFunSuite {
  import FoldLoopSpec._

  private lazy val spark = TestSpark.spark

  // ---- canonical views ----

  private def render(v: Any): String = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => String.valueOf(other)
  }

  private def rows(tag: String, df: DataFrame): Seq[String] =
    df.collect().map(r => tag + ":" + r.toSeq.map(render).mkString("|")).sorted.toSeq

  private def out(root: String): Seq[String] = rows("out", spark.read.parquet(s"$root/out"))

  private def versions(root: String): Seq[String] =
    Seq("versions:" + VersionedState.validVersions(s"$root/state").mkString(","))

  private def latest(root: String): Seq[String] =
    rows("state", VersionedState.latest(spark, s"$root/state").get)

  // ---- fixtures: three small batches per input shape ----

  private def docs(i: Int): DataFrame = TestSpark.table("documents")
    .where(col("doc_id") >= 20 * i && col("doc_id") < 20 * i + 20)
    .select(col("doc_id"), col("text"), lit(false).as("removed"))

  /** Batch `i` of documents; the last batch also takes doc 3 down. */
  private def docBatches(): Seq[DataFrame] = (0 to 2).map { i =>
    val b = docs(i)
    (if (i == 2) b.unionByName(docs(0).where(col("doc_id") === 3L)
      .withColumn("removed", lit(true))) else b).localCheckpoint()
  }

  private def embeddings = TestSpark.table("embeddings").select("vec_id", "embedding")

  /** Batch `i` of embeddings; the last batch also takes vector 3 down. */
  private def vecBatches(): Seq[DataFrame] = (0 to 2).map { i =>
    val b = embeddings.where(col("vec_id") >= 20 * i && col("vec_id") < 20 * i + 20)
      .withColumn("removed", lit(false))
    (if (i == 2) b.unionByName(embeddings.where(col("vec_id") === 3L)
      .withColumn("removed", lit(true))) else b).localCheckpoint()
  }

  /** Batch `i` of grouped rows: `g` (3 groups), `u` (7 values), unique
    * increasing `v`. */
  private def rowBatches(): Seq[DataFrame] = (0 to 2).map { i =>
    spark.range(30L * i, 30L * i + 30).select(
      (col("id") % 3).cast("string").as("g"), (col("id") % 7).as("u"),
      col("id").as("v")).localCheckpoint()
  }

  /** Edge events with takedowns in the later batches. */
  private def edgeBatches(c1: String, c2: String): () => Seq[DataFrame] = () => {
    val s = spark
    import s.implicits._
    Seq(
      Seq(("a", "b", false), ("b", "c", false), ("c", "a", false), ("d", "e", false),
        ("e", "f", false)),
      Seq(("f", "g", false), ("g", "d", false), ("a", "b", true), ("h", "i", false)),
      Seq(("c", "h", false), ("i", "j", false), ("d", "e", true), ("b", "c", true)))
      .map(_.toDF(c1, c2, "removed"))
  }

  private def centroids = embeddings.where(col("vec_id") < 4).localCheckpoint()

  // ---- the sixteen loops ----

  private val loops: Seq[Loop] = Seq(
    Loop("AggLoop", Replace, () => rowBatches(),
      (r, b, n) => AggLoop.foldBatch(b, n, Seq("g"), Seq("u", "v"), s"$r/state"),
      r => latest(r) ++ versions(r)),
    Loop("ClassifierLoop", Replace,
      () => (0 to 2).map(i => docs(i).select(col("text"),
        (col("doc_id") % 2).cast("double").as("y")).localCheckpoint()),
      (r, b, n) => ClassifierLoop.foldBatch(b, n, "text", "y", s"$r/state",
        s"$r/labels", dim = 1 << 10, iterations = 2),
      // The model is a float sum over the label store, so it is compared
      // by the decisions it makes rather than bit for bit.
      r => {
        val m = ClassifierLoop.currentModel(spark, s"$r/state").get
        val docs60 = TestSpark.table("documents").where(col("doc_id") < 60)
        rows("labels", spark.read.parquet(s"$r/labels")) ++
          rows("keep", LinearClassifier.score(docs60, col("doc_id"), col("text"), m)
            .where(col("score") >= 0.5).select("doc_id")) ++ versions(r)
      }),
    Loop("ClusterLoop", Replace, edgeBatches("d1", "d2"),
      (r, b, n) => ClusterLoop.foldBatch(b, n, "d1", "d2", "removed", s"$r/state",
        s"$r/edges", s"$r/out", compactEvery = 2),
      r => latest(r) ++ out(r) ++ versions(r) ++
        rows("edges", ClusterLoop.currentEdges(spark, s"$r/edges"))),
    Loop("DedupLoop", Replace,
      () => docBatches().zipWithIndex.map { case (b, i) =>
        // Later batches re-send docs 0..4 under new ids: duplicates.
        (if (i == 0) b else b.unionByName(docs(0).where(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 1000L * i))).localCheckpoint()
      },
      (r, b, n) => DedupLoop.dedupBatch(b, n, "doc_id", "text", s"$r/state",
        s"$r/out", 8, removedCol = "removed"),
      r => latest(r) ++ out(r) ++ versions(r)),
    Loop("DistinctLoop", Replace, () => rowBatches(),
      (r, b, n) => DistinctLoop.foldBatch(b, n, Seq("g"), "u", s"$r/state"),
      r => latest(r) ++ versions(r)),
    Loop("LabelLoop", Replace, edgeBatches("src", "dst"),
      (r, b, n) => LabelLoop.foldBatch(b, n, "src", "dst", "removed", 2, s"$r/state",
        s"$r/edges", s"$r/out", compactEvery = 2),
      r => latest(r) ++ out(r) ++ versions(r) ++
        rows("edges", LabelLoop.currentEdges(spark, s"$r/edges"))),
    Loop("ManifestLoop", Replace, () => rowBatches(),
      (r, b, n) => ManifestLoop.foldBatch(b, n, s"$r/out", Seq("v"), s"$r/state"),
      // A replayed batch rewrites its files under new names, so the
      // manifest is compared per batch directory.
      r => out(r) ++ versions(r) ++ rows("manifest",
        VersionedState.latest(spark, s"$r/state").get
          .groupBy(regexp_extract(col("file"), "batch=(\\d+)", 1).as("b"))
          .agg(sum("n_rows"), min("min_v"), max("max_v"), sum("n_null_v")))),
    Loop("PackLoop", Replace, () => rowBatches(),
      (r, b, n) => PackLoop.packBatch(b, n, "g", "v", col("v") % 5 + 1, 7,
        s"$r/state", s"$r/out"),
      r => latest(r) ++ out(r) ++ versions(r)),
    Loop("RankLoop", Replace, edgeBatches("src", "dst"),
      (r, b, n) => RankLoop.foldBatch(b, n, "src", "dst", "removed", 2, s"$r/state",
        s"$r/edges", s"$r/out", compactEvery = 2),
      r => latest(r) ++ out(r) ++ versions(r) ++
        rows("edges", RankLoop.currentEdges(spark, s"$r/edges"))),
    Loop("SketchLoop", Replace, () => rowBatches(),
      (r, b, n) => SketchLoop.sketchBatch(b, n, "u", Seq("g"), s"$r/state"),
      r => latest(r) ++ versions(r)),
    Loop("TopKLoop", Replace, () => rowBatches(),
      (r, b, n) => TopKLoop.foldBatch(b, n, Seq("g"), "u", "v", 2, descending = true,
        s"$r/state"),
      r => latest(r) ++ versions(r)),
    Loop("UpsertLoop", Replace,
      () => rowBatches().zipWithIndex.map { case (b, i) =>
        b.select((col("v") % 40).as("k"), col("v"),
          (lit(i > 0) && col("v") % 11 === 0).as("del")).localCheckpoint()
      },
      (r, b, n) => UpsertLoop.foldBatch(b, n, s"$r/table", "k", Seq("k"),
        s"$r/state", Some("del")),
      // Replay may lay the table out in different files; the manifest
      // must describe whatever files are there.
      r => {
        val m = VersionedState.latest(spark, s"$r/state").get
        rows("table", spark.read.parquet(s"$r/table")) ++ versions(r) ++
          Seq(s"fresh:${FileStats.isFresh(spark, s"$r/table", m)}") ++
          rows("rows", m.agg(sum("n_rows")))
      }),
    Loop("NearDupLoop",
      Append(Seq("idx_bk", "idx_tk"), Seq("fl_nd_bk", "fl_nd_tk")),
      () => docBatches(),
      (r, b, n) => NearDupLoop.foldBatch(b, n, "doc_id", "text", "removed", "fl_nd",
        s"$r/idx", s"$r/out", 8, 4, 0.8, buckets = 4),
      r => {
        val (keys, toks) = DedupOps.loadNearDupIndex(spark, "fl_nd", s"$r/idx", 4)
        out(r) ++ rows("bk", keys) ++ rows("tk", toks) ++
          rows("dead", DedupOps.nearDupTombstones(spark, s"$r/idx"))
      }),
    Loop("SemDedupLoop", Append(Seq("idx"), Seq("fl_sd")), () => vecBatches(),
      (r, b, n) => SemDedupLoop.foldBatch(b, n, "vec_id", "embedding", "removed",
        centroids, "fl_sd", s"$r/idx", s"$r/out", 0.35, buckets = 4),
      r => out(r) ++ rows("idx", Ann.loadSemDedupState(spark, "fl_sd", s"$r/idx", 4)) ++
        rows("dead", Ann.semDedupTombstones(spark, s"$r/idx"))),
    Loop("AnnLoop", Append(Seq("idx"), Seq("fl_ann")), () => vecBatches(),
      (r, b, n) => AnnLoop.foldBatch(b, n, "vec_id", "embedding", "removed",
        centroids, "fl_ann", s"$r/idx", s"$r/out", buckets = 4),
      r => out(r) ++ rows("idx", Ann.loadIvfIndex(spark, "fl_ann", s"$r/idx", 4)) ++
        rows("dead", Ann.ivfTombstones(spark, s"$r/idx"))),
    Loop("Bm25Loop",
      // A takedown writes a tombstone and a stats delta together, so the
      // crash before the append is taken before the retraction too.
      Append(Seq("idx_po", "idx_dl", "idx_stats", "idx_tombstones", "idx_applied"),
        Seq("fl_bm_po", "fl_bm_dl"), marker = Some("idx_applied")),
      () => docBatches(),
      (r, b, n) => Bm25Loop.foldBatch(b, n, "doc_id", "text", "removed", "fl_bm",
        s"$r/idx", s"$r/out", buckets = 4),
      r => {
        val (po, dl) = SketchOps.loadBm25Index(spark, "fl_bm", s"$r/idx", 4)
        out(r) ++ rows("po", po) ++ rows("dl", dl) ++
          Seq(s"stats:${SketchOps.bm25Stats(spark, s"$r/idx")}") ++
          rows("dead", SketchOps.bm25Tombstones(spark, s"$r/idx"))
      }))

  // ---- crash points ----

  /** Replace the tree at `to` with a copy of `from` (or nothing). */
  private def copyTree(from: File, to: File): Unit = {
    FileUtils.deleteDirectory(to)
    if (from.exists()) FileUtils.copyDirectory(from, to)
  }

  private def withoutSuccess(version: File): Unit =
    Seq("_SUCCESS", "._SUCCESS.crc").foreach(f => new File(version, f).delete())

  /** The crash states of batch `n`, each a rewrite of `root` (which holds
    * the tree after the batch) from the trees before (`pre`) and after
    * (`post`) it. */
  private def crashPoints(mode: Mode, n: Long): Seq[(String, (File, File, File) => Unit)] =
    mode match {
      case Replace => Seq(
        s"v${n + 1} missing" -> { (root, pre, _) =>
          copyTree(new File(pre, "state"), new File(root, "state"))
        },
        s"v${n + 1} without _SUCCESS" -> { (root, pre, post) =>
          copyTree(new File(pre, "state"), new File(root, "state"))
          val v = new File(root, s"state/v${n + 1}")
          FileUtils.copyDirectory(new File(post, s"state/v${n + 1}"), v)
          withoutSuccess(v)
        },
        s"v${n + 1} committed, older versions not GC'd" -> { (root, pre, _) =>
          FileUtils.copyDirectory(new File(pre, "state"), new File(root, "state"))
        })
      case Append(dirs, _, marker) =>
        Seq[(String, (File, File, File) => Unit)](
          "output written, index not appended" -> { (root, pre, _) =>
            dirs.foreach(d => copyTree(new File(pre, d), new File(root, d)))
          },
          "index appended, batch not committed to the checkpoint" -> { (_, _, _) => () }
        ) ++ marker.map(m => "index appended, marker absent" -> {
            (root: File, _: File, _: File) =>
              FileUtils.deleteDirectory(new File(root, s"$m/batch=$n"))
          })
    }

  private def crashBatches(mode: Mode): Set[Long] = mode match {
    case Replace => Set(2L)
    case _: Append => Set(0L, 2L)
  }

  private def dropTables(mode: Mode): Unit = mode match {
    case Append(_, tables, _) => tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    case Replace =>
  }

  loops.foreach { l =>
    test(s"${l.name}: replaying a batch from every crash point of its commit " +
      "gives the no-crash state and output") {
      val base = Files.createTempDirectory(s"graft-foldloop-${l.name}").toFile
      val (root, pre, post) = (new File(base, "run"), new File(base, "pre"),
        new File(base, "post"))
      root.mkdirs()
      val r = root.getPath
      try {
        l.batches().zipWithIndex.foreach { case (b, i) =>
          val n = i.toLong
          val crashes = if (crashBatches(l.mode)(n)) crashPoints(l.mode, n) else Nil
          if (crashes.nonEmpty) copyTree(root, pre)
          l.fold(r, b, n)
          val want = l.observe(r)
          if (crashes.nonEmpty) {
            copyTree(root, post)
            crashes.foreach { case (what, crash) =>
              copyTree(post, root)
              crash(root, pre, post)
              dropTables(l.mode)
              l.fold(r, b, n)
              val got = l.observe(r)
              assert(got == want,
                s"${l.name}: replay of batch $n after '$what' diverged: " +
                  s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
            }
            copyTree(post, root)
            dropTables(l.mode)
          }
        }
      } finally {
        dropTables(l.mode)
        FileUtils.deleteQuietly(base)
      }
    }
  }

  test("the index loops reject a non-numeric string id with their own message") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-foldloop-badid").toString
    val textBatch = Seq(("7", "alpha beta gamma delta", false),
      ("x9", "beta gamma delta epsilon", false)).toDF("id", "text", "removed")
    val vecBatch = Seq(("7", Seq(1f, 0f), false), ("x9", Seq(0f, 1f), false))
      .toDF("id", "embedding", "removed")
    val cents = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val folds: Seq[(String, () => Unit)] = Seq(
      "NearDupLoop" -> (() => NearDupLoop.foldBatch(textBatch, 0L, "id", "text",
        "removed", "fl_bad_nd", s"$base/nd", s"$base/nd_out", 8, 4, 0.8, buckets = 4)),
      "AnnLoop" -> (() => AnnLoop.foldBatch(vecBatch, 0L, "id", "embedding", "removed",
        cents, "fl_bad_ann", s"$base/ann", s"$base/ann_out", buckets = 4)),
      "Bm25Loop" -> (() => Bm25Loop.foldBatch(textBatch, 0L, "id", "text", "removed",
        "fl_bad_bm", s"$base/bm", s"$base/bm_out", buckets = 4)),
      "SemDedupLoop" -> (() => SemDedupLoop.foldBatch(vecBatch, 0L, "id", "embedding",
        "removed", cents, "fl_bad_sd", s"$base/sd", s"$base/sd_out", 0.9, buckets = 4)))
    try folds.foreach { case (loop, fold) =>
      val e = intercept[IllegalArgumentException](fold())
      assert(e.getMessage.contains(s"$loop: 1 id value(s) in batch 0 not castable to long"),
        s"$loop: ${e.getMessage}")
    } finally FileUtils.deleteQuietly(new File(base))
  }
}

object FoldLoopSpec {
  sealed trait Mode
  /** State under `<root>/state`, committed by [[VersionedState.commit]]. */
  case object Replace extends Mode
  /** A [[FoldLoop.appendCommit]] index: its physical tables live in the
    * `<root>` subdirectories `dirs` and are catalogued as `tables`;
    * `marker` is Bm25Loop's per-batch marker root. */
  final case class Append(dirs: Seq[String], tables: Seq[String],
                          marker: Option[String] = None) extends Mode

  /** One loop of the matrix: its batches, its fold over a root
    * directory, and the canonical rows of its state and output. */
  final case class Loop(name: String, mode: Mode,
                        batches: () => Seq[DataFrame],
                        fold: (String, DataFrame, Long) => Unit,
                        observe: String => Seq[String])
}
