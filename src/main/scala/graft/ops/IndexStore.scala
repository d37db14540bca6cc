package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Bucketed, LakeFs}

/** The one store behind every persisted index family (IVF / LSH / PQ /
  * banded near-dup / SemDeDup state / BM25 postings). A family is a
  * [[Layout]]; the store owns its lifecycle — persist, attach, append,
  * tombstones, live view, delete, compaction — and the id guard of its
  * appends, so a layout, hygiene or ordering defect is fixed once for
  * all six. Families keep their public names as one-call delegates and
  * own only their kernels (pair verify, drop verdicts, drift report,
  * BM25 stats).
  *
  * The takedown contract:
  *  - Deletes are MARKS, not rewrites: a bucketed table cannot rewrite
  *    single files without breaking Spark's bucket-file naming, and
  *    takedown batches are tiny against an index.
  *  - Marks live in `<path>_tombstones`, a parquet id list BESIDE the
  *    index, append-only (crash-safe and idempotent: reads dedup).
  *  - The LIVE view filters with a BROADCAST anti join, so the bucketed
  *    layout — and every Exchange-free probe join over it — survives.
  *  - [[delete]] returns the batch's ids live in the PHYSICAL index
  *    (none = no-op); marks are recorded regardless, so
  *    delete-then-append races resolve to deleted. NULL ids drop, and
  *    so do ids a long-keyed family cannot cast.
  *  - The append guard checks PHYSICAL rows: a tombstoned twin is
  *    invisible live, but re-appending its id would leave two physical
  *    rows the live filter then kills BOTH of.
  *  - Compaction rewrites live rows to a FRESH path, never in place
  *    (the [[graft.sources.Maintenance.compact]] rule); the new path
  *    has no tombstones and every deleted id is appendable again.
  *
  * Scope is admission control and retrieval: output already emitted
  * against a deleted id is downstream state and is not retracted. */
private[graft] object IndexStore {

  /** One bucketed table of a family: table and path `suffix` ("" for a
    * one-table family), its bucket column, and the columns it persists
    * (empty: the frame as given). */
  final case class Part(suffix: String, bucketCol: String, cols: Seq[String] = Nil)

  /** A family: its tables (the LAST one is read for id presence), its
    * id column, whether ids are cast to long, and the compaction call
    * that clears its tombstones. */
  final case class Layout(parts: Seq[Part], idCol: String, longIds: Boolean,
                          compactOp: String)

  val ivf = Layout(Seq(Part("", "cid")), "g_id", longIds = false, "compactIvfIndex")
  /** One row per (vector, hash table): ids repeat in the id table. */
  val lsh = Layout(Seq(Part("", "bucket")), "g_id", longIds = false, "compactLshIndex")
  val pq = Layout(Seq(Part("", "cid", Seq("g_id", "cid", "codes"))), "g_id",
    longIds = true, "compactPqIndex")
  val semDedup = Layout(Seq(Part("", "cid", Seq("cid", "doc_id", "vec"))), "doc_id",
    longIds = true, "compactSemDedupState")
  val nearDup = Layout(Seq(Part("_bk", "bk"), Part("_tk", "doc_id")), "doc_id",
    longIds = true, "compactNearDupIndex")
  val bm25 = Layout(Seq(Part("_po", "w", Seq("w", "doc_id", "tf")),
    Part("_dl", "doc_id", Seq("doc_id", "dl"))), "doc_id", longIds = true, "compactBm25Index")

  /** Write each part bucketed at `path + suffix`; an Overwrite also drops
    * the old index's tombstones. */
  def persist(lay: Layout, parts: Seq[DataFrame], table: String, path: String,
              buckets: Int, mode: SaveMode): Unit = {
    lay.parts.zip(parts).foreach { case (p, df) =>
      Bucketed.write(if (p.cols.isEmpty) df else df.select(p.cols.map(col): _*),
        table + p.suffix, path + p.suffix, p.bucketCol, buckets, mode)
    }
    if (mode == SaveMode.Overwrite) drop(dir(path))
  }

  /** Delete directory `d` if it exists. */
  def drop(d: String): Unit = {
    val (fs, p) = LakeFs.resolve(d)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Re-attach every part (layout validated by [[Bucketed.register]]). */
  def attach(spark: SparkSession, lay: Layout, table: String, path: String,
             buckets: Int): Seq[DataFrame] =
    lay.parts.map(p => Bucketed.register(spark, table + p.suffix, path + p.suffix,
      p.bucketCol, buckets))

  /** Append each part's rows into its attached table. */
  def append(lay: Layout, parts: Seq[DataFrame], table: String, buckets: Int): Unit =
    lay.parts.zip(parts).foreach { case (p, df) =>
      Bucketed.appendRegistered(df, table + p.suffix, p.bucketCol, buckets)
    }

  /** Where a persisted index at `path` records removed ids. */
  def dir(path: String): String = s"${path}_tombstones"

  /** The current tombstone id set (deduped; an empty LONG-typed frame
    * when none have been recorded). */
  def tombstones(spark: SparkSession, lay: Layout, path: String): DataFrame = {
    val (fs, p) = LakeFs.resolve(dir(path))
    if (fs.exists(p)) spark.read.parquet(dir(path)).select(col(lay.idCol)).distinct()
    else spark.range(0).select(col("id").as(lay.idCol)).limit(0)
  }

  /** The live rows of attached parts `phys`: tombstoned ids removed, and
    * so are the ids of `except` (a fold's own batch, so that a replay
    * after its append still sees the pre-batch index). */
  def live(lay: Layout, path: String, phys: Seq[DataFrame],
           except: Option[DataFrame] = None): Seq[DataFrame] = phys.map { p =>
    val dead = tombstones(p.sparkSession, lay, path)
    (dead +: except.toSeq).foldLeft(p)((df, ids) =>
      df.join(broadcast(ids), Seq(lay.idCol), "left_anti"))
  }

  /** [[attach]] then [[live]]. */
  def attachLive(spark: SparkSession, lay: Layout, table: String, path: String,
                 buckets: Int): Seq[DataFrame] =
    live(lay, path, attach(spark, lay, table, path, buckets))

  /** Tombstone the one-column id frame `ids` and return, as a local
    * frame, those of its ids that were live in the physical index. */
  def delete(spark: SparkSession, lay: Layout, table: String, path: String,
             ids: DataFrame, buckets: Int): DataFrame = {
    require(ids.columns.length == 1, "ids must be a single id column")
    val c0 = col(ids.columns.head)
    // try_cast: a malformed id can never match an index row, so it drops
    // with the nulls (the FoldLoop.takedowns rule), never a cast error.
    val batch = ids.select((if (lay.longIds) c0.try_cast("long") else c0).as(lay.idCol))
      .where(col(lay.idCol).isNotNull).distinct().localCheckpoint()
    val phys = attach(spark, lay, table, path, buckets).last.select(col(lay.idCol))
    // Collected: takedown batches are small, and the driver-side
    // distinct folds LSH's one row per hash table.
    val liveIds = phys.join(tombstones(spark, lay, path), Seq(lay.idCol), "left_anti")
      .join(batch, Seq(lay.idCol), "left_semi").collect().distinct
    batch.write.mode(SaveMode.Append).parquet(dir(path))
    spark.createDataFrame(java.util.Arrays.asList(liveIds: _*), phys.schema)
  }

  /** Rewrite the live rows to a FRESH (`newTable`, `newPath`) with
    * `write` (default: [[persist]]) and return its attachment. */
  def compact(spark: SparkSession, lay: Layout, table: String, path: String,
              newTable: String, newPath: String, buckets: Int)(
      write: Seq[DataFrame] => Unit =
        persist(lay, _, newTable, newPath, buckets, SaveMode.ErrorIfExists)): Seq[DataFrame] = {
    require(LakeFs.canonical(newPath) != LakeFs.canonical(path),
      s"${lay.compactOp} never rewrites in place — write to a new path and swap")
    write(attachLive(spark, lay, table, path, buckets))
    attach(spark, lay, newTable, newPath, buckets)
  }

  /** The id guard of every append and fold batch: `id` must be non-NULL
    * and unique in `batch`, and long-castable when `longIds`; `where`
    * locates the batch in messages. Returns the batch's id count. */
  def requireIds(op: String, batch: DataFrame, id: Column, longIds: Boolean,
                 where: String = ""): Long = {
    val Array(nRows, nIds, nDistinct, nLong) = batch
      .agg(count(lit(1)), count(id), countDistinct(id),
        count(if (longIds) id.try_cast("long") else id))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(nRows == nIds, s"$op: ${nRows - nIds} NULL id row(s)$where — every row needs an id")
    require(nIds == nDistinct,
      s"$op: ${nIds - nDistinct} duplicate id value(s)$where — dedup the batch first")
    require(nIds == nLong,
      s"$op: ${nIds - nLong} id value(s)$where not castable to long — the persisted " +
        "index keys on integer ids; map string ids to a stable long upstream")
    nDistinct
  }

  /** How many physical rows of `phys` carry an id of `batchIds`. */
  def present(lay: Layout, phys: DataFrame, batchIds: DataFrame): Long =
    phys.select(col(lay.idCol)).join(batchIds, Seq(lay.idCol), "left_semi").count()

  /** Refuse a batch whose ids (`batchIds`, the layout's id column) exist
    * as physical rows of the id table `phys` — `clash` when the caller
    * already counted them. The message counts tombstoned twins and
    * names the compaction that makes them appendable again. */
  def requireNew(op: String, lay: Layout, table: String, path: String, phys: DataFrame,
                 batchIds: DataFrame, clash: Option[Long] = None): Unit = {
    val n = clash.getOrElse(present(lay, phys, batchIds))
    if (n != 0L) {
      val dead = tombstones(phys.sparkSession, lay, path)
        .join(batchIds, Seq(lay.idCol), "left_semi").count()
      throw new IllegalArgumentException(
        s"$op: $n batch id(s) already indexed in `$table` — appending would " +
          "duplicate their rows; dedup the batch first" +
          (if (dead > 0) s" ($dead of them are tombstoned deletions — " +
            s"${lay.compactOp} makes deleted ids re-appendable)" else ""))
    }
  }
}
