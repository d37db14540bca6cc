package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.api.Pipelines
import graft.ops.DedupOps
import graft.streaming.{DedupLoop, NearDupLoop}

/** Two streaming folds over one file source: `DedupLoop` rewrites its full
  * versioned fingerprint state each batch and `NearDupLoop` appends to its
  * bucketed index. Both start from a seeded state. One operation drops one
  * parquet file of generated documents and waits until both loops have
  * committed it. */
final class StreamFold extends Workload {
  private val (k, bands, tau, buckets) = (8, 4, 0.8, 8)
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private var seedDocs = 0
  private var batchSize = 0
  private val texts = ArrayBuffer.empty[String]
  private var queries: Seq[StreamingQuery] = Nil
  private var batches = 0

  def gen(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val nBase = if (ctx.tiny) 80 else 2500
    batchSize = if (ctx.tiny) 40 else 300
    val c = Gen.corpus(ctx.seed, nBase, gibShare = 0.0, nEval = 0)
    texts ++= c.docs.map(_._2)
    seedDocs = texts.size
    c.docs.toDF("doc_id", "text").write.mode("overwrite").parquet(ctx.inputPath("seed_docs"))
    // The fingerprint state of the seed docs plus rows from earlier crawls.
    val docs = spark.read.parquet(ctx.inputPath("seed_docs"))
    Pipelines.dedupState(docs, col("doc_id"), col("text"))
      .unionByName(spark.range(if (ctx.tiny) 1000L else 300000L)
        .select(concat(lit("old-"), hex(xxhash64(col("id"), lit(ctx.seed)))).as("sigkey"),
          (col("id") + 1000000000000L).as("keep_id")))
      .write.mode("overwrite").parquet(ctx.inputPath("seed_state"))
  }

  def register(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Files.createDirectories(ctx.dir.resolve("src"))
    DedupLoop.seedState(spark.read.parquet(ctx.inputPath("seed_state")), ctx.path("dedup_state"))
    NearDupLoop.seedIndex(spark.read.parquet(ctx.inputPath("seed_docs")), "doc_id", "text",
      "pb_neardup", ctx.path("neardup_index"), k, bands, buckets)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(ctx.path("src"))
    queries = Seq(
      DedupLoop.run(stream, "doc_id", "text", ctx.path("dedup_state"), ctx.path("dedup_out"),
        ctx.path("dedup_ckpt"), k),
      NearDupLoop.run(stream, "doc_id", "text", "", "pb_neardup", ctx.path("neardup_index"),
        ctx.path("neardup_out"), ctx.path("neardup_ckpt"), k, bands, tau, buckets))
  }

  /** Writes batch `j` as one parquet file outside the source directory. */
  private def stage(ctx: Ctx, j: Int): Path = {
    val spark = ctx.spark
    import spark.implicits._
    val first = texts.size.toLong
    val docs = Gen.streamBatch(ctx.seed, j, batchSize, first, i => texts(i.toInt), first)
    texts ++= docs.map(_._2)
    val out = ctx.dir.resolve(s"stage/b$j")
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(out.toString)
    val s = Files.list(out)
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  private def committed(j: Int): Boolean = queries.forall { q =>
    if (!q.isActive) throw new IllegalStateException(s"stream stopped: ${q.exception}")
    q.recentProgress.exists(p => p.batchId == j && p.numInputRows > 0)
  }

  def unit(ctx: Ctx): Seq[OpRecord] = {
    val j = batches; batches += 1
    val file = stage(ctx, j)
    val inBytes = Files.size(file).toDouble
    val wall0 = System.currentTimeMillis()
    val rec = ctx.attempt("batch") {
      Files.move(file, ctx.dir.resolve(f"src/b$j%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      ctx.tr.span("commit", "streaming") {
        val deadline = System.nanoTime() + 60e9.toLong
        while (!committed(j)) {
          require(System.nanoTime() < deadline, s"batch $j not committed within 60 s")
          Thread.sleep(2)
        }
      }
    }(_ => None)
    if (ctx.tr.enabled) {
      val written = bytesSince(ctx, wall0)
      ctx.record("sources.state_write_mb", written / 1e6)
      ctx.record("sources.write_amp", written / inBytes)
    }
    Seq(rec)
  }

  /** Bytes of the files the loops wrote (state, index, output, checkpoints)
    * since `wallMs`. */
  private def bytesSince(ctx: Ctx, wallMs: Long): Double = {
    val skip = Set("src", "stage").map(ctx.dir.resolve)
    val s = Files.walk(ctx.dir)
    try s.iterator().asScala
      .filter(p => !skip.exists(p.startsWith) && Files.isRegularFile(p))
      .filter(p => Files.getLastModifiedTime(p).toMillis >= wallMs)
      .map(p => Files.size(p).toDouble).sum
    finally s.close()
  }

  override def teardown(ctx: Ctx): Unit = {
    queries.foreach(_.stop())
    queries = Nil
  }

  /** The loops' outputs must equal the one-shot results over the same
    * documents, as DedupLoopSpec and NearDupLoopSpec pin. */
  override def finish(ctx: Ctx): Seq[OpRecord] = {
    teardown(ctx)
    val spark = ctx.spark
    import spark.implicits._
    Seq(ctx.attempt("final_check") {
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
        .toDF("doc_id", "text").localCheckpoint()
      val fresh = all.where(col("doc_id") >= seedDocs)
      val survivors = ids(spark.read.parquet(ctx.path("dedup_out")))
      val expectSurvivors = ids(Pipelines.dedupAgainst(fresh, col("doc_id"), col("text"),
        spark.read.parquet(ctx.inputPath("seed_state"))).where(!col("is_dup")))
      val pairs = pairSet(spark.read.parquet(ctx.path("neardup_out")))
      // Pairs between two seed docs were never the loop's to emit.
      val expectPairs = pairSet(DedupOps.minhashLshDocs(all, col("doc_id"), col("text"), k, bands, tau)
        .where(greatest(col("d1"), col("d2")) >= seedDocs))
      (if (ctx.perturb) survivors.drop(1) else survivors, expectSurvivors, pairs, expectPairs)
    } { case (s, es, p, ep) =>
      if (s != es) Some(s"DedupLoop kept ${s.size} docs, one-shot keeps ${es.size}")
      else if (p != ep) Some(s"NearDupLoop emitted ${p.size} pairs, one-shot finds ${ep.size}")
      else if (es.isEmpty || ep.isEmpty) Some("empty one-shot result: the check would be vacuous")
      else None
    })
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val b = ops.filter(_.name == "batch")
    Seq(("batch_p50_s", Workload.median(b.map(_.seconds)), "s"),
      ("ingest_docs_per_s", if (b.isEmpty) 0.0 else b.size * batchSize / b.map(_.seconds).sum, "1/s"))
  }
}
