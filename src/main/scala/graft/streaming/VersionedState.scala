package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.LakeFs

/** The versioned-directory state store behind [[FoldLoop]]'s
  * replace-version commit mode, used by the twelve loops whose state is
  * rewritten per batch (Agg, Classifier, Cluster, Dedup, Distinct,
  * Label, Manifest, Pack, Rank, Sketch, TopK, Upsert): `stateDir/v<N>`
  * holds the state after folding batches `0..N-1`; a version is VALID
  * only with its `_SUCCESS` marker (a crash mid-write leaves an
  * ignorable partial); batch N reads the latest valid version ≤ N,
  * overwrites `v<N+1>` (replay of an uncommitted batch rewrites it), and
  * garbage-collects versions older than the one it read — which no
  * replay can need, since a replayed batch id is never below the
  * current one ([[commit]] is that whole step). All listing and
  * deletion goes through the Hadoop `FileSystem` API ([[LakeFs]]), so the
  * state dir may live on the local filesystem, `hdfs://`, or `s3a://` —
  * the same stores the streams themselves checkpoint to. */
private[streaming] object VersionedState {

  def versionPath(stateDir: String, v: Long): String = s"$stateDir/v$v"

  /** Versions with a `_SUCCESS` marker — complete, readable state —
    * ascending (listing order is the store's: byte order puts `v10`
    * before `v9`). */
  def validVersions(stateDir: String): Seq[Long] = {
    val (fs, root) = LakeFs.resolve(stateDir)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory &&
          n.startsWith("v") && n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit) &&
          fs.exists(new Path(st.getPath, "_SUCCESS"))) Some(n.drop(1).toLong)
      else None
    }.sorted
  }

  /** Latest valid version at or below `maxVersion` (the one batch
    * `maxVersion` must read). */
  def priorVersion(stateDir: String, maxVersion: Long): Option[Long] =
    validVersions(stateDir).filter(_ <= maxVersion).maxOption

  def read(spark: SparkSession, stateDir: String, v: Long,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.parquet(versionPath(stateDir, v))
  }

  /** Overwrite-write one version — deterministic content makes checkpoint
    * replay rewrite the same state. */
  def write(df: DataFrame, stateDir: String, v: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(versionPath(stateDir, v))

  /** Seed `v0` with batch-era state; refuses to clobber an existing VALID
    * seed, but overwrites a `_SUCCESS`-less partial (a crash mid-seed
    * must not wedge the state dir until someone hand-deletes it). */
  def seed(df: DataFrame, stateDir: String): Unit = {
    val (fs, p) = LakeFs.resolve(versionPath(stateDir, 0L))
    val partial = fs.exists(p) && !fs.exists(new Path(p, "_SUCCESS"))
    df.write.mode(if (partial) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .parquet(versionPath(stateDir, 0L))
  }

  /** The latest valid version as a frame, if any state exists. */
  def latest(spark: SparkSession, stateDir: String,
             schema: Option[StructType] = None): Option[DataFrame] =
    validVersions(stateDir).maxOption.map(read(spark, stateDir, _, schema))

  /** The replace-version commit of batch `batchId`: hand the latest
    * valid version ≤ `batchId` (None before any state or seed exists) to
    * `next`, overwrite `v<batchId+1>` with what it returns, then GC the
    * versions below the one read (skipped with `gc = false`, for loops
    * whose old versions are readable history). `next` may write the
    * batch's own outputs first; returning None writes and GCs nothing. */
  def commit(spark: SparkSession, stateDir: String, batchId: Long,
             schema: Option[StructType] = None, gc: Boolean = true)
            (next: Option[DataFrame] => Option[DataFrame]): Unit = {
    val priorV = priorVersion(stateDir, batchId)
    next(priorV.map(read(spark, stateDir, _, schema))).foreach { df =>
      write(df, stateDir, batchId + 1)
      if (gc) priorV.foreach(gcBelow(stateDir, _))
    }
  }

  /** Delete valid versions strictly below `keepFrom`. */
  def gcBelow(stateDir: String, keepFrom: Long): Unit =
    validVersions(stateDir).filter(_ < keepFrom).foreach { v =>
      val (fs, p) = LakeFs.resolve(versionPath(stateDir, v))
      fs.delete(p, true)
    }
}
