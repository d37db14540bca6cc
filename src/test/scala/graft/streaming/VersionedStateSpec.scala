package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** VersionedState is the loops' durability layer; it must work over any
  * Hadoop-filesystem URI (the stores streams checkpoint to), honor the
  * `_SUCCESS`-marker validity rule, and garbage-collect safely. */
class VersionedStateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def tmp(tag: String): String =
    "file:" + Files.createTempDirectory(s"graft-vstate-$tag").toString + "/state"

  private def frame(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
  }

  test("seed/read/write/latest/gc over a file:-scheme state dir") {
    val dir = tmp("cycle")
    assert(VersionedState.validVersions(dir).isEmpty)
    VersionedState.seed(frame(3), dir)
    assert(VersionedState.validVersions(dir) == Seq(0L))
    // A second seed must refuse to clobber valid state.
    intercept[org.apache.spark.sql.AnalysisException] {
      VersionedState.seed(frame(5), dir)
    }
    VersionedState.write(frame(4), dir, 1L)
    VersionedState.write(frame(5), dir, 2L)
    assert(VersionedState.validVersions(dir).sorted == Seq(0L, 1L, 2L))
    assert(VersionedState.priorVersion(dir, 1L).contains(1L))
    assert(VersionedState.latest(spark, dir).map(_.count()).contains(5L))
    VersionedState.gcBelow(dir, 2L)
    assert(VersionedState.validVersions(dir).sorted == Seq(2L))
    assert(VersionedState.read(spark, dir, 2L).count() == 5L)
  }

  test("a _SUCCESS-less partial is invisible and re-seedable") {
    val dir = tmp("partial")
    VersionedState.write(frame(2), dir, 0L)
    // Simulate a crash mid-write: remove the success marker.
    val (fs, p) = graft.sources.LakeFs.resolve(VersionedState.versionPath(dir, 0L))
    assert(fs.delete(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), false))
    assert(VersionedState.validVersions(dir).isEmpty)
    assert(VersionedState.latest(spark, dir).isEmpty)
    // seed() overwrites the partial instead of wedging the state dir.
    VersionedState.seed(frame(7), dir)
    assert(VersionedState.validVersions(dir) == Seq(0L))
    assert(VersionedState.read(spark, dir, 0L).count() == 7L)
  }

  test("stray non-version entries in the state dir are ignored") {
    val dir = tmp("stray")
    VersionedState.seed(frame(1), dir)
    val (fs, root) = graft.sources.LakeFs.resolve(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "vNaN"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "backup"))
    fs.create(new org.apache.hadoop.fs.Path(root, "v9")).close() // a FILE, not a dir
    assert(VersionedState.validVersions(dir) == Seq(0L))
  }

  test("validVersions is ascending whatever order the store lists v0..v11 in") {
    val dir = tmp("order")
    val (fs, root) = graft.sources.LakeFs.resolve(dir)
    Seq(11L, 9L, 10L, 2L, 0L, 7L, 1L, 8L, 5L, 3L, 6L, 4L).foreach { v =>
      fs.create(new org.apache.hadoop.fs.Path(root, s"v$v/_SUCCESS")).close()
    }
    assert(VersionedState.validVersions(dir) == (0L to 11L))
    assert(VersionedState.priorVersion(dir, 10L).contains(10L))
  }
}
