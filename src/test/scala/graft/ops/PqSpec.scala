package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Product quantization: codebook determinism and shape, exactness when
  * the corpus has ≤ k sub-patterns (the codebook can represent it
  * losslessly), ADC ≈ dot, recall of the re-ranked top-k against the
  * exact scan, and the loud/drop contracts on bad input. */
class PqSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def embeddings = TestSpark.table("embeddings")

  import scala.jdk.CollectionConverters._
  private val embSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  private def embDf(rows: (Any, Seq[Float])*) =
    spark.createDataFrame(
      rows.map { case (i, v) =>
        org.apache.spark.sql.Row(i, if (v == null) null else v)
      }.asJava, embSchema)

  // dim=8, m=2 fixture built from 3 known sub-patterns per subspace: every
  // vector is (pattern a, pattern b), so a k>=3 codebook represents the
  // corpus EXACTLY after Lloyd converges (each distinct sub-vector is its
  // own centroid).
  private val pats = Seq(
    Seq(1f, 0f, 0f, 0f), Seq(0f, 2f, 0f, 0f), Seq(0f, 0f, 3f, 1f))
  private def patVec(a: Int, b: Int): Seq[Float] = pats(a) ++ pats(b)
  private lazy val patCorpus = embDf(
    (for { a <- 0 to 2; b <- 0 to 2 } yield
      (a * 3 + b).toLong -> patVec(a, b)): _*)

  test("pqTrain: deterministic, layout-independent, shape-correct, k clamps to distinct sub-patterns") {
    val cb1 = Pq.pqTrain(patCorpus, col("vec_id"), col("embedding"), m = 2, k = 256, iters = 4)
    val cb2 = Pq.pqTrain(patCorpus.repartition(7), col("vec_id"), col("embedding"), m = 2, k = 256, iters = 4)
    assert(cb1.m == 2 && cb1.dim == 8 && cb1.subDim == 4)
    assert(cb1.k == 3, s"only 3 distinct sub-patterns exist, got k=${cb1.k}")
    assert(cb1.centroids.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.centroids.map(_.map(_.toSeq).toSeq).toSeq,
      "codebook must not depend on the input layout")
    // Lloyd over an exactly-representable corpus lands ON the patterns.
    assert(cb1.centroids.forall(_.forall(c => pats.contains(c.toSeq))),
      s"centroids must converge to the generating patterns")
  }

  test("pqTrain: subspaces with unequal diversity pad to a rectangular codebook; pads never win") {
    // Subspace 0 has 3 distinct sub-vectors, subspace 1 only 1 (sparse /
    // zero-padded embeddings are the real-world shape): the codebook must
    // come out rectangular, with the sparse side padded by repeats that
    // the lowest-code tie-break can never emit.
    val sparse = embDf(
      0L -> (pats(0) ++ Seq(0f, 0f, 0f, 0f)),
      1L -> (pats(1) ++ Seq(0f, 0f, 0f, 0f)),
      2L -> (pats(2) ++ Seq(0f, 0f, 0f, 0f)))
    val cb = Pq.pqTrain(sparse, col("vec_id"), col("embedding"), m = 2, k = 8, iters = 3)
    assert(cb.k == 3 && cb.centroids.forall(_.length == 3),
      s"rectangular codebook expected, got k=${cb.k}")
    // Encoding uses only code 0 for the constant subspace (pads unused).
    val codes = Pq.pqEncodeDf(sparse, col("vec_id"), col("embedding"), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(codes.values.forall(_(1) == (-128).toByte),
      s"the constant subspace must always encode to code 0: $codes")
    assert(codes.values.map(_(0)).toSet.size == 3,
      "the diverse subspace must use three distinct codes")
  }

  test("encode + ADC are exact on a representable corpus; codes round-trip the offset") {
    val cb = Pq.pqTrain(patCorpus, col("vec_id"), col("embedding"), m = 2, k = 4, iters = 4)
    val codes = Pq.pqEncodeDf(patCorpus, col("vec_id"), col("embedding"), cb)
    assert(codes.count() == 9)
    // ADC(probe, vec) == dot(probe, vec) when quantization is lossless.
    val probe = embDf(100L -> Seq(2f, 1f, 0f, 1f, 0f, 1f, 2f, 0f))
    val luts = Pq.pqLutDf(probe, col("vec_id"), col("embedding"), cb)
    val adc = luts.crossJoin(codes)
      .select(col("g_id"), Pq.adcScore(col("codes"), col("lut")).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = probe.select(col("embedding").as("p")).crossJoin(patCorpus)
      .select(col("vec_id"), VectorOps.dot(col("p"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    exact.foreach { case (gid, d) =>
      assert(math.abs(adc(gid) - d) < 1e-9,
        s"lossless codebook must reproduce the dot for $gid: adc=${adc(gid)} dot=$d")
    }
  }

  test("pqTopK: re-ranked recall vs the exact scan on the real fixture") {
    val emb = embeddings.select(col("vec_id"),
      Pq.l2normalize(col("embedding")).as("embedding")).localCheckpoint()
    val cb = Pq.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 8, k = 64, iters = 4, sampleN = 2000)
    val probes = emb.where(col("vec_id") < 20)
    val got = Pq.pqTopK(probes, emb, cb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact top-10 per probe (unit vectors: cosine == dot ranking).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(nanvl(col("s"), lit(-2.0)).desc, col("g_id"))
    val want = probes.select(col("vec_id").as("p_id"), col("embedding").as("p"))
      .crossJoin(emb.select(col("vec_id").as("g_id"), col("embedding").as("g")))
      .withColumn("s", VectorOps.cosine6(col("p"), col("g")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .select("p_id", "g_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.8, s"re-ranked PQ recall@10 = $recall < 0.8 " +
      s"(${(got & want).size}/${want.size})")
    // The re-rank contract: every returned similarity is the float cosine,
    // so each probe's rows arrive exactly ranked.
    assert(got.size == want.size, "k rows per probe")
  }

  test("pqTopKIvf: recall on the fixture; candidates come from an equi join on the cluster id") {
    val emb = embeddings.select(col("vec_id"),
      Pq.l2normalize(col("embedding")).as("embedding")).localCheckpoint()
    val cents = Ann.kmeans(emb, 8, iters = 2).localCheckpoint()
    val cb = Pq.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 8, k = 64, iters = 4, sampleN = 2000)
    val probes = emb.where(col("vec_id") < 20)
    val df = Pq.pqTopKIvf(probes, emb, cents, cb, k = 10, nprobe = 3)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(nanvl(col("s"), lit(-2.0)).desc, col("g_id"))
    val want = probes.select(col("vec_id").as("p_id"), col("embedding").as("p"))
      .crossJoin(emb.select(col("vec_id").as("g_id"), col("embedding").as("g")))
      .withColumn("s", VectorOps.cosine6(col("p"), col("g")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .select("p_id", "g_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.7, s"IVF-PQ recall@10 = $recall < 0.7 at nprobe=3/8")
    // Plan: never probes × gallery — the only nested-loop join is the
    // probe↔centroid cell pick against the broadcast centroid table; the
    // candidate join is hash-keyed on cid; the coarse cut pushes below
    // the ranking window.
    // Unwrap AQE (the adaptive plan string prints the initial plan too,
    // double-counting reused subtrees).
    val p = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }).toString
    assert(!p.contains("CartesianProduct"), s"cross product in IVF-PQ:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"more nested-loop joins than the centroid cell pick:\n$p")
    val hashJoins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\\n]*".r
      .findAllIn(p).toSeq
    assert(hashJoins.exists(_.contains("cid")),
      s"candidate join not keyed on the cluster id:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"overfetch cut should push below the window:\n$p")
    // Pre-built index path ≡ inline build.
    val idx = Pq.pqIvfIndex(emb, cents, cb).localCheckpoint()
    val got2 = Pq.pqTopKIvf(probes, emb, cents, cb, k = 10, nprobe = 3,
      galleryIndex = Some(idx))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == got, "persisted-index probe must equal the inline build")
  }

  test("appendPqIndex: folded index ≡ fresh build; clash/dup/null refuse") {
    val emb = embeddings.select(col("vec_id"),
      Pq.l2normalize(col("embedding")).as("embedding")).localCheckpoint()
    val cents = Ann.kmeans(emb, 8, iters = 2).localCheckpoint()
    val cb = Pq.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 8, k = 64, iters = 4, sampleN = 2000)
    val seed = emb.where(col("vec_id") < 400)
    val batch = emb.where(col("vec_id") >= 400)
    val root = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    try {
      Pq.persistPqIndex(Pq.pqIvfIndex(seed, cents, cb), "pq_w", s"$root/idx",
        buckets = 4)
      val report = Pq.appendPqIndex(spark, "pq_w", s"$root/idx", batch, cents, cb,
        buckets = 4)
      assert(report.agg(sum("appended_n")).head().getLong(0) == batch.count())
      // Grown index ≡ fresh full build (frozen codebook + centroids make
      // assignment and codes append-invariant by construction).
      val grown = Pq.loadPqIndex(spark, "pq_w", s"$root/idx", buckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Byte](2))).toSet
      val fresh = Pq.pqIvfIndex(emb, cents, cb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Byte](2))).toSet
      assert(grown == fresh, "appended index must equal the fresh build")
      // Probing the grown index ≡ the inline path.
      val probes = emb.where(col("vec_id") < 20)
      val viaIdx = Pq.pqTopKIvf(probes, emb, cents, cb, k = 10, nprobe = 3,
        galleryIndex = Some(Pq.loadPqIndex(spark, "pq_w", s"$root/idx", buckets = 4)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inline = Pq.pqTopKIvf(probes, emb, cents, cb, k = 10, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIdx == inline)
      // Hygiene: already-indexed, in-batch duplicate, and null ids refuse.
      intercept[IllegalArgumentException] {
        Pq.appendPqIndex(spark, "pq_w", s"$root/idx", batch, cents, cb, buckets = 4)
      }
      intercept[IllegalArgumentException] {
        Pq.appendPqIndex(spark, "pq_w", s"$root/idx",
          embDf(9000L -> patVec(0, 1), 9000L -> patVec(1, 1))
            .select(col("vec_id"), Pq.l2normalize(col("embedding")).as("embedding")),
          cents, cb, buckets = 4)
      }
      intercept[IllegalArgumentException] {
        Pq.appendPqIndex(spark, "pq_w", s"$root/idx",
          embDf((null: Any) -> patVec(0, 1)), cents, cb, buckets = 4)
      }
    } finally spark.sql("DROP TABLE IF EXISTS `pq_w`")
  }

  test("PQ index takedowns: tombstoned ids stop being retrievable; compaction restores appendability") {
    val emb = embeddings.select(col("vec_id"),
      Pq.l2normalize(col("embedding")).as("embedding")).localCheckpoint()
    val cents = Ann.kmeans(emb, 8, iters = 2).localCheckpoint()
    val cb = Pq.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 8, k = 64, iters = 4, sampleN = 2000)
    val root = java.nio.file.Files.createTempDirectory("graft-pqtk").toString
    try {
      Pq.persistPqIndex(Pq.pqIvfIndex(emb, cents, cb), "pq_tk", s"$root/idx",
        buckets = 4)
      // Probe 0's own vector is its top hit; take it down (excluding
      // self-matches would be a search-side choice — here doc 0 IS the
      // takedown victim).
      val probes = emb.where(col("vec_id") === 0)
      def hits(): Set[Long] = Pq.pqTopKIvf(probes, emb, cents, cb, k = 5,
        nprobe = 3,
        galleryIndex = Some(Pq.loadPqIndexLive(spark, "pq_tk", s"$root/idx", buckets = 4)))
        .collect().map(_.getLong(1)).toSet
      assert(hits().contains(0L), "own vector must be the top hit before deletion")
      assert(Pq.deleteFromPqIndex(spark, "pq_tk", s"$root/idx",
        emb.where(col("vec_id") === 0).select("vec_id"), buckets = 4) == 1L)
      assert(!hits().contains(0L), "tombstoned id must stop being retrievable")
      // Idempotent re-delete / never-indexed → 0 live.
      assert(Pq.deleteFromPqIndex(spark, "pq_tk", s"$root/idx",
        emb.where(col("vec_id") === 0).select("vec_id"), buckets = 4) == 0L)
      // Physical row still there; live view hides it; re-append refused
      // on the PHYSICAL clash.
      val phys = Pq.loadPqIndex(spark, "pq_tk", s"$root/idx", buckets = 4)
      assert(phys.where(col("g_id") === 0L).count() == 1L)
      assert(Pq.loadPqIndexLive(spark, "pq_tk", s"$root/idx", buckets = 4)
        .where(col("g_id") === 0L).count() == 0L)
      intercept[IllegalArgumentException] {
        Pq.appendPqIndex(spark, "pq_tk", s"$root/idx",
          emb.where(col("vec_id") === 0), cents, cb, buckets = 4)
      }
      // Compaction: fresh path only; debt cleared; the id re-appends.
      intercept[IllegalArgumentException] {
        Pq.compactPqIndex(spark, "pq_tk", s"$root/idx", "pq_tk2", s"$root/idx")
      }
      Pq.compactPqIndex(spark, "pq_tk", s"$root/idx", "pq_tk2", s"$root/idx2",
        buckets = 4)
      assert(Pq.pqTombstones(spark, s"$root/idx2").count() == 0L)
      assert(Pq.loadPqIndex(spark, "pq_tk2", s"$root/idx2", buckets = 4)
        .where(col("g_id") === 0L).count() == 0L)
      Pq.appendPqIndex(spark, "pq_tk2", s"$root/idx2",
        emb.where(col("vec_id") === 0), cents, cb, buckets = 4)
      assert(Pq.loadPqIndex(spark, "pq_tk2", s"$root/idx2", buckets = 4)
        .where(col("g_id") === 0L).count() == 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS `pq_tk`")
      spark.sql("DROP TABLE IF EXISTS `pq_tk2`")
    }
  }

  test("appendPqIndex: a tombstoned clash names compactPqIndex") {
    val cb = Pq.pqTrain(patCorpus, col("vec_id"), col("embedding"), m = 2, k = 3, iters = 4)
    val cents = patCorpus.where(col("vec_id") < 2)
    val root = java.nio.file.Files.createTempDirectory("graft-pqclash").toString
    try {
      Pq.persistPqIndex(Pq.pqIvfIndex(patCorpus, cents, cb), "pq_cl", s"$root/idx",
        buckets = 2)
      val v3 = patCorpus.where(col("vec_id") === 3)
      assert(Pq.deleteFromPqIndex(spark, "pq_cl", s"$root/idx", v3.select("vec_id"),
        buckets = 2) == 1L)
      val e = intercept[IllegalArgumentException] {
        Pq.appendPqIndex(spark, "pq_cl", s"$root/idx", v3, cents, cb, buckets = 2)
      }
      assert(e.getMessage.contains("tombstoned") && e.getMessage.contains("compactPqIndex"),
        e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS `pq_cl`")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("loud and drop contracts: ragged vectors throw, nulls drop, bad params refuse") {
    val cb = Pq.pqTrain(patCorpus, col("vec_id"), col("embedding"), m = 2, k = 4, iters = 2)
    // Ragged vector: encode fails loudly (silent truncation would corrupt
    // every later search).
    val ragged = embDf(1L -> Seq(1f, 2f))
    val e = intercept[org.apache.spark.SparkException] {
      Pq.pqEncodeDf(ragged, col("vec_id"), col("embedding"), cb).collect()
    }
    assert(e.getMessage.contains("codebook dim") ||
      Option(e.getCause).exists(_.getMessage.contains("codebook dim")))
    // Null id / null vector rows drop (unsearchable, never fatal).
    val withNulls = embDf(1L -> patVec(0, 1), (null: Any) -> patVec(1, 1),
      2L -> null)
    assert(Pq.pqEncodeDf(withNulls, col("vec_id"), col("embedding"), cb).count() == 1)
    // Parameter hygiene.
    intercept[IllegalArgumentException] {
      Pq.pqTrain(patCorpus, col("vec_id"), col("embedding"), m = 3, k = 4)
    }
    intercept[IllegalArgumentException] {
      Pq.pqTrain(patCorpus, col("vec_id"), col("embedding"), m = 2, k = 257)
    }
    intercept[IllegalArgumentException] {
      Pq.pqTopK(patCorpus, patCorpus, cb, k = 0)
    }
    // l2normalize: unit output, zero and empty vectors pass through.
    val norms = embDf(1L -> Seq(3f, 4f), 2L -> Seq(0f, 0f), 3L -> Seq[Float]())
      .select(col("vec_id"), VectorOps.norm2(Pq.l2normalize(col("embedding"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(norms(1L) - 1.0) < 1e-6) // float32 storage rounding
    assert(norms(2L) == 0.0 && norms(3L) == 0.0)
  }

  test("coarse window ranks NaN ADC last — degenerate codebook entries must not flood the candidate set") {
    val spark2 = spark
    import spark2.implicits._
    // m=1, k=2 codebook with one NaN centroid (what training over a
    // corpus containing NaN vectors can produce): candidates carrying the
    // NaN code get NaN ADC while healthy candidates score real numbers.
    // Spark sorts NaN above every double, so without the nanvl floor the
    // degenerate candidates would STEAL the whole coarse set (k=1,
    // overfetch=2 → only 2 coarse slots) and the exact re-rank could only
    // pick among junk.
    val cb = Pq.PqCodebook(1, 2, 2,
      Array(Array(Array(Float.NaN, Float.NaN), Array(1f, 0f))))
    val gallery = embDf(
      1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f),
      3L -> Seq(-1f, 0f), 4L -> Seq(-1f, 0.1f))
    // Hand-built codes (the persisted-index path): 3 and 4 carry the NaN
    // centroid's code 0 (stored −128), 1 and 2 the healthy code 1 (−127).
    val codes = Seq(
      1L -> Seq((-127).toByte), 2L -> Seq((-127).toByte),
      3L -> Seq((-128).toByte), 4L -> Seq((-128).toByte)).toDF("g_id", "codes")
    val probes = embDf(10L -> Seq(1f, 0f))
    val top = Pq.pqTopK(probes, gallery, cb, k = 1, overfetch = 2,
        galleryCodes = Some(codes))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.toSeq == Seq((10L, 1L, 1.0)),
      s"NaN-ADC candidates must rank last in the coarse cut, got ${top.toSeq}")
  }
}
