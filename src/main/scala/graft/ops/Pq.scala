package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public recipe): compress a
  * d-dim float vector into `m` one-byte codes by splitting it into m
  * subspaces and vector-quantizing each against its own `k ≤ 256`-entry
  * codebook. The 100 TB rationale extends the [[VectorOps.quantizeInt8]]
  * bandwidth argument an order of magnitude: int8 reads d bytes per
  * vector (4× under float32); PQ reads m bytes (d/m · 4× further — 32×
  * total at d=64, m=8), and scoring a candidate is m table lookups
  * instead of a d-length dot product. The price is lossy reconstruction:
  * PQ ranks by an APPROXIMATE inner product, so production searches
  * re-rank survivors with the float vectors ([[pqTopK]] `overfetch`),
  * exactly like the int8 path.
  *
  * Metric contract: ADC ([[adcScore]]) approximates the INNER PRODUCT
  * `dot(query, vector)`. For cosine ranking, L2-normalize BOTH sides
  * before training/encoding ([[l2normalize]]) — dot over unit vectors IS
  * cosine. This is the standard PQ-for-cosine reduction; the codebook
  * then lives on the unit sphere and quantization error is angular.
  *
  * Scale posture by stage:
  *  - TRAIN ([[pqTrain]]): Lloyd iterations per subspace over a BOUNDED
  *    deterministic sample (md5-ordered top-`sampleN` — one
  *    TakeOrderedAndProject job, no full-corpus pass), solved on the
  *    driver: the model is m·k·(d/m) = k·d floats (64 KB at d=64,
  *    k=256), the [[Ann.kmeans]]-literal / LM-vocabulary posture —
  *    driver-scale by construction, shipped broadcast.
  *  - ENCODE ([[pqEncodeDf]]): one narrow typed mapPartitions pass (no
  *    UDF, no shuffle) — scalar argmin loops against the broadcast
  *    codebook beat a k·m-literal Catalyst expression tree (the
  *    linkGraph §6 lesson: never build 10³-node expression columns).
  *  - SCORE ([[pqTopK]]): per probe, ONE m·k lookup table (computed
  *    once, probe-side), then every candidate costs m array lookups
  *    inside a codegen'd HOF — the asymmetric distance computation.
  *
  * Cross-engine note: float k-means is order-sensitive, so PQ is
  * spec-graded like [[Ann.kmeans]]/SemDeDup, not oracle-declared. */
object Pq {

  /** Trained codebook: `centroids(j)(c)` is sub-quantizer `j`'s centroid
    * `c` (length dim/m). `k ≤ 256` so a code always fits one byte
    * (stored offset by −128 in array<tinyint>). */
  final case class PqCodebook(m: Int, dim: Int, k: Int,
                              centroids: Array[Array[Array[Float]]]) {
    val subDim: Int = dim / m
    require(m >= 1 && dim % m == 0,
      s"m=$m must divide dim=$dim (equal subspaces)")
    require(k >= 1 && k <= 256, s"k=$k must be in [1, 256] (one-byte codes)")
    require(centroids.length == m &&
      centroids.forall(cs => cs.length == k && cs.forall(_.length == subDim)),
      "codebook shape must be m x k x (dim/m)")
  }

  /** L2-normalize a float vector column (unit sphere; all-zero and empty
    * vectors pass through unchanged — no ANSI divide, H13). Apply to
    * BOTH train/encode and probe sides when cosine ranking is wanted. */
  def l2normalize(vec: Column): Column = {
    val n = VectorOps.norm2(vec)
    when(n === 0.0, vec)
      .otherwise(transform(vec, x => (x.cast("double") / n).cast("float")))
  }

  private def sq(x: Double): Double = x * x

  /** Nearest-centroid code for one sub-vector: squared-L2 argmin, ties to
    * the LOWEST code (deterministic). */
  private def nearestCode(sub: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0; var i = 0
      while (i < sub.length) { d += sq(sub(i) - cent(i)); i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Train `m` sub-quantizers with `iters` Lloyd rounds each, on the
    * md5-ordered top-`sampleN` sample of `df` (deterministic
    * pseudo-random — the q105 exact-k discipline — so the codebook is
    * identical run to run). Initial centroids are the sample's first
    * distinct sub-vectors per subspace; clusters that lose every member
    * keep their centroid (the [[Ann.kmeans]] rule). `k` is clamped to
    * the number of distinct sub-vectors available (a tiny corpus cannot
    * fill 256 cells). */
  def pqTrain(df: DataFrame, id: Column, vec: Column,
              m: Int, k: Int = 256, iters: Int = 8,
              sampleN: Int = 16384): PqCodebook = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(sampleN >= 1, s"sampleN must be >= 1, got $sampleN")
    require(k >= 1 && k <= 256, s"k=$k must be in [1, 256] (one-byte codes)")
    val rows = df.where(vec.isNotNull)
      .select(vec.as("v"), md5(concat_ws(":", lit("pq"), id.cast("string"))).as("h"))
      .where(col("h").isNotNull)
      .orderBy(col("h"))
      .limit(sampleN)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "pqTrain: no non-null vectors to train on")
    val dim = rows.head.length
    require(dim >= 1 && dim % m == 0,
      s"m=$m must divide the vector dim $dim (equal subspaces)")
    rows.foreach(v => require(v.length == dim,
      s"pqTrain: ragged vector lengths ${v.length} vs $dim — fix the corpus"))
    val subDim = dim / m
    val centroids = Array.tabulate(m) { j =>
      val subs = rows.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      // Deterministic init: first k DISTINCT sub-vectors in sample order.
      val seen = scala.collection.mutable.LinkedHashSet[Seq[Float]]()
      subs.iterator.takeWhile(_ => seen.size < k).foreach(s => seen += s.toSeq)
      var cents = seen.toArray.map(_.toArray)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](subDim))
        val counts = new Array[Long](cents.length)
        subs.foreach { s =>
          val c = nearestCode(s, cents)
          counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += s(i); i += 1 }
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0L) cents(c) // empty cell keeps its centroid
          else sums(c).map(x => (x / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
    // Subspaces clamp independently (a sparse subspace may hold fewer
    // distinct sub-vectors than a diverse one); the codebook is
    // rectangular, so pad short subspaces by REPEATING their first
    // centroid — nearestCode breaks distance ties toward the LOWEST
    // code, so a padded duplicate can never be emitted and ADC never
    // looks one up.
    val kOut = centroids.map(_.length).max
    val padded = centroids.map { cs =>
      if (cs.length == kOut) cs
      else cs ++ Array.fill(kOut - cs.length)(cs.head)
    }
    PqCodebook(m, dim, kOut, padded)
  }

  /** Encode a corpus: `(g_id bigint, codes array<tinyint>)` — code c is
    * stored as c − 128 so k = 256 fits the signed byte. One narrow
    * mapPartitions pass against the broadcast codebook; rows with NULL
    * id or vector are dropped (an unsearchable row, the
    * [[Ann.buildSemDedupState]] posture), a wrong-length vector fails
    * loudly (silent truncation would corrupt every later search). */
  def pqEncodeDf(df: DataFrame, id: Column, vec: Column,
                 cb: PqCodebook): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    df.select(id.cast("long").as("g_id"), vec.as("v"))
      .where(col("g_id").isNotNull && col("v").isNotNull)
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (gid, v) =>
          require(v.length == b.dim,
            s"pqEncodeDf: vector of length ${v.length} != codebook dim ${b.dim} (id $gid)")
          val arr = v.toArray
          val codes = new Array[Byte](b.m)
          var j = 0
          while (j < b.m) {
            val sub = java.util.Arrays.copyOfRange(arr, j * b.subDim, (j + 1) * b.subDim)
            codes(j) = (nearestCode(sub, b.centroids(j)) - 128).toByte
            j += 1
          }
          // Seq[Byte], not Array[Byte]: the array encoder would emit
          // BINARY (opaque to HOFs); Seq encodes as array<tinyint>.
          (gid, codes.toSeq)
        }
      }.toDF("g_id", "codes")
  }

  /** Per-probe ADC lookup tables: `(p_id bigint, lut array<array<double>>)`
    * where `lut(j)(c)` = dot(probe sub-vector j, centroid c) — computed
    * ONCE per probe (m·k·(d/m) = k·d multiplies), so scoring a candidate
    * later costs m lookups, never a dot product. Same null/ragged
    * contract as [[pqEncodeDf]]. */
  def pqLutDf(probes: DataFrame, id: Column, vec: Column,
              cb: PqCodebook): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    probes.select(id.cast("long").as("p_id"), vec.as("v"))
      .where(col("p_id").isNotNull && col("v").isNotNull)
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (pid, v) =>
          require(v.length == b.dim,
            s"pqLutDf: vector of length ${v.length} != codebook dim ${b.dim} (id $pid)")
          val arr = v.toArray
          val lut = Array.tabulate(b.m) { j =>
            val off = j * b.subDim
            b.centroids(j).map { cent =>
              var d = 0.0; var i = 0
              while (i < b.subDim) { d += arr(off + i).toDouble * cent(i); i += 1 }
              d
            }.toSeq
          }.toSeq
          (pid, lut)
        }
      }.toDF("p_id", "lut")
  }

  /** The ADC score: Σ_j lut(j)(code_j) — approximate dot(probe, vector)
    * as m array lookups inside one codegen'd HOF (`transform` with index
    * + `aggregate`). `codes` is a [[pqEncodeDf]] column (offset −128),
    * `lut` a [[pqLutDf]] column. */
  def adcScore(codes: Column, lut: Column): Column =
    aggregate(
      zip_with(codes, lut, (c, t) => element_at(t, c.cast("int") + 129)),
      lit(0.0), (acc, x) => acc + x)

  /** Top-k per probe over PQ codes at m-bytes-per-candidate scan cost:
    * ADC coarse rank over the whole gallery (`overfetch`·k survivors per
    * probe, WindowGroupLimit pushes the cut below the window), then
    * float-cosine re-rank on survivors only — the [[Ann.topKQuantized]]
    * contract with a 32× (not 4×) coarse-pass byte budget at d=64, m=8.
    * Pass vectors through [[l2normalize]] (and train the codebook on
    * normalized vectors) for cosine semantics. Returns
    * `(p_id, g_id, s, rn)` like the other top-k operators.
    *
    * For a persisted deployment, [[pqEncodeDf]] IS the index build —
    * write its output once and hand it in via `galleryCodes`; per-batch
    * probes then pay only their own LUTs + the scan. */
  def pqTopK(probes: DataFrame, gallery: DataFrame, cb: PqCodebook, k: Int,
             overfetch: Int = 4,
             id: String = "vec_id", vec: String = "embedding",
             galleryCodes: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    val codes = galleryCodes.getOrElse(
      pqEncodeDf(gallery, col(id), col(vec), cb))
    val luts = pqLutDf(probes, col(id), col(vec), cb)
    // NaN guard (the family's rank-NaN-last posture, cf. wExact below and
    // Ann.rankSafe): a NaN probe vector yields NaN LUT entries and NaN ADC
    // for EVERY candidate; Spark sorts NaN above all doubles, so without
    // the floor the degenerate probe's coarse set would be arbitrary
    // (g_id order) instead of ranking last.
    val wCoarse = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id")
      .orderBy(nanvl(col("adc"), lit(Double.MinValue)).desc, col("g_id"))
    val cand = luts.crossJoin(codes)
      .withColumn("adc", adcScore(col("codes"), col("lut")))
      .withColumn("rn", row_number().over(wCoarse))
      .where(col("rn") <= overfetch * k)
      .select("p_id", "g_id")
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(nanvl(col("s"), lit(-2.0)).desc, col("g_id"))
    cand
      .join(probes.select(col(id).cast("long").as("p_id"), col(vec).as("p_emb")), "p_id")
      .join(gallery.select(col(id).cast("long").as("g_id"), col(vec).as("g_emb")), "g_id")
      .withColumn("s", VectorOps.cosine6(col("p_emb"), col("g_emb")))
      .withColumn("rn", row_number().over(wExact))
      .where(col("rn") <= k)
      .select("p_id", "g_id", "s", "rn")
  }

  /** The IVF-PQ gallery layout `(g_id, cid, codes)` — assignment under
    * the caller's centroids ([[Ann.ivfAssign]] semantics) + PQ codes.
    * This IS the persistable index: write it once (bucket by `cid` via
    * [[graft.sources.Bucketed.write]] and the probe-side equi join runs
    * Exchange-free, the [[Ann.persistIvfIndex]] posture) and hand it to
    * [[pqTopKIvf]] via `galleryIndex`; steady-state batches then pay
    * only their own LUTs + cluster-local lookups. */
  def pqIvfIndex(gallery: DataFrame, centroids: DataFrame, cb: PqCodebook,
                 id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    // Round 15: one fan-out before the two per-vector passes (PQ encode +
    // cell assignment) — an under-partitioned scan otherwise runs both
    // single-task (guide §2.5; no-op at production file counts).
    val g = graft.ops.SkewOps.fanOutScan(gallery)
    pqEncodeDf(g, col(id), col(vec), cb)
      .join(Ann.ivfAssign(g, centroids, id, vec)
        .select(col(id).cast("long").as("g_id"), col("cid")), "g_id")
      .select("g_id", "cid", "codes")
  }

  /** Persist a [[pqIvfIndex]] BUCKETED by `cid` (the
    * [[Ann.persistIvfIndex]] posture: write to a fresh path and swap);
    * steady-state probes against it join Exchange-free. */
  def persistPqIndex(index: DataFrame, table: String, path: String,
                     buckets: Int = 32,
                     mode: org.apache.spark.sql.SaveMode =
                       org.apache.spark.sql.SaveMode.ErrorIfExists): Unit =
    IndexStore.persist(IndexStore.pq, Seq(index), table, path, buckets, mode)

  /** Re-attach a persisted [[pqIvfIndex]]; `buckets` must match the
    * write. Feed to [[pqTopKIvf]] via `galleryIndex`. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  table: String, path: String, buckets: Int = 32): DataFrame =
    IndexStore.attach(spark, IndexStore.pq, table, path, buckets).head

  /** O(new-vectors) PQ index maintenance — the [[Ann.appendIvfIndex]]
    * posture under a FROZEN codebook AND frozen centroids (either
    * drifting would split the quantization invisibly; persist both
    * beside the index): assign + encode the batch (narrow), append into
    * the bucketed table (hash placement still matches — probe joins stay
    * Exchange-free). Ids pass the [[IndexStore]] guard: a NULL, an
    * in-batch duplicate, a non-long id, or one already physically in the
    * index refuses loudly. Returns the per-cluster appended counts (the
    * drift signal's growth side). */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession,
                    table: String, path: String,
                    newVectors: DataFrame, centroids: DataFrame, cb: PqCodebook,
                    buckets: Int = 32,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val existing = loadPqIndex(spark, table, path, buckets)
    IndexStore.requireIds("appendPqIndex", newVectors, col(id), longIds = true)
    IndexStore.requireNew("appendPqIndex", IndexStore.pq, table, path, existing,
      newVectors.select(col(id).cast("long").as("g_id")))
    val newIdx = pqIvfIndex(newVectors, centroids, cb, id, vec).localCheckpoint()
    IndexStore.append(IndexStore.pq, Seq(newIdx), table, buckets)
    newIdx.groupBy("cid").agg(count(lit(1)).as("appended_n"))
  }

  /** The current tombstone id set (see [[IndexStore]]). */
  def pqTombstones(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    IndexStore.tombstones(spark, IndexStore.pq, path)

  /** Tombstone `ids`; returns how many were live (see [[IndexStore]]). */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String, path: String, ids: DataFrame,
                        buckets: Int = 32): Long =
    IndexStore.delete(spark, IndexStore.pq, table, path, ids, buckets).collect().length

  /** The LIVE view (see [[IndexStore]]); filter the re-rank `gallery`
    * the same way, or a deleted doc resurfaces with a float score. */
  def loadPqIndexLive(spark: org.apache.spark.sql.SparkSession,
                      table: String, path: String,
                      buckets: Int = 32): DataFrame =
    IndexStore.attachLive(spark, IndexStore.pq, table, path, buckets).head

  /** Compact the live rows to a FRESH path (see [[IndexStore]]). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
                     table: String, path: String,
                     newTable: String, newPath: String,
                     buckets: Int = 32): DataFrame =
    IndexStore.compact(spark, IndexStore.pq, table, path, newTable, newPath, buckets)().head

  /** Top-k per probe with IVF candidate generation fused into the PQ
    * coarse pass — FAISS's IVFPQ layout re-expressed as a Spark plan
    * (the [[Ann.topKQuantizedIvf]] shape at an m-bytes-per-candidate
    * byte budget): a probe touches only its `nprobe` nearest clusters
    * via an EQUI join on the cluster id (shuffle sized by cluster
    * population, never probes × corpus), scores those candidates with
    * m ADC lookups each, keeps `overfetch`·k, and float-re-ranks only
    * the survivors. Approximate by construction twice over (unprobed
    * cells are unreachable; ADC ranks on the quantized dot) — PqSpec
    * pins recall vs the exact scan on the fixture. Centroid quality is
    * the caller's artifact, exactly as for IVF. */
  def pqTopKIvf(probes: DataFrame, gallery: DataFrame, centroids: DataFrame,
                cb: PqCodebook, k: Int, nprobe: Int = 2, overfetch: Int = 4,
                id: String = "vec_id", vec: String = "embedding",
                galleryIndex: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    val index = galleryIndex.getOrElse(pqIvfIndex(gallery, centroids, cb, id, vec))
    // Probe cells: nprobe nearest centroids per probe — broadcast the
    // (always-small) centroid table, rank per probe. Multi-probe recovers
    // neighbors just across a cell boundary.
    val c = centroids.select(col(id).as("cid"), col(vec).as("c_emb"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(nanvl(col("cs"), lit(-2.0)).desc, col("cid"))
    val cells = probes.select(col(id).cast("long").as("p_id"), col(vec).as("p_v"))
      .crossJoin(broadcast(c))
      .withColumn("cs", VectorOps.cosine6(col("p_v"), col("c_emb")))
      .withColumn("rn", row_number().over(wCell))
      .where(col("rn") <= nprobe)
      .select("p_id", "cid")
    val luts = pqLutDf(probes, col(id), col(vec), cb)
    // Same NaN-last floor as pqTopK's coarse window (see the note there).
    val wCoarse = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id")
      .orderBy(nanvl(col("adc"), lit(Double.MinValue)).desc, col("g_id"))
    val cand = cells.join(luts, "p_id")
      .join(index, "cid") // equi join: shuffle sized by cluster population
      .withColumn("adc", adcScore(col("codes"), col("lut")))
      .withColumn("rn", row_number().over(wCoarse))
      .where(col("rn") <= overfetch * k)
      .select("p_id", "g_id")
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(nanvl(col("s"), lit(-2.0)).desc, col("g_id"))
    cand
      .join(probes.select(col(id).cast("long").as("p_id"), col(vec).as("p_emb")), "p_id")
      .join(gallery.select(col(id).cast("long").as("g_id"), col(vec).as("g_emb")), "g_id")
      .withColumn("s", VectorOps.cosine6(col("p_emb"), col("g_emb")))
      .withColumn("rn", row_number().over(wExact))
      .where(col("rn") <= k)
      .select("p_id", "g_id", "s", "rn")
  }
}
