package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.2 q35/q36 and
  * q58–q60): brute-force cosine top-k as the exact baseline, plus two scale
  * paths — IVF-style coarse quantization and random-hyperplane LSH.
  *
  * Scale posture: brute force is O(probes × corpus) and exists as the
  * correctness oracle; IVF touches ~1/K of the corpus per probe (K coarse
  * cells), hyperplane LSH ~1/2^bits. Probe-side tables are broadcast; the
  * corpus side never moves except the one hash-partitioned bucket join.
  * Similarities are rounded to 6dp before every rank/threshold (SURVEY.md
  * H10) so float noise cannot flip results.
  */
object Ann {

  /** All similarity math rides the native single-pass expression
    * (graft.functions.CosineSimilarity) — bit-identical to the declared HOF
    * lowering (FunctionsSpec proves it; the sf0.01 oracle gate re-proves it
    * per query) and ~20× faster on all-pairs workloads. */
  import VectorOps.{cosine6Native => cosine6}

  /** Top-k most-similar rows to one probe vector (q35 shape): the probe row
    * is broadcast, the corpus is scanned once, `TakeOrderedAndProject` keeps
    * k — no full sort. */
  def cosineTopK(emb: DataFrame, probeId: Long, k: Int,
                 id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val p = emb.where(col(id) === probeId).select(col(vec).as("p_emb"))
    emb.crossJoin(broadcast(p))
      .select(col(id), cosine6(col("p_emb"), col(vec)).as("sim"))
      .orderBy(rankSafe(col("sim")).desc, col(id))
      .limit(k)
  }

  /** NaN-safe ranking score: zero-norm vectors cosine to NaN (the H13
    * guard), and NaN sorts ABOVE every double in Spark's ordering — left
    * bare, one degenerate gallery row becomes every probe's nearest
    * neighbor. Map NaN below the cosine range so degenerate vectors rank
    * LAST in every ranking/arg-max path (threshold paths need nothing:
    * NaN already fails `>= t`). */
  private def rankSafe(s: Column): Column = nanvl(s, lit(-2.0))

  /** Arg-max via a MIN ordering key: minimizing (-s, id) is exactly
    * `order by s desc, id` row_number()=1, but as a hash aggregation —
    * map-side partial arg-min per partition, one shuffled row per group,
    * no sort. The NEGATION sits on the score (a double — always safely
    * negatable, including the NaN→-2.0 rankSafe floor), never on the id:
    * negating ids would restrict callers to signed-numeric id columns and
    * `-Long.MinValue` errors under ANSI. Ids only need to be orderable. */
  private def argminKey(s: Column, id: Column): Column =
    struct(-rankSafe(s), id)

  /** Exact 1-NN per probe (q36 shape): brute-force scores + arg-max via a
    * min_by aggregation (partial agg map-side; never a per-probe sort).
    *
    * AUDIT FORM — O(probes × gallery), guarded: throws when the pair space
    * exceeds `maxPairs` (two count jobs, cheap next to the scan they gate)
    * instead of silently launching a job that scales as the product. The
    * scale twins are the IVF (q59) / hyperplane-LSH (q60) bucketed
    * searches and the fused quantized top-k; raise `maxPairs` explicitly
    * only for a deliberately-sized exact audit. */
  def knn(probes: DataFrame, gallery: DataFrame,
          id: String = "vec_id", vec: String = "embedding",
          maxPairs: Long = 250000000L): DataFrame = {
    val nPairs = probes.count() * gallery.count()
    require(nPairs <= maxPairs,
      s"knn is the exact brute-force audit form: $nPairs probe×gallery " +
        s"pairs > maxPairs=$maxPairs. Use the IVF (q59) / hyperplane-LSH " +
        "(q60) bucketed search or topKQuantizedIvf at scale, or raise " +
        "maxPairs explicitly for a deliberately-sized audit.")
    val p = probes.select(col(id).as("p_id"), col(vec).as("p_emb"))
    val g = gallery.select(col(id).as("g_id"), col(vec).as("g_emb"))
    p.crossJoin(g)
      .withColumn("s", cosine6(col("p_emb"), col("g_emb")))
      .groupBy("p_id")
      .agg(min_by(struct(col("g_id"), col("s")),
        argminKey(col("s"), col("g_id"))).as("m"))
      .select(col("p_id"), col("m.g_id").as("g_id"), col("m.s").as("s"))
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" — public recipe): mine aligned pairs across two
    * embedding sets by the RATIO margin — `margin(x, y) = cos(x, y) /
    * ((avg cos of x's kNorm nearest in ys + avg cos of y's kNorm
    * nearest in xs) / 2)` — instead of raw cosine. The normalization is
    * the point: hubness (a vector that is everyone's near-neighbor)
    * inflates raw cosine but inflates the neighborhood average equally,
    * so hubs stop winning every pair; a genuinely aligned pair stands
    * OUT of both sides' neighborhoods. Returns `(x_id, y_id, s, margin)`
    * — per x, its best-margin y at `margin >= threshold` (the paper's
    * "max" strategy); with `mutual = true` (the quality gate real
    * mining runs) only pairs that are each other's best survive.
    *
    * Scale posture: this is the EXACT form over an xs × ys block,
    * guarded like [[knn]] — at corpus scale, mine within candidate
    * blocks (IVF cells via [[ivfAssign]], LSH buckets, or language-pair
    * shards), where the block product is bounded by construction; the
    * margin only needs each side's LOCAL neighborhood, which the block
    * contains by the same argument that makes blocked ANN work. NaN
    * cosines (zero-norm vectors) rank last and can never clear the
    * threshold; an all-degenerate neighborhood yields a NaN margin, not
    * an ANSI divide error. */
  def marginMine(xs: DataFrame, ys: DataFrame, kNorm: Int = 4,
                 threshold: Double = 1.0, mutual: Boolean = true,
                 id: String = "vec_id", vec: String = "embedding",
                 maxPairs: Long = 250000000L): DataFrame = {
    require(kNorm >= 1, s"kNorm must be >= 1, got $kNorm")
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    // Division-form guard: the product of two corpus-scale counts
    // overflows Long exactly where this guard matters most.
    val nx = xs.count(); val ny = ys.count()
    require(ny == 0L || nx <= maxPairs / math.max(1L, ny),
      s"marginMine is the exact block form: $nx x $ny xs×ys pairs > " +
        s"maxPairs=$maxPairs. Mine within IVF/LSH candidate blocks at " +
        "scale, or raise maxPairs explicitly for a deliberately-sized block.")
    val x = xs.select(col(id).as("x_id"), col(vec).as("x_emb"))
    val y = ys.select(col(id).as("y_id"), col(vec).as("y_emb"))
    marginCore(x.crossJoin(y)
      .withColumn("s", cosine6(col("x_emb"), col("y_emb")))
      .select("x_id", "y_id", "s"), kNorm, threshold, mutual)
  }

  /** [[marginMine]] BLOCKED by IVF cells — the scale form its scaladoc
    * prescribes, as one plan: both sides assign to the caller's shared
    * centroid set ([[ivfAssign]] — cells must come from ONE space for
    * cross-set cosines to be meaningful, e.g. multilingual sentence
    * embeddings), candidates come from an EQUI join on the cell id
    * (shuffle sized by cell population, never xs × ys), and margins
    * normalize by each vector's kNorm nearest WITHIN ITS CELL — the
    * local neighborhood, which is all the published margin uses (a
    * neighborhood average computed over far-away vectors would be
    * diluted toward zero anyway). Cross-cell pairs are the documented
    * recall trade, exactly like every blocked ANN: aligned pairs that
    * straddle a cell boundary are unreachable — size k so cells stay
    * comfortably larger than kNorm, and prefer fewer/larger cells when
    * recall matters more than the prune. With everything in one cell
    * this is EXACTLY [[marginMine]] (spec-pinned). */
  def marginMineBlocked(xs: DataFrame, ys: DataFrame, centroids: DataFrame,
                        kNorm: Int = 4, threshold: Double = 1.0,
                        mutual: Boolean = true,
                        id: String = "vec_id",
                        vec: String = "embedding"): DataFrame = {
    require(kNorm >= 1, s"kNorm must be >= 1, got $kNorm")
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    val x = withAssignedCid(xs, centroids, id, vec)
      .select(col(id).as("x_id"), col(vec).as("x_emb"), col("__cid").as("cid"))
    val y = withAssignedCid(ys, centroids, id, vec)
      .select(col(id).as("y_id"), col(vec).as("y_emb"), col("__cid").as("cid"))
    marginCore(x.join(y, Seq("cid"))
      .withColumn("s", cosine6(col("x_emb"), col("y_emb")))
      .select("x_id", "y_id", "s"), kNorm, threshold, mutual)
  }

  /** The margin kernel shared by [[marginMine]] and [[marginMineBlocked]]:
    * `sims` carries every candidate `(x_id, y_id, s)`. */
  private def marginCore(sims: DataFrame, kNorm: Int, threshold: Double,
                         mutual: Boolean): DataFrame = {
    val wx = Window.partitionBy("x_id").orderBy(rankSafe(col("s")).desc, col("y_id"))
    val wy = Window.partitionBy("y_id").orderBy(rankSafe(col("s")).desc, col("x_id"))
    val ranked = sims
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
    val avgX = ranked.where(col("rx") <= kNorm)
      .groupBy("x_id").agg(avg(col("s")).as("__ax"))
    val avgY = ranked.where(col("ry") <= kNorm)
      .groupBy("y_id").agg(avg(col("s")).as("__ay"))
    val den = (col("__ax") + col("__ay")) / 2
    val margins = ranked.where(col("rx") <= kNorm || col("ry") <= kNorm)
      .join(avgX, "x_id").join(avgY, "y_id")
      .withColumn("margin",
        when(den === 0.0, lit(Double.NaN)).otherwise(col("s") / den))
    val wbx = Window.partitionBy("x_id")
      .orderBy(rankSafe(col("margin")).desc, col("y_id"))
    // Spark orders NaN ABOVE every double in comparisons too (unlike
    // IEEE), so a NaN margin would pass `>= threshold` — reject it
    // explicitly (degenerate vectors must never mine).
    val bestX = margins.withColumn("__bn", row_number().over(wbx))
      .where(col("__bn") === 1 && !isnan(col("margin")) &&
        col("margin") >= threshold)
      .select("x_id", "y_id", "s", "margin")
    if (!mutual) bestX
    else {
      val wby = Window.partitionBy("y_id")
        .orderBy(rankSafe(col("margin")).desc, col("x_id"))
      val bestY = margins.withColumn("__bn", row_number().over(wby))
        .where(col("__bn") === 1)
        .select(col("x_id").as("__bx"), col("y_id").as("__by"))
      bestX.join(bestY,
        col("x_id") === col("__bx") && col("y_id") === col("__by"), "left_semi")
    }
  }

  /** Centroid tables are driver-bounded by construction (they were
    * always BROADCAST); up to this many are inlined as expression
    * literals, turning assignment into a PURE PROJECTION — the
    * crossJoin+partial-agg form stays as the large-K fallback. */
  private val maxLiteralCentroids = 1024

  /** The collected centroid table, or None when the literal fast path
    * doesn't apply (empty, too many, or null embeddings).
    *
    * EAGER-SNAPSHOT SEMANTICS (shared by every centroid-taking operator
    * — `ivfAssign`/`ivfIndex`/`appendIvfIndex`/`topKQuantizedIvf`/
    * `neardupIvf`/`ivfDriftReport`): the bounded collect runs when the
    * operator is CONSTRUCTED, not when the returned DataFrame first
    * executes. The centroids become expression literals inside the plan,
    * so a plan built once and re-executed after the centroid SOURCE
    * mutates keeps serving the snapshot — by design (an IVF index is
    * only meaningful against the fixed centroid set it was built with;
    * re-run the operator after retraining centroids). Duplicate centroid
    * ids are rejected HERE, at collect time: assignment against an
    * ambiguous centroid identity has no meaning on either the literal or
    * the fallback path. */
  private def collectedCentroids(centroids: DataFrame, id: String,
                                 vec: String): Option[Seq[(Any, Seq[Float])]] = {
    val head = centroids.select(col(id), col(vec))
      .limit(maxLiteralCentroids + 1).collect()
    if (head.isEmpty || head.length > maxLiteralCentroids ||
        head.exists(r => r.isNullAt(0) || r.isNullAt(1) ||
          r.getSeq[Any](1).exists(_ == null))) None
    else {
      val ids = head.map(_.get(0)).toSeq
      val dups = ids.groupBy(identity).collect { case (v, g) if g.size > 1 => v }
      require(dups.isEmpty,
        s"duplicate centroid ids ${dups.take(5).mkString(", ")} — centroid " +
          "identity must be unique (assignment against an ambiguous id has " +
          "no meaning); dedupe the centroid table before building the operator")
      Some(head.toSeq.map(r => (r.get(0), r.getSeq[Float](1))))
    }
  }

  /** `array_sort`ed `(nk, cid, sim)` structs over the literal centroids —
    * nearest centroid FIRST, ordered by exactly [[argminKey]]'s
    * `(−rankSafe(sim), cid)` key, so `element_at(…, 1)` is the
    * crossJoin+min_by assignment and `slice(…, 1, n)` is the window
    * top-n, computed with ZERO joins, aggregations, or exchanges. `sim`
    * rides along for the drift report; it can never influence the order
    * (distinct centroids never tie on both nk and cid). */
  private def nearestCentroidsSorted(cents: Seq[(Any, Seq[Float])],
                                     vecCol: Column): Column =
    array_sort(array(cents.map { case (cid, emb) =>
      val sim = cosine6(vecCol, typedlit(emb))
      struct((-rankSafe(sim)).as("nk"), lit(cid).as("cid"), sim.as("sim"))
    }: _*))

  /** Assign every vector to its nearest centroid (IVF coarse quantization).
    * Small centroid tables (≤ 1024 — they were always broadcast-bounded)
    * are inlined as literals and assignment is one narrow projection; the
    * broadcast crossJoin + map-side-combined arg-min stays as the
    * large-K path. Identical results by construction (same cosine6, same
    * `(−rankSafe(sim), cid)` ordering key) — UNDER the contract every
    * caller already assumes and `appendIvfIndex` enforces explicitly:
    * `id` is unique per vector. (With duplicate ids the two paths differ
    * in cardinality: the projection emits one row per input row, the
    * grouped fallback one row per id folding all duplicates' candidates
    * — neither is meaningful input.)
    *
    * The centroid table is SNAPSHOTTED when this operator is built — a
    * bounded eager collect, see [[collectedCentroids]] — so re-executing
    * the returned DataFrame after the centroid source mutates serves the
    * snapshot, not the new rows; rebuild the operator after retraining.
    * Duplicate centroid ids throw at build time. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
                id: String = "vec_id", vec: String = "embedding"): DataFrame =
    collectedCentroids(centroids, id, vec) match {
      case Some(cents) =>
        vectors.select(col(id),
          element_at(nearestCentroidsSorted(cents, col(vec)), 1)
            .getField("cid").as("cid"))
      case None =>
        val c = centroids.select(col(id).as("cid"), col(vec).as("c_emb"))
        vectors.crossJoin(broadcast(c))
          .withColumn("sim", cosine6(col(vec), col("c_emb")))
          .groupBy(col(id))
          .agg(min_by(col("cid"), argminKey(col("sim"), col("cid"))).as("cid"))
    }

  /** Hyperplane `j`'s per-dim weights: integer in [-7, 8] from the first
    * hex digit of md5("j:i") — deterministic, engine-portable, no RNG state
    * to distribute. The weights depend only on (plane, dim), so they are
    * computed ONCE here and shipped as an array literal: the declared SQL
    * form evaluates the same md5 per row per dim (64 hashes per plane per
    * row), which at 8 planes is ~512 row-side hashes doing constant work. */
  private def planeWeights(j: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dims).map { i =>
      val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      (Integer.parseInt(hex.substring(0, 1), 16) - 7).toDouble
    }.toArray
  }

  /** Signed projection of `vec` onto pseudo-random hyperplane `j` (weights
    * per [[planeWeights]]; same left-to-right accumulation order as the
    * declared SQL lowering, so the 6dp-rounded sign is bit-identical). The
    * walk is bounded by the vector's own length (up to `dims`), so short
    * vectors never index past the end (ANSI error / silent-null corruption
    * off the fixture schema). */
  def hyperplaneProj(vec: Column, j: Int, dims: Int = 64): Column =
    // Native prefix dot (one fused codegen loop; walks min(|vec|, dims),
    // empty → 0.0): bit-identical to the HOF fold it replaced —
    // `when(bound < 1, 0.0).otherwise(aggregate(sequence(1, bound), 0.0,
    // acc + vec[i]·w[i]))` — same left-to-right double accumulation, and
    // the integer-valued weights are exact in float32, so the declared
    // 6dp-rounded sign contract is untouched (LocalVerify q60 gate;
    // FunctionsSpec pins native ≡ HOF pairwise). The HOF form paid
    // per-element Catalyst eval + a materialized sequence array per
    // (vector, plane) — the measured cost of LSH bucket keys (round-13
    // embed-near-dup cost decomposition, SURVEY §6).
    call_function("dot_prefix", vec,
      lit(planeWeights(j, dims).map(_.toFloat)))

  /** `nBits`-bit sign bucket from hyperplane projections (random-hyperplane
    * LSH): cosine-similar vectors land in the same bucket w.h.p.
    * `firstPlane` selects which hyperplanes supply the bits (tables of a
    * multi-probe scheme use disjoint plane ranges). */
  def hyperplaneBucket(vec: Column, nBits: Int = 4, firstPlane: Int = 1): Column =
    concat((firstPlane until firstPlane + nBits).map(j =>
      when(round(hyperplaneProj(vec, j), 6) >= 0, "1").otherwise("0")): _*)

  /** Bucketed embedding NEAR-DUP: hyperplane-LSH candidate generation →
    * exact cosine verify — the vector analogue of the MinHash+LSH text path
    * (q55), with the all-pairs non-equi join (q58) relegated to audit-time
    * verification. `tables` hash tables of `bitsPerTable` sign bits each
    * (disjoint hyperplanes); a pair is a candidate when it co-habits ANY
    * table's bucket, so recall at threshold t is 1-(1-p^b)^L for
    * p = 1-θ(t)/π. The candidate join is equi on the bucket key — shuffle
    * sized by bucket population, never the all-pairs space. */
  def neardupLsh(emb: DataFrame, threshold: Double, tables: Int = 4,
                 bitsPerTable: Int = 2,
                 id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val bkCols = lshBucketCols(col(vec), bitsPerTable, tables)
    val bk = emb.select(col(id), explode(array(bkCols: _*)).as("bk"))
    val cand = bk.select(col(id).as("d1"), col("bk"))
      .join(bk.select(col(id).as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    cand
      .join(emb.select(col(id).as("d1"), col(vec).as("a_emb")), "d1")
      .join(emb.select(col(id).as("d2"), col(vec).as("b_emb")), "d2")
      .withColumn("s", cosine6(col("a_emb"), col("b_emb")))
      .where(col("s") >= threshold)
      .select("d1", "d2", "s")
  }

  /** All-pairs cosine near-dup ≥ `threshold` (the q58 audit shape): a
    * cartesian self-join with only the `d1 < d2` residual — quadratic BY
    * CONSTRUCTION, guarded: throws when the corpus exceeds `maxVectors`
    * (one count job) instead of silently launching an n² scan (measured
    * 333 s at a 50k-vector probe vs ~14 s for the LSH twin). The scale
    * twin is [[neardupLshAuto]]; raise `maxVectors` explicitly only for a
    * deliberately-sized exact audit. */
  def allPairsCosine(emb: DataFrame, threshold: Double,
                     id: String = "vec_id", vec: String = "embedding",
                     maxVectors: Long = 100000L): DataFrame = {
    val n = emb.count()
    require(n <= maxVectors,
      s"allPairsCosine is the quadratic all-pairs audit form: $n vectors > " +
        s"maxVectors=$maxVectors. Use neardupLshAuto (bucketed candidates + " +
        "exact verify) at scale, or raise maxVectors explicitly for a " +
        "deliberately-sized audit.")
    val a = emb.select(col(id).as("d1"), col(vec).as("a_emb"))
    val b = emb.select(col(id).as("d2"), col(vec).as("b_emb"))
    val sim = cosine6(col("a_emb"), col("b_emb"))
    a.join(b, col("d1") < col("d2"))
      .where(sim >= threshold)
      .select(col("d1"), col("d2"), sim.as("s"))
  }

  /** Bits needed so expected bucket population stays ~`targetBucket` at
    * corpus size `n`: FIXED bits degrade to quadratic candidate pairs as the
    * corpus grows (measured: 2-bit tables went 2.7s at 2k vectors to 348s
    * at 20k — 129× for 10× data). Floor of 2 keeps tiny corpora meaningful. */
  def lshBitsFor(n: Long, targetBucket: Int = 128): Int =
    math.max(2, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
      math.log(2.0)).toInt)

  /** [[neardupLsh]] with bucket bits sized to the corpus: bucket population
    * stays ~`targetBucket` regardless of n, so candidate volume grows
    * ~linearly. Note the recall trade-off: more bits lowers recall for
    * LOW-similarity pairs (p^bits per table) — near-dup thresholds in
    * practice are high (0.85+), where per-bit survival is ~0.85+ and a few
    * tables recover recall.
    *
    * `knownCount`: pass the corpus size when you already have it (catalog
    * stats, a prior stage's count) to skip the sizing count() job this
    * otherwise runs at plan-build time; the bit choice only needs the
    * ORDER of magnitude, so a stale-ish estimate is fine. */
  def neardupLshAuto(emb: DataFrame, threshold: Double, tables: Int = 4,
                     targetBucket: Int = 128,
                     id: String = "vec_id", vec: String = "embedding",
                     knownCount: Long = -1L): DataFrame =
    neardupLsh(emb, threshold, tables,
      math.min(lshBitsFor(if (knownCount > 0) knownCount else emb.count(),
        targetBucket), 64 / tables), id, vec)

  /** Top-k per probe at ¼ scan bandwidth: coarse-rank over int8 codes
    * ([[VectorOps.quantizeInt8]] — the per-vector scales cancel in cosine,
    * so no dequantization), keep `overfetch`·k candidates per probe
    * (WindowGroupLimit pushes the cut below the window), then re-rank ONLY
    * the survivors with full float cosine.
    *
    * Scale posture: a brute-force scan over 100 TB of float32 vectors is
    * memory-bandwidth-bound; the coarse pass reads 4× fewer vector bytes
    * and the float pass touches `overfetch·k` rows per probe instead of
    * the corpus. Quantization error is bounded (< ~0.02 absolute,
    * VectorOpsSpec), so a true top-k member is missed only if more than
    * (overfetch−1)·k imposters out-rank it inside that error band —
    * VectorOpsSpec measures full agreement with exact top-k at
    * overfetch = 4 on the fixtures. */
  def topKQuantized(probes: DataFrame, gallery: DataFrame, k: Int,
                    overfetch: Int = 4,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val p = probes.select(col(id).as("p_id"), col(vec).as("p_emb"),
      VectorOps.quantizeInt8(col(vec)).as("p_q"))
    val gq = gallery.select(col(id).as("g_id"),
      VectorOps.quantizeInt8(col(vec)).as("g_q"))
    val wCoarse = Window.partitionBy("p_id")
      .orderBy(rankSafe(col("cs")).desc, col("g_id"))
    val cand = p.select(col("p_id"), col("p_q")).crossJoin(gq)
      .withColumn("cs", round(VectorOps.cosineInt8Native(col("p_q"), col("g_q")), 6))
      .withColumn("rn", row_number().over(wCoarse))
      .where(col("rn") <= overfetch * k)
      .select("p_id", "g_id")
    val wExact = Window.partitionBy("p_id")
      .orderBy(rankSafe(col("s")).desc, col("g_id"))
    cand
      .join(p.select(col("p_id"), col("p_emb")), "p_id")
      .join(gallery.select(col(id).as("g_id"), col(vec).as("g_emb")), "g_id")
      .withColumn("s", cosine6(col("p_emb"), col("g_emb")))
      .withColumn("rn", row_number().over(wExact))
      .where(col("rn") <= k)
      .select("p_id", "g_id", "s", "rn")
  }

  /** Top-k per probe with IVF candidate generation FUSED into the int8
    * coarse pass — the full 100 TB search operator. [[topKQuantized]] reads
    * ¼ the bytes but still scans the whole corpus per probe; here a probe
    * touches only its `nprobe` nearest clusters (~nprobe/K of the corpus):
    *
    *  1. inverted lists: every gallery vector is assigned to its nearest
    *     centroid (broadcast centroids, per-row arg-max) and int8-coded;
    *  2. probes pick their `nprobe` closest centroids (multi-probe recovers
    *     neighbors that fall just across a cell boundary);
    *  3. candidates come from an EQUI JOIN on the cluster id — the shuffle
    *     is sized by cluster population, never probes × corpus (no
    *     cross-product anywhere between probe and gallery);
    *  4. int8 coarse rank inside the cluster keeps `overfetch`·k per probe
    *     (WindowGroupLimit pushes the cut below the window);
    *  5. float cosine re-ranks ONLY the survivors.
    *
    * Exactness: approximate by construction (a true neighbor outside the
    * probed cells is unreachable) — VectorOpsSpec pins recall ≥ 0.9 vs the
    * exact scan on the fixtures at the defaults. Centroids are a caller
    * artifact (k-means or a fixture convention like q59's vec_id < 8): IVF
    * quality follows centroid quality. */
  def topKQuantizedIvf(probes: DataFrame, gallery: DataFrame,
                       centroids: DataFrame, k: Int,
                       nprobe: Int = 2, overfetch: Int = 4,
                       id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    // ONE eager centroid collect, threaded through both the index build
    // and the probe cell pick — letting each half re-collect would run
    // duplicate driver jobs per operator CONSTRUCTION.
    val cents = collectedCentroids(centroids, id, vec)
    withIndexImpl(probes, ivfIndexImpl(gallery, centroids, cents, id, vec),
      gallery, centroids, cents, k, nprobe, overfetch, id, vec)
  }

  /** The inverted-list index behind [[topKQuantizedIvf]]: (g_id, cid, g_q
    * int8 codes). Building it scans the gallery once (assignment +
    * quantization — the unavoidable index-build cost); PERSIST it and
    * amortize across probe batches, paying only cluster-local work per
    * batch ([[topKQuantizedIvfWithIndex]]). */
  def ivfIndex(gallery: DataFrame, centroids: DataFrame,
               id: String = "vec_id", vec: String = "embedding"): DataFrame =
    ivfIndexImpl(gallery, centroids, collectedCentroids(centroids, id, vec), id, vec)

  private def ivfIndexImpl(gallery: DataFrame, centroids: DataFrame,
                           cents0: Option[Seq[(Any, Seq[Float])]],
                           id: String, vec: String): DataFrame = {
    // Round 15: parallelize the per-vector assignment + int8 encode when
    // the gallery arrives as an under-partitioned scan (guide §2.5).
    val gal = graft.ops.SkewOps.fanOutScan(gallery)
      .select(col(id).as("g_id"), col(vec).as("g_emb"))
    cents0 match {
      // Literal centroids: the whole index build is ONE narrow map — the
      // crossJoin form materializes gallery×K rows through a partial agg
      // and then re-joins the assignment onto the gallery (two
      // gallery-scale exchanges that exist only to recover g_emb).
      case Some(cents) =>
        gal.select(col("g_id"),
          element_at(nearestCentroidsSorted(cents, col("g_emb")), 1)
            .getField("cid").as("cid"),
          VectorOps.quantizeInt8(col("g_emb")).as("g_q"))
      case None =>
        val c = centroids.select(col(id).as("cid"), col(vec).as("c_emb"))
        val gAssigned = gal.crossJoin(broadcast(c))
          .withColumn("sim", cosine6(col("g_emb"), col("c_emb")))
          .groupBy("g_id")
          .agg(min_by(col("cid"), argminKey(col("sim"), col("cid"))).as("cid"))
        gal.join(gAssigned, "g_id")
          .select(col("g_id"), col("cid"), VectorOps.quantizeInt8(col("g_emb")).as("g_q"))
    }
  }

  /** Persist an [[ivfIndex]] BUCKETED by cluster id: the steady-state
    * probe join ([[topKQuantizedIvfWithIndex]] step 3) then reads the
    * index pre-partitioned on `cid` and only the probe side shuffles —
    * no corpus-sized Exchange per probe batch (plan-asserted in
    * BucketedStateSpec). Rebuild to a NEW path when the gallery changes
    * and swap (see [[graft.sources.Bucketed]]). */
  def persistIvfIndex(index: DataFrame, table: String, path: String,
                      buckets: Int = 32,
                      mode: org.apache.spark.sql.SaveMode =
                        org.apache.spark.sql.SaveMode.ErrorIfExists): Unit =
    IndexStore.persist(IndexStore.ivf, Seq(index), table, path, buckets, mode)

  /** Re-attach a persisted bucketed [[ivfIndex]]; `buckets` must match
    * the write. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                   path: String, buckets: Int = 32): DataFrame =
    IndexStore.attach(spark, IndexStore.ivf, table, path, buckets).head

  /** O(new-vectors) maintenance for a persisted bucketed [[ivfIndex]]:
    * assign `newVectors` under the FROZEN `centroids` (the exact
    * [[ivfIndex]] assignment, so appended ≡ fresh-build over the union
    * gallery by construction), append the new rows into the bucketed
    * table (layout validated, probe joins stay Exchange-free), and
    * return a per-cluster drift report:
    *
    * `(cid, prior_n, appended_n, growth, mean_assign_sim)` — `growth` =
    * appended/(prior+appended); `mean_assign_sim` = mean cosine of each
    * appended vector to its centroid. The caller's retrain signal: frozen
    * centroids stay exact for SEARCH (candidates are still generated by
    * equi join on cid) but drift degrades RECALL — when growth is large
    * or mean_assign_sim falls well below the build-time assignment
    * similarity, retrain ([[kmeans]]) and rebuild to a fresh path.
    *
    * Ids pass the [[IndexStore]] guard. Cost: one narrow pass over
    * `newVectors` plus one column-pruned pass over the EXISTING index
    * for both the clash count and `prior_n`. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                     path: String, newVectors: DataFrame, centroids: DataFrame,
                     buckets: Int = 32,
                     id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val existing = loadIvfIndex(spark, table, path, buckets)
    IndexStore.requireIds("appendIvfIndex", newVectors, col(id), longIds = false)
    val newIds = newVectors.select(col(id).as("g_id"))
    // Materialized BEFORE the append: the table scan is lazy, and a read
    // after the write would see the post-append file set.
    val prior = existing.select(col("cid"), col("g_id"))
      .join(newIds.withColumn("__new", lit(true)), Seq("g_id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("prior_n"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("__clashes"))
      .localCheckpoint()
    IndexStore.requireNew("appendIvfIndex", IndexStore.ivf, table, path, existing, newIds,
      // coalesce: the sum over an empty index is NULL, not 0.
      Some(prior.agg(coalesce(sum(col("__clashes")), lit(0L))).head().getLong(0)))
    val gal = newVectors.select(col(id).as("g_id"), col(vec).as("g_emb"))
    // Same arg-min key as ivfAssign/ivfIndex — identical cid per vector —
    // with the winning similarity kept for the drift report.
    val best = collectedCentroids(centroids, id, vec) match {
      case Some(cents) =>
        gal.select(col("g_id"),
            element_at(nearestCentroidsSorted(cents, col("g_emb")), 1).as("b"))
          .select(col("g_id"), col("b.cid").as("cid"), col("b.sim").as("sim"))
      case None =>
        val c = centroids.select(col(id).as("cid"), col(vec).as("c_emb"))
        gal.crossJoin(broadcast(c))
          .withColumn("sim", cosine6(col("g_emb"), col("c_emb")))
          .groupBy("g_id")
          .agg(min_by(struct(col("cid"), col("sim")), argminKey(col("sim"), col("cid"))).as("b"))
          .select(col("g_id"), col("b.cid").as("cid"), col("b.sim").as("sim"))
    }
    val newIdx = gal.join(best, "g_id")
      .select(col("g_id"), col("cid"), VectorOps.quantizeInt8(col("g_emb")).as("g_q"))
    IndexStore.append(IndexStore.ivf, Seq(newIdx), table, buckets)
    ivfGrowth(best.groupBy("cid")
      .agg(count(lit(1)).as("appended_n"), avg(col("sim")).as("mean_assign_sim")),
      prior.drop("__clashes"))
  }

  /** The per-cluster growth report of [[appendIvfIndex]] and
    * [[graft.streaming.AnnLoop]]: `appended` `(cid, appended_n, extra…)`
    * against `prior` `(cid, prior_n)`, as `(cid, prior_n, appended_n,
    * growth, extra…)`. */
  private[graft] def ivfGrowth(appended: DataFrame, prior: DataFrame): DataFrame = {
    val n = (c: String) => coalesce(col(c), lit(0L))
    val extra = appended.columns.filterNot(Set("cid", "appended_n")).map(col).toSeq
    appended.join(prior, Seq("cid"), "full_outer")
      .select(Seq(col("cid"), n("prior_n").as("prior_n"), n("appended_n").as("appended_n"),
        (n("appended_n") / (n("prior_n") + n("appended_n"))).as("growth")) ++ extra: _*)
  }

  /** The current tombstone id set (see [[IndexStore]]). */
  def ivfTombstones(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    IndexStore.tombstones(spark, IndexStore.ivf, path)

  /** Tombstone `ids`; returns how many were live (see [[IndexStore]]). */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, path: String, ids: DataFrame,
                         buckets: Int = 32): Long =
    IndexStore.delete(spark, IndexStore.ivf, table, path, ids, buckets).collect().length

  /** The LIVE view: tombstoned ids filtered (see [[IndexStore]]). */
  def loadIvfIndexLive(spark: org.apache.spark.sql.SparkSession,
                       table: String, path: String,
                       buckets: Int = 32): DataFrame =
    IndexStore.attachLive(spark, IndexStore.ivf, table, path, buckets).head

  /** Compact the live rows to a FRESH path (see [[IndexStore]]). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String, path: String,
                      newTable: String, newPath: String,
                      buckets: Int = 32): DataFrame =
    IndexStore.compact(spark, IndexStore.ivf, table, path, newTable, newPath, buckets)().head

  /** Probe-side/gallery-side LSH bucket keys: `tables` hash tables of
    * `nBits` sign bits over disjoint hyperplane ranges. */
  private def lshBucketCols(vec: Column, nBits: Int, tables: Int): Seq[Column] = {
    require(tables * nBits <= 64, "only 64 md5-keyed hyperplanes declared")
    (1 to tables).map { tbl =>
      concat(lit(s"t$tbl:"), hyperplaneBucket(vec, nBits, (tbl - 1) * nBits + 1))
    }
  }

  /** The hyperplane-LSH analogue of [[ivfIndex]]: one row per (gallery
    * vector, hash table) with its sign bucket and int8 codes — the
    * one-time gallery pass of the q60 path, split from probing. PERSIST
    * it with [[persistLshIndex]] (bucketed by the LSH bucket key) and
    * steady-state probe batches join it Exchange-free
    * ([[topKLshWithIndex]]). */
  def lshIndex(gallery: DataFrame, nBits: Int = 4, tables: Int = 1,
               id: String = "vec_id", vec: String = "embedding"): DataFrame =
    gallery.select(col(id).as("g_id"),
        explode(array(lshBucketCols(col(vec), nBits, tables): _*)).as("bucket"),
        VectorOps.quantizeInt8(col(vec)).as("g_q"))

  /** Persist an [[lshIndex]] BUCKETED by its LSH bucket key — same
    * steady-state story as [[persistIvfIndex]]: only the probe side
    * shuffles per batch. */
  def persistLshIndex(index: DataFrame, table: String, path: String,
                      buckets: Int = 32,
                      mode: org.apache.spark.sql.SaveMode =
                        org.apache.spark.sql.SaveMode.ErrorIfExists): Unit =
    IndexStore.persist(IndexStore.lsh, Seq(index), table, path, buckets, mode)

  /** Re-attach a persisted bucketed [[lshIndex]]; `buckets` must match
    * the write. */
  def loadLshIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                   path: String, buckets: Int = 32): DataFrame =
    IndexStore.attach(spark, IndexStore.lsh, table, path, buckets).head

  /** LSH top-k over a prebuilt (possibly persisted) [[lshIndex]] — the
    * steady-state q60 shape: probes bucket narrowly (nBits·tables sign
    * projections per row), candidates come from an EQUI join on the
    * bucket key (index side Exchange-free when bucketed), int8 coarse
    * rank keeps `overfetch`·k per probe, float cosine re-ranks only the
    * survivors. Multi-table candidates dedup on (probe, candidate)
    * before ranking so no pair is scored twice. Approximate by
    * construction: a true neighbor sharing no bucket is unreachable —
    * recall follows the 1-(1-p^b)^L curve; raise `tables` to buy recall
    * with index size. */
  def topKLshWithIndex(probes: DataFrame, index: DataFrame, gallery: DataFrame,
                       k: Int, nBits: Int = 4, tables: Int = 1,
                       overfetch: Int = 4,
                       id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val p = probes.select(col(id).as("p_id"), col(vec).as("p_emb"))
    val pb = p.select(col("p_id"),
      VectorOps.quantizeInt8(col("p_emb")).as("p_q"),
      explode(array(lshBucketCols(col("p_emb"), nBits, tables): _*)).as("bucket"))
    val gq = index.select(col("g_id"), col("bucket"), col("g_q"))
    val joined = pb.join(gq, "bucket").select("p_id", "g_id", "p_q", "g_q")
    val deduped = if (tables > 1) joined.dropDuplicates("p_id", "g_id") else joined
    val wCoarse = Window.partitionBy("p_id")
      .orderBy(rankSafe(col("cs")).desc, col("g_id"))
    val cand = deduped
      .withColumn("cs", round(VectorOps.cosineInt8Native(col("p_q"), col("g_q")), 6))
      .withColumn("rn", row_number().over(wCoarse))
      .where(col("rn") <= overfetch * k)
      .select("p_id", "g_id")
    val gal = gallery.select(col(id).as("g_id"), col(vec).as("g_emb"))
    val wExact = Window.partitionBy("p_id")
      .orderBy(rankSafe(col("s")).desc, col("g_id"))
    cand.join(p, "p_id")
      .join(gal, "g_id")
      .withColumn("s", cosine6(col("p_emb"), col("g_emb")))
      .withColumn("rn", row_number().over(wExact))
      .where(col("rn") <= k)
      .select("p_id", "g_id", "s", "rn")
  }

  /** The current tombstone id set (see [[IndexStore]]). */
  def lshTombstones(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    IndexStore.tombstones(spark, IndexStore.lsh, path)

  /** Tombstone `ids`; returns how many were live (see [[IndexStore]]). */
  def deleteFromLshIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, path: String, ids: DataFrame,
                         buckets: Int = 32): Long =
    IndexStore.delete(spark, IndexStore.lsh, table, path, ids, buckets).collect().length

  /** The LIVE view (see [[IndexStore]]); filter the re-rank `gallery`
    * the same way, or a deleted doc resurfaces with a float score. */
  def loadLshIndexLive(spark: org.apache.spark.sql.SparkSession,
                       table: String, path: String,
                       buckets: Int = 32): DataFrame =
    IndexStore.attachLive(spark, IndexStore.lsh, table, path, buckets).head

  /** Compact the live rows to a FRESH path (see [[IndexStore]]). */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String, path: String,
                      newTable: String, newPath: String,
                      buckets: Int = 32): DataFrame =
    IndexStore.compact(spark, IndexStore.lsh, table, path, newTable, newPath, buckets)().head

  /** [[topKQuantizedIvf]] over a prebuilt (possibly persisted) [[ivfIndex]]
    * — the steady-state shape: the index is read, never recomputed;
    * `gallery` supplies only the float vectors for the final re-rank
    * (joined by id on the overfetch·k survivors). */
  def topKQuantizedIvfWithIndex(probes: DataFrame, index: DataFrame,
                                gallery: DataFrame, centroids: DataFrame, k: Int,
                                nprobe: Int = 2, overfetch: Int = 4,
                                id: String = "vec_id", vec: String = "embedding"): DataFrame =
    withIndexImpl(probes, index, gallery, centroids,
      collectedCentroids(centroids, id, vec), k, nprobe, overfetch, id, vec)

  private def withIndexImpl(probes: DataFrame, index: DataFrame,
                            gallery: DataFrame, centroids: DataFrame,
                            cents0: Option[Seq[(Any, Seq[Float])]], k: Int,
                            nprobe: Int, overfetch: Int,
                            id: String, vec: String): DataFrame = {
    val gal = gallery.select(col(id).as("g_id"), col(vec).as("g_emb"))
    val p = probes.select(col(id).as("p_id"), col(vec).as("p_emb"))
    val cand = probeCand(p, index, centroids, cents0, k, nprobe, overfetch, id, vec)
    val wExact = Window.partitionBy("p_id")
      .orderBy(rankSafe(col("s")).desc, col("g_id"))
    cand.join(p, "p_id")
      .join(gal, "g_id")
      .withColumn("s", cosine6(col("p_emb"), col("g_emb")))
      .withColumn("rn", row_number().over(wExact))
      .where(col("rn") <= k)
      .select("p_id", "g_id", "s", "rn")
  }

  /** Probe-side multi-probe cell pick: (p_id, p_q, cid) per probed cell.
    * With literal centroids the top-nprobe cells are a slice of the
    * sorted literal array — one narrow projection, no probe-side
    * exchange (the window form shuffles probes by p_id just to rank
    * ≤ maxLiteralCentroids similarities). */
  private def probeCells(p: DataFrame, centroids: DataFrame,
                         cents0: Option[Seq[(Any, Seq[Float])]], nprobe: Int,
                         id: String, vec: String): DataFrame =
    cents0 match {
      case Some(cents) =>
        p.select(col("p_id"), VectorOps.quantizeInt8(col("p_emb")).as("p_q"),
            explode(slice(nearestCentroidsSorted(cents, col("p_emb")), 1, nprobe))
              .as("__c"))
          .select(col("p_id"), col("p_q"), col("__c.cid").as("cid"))
      case None =>
        val c = centroids.select(col(id).as("cid"), col(vec).as("c_emb"))
        val wc = Window.partitionBy("p_id")
          .orderBy(rankSafe(col("csim")).desc, col("cid"))
        p.crossJoin(broadcast(c))
          .withColumn("csim", cosine6(col("p_emb"), col("c_emb")))
          .withColumn("crn", row_number().over(wc))
          .where(col("crn") <= nprobe)
          .select(col("p_id"), VectorOps.quantizeInt8(col("p_emb")).as("p_q"), col("cid"))
    }

  /** Coarse int8 candidates: equi join on the probed cell id, ranked cut
    * to overfetch·k per probe (WindowGroupLimit). Each gallery vector
    * lives in exactly one list, so a probe never sees a candidate twice
    * across its nprobe cells — no distinct needed. */
  private def probeCand(p: DataFrame, index: DataFrame, centroids: DataFrame,
                        cents0: Option[Seq[(Any, Seq[Float])]],
                        k: Int, nprobe: Int, overfetch: Int,
                        id: String, vec: String): DataFrame = {
    val gq = index.select(col("g_id"), col("cid"), col("g_q"))
    val wCoarse = Window.partitionBy("p_id")
      .orderBy(rankSafe(col("cs")).desc, col("g_id"))
    probeCells(p, centroids, cents0, nprobe, id, vec).join(gq, "cid")
      .withColumn("cs", round(VectorOps.cosineInt8Native(col("p_q"), col("g_q")), 6))
      .withColumn("rn", row_number().over(wCoarse))
      .where(col("rn") <= overfetch * k)
      .select("p_id", "g_id")
  }

  /** Element-wise per-cluster centroid (the k-means recenter / IVF centroid
    * update, and the q96 shape): posexplode to (cid, pos, value), one hash
    * agg for the per-dimension mean, one agg to reassemble the array sorted
    * by position. Output matches [[ivfAssign]]'s centroid contract
    * ((id, vec) columns), so the result feeds straight back into
    * assignment. Two shuffles, both on small keys (clusters × dims). */
  def recenter(assigned: DataFrame, cidCol: String = "cid",
               vec: String = "embedding"): DataFrame =
    assigned
      .select(col(cidCol), posexplode(col(vec)))
      .groupBy(col(cidCol), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col(cidCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m").cast("float")).as(vec))

  /** Lloyd's k-means over an embedding table — REAL centroid training for
    * the IVF search path (centroids stop being a caller artifact).
    * Deterministic: init = the `k` lowest-id vectors; each iteration is a
    * broadcast [[ivfAssign]] (cosine, matching the search-side metric)
    * plus one [[recenter]]. The centroid table is tiny (k × dims) and is
    * localCheckpoint'ed each round, so iteration lineage never compounds;
    * a cluster that loses every member keeps its previous centroid rather
    * than collapsing k. Returns (id, vec) rows with cid ids 0..k-1,
    * directly usable by [[ivfAssign]] / [[topKQuantizedIvf]]. */
  def kmeans(emb: DataFrame, k: Int, iters: Int = 5,
             id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // Deterministic seeds: the k lowest-id vectors, renumbered 0..k-1 (a
    // global window over exactly k rows — driver-scale by construction).
    val wSeed = org.apache.spark.sql.expressions.Window.orderBy(col(id))
    val seeds = emb.select(col(id), col(vec)).orderBy(col(id)).limit(k)
      .withColumn("__cid", row_number().over(wSeed).cast("long") - 1)
      .select(col("__cid").as(id), col(vec))
    kmeansFrom(emb, seeds, iters, id, vec)
  }

  /** WARM-START Lloyd iterations from an existing centroid table — the
    * retrain path the drift reports ([[appendIvfIndex]] /
    * [[graft.streaming.AnnLoop]]) point at: when growth or
    * assignment-similarity drift says recall is at risk, continue from
    * the CURRENT centroids over the grown corpus instead of re-seeding
    * cold — the [[graft.ops.GraphOps]] pageRankWarm posture applied to
    * clustering (per-iteration cost is identical; a warm start lands
    * near the fixpoint in a fraction of the rounds). Centroid IDENTITY
    * is preserved (ids pass through), so downstream artifacts keyed by
    * cid (a persisted IVF index, SemDeDup state) remain interpretable —
    * but any persisted assignment is still stale after retraining:
    * rebuild indexes to a fresh path and swap, as always. A converged
    * centroid table is a FIXPOINT: one more warm iteration returns it
    * unchanged (spec-pinned). */
  def kmeansWarm(emb: DataFrame, centroids: DataFrame, iters: Int = 2,
                 id: String = "vec_id", vec: String = "embedding"): DataFrame =
    kmeansFrom(emb, centroids.select(col(id), col(vec)), iters, id, vec)

  private def kmeansFrom(emb: DataFrame, init: DataFrame, iters: Int,
                         id: String, vec: String): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var centroids = init.localCheckpoint()
    var it = 0
    while (it < iters) {
      val assigned = ivfAssign(emb, centroids, id, vec)
        .select(col(id).as("__vid"), col("cid"))
      val updated = recenter(
        emb.join(assigned, col(id) === col("__vid")).select(col("cid"), col(vec)),
        "cid", vec)
        .select(col("cid").as(id), col(vec))
      // Clusters that lost every member keep their previous centroid.
      val stale = centroids.join(updated.select(col(id)), Seq(id), "left_anti")
      centroids = updated.unionByName(stale).localCheckpoint()
      it += 1
    }
    centroids
  }

  /** Cluster count that keeps expected cluster population ~`targetCluster`
    * at corpus size `n` — the [[lshBitsFor]] discipline applied to
    * [[semDedup]]: the within-cluster verify is quadratic in cluster size,
    * so FIXED k degrades as the corpus grows; k ∝ n holds per-cluster work
    * ~constant and total candidate volume ~linear. */
  def semDedupKFor(n: Long, targetCluster: Int = 256): Int =
    math.max(1, math.ceil(math.max(1.0, n.toDouble) / targetCluster).toInt)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public recipe):
    * semantic deduplication over an embedding table. Every vector is
    * assigned to its nearest centroid ([[ivfAssign]] semantics: cosine,
    * literal-centroid projection when the table is small); within each
    * cluster, a vector is DROPPED iff some smaller-id vector in the same
    * cluster has cosine ≥ `threshold` with it — the deterministic
    * "keep earliest" variant (the paper keeps an arbitrary representative
    * per ε-group; id order makes the output reproducible and
    * engine-portable). One-pass contract, exactly like
    * [[DedupOps.minhashDedupKeep]]: a doc is dropped if ANY smaller-id
    * τ-neighbor exists, whether or not that neighbor itself survives —
    * chains collapse toward the smallest id without iteration.
    *
    * Scale posture: the only wide op is the within-cluster self-join —
    * an EQUI join keyed on the cluster id with the id-order predicate as
    * residual (never a cartesian; plan pinned in PlanSpec). Per-cluster
    * work is quadratic in cluster size, which is the knob: size k with
    * [[semDedupKFor]] so clusters stay ~`targetCluster` and candidate
    * volume grows linearly with the corpus. Cross-cluster near-dups are
    * deliberately missed — that is SemDeDup's recall trade (the paper's
    * ε-balls live inside k-means cells); run [[neardupLshAuto]] when
    * cross-partition recall matters more than the cheap cluster prune.
    *
    * Returns the DROP set `(id)` — distinct ids that lose their cluster
    * duel. Null/absent embeddings never match (`cosine6` is null-poisoned,
    * the filter drops null verdicts), so such rows are always kept. */
  /** `(id, vec, __cid)` — the [[ivfAssign]] semantics as an attached
    * column: a narrow projection when the centroid table collects, the
    * broadcast-assign + re-join fallback otherwise. */
  private def withAssignedCid(emb: DataFrame, centroids: DataFrame,
                              id: String, vec: String): DataFrame =
    collectedCentroids(centroids, id, vec) match {
      case Some(cents) =>
        emb.select(col(id), col(vec),
          element_at(nearestCentroidsSorted(cents, col(vec)), 1)
            .getField("cid").as("__cid"))
      case None =>
        val assigned = ivfAssign(emb, centroids, id, vec)
          .select(col(id).as("__aid"), col("cid").as("__cid"))
        emb.select(col(id), col(vec))
          .join(assigned, col(id) === col("__aid")).drop("__aid")
    }

  def semDedupDrops(emb: DataFrame, centroids: DataFrame, threshold: Double,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val withCid = withAssignedCid(emb, centroids, id, vec)
    val a = withCid.select(col("__cid"), col(id).as("__d1"), col(vec).as("__a_emb"))
    val b = withCid.select(col("__cid"), col(id).as("__d2"), col(vec).as("__b_emb"))
    a.join(b, Seq("__cid"))
      .where(col("__d1") < col("__d2") &&
        cosine6(col("__a_emb"), col("__b_emb")) >= threshold)
      .select(col("__d2").as(id)).distinct()
  }

  /** [[semDedupDrops]] applied: the surviving rows of `emb`, schema
    * preserved (anti join on the drop set). */
  def semDedup(emb: DataFrame, centroids: DataFrame, threshold: Double,
               id: String = "vec_id", vec: String = "embedding"): DataFrame =
    emb.join(semDedupDrops(emb, centroids, threshold, id, vec), Seq(id), "left_anti")

  /** The persisted SemDeDup state: `(cid, doc_id, vec)` for EVERY ingested
    * vector — dropped docs included, because a dropped doc still dominates
    * its own later neighbors under the one-pass greedy contract (keeping
    * only survivors would resurrect their chains). Bucketed by `cid` so
    * [[appendSemDedup]]'s within-cluster probe joins Exchange-free. */
  def buildSemDedupState(emb: DataFrame, centroids: DataFrame,
                         id: String = "vec_id",
                         vec: String = "embedding"): DataFrame =
    // try_cast, not cast: non-castable ids fold to null and drop here; the
    // append and loop paths refuse them loudly first (IndexStore guard).
    withAssignedCid(emb, centroids, id, vec)
      .select(col("__cid").as("cid"), col(id).try_cast("long").as("doc_id"),
        col(vec).as("vec"))
      .where(col("doc_id").isNotNull)

  /** Persist [[buildSemDedupState]] bucketed by cid (the
    * [[persistIvfIndex]] posture; write to a fresh path and swap). */
  def persistSemDedupState(state: DataFrame, table: String, path: String,
                           buckets: Int = 32,
                           mode: org.apache.spark.sql.SaveMode =
                             org.apache.spark.sql.SaveMode.ErrorIfExists): Unit =
    IndexStore.persist(IndexStore.semDedup, Seq(state), table, path, buckets, mode)

  /** Re-attach a persisted SemDeDup state; `buckets` must match the
    * write. */
  def loadSemDedupState(spark: org.apache.spark.sql.SparkSession,
                        table: String, path: String,
                        buckets: Int = 32): DataFrame =
    IndexStore.attach(spark, IndexStore.semDedup, table, path, buckets).head

  /** O(new-batch) SemDeDup maintenance — the [[graft.ops.DedupOps]]
    * `appendNearDup` posture applied to the semantic prune: a NEW batch's
    * drop verdicts (vs the persisted state AND within itself) under the
    * FROZEN centroid set, with the batch appended into the state
    * afterwards. Folding batches B1..Bn emits, per batch, EXACTLY
    * `semDedupDrops(B1 ∪ … ∪ Bn, centroids)` restricted to that batch's
    * ids (SemDedupSpec pins the equivalence), while each call's wide work
    * is batch-sized: the state probe is an equi join on cid whose
    * bucketed side never shuffles, and the batch self-join is
    * batch×batch.
    *
    * Soundness needs MONOTONE ids: every batch id must exceed every
    * indexed id, or the union-batch contract would drop an
    * ALREADY-INGESTED doc (a verdict this fold has already emitted) —
    * enforced loudly after the [[IndexStore]] id guard (long-castable:
    * [[buildSemDedupState]] would silently drop a non-numeric id).
    * Centroids must be the ones the state was built with; persist them
    * beside it. The probe runs against the LIVE state, so a taken-down
    * doc stops dominating at once, while the monotone guard stays
    * PHYSICAL until [[compactSemDedupState]]. Returns the batch's drop
    * ids `(doc_id)`. */
  def appendSemDedup(spark: org.apache.spark.sql.SparkSession,
                     table: String, path: String,
                     newBatch: DataFrame, centroids: DataFrame,
                     threshold: Double,
                     id: String = "vec_id", vec: String = "embedding",
                     buckets: Int = 32): DataFrame = {
    val state = loadSemDedupState(spark, table, path, buckets)
    IndexStore.requireIds("appendSemDedup", newBatch, col(id), longIds = true)
    val batch = buildSemDedupState(newBatch, centroids, id, vec).localCheckpoint()
    requireMonotone("appendSemDedup", state, batch)
    semDedupFold(state, table, path, buckets, batch, threshold, None, append = true)
  }

  /** The monotone-id guard of [[appendSemDedup]] and
    * [[graft.streaming.SemDedupLoop]]: every `doc_id` of `batch` must
    * exceed the physical `state`'s max (`where` names the batch). */
  private[graft] def requireMonotone(op: String, state: DataFrame, batch: DataFrame,
                                     where: String = ""): Unit = {
    val maxOld = state.agg(max(col("doc_id"))).head()
    val minNew = batch.agg(min(col("doc_id"))).head()
    if (!maxOld.isNullAt(0) && !minNew.isNullAt(0))
      require(minNew.getLong(0) > maxOld.getLong(0),
        s"$op: batch$where min id ${minNew.getLong(0)} <= indexed max " +
          s"${maxOld.getLong(0)} — ids must be monotone across batches (an " +
          "out-of-order id would retroactively drop an already-ingested doc, " +
          "a verdict this fold has already emitted)")
  }

  /** The SemDeDup append body of [[appendSemDedup]] and
    * [[graft.streaming.SemDedupLoop]]: the batch's drop verdicts
    * (materialized) against the live physical `state` minus `except`,
    * then the batch appended iff `append`. */
  private[graft] def semDedupFold(state: DataFrame, table: String, path: String,
                                  buckets: Int, batch: DataFrame, threshold: Double,
                                  except: Option[DataFrame], append: Boolean): DataFrame = {
    val Seq(old) = IndexStore.live(IndexStore.semDedup, path, Seq(state), except)
    val drops = semDedupDropsCore(old, batch, threshold).localCheckpoint()
    if (append) IndexStore.append(IndexStore.semDedup, Seq(batch), table, buckets)
    drops
  }

  /** The batch-vs-state + batch-vs-batch drop verdicts shared by
    * [[appendSemDedup]] and [[graft.streaming.SemDedupLoop]]: both
    * frames carry the [[buildSemDedupState]] layout `(cid, doc_id,
    * vec)`; emits the batch ids some smaller-id doc (in `state` or
    * earlier in the batch) dominates at cosine ≥ `threshold`. The only
    * wide ops are equi joins on `cid` (Exchange-free on a bucketed
    * `state` side). */
  private[graft] def semDedupDropsCore(state: DataFrame, batch: DataFrame,
                                       threshold: Double): DataFrame = {
    val vsOld = batch.select(col("cid"), col("doc_id"), col("vec").as("__nv"))
      .join(state.select(col("cid"), col("doc_id").as("__od"), col("vec").as("__ov")),
        Seq("cid"))
      .where(col("__od") < col("doc_id") &&
        cosine6(col("__nv"), col("__ov")) >= threshold)
      .select(col("doc_id"))
    val vsNew = batch.select(col("cid"), col("doc_id").as("__d1"), col("vec").as("__v1"))
      .join(batch.select(col("cid"), col("doc_id").as("__d2"), col("vec").as("__v2")),
        Seq("cid"))
      .where(col("__d1") < col("__d2") &&
        cosine6(col("__v1"), col("__v2")) >= threshold)
      .select(col("__d2").as("doc_id"))
    vsOld.unionAll(vsNew).distinct()
  }

  /** The current tombstone id set (see [[IndexStore]]). */
  def semDedupTombstones(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    IndexStore.tombstones(spark, IndexStore.semDedup, path)

  /** Tombstone `ids`; returns how many were live (see [[IndexStore]]). */
  def deleteFromSemDedupState(spark: org.apache.spark.sql.SparkSession,
                              table: String, path: String, ids: DataFrame,
                              buckets: Int = 32): Long =
    IndexStore.delete(spark, IndexStore.semDedup, table, path, ids, buckets).collect().length

  /** The LIVE view: tombstoned ids filtered (see [[IndexStore]]). */
  def loadSemDedupStateLive(spark: org.apache.spark.sql.SparkSession,
                            table: String, path: String,
                            buckets: Int = 32): DataFrame =
    IndexStore.attachLive(spark, IndexStore.semDedup, table, path, buckets).head

  /** Compact the live rows to a FRESH path (see [[IndexStore]]); the
    * monotone-id contract survives (the physical max can only drop). */
  def compactSemDedupState(spark: org.apache.spark.sql.SparkSession,
                           table: String, path: String,
                           newTable: String, newPath: String,
                           buckets: Int = 32): DataFrame =
    IndexStore.compact(spark, IndexStore.semDedup, table, path, newTable, newPath,
      buckets)().head
}
