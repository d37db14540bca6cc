package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-accelerated EXACT operators for 100 TB pipelines, built on
  * Spark's mergeable sketches (`org.apache.spark.util.sketch`, built in one
  * distributed pass via `df.stat`) probed row-side by graft's native
  * expressions (`bloom_might_contain` / `cms_estimate`).
  *
  * The design rule: the sketch only PRUNES, it never decides. Both sketches
  * are one-sided (a Bloom filter has no false negatives; count-min never
  * undercounts), so filtering the big side by a sketch probe keeps a
  * superset of the true answer, and an exact verify on the survivors
  * restores exactness. What the sketch buys is where the work dies at
  * scale: rows are dropped BEFORE the shuffle, so the exchange carries
  * survivors instead of the full input.
  */
object SketchOps {

  /** Serialized Bloom filter over a column, built in one distributed pass
    * (treeAggregate under `df.stat.bloomFilter` — only the sketch reaches
    * the driver). `expectedItems <= 0` means "count the rows first"
    * (fine for a side that is small relative to the big side; pass an
    * estimate to skip that job at scale). */
  def bloomBytes(df: DataFrame, colName: String, fpp: Double = 0.01,
                 expectedItems: Long = -1L): Array[Byte] = {
    // stat.bloomFilter NPEs on an empty frame (null aggregation buffer);
    // an empty input legitimately means "nothing can match". The sizing
    // count doubles as the emptiness check so the default path scans the
    // probe side once before the sketch pass, not twice (isEmpty is kept
    // only where no count runs — when the caller supplied the size).
    val n = if (expectedItems > 0) expectedItems else df.count()
    val empty = if (expectedItems > 0) df.isEmpty else n == 0
    val bf =
      if (empty) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else df.stat.bloomFilter(colName, n, fpp)
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Serialized count-min sketch over a column (one distributed pass;
    * eps·N additive overcount bound with `confidence`, never undercounts). */
  def cmsBytes(df: DataFrame, colName: String, eps: Double = 1e-3,
               confidence: Double = 0.99, seed: Int = 42): Array[Byte] = {
    val cms =
      if (df.isEmpty)
        org.apache.spark.util.sketch.CountMinSketch.create(eps, confidence, seed)
      else df.stat.countMinSketch(colName, eps, confidence, seed)
    val out = new ByteArrayOutputStream()
    cms.writeTo(out)
    out.toByteArray
  }

  /** Membership probe column against a serialized Bloom filter. */
  def bloomProbe(sketch: Array[Byte], key: Column): Column =
    call_function("bloom_might_contain", lit(sketch), key)

  /** Frequency-upper-bound probe column against a serialized count-min
    * sketch. */
  def cmsProbe(sketch: Array[Byte], key: Column): Column =
    call_function("cms_estimate", lit(sketch), key)

  /** EXACT left-semi join with a Bloom prefilter on the big side.
    *
    * Identical result to `big SEMI JOIN small ON big[bigKey] = small[smallKey]`
    * (the exact join on the survivors kills the filter's false positives),
    * but the big side is cut to ~hit-rate + fpp BEFORE any exchange. When
    * `small` fits a broadcast hash join the filter just saves hash probes;
    * the 100 TB case is the one where `small` is 10–100M keys — too big to
    * broadcast as a hash relation, so the join sort-merges, and the Bloom
    * probe (~1.2 MB per 1M keys at 1% fpp) prunes the big side's shuffle
    * to survivors only.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String,
                    small: DataFrame, smallKey: String,
                    fpp: Double = 0.01): DataFrame =
    bloomSemiJoinWith(big, bigKey, bloomSemiSketch(small, smallKey, fpp),
      small, smallKey)

  /** The semi-join prefilter sketch: Bloom over `xxhash64(key)`, probed as
    * a LONG — the same design as Spark's injected runtime filters. The
    * row-side probe hashes the key natively in codegen (no per-row String
    * or byte[] allocation — measured 2× on a 6M-row probe vs string
    * probing) and the filter stores 64-bit hashes regardless of key width.
    * One-sidedness is preserved (equal keys hash equal, so a present key
    * can never be rejected); xxhash collisions only add false positives,
    * which the exact verify join removes. */
  def bloomSemiSketch(small: DataFrame, smallKey: String, fpp: Double = 0.01,
                      expectedItems: Long = -1L): Array[Byte] =
    bloomBytes(small.select(xxhash64(col(smallKey)).as("__graft_h")),
      "__graft_h", fpp, expectedItems)

  /** [[bloomSemiJoin]] with a PREBUILT [[bloomSemiSketch]] — the
    * steady-state shape: building the filter costs two jobs over the small
    * side (a sizing count + the treeAggregate sketch pass), so pipelines
    * that probe the same key set repeatedly (per-batch contamination
    * checks against a fixed eval set) should build once, persist the
    * bytes, and pay only the probe + survivor join per batch. */
  def bloomSemiJoinWith(big: DataFrame, bigKey: String, sketch: Array[Byte],
                        small: DataFrame, smallKey: String): DataFrame = {
    // Alias the verify side's key so equal names on both inputs stay
    // unambiguous in the join condition.
    val verifyKey = "__graft_bloom_verify_key"
    val verify = small.select(col(smallKey).as(verifyKey)).distinct()
    big.where(bloomProbe(sketch, xxhash64(col(bigKey))))
      .join(verify, col(bigKey) === verify(verifyKey), "left_semi")
  }

  /** EXACT heavy hitters: items occurring at least `minCount` times, with
    * their exact counts.
    *
    * Two passes, no full-width shuffle: pass 1 folds every row into a
    * count-min sketch (map-side merged; only the sketch moves); pass 2
    * keeps rows whose sketch estimate clears `minCount` — a superset of
    * the true heavy hitters, since count-min never undercounts — then
    * exact-counts ONLY the surviving candidates and re-applies the
    * threshold. The shuffle carries candidate rows instead of the whole
    * multiset; for vocabulary-shaped data (few heavy keys, a long unique
    * tail) that is the difference between shuffling everything and
    * shuffling almost nothing. Null items are ignored, as in
    * `GROUP BY`-with-`HAVING` semantics they'd form their own group —
    * callers wanting nulls counted should coalesce first.
    */
  def heavyHitters(items: DataFrame, itemCol: String, minCount: Long,
                   eps: Double = 1e-3, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    val sketch = cmsBytes(items, itemCol, eps, confidence, seed)
    items.where(cmsProbe(sketch, col(itemCol)) >= minCount)
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
  }

  /** Reaggregatable distinct-count sketch table — the 100 TB rollup
    * pattern. One HLL sketch per fine-grained group (e.g. day × type);
    * any coarser rollup later MERGES sketches instead of re-reading raw
    * data, because HLL union is lossless over sketches: a year of daily
    * per-dimension sketches answers "distinct users last quarter, by
    * type" from kilobytes. Plain `count(distinct)` cannot do this —
    * distinct counts are not additive across groups. */
  def hllSketchTable(df: DataFrame, itemCol: String,
                     groupCols: String*): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(itemCol)).as("hll"))

  /** Roll a sketch table up to `keepCols` (empty = global): sketches merge
    * via `hll_union_agg`, then one estimate per surviving group. */
  def hllRollup(sketchTable: DataFrame, keepCols: String*): DataFrame = {
    val est = hll_sketch_estimate(hll_union_agg(col("hll"))).as("approx_distinct")
    if (keepCols.isEmpty) sketchTable.agg(est)
    else sketchTable.groupBy(keepCols.map(col): _*).agg(est)
  }

  /** Reaggregatable QUANTILE sketch table — [[hllSketchTable]]'s analog
    * for percentiles, which are just as non-additive as distinct counts:
    * one KLL sketch per fine-grained group; any coarser percentile later
    * merges sketches (lossless over sketches, bounded rank error) instead
    * of re-reading raw data. A year of daily per-dimension sketches
    * answers "p95 latency last quarter, by type" from kilobytes. */
  def kllSketchTable(df: DataFrame, valueCol: String,
                     groupCols: String*): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double")).as("kll"))

  /** Roll a KLL sketch table up to `keepCols` (empty = global) and answer
    * the given quantiles from the merged sketch: one `p<q>` column per
    * requested quantile (rank error ~1.65% at the default sketch size). */
  def kllRollup(sketchTable: DataFrame, quantiles: Seq[Double],
                keepCols: String*): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 1),
      s"quantiles must be within [0,1], got $quantiles")
    require(quantiles.map(q => math.round(q * 100)).distinct.size == quantiles.size,
      s"quantiles collide after p<percent> naming (e.g. 0.5 and 0.501): $quantiles")
    val merged = kll_merge_agg_double(col("kll")).as("kll")
    val base =
      if (keepCols.isEmpty) sketchTable.agg(merged)
      else sketchTable.groupBy(keepCols.map(col): _*).agg(merged)
    quantiles.foldLeft(base) { (df, q) =>
      df.withColumn(f"p${math.round(q * 100)}%d",
        kll_sketch_get_quantile_double(col("kll"), lit(q)))
    }.drop("kll")
  }

  // ---- Persisted BM25 index: retrieval over a corpus too big to scan ----
  //
  // Pipelines.bm25Rank re-tokenizes the WHOLE corpus per query — right for
  // ad-hoc audits, wrong as the steady-state shape (a 100 TB corpus cannot
  // be scanned per query). The index is the classic inverted layout
  // re-expressed as graft state tables: POSTINGS (w, doc_id, tf) bucketed
  // by term — a query's candidate generation is an equi probe touching
  // only its terms' buckets — and LENGTHS (doc_id, dl) bucketed by doc_id
  // — the normalization join touches only matching docs, Exchange-free on
  // the bucketed side. Corpus scalars (n_docs, total_dl) live in an
  // APPEND-ONLY delta log (tiny parquet rows; read = sum), so appends and
  // deletions adjust them without rewriting state (each mutation's one
  // crash window is detected by Bm25Loop's replay audit and repaired by
  // compactBm25Index); deletions are IndexStore tombstones plus a
  // negative stats delta. The contract is
  // EXACTNESS, not approximation: indexed query ≡ the ad-hoc bm25Rank
  // over the live corpus (spec-pinned after builds, appends, and
  // deletions).

  /** Tokenized BM25 state for a corpus: `(postings (w, doc_id, tf),
    * lengths (doc_id, dl))` — null ids/text drop (unrankable). */
  def buildBm25Index(docs: DataFrame, id: Column, text: Column)
      : (DataFrame, DataFrame) = {
    // No empty-token filter: bm25Rank's document LENGTH counts every
    // split cell (empties included), and the ≡-ad-hoc contract needs
    // identical dl values; "" never matches a real query term.
    val tok = docs.where(id.isNotNull && text.isNotNull)
      .select(id.cast("long").as("doc_id"), explode(TextOps.tokens(text)).as("w"))
    (tok.groupBy("w", "doc_id").agg(count(lit(1)).as("tf")),
      tok.groupBy("doc_id").agg(count(lit(1)).as("dl")))
  }

  private def bm25StatsDir(path: String): String = s"${path}_stats"

  /** The current tombstone id set (see [[IndexStore]]). */
  def bm25Tombstones(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    IndexStore.tombstones(spark, IndexStore.bm25, path)

  private def appendStatsDelta(spark: org.apache.spark.sql.SparkSession,
                               path: String, lengths: DataFrame,
                               sign: Int): Unit =
    lengths.agg((count(lit(1)) * sign).as("d_docs"),
        (coalesce(sum(col("dl")), lit(0L)) * sign).as("d_dl"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(bm25StatsDir(path))

  /** Live corpus scalars `(n_docs, total_dl)`: the summed delta log. */
  def bm25Stats(spark: org.apache.spark.sql.SparkSession,
                path: String): (Long, Long) = {
    val r = spark.read.parquet(bm25StatsDir(path))
      .agg(coalesce(sum(col("d_docs")), lit(0L)),
        coalesce(sum(col("d_dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Persist a [[buildBm25Index]] pair bucketed for the probe paths and
    * seed the stats log (fresh path; the never-in-place rule). */
  def persistBm25Index(index: (DataFrame, DataFrame), table: String,
                       path: String, buckets: Int = 32,
                       mode: org.apache.spark.sql.SaveMode =
                         org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    IndexStore.persist(IndexStore.bm25, Seq(index._1, index._2), table, path, buckets, mode)
    if (mode == org.apache.spark.sql.SaveMode.Overwrite) IndexStore.drop(bm25StatsDir(path))
    // The lengths just written, read through the catalog entry the write
    // made (no re-registration).
    appendStatsDelta(index._1.sparkSession, path,
      index._1.sparkSession.table(s"`${table}_dl`"), sign = 1)
  }

  /** Re-attach a persisted index: `(postings, lengths)`. */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, table: String,
                    path: String, buckets: Int = 32): (DataFrame, DataFrame) =
    IndexStore.attach(spark, IndexStore.bm25, table, path, buckets) match {
      case Seq(po, dl) => (po, dl) }

  /** O(new-docs) maintenance: tokenize + append the batch's postings and
    * lengths (hash placement matches — probe joins stay Exchange-free)
    * and log the stats delta. Ids pass the [[IndexStore]] guard (non-NULL,
    * batch-unique, long-castable, not physically indexed) and must not
    * be tombstoned. */
  def appendBm25Index(spark: org.apache.spark.sql.SparkSession,
                      table: String, path: String,
                      newDocs: DataFrame, id: Column, text: Column,
                      buckets: Int = 32): Unit = {
    val (_, dl) = loadBm25Index(spark, table, path, buckets)
    IndexStore.requireIds("appendBm25Index", newDocs, id, longIds = true)
    val batchIds = newDocs.select(id.cast("long").as("doc_id"))
    IndexStore.requireNew("appendBm25Index", IndexStore.bm25, table, path, dl, batchIds)
    // Tombstoned ids refuse too, even when never physically ingested: the
    // query path anti-joins them out FOREVER, so appending one would add
    // an unsearchable doc that still counts in n_docs/avgdl — silently
    // breaking the indexed ≡ ad-hoc contract.
    val dead = bm25Tombstones(spark, path)
      .join(batchIds, Seq("doc_id"), "left_semi").count()
    require(dead == 0L,
      s"appendBm25Index: $dead new id value(s) are tombstoned in `$table` — " +
        "they would be invisible to queries yet counted in the statistics; " +
        "compactBm25Index makes deleted ids re-appendable")
    bm25Fold(spark, table, path, buckets, newDocs, id, text)
  }

  /** The BM25 append body of [[appendBm25Index]] and
    * [[graft.streaming.Bm25Loop]]: postings, then lengths, then the
    * stats delta (attached tables; ids already guarded). */
  private[graft] def bm25Fold(spark: org.apache.spark.sql.SparkSession,
                              table: String, path: String, buckets: Int,
                              docs: DataFrame, id: Column, text: Column): Unit = {
    val (po, ln) = buildBm25Index(docs, id, text)
    val lnC = ln.localCheckpoint()
    IndexStore.append(IndexStore.bm25, Seq(po.localCheckpoint(), lnC), table, buckets)
    appendStatsDelta(spark, path, lnC, sign = 1)
  }

  /** Tombstone `ids` (see [[IndexStore]]) and log a NEGATIVE stats delta
    * for the live ones, so queries still equal the ad-hoc ranker over the
    * surviving docs. Returns the live count. */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          table: String, path: String, ids: DataFrame,
                          buckets: Int = 32): Long = {
    // Tombstones FIRST, the negative delta second: a RETRY after a crash
    // between the two finds nothing live and never double-decrements; the
    // one skew a crash can leave (n_docs > live docs) is repaired by
    // compactBm25Index (Bm25Loop's replay audit checks it).
    val live = IndexStore.delete(spark, IndexStore.bm25, table, path, ids, buckets)
    val n = live.collect().length
    if (n > 0) appendStatsDelta(spark, path, spark.table(s"`${table}_dl`")
      .join(broadcast(live), Seq("doc_id"), "left_semi"), sign = -1)
    n
  }

  /** BM25 query over the persisted index — the steady-state retrieval
    * shape: candidate generation is an equi probe on the query's terms
    * (only their postings buckets read), df comes from the SAME probed
    * rows, lengths join Exchange-free on the bucketed side, and the
    * corpus scalars read from the delta log. Identical scoring formula
    * (and values) to [[graft.api.Pipelines.bm25Rank]] over the live
    * corpus. */
  def bm25QueryIndexed(spark: org.apache.spark.sql.SparkSession,
                       table: String, path: String, terms: Seq[String],
                       k1: Double = 1.2, b: Double = 0.75,
                       buckets: Int = 32): DataFrame = {
    require(terms.nonEmpty, "no query terms")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, 0 <= b <= 1; got k1=$k1 b=$b")
    val Seq(po, dl) = IndexStore.attachLive(spark, IndexStore.bm25, table, path, buckets)
    val hits = po.where(col("w").isin(terms: _*))
    val dfT = hits.groupBy("w").agg(count(lit(1)).as("df"))
    val (nDocs, totalDl) = bm25Stats(spark, path)
    require(nDocs > 0, "empty (or fully deleted) index")
    val avgdl = totalDl.toDouble / nDocs
    val idf = log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1)
    hits.join(broadcast(dfT), "w")
      .join(dl, "doc_id")
      .groupBy("doc_id")
      .agg(sum(idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
        .as("score"))
  }

  /** Rewrite the LIVE rows to a FRESH index, clearing tombstone debt and
    * rebuilding the stats log from scratch — the compaction/repair tool
    * of this family (also the recovery path the loud partial-append
    * guards point at). */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       table: String, path: String,
                       newTable: String, newPath: String,
                       buckets: Int = 32): Unit =
    IndexStore.compact(spark, IndexStore.bm25, table, path, newTable, newPath, buckets) {
      // Postings additionally reconcile against the lengths table (the
      // source of doc-ness): a crash between an append's postings and
      // lengths writes leaves orphan postings that a plain tombstone
      // filter would carry into the new index forever.
      case Seq(po, dl) => persistBm25Index(
        (po.join(dl.select(col("doc_id")), Seq("doc_id"), "left_semi"), dl),
        newTable, newPath, buckets)
    }
}

