package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Ann, Bpe, DedupOps, ImportanceSampling, MediaCodecs, MultiModal, Pq, SketchOps, TextOps}
import graft.streaming.{AggLoop, DistinctLoop, TopKLoop}

/** Task-level entry points composing the ops layer — what a data-pipeline
  * user calls without learning each operator's plumbing. These are lazy
  * plan builders — nothing executes until an action — EXCEPT the
  * iterative ones, which run cluster jobs at call time: [[trainTokenizer]]
  * and [[trainCentroids]] (training rounds), [[canonicalDocs]] (the
  * connected-components closure iterates to convergence while the plan is
  * being built), and [[curate]], which runs each heavy stage of its funnel
  * once at call time and cuts compact id sets that its two lazy result
  * frames read.
  */
object Pipelines {

  /** Near-duplicate pairs in a document table.
    *
    * @param method "exact" (prefix-digest groups), "jaccard" (all-pairs
    *               inverted-index — the verifier, quadratic worst case) or
    *               "minhash-lsh" (the scale path: banded candidates +
    *               exact verify)
    */
  def nearDuplicates(docs: DataFrame, id: Column, text: Column,
                     threshold: Double = 0.8,
                     method: String = "minhash-lsh"): DataFrame = method match {
    case "exact" =>
      DedupOps.exactDupGroups(docs, id, text)
    case "jaccard" =>
      DedupOps.pairwiseJaccard(DedupOps.tokenSet(docs, id, text), "w", threshold)
    case "minhash-lsh" =>
      // Banding sized from the threshold with a 0.9 recall floor — never
      // fixture-pinned constants (DedupOps.minhashParamsFor). Doc-level
      // form: native projection signatures + merge-walk verify (round 12,
      // ~3× the token-relation pipeline on the dense bench slice;
      // OpsSpec pins output identical).
      DedupOps.minhashLshDocsAuto(docs, id, text, threshold)
    case other => throw new IllegalArgumentException(s"unknown dedup method: $other")
  }

  /** Linear keep/drop dedup decision (one bit per doc, one shuffle) — the
    * operator a pipeline actually applies at scale; see
    * DedupOps.minhashDedupKeepFast. */
  def dedupDecision(docs: DataFrame, id: Column, text: Column, k: Int = 8): DataFrame =
    DedupOps.minhashDedupKeepFast(docs, id, text, k)

  /** Dedup state to persist between pipeline runs: (sigkey, keep_id), one
    * row per distinct minhash signature. */
  def dedupState(docs: DataFrame, id: Column, text: Column, k: Int = 8): DataFrame =
    DedupOps.fingerprintTable(docs, id, text, k)

  /** Keep/drop for a NEW batch against a persisted prior run's
    * [[dedupState]] — identical decisions to re-running [[dedupDecision]]
    * over (old corpus ∪ batch) restricted to the batch, WITHOUT re-reading
    * the old corpus. Persist `DedupOps.updatedFingerprints` afterwards to
    * absorb the batch into the state. */
  def dedupAgainst(newDocs: DataFrame, id: Column, text: Column,
                   priorState: DataFrame, k: Int = 8): DataFrame =
    DedupOps.incrementalDedup(newDocs, id, text, priorState, k)

  /** Top-k nearest rows to one stored vector. */
  def similarTo(emb: DataFrame, probeId: Long, k: Int): DataFrame =
    Ann.cosineTopK(emb, probeId, k)

  /** Exact 1-NN for every probe row against a gallery. */
  def nearestNeighbor(probes: DataFrame, gallery: DataFrame): DataFrame =
    Ann.knn(probes, gallery)

  /** Top-k per probe at ¼ scan bandwidth: int8 coarse ranking + float
    * re-rank on the survivors (Ann.topKQuantized — agrees with exact
    * top-k at the default overfetch on the fixtures). Still scans the
    * whole gallery per probe batch; with centroids available use
    * [[similaritySearchIvf]]. */
  def similaritySearch(probes: DataFrame, gallery: DataFrame, k: Int): DataFrame =
    Ann.topKQuantized(probes, gallery, k)

  /** Train IVF centroids with Lloyd's k-means (deterministic, cosine
    * metric — matching the search side). Feed the result to
    * [[similaritySearchIvf]]; persist it like any index artifact. */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int = 5): DataFrame =
    Ann.kmeans(emb, k, iters)

  /** SemDeDup semantic dedup over an embedding table (public recipe,
    * arXiv:2303.09540): k-means partitions the space, then each cluster
    * drops every vector with a smaller-id τ-neighbor — the cheap
    * cluster-local prune that removes "same meaning, different words"
    * redundancy exact/MinHash dedup cannot see. k auto-sizes with the
    * corpus ([[Ann.semDedupKFor]]) so per-cluster work stays bounded;
    * pass trained `centroids` to skip the k-means (the steady-state
    * shape: centroids are an index artifact, reused across sweeps).
    * Returns surviving rows, schema preserved. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.95,
                    centroids: DataFrame = null, targetCluster: Int = 256,
                    iters: Int = 5): DataFrame = {
    val cents = Option(centroids).getOrElse(
      Ann.kmeans(emb, Ann.semDedupKFor(emb.count(), targetCluster), iters))
    Ann.semDedup(emb, cents, threshold)
  }

  /** The full-scale ANN: IVF candidate generation fused with the int8
    * coarse pass — a probe batch touches ~nprobe/K of the gallery instead
    * of all of it (Ann.topKQuantizedIvf; persist Ann.ivfIndex to amortize
    * the index build across batches). */
  def similaritySearchIvf(probes: DataFrame, gallery: DataFrame,
                          centroids: DataFrame, k: Int): DataFrame =
    Ann.topKQuantizedIvf(probes, gallery, centroids, k)

  /** Build the persisted, bucketed IVF index once (the steady-state
    * artifact: probe batches against it join Exchange-free on the
    * cluster id — only the probe side shuffles). */
  def buildSimilarityIndex(gallery: DataFrame, centroids: DataFrame,
                           table: String, path: String,
                           buckets: Int = 32): Unit =
    Ann.persistIvfIndex(Ann.ivfIndex(gallery, centroids), table, path, buckets)

  /** Extend a persisted index with newly-arrived vectors at O(new) cost
    * (assignment under frozen centroids — appended ≡ fresh build).
    * Returns the per-cluster drift report; retrain (+[[trainCentroids]],
    * rebuild to a fresh path) when growth or assignment-similarity drift
    * says recall is at risk. */
  def extendSimilarityIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, path: String,
                            newVectors: DataFrame, centroids: DataFrame,
                            buckets: Int = 32): DataFrame =
    Ann.appendIvfIndex(spark, table, path, newVectors, centroids, buckets)

  /** Probe a persisted index ([[buildSimilarityIndex]] /
    * [[extendSimilarityIndex]]) — the per-batch steady-state search. */
  def similaritySearchIndexed(probes: DataFrame, index: DataFrame,
                              gallery: DataFrame, centroids: DataFrame,
                              k: Int): DataFrame =
    Ann.topKQuantizedIvfWithIndex(probes, index, gallery, centroids, k)

  private def normEmb(df: DataFrame): DataFrame =
    df.withColumn("embedding", Pq.l2normalize(col("embedding")))

  /** Train a product-quantization codebook for COSINE search (vectors are
    * L2-normalized first — ADC approximates dot, and dot on the unit
    * sphere is cosine). The model is k·d floats: persist it beside the
    * index like any artifact; every search below normalizes the same
    * way, so train + search through these facades always agree. */
  def trainPqCodebook(emb: DataFrame, m: Int = 8, k: Int = 256,
                      iters: Int = 8): Pq.PqCodebook =
    Pq.pqTrain(normEmb(emb), col("vec_id"), col("embedding"), m, k, iters)

  /** Top-k per probe over one-byte PQ codes — [[similaritySearch]]'s
    * bandwidth story taken from 4× (int8) to ~4·d/m× (32× at d=64, m=8):
    * the coarse pass reads m bytes per candidate and scores it with m
    * table lookups; float cosine re-ranks the survivors. */
  def similaritySearchPq(probes: DataFrame, gallery: DataFrame,
                         cb: Pq.PqCodebook, k: Int): DataFrame =
    Pq.pqTopK(normEmb(probes), normEmb(gallery), cb, k)

  /** The full-scale PQ ANN — FAISS's IVFPQ layout as a Spark plan: IVF
    * cluster pruning (equi join on cid) + m-byte ADC candidates + float
    * re-rank (Pq.pqTopKIvf; persist Pq.pqIvfIndex / append with
    * Pq.appendPqIndex to amortize across probe batches). */
  def similaritySearchIvfPq(probes: DataFrame, gallery: DataFrame,
                            centroids: DataFrame, cb: Pq.PqCodebook,
                            k: Int): DataFrame =
    Pq.pqTopKIvf(normEmb(probes), normEmb(gallery), centroids, cb, k)

  /** DATA CARD: the one-call corpus summary a curated release ships with
    * (the published "datasheets / data cards" practice) — a tidy
    * `(section, key, value)` frame covering volume (docs / chars /
    * tokens), language mix ([[graft.ops.TextOps.langGuess]]), quality
    * verdicts, exact-dup pressure (md5-prefix groups, the q33 signal),
    * per-source counts (when `sourceCol` is set) and the top registrable
    * domains (when `urlCol` is set — the [[capPerDomain]] fold, so the
    * card and the cap agree on what a "site" is). A handful of
    * audit-time aggregations, each one scan + one bounded-cardinality
    * exchange; nothing corpus-scale collects (domains are top-`topK` via
    * a count sort-limit). */
  def corpusReport(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   sourceCol: Option[String] = None,
                   urlCol: Option[String] = None,
                   topK: Int = 20): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val text = col(textCol)
    val v = docs.agg(count(lit(1)).cast("double").as("docs"),
      coalesce(sum(length(text)), lit(0L)).cast("double").as("chars"),
      coalesce(sum(TextOps.tokenCountD(text)), lit(0.0)).as("tokens"))
    def vrow(key: String) =
      v.select(lit("volume").as("section"), lit(key).as("key"),
        col(key).as("value"))
    val volume = vrow("docs").unionByName(vrow("chars")).unionByName(vrow("tokens"))
    val lang = docs.groupBy(TextOps.langGuess(text).as("__k"))
      .agg(count(lit(1)).as("__v"))
    val quality = docs.groupBy(TextOps.qualityVerdict(text).as("__k"))
      .agg(count(lit(1)).as("__v"))
    val dups = docs.groupBy(md5(substring(text, 1, 64)).as("__h"))
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
      .agg(count(lit(1)).as("__groups"),
        sum(col("__n") - 1).as("__redundant"))
    val base = volume
      .unionByName(lang.select(lit("lang").as("section"),
        coalesce(col("__k"), lit("unknown")).as("key"),
        col("__v").cast("double").as("value")))
      .unionByName(quality.select(lit("quality").as("section"),
        col("__k").as("key"), col("__v").cast("double").as("value")))
      .unionByName(dups.select(lit("exact_dup").as("section"),
        lit("prefix64_groups").as("key"), col("__groups").cast("double").as("value")))
      .unionByName(dups.select(lit("exact_dup").as("section"),
        lit("prefix64_redundant_docs").as("key"),
        coalesce(col("__redundant"), lit(0L)).cast("double").as("value")))
    val withSource = sourceCol.fold(base) { sc =>
      base.unionByName(
        docs.groupBy(col(sc).cast("string").as("key"))
          .agg(count(lit(1)).as("__v"))
          .select(lit("source").as("section"),
            coalesce(col("key"), lit("null")).as("key"),
            col("__v").cast("double").as("value")))
    }
    urlCol.fold(withSource) { uc =>
      val apex = TextOps.registeredDomain(
        call_function("try_parse_url", col(uc), lit("HOST")))
      withSource.unionByName(
        docs.groupBy(apex.as("key")).agg(count(lit(1)).as("__v"))
          .orderBy(col("__v").desc, col("key")).limit(topK)
          .select(lit("domain").as("section"),
            coalesce(col("key"), lit("unparsed")).as("key"),
            col("__v").cast("double").as("value")))
    }
  }

  /** Deterministic TOKEN-BUDGET sampling — training sets are sized in
    * tokens, not documents: keep the prefix of the seeded-md5 order
    * (`md5(seed:id)`, the q69/q105/q160 draw) whose cumulative token
    * count fits `budgetTokens`. Reproducible across runs, layouts, and
    * retries; declared cross-engine as q186 (integer token counts, a
    * string-ordered cumulative sum — both exact).
    *
    * Scale shape: the naive spelling is ONE GLOBAL WINDOW (every row
    * through a single partition — the q186 oracle form, correct and
    * fine at audit scale). This implementation is the distributed
    * equivalent: bucket the hash order by its first two hex chars (256
    * ranges), one map-combined agg gives per-bucket token sums, the
    * driver cumsums 256 rows to find the BOUNDARY bucket, whole buckets
    * below it keep with no window at all, and only the boundary
    * bucket's rows (≈ corpus/256) pay a windowed cumsum. Bucket order
    * is hash-prefix order, so the result EQUALS the global-window
    * spelling row for row (spec-pinned). Null ids drop (no draw
    * without an id); null text counts 0 tokens and can ride. */
  def sampleToTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                          budgetTokens: Long, seed: String = "tb"): DataFrame = {
    require(budgetTokens >= 0L, s"budget must be >= 0, got $budgetTokens")
    val h = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val toks = coalesce(size(TextOps.tokens(col(textCol))).cast("long"), lit(0L))
    val base = docs.where(col(idCol).isNotNull)
      .withColumn("__h", h).withColumn("__tok", greatest(toks, lit(0L)))
    val withB = base.withColumn("__b", substring(col("__h"), 1, 2))
    val sums = withB.groupBy("__b").agg(sum(col("__tok")).as("__s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L; var boundary: Option[String] = None; var before = 0L
    sums.foreach { case (b, s) =>
      if (boundary.isEmpty) {
        if (acc + s <= budgetTokens) acc += s
        else { boundary = Some(b); before = acc }
      }
    }
    boundary match {
      case None => base.drop("__h", "__tok") // everything fits
      case Some(b) =>
        val whole = withB.where(col("__b") < b)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("__h"), col(idCol))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val edge = withB.where(col("__b") === b)
          .withColumn("__c", sum(col("__tok")).over(w) + before)
          .where(col("__c") <= budgetTokens)
          .drop("__c")
        whole.unionByName(edge).drop("__h", "__tok", "__b")
    }
  }

  /** Temperature-sampling KEEP rates (the published multilingual mixing
    * recipe — mT5/XLM-R: target share qᵢ ∝ nᵢ^α): expressed as
    * per-source Bernoulli keep rates for [[mixSources]],
    * rateᵢ = (nᵢ)^(α−1) / max_j (nⱼ)^(α−1), so surviving counts are
    * ∝ nᵢ^α with the largest possible corpus (the best-represented
    * eligible source keeps rate 1 — subsampling can only shrink). α = 1
    * keeps everything; α < 1 flattens toward uniform (the low-resource
    * upweighting); α > 1 sharpens toward the big sources. Zero-count
    * sources rate 0. */
  def temperatureRates(counts: Map[String, Long],
                       alpha: Double): Map[String, Double] = {
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    require(counts.nonEmpty, "empty source census")
    counts.foreach { case (s, n) =>
      require(n >= 0L, s"negative count $n for source '$s'") }
    val pos = counts.filter(_._2 > 0L)
    if (pos.isEmpty) counts.map { case (s, _) => s -> 0.0 }
    else {
      // The reference source (keep rate exactly 1) maximizes n^(α−1):
      // the SMALLEST positive source for α < 1, the largest for α > 1.
      val nRef = if (alpha < 1.0) pos.values.min else pos.values.max
      def rate(n: Long): Double =
        if (alpha == 1.0 || n == nRef) 1.0
        // α = 0.5 — the common temperature — gets the IEEE-exact
        // spelling: sqrt and divide are correctly rounded, so the rate
        // is bit-identical on any engine (q185 declares this form under
        // the cross-engine hash gate). General α goes through pow,
        // which the JVM only bounds to ~1 ulp.
        else if (alpha == 0.5) math.sqrt(nRef.toDouble) / math.sqrt(n.toDouble)
        else math.pow(n.toDouble, alpha - 1.0) / math.pow(nRef.toDouble, alpha - 1.0)
      counts.map { case (s, n) => s -> (if (n == 0L) 0.0 else rate(n)) }
    }
  }

  /** REAL image decode → pooled-RGB feature vectors (JDK ImageIO — no
    * external codec libraries). Undecodable assets are row-absent; audit
    * them by anti-joining asset_id. */
  def imageFeatures(assets: DataFrame, grid: Int = 4): DataFrame =
    MultiModal.decodeFeatures(assets, new MediaCodecs.ImageCodec(grid, grid))

  /** End-to-end image near-dup: decode real pixels into pooled features,
    * then LSH-bucketed cosine candidate generation + exact verify — the
    * image-side twin of the text dedup path, sharing its auto-sized
    * banding. One narrow decode, one equi-join on bucket keys. */
  def imageNearDuplicates(assets: DataFrame, threshold: Double = 0.98,
                          grid: Int = 4): DataFrame =
    Ann.neardupLshAuto(imageFeatures(assets, grid), threshold,
      id = "asset_id", vec = "features")

  /** REAL audio decode → windowed RMS energy features (JDK javax.sound —
    * WAV/AU/AIFF). Undecodable assets are row-absent. */
  def audioFeatures(assets: DataFrame, windows: Int = 8): DataFrame =
    MultiModal.decodeFeatures(assets, new MediaCodecs.WavCodec(windows))

  /** Per-format curation coverage — what a decode pass over this asset
    * table CAN and CANNOT read, so the skipped set is AUDITED, not
    * silent: (format, n_assets, n_decodable, n_undecodable, bytes),
    * sorted by format. Formats come from the magic-byte sniff (pure
    * column expression; names JDK-codec-less containers like mp4/mp3/webp
    * explicitly); decodability is the REAL header probe (ImageIO /
    * javax.sound readers), so a corrupt png counts as undecodable even
    * though its format is known. Probes are narrow; the id joins and the
    * final rollup are the only shuffles. */
  def coverageReport(assets: DataFrame): DataFrame = {
    val sniffed = assets.select(col("asset_id"),
      MediaCodecs.sniffFormat(col("payload")).as("format"),
      coalesce(length(col("payload")), lit(0)).cast("long").as("bytes"))
    val img = MediaCodecs.imageMeta(assets)
      .select(col("asset_id"), lit(true).as("__img"))
    val aud = MediaCodecs.audioMeta(assets)
      .select(col("asset_id"), lit(true).as("__aud"))
    // Header-only MP4/MP3 box/frame parse: no JDK codec exists for these,
    // but the report can still carry REAL metadata (duration, dims,
    // bitrate) instead of counting them undecodable-only.
    val ctr = MediaCodecs.containerMeta(assets)
      .select(col("asset_id"), lit(true).as("__ctr"),
        col("duration_ms").as("__dur"))
    // Round 9: MP4 keyframe extraction is pure byte arithmetic, and an
    // MJPEG track's samples are standalone JPEGs — a container whose
    // first keyframe header-probes as an image is DECODABLE (the image
    // path consumes its frames); H.264-style tracks extract but don't
    // probe, so they stay undecodable-with-metadata, honestly.
    // Only sniffed-mp4 payloads enter the frame-extraction pass: the
    // extractor's own ftyp check would early-out on everything else, but
    // scheduling it over ALL assets still ships every image/audio/junk
    // payload through an extra mapPartitions — the filter keeps the
    // extra pass proportional to the video slice.
    val vid = MediaCodecs.imageMeta(
        MediaCodecs.extractMp4Frames(
            assets.where(MediaCodecs.sniffFormat(col("payload")) === "mp4"), 1)
          .select(col("asset_id"), col("frame").as("payload")))
      .select(col("asset_id"), lit(true).as("__vid"))
    sniffed
      .join(img, Seq("asset_id"), "left")
      .join(aud, Seq("asset_id"), "left")
      .join(ctr, Seq("asset_id"), "left")
      .join(vid, Seq("asset_id"), "left")
      .withColumn("decodable",
        coalesce(col("__img"), col("__aud"), col("__vid"), lit(false)))
      .withColumn("probed", col("decodable") || coalesce(col("__ctr"), lit(false)))
      .groupBy("format")
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("decodable"), 1L).otherwise(0L)).as("n_decodable"),
        sum(when(col("decodable"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(when(col("probed"), 1L).otherwise(0L)).as("n_with_metadata"),
        sum(col("__dur")).as("container_duration_ms"),
        sum(col("bytes")).as("bytes"))
      .orderBy("format")
  }

  /** Crawl-archive ingestion: WARC payloads → curation-ready documents.
    * Explodes records ([[graft.ops.Warc.records]] — gzip members, HTTP
    * split, HTML→text), keeps only 200-status text-bearing responses,
    * and emits `(asset_id, record_no, uri, text, n_chars)` — the rows
    * the dedup/quality/language funnel consumes. One narrow pass;
    * archive bytes never shuffle. */
  def warcDocuments(assets: DataFrame, id: Column, payload: Column): DataFrame =
    graft.ops.Warc.records(assets, id, payload)
      .where(col("warc_type") === "response" && col("http_status") === 200 &&
        col("text").isNotNull && length(col("text")) > 0)
      .select(col("asset_id"), col("record_no"), col("uri"), col("text"),
        length(col("text")).cast("long").as("n_chars"))

  /** [[warcDocuments]] with block-level MAIN-CONTENT extraction
    * ([[graft.ops.Warc.mainContent]] — jusText-lite): HTML pages yield
    * only their link-sparse, long-enough blocks, so nav bars, footers,
    * and related-article chrome never enter the funnel (link density is
    * the signal whole-page extraction has already lost by the time a
    * line-level cleaner like C4 runs). Same narrow one-pass shape. */
  def warcMainDocuments(assets: DataFrame, id: Column, payload: Column,
                        maxLinkDensity: Double = 0.35, minChars: Int = 25,
                        minStopwordRatio: Double = 0.0): DataFrame =
    graft.ops.Warc.records(assets, id, payload,
        extractHtml = html => graft.ops.Warc.mainContent(
          html, maxLinkDensity, minChars, minStopwordRatio))
      .where(col("warc_type") === "response" && col("http_status") === 200 &&
        col("text").isNotNull && length(col("text")) > 0)
      .select(col("asset_id"), col("record_no"), col("uri"), col("text"),
        length(col("text")).cast("long").as("n_chars"))

  /** Crawl-archive OUTLINKS: WARC payloads → absolute `(asset_id,
    * record_no, src_url, dst_url)` link rows ([[graft.ops.Warc.links]]
    * — href extraction + RFC-3986 resolution, http(s)-only). The WAT
    * step of the web-graph pipeline; feed [[linkGraph]] /
    * [[hostAuthority]]. */
  def warcLinks(assets: DataFrame, id: Column, payload: Column): DataFrame =
    graft.ops.Warc.links(assets, id, payload)

  /** HOST-level link graph from a URL-to-URL link table — the standard
    * web-graph reduction (the CommonCrawl host-graph shape): the host
    * folds the way [[TextOps.canonicalizeUrl]] folds it (lowercased,
    * port stripped) so case/port variants of one host never split its
    * edges — extracted DIRECTLY from the raw URL rather than through
    * the full canonicalizer, because path/query normalization cannot
    * change the host and the canonicalizer's expression tree is
    * measured poison inside a reused projection (round-12 web-graph
    * extraction probe, SURVEY §6: the
    * canonical-tree form of this projection ran 11.7 s against 0.45 s
    * for the direct extraction at sf0.1 — Column reuse duplicates
    * subtrees symbolically, and wrapping the ~10²-node canon tree in
    * `when(rlike(h), extract(h))` tripled it past what codegen
    * amortizes). Parallel links collapse into one weighted edge
    * `(src, dst, weight)`; intra-host links drop by default (they carry
    * navigation, not authority — keep them via `includeSelf` for
    * site-structure work). Shape: one narrow projection + ONE hash agg
    * on the (src,dst) pair — count-style partial aggregation combines
    * map-side, so the exchange carries distinct host pairs (≪ links;
    * the web's host graph is ~1e8 edges from ~1e11 links). Rows whose
    * URLs don't parse degrade out. */
  def linkGraph(links: DataFrame, srcUrl: Column, dstUrl: Column,
                includeSelf: Boolean = false,
                byRegisteredDomain: Boolean = false): DataFrame =
    hostEdges(links, srcUrl, dstUrl, includeSelf, byRegisteredDomain)
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))

  /** The aggregation-free half of [[linkGraph]]: one `(src, dst)` HOST
    * row per link, same fold/validation conventions, no shuffle — the
    * form a STREAMING consumer needs (a streaming groupBy would demand
    * watermarks; [[streamHostAuthority]] feeds these rows to
    * [[graft.streaming.RankLoop]], which deduplicates inside its own
    * fold). */
  def hostEdges(links: DataFrame, srcUrl: Column, dstUrl: Column,
                includeSelf: Boolean = false,
                byRegisteredDomain: Boolean = false): DataFrame = {
    val e = links.select(urlHost(srcUrl, byRegisteredDomain).as("src"),
        urlHost(dstUrl, byRegisteredDomain).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    if (includeSelf) e else e.where(col("src") =!= col("dst"))
  }

  /** THE host fold of the web-graph family — one spelling shared by
    * [[hostEdges]]/[[linkGraph]] (graph building) and [[curate]]'s
    * host-authority gate (rank consumption), so a doc's host always
    * joins the graph node it actually contributed to: lowercased, port
    * stripped, hostname-shaped only (crawl junk → null, never a graph
    * node — extraction is regex-tolerant and must not throw). With
    * `byRegisteredDomain` the host folds to its registrable domain
    * (the other CommonCrawl graph shape: news.bbc.co.uk and
    * www.bbc.co.uk become one node). */
  def urlHost(u: Column, byRegisteredDomain: Boolean = false): Column = {
    val hp = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    val h0 = lower(regexp_extract(hp, "^([^:]*)", 1))
    val h = if (byRegisteredDomain) TextOps.registeredDomain(h0) else h0
    when(h.rlike("^[a-zA-Z0-9._-]+$"), h)
  }

  /** STREAMING crawl→authority: fold a stream of WARC archive payloads
    * into continuously-maintained host PageRank — the full web-graph
    * pipeline as one continuous operator (the streaming twin of
    * [[hostAuthority]], composing [[warcLinks]] → [[hostEdges]] →
    * [[graft.streaming.RankLoop]]). Per micro-batch: archives explode
    * to resolved links (stateless narrow pass — archive bytes never
    * shuffle, no streaming state), links reduce to host edges
    * (projection, no agg — RankLoop dedups within its fold), edges
    * append to `edgesDir`, and ranks warm-start from the prior batch's
    * fixpoint (`iterations` = the per-batch maintenance budget; see
    * RankLoop for why warm rounds ≪ cold rounds). Maintained
    * `(host, r, nrank)` tables land under `outDir/batch=<id>`;
    * [[graft.streaming.RankLoop.latestRanks]] reads the current one. */
  def streamHostAuthority(archives: DataFrame, id: Column, payload: Column,
                          iterations: Int, stateDir: String, edgesDir: String,
                          outDir: String, checkpointDir: String,
                          trigger: Option[Trigger] = None,
                          compactEvery: Int = 64,
                          damping: Double = 0.85): StreamingQuery =
    graft.streaming.RankLoop.run(
      hostEdges(graft.ops.Warc.links(archives, id, payload),
        col("src_url"), col("dst_url")),
      "src", "dst", iterations, stateDir, edgesDir, outDir, checkpointDir,
      trigger, compactEvery, damping)

  /** STREAMING host authority over EDGE EVENTS with takedowns — the
    * event-level companion to [[streamHostAuthority]] (which ingests
    * whole WARC archives and can only ever APPEND): when the frontier
    * layer emits host-edge events directly — discovered links as
    * upserts, domain delistings / link-rot purges as removals
    * (`removedCol` boolean) — this folds them into continuously
    * maintained PageRank over the NETTED edge set. Removals are nearly
    * free here: the damped fixpoint is init-independent, so the warm
    * restart on the netted set is sound as-is and a delisted host's
    * authority actually leaves the table (its rank rows drop once its
    * last live edge nets away) instead of haunting the curation gate
    * forever ([[graft.streaming.RankLoop]]). Read the current table
    * with [[graft.streaming.RankLoop.latestRanks]]; feed it to
    * [[curate]]'s [[HostAuthorityGate]] with `hostCol = col("node"),
    * scoreCol = col("r")` and an integer micro-rank floor. */
  def streamHostAuthorityEvents(edgeEvents: DataFrame, srcHost: String,
                                dstHost: String, removedCol: String,
                                iterations: Int, stateDir: String,
                                edgesDir: String, outDir: String,
                                checkpointDir: String,
                                trigger: Option[Trigger] = None,
                                compactEvery: Int = 64,
                                damping: Double = 0.85): StreamingQuery =
    graft.streaming.RankLoop.run(edgeEvents, srcHost, dstHost, iterations,
      stateDir, edgesDir, outDir, checkpointDir, trigger, compactEvery,
      damping, removedCol)

  /** STREAMING community-label maintenance with takedowns — the
    * one-call form of [[graft.streaming.LabelLoop]], completing the
    * loop-facade family ([[streamClusterMap]] = component structure,
    * [[streamHostAuthorityEvents]] = authority, this = bounded-radius
    * LPA communities): fold a stream of edge events (`src`/`dst`,
    * optional boolean `removedCol` marking removals) into continuously
    * maintained k-round labels over the netted edge set, recomputing
    * only each batch's k-hop cone. Read the live map with
    * [[graft.streaming.LabelLoop.latestLabels]]. */
  def streamCommunityLabels(edgeEvents: DataFrame, src: String, dst: String,
                            removedCol: String, iterations: Int,
                            stateDir: String, edgesDir: String,
                            outDir: String, checkpointDir: String,
                            trigger: Option[Trigger] = None,
                            compactEvery: Int = 64): StreamingQuery =
    graft.streaming.LabelLoop.run(edgeEvents, src, dst, iterations,
      stateDir, edgesDir, outDir, checkpointDir, trigger, compactEvery,
      removedCol)

  /** STREAMING dedup-cluster maintenance WITH takedowns — the one-call
    * form of [[graft.streaming.ClusterLoop]]: fold a stream of near-dup
    * pair events (`d1`, `d2`, optional boolean `removedCol` marking
    * takedowns/retractions) into a continuously-maintained
    * (doc, label) cluster map. Appends merge clusters, removals SPLIT
    * them — the event the append-only warm start cannot absorb — and
    * each batch recomputes only the affected components' cone
    * ([[graft.ops.DedupOps.connectedComponentsInc]]'s core; round 13,
    * SURVEY §6: 0.03–0.04× the cold recompute's shuffled bytes). Read
    * the live map any time with [[graft.streaming.ClusterLoop.latestLabels]]. */
  def streamClusterMap(pairEvents: DataFrame, d1: String, d2: String,
                       removedCol: String, stateDir: String, edgesDir: String,
                       outDir: String, checkpointDir: String,
                       trigger: Option[Trigger] = None,
                       maxIter: Int = 30,
                       compactEvery: Int = 64): StreamingQuery =
    graft.streaming.ClusterLoop.run(pairEvents, d1, d2, removedCol,
      stateDir, edgesDir, outDir, checkpointDir, trigger, maxIter, compactEvery)

  /** Host authority scores from a URL-level link table: [[linkGraph]]
    * host edges → exact-integer PageRank ([[graft.ops.GraphOps.pageRank]]
    * — (host, r, nrank), nrank relative to uniform). The quality prior
    * real curation stacks feed next to per-document filters: a page on
    * a high-authority host survives borderline quality cuts, a page on
    * a link-farm host doesn't. Default is PageRank's classic unweighted
    * form (each host's vote splits over its distinct out-hosts);
    * `weighted` splits votes by LINK COUNT instead
    * ([[graft.ops.GraphOps.pageRankWeighted]] — a host linking
    * somewhere 500 times endorses it more than one footer link does;
    * also easier to spam, which is why classic host ranking defaults
    * unweighted). Runs `iterations` cluster jobs at call time. */
  def hostAuthority(links: DataFrame, srcUrl: Column, dstUrl: Column,
                    iterations: Int = 10, weighted: Boolean = false): DataFrame = {
    val g = linkGraph(links, srcUrl, dstUrl)
    (if (weighted)
      graft.ops.GraphOps.pageRankWeighted(g, "weight", iterations = iterations)
    else graft.ops.GraphOps.pageRank(g, iterations = iterations))
      .withColumnRenamed("node", "host")
  }

  /** Host HITS scores from a URL-level link table — the two-sided
    * companion to [[hostAuthority]]: [[linkGraph]] host edges →
    * [[graft.ops.GraphOps.hits]] → `(host, hub, auth)`, each score
    * column L1-normalized. `auth` is the endorsement-side prior (what
    * PageRank also estimates — feed it to [[curate]]'s
    * [[HostAuthorityGate]] with `scoreCol = col("auth")` and a floor on
    * the normalized scale, interchangeably with a PageRank table);
    * `hub` is the signal PageRank CANNOT give: how good a host is at
    * POINTING at authoritative content — catalogs, aggregators, link
    * directories — which a frontier scheduler treats differently from
    * content hosts (crawl their outlinks eagerly, rank their own pages
    * low) and which is the reason HITS exists next to PageRank here.
    * Runs `iterations` × 2 matvec cluster jobs at call time (the
    * in-loop frames stay sparse and unnormalized — see
    * [[graft.ops.GraphOps.hits]]). */
  def hostHits(links: DataFrame, srcUrl: Column, dstUrl: Column,
               iterations: Int = 20): DataFrame =
    graft.ops.GraphOps.hits(linkGraph(links, srcUrl, dstUrl),
        iterations = iterations)
      .withColumnRenamed("node", "host")

  /** Train a BPE tokenizer on the corpus (word-level, deterministic);
    * returns the ordered merge table — persist it alongside the corpus. */
  def trainTokenizer(docs: DataFrame, text: Column,
                     numMerges: Int, minWordCount: Long = 1L): Seq[(String, String)] =
    Bpe.train(docs, text, numMerges, minWordCount)

  /** Tokenize documents under a trained merge table: (doc_id, tokens,
    * n_tokens) — exact token budgets, one narrow pass, no shuffle. */
  def tokenize(docs: DataFrame, id: Column, text: Column,
               merges: Seq[(String, String)]): DataFrame =
    Bpe.encode(docs, id, text, merges)

  /** Stratified corpus sampling — the mixture-weighting step (e.g.
    * rebalance languages or sources to target fractions). Seeded and
    * per-row deterministic (`sampleBy` hashes the row, so the SAME rows
    * are chosen on re-run — a reproducibility requirement for training
    * corpora); strata absent from `fractions` are dropped, which is the
    * point of a mixture spec. */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
                       fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    docs.stat.sampleBy(stratumCol, fractions, seed)

  /** EXACT-k deterministic sample per stratum — the reservoir-sample
    * equivalent a curation pipeline can actually reproduce: rows rank by
    * a seeded CONTENT hash of their id inside each stratum and the k
    * smallest win. No RNG state, so the sample is identical across runs,
    * partitionings, and task retries (same contract as q69's stable
    * split, and the fix `SkewOps` needed); changing `seed` draws an
    * independent sample. One shuffle on the stratum key; strata smaller
    * than k pass through whole. Declared as q105.
    *
    * PRECONDITION: `idCol` must be UNIQUE and NON-NULL (the usual primary
    * key) — duplicate or null ids tie the (hash, id) sort key, and which
    * tied row survives the cut would fall back to partition order,
    * forfeiting exactly the determinism this exists for. */
  def sampleExactK(df: DataFrame, stratumCol: String, idCol: String, k: Int,
                   seed: String = "s0"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat_ws(":", lit(seed), col(idCol).cast("string"))), col(idCol))
    df.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k).drop("__rk")
  }

  /** WEIGHTED MULTI-SOURCE MIXTURE sampling — the data-mixing step
    * between curation and training (weight web crawl down, books up,
    * drop a source entirely): each row is accepted iff its seeded
    * CONTENT-hash uniform falls under its source's declared rate. The
    * acceptance test is `substr(md5(seed:id), 1, 8) < threshold(rate)`
    * with `threshold = floor(rate · 16^8)` as zero-padded lowercase hex —
    * a pure string comparison both engines (and any engine with md5)
    * evaluate identically, exact to 2^-32. Sources absent from `rates`
    * are DROPPED (a mixture spec is exhaustive, same contract as
    * [[stratifiedSample]]); `rate >= 1` accepts the whole source (the
    * threshold becomes "g", above every hex digit).
    *
    * Determinism contract (q69/q105 discipline): no RNG state — the
    * SAME rows are chosen across runs, partitionings, and task retries,
    * and changing `seed` draws an independent mixture. Cost: ONE narrow
    * codegen'd filter — no shuffle, no join; at 100 TB this is a
    * map-only pass. (The rate map is a human-written mixture spec — tens
    * of entries — so it compiles into the filter as a when-chain, never
    * a join.) Declared as q160. */
  /** The seeded content-hash draw shared by [[mixSources]] and
    * [[splitWeighted]] — ONE spelling of the exact-to-2^-32 contract so
    * the two declared queries (q160/q166) can never diverge. */
  private def hashDraw(seed: String, idCol: String): Column =
    substring(md5(concat_ws(":", lit(seed), col(idCol).cast("string"))), 1, 8)

  /** Hex threshold for a cumulative probability: floor(c·16^8) zero-padded
    * lowercase, CLAMPED to "g" (above every hex digit) at c ≥ 1 — the
    * unclamped 9-char "100000000" would compare lexicographically BELOW
    * most 8-char hashes and silently misallocate. */
  private def hexThreshold(c: Double): String =
    if (c >= 1.0) "g" else f"${math.floor(c * 4294967296.0).toLong}%08x"

  /** DSIR-style targeted selection (arXiv:2302.03169): pick the `k` raw
    * docs that look most like a small target corpus, sampled ∝ the hashed
    * n-gram importance weight (Gumbel top-k — without replacement,
    * deterministic under `seed`). Two bucket-count fits (each collapses
    * to `buckets` driver rows) + one map-only scoring pass + a top-k;
    * nothing corpus-sized shuffles. The complement to [[mixSources]]:
    * mixing reweights SOURCES you already trust, DSIR finds
    * target-looking docs inside a source you don't. */
  def dsirSample(raw: DataFrame, id: Column, text: Column,
                 target: DataFrame, targetText: Column, k: Int,
                 buckets: Int = 16384, seed: String = "dsir",
                 alpha: Double = 1.0): DataFrame = {
    val pT = ImportanceSampling.bucketProbs(target, targetText, buckets, alpha)
    val pR = ImportanceSampling.bucketProbs(raw, text, buckets, alpha)
    ImportanceSampling.resampleTopK(raw, id, text,
      ImportanceSampling.logRatios(pT, pR), k, seed)
  }

  def mixSources(df: DataFrame, sourceCol: String, idCol: String,
                 rates: Map[String, Double], seed: String = "mix"): DataFrame =
    df.where(mixKeep(sourceCol, idCol, rates, seed))

  /** [[mixSources]]' per-row acceptance test, which [[curate]]'s mixture
    * stage uses as a flag. */
  private def mixKeep(sourceCol: String, idCol: String, rates: Map[String, Double],
                      seed: String = "mix"): Column = {
    require(rates.nonEmpty, "empty mixture spec drops everything — say so explicitly")
    rates.foreach { case (s, r) =>
      require(r >= 0.0 && r <= 1.0, s"rate for '$s' must be in [0,1], got $r") }
    val thr = rates.toSeq.foldLeft(lit(null).cast("string")) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(hexThreshold(r))).otherwise(acc)
    }
    // NULL ids are dropped EXPLICITLY (a content-hash draw needs an id;
    // the declared q160 SQL drops them too via concat's null poisoning).
    // Without the filter, concat_ws would silently SKIP the null and
    // collapse every null-id row in a source onto one shared draw.
    col(idCol).isNotNull && hashDraw(seed, idCol) < thr
  }

  /** Per-DOMAIN cap — the web-crawl balance step: keep at most `k`
    * documents per APEX domain (last two host labels of `urlCol`, the
    * q164 key — subdomains share their site's budget, which is the
    * point: one heavily-crawled site must not dominate the corpus).
    * The draw is [[sampleExactK]]'s seeded content-hash ranking, so it
    * is reproducible across runs, layouts, and retries. A SINGLE-LABEL
    * host (localhost, intranet names) has no two-label apex — it is its
    * OWN stratum (the host itself), never lumped with other one-label
    * hosts into a shared budget. Rows whose URL fails to parse share
    * one null-domain stratum and are capped together rather than passed
    * through uncapped — `try_parse_url`, not `parse_url`: crawl URLs
    * are dirty and a malformed one must degrade the row, never kill the
    * job (ANSI parse_url THROWS). */
  def capPerDomain(docs: DataFrame, urlCol: String, idCol: String, k: Int,
                   seed: String = "dom"): DataFrame = {
    val host = call_function("try_parse_url", col(urlCol), lit("HOST"))
    // Registrable-domain budget keys (PSL-lite): news.bbc.co.uk and
    // www.bbc.co.uk share ONE cap — the naive last-two-labels spelling
    // stays the declared portable convention (q164), this is the
    // production-accuracy form. Single-label hosts keep distinct caps.
    val apex = TextOps.registeredDomain(host)
    sampleExactK(docs.withColumn("__apex", apex), "__apex", idCol, k, seed)
      .drop("__apex")
  }

  /** BM25 term-match ranking — the retrieval scorer a corpus search /
    * relevance-sampling step needs (Okapi BM25 with the +1 idf variant,
    * so idf stays positive even for terms in most documents):
    * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
    * over the query `terms`, with `dl` the document token count and
    * `avgdl` the corpus mean. Documents matching no term are absent
    * (score 0 — a ranker, not a gate).
    *
    * Scale shape: corpus-wide work is ONE narrow tokenize + one hash agg
    * (per-doc lengths); everything term-specific filters to the query
    * terms FIRST, so tf/df aggregations and the scoring join carry only
    * matching rows; df and the (n_docs, avgdl) scalars broadcast.
    * No corpus-sized shuffle beyond the length aggregation. Declared
    * as q167. */
  def bm25Rank(docs: DataFrame, id: Column, text: Column, terms: Seq[String],
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "no query terms")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, 0 <= b <= 1; got k1=$k1 b=$b")
    val tok = docs.where(id.isNotNull && text.isNotNull)
      .select(id.as("doc_id"), explode(TextOps.tokens(text)).as("w"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val hits = tok.where(col("w").isin(terms: _*))
    val tf = hits.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfT = hits.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    tf.join(broadcast(dfT), "w").join(dl, "doc_id").crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum(idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
        .as("score"))
  }

  /** Multi-way WEIGHTED deterministic split — the train/val/test
    * generalization of the q69 binary split: each row lands in the
    * bucket whose cumulative-weight hex interval contains its seeded
    * content-hash draw (`substr(md5(seed:id),1,8)` against cumulative
    * `floor(Σw·16^8)` thresholds, in the DECLARED ORDER of `weights` —
    * the same exact-to-2^-32 string comparison as [[mixSources]]).
    * Weights must sum to 1 (±1e-9): a split partitions, it does not
    * sample. Deterministic across runs/layouts/retries; null ids get a
    * NULL split (no draw without an id). One narrow projection.
    * Declared as q166. */
  def splitWeighted(idCol: String,
                    weights: Seq[(String, Double)],
                    seed: String = "sp"): Column = {
    require(weights.nonEmpty, "no buckets")
    weights.foreach { case (nm, w) =>
      require(w > 0, s"bucket '$nm' weight must be positive, got $w") }
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.map(_._2).sum}")
    val h = hashDraw(seed, idCol)
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    // The LAST bucket is the unconditional otherwise — its threshold is
    // exactly 1.0 and floating-point cumulative error must not leave a
    // sliver of draws unassigned. Earlier thresholds go through the
    // CLAMPED hexThreshold (a degenerate spec like (a→1.0, b→ε) must
    // not overflow to a 9-char string and invert the allocation).
    val cases = weights.init.zip(cum.init).foldLeft(when(lit(false), "")) {
      case (acc, ((nm, _), c)) => acc.when(h < lit(hexThreshold(c)), nm)
    }
    when(col(idCol).isNotNull, cases.otherwise(weights.last._1))
  }

  /** CCNet-style PERPLEXITY-BUCKETED sampling: score every document
    * under a char-n-gram LM trained on `refCorpus` (the high-quality
    * reference — e.g. an editorial subset), split the corpus into
    * head / middle / tail quality buckets at score quantiles (head =
    * top `headFrac` by mean log-prob, i.e. lowest perplexity), and
    * sample each bucket at its declared rate via the [[mixSources]]
    * md5-threshold acceptance. The canonical training-data recipe:
    * keep the head whole, thin the middle, drop or trickle the tail.
    * Null-scored documents (null/too-short text) land in `tail` — no
    * evidence is not high quality. Output adds `lm_score` and
    * `lm_bucket`.
    *
    * Determinism: GIVEN the bucket cuts, the draw is deterministic
    * across runs, layouts, and retries (content-hash acceptance). The
    * cuts themselves default to one `approxQuantile` pass, whose
    * summaries compress per-partition — at corpus scale the cut values
    * can shift slightly with layout, flipping near-cut documents. For
    * strict end-to-end reproducibility compute the cuts ONCE and pin
    * them via `cuts = Some((midCut, headCut))` — the artifact-table
    * discipline: breakpoints are a training-run artifact, not a
    * per-run recomputation.
    *
    * Scale shape: model = one map-side-combined agg over the reference
    * (vocabulary crosses the shuffle, not the corpus); scoring = the
    * one-pass `lm_score` projection; breakpoints = one approxQuantile
    * pass; acceptance = a map-only filter. No corpus-sized shuffle
    * anywhere. */
  def lmBucketedSample(docs: DataFrame, idCol: String, textCol: String,
                       refCorpus: DataFrame, rates: Map[String, Double],
                       headFrac: Double = 1.0 / 3, midFrac: Double = 1.0 / 3,
                       seed: String = "lmmix", n: Int = 3,
                       cuts: Option[(Double, Double)] = None): DataFrame = {
    require(headFrac > 0 && midFrac >= 0 && headFrac + midFrac < 1,
      s"bucket fractions must satisfy 0 < headFrac, 0 <= midFrac, head+mid < 1; " +
        s"got head=$headFrac mid=$midFrac")
    require(rates.keySet.subsetOf(Set("head", "middle", "tail")),
      s"rates must be keyed by head/middle/tail, got ${rates.keySet.mkString(", ")}")
    val model = TextOps.ngramModel(refCorpus, col(textCol), n)
    val bytes = TextOps.ngramModelBytes(model, n)
    val scored = docs.withColumn("lm_score",
      TextOps.lmScore(col(textCol), bytes).getField("score"))
    val (midCut, headCut) = cuts.getOrElse {
      val qs = scored.stat.approxQuantile("lm_score",
        Array(1 - headFrac - midFrac, 1 - headFrac), 0.001)
      require(qs.length == 2,
        "no scorable documents — every text is null or shorter than one gram")
      (qs(0), qs(1))
    }
    val bucketed = scored.withColumn("lm_bucket",
      when(col("lm_score").isNull, "tail")
        .when(col("lm_score") >= headCut, "head")
        .when(col("lm_score") >= midCut, "middle")
        .otherwise("tail"))
    mixSources(bucketed, "lm_bucket", idCol, rates, seed)
  }

  /** TRAINING-SEQUENCE PACKING — the concatenate-and-chunk step between
    * curation and training: documents are (conceptually) concatenated in
    * `orderCol` order within each `streamCol` stream and split at
    * `budget`-token boundaries; each document is assigned the chunk it
    * STARTS in. Adds `n_tok` (the caller's token expression), `pack_id`
    * (= floor(pre-document cumulative tokens / budget)), `pack_off`
    * (offset within the chunk) and `crosses` (spans a boundary — the
    * rows a loader must carry into the next sequence). Deterministic:
    * pure function of (stream, order, token counts) — identical across
    * runs, partitionings, and retries.
    *
    * Scale shape: ONE window per stream partition (never a global
    * un-partitioned window — the corpus-wide ban); streams parallelize
    * across the cluster, and a skewed stream bounds a partition the way
    * any per-key window does — pre-shard giant streams into
    * (stream, coarse-order-bucket) keys if one source dominates.
    * Declared as q163. */
  def packSequences(docs: DataFrame, streamCol: String, orderCol: String,
                    nTok: Column, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(streamCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.withColumn("n_tok", nTok.cast("bigint"))
      .withColumn("__start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("__start") / budget.toDouble).cast("bigint"))
      .withColumn("pack_off", (col("__start") % budget).cast("bigint"))
      .withColumn("crosses", col("pack_off") + col("n_tok") > budget)
      .drop("__start")
  }

  /** End-to-end corpus canonicalization — the curation composition a
    * training pipeline runs as one step: near-dup pairs (auto-sized
    * banded LSH) → transitive closure (pointer-jumping connected
    * components, so a~b~c collapses even when a,c were never compared) →
    * ONE representative per cluster, the highest distinct-token count
    * with doc-id tie-break; docs with no near-dup edge are their own
    * singleton cluster. Returns (doc_id, cluster, cluster_size) for the
    * KEPT docs — join back on doc_id for the payload. Shuffle shape:
    * the LSH band join, O(log diameter) component rounds, one window on
    * the cluster key. */
  def canonicalDocs(docs: DataFrame, id: Column, text: Column,
                    threshold: Double = 0.8,
                    checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = nearDuplicates(docs, id, text, threshold).select("d1", "d2")
    val labels = DedupOps.connectedComponents(pairs, checkpointDir = checkpointDir)
    val base = docs.select(id.as("doc_id"),
      size(array_distinct(TextOps.tokens(text))).as("__q"))
    val labeled = base.join(labels, base("doc_id") === labels("doc"), "left")
      .select(col("doc_id"), col("__q"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
    val w = Window.partitionBy("cluster").orderBy(col("__q").desc, col("doc_id"))
    labeled
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster")))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("doc_id"), col("cluster"), col("cluster_size").cast("long").as("cluster_size"))
  }

  /** Per-document text-quality report: token stats, lexical diversity,
    * language guess and keep/drop verdict — the pre-training filter row. */
  def qualityReport(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"),
      length(text).as("n_chars"),
      size(TextOps.tokens(text)).as("n_tok"),
      round(TextOps.typeTokenRatio(text), 4).as("ttr"),
      round(TextOps.avgWordLen(text), 4).as("avg_wlen"),
      round(TextOps.stopwordRatio(text), 4).as("stop_ratio"),
      TextOps.langGuess(text).as("lang"),
      TextOps.qualityVerdict(text).as("verdict"))

  /** Keep-side of the quality filter: the rows a training pipeline retains. */
  def qualityFilter(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.where(TextOps.qualityVerdict(text) === "keep" &&
      TextOps.langGuess(text) === "en")

  /** C4-style cleaning: per-LINE boilerplate removal, then the page
    * gates — the published recipe the C4 corpus was built with (keep
    * lines ending in terminal punctuation with ≥ `minWords` words and
    * no "javascript"; drop pages with < `minSentences` sentences after
    * cleaning, or containing "lorem ipsum" or a curly brace). Returns
    * `(doc_id, text_clean, n_sentences)` for surviving pages — this
    * REWRITES documents, where [[qualityFilter]] only gates whole ones;
    * run it first so nav/cookie boilerplate never reaches dedup or the
    * LM gate as document content. Per-row expressions only: map-stage
    * work, no shuffle, scales per-byte. */
  def c4Filter(docs: DataFrame, id: Column, text: Column,
               minWords: Int = 3, minSentences: Int = 5): DataFrame =
    docs.select(id.as("doc_id"), text.as("__raw"),
        TextOps.c4CleanLines(text, minWords).as("text_clean"))
      .where(TextOps.c4PageKeep(col("text_clean"), col("__raw"), minSentences))
      .select(col("doc_id"), col("text_clean"),
        (size(split(col("text_clean"), "[.!?]")) - 1).as("n_sentences"))

  /** Train a fastText/DCLM-style learned quality classifier: hashed
    * unigram+bigram logistic regression over `positives` (reference-like
    * docs — wiki, books, curated slices) vs `negatives` (random crawl).
    * Runs `iters` cluster jobs on the labeled sample at call time;
    * persist the returned model via `Model.toBytes`. The heuristic
    * gates ([[qualityFilter]], the LM gate) are hand-set priors — this
    * is the gate you FIT when labels exist. */
  def trainQualityClassifier(positives: DataFrame, negatives: DataFrame,
                             text: Column, dim: Int = 1 << 17,
                             iters: Int = 30): graft.ops.LinearClassifier.Model =
    graft.ops.LinearClassifier.train(
      positives.select(text.as("t"), lit(1.0).as("y"))
        .unionByName(negatives.select(text.as("t"), lit(0.0).as("y"))),
      col("t"), col("y"), dim = dim, iters = iters)

  /** Classifier scores for every doc — `(doc_id, score)`, score =
    * P(reference-like). One stateless broadcast-model pass; the 100 TB
    * side of [[trainQualityClassifier]]. */
  def classifierScores(docs: DataFrame, id: Column, text: Column,
                       model: graft.ops.LinearClassifier.Model): DataFrame =
    graft.ops.LinearClassifier.score(docs, id, text, model)

  /** Gate a corpus on the learned quality score: keep docs scoring ≥
    * `floor`. Left-semi join back so the caller's schema rides through
    * untouched. Choose `floor` from measured evidence, not folklore:
    * hold out a slice of the labels with [[splitWeighted]], train on
    * the rest, and read the precision/recall/f1 curve off
    * [[graft.ops.LinearClassifier.evaluate]] at the held-out slice —
    * the floor IS the point on that curve whose trade-off the curation
    * budget wants (recall-heavy for a first cut, precision-heavy for a
    * final gate). */
  def classifierFilter(docs: DataFrame, id: Column, text: Column,
                       model: graft.ops.LinearClassifier.Model,
                       floor: Double): DataFrame =
    docs.join(
      classifierScores(docs, id, text, model)
        .where(col("score") >= floor).select(col("doc_id").as("__keep")),
      id === col("__keep"), "left_semi")

  /** Corpus docs sharing any word 3-gram with a held-out eval set — EXACT
    * (Bloom prefilter + exact semi join; see SketchOps.bloomSemiJoin). The
    * streaming/approximate twin is
    * `graft.streaming.StreamOps.contaminationFilter`. */
  def contaminatedDocs(corpus: DataFrame, corpusId: Column, corpusText: Column,
                       heldOut: DataFrame, heldOutText: Column,
                       n: Int = 3): DataFrame = {
    val probe = heldOut
      .select(explode(TextOps.wordShingles(heldOutText, n)).as("sh")).distinct()
    // NO distinct on the corpus side: that would full-width shuffle the
    // largest relation in the query BEFORE the Bloom probe gets to drop
    // non-matching rows. The final distinct on doc_id is cheap and makes
    // the duplicate shingle rows harmless.
    val corp = corpus.select(corpusId.as("doc_id"),
      explode(TextOps.wordShingles(corpusText, n)).as("sh"))
    SketchOps.bloomSemiJoin(corp, "sh", probe, "sh")
      .select("doc_id").distinct()
  }

  /** FUZZY eval-set decontamination — the near-dup companion to the
    * exact-overlap [[contaminatedDocs]]: corpus docs whose token SET is
    * Jaccard-≥-threshold similar to any held-out row. Catches
    * paraphrased / reordered / lightly-edited eval leakage that shares
    * few exact 3-grams (the known blind spot of n-gram
    * decontamination); production stacks run BOTH — exact for verbatim
    * leaks at a tight n, fuzzy for the rest ([[curate]]'s `fuzzyEval`
    * does exactly that). Cross-set LSH: the eval side's band keys
    * broadcast (benchmarks are small), the corpus's own quadratic
    * pair space never enters the plan ([[graft.ops.DedupOps.crossNearDup]]). */
  def fuzzyContaminatedDocs(corpus: DataFrame, corpusId: Column,
                            corpusText: Column, heldOut: DataFrame,
                            heldOutText: Column,
                            threshold: Double = 0.8): DataFrame =
    DedupOps.crossNearDup(corpus, corpusId, corpusText, heldOut, heldOutText,
      threshold)

  /** The persisted indexes a deployment holds, for [[takedown]]: each
    * family an optional `(table, path)` pair exactly as its
    * build/load functions take them. `buckets` must match the writes. */
  final case class TakedownTargets(
      ivf: Option[(String, String)] = None,
      lsh: Option[(String, String)] = None,
      pq: Option[(String, String)] = None,
      nearDup: Option[(String, String)] = None,
      semDedup: Option[(String, String)] = None,
      bm25: Option[(String, String)] = None,
      buckets: Int = 32) {
    require(Seq(ivf, lsh, pq, nearDup, semDedup, bm25).exists(_.isDefined),
      "takedown targets name no index — nothing to delete from")
  }

  /** ONE-CALL takedown sweep — the right-to-be-forgotten entry point:
    * tombstone `ids` across EVERY persisted index family the deployment
    * holds (IVF / LSH / PQ / banded near-dup / SemDeDup state / BM25),
    * so a removed document stops being retrievable, stops generating
    * candidate pairs, stops dominating semantic near-twins, and leaves
    * the corpus statistics — NOW, in one audited action, instead of
    * per-family calls a caller can forget one of. Every family runs the
    * one takedown contract of the [[graft.ops.IndexStore]] (BM25 adds
    * its stats correction). Returns the audit frame `(family,
    * live_removed)` — each `deleteFrom*`'s count of the batch's ids live
    * in that index (0 = no-op there). Delete stored CONTENT with the lake tools
    * ([[graft.sources.Maintenance.upsert]] deleteKeys), retract
    * batch-era fingerprint anchors with
    * [[graft.ops.DedupOps.retractFingerprints]], and feed removal
    * events to the streaming loops ([[streamClusterMap]] etc.). Bound
    * accumulated tombstone debt with each family's compact*. */
  def takedown(spark: org.apache.spark.sql.SparkSession, ids: DataFrame,
               targets: TakedownTargets): DataFrame = {
    import graft.ops.{Ann, DedupOps, Pq, SketchOps}
    val families: Seq[(String, Option[(String, String)],
        (org.apache.spark.sql.SparkSession, String, String, DataFrame, Int) => Long)] = Seq(
      ("ivf", targets.ivf, Ann.deleteFromIvfIndex),
      ("lsh", targets.lsh, Ann.deleteFromLshIndex),
      ("pq", targets.pq, Pq.deleteFromPqIndex),
      ("near_dup", targets.nearDup, DedupOps.deleteFromNearDupIndex),
      ("sem_dedup", targets.semDedup, Ann.deleteFromSemDedupState),
      ("bm25", targets.bm25, SketchOps.deleteFromBm25Index))
    val rows = for ((family, target, delete) <- families; (t, p) <- target)
      yield family -> delete(spark, t, p, ids, targets.buckets)
    import spark.implicits._
    rows.toDF("family", "live_removed")
  }

  /** [[curate]]'s result: `curated`, the surviving rows (input schema
    * preserved), and `audit`, the per-stage funnel counts — two lazy
    * reads of the one funnel frame and the id sets [[curate]] cut. */
  final case class CurationResult(curated: DataFrame, audit: DataFrame)

  /** Config for [[curate]]'s host-authority prior stage — the reason
    * the web-graph family exists for curation. `ranks` is a maintained
    * host-rank table: [[hostAuthority]]'s output `(host, r, nrank)`
    * works as-is; a [[graft.streaming.RankLoop.latestRanks]] state
    * table works with `hostCol = col("node"), scoreCol = col("r")` and
    * an integer-micro-rank floor. `url` is the docs' URL column; the
    * doc's host folds through [[urlHost]] — the SAME fold that built
    * the graph — and docs whose host scores BELOW `floor` drop. Docs
    * with no URL, an unparseable host, or a host ABSENT from `ranks`
    * KEEP: authority is a prior, not an allowlist — absence of link
    * evidence must not censor a young host (gate those upstream if you
    * want allowlisting). Set `byRegisteredDomain` iff `ranks` was
    * built over the domain-level graph. */
  final case class HostAuthorityGate(ranks: DataFrame, floor: Double, url: Column,
                                     hostCol: Column = col("host"),
                                     scoreCol: Column = col("nrank"),
                                     byRegisteredDomain: Boolean = false)

  /** Config for [[curate]]'s semantic-dedup stage: `embeddings` is a
    * (vec_id, embedding) side table keyed by the docs' `doc_id`;
    * `centroids` skips the in-call k-means (the steady-state shape —
    * centroids are an index artifact reused across sweeps; MUST be the
    * ones any persisted SemDeDup state was built with). */
  final case class SemanticDedupStage(embeddings: DataFrame,
                                      threshold: Double = 0.95,
                                      centroids: Option[DataFrame] = None,
                                      targetCluster: Int = 256,
                                      iters: Int = 5)

  /** ONE-CALL corpus curation — the full pre-training funnel over a
    * conventional (doc_id, text[, source]) table, stages in this order:
    *
    *   0. optional C4 cleaning (`c4Clean`): line-level boilerplate
    *      removal plus the page gates; it REWRITES `text`, so every
    *      later signal sees the cleaned text;
    *   1. quality + language gate (per-row scalars, no shuffle);
    *   1b. optional HOST-AUTHORITY prior ([[HostAuthorityGate]]): docs
    *      whose URL's host ranks below the floor in a maintained
    *      web-graph authority table drop — the link-farm gate, one
    *      host-scale equi join placed before the per-doc model stages;
    *   2. optional LM gate (`lmScoreFloor`): a char-trigram model is
    *      trained on the stage-1b survivors (self-distribution — the
    *      CCNet-style arrangement) and documents whose mean gram
    *      log-probability falls below the floor are dropped; gibberish
    *      and wrong-charset text sit far below in-distribution text
    *      (measured ≈ -12.6 vs ≈ -5.4 on the fixtures), so a floor
    *      around -8 separates them with a wide margin;
    *   2b. optional learned gate: `classifierFloor` (a hand-picked
    *      (model, floor)) or `classifierCalibration` (the production
    *      shape: [[graft.ops.LinearClassifier.calibrateFloor]]'s pick at
    *      a target precision on a held-out split — the audit then records
    *      the chosen floor and its held-out operating point in the
    *      stage's `detail`);
    *   3. near-dup CLUSTER canonicalization ([[canonicalDocs]]: banded
    *      LSH → transitive closure → best representative per cluster);
    *   3b. optional SEMANTIC dedup ([[SemanticDedupStage]]): SemDeDup's
    *      cluster-then-prune over a (vec_id, embedding) side table —
    *      removes "same meaning, different words" redundancy the
    *      token-level stage cannot see. Runs on the CANONICAL survivors
    *      only (embeddings semi-joined down first, so the quadratic
    *      verify pays for docs that are still alive); docs without an
    *      embedding row are kept (unscorable ≠ redundant);
    *   4. optional eval-set decontamination (Bloom-prefiltered exact
    *      3-gram overlap, plus the fuzzy near-dup pass with `fuzzyEval`;
    *      contaminated docs dropped);
    *   5. optional deterministic per-source cap ([[sampleExactK]] —
    *      reproducible across runs and retries);
    *   6. optional weighted source MIXTURE (`mixtureRates` —
    *      [[mixSources]]): the data-mixing step, applied LAST so the
    *      declared rates act on the clean deduplicated pool (mixing
    *      before dedup would let duplicate-heavy sources claw back
    *      share through their removed copies).
    *
    * What runs at call time: every heavy stage, once, cut as a COMPACT
    * table — never as a text-wide copy of the corpus. These are the host
    * rank table, the LM model (one collect), stage 3's near-dup pairs and
    * its transitive closure (iterates cluster jobs to convergence), the
    * SemDeDup drop ids, and one id verdict: each canonical survivor id
    * with its semantic, decontamination and cap outcome. A compact table
    * that fits the broadcast threshold is broadcast to the joins that
    * read it. The per-row gates (C4, quality/lang, host authority, LM,
    * classifier, mixture draw) stay flags on one per-row funnel frame,
    * checked in stage order so a row pays only for the gates it
    * reaches.
    *
    * What the two frames read: each action on either is ONE pass from
    * the input through the per-row gates, joined to the id verdict —
    * the heavy stages never run again. `curated` is the funnel frame
    * filtered on every stage: input schema preserved, with the
    * C4-rewritten text. `audit` is one conditional-count aggregate over
    * the same frame: (stage_no, stage, n_docs, detail), one row per
    * stage that ran, in order, `n_docs` the rows that passed every stage
    * up to it — so a curation run documents what each stage removed
    * (and, where calibrated, why the gate sits where it sits).
    *
    * Key contract: `doc_id` keys the id-keyed stages. Canonicalization,
    * semantic dedup and decontamination decide per id, so rows sharing a
    * `doc_id` there survive or drop together; a null `doc_id` never
    * survives canonicalization. The cap needs unique non-null ids
    * ([[sampleExactK]]'s precondition). Every other stage decides per
    * row. */
  def curate(docs: DataFrame, dedupThreshold: Double = 0.8,
             lang: Option[String] = Some("en"),
             evalSet: Option[DataFrame] = None,
             perSourceCap: Option[Int] = None,
             lmScoreFloor: Option[Double] = None,
             mixtureRates: Option[Map[String, Double]] = None,
             c4Clean: Boolean = false,
             classifierFloor: Option[(graft.ops.LinearClassifier.Model, Double)] =
               None,
             hostAuthorityGate: Option[HostAuthorityGate] = None,
             semanticDedup: Option[SemanticDedupStage] = None,
             classifierCalibration: Option[graft.ops.LinearClassifier.CalibratedFloor] =
               None,
             fuzzyEval: Option[Double] = None): CurationResult = {
    require(fuzzyEval.isEmpty || evalSet.isDefined,
      "fuzzyEval needs an evalSet to decontaminate against")
    require(classifierFloor.isEmpty || classifierCalibration.isEmpty,
      "pass classifierFloor OR classifierCalibration, not both — the " +
        "calibration already carries its floor")
    // The calibrated form is the production shape: the floor was CHOSEN
    // at a target precision on a held-out split
    // (LinearClassifier.calibrateFloor), and the audit records the
    // operating point next to the stage count instead of leaving the
    // gate's placement unexplained.
    val clsGate = classifierFloor.orElse(
      classifierCalibration.map(c => (c.model, c.floor)))
    val spark = docs.sparkSession
    val id = col("doc_id"); val text = col("text")
    // Optional C4 stage FIRST: it REWRITES text (line-level boilerplate
    // removal + page gates), and every downstream signal — quality
    // ratios, the LM model trained on survivors, dedup shingles — must
    // see the cleaned text, not nav bars and cookie banners. Every row
    // stays in the frame; its page verdict is the first flag.
    val base =
      if (!c4Clean) docs
      else docs.withColumn("__clean", TextOps.c4CleanLines(text))
        .withColumn("__c4", TextOps.c4PageKeep(col("__clean"), text))
        .withColumn("text", col("__clean")).drop("__clean")
    // Host-authority PRIOR: one equi join against the host-scale rank
    // table (broadcast under AQE at realistic sizes — hosts ≪ docs),
    // cut once because every pass over the funnel reads it. Unknown
    // hosts keep (see [[HostAuthorityGate]]).
    val withHost = hostAuthorityGate match {
      case Some(g) =>
        // Collapse duplicate host rows deterministically (keep the best
        // score) — rank tables assembled from unioned snapshots carry
        // them, and a left join would DUPLICATE every doc on that host
        // through the rest of the funnel (the Robots.frontierFilter
        // hazard, same fix).
        val ranks = cutCompact(g.ranks.select(g.hostCol.cast("string").as("__ah"),
          g.scoreCol.cast("double").as("__ascore"))
          .groupBy("__ah").agg(max(col("__ascore")).as("__ascore")))
        base.withColumn("__ahost", urlHost(g.url, g.byRegisteredDomain))
          .join(ranks, col("__ahost") === col("__ah"), "left")
      case None => base
    }
    val preLm: Seq[(String, Column)] =
      (if (c4Clean) Seq("c4_clean" -> col("__c4")) else Nil) ++
        Seq("quality_lang" -> (TextOps.qualityVerdict(text) === "keep" &&
          lang.map(l => TextOps.langGuess(text) === l).getOrElse(lit(true)))) ++
        hostAuthorityGate.map(g => "host_authority" ->
          (col("__ascore").isNull || col("__ascore") >= g.floor)).toSeq
    // One-pass lm_score gate (StreamOps.lmFilter's predicate): the
    // frozen model, trained on the rows that pass every earlier stage,
    // folds into the gate as a literal — a projection, not a join.
    val lmGate = lmScoreFloor.fold(lit(true)) { floor =>
      val trainOn = withHost.where(
        preLm.map { case (_, g) => coalesce(g, lit(false)) }.reduce(_ && _))
      val model = TextOps.ngramModelBytes(TextOps.ngramModel(trainOn, text))
      TextOps.lmScore(text, model).getField("score") >= floor
    }
    // The LEARNED gate (when a trained model exists): unlike the
    // self-trained LM stage above it carries external supervision, so
    // it runs after the cheap gates and before dedup pays for docs the
    // classifier would drop anyway. Scored per row with the model
    // broadcast once ([[classifierScores]]' scoring).
    val clsRow = clsGate.map { case (model, floor) =>
      val bm = spark.sparkContext.broadcast(model)
      val score = udf((t: String) => graft.ops.LinearClassifier.scoreText(bm.value, t))
      "classifier" -> (id.isNotNull && score(text) >= floor)
    }
    val rowGates = preLm ++ Seq("lm_gate" -> lmGate) ++ clsRow
    val nRow = rowGates.size
    val framed = withHost.withColumn("__row", gatesPassed(rowGates.map(_._2), 0))
    val pool = framed.where(col("__row") === nRow)
    // Cut only when two consumers read it (the semantic stage and the cap
    // each add one); otherwise the verdict cut below computes it once.
    val canonIds = {
      val ids = canonicalDocs(pool, id, text, dedupThreshold).select(col("doc_id").as("__canon"))
      if (semanticDedup.isDefined || perSourceCap.isDefined) cutCompact(ids) else ids
    }
    val drops = semanticDedup.map { stg =>
      // Embeddings restricted to the CANONICAL survivors first: the
      // within-cluster verify only pays for docs still alive, and a
      // token-dropped doc never semantically dominates a survivor
      // (its content survives through its cluster's canonical rep).
      // Cut, or the sizing count, every kmeans iteration and the drop
      // verify would each re-run the semi join.
      val emb = stg.embeddings.join(canonIds, col("vec_id") === col("__canon"),
        "left_semi").localCheckpoint()
      val cents = stg.centroids.getOrElse(
        graft.ops.Ann.kmeans(emb,
          graft.ops.Ann.semDedupKFor(emb.count(), stg.targetCluster), stg.iters))
      cutCompact(graft.ops.Ann.semDedupDrops(emb, cents, stg.threshold)
        .select(col("vec_id").as("__sdrop")))
    }
    val dirty = evalSet.map { es =>
      // Exact 3-gram overlap always; the fuzzy near-dup pass joins in
      // when asked (verbatim leaks die either way — the fuzzy set is
      // the paraphrased remainder the n-gram gate cannot see). Probed
      // over the whole pool, not only the semantic survivors: the
      // verdict reads an id's dirty flag only when every earlier id-keyed
      // stage kept that id, and then every pool row of the id survived
      // them — so the outcome is the same, without a shuffle join of the
      // pool against the survivor ids.
      val exact = contaminatedDocs(pool, id, text, es, col("text"))
        .select(col("doc_id").as("__dirty"))
      fuzzyEval.fold(exact)(th => exact.unionByName(
        fuzzyContaminatedDocs(pool, id, text, es, col("text"), th)
          .select(col("doc_id").as("__dirty"))))
    }
    val capped = perSourceCap.map { k =>
      val clean = (drops.toSeq.map(_ -> "__sdrop") ++ dirty.toSeq.map(_ -> "__dirty"))
        .foldLeft(pool.join(canonIds, id === col("__canon"), "left_semi")) {
          case (rows, (ids, key)) => rows.join(ids, id === col(key), "left_anti") }
      sampleExactK(clean.select(col("source"), id), "source", "doc_id", k)
        .select(col("doc_id").as("__cap"))
    }
    // The id verdict: per canonical id, how many id-keyed stages it
    // passes (canonical itself counts one). Each id set contributes one
    // bit (canonical 1, semantic drop 2, dirty 4, cap keep 8); one
    // aggregation folds them per id, which also collapses the duplicate
    // ids a set may hold. Id-sized, cut once.
    def bit(b: Int): Column = (col("__f") bitwiseAND b) =!= 0
    val idGates: Seq[(String, Column)] =
      drops.map(_ => "semantic" -> !bit(2)).toSeq ++ Seq(
        "decontaminated" -> !bit(4),
        "capped" -> capped.fold(lit(true))(_ => bit(8)))
    val verdict = cutCompact(
      (Seq(canonIds -> 1) ++ drops.map(_ -> 2) ++ dirty.map(_ -> 4) ++ capped.map(_ -> 8))
        .map { case (ids, b) => ids.select(col(ids.columns.head).as("__canon"), lit(b).as("__f")) }
        .reduce(_.unionByName(_))
        .groupBy("__canon").agg(bit_or(col("__f")).as("__f"))
        .where(bit(1))
        .select(col("__canon"), gatesPassed(idGates.map(_._2), 1).as("__v")))
    val nId = 1 + idGates.size
    val mixGate = mixtureRates.fold(lit(true))(mixKeep("source", "doc_id", _))
    // Stages passed: the per-row gates, then the id verdict, then the
    // mixture draw.
    val funnel = framed.join(verdict, id === col("__canon"), "left")
      .withColumn("__reached", when(col("__row") < nRow, col("__row"))
        .when(col("__v").isNull, lit(nRow))
        .when(col("__v") < nId || !coalesce(mixGate, lit(false)), lit(nRow) + col("__v"))
        .otherwise(lit(nRow + nId + 1)))
    val stages = ("input" +: rowGates.map(_._1)) ++
      ("canonical" +: idGates.map(_._1)) :+ "mixed"
    // Per-stage detail (nullable, appended last so positional readers of
    // the classic (stage_no, stage, n_docs) shape keep working): today
    // only the calibrated classifier stage carries one — its chosen
    // floor and held-out operating point, so the data card explains the
    // gate instead of asserting it.
    // Locale.ROOT, not the f-interpolator: this string PERSISTS into the
    // audit artifact, and f"" formats with the driver JVM's default
    // locale — a de_DE/fr_FR driver would record comma decimals and
    // break any parser of the data card.
    val details: Map[String, String] = classifierCalibration.map { c =>
      "classifier" -> String.format(java.util.Locale.ROOT,
        "floor=%.2f held-out precision=%.4f recall=%.4f f1=%.4f " +
          "target_precision=%.2f",
        Double.box(c.floor), Double.box(c.precision), Double.box(c.recall),
        Double.box(c.f1), Double.box(c.targetPrecision))
    }.toMap
    // Every stage is a subset of the one before it, so one conditional
    // count per stage over the one funnel pass gives the whole audit.
    val audit = funnel
      .agg(count(lit(1)).as("__n0"), stages.indices.tail.map(i =>
        count(when(col("__reached") >= i, lit(1))).as(s"__n$i")): _*)
      .select(explode(array(stages.zipWithIndex.map { case (name, i) =>
        struct(lit(i).as("stage_no"), lit(name).as("stage"), col(s"__n$i").as("n_docs"),
          lit(details.get(name).orNull).cast("string").as("detail")) }: _*)).as("__a"))
      .select("__a.*")
    val curated = funnel.where(col("__reached") === stages.size - 1)
      .select(docs.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    CurationResult(curated, audit)
  }

  /** Cut a compact table (an id set, a host-rank table) once: one job
    * materializes it in the executors' block stores and, in the same
    * pass, counts its rows. The cut inherits the size estimate of the
    * lineage it replaces, so the planner would shuffle every join that
    * reads it; the count marks it for broadcast instead when it fits the
    * session's broadcast threshold ([[graft.ops.SizeGate]]). */
  private def cutCompact(df: DataFrame): DataFrame = {
    val c = graft.ops.SizeGate.cut(df)
    if (c.fits) broadcast(c.df) else c.df
  }

  /** How many of `gates` a row passes in a row, plus `from`: one CASE
    * whose branches run in order, so a gate is evaluated only for rows
    * that passed every gate before it. A NULL verdict fails, as in
    * `where`. */
  private def gatesPassed(gates: Seq[Column], from: Int): Column =
    gates.zipWithIndex.foldLeft(Option.empty[Column]) { case (acc, (g, i)) =>
      val fail = !coalesce(g, lit(false))
      Some(acc.fold(when(fail, lit(from + i)))(_.when(fail, lit(from + i))))
    }.fold(lit(from))(_.otherwise(lit(from + gates.size)))

  /** Vocabulary census: n-grams occurring at least `minCount` times, with
    * EXACT counts (count-min prefilter — the shuffle carries candidates
    * only; see SketchOps.heavyHitters). */
  def vocabulary(docs: DataFrame, text: Column, n: Int = 1,
                 minCount: Long = 2): DataFrame = {
    val grams =
      if (n == 1) docs.select(explode(TextOps.tokens(text)).as("sh"))
      else docs.select(explode(TextOps.wordShingles(text, n)).as("sh"))
    SketchOps.heavyHitters(grams, "sh", minCount)
  }

  /** Doc fingerprints for incremental dedup across pipeline runs. Pure
    * per-row HOFs — ZERO exchanges, vs the explode+groupBy+join form's two
    * full shuffles of the (doc_id, shingle) relation. CollapseProject
    * duplicates the shingle array across its two uses (~2x row CPU), which
    * is the right trade at cluster scale where the exchange, not the scan,
    * is the bottleneck. */
  def fingerprints(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val sh = TextOps.wordShingles(text, 3)
    docs.select(id.as("doc_id"), TextOps.docFingerprint(text).as("doc_fp"),
      array_min(transform(sh, s => TextOps.shingleHash(s))).as("shingle_fp"),
      size(array_distinct(sh)).cast("bigint").as("n_shingles"))
  }

  /** Continuous top-k leaderboard over a stream — the one-call form of
    * [[graft.streaming.TopKLoop]] (state bounded at groups·k payload rows
    * forever; crash-safe versioned folds, replay-idempotent). Seed with
    * batch history via `seed` (e.g. the table the stream continues) —
    * applied only when the state directory has no live version yet, so a
    * supervisor restarting the identical call resumes instead of
    * tripping over its own seed. Read the live board any time with
    * [[currentLeaderboard]]. */
  def leaderboard(stream: DataFrame, groupCols: Seq[String], orderCol: String,
                  tiebreakCol: String, k: Int, stateDir: String,
                  checkpointDir: String, descending: Boolean = true,
                  seed: Option[DataFrame] = None,
                  trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = stream.sparkSession
    if (TopKLoop.latestState(spark, stateDir).isEmpty)
      seed.foreach(h => TopKLoop.seedState(
        TopKLoop.topK(h, groupCols, orderCol, tiebreakCol, k, descending), stateDir))
    TopKLoop.run(stream, groupCols, orderCol, tiebreakCol, k,
      stateDir, checkpointDir, descending, trigger)
  }

  /** The leaderboard's current payload rows (None until seeded or run). */
  def currentLeaderboard(spark: SparkSession, stateDir: String): Option[DataFrame] =
    TopKLoop.latestState(spark, stateDir)

  /** Continuously-maintained exact rollup table over a stream — the
    * one-call form of [[graft.streaming.AggLoop]] (decimal-exact
    * incremental n/sum/min/max per group; avg at read time over non-null
    * counts). Seed with batch history via `seed` — applied only when the
    * state directory has no live version yet (restart-safe, as
    * [[leaderboard]]); read any rollup level with [[currentRollup]] — no
    * history re-read, ever. */
  def rollupTable(stream: DataFrame, groupCols: Seq[String], valueCols: Seq[String],
                  stateDir: String, checkpointDir: String,
                  seed: Option[DataFrame] = None,
                  trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = stream.sparkSession
    if (AggLoop.latestState(spark, stateDir).isEmpty)
      seed.foreach(h => AggLoop.seedState(
        AggLoop.aggTable(h, groupCols, valueCols), stateDir))
    AggLoop.run(stream, groupCols, valueCols, stateDir, checkpointDir, trigger)
  }

  /** The live rollup read at `keepCols` granularity (⊆ the maintained
    * grouping): n, sum/min/max/avg per value column as doubles. */
  def currentRollup(spark: SparkSession, stateDir: String,
                    keepCols: Seq[String], valueCols: Seq[String]): Option[DataFrame] =
    AggLoop.latestState(spark, stateDir)
      .map(AggLoop.report(_, keepCols, valueCols))

  /** Continuously-maintained EXACT distinct counts over a stream — the
    * one-call form of [[graft.streaming.DistinctLoop]] (state = the
    * distinct pair set; exact at every coarser rollup level). Seed with
    * batch history via `seed` (restart-safe, as [[leaderboard]]); read
    * with [[currentDistinct]]. */
  def distinctCensus(stream: DataFrame, groupCols: Seq[String], valueCol: String,
                     stateDir: String, checkpointDir: String,
                     seed: Option[DataFrame] = None,
                     trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = stream.sparkSession
    if (DistinctLoop.latestState(spark, stateDir).isEmpty)
      seed.foreach(h => DistinctLoop.seedState(
        DistinctLoop.pairTable(h, groupCols, valueCol), stateDir))
    DistinctLoop.run(stream, groupCols, valueCol, stateDir, checkpointDir, trigger)
  }

  /** The live exact distinct count at `keepCols` granularity (⊆ the
    * maintained grouping). */
  def currentDistinct(spark: SparkSession, stateDir: String,
                      keepCols: Seq[String], valueCol: String): Option[DataFrame] =
    DistinctLoop.latestState(spark, stateDir)
      .map(DistinctLoop.report(_, keepCols, valueCol))
}
