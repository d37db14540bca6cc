package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, count, length, lit, lpad, md5, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB posture is about plan SHAPE, not
  * local timings: filters must reach the parquet scan, small dims must
  * broadcast, aggregations must have a map-side partial, top-k must not
  * globally sort. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
  }

  private def planString(df: DataFrame): String = executed(df).toString

  test("q01: predicate and projection are pushed to the parquet scan") {
    val df = TestSpark.corpus("q01_scan_filter_project")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") && scan.contains("l_quantity"),
      "filter not pushed to scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_comment"),
      "unused columns not pruned from scan")
  }

  test("q07: dimension-side join broadcasts (no shuffle of the big side)") {
    val p = planString(TestSpark.corpus("q07_join_inner"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$p")
  }

  test("registerAnalyzed: catalog stats broadcast the dim at PLAN time (AQE off, CBO on)") {
    // The temp-view path plans from file sizes + AQE runtime stats; this
    // pins the third tier — ANALYZE'd catalog stats letting the cost-based
    // optimizer choose the broadcast side before any task runs.
    val keep = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val cust = graft.sources.Catalog.registerAnalyzed(spark, "cust_stats",
        s"${TestSpark.sfDir}/customer.parquet", analyzeColumns = Seq("c_custkey"))
      val ord = graft.sources.Catalog.registerAnalyzed(spark, "ord_stats",
        s"${TestSpark.sfDir}/orders.parquet", analyzeColumns = Seq("o_custkey"))
      // The stats really are in the catalog: plan-time row count is known.
      val cstats = spark.table("cust_stats").queryExecution.optimizedPlan.stats
      assert(cstats.rowCount.exists(_.toLong > 0), s"no row count in $cstats")
      val joined = ord.join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"expected plan-time broadcast:\n$p")
    } finally {
      keep.foreach { case (k, v) => spark.conf.set(k, v) }
      Seq("cust_stats", "ord_stats").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("histogram column stats flip a skew-blind join decision plain stats cannot") {
    // Plain NDV/min/max costing assumes a UNIFORM distribution: `k > 0`
    // over a column that is 99.5% zeros (min 0, max ~1e6) estimates ~ALL
    // rows — both sides look ~24 MB wide, so CBO plans a sort-merge
    // join. The equi-height histogram knows the mass sits at 0, prices
    // the filter at ~0.5%, and the filtered side becomes provably
    // broadcastable AT PLAN TIME. Both aggregates touch every column so
    // pruning cannot shrink either estimate (the round-6 CBO probe's
    // wideSql discipline, SURVEY §6) — the histogram is the ONLY thing
    // that changes.
    val keep = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled")
      .map(k => k -> spark.conf.get(k))
    val dir = java.nio.file.Files.createTempDirectory("graft_histo")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val n = 200000L
      spark.range(n).select(col("id"),
          when(col("id") % 200 === 0, col("id") * 5 + 1).otherwise(0L).as("k"),
          lpad(col("id").cast("string"), 100, "x").as("payload"))
        .write.parquet(s"$dir/fact")
      spark.range(n).select(col("id"),
          lpad(col("id").cast("string"), 100, "y").as("p2"))
        .write.parquet(s"$dir/big")
      graft.sources.Catalog.registerAnalyzed(spark, "histo_fact", s"$dir/fact",
        analyzeColumns = Seq("id", "k", "payload"))
      graft.sources.Catalog.registerAnalyzed(spark, "histo_big", s"$dir/big",
        analyzeColumns = Seq("id", "p2"))
      def plan: String = spark.table("histo_fact").where(col("k") > 0)
        .join(spark.table("histo_big"), "id")
        .agg(count(lit(1)), sum(length(col("payload"))), sum(length(col("p2"))))
        .queryExecution.executedPlan.toString
      val before = plan
      assert(before.contains("SortMergeJoin") && !before.contains("BroadcastHashJoin"),
        s"without a histogram the uniform estimate must keep both sides big:\n$before")
      // Same table, same query — only the k histogram is added.
      graft.sources.Catalog.refreshStats(spark, "histo_fact",
        histogramColumns = Seq("k"))
      val after = plan
      assert(after.contains("BroadcastHashJoin"),
        s"the histogram must price k > 0 at ~0.5% and broadcast the filtered side:\n$after")
    } finally {
      keep.foreach { case (k, v) => spark.conf.set(k, v) }
      Seq("histo_fact", "histo_big").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("linkGraph: ONE exchange — pair counts combine map-side, links never shuffle raw") {
    import spark.implicits._
    val links = (0L until 2000L).map(i =>
      (s"http://s${i % 50}.org/p$i", s"https://d${i % 20}.org/x?q=$i"))
      .toDF("src_url", "dst_url")
    val df = graft.api.Pipelines.linkGraph(links, col("src_url"), col("dst_url"))
    val p = planString(df)
    // Partial+final pair: the (src,dst) count combines BEFORE the
    // exchange, so the shuffle carries distinct host pairs, not links —
    // at web scale that is ~1e8 rows instead of ~1e11.
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate pair:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"the host-graph reduction must shuffle exactly once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no pair-join shape anywhere:\n$p")
  }

  test("q03: aggregation has map-side partial + final (the automatic combiner)") {
    val p = planString(TestSpark.corpus("q03_agg_tpch1_decimal"))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("global top-k lowers to TakeOrderedAndProject, not a full sort") {
    val df = spark.sql(
      "select l_orderkey, l_extendedprice from lineitem order by l_extendedprice desc limit 50")
    val p = planString(df)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator, got:\n$p")
  }

  test("q35: probe side is broadcast — corpus is scanned exactly once") {
    val p = planString(TestSpark.corpus("q35_cosine_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe not broadcast:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length <= 2)
  }

  test("q19: top-k-per-group pushes the rank limit below the window (WindowGroupLimit)") {
    val p = planString(TestSpark.corpus("q19_topk_per_group"))
    assert(p.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing — full ranks would materialize at scale:\n$p")
  }

  test("q14/q67: band join's equi side includes the time bucket, not the key alone") {
    // The shuffle must be keyed on (user, band-bucket): joining on the key
    // alone with the band as a residual is per-user quadratic at scale.
    for (name <- Seq("q14_join_range_band", "q67_event_funnel")) {
      val p = planString(TestSpark.corpus(name))
      assert(p.contains("__bk"),
        s"$name: time bucket missing from the join keys — band is a residual:\n$p")
    }
  }

  test("q15: as-of join is a union+window, not a purchase×click pair join") {
    val p = planString(TestSpark.corpus("q15_asof_correlated"))
    assert(p.contains("Window"), s"expected window-based as-of:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"as-of must not materialize (purchase, earlier-click) pairs:\n$p")
  }

  test("q36/q59/q60: nearest-neighbor arg-max is an aggregation, not a ranking window") {
    // max_by gets a map-side partial arg-max; a row_number window would
    // shuffle every scored candidate and sort each probe's partition.
    for (name <- Seq("q36_knn", "q59_ann_ivf", "q60_ann_lsh")) {
      val p = planString(TestSpark.corpus(name))
      assert(!p.contains("Window"), s"$name still uses a window arg-max:\n$p")
      assert(p.contains("Aggregate"), s"$name: expected aggregate arg-max:\n$p")
    }
  }

  test("q79: contamination probe side broadcasts — corpus shingles never shuffle for the join") {
    val p = planString(TestSpark.corpus("q79_contamination"))
    assert(p.contains("BroadcastHashJoin"), s"probe not broadcast:\n$p")
  }

  test("q86: lateral top-1 lowers to a rank-limited window, not a per-row subquery") {
    val p = planString(TestSpark.corpus("q86_lateral_top1"))
    assert(p.contains("WindowGroupLimit"),
      s"top-1-per-key should push the rank limit below the window:\n$p")
  }

  test("topKQuantizedIvf: probe↔gallery candidates come from an equi join on the cluster id") {
    import org.apache.spark.sql.functions.col
    val emb = TestSpark.table("embeddings")
    val df = graft.ops.Ann.topKQuantizedIvf(
      emb.where(col("vec_id") >= 490), emb.where(col("vec_id") >= 8 && col("vec_id") < 490),
      emb.where(col("vec_id") < 8), k = 10)
    val p = planString(df)
    // Never a probe×gallery cross product: the only nested-loop joins are
    // the two centroid assignments, each against the broadcast (tiny)
    // centroid side.
    assert(!p.contains("CartesianProduct"), s"cross product in fused ANN:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"more nested-loop joins than the two centroid assignments:\n$p")
    // The candidate join itself is hash-based on cid.
    val hashJoins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\\n]*".r
      .findAllIn(p).toSeq
    assert(hashJoins.exists(_.contains("cid")),
      s"candidate join not keyed on the cluster id:\n$p")
    // The coarse cut is pushed below the ranking window.
    assert(p.contains("WindowGroupLimit"),
      s"overfetch cut should push below the window:\n$p")
  }

  test("triangleCount: wedge + closing joins are equi joins — no BNLJ, no cartesian") {
    import spark.implicits._
    // The scale hazard: an OR of two orientation conjunctions in the
    // closing join has no extractable equi keys, so Catalyst plans a
    // BroadcastNestedLoopJoin over O(E^1.5) wedges × E edges (a
    // CartesianProduct past the broadcast threshold). Carrying the
    // (degree, id) key through the wedge pair makes one equi probe
    // suffice — this pins that plan shape.
    val edges = (for { a <- 0 until 40; b <- 0 until 40
                       if a < b && (b - a <= 2 || (a % 7 == 0 && b % 5 == 0)) }
      yield (s"n$a", s"n$b")).toDF("src", "dst")
    val (_, _, closed) = graft.ops.GraphOps.triangleParts(edges, "src", "dst")
    val p = planString(closed)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle joins must be equi joins:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
        .findAllIn(p).length >= 2,
      s"expected hash/merge wedge + closing joins:\n$p")
  }

  test("minhashLshDocs: band bucket + verify joins are equi joins; signatures never aggregate") {
    // The doc-level production dedup path (round 12): signatures are a
    // projection (native minhash_sig), so the plan must contain NO
    // aggregate before the candidate join (the token-relation form pays
    // a k-way min agg + its exchange there), and every join — band
    // bucket self-join, the two doc-array attaches — must be an equi
    // join (no BNLJ/cartesian at any volume).
    val docs = TestSpark.table("documents").where(col("doc_id") < 60)
    val pairs = graft.ops.DedupOps.minhashLshDocs(
      docs, col("doc_id"), col("text"), k = 8, bands = 4, threshold = 0.8)
    val p = planString(pairs)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"doc-level dedup must stay equi-join-only:\n$p")
    // The only aggregate allowed is the candidate `distinct`
    // (HashAggregate pairs, partial+final): band-key construction and
    // the jaccard_sorted verify are pure projections.
    assert("HashAggregate".r.findAllIn(p).length <= 2,
      s"signature aggregation leaked back into the doc-level plan:\n$p")
    assert(p.contains("jaccard_sorted") && p.contains("minhash_sig"),
      s"native expressions missing from the plan:\n$p")
  }

  test("crossNearDup: cross-set-only candidates via equi joins — corpus pair space absent") {
    // Fuzzy decontamination (round 14): the band-key join must be an
    // equi join restricted to corpus×eval (never BNLJ/cartesian), and
    // the signature path stays the projection-only doc-level form
    // (native minhash_sig, no aggregate before the candidate join
    // beyond the candidate/eval-key distincts).
    val docs = TestSpark.table("documents").where(col("doc_id") < 60)
    val eval = TestSpark.table("documents").where(col("doc_id") >= 60 &&
      col("doc_id") < 70).select(col("text"))
    val hits = graft.ops.DedupOps.crossNearDup(
      docs, col("doc_id"), col("text"), eval, col("text"), threshold = 0.8)
    val p = planString(hits)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy decontamination must stay equi-join-only:\n$p")
    assert(p.contains("jaccard_sorted") && p.contains("minhash_sig"),
      s"native expressions missing from the plan:\n$p")
  }

  test("q92: span keeper is a partial+final agg joined back — no window, no cartesian") {
    val p = planString(TestSpark.corpus("q92_span_dedup"))
    // The struct-min keeper lowers to SortAggregate (a struct is not a
    // mutable hash-agg buffer type); the load-bearing property is the
    // MAP-SIDE PARTIAL below the exchange — a hot span still ships one
    // row per partition, not one per occurrence.
    assert(p.contains("partial_min"),
      s"span keeper min must combine map-side:\n$p")
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).length >= 2,
      s"span keeper must be a partial+final aggregate pair:\n$p")
    assert(!p.contains("Window"), s"keeper must not be a per-span window sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span join must be equi on the span text:\n$p")
  }

  test("q92 span dedup hot key: AQE cannot split the agg-fed join; salting does") {
    // A boilerplate span repeated corpus-wide is THE q92 skew case: every
    // occurrence lands in one probe partition of the span-keyed join.
    // Measured finding this pins: AQE's OptimizeSkewedJoin only matches a
    // sort-merge join whose children are BARE shuffle stages, and the
    // keeper side here is Sort(HashAggregate(ShuffleStage)) — so even
    // with skew thresholds far below the hot partition size, no skew
    // split fires. The explicit salted variant is the scale path.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // keeper table is corpus-sized in prod
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val keep = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val hot = (1 to 20).map(i => s"w$i").mkString(" ") // one shared 20-word span
      val docs = spark.range(4000).select(col("id").as("doc_id"),
        concat(lit(hot + " "),
          concat_ws(" ", (1 to 20).map(i => concat(lit(s"u${i}_"), col("id"))): _*))
          .as("text"))
      def canon(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .sortBy(t => (t._1, t._2)).toSeq

      val plain = graft.ops.DedupOps.spanDedup(docs, col("doc_id"), col("text"))
      val pPlain = executed(plain).toString
      assert(pPlain.contains("SortMergeJoin") && !pPlain.contains("skew=true"),
        s"shape changed — revisit the skew posture:\n$pPlain")

      // Salted: the hot span's 4000 occurrences spread across the salt
      // buckets (content-derived, deterministic), results identical.
      val salted = graft.ops.DedupOps.spanDedup(docs, col("doc_id"), col("text"), salts = 8)
      assert(canon(salted) == canon(plain) && canon(salted).size == 8000)
      val hotRows = salted.where(col("span_no") === 0)
      assert(hotRows.where(!col("is_dup")).count() == 1)
      assert(hotRows.where(col("is_dup")).count() == 3999)
      val spread = docs.select(
          graft.ops.SkewOps.saltExpr(docs, Nil, 8).as("salt"))
        .select(countDistinct("salt")).head().getLong(0)
      assert(spread == 8, s"content salt spread only $spread/8 buckets")

      // Hot-key-only salting (the huge-keeper regime per the round-6 skew
      // probe, SURVEY §6):
      // identical decisions with just the named span replicated.
      val hotOnly = graft.ops.DedupOps.spanDedup(docs, col("doc_id"), col("text"),
        salts = 8, hotSpans = Seq(hot))
      assert(canon(hotOnly) == canon(plain))

      // Auto-detection: the count-min heavy-hitter pass finds the 4000×
      // boilerplate span itself and routes through the hot-only salted
      // join — same decisions, and the detected span text is visible in
      // the salted plan's isin predicate (proof the route was taken).
      val auto = graft.ops.DedupOps.spanDedup(docs, col("doc_id"), col("text"),
        salts = 8, autoHotMinCount = 1000L)
      assert(canon(auto) == canon(plain))
      val pAuto = executed(auto).toString
      assert(pAuto.contains("__graft_salt") && pAuto.contains(hot),
        s"auto mode did not route through the hot-only salted join:\n$pAuto")

      // Auto mode that detects nothing hot joins PLAIN (full salting is
      // the measured 5× loss in exactly this huge-keeper regime).
      val autoCold = graft.ops.DedupOps.spanDedup(docs, col("doc_id"), col("text"),
        salts = 8, autoHotMinCount = 100000L)
      assert(canon(autoCold) == canon(plain))
      assert(!executed(autoCold).toString.contains("__graft_salt"),
        "nothing-hot auto mode must not salt at all")
    } finally keep.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q84: blocked edit-distance joins on the block key — no nested-loop pair join") {
    val p = planString(TestSpark.corpus("q84_editdistance_blocked"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"metric join must be an equi join on the prefix block:\n$p")
  }

  test("bloomSemiJoin in the NON-broadcast regime: sort-merge verify, Bloom probe below the exchange") {
    // The 100 TB story: a 10-100M-key small side is too big for a
    // broadcast hash relation, so the exact verify join SORT-MERGES — and
    // the Bloom probe must prune the big side BEFORE its shuffle, or the
    // exchange carries the full corpus. Force the regime by disabling
    // broadcast (and AQE, so the static plan shape is inspectable).
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions.col
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      spark.conf.set("spark.sql.adaptive.enabled", false)
      val docs = TestSpark.table("documents")
      def sh(flt: org.apache.spark.sql.Column) =
        graft.ops.DedupOps.wordShingleSet(docs.where(flt), col("doc_id"), col("text"))
      val df = graft.ops.SketchOps.bloomSemiJoin(
        sh(col("doc_id") >= 10), "sh", sh(col("doc_id") < 10).select("sh"), "sh")
      df.collect()
      val plan = df.queryExecution.executedPlan
      val smj = plan.collect {
        case j: SortMergeJoinExec if j.joinType == LeftSemi => j }
      assert(smj.nonEmpty, s"verify join did not sort-merge:\n$plan")
      val bigShuffle = smj.head.left.collect { case e: ShuffleExchangeExec => e }
      assert(bigShuffle.nonEmpty, "no exchange on the big side")
      assert(bigShuffle.head.child.toString.contains("bloom_might_contain"),
        s"Bloom probe is not below the big side's exchange:\n$plan")
    } finally keep.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("corpus sweep: no declared impl plans a globally-ordered (un-partitioned) window") {
    // An empty partitionSpec funnels every row through ONE task — the
    // classic scale killer (Spark itself logs a warning). Sweep the whole
    // declared corpus so a regression anywhere fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = Corpus.all.map(_.name).flatMap { name =>
      TestSpark.corpus(name).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => name
      }
    }.distinct
    assert(offenders.isEmpty, s"global windows in: ${offenders.mkString(", ")}")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // `*(n)` prefixes in the plan string are WholeStageCodegen stage markers.
    val p = planString(TestSpark.corpus("q01_scan_filter_project"))
    assert(p.contains("*("), "hot path fell out of codegen")
  }

  test("bucketed append keeps catalog stats present AND fresh (Spark drops them on insert)") {
    // Round 16 (VERDICT r15 #4): a catalog-routed INSERT makes Spark DROP
    // ANALYZE stats (safe against staleness but CBO goes blind on the
    // state table after the first fold). Bucketed.appendRegistered now
    // re-ANALYZEs when the table carried stats before the append — pin
    // the lifecycle: fresh row count after the fold, grown side no longer
    // broadcastable, and the raw-write contrast that loses the stats.
    val keep = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    val dir = java.nio.file.Files.createTempDirectory("graft_growst").resolve("st").toString
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64 * 1024)
      def rows(a: Long, b: Long) = spark.range(a, b).select(col("id").as("k"),
        md5(col("id").cast("string")).as("pad"))
      graft.sources.Bucketed.write(rows(0, 200), "grow_st_w", dir, "k", 4)
      spark.sql("ANALYZE TABLE `grow_st_w` COMPUTE STATISTICS")
      val probe = spark.range(100000).select(col("id").as("k"),
        lpad(col("id").cast("string"), 32, "p").as("p2"))
      def plan: String = spark.table("grow_st_w").join(probe, "k")
        .agg(count(lit(1)), sum(length(col("pad"))), sum(length(col("p2"))))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"a 200-row analyzed state table must broadcast:\n$plan")
      // The maintained fold path: append 300x the data — stats must track
      // (row count exact) and the broadcast decision must flip.
      graft.sources.Bucketed.append(rows(200, 60000), "grow_st_w", dir, "k", 4)
      val stats = spark.table("grow_st_w").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == 60000L),
        s"append must refresh the row count, got $stats")
      assert(!plan.contains("BroadcastHashJoin"),
        s"fresh stats must stop the grown side from broadcasting:\n$plan")
      // Contrast — a RAW insert (no maintenance wrapper): Spark protects
      // against staleness by DROPPING the stats; CBO loses its row counts.
      rows(60000, 60100).repartition(4, col("k"))
        .write.mode("append").bucketBy(4, "k").sortBy("k")
        .format("parquet").saveAsTable("grow_st_w")
      spark.sql("REFRESH TABLE `grow_st_w`")
      assert(spark.table("grow_st_w").queryExecution.optimizedPlan.stats.rowCount.isEmpty,
        "raw inserts drop ANALYZE stats — if this stops holding, re-examine the append path")
    } finally {
      keep.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS `grow_st_w`")
    }
  }

  test("stale stats under a path-level append wrongly broadcast; refreshStats is the remedy") {
    // Round 16 (VERDICT r15 #4/#5): the REAL stale-stats hazard is a
    // DIRECTORY that grows underneath a registerAnalyzed table (the
    // ManifestLoop lake shape) — the catalog never sees the write, so the
    // planner keeps costing the location at the old snapshot and
    // broadcasts a side that is now 250x bigger: at 100 TB that is a
    // driver/executor OOM. Pin the hazard, pin that the mis-planned join
    // still returns correct rows at test scale, and pin the remedy
    // (Catalog.refreshStats at the fold boundary — wired in ManifestLoop).
    val keep = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.join.preferSortMergeJoin")
      .map(k => k -> spark.conf.get(k))
    val dir = java.nio.file.Files.createTempDirectory("graft_stalelake").resolve("lake").toString
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64 * 1024)
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
      def rows(a: Long, b: Long) = spark.range(a, b).select(col("id").as("k"),
        md5(col("id").cast("string")).as("pad"))
      rows(0, 200).write.parquet(dir)
      graft.sources.Catalog.registerAnalyzed(spark, "stale_lake", dir)
      val probe = spark.range(50000).select(col("id").as("k"))
      def q = spark.table("stale_lake").join(probe, "k").agg(count(lit(1)))
      assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "a 200-row analyzed lake must broadcast")
      // The lake grows 250x OUTSIDE the catalog's sight; the listing is
      // refreshed (so the data is visible) but the stats snapshot is not.
      rows(200, 50000).write.mode("append").parquet(dir)
      spark.sql("REFRESH TABLE `stale_lake`")
      val stale = q.queryExecution.executedPlan.toString
      assert(stale.contains("BroadcastHashJoin"),
        s"stale stats must still (wrongly) broadcast the grown side — " +
          s"if this stops holding, the hazard class is closed upstream:\n$stale")
      // Mis-planned ≠ wrong: every probe key is present exactly once.
      assert(q.head().getLong(0) == 50000L)
      // The fold-boundary remedy: re-ANALYZE the location.
      graft.sources.Catalog.refreshStats(spark, "stale_lake")
      val fresh = q.queryExecution.executedPlan.toString
      assert(!fresh.contains("BroadcastHashJoin"),
        s"refreshed stats must stop broadcasting the grown side:\n$fresh")
      // Posture note (VERDICT #5): with preferSortMergeJoin=false the
      // honest-size plan may pick SHJ building the truly-small probe or
      // SMJ — both are spill-safe for the grown side; what it must NOT do
      // is hash-build the lake. Assert the lake is not the build side of
      // any hash join by checking the result stays correct and the
      // broadcast is gone (strategy choice itself is the planner's).
      assert(q.head().getLong(0) == 50000L)
    } finally {
      keep.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS `stale_lake`")
    }
  }
}
