package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph operators on edge tables — the OTHER classic MapReduce
  * workload family (PageRank is the canonical multi-job MR chain the way
  * wordcount is the canonical single job; [[DedupOps.connectedComponents]]
  * covers the reachability side).
  *
  * Scale shape: each iteration is one equi join (node-scale state onto
  * edges) + one hash aggregation (per destination, partial-aggregated
  * map-side) — the node-scale table, not the edge table, is the only state
  * carried between rounds, and lineage is cut with `localCheckpoint`
  * (without it the plan doubles per iteration).
  *
  * Every operator is assembled from the same few pieces, each defined once:
  *
  *  - [[directedGraph]], the directed-edge prelude of [[pageRank]] (all
  *    three entry points and [[personalizedPageRank]]), [[hits]],
  *    [[hitsCounts]] and [[labelPropagation]]: rename to (src, dst), drop
  *    null endpoints, collapse multi-edges and cut; then ONE exploded
  *    aggregation over the cut edges yields the node set and every node's
  *    out-degree, hence the dangling set (round 16, guide §2.4: one edge
  *    pass and one exchange where the prelude used to run three jobs —
  *    node distinct, degree aggregation, dangling anti join).
  *  - [[loopGate]], the broadcast gate of every in-loop join (these loops
  *    and [[DedupOps.connectedComponents]]): each in-loop join pairs the
  *    loop-invariant edge table with node-scale state whose
  *    checkpointed-RDD stats the planner cannot see, so at or below
  *    [[loopBroadcastMaxNodes]] nodes the node-scale side is broadcast
  *    explicitly and no edge byte moves per round; above it the
  *    shuffle-join shapes stay, which scale to any node count (round 15,
  *    guide §2.4/§3.1). Measured: PageRank at 1M edges / 100k nodes / 10
  *    iterations shuffled 50.8 → 17.4 MB and ran 8.0 → 5.8 s
  *    (OPTIMIZATION_r15.md §7); HITS on the bench graph (240k edges, 21k
  *    nodes, 3 iterations) 41.6 → 9.7 MB and 2.83 → 2.22 s (§5). The gate
  *    chooses a plan over exact arithmetic, so no output bit moves (the
  *    declared q169–q173, q182, q184, q72 and q189 stay hash-pinned).
  *  - [[undirected]], the canonical (lo, hi) edge form the triangle family,
  *    [[DedupOps]]' connected-components folds and
  *    [[graft.streaming.ClusterLoop]] read edges through.
  */
object GraphOps {

  /** PageRank over a directed edge table (`src`, `dst` columns), computed
    * in EXACT INTEGER micro-rank units: ranks live as `bigint` multiples
    * of `1/scale` (default 1e-9). Why integers: a floating-point rank
    * contract is order-of-summation-dependent — two engines (or two
    * partitionings) summing the same per-edge contributions in different
    * orders differ in the last ulp, and any rounding grid then flips
    * near-boundary values. Integer sums are exact and order-independent,
    * and the per-edge division `round(r/outdeg)` is deterministic: IEEE
    * division is correctly rounded, and EXACT x.5 quotients DO occur
    * (r odd, outd = 2) but both Spark and DuckDB round positive halves
    * away from zero, so the grid agrees — the WHOLE iteration has one
    * reproducible answer across engines, layouts, and retries. The
    * declared q169 pins a 3-iteration unrolled SQL twin by hash (exact
    * integers, no float tolerance anywhere); that twin's contribution
    * CTEs inner-join ranks onto edges, dropping nodes with no in-edge,
    * so it is equivalent to this left-join form only on graphs where
    * every node has an in-edge — the declared symmetric construction
    * guarantees it.
    *
    * Per iteration:
    * `r'(v) = round((1−d)·scale/N + d·(Σ_{u→v} round(r(u)/outdeg(u)) +
    * danglingShare))` with `danglingShare = round(Σ_{no out-edge} r / N)`
    * (the standard redistribution — without it rank mass leaks).
    * Quantization error per step is ≤ N micro-units, invisible at
    * ranking granularity.
    *
    * Returns (node, r, nrank): `r` the exact integer micro-rank,
    * `nrank = r·N/scale` the relative-to-uniform score (1.0 = average —
    * the O(1)-scaled human-readable form). */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               iterations: Int = 10, damping: Double = 0.85,
               scale: Long = 1000000000L): DataFrame =
    pageRankFrom(edges, None, None, src, dst, iterations, damping, scale, None)

  /** WEIGHTED PageRank: each node's vote splits over its out-edges in
    * proportion to edge weight — `r'(v)` sums `round(r(u)·w(u,v)/W(u))`
    * with `W(u)` the node's total positive out-weight — the natural
    * authority model over [[graft.api.Pipelines.linkGraph]]'s weighted
    * host edges (a host linking somewhere 500 times endorses it more
    * than a single footer link does). Parallel (src,dst) rows pre-sum;
    * non-positive weights drop (an endorsement cannot be ≤ 0); the
    * integer micro-rank machinery, dangling redistribution, and
    * per-round checkpoint discipline are [[pageRank]]'s. With all
    * weights equal it reduces exactly to the unweighted form
    * (spec-pinned). */
  def pageRankWeighted(edges: DataFrame, weight: String,
                       src: String = "src", dst: String = "dst",
                       iterations: Int = 10, damping: Double = 0.85,
                       scale: Long = 1000000000L): DataFrame =
    pageRankFrom(edges, None, None, src, dst, iterations, damping, scale, Some(weight))

  /** WARM-START PageRank — the O(new-data) maintenance posture for ANY
    * edge change, appends AND removals: persist the converged `(node, r)`
    * table and restart the SAME iteration from it instead of from uniform.
    * Unlike [[graft.ops.DedupOps.connectedComponents]]'s label seeding —
    * whose monotone iteration makes stale labels from removed edges
    * UNDETECTABLE — no append-only contract is needed: for damping < 1
    * the iteration is a contraction with a unique fixpoint independent of
    * the starting vector (OpsSpec pins warm ≡ cold after a removal-only
    * batch), and total mass follows `total' = (1−d)·scale + d·total`, so
    * any init imbalance decays geometrically at rate d. A small append
    * moves the fixpoint little, so re-convergence takes a fraction of the
    * cold rounds (round-10 incremental-PageRank probe, SURVEY §6, 1M
    * edges + 1% append + a new hub: ONE warm round lands at L1 0.022 of
    * total mass from the fixpoint — past cold's EIGHT rounds at 0.051,
    * cold-1 at 0.68; same per-round cost, so ≥8× cheaper at equal
    * accuracy). Nodes absent from `prior` seed at the uniform
    * `round(scale/N)`; prior rows for departed nodes are ignored. `prior`
    * must carry `(node, r)` — what [[pageRank]] returns. Warm and cold
    * runs that both reached the integer fixpoint are bit-identical. */
  def pageRankWarm(edges: DataFrame, prior: DataFrame,
                   src: String = "src", dst: String = "dst",
                   iterations: Int = 10, damping: Double = 0.85,
                   scale: Long = 1000000000L): DataFrame =
    pageRankFrom(edges, Some(prior), None, src, dst, iterations, damping, scale, None)

  /** PERSONALIZED PageRank: teleport mass lands on a SEED set instead of
    * uniformly on all nodes — the retrieval / graph-dedup form ("rank the
    * graph from these documents' point of view"). It is [[pageRank]]'s
    * loop with the teleport set narrowed from every node to the seeds;
    * the ONLY changes are where the (1−d) base and the dangling mass go:
    *
    * `r'(v) = round((1−d)·scale·p(v) + d·(Σ_{u→v} round(r(u)/outdeg(u))
    * + dangling·p(v)))` with `p(v) = 1/|S|` for seeds, 0 otherwise —
    * non-seed nodes receive ONLY propagated mass, so rank decays with
    * distance from the seed set. Seeding every node is exactly
    * [[pageRank]] (spec-pinned).
    *
    * `seeds` is a one-column node-id frame (extra columns ignored); seeds
    * absent from the graph are dropped (they can neither receive nor
    * forward mass), and at least one seed must be present. Initial rank
    * is the teleport distribution itself (uniform over seeds), so
    * iteration k covers exactly the ≤k-hop neighborhood. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           src: String = "src", dst: String = "dst",
                           iterations: Int = 10, damping: Double = 0.85,
                           scale: Long = 1000000000L): DataFrame =
    pageRankFrom(edges, None, Some(seeds), src, dst, iterations, damping, scale, None)

  /** The one PageRank loop. The teleport set is every node (`seeds` None
    * — no seed join, no flag column) or the seeds, flagged on the node
    * table as the prelude cuts it. */
  private def pageRankFrom(edges: DataFrame, prior: Option[DataFrame],
                           seeds: Option[DataFrame], src: String, dst: String,
                           iterations: Int, damping: Double, scale: Long,
                           weight: Option[String]): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(scale >= 1000000L, s"scale under 1e6 loses ranking granularity, got $scale")
    def seedFlag(ns: DataFrame): DataFrame = seeds.fold(ns) { s =>
      val seedSet = s.select(col(s.columns.head).as("__seed"))
        .where(col("__seed").isNotNull).distinct()
      ns.join(seedSet, col("node") === col("__seed"), "left")
        .select(col("node"), col("__seed").isNotNull.as("is_seed"), col("outd"))
    }
    val g = directedGraph(edges, src, dst, weight, seedFlag)
    val (e, nodes, nn) = (g.edges, g.nodes, g.n)
    require(nn > 0, "empty graph")
    val (teleport, nt) =
      if (seeds.isEmpty) (lit(true), nn)
      else (col("is_seed"), nodes.where(col("is_seed")).count())
    require(nt > 0, "no seed is present in the graph")
    val deg = nodes.where(col("outd") > 0)
      .select(col("node").as("src"), col("outd"))
    // The dangling node SET is iteration-invariant (only their RANKS
    // change): a filter over the one checkpointed node table, and graphs
    // without sinks (the declared q169 symmetric graph) skip the
    // per-iteration mass action entirely.
    val danglingNodes = nodes.where(col("outd") <= 0).select("node")
    val hasDangling = danglingNodes.limit(1).count() > 0
    val bc = loopGate(nn)
    // (1 − d) SPELLED AS A SUBTRACTION, matching the declared SQL text:
    // the double `1 - 0.85` differs from the literal `0.15` in the last
    // ulp, and the contract is bit-reproducibility.
    val base = (lit(1.0) - lit(damping)) * lit(scale.toDouble) / lit(nt)
    // Checkpoint EVERY round, not every few: the dangling-mass term is a
    // per-iteration ACTION, and over an un-checkpointed rank it would
    // re-execute every round since the last cut — quadratic cost inside
    // the window (the round-8 graph probe, SURVEY §6, measured
    // 0.24 s/iter right after a cut rising to 1.5 s/iter late in a
    // 4-round window). The checkpoint is node-scale, the cheapest table
    // in the loop.
    val uniform = round(lit(scale.toDouble) / lit(nt)).cast("bigint")
    var rank = (prior match {
      case None => nodes.select(col("node"), when(teleport, uniform).otherwise(lit(0L)).as("r"))
      case Some(p) =>
        // Prior ranks onto the CURRENT node set: new nodes seed uniform,
        // departed nodes' prior rows drop via the join.
        val pr = p.select(col("node").as("__pn"), col("r").cast("bigint").as("__pr"))
        nodes.join(pr, nodes("node") === col("__pn"), "left")
          .select(nodes("node"), coalesce(col("__pr"), uniform).as("r"))
    }).localCheckpoint()
    val share1 = weight match {
      case Some(_) => round(col("r") * col("w") / col("outd"))
      case None => round(col("r") / col("outd"))
    }
    val m = coalesce(col("m"), lit(0L))
    var i = 0
    while (i < iterations) {
      val dangling =
        if (!hasDangling) 0L
        else rank.join(bc(danglingNodes.select(col("node").as("__dn"))),
            rank("node") === col("__dn"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L))).head().getLong(0)
      val share = math.round(dangling.toDouble / nt)
      val contrib = e.join(bc(rank), rank("node") === e("src"))
        .join(bc(deg), "src")
        .groupBy("dst")
        .agg(sum(share1.cast("bigint")).as("m"))
      rank = nodes.join(bc(contrib), nodes("node") === contrib("dst"), "left")
        .select(nodes("node"),
          when(teleport, round(base + lit(damping) * (m + lit(share))))
            .otherwise(round(lit(damping) * m))
            .cast("bigint").as("r"))
        .localCheckpoint()
      i += 1
    }
    rank.select(col("node"), col("r"),
      (col("r").cast("double") * nn / scale).as("nrank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge table —
    * the link-analysis twin PageRank can't substitute for: PageRank ranks
    * every node on one axis; HITS separates nodes that POINT AT good
    * content (hubs — link directories, index pages) from nodes pointed at
    * BY good hubs (authorities), the mutual-reinforcement fixpoint
    * `a = A^T h, h = A a`. On a crawl's host graph the authority side is
    * a curation prior (like [[pageRank]] under `Pipelines.hostAuthority`)
    * and the hub side finds the catalog/aggregator hosts a frontier
    * scheduler treats differently.
    *
    * Per iteration: two [[hitsStep]] half-steps over node-scale state —
    * exactly [[pageRank]]'s cost shape, and [[hitsCounts]]' kernel in
    * doubles (for `iterations` ≤ 8 the result is [[hitsCounts]]' counts
    * over their column sums, spec-pinned). In-loop frames stay SPARSE
    * (only nonzero scores carry rows) and UNNORMALIZED: per-step L1
    * division only rescales the direction the final normalization fixes,
    * but costs a driver agg barrier per half-step (measured 6.35 → 4.5 s
    * on the bench graph). A periodic rescale every 8 rounds bounds double
    * magnitude for deep iteration counts. Multi-edges collapse; nodes
    * with no out-edge have hub 0 after the first round, no in-edge →
    * authority 0 — scores, not mass, so nothing needs redistributing.
    * Returns (node, hub, auth) doubles, each column summing to 1.
    *
    * Float caveat: normalized scores are double quotients and carry the
    * usual last-ulp order dependence — fine for ranking, not for a hash
    * contract. The DECLARED cross-engine form is [[hitsCounts]] (exact
    * integers, q184). */
  def hits(edges: DataFrame, src: String = "src", dst: String = "dst",
           iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val g = directedGraph(edges, src, dst)
    require(g.n > 0, "empty graph")
    // Column `c` over its L1 sum `total` (a null or 0 sum — an all-zero
    // vector, possible only on degenerate graphs — keeps the zeros).
    def scaled(c: String, total: Any): Column = {
      val t = Option(total).fold(0.0)(_.asInstanceOf[Double])
      (if (t == 0.0) col(c) else col(c) / lit(t)).as(c)
    }
    def l1norm(df: DataFrame, c: String): DataFrame =
      df.select(col("node"), scaled(c, df.agg(sum(col(c))).head().get(0)))
    // Below the gate the WHOLE loop stays one lazy plan (ReuseExchange
    // dedups each round's broadcast between the next half-step and the
    // completion join) cut once at the end — per-half-step checkpoints
    // were a driver job each. The checkpointed scores could not be
    // co-partitioned instead: under AQE a checkpoint does not keep its
    // physical partitioning, and that variant re-exchanged every round
    // and shuffled MORE (51.8 vs 41.6 MB, OPTIMIZATION_r15.md §5). Above
    // the gate: shuffle-hash joins, cut every half-step.
    val bc = loopGate(g.n, _.hint("shuffle_hash"))
    def cut(df: DataFrame): DataFrame = if (bc.small) df else df.localCheckpoint()
    var hub = cut(g.nodes.select(col("node"), lit(1.0).as("hub")))
    var auth = hub.select(col("node"), col("hub").as("auth")).limit(0)
    var i = 0
    while (i < iterations) {
      auth = cut(hitsStep(g.edges, bc, hub, "hub", "auth"))
      hub = cut(hitsStep(g.edges, bc, auth, "auth", "hub"))
      i += 1
      if (i % 8 == 0 && i < iterations) {
        auth = l1norm(auth.localCheckpoint(), "auth")
        hub = l1norm(hub.localCheckpoint(), "hub")
      }
    }
    // One completion pass: attach both scores to the node set, checkpoint
    // ONCE (the only materialization of the small path's lazy chain),
    // then read the two L1 sums off the materialized rows and divide.
    val combined = g.nodes.join(bc(auth), Seq("node"), "left")
      .join(bc(hub), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
      .localCheckpoint()
    val sums = combined.agg(sum(col("hub")), sum(col("auth"))).head()
    combined.select(col("node"), scaled("hub", sums.get(0)), scaled("auth", sums.get(1)))
  }

  /** Node-count threshold of [[loopGate]]: a (long, double) hashed
    * relation of 4M rows is ~150 MB — comfortable executor/driver
    * territory — while graph deployments past it fall back to the
    * shuffle-join loop shapes that scale to any node count. */
  val loopBroadcastMaxNodes: Long = 4L * 1000 * 1000

  /** The EXACT-INTEGER unnormalized HITS kernel — the q184 cross-engine
    * hash contract (the q169 discipline applied to HITS): with h0 = 1,
    * `iterations` alternating matvecs `a_k = A^T h_{k-1}, h_k = A a_k`
    * over the distinct edge set are pure bigint sums — order-independent,
    * no division, no rounding grid, bit-identical on any engine.
    * Unnormalized walk counts grow ~(avg in-deg · avg out-deg) per
    * round, so depth is bounded by 2^63 — callers pick small
    * `iterations` (the declared q184 runs 2); the production ranking
    * form is [[hits]], whose per-step normalization admits any depth.
    * Nodes missing from a side score 0 there. Returns (node, hub, auth)
    * bigint. */
  def hitsCounts(edges: DataFrame, src: String = "src", dst: String = "dst",
                 iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val g = directedGraph(edges, src, dst)
    val bc = loopGate(g.n)
    // Dense completion onto the node set and a cut every half-step.
    def complete(scores: DataFrame, c: String): DataFrame =
      g.nodes.join(bc(scores), Seq("node"), "left")
        .select(col("node"), coalesce(col(c), lit(0L)).as(c))
        .localCheckpoint()
    var hub = g.nodes.select(col("node"), lit(1L).as("hub")).localCheckpoint()
    var auth = g.nodes.select(col("node"), lit(0L).as("auth"))
    var i = 0
    while (i < iterations) {
      auth = complete(hitsStep(g.edges, bc, hub, "hub", "auth"), "auth")
      hub = complete(hitsStep(g.edges, bc, auth, "auth", "hub"), "hub")
      i += 1
    }
    hub.join(bc(auth), Seq("node"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** One HITS half-step of [[hits]] and [[hitsCounts]] over the
    * [[directedGraph]] edges: push each node's `from` score along its
    * edges and sum it at the other end as `to` — authorities from hubs
    * along src→dst, hubs from authorities back along dst→src. Only nodes
    * with an edge on that side get a row. */
  private def hitsStep(e: DataFrame, bc: LoopGate, scores: DataFrame,
                       from: String, to: String): DataFrame = {
    val (tail, head) = if (to == "auth") ("src", "dst") else ("dst", "src")
    e.join(bc(scores), scores("node") === e(tail))
      .groupBy(e(head).as("node")).agg(sum(col(from)).as(to))
  }

  /** SYNCHRONOUS label propagation (the classic community-detection
    * sweep, and the fourth member of the graph family next to PageRank,
    * HITS and connected components): every node starts labeled with its own
    * id, and each round SIMULTANEOUSLY adopts the label most frequent
    * among its out-neighbors' labels, ties broken to the SMALLEST label
    * ([[lpaWinners]]) — the deterministic variant (plain LPA tie-breaks
    * randomly, which is neither reproducible across engines nor across
    * task retries). Unlike connected components this does NOT converge to
    * one label per component; bounded rounds yield bounded-radius
    * communities — the graph-dedup/cohort form real pipelines use.
    *
    * Per round: one equi join (labels onto edges) + one partial-agg'd
    * hash count per (node, label) + one per-node top-1, lineage cut every
    * round like [[pageRank]]. Multi-edges are collapsed (one neighbor,
    * one vote); nodes with no out-edge keep their current label (the
    * declared q171 SQL twin inner-joins and is equivalent on graphs where
    * every node has an out-edge — the symmetric construction guarantees
    * it).
    *
    * Returns (node, lbl). */
  def labelPropagation(edges: DataFrame, src: String = "src", dst: String = "dst",
                       iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val g = directedGraph(edges, src, dst)
    val e = g.edges
    val bc = loopGate(g.n)
    var labels = g.nodes.select(col("node"), col("node").as("lbl"))
    var i = 0
    while (i < iterations) {
      val winner = lpaWinners(
          e.join(bc(labels.select(col("node").as("__n"), col("lbl"))),
            col("__n") === e("dst")))
        .select(col("node").as("__wn"), col("lbl").as("__wl"))
      labels = labels.join(bc(winner), labels("node") === col("__wn"), "left")
        .select(labels("node"), coalesce(col("__wl"), labels("lbl")).as("lbl"))
        .localCheckpoint()
      i += 1
    }
    labels
  }

  /** The LPA winner rule of [[labelPropagation]] and
    * [[graft.streaming.LabelLoop]]: `votes` carries one (src, lbl) row per
    * out-edge (an edge's head label voting for its tail); per node, the
    * label with the most votes wins, ties to the SMALLEST label. The
    * row_number top-1 lowers to WindowGroupLimit (pre-shuffle
    * truncation). Returns (node, lbl) for every node with a vote. */
  private[graft] def lpaWinners(votes: DataFrame): DataFrame =
    votes.groupBy(col("src").as("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("node").orderBy(col("c").desc, col("lbl"))))
      .where(col("rn") === 1)
      .select(col("node"), col("lbl"))

  /** The directed graph every directed operator iterates over. `edges`:
    * the cut (src, dst) table — plus `w`, the summed positive weight, when
    * weighted; `nodes`: the cut (node, outd) table (plus the caller's
    * `nodeFlags` columns); `n`: its row count. */
  private[graft] final case class DirectedGraph(edges: DataFrame, nodes: DataFrame, n: Long)

  /** The directed-edge prelude: edges renamed to (src, dst), null
    * endpoints dropped, multi-edges collapsed — `distinct`, or for a
    * `weight` column a pre-sum of parallel rows over positive weights
    * (`distinct` would keep weight-variant duplicates apart) — and cut.
    * Then ONE exploded aggregation over the cut edges: every edge
    * contributes (src, vote) and (dst, 0), so the per-node sum yields
    * the node set (every endpoint appears) and the out-degree (vote 1, or
    * `w` weighted; outd 0 = dangling). `nodeFlags` may join extra
    * node-scale columns on before the node table is cut (the
    * personalized PageRank seed flag) — no extra job. The unweighted
    * spelling is the declared q169 contract. */
  private[graft] def directedGraph(edges: DataFrame, src: String, dst: String,
                                   weight: Option[String] = None,
                                   nodeFlags: DataFrame => DataFrame = df => df): DirectedGraph = {
    val e = (weight match {
      case Some(w) => edges
        .select(col(src).as("src"), col(dst).as("dst"), col(w).cast("double").as("w"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      case None => edges.select(col(src).as("src"), col(dst).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct()
    }).localCheckpoint()
    val (vote, zero) = if (weight.isDefined) (col("w"), lit(0.0)) else (lit(1L), lit(0L))
    val nodes = nodeFlags(e.select(col("src").as("node"), vote.as("__vote"))
        .unionAll(e.select(col("dst").as("node"), zero.as("__vote")))
        .groupBy("node").agg(sum(col("__vote")).as("outd")))
      .localCheckpoint()
    DirectedGraph(e, nodes, nodes.count())
  }

  /** [[loopGate]]'s choice for one loop: `apply` broadcasts a node-scale
    * frame when `small`, else applies the loop's shuffle-path shape. */
  private[graft] final class LoopGate(val small: Boolean, large: DataFrame => DataFrame) {
    def apply(df: DataFrame): DataFrame = if (small) broadcast(df) else large(df)
  }

  /** The broadcast gate of every iterative graph loop (see the object
    * doc): broadcast node-scale state at or below [[loopBroadcastMaxNodes]]
    * `nodes`, else `large` (default: leave the join to the planner). */
  private[graft] def loopGate(nodes: Long,
                              large: DataFrame => DataFrame = df => df): LoopGate =
    new LoopGate(nodes <= loopBroadcastMaxNodes, large)

  /** The distinct endpoints `n` of canonical (lo, hi) edge frames. */
  private[graft] def endpoints(edges: DataFrame*): DataFrame =
    edges.flatMap(e => Seq(e.select(col("lo").as("n")), e.select(col("hi").as("n"))))
      .reduce(_ union _).distinct()

  /** The canonical undirected form of an edge frame: endpoints `a` and
    * `b` become (lo, hi) by value, rows with a null endpoint or a self
    * loop drop, and `carry` columns ride along unchanged. No `distinct`:
    * callers collapse duplicates where (and after whatever restriction)
    * their scale shape wants. */
  private[graft] def undirected(df: DataFrame, a: Column, b: Column,
                                carry: Column*): DataFrame = {
    val ab = df.select(a.as("a") +: b.as("b") +: carry: _*)
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    ab.select(least(col("a"), col("b")).as("lo") +:
      greatest(col("a"), col("b")).as("hi") +: ab.columns.toSeq.drop(2).map(col): _*)
  }

  /** Per-node TRIANGLE COUNT over an undirected simple graph (edges in
    * either or both directions; self-loops and duplicates dropped) — the
    * local clustering signal (dense dup-cluster cores vs chain-like
    * false-positive bridges look identical by degree, opposite by
    * triangle count).
    *
    * Scale shape — the standard DEGREE-ORDERED orientation: each
    * undirected edge is kept once, oriented from the (degree, id)-smaller
    * endpoint to the larger; every triangle then has exactly ONE wedge
    * whose two oriented edges leave its smallest vertex, so
    * `wedges(a: b<c) ⋈ oriented(b→c)` counts each triangle exactly once.
    * Wedge fan-out is Σ outd²  with outd bounded by √(2E) under this
    * orientation — O(E^1.5) worst case versus the naive adjacency join's
    * Σ deg² (quadratic in the max degree; a hub node alone explodes it).
    * Two equi joins + one hash agg, no window, no driver loop.
    *
    * Returns (node, triangles) for every node of the graph, zeros
    * included. */
  def triangleCount(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val (nodes, _, lazyClosed) = triangleParts(edges, src, dst)
    nodes.join(perNodeTriangles(lazyClosed.localCheckpoint()), Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — the normalized form of
    * [[triangleCount]]: `c(v) = 2·T(v) / (d(v)·(d(v)−1))` over the
    * undirected simple graph (0 for degree < 2), the canonical
    * "how clique-like is this node's neighborhood" signal. Deterministic
    * cross-engine: T and d are exact integers (exactly representable as
    * doubles), the one division is correctly-rounded IEEE, and the
    * output is rounded to 4dp — the q74/q169 float-grid discipline.
    * Returns (node, triangles, degree, clustering); same plan shape as
    * [[triangleCount]] plus one node-scale degree join. */
  def clusteringCoefficient(edges: DataFrame, src: String = "src",
                            dst: String = "dst"): DataFrame = {
    val (nodes, deg, lazyClosed) = triangleParts(edges, src, dst)
    val t = coalesce(col("triangles"), lit(0L))
    nodes.join(perNodeTriangles(lazyClosed.localCheckpoint()), Seq("node"), "left")
      .join(deg, Seq("node"))
      .select(col("node"), t.as("triangles"), col("d").as("degree"),
        clustering(t, col("d")))
  }

  /** `2·T/(d·(d−1))` on the 4dp grid, 0 below degree 2. */
  private def clustering(t: Column, d: Column): Column =
    round(when(d >= 2, lit(2.0) * t / (d * (d - lit(1.0))))
      .otherwise(lit(0.0)), 4).as("clustering")

  /** Fold an edge APPEND into persisted per-node triangle counts — the
    * q172 maintenance twin of [[pageRankWarm]]/`connectedComponents
    * (warmStart)`. `prior` is a previous [[triangleCount]] output
    * (node, triangles) over `oldEdges`; the result equals
    * `triangleCount(oldEdges ∪ newEdges)` (OpsSpec-pinned) without
    * re-running the O(E^1.5) wedge enumeration over the full graph.
    *
    * Soundness: appends only ADD triangles, and every added triangle
    * contains at least one truly-new edge — so the delta is exactly the
    * triangles of the union graph with ≥1 new edge, which is the
    * deletion-aware fold's delta with an empty removal frame (an empty
    * `limit(0)` frame: the optimizer prunes the whole removal side, so
    * the append path runs no removal-side job). For batches that also
    * REMOVE edges, use the deletion-aware overload (extra `removedEdges`
    * frame).
    *
    * Scale shape — the LabelLoop posture: the old edge store is touched
    * only through a frontier-cone semi join (directed adjacency rows
    * whose tail is an appended-edge endpoint, probed with the
    * broadcast-small frontier), so store bytes never enter an exchange;
    * everything downstream (candidate wedges, closing probes, the triple
    * dedup) is sized by Σ_{new edge (a,b)} deg(a)+deg(b) — O(Δ·d̄), not
    * O(E^1.5). NO degree-reorientation frontier exists on this path at
    * all: the delta enumeration intersects adjacency directly and never
    * orients edges, so an append that flips (degree, id) order between
    * old endpoints cannot invalidate anything. */
  def triangleCountInc(prior: DataFrame, oldEdges: DataFrame, newEdges: DataFrame,
                       src: String = "src", dst: String = "dst"): DataFrame = {
    val d = signedTriangleDelta(oldEdges, newEdges, newEdges.limit(0), src, dst)
    foldTriangles(prior, d.triDelta, prior.select(col("node"))
      .union(d.frontier.select(col("n").as("node"))).distinct())
  }

  /** [[clusteringCoefficientInc]]: fold an edge append into a persisted
    * [[clusteringCoefficient]] output (node, triangles, degree,
    * clustering) — the deletion-aware overload with an empty removal
    * frame, as in [[triangleCountInc]]. Degrees fold as prior + per-node
    * count of truly-new incident edges (both node-scale); the 4dp-grid
    * division is recomputed — equal to the cold run on the union graph
    * (OpsSpec-pinned). */
  def clusteringCoefficientInc(prior: DataFrame, oldEdges: DataFrame,
                               newEdges: DataFrame, src: String = "src",
                               dst: String = "dst"): DataFrame =
    clusteringCoefficientInc(prior, oldEdges, newEdges, newEdges.limit(0), src, dst)

  /** Deletion-aware [[triangleCountInc]]: fold a mixed edge batch —
    * `addedEdges` AND `removedEdges` — into persisted per-node triangle
    * counts. Result equals `triangleCount((old ∖ removed) ∪ added)`
    * (OpsSpec-pinned); an edge in both frames is present afterwards
    * (add wins — "remove then re-add" is a no-op for an existing edge).
    *
    * Soundness mirrors the append-only fold with a minus sign:
    * deletions only REMOVE triangles, and every removed triangle is a
    * triangle of the OLD graph containing ≥1 truly-removed edge —
    * enumerated per removed edge by common-neighbor intersection over
    * old adjacency; added triangles are triangles of the NEW graph
    * containing ≥1 truly-new edge, enumerated over new adjacency
    * (old cone minus removals plus additions). The two triple sets are
    * provably disjoint (a subtracted triangle contains a removed edge,
    * which no new-graph triangle can), so no cross-pass dedup is
    * needed; within each pass the sorted-triple `distinct` dedups
    * multi-delta triangles (a triangle is found once per delta edge it
    * contains).
    *
    * Nodes left ISOLATED by the batch (every incident edge removed) are
    * DROPPED, and new nodes appear — matching the cold recompute's
    * "nodes of the graph" contract. The old degree of each frontier
    * node needed for that decision comes from the adjacency cone the
    * fold already reads — no extra pass over the store.
    *
    * Scale shape: identical to the append-only fold — ONE frontier-cone
    * broadcast semi join over the store (frontier = endpoints of both
    * frames), everything downstream sized by Σ_{batch edge} deg. */
  def triangleCountInc(prior: DataFrame, oldEdges: DataFrame, addedEdges: DataFrame,
                       removedEdges: DataFrame, src: String, dst: String): DataFrame = {
    val d = signedTriangleDelta(oldEdges, addedEdges, removedEdges, src, dst)
    val newDeg = coalesce(col("__cd"), lit(0L)) + coalesce(col("__di"), lit(0L))
    val frontierKept = d.frontier
      .join(d.coneDeg, Seq("n"), "left").join(d.degDelta, Seq("n"), "left")
      .where(newDeg > 0).select(col("n").as("node"))
    foldTriangles(prior, d.triDelta, prior.select(col("node"))
      .join(d.frontier, col("node") === col("n"), "left_anti")
      .union(frontierKept))
  }

  def triangleCountInc(prior: DataFrame, oldEdges: DataFrame, addedEdges: DataFrame,
                       removedEdges: DataFrame): DataFrame =
    triangleCountInc(prior, oldEdges, addedEdges, removedEdges, "src", "dst")

  /** Deletion-aware [[clusteringCoefficientInc]]: triangle deltas as in
    * the deletion-aware [[triangleCountInc]]; degrees fold as
    * prior ± per-node truly-changed incident edges (prior carries the
    * degree, so the cone degree isn't needed here); now-isolated nodes
    * drop; the 4dp-grid division recomputes. Equal to the cold run on
    * `(old ∖ removed) ∪ added` (OpsSpec-pinned). */
  def clusteringCoefficientInc(prior: DataFrame, oldEdges: DataFrame,
                               addedEdges: DataFrame, removedEdges: DataFrame,
                               src: String, dst: String): DataFrame = {
    val dd = signedTriangleDelta(oldEdges, addedEdges, removedEdges, src, dst)
    val allNodes = prior.select(col("node"))
      .union(dd.frontier.select(col("n").as("node"))).distinct()
    val t = coalesce(col("__pt"), lit(0L)) + coalesce(col("__dt"), lit(0L))
    val d = coalesce(col("__pd"), lit(0L)) + coalesce(col("__di"), lit(0L))
    allNodes
      .join(prior.select(col("node"), col("triangles").as("__pt"),
        col("degree").as("__pd")), Seq("node"), "left")
      .join(dd.triDelta, Seq("node"), "left")
      .join(dd.degDelta.select(col("n").as("node"), col("__di")), Seq("node"), "left")
      .where(d > 0)
      .select(col("node"), t.as("triangles"), d.as("degree"), clustering(t, d))
  }

  def clusteringCoefficientInc(prior: DataFrame, oldEdges: DataFrame,
                               addedEdges: DataFrame, removedEdges: DataFrame): DataFrame =
    clusteringCoefficientInc(prior, oldEdges, addedEdges, removedEdges, "src", "dst")

  /** Per-node triangle counts over `nodes`: `prior`'s count plus the
    * signed delta (node, __dt). */
  private def foldTriangles(prior: DataFrame, triDelta: DataFrame,
                            nodes: DataFrame): DataFrame =
    nodes
      .join(prior.select(col("node"), col("triangles").as("__pt")), Seq("node"), "left")
      .join(triDelta, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("__pt"), lit(0L)) + coalesce(col("__dt"), lit(0L))).as("triangles"))

  /** The pieces of the signed (add + remove) triangle delta. `frontier`
    * = endpoints of either batch frame (`n`); `triDelta` = signed
    * per-node triangle deltas (node, __dt); `degDelta` = signed per-node
    * incident-edge deltas (n, __di); `coneDeg` = OLD-graph degree of
    * each frontier node read off the adjacency cone (n, __cd). */
  private case class SignedDelta(frontier: DataFrame, triDelta: DataFrame,
                                 degDelta: DataFrame, coneDeg: DataFrame)

  /** The one triangle delta of the incremental triangle family. Net
    * semantics first — `rnet` = requested removals minus re-adds,
    * intersected with the old graph; `anet` = requested additions absent
    * from the old graph (an existing edge that is both removed and
    * re-added nets to untouched) — then two enumeration passes over ONE
    * shared frontier cone: removed triangles close through OLD adjacency
    * (they existed before the batch), added triangles through NEW
    * adjacency (cone ∖ rnet ∪ anet). Store bytes never shuffle. The
    * removal-side cuts are skipped for a removal frame the optimizer
    * proves empty, so the append-only fold runs exactly the append
    * path's jobs. */
  private def signedTriangleDelta(oldEdges: DataFrame, addedEdges: DataFrame,
                                  removedEdges: DataFrame, src: String,
                                  dst: String): SignedDelta = {
    def und(df: DataFrame): DataFrame = undirected(df, col(src), col(dst)).distinct()
    val addU = und(addedEdges).localCheckpoint()
    // Removals re-added in the same batch cancel BEFORE touching the
    // store: for an existing edge the pair is a no-op (add wins), and
    // netting first keeps both enumeration passes delta-sized.
    val remReq = cutUnlessEmpty(und(removedEdges).join(addU, Seq("lo", "hi"), "left_anti"))
    val frontier = endpoints(addU, remReq).localCheckpoint()
    // Directed-adjacency CONE of the old store: rows whose tail is a
    // frontier node — the only part of the old graph the fold reads. The
    // broadcast semi join restricts the store BEFORE any wide operation
    // (the canonical `distinct` runs on the cone, not the store — running
    // it store-first was a full-E shuffle that made the fold LOSE to the
    // cold recompute on the 1M-edge probe). The cone IS distinct'd: raw
    // edge lists carry duplicate/reversed edges, and leaving them in
    // inflates the candidate fan-out by the duplicity factor (measured
    // +50% fold shuffle on the 1M-edge probe). Cut once: every later
    // pass reads it.
    val adjOldCone = undirected(oldEdges, col(src), col(dst))
      .select(explode(array(
          struct(col("lo").as("u"), col("hi").as("w")),
          struct(col("hi").as("u"), col("lo").as("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .join(broadcast(frontier), col("u") === col("n"), "left_semi")
      .distinct().localCheckpoint()
    // Both endpoints of every batch edge are frontier nodes, so the cone
    // suffices for presence tests against the old graph.
    val rnet = cutUnlessEmpty(remReq.join(adjOldCone,
        col("lo") === col("u") && col("hi") === col("w"), "left_semi"))
    val anet = addU.join(adjOldCone,
        col("lo") === col("u") && col("hi") === col("w"), "left_anti")
      .localCheckpoint()
    // Triangles with >= 1 delta edge: for delta edge (lo, hi), a common
    // neighbor w of both endpoints in `adj` closes one; dedup on the
    // sorted triple.
    def tris(delta: DataFrame, adj: DataFrame): DataFrame =
      delta.join(adj.as("na"), col("na.u") === col("lo"))
        .select(col("lo").as("ta"), col("hi").as("tb"), col("na.w").as("cw"))
        .join(adj.as("nb"), col("nb.u") === col("tb") && col("nb.w") === col("cw"))
        .select(array_sort(array(col("ta"), col("tb"), col("cw"))).as("tri"))
        .distinct()
    // Delete pass over OLD adjacency; add pass over NEW adjacency.
    val remTris = tris(rnet, adjOldCone)
    val adjNew = adjOldCone
      .join(rnet.select(col("lo").as("u"), col("hi").as("w"))
          .unionAll(rnet.select(col("hi").as("u"), col("lo").as("w"))),
        Seq("u", "w"), "left_anti")
      .unionAll(anet.select(col("lo").as("u"), col("hi").as("w")))
      .unionAll(anet.select(col("hi").as("u"), col("lo").as("w")))
      .localCheckpoint()
    val addTris = tris(anet, adjNew)
    val triDelta = addTris.select(explode(col("tri")).as("node"), lit(1L).as("s"))
      .unionAll(remTris.select(explode(col("tri")).as("node"), lit(-1L).as("s")))
      .groupBy("node").agg(sum(col("s")).as("__dt"))
    val degDelta = anet.select(col("lo").as("n")).unionAll(anet.select(col("hi").as("n")))
      .select(col("n"), lit(1L).as("s"))
      .unionAll(rnet.select(col("lo").as("n")).unionAll(rnet.select(col("hi").as("n")))
        .select(col("n"), lit(-1L).as("s")))
      .groupBy("n").agg(sum(col("s")).as("__di"))
    val coneDeg = adjOldCone.groupBy(col("u").as("n")).agg(count(lit(1)).as("__cd"))
    SignedDelta(frontier, triDelta, degDelta, coneDeg)
  }

  /** `localCheckpoint`, except for a frame the optimizer already proved
    * empty (an empty removal frame): cutting it would run a job for
    * nothing and hide the emptiness every downstream union and join
    * prunes at plan time. */
  private def cutUnlessEmpty(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if r.data.isEmpty => df
      case _ => df.localCheckpoint()
    }

  private def perNodeTriangles(closed: DataFrame): DataFrame =
    closed.select(col("apex").as("node"))
      .unionAll(closed.select(col("x").as("node")))
      .unionAll(closed.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

  /** The (nodes, degrees, closed-wedges) triple behind [[triangleCount]] /
    * [[clusteringCoefficient]], with the closed-wedge frame returned
    * LAZILY (no lineage cut) so PlanSpec can assert the wedge and closing
    * joins are equi joins — an internal `localCheckpoint` would execute
    * and hide the plan. One row of `closed` per triangle: (apex, x, y)
    * with apex→x, apex→y, x→y all oriented edges. */
  private[graft] def triangleParts(edges: DataFrame, src: String,
                                   dst: String): (DataFrame, DataFrame, DataFrame) = {
    val und = undirected(edges, col(src), col(dst)).distinct().localCheckpoint()
    val nodes = und.select(col("lo").as("node"))
      .union(und.select(col("hi").as("node"))).distinct()
    val deg = und.select(col("lo").as("node"))
      .unionAll(und.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // Orient lo—hi from the (degree, id)-smaller endpoint.
    val withDeg = und
      .join(deg.select(col("node").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("node").as("hi"), col("d").as("dhi")), "hi")
    // The oriented edge CARRIES its head's (degree, id) sort key (`dv`):
    // the wedge self-join below orders each out-neighbor pair by that
    // same key, so the closing edge — which by construction also points
    // (degree, id)-upward — can only be oriented x→y. One EQUI probe;
    // the OR-of-two-orientations form is a BroadcastNestedLoopJoin
    // (CartesianProduct past the broadcast threshold) over O(E^1.5)
    // wedges × E edges — the exact blow-up this orientation exists to
    // avoid.
    val oriented = withDeg.select(
        when(col("dlo") < col("dhi") ||
             (col("dlo") === col("dhi") && col("lo") < col("hi")),
          struct(col("lo").as("u"), col("hi").as("v"), col("dhi").as("dv")))
          .otherwise(struct(col("hi").as("u"), col("lo").as("v"), col("dlo").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .localCheckpoint()
    // Wedges at u: each unordered pair (x, y) of u's out-neighbors once,
    // ordered by the orientation key — x is the (degree, id)-smaller head.
    // The non-equi tail of the condition rides as a post-filter on the
    // u=u equi join; it does not change the join strategy.
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
         (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("apex"), col("e1.v").as("x"), col("e2.v").as("y"))
    // Close the wedge: the third edge, if present, is oriented x→y.
    val closed = wedges.join(oriented.as("e3"),
        col("e3.u") === col("x") && col("e3.v") === col("y"))
      .select(col("apex"), col("x"), col("y"))
    (nodes, deg, closed)
  }
}
