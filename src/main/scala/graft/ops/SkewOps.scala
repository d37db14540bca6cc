package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Skew mitigation for large joins (the 100 TB posture, SURVEY.md §2).
  *
  * AQE's runtime skew-join splitting is the first line of defense (on by
  * default in graft.engine); salting is the explicit, planner-independent
  * fallback for joins whose skew is KNOWN up front (a handful of hot keys
  * owning a large fraction of the fact side):
  *
  *  - the fact side gets a deterministic salt in [0, n) derived from the
  *    whole row, spreading a hot key's rows across n reduce partitions;
  *  - the (small-ish) dim side is exploded n ways so every (key, salt)
  *    bucket still finds its match;
  *  - the join key becomes (key, salt) — same results, n-way finer shuffle
  *    granularity for every key.
  *
  * Cost model: dim side is replicated n× — use for dim tables far below
  * fact scale (the usual skew shape) and keep n small (8–32).
  */
object SkewOps {

  /** Fan out an UNDER-PARTITIONED operator input before heavy per-row
    * work (guide §2.5's "one huge unsplittable file" remedy, round 15):
    * parquet cannot split below row-group granularity, so a table
    * written as one row group scans as ONE task no matter how many
    * cores the cluster has — and every per-document operator downstream
    * (tokenize, MinHash, codec decode, HTML segmentation) runs
    * single-threaded. When the input's scan parallelism is under half
    * the cluster default, repartition to the default; otherwise pass
    * through UNTOUCHED — at production layouts (files ≫ cores) this is
    * a no-op, so no full-corpus shuffle ever fires at scale. The
    * round-robin repartition is retry-safe (sort-before-repartition is
    * on by default) and every graft operator is partition-layout
    * independent. Call it on SCAN-STAGE inputs only: probing partition
    * count on a post-exchange plan can trigger AQE stage execution, and
    * fanning out a bucketed index side would destroy its Exchange-free
    * probe layout. */
  private[graft] def fanOutScan(df: DataFrame): DataFrame = {
    // Streaming plans can't be inspected (.rdd executes) — micro-batch
    // parallelism is the source's concern (the Warc.spreadSmall rule).
    if (df.isStreaming) return df
    // Narrow scan-stage plans only: .rdd on a post-exchange plan would
    // eagerly execute AQE query stages just to read a partition count.
    def narrow(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      plan match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => narrow(p.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => narrow(f.child)
        case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => narrow(s.child)
        case v: org.apache.spark.sql.catalyst.plans.logical.View => narrow(v.child)
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
        case _ => false
      }
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (narrow(df.queryExecution.optimizedPlan) &&
        df.rdd.getNumPartitions * 2 <= p) df.repartition(p)
    else df
  }

  private val saltCol = "__graft_salt"

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Deterministic per-row salt in [0, salts): xxhash64 over `saltBy`
    * (or, when empty, every non-map column of `df` — hash throws on
    * MapType). The salt is a PURE FUNCTION OF ROW CONTENT — never of RNG
    * state, partition layout, or row order — so a retried or speculative
    * task emits exactly the salts its twin would, and downstream
    * operators may safely key on it. (A seeded `rand` does not have this
    * property: its per-row stream depends on partition index and
    * intra-partition position, both unstable under retry with
    * non-deterministic upstream ordering.)
    *
    * CONTRACT: byte-identical rows share a salt bucket. If a hot key's
    * rows are largely EXACT duplicates (common in raw logs), content
    * hashing cannot spread them — pass a distinguishing column set via
    * `saltBy` (e.g. a unique event id), or exact-dedup upstream.
    */
  private[graft] def saltExpr(df: DataFrame, saltBy: Seq[Column], salts: Int): Column = {
    val basis =
      if (saltBy.nonEmpty) saltBy
      else df.schema.fields.filterNot(f => hasMap(f.dataType)).map(f => df(f.name)).toSeq
    require(basis.nonEmpty,
      "saltedJoin: no hashable (non-map) columns to derive a salt from — pass saltBy explicitly")
    pmod(xxhash64(basis: _*), lit(salts.toLong)).cast("int")
  }

  /** Equi-join `fact ⋈ dim` on `key`, salted `salts` ways. Result is
    * row-identical to the plain inner join; salt assignment is
    * deterministic (see [[saltExpr]] for the contract on duplicate
    * rows and the `saltBy` escape hatch). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
                 saltBy: Seq[Column] = Nil): DataFrame = {
    require(salts > 0, "salts must be positive")
    val salted = fact.withColumn(saltCol, saltExpr(fact, saltBy, salts))
    val exploded = dim
      .withColumn(saltCol, explode(sequence(lit(0), lit(salts - 1))))
      .withColumnRenamed(key, s"${key}__dim")
    salted
      .join(exploded,
        salted(key) === exploded(s"${key}__dim") &&
          salted(saltCol) === exploded(saltCol))
      .drop(saltCol).drop(s"${key}__dim")
  }

  /** [[saltedJoin]] restricted to a KNOWN hot-key set — the shape that
    * actually scales when the dim side is itself too large to broadcast
    * (the only regime with a skew problem at all: a broadcastable dim
    * never shuffles, so its hot keys are handled map-side — measured in
    * the round-6 skew probe, SURVEY §6). Full salting replicates the
    * WHOLE dim `salts`×, which loses exactly when the dim is big; here
    * only the `hotKeys` rows are replicated (|hot|·salts extra rows —
    * constant-ish) and the cold majority joins plain, so the straggler
    * task disappears at the cost of nothing measurable. Hot keys come
    * cheap from
    * [[SketchOps]]' count-min heavy hitters or any frequency pass.
    * Result is row-identical to the plain inner join. */
  def saltedJoinHot(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
                    hotKeys: Seq[Any], saltBy: Seq[Column] = Nil): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(hotKeys.nonEmpty, "no hot keys — use a plain join")
    // Single-pass form, NOT filter-split-union: a split would evaluate
    // each input's whole upstream twice (and the differing filters defeat
    // ReuseExchange — in spanDedup that upstream is the corpus-wide
    // explode). Cold rows ride salt bucket 0; hot fact rows spread by
    // content, hot dim rows alone explode all buckets.
    val salted = fact.withColumn(saltCol,
      when(fact(key).isin(hotKeys: _*), saltExpr(fact, saltBy, salts))
        .otherwise(lit(0)))
    val exploded = dim
      .withColumn(saltCol, explode(
        when(dim(key).isin(hotKeys: _*), sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .withColumnRenamed(key, s"${key}__dim")
    salted
      .join(exploded,
        salted(key) === exploded(s"${key}__dim") &&
          salted(saltCol) === exploded(saltCol))
      .drop(saltCol).drop(s"${key}__dim")
  }
}
