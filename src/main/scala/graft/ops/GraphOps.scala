package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-analysis over distributed edge lists.
  *
  * The LLM-curation use case is link-based quality scoring: web-scale
  * corpora (Common Crawl derivatives) weight documents by the link
  * authority of their host, and the canonical authority measure is
  * PageRank over the (host- or page-level) link graph. The operator is
  * graph-generic — any `(src, dst)` edge list works.
  */
object GraphOps {

  /** Fixed-iteration PageRank with proper dangling-mass redistribution.
    *
    * rank'(v) = (1−d)/N + d·( Σ_{u→v} rank(u)/outdeg(u) + D/N )
    * where D is the total rank mass on dangling nodes (no out-edges).
    * Total mass is exactly 1.0 every round — the invariant the spec
    * pins — so ranks are comparable across corpus snapshots.
    *
    * Scale shape: each round is ONE shuffle of |E| (edges ⋈ ranks on
    * src, combined map-side into per-dst partial sums) plus a scalar
    * dangling aggregate of |V|; the edge list with pre-joined
    * out-degrees is persisted once and reused every round. The round's
    * result is cut with an EAGER `localCheckpoint` — unlike the lazy
    * cut in [[TextDedup.clusters]] (whose convergence check doubles as
    * the materializer), PageRank has no natural per-round action, and
    * each new plan references the previous ranks TWICE (contribution
    * join + dangling aggregate), so an un-cut plan doubles per round.
    * The checkpoint job is |V| rows — far below the |E| shuffle it
    * caps. Fixed `iters` (no convergence probe) keeps the round count
    * — and hence the shuffle count — a static property of the job.
    * Every round checkpoint (here, in [[kcorePeel]] and in
    * [[bfsLevels]]) goes through [[QueryCaches.localCheckpoint]], so
    * [[QueryCaches.releaseAll]] drops its blocks: consume the result
    * before releasing, as with any ledger-backed frame.
    *
    * Determinism: BOTH unbounded-group double sums (the per-dst
    * contribution sum and the dangling-mass sum) cross their aggregate
    * as INTEGER-SCALED exact terms — `floor(x·10¹⁴ + 0.5)` cast to
    * long (the engine-portable fixed-point quantization, identical to
    * a DECIMAL(28,14) HALF_UP cast for the non-negative ranks here,
    * but summed as codegen'd longs instead of Decimal128) — so the
    * result is bit-identical at ANY in-degree: a 1e6-in-edge hub
    * (real web graphs have them) sums the same on every engine and
    * every partition order. Overflow is bounded by the MASS INVARIANT,
    * not the graph: total rank mass is exactly 1.0 every round, so any
    * contribution/dangling sum is ≤ 10¹⁴ ≪ Long.MaxValue at every
    * corpus scale. The per-term quantization (≤5e-15 absolute) is
    * invisible at the repo's round(x, 6) output gate; the per-row
    * update `(1−d)/n + d·(contrib + dm/n)` is scalar double math with
    * a fixed association, deterministic by construction.
    *
    * @param edges  DataFrame with `src` and `dst` columns (any
    *               equatable type); parallel edges are deduplicated.
    * @return (node, rank) — one row per distinct node.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 6,
      damping: Double = 0.85,
      handle: CacheHandle = null): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")

    val e = CacheHandle.persistWith(handle,
      edges.select(col("src"), col("dst")).distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = CacheHandle.persistWith(handle,
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // out-degree rides along with each edge: joined ONCE here, not
    // re-derived per round
    val ew = CacheHandle.persistWith(handle,
      e.join(deg, "src").select(col("src"), col("dst"), col("outdeg")))
    // eager (the q_pca_power rule): the init checkpoint below contains
    // crossJoin(broadcast(n1)) — the broadcast exchange runs as its
    // own concurrent driver job, and against LAZY e/nodes caches both
    // jobs would materialize the |E| distinct and the node union at
    // once, computing cold partitions twice. Materialize e first (the
    // expensive distinct), then nodes over the warm e; every later
    // reader — ew, n1, the init join — hits warm caches.
    e.count()
    nodes.count()
    // carry N as a column: one broadcast cross-join at init, then the
    // constant is just data — no per-round re-aggregation
    val n1 = nodes.agg(count(lit(1)).as("n"))
    // dangling membership is STATIC (out-degrees never change), so it
    // is resolved ONCE into a boolean that rides the rank rows; the
    // per-round dangling mass becomes a filter+sum over the round's
    // checkpointed |V| rows instead of an anti-join that re-derives
    // the degree aggregate every round (measured: the per-round
    // anti-join was one of the two heavy stages in each iteration)
    var ranks = nodes
      .join(deg.select(col("src").as("node"), lit(true).as("has_out")),
        Seq("node"), "left")
      .crossJoin(broadcast(n1))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"), col("n"),
        coalesce(col("has_out"), lit(false)).as("has_out"))
      .transform(QueryCaches.localCheckpoint(_))
    for (_ <- 1 to iters) {
      // hub-safe: per-edge terms cross the sum integer-scaled at 1e14
      // (exact, order-independent long sums; mass-invariant overflow
      // bound), back to double after — in-degree no longer bounds
      // determinism
      val contrib = ew
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .groupBy(col("dst").as("node"))
        .agg((sum(floor(col("rank") / col("outdeg") * lit(1.0e14)
            + lit(0.5)).cast("long"))
          .cast("double") / lit(1.0e14)).as("contrib"))
      val dangling = ranks.filter(!col("has_out"))
        .agg(coalesce(
          sum(floor(col("rank") * lit(1.0e14) + lit(0.5)).cast("long"))
            .cast("double") / lit(1.0e14), lit(0.0)).as("dm"))
      ranks = ranks.select(col("node"), col("n"), col("has_out"))
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(1.0 - damping) / col("n") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / col("n")))
            .as("rank"),
          col("n"), col("has_out"))
        .transform(QueryCaches.localCheckpoint(_))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Fixed-round k-core peeling: drop every node whose CURRENT degree
    * is below k, `rounds` times — the subgraph-density filter (dense
    * hubs/rings survive, tendrils peel away). A FIXED round count
    * rather than run-to-fixpoint keeps the result deterministic and
    * oracle-expressible as unrolled CTEs; real graphs converge in a
    * handful of peels, and callers needing the true core raise
    * `rounds`. Each round is one degree aggregate + two semi-joins,
    * and references its predecessor edge set three times — so every
    * round is cut with an eager localCheckpoint (the [[pageRank]] /
    * [[bfsLevels]] rule: an uncut chain re-expands ~3^rounds subtrees
    * at analysis).
    *
    * `edges` must be canonical distinct (a, b) with a ≠ b. Returns
    * the surviving nodes with their degree in the FINAL peeled edge
    * set (which can dip below k again if the peel has not converged —
    * "after R peels" is the contract, identical on both engines).
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(e: DataFrame): DataFrame = e
      .select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = edges.select(col("a"), col("b"))
      .transform(QueryCaches.localCheckpoint(_))
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select("node")
      e = e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .transform(QueryCaches.localCheckpoint(_))
    }
    degrees(e)
  }

  /** Fixed-depth BFS levels: shortest hop distance from a source set,
    * the reachability/centrality building block (crawl-frontier
    * expansion, link-distance quality tiers). Each round is one |E|
    * join against the frontier-so-far plus a keyed min — and, like
    * [[pageRank]], the round result is referenced twice (carry-over
    * union + expansion join), so every round is cut with an eager
    * localCheckpoint to keep the analyzed plan linear in rounds.
    * Nodes unreached within `maxHops` are absent from the output —
    * at web scale the frontier is the working set, never the full
    * node list. The matching oracle unrolls rounds into MATERIALIZED
    * CTEs (DuckDB's inliner has the same doubling hazard).
    */
  def bfsLevels(
      edges: DataFrame,
      sources: DataFrame,
      maxHops: Int,
      handle: CacheHandle = null): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = CacheHandle.persistWith(handle,
      edges.select(col("src"), col("dst")).distinct())
    var dist = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).transform(QueryCaches.localCheckpoint(_))
    for (_ <- 1 to maxHops) {
      val expanded = e
        .join(dist.select(col("node").as("src"), col("dist")), "src")
        .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist"))
      dist = dist.unionByName(expanded)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .transform(QueryCaches.localCheckpoint(_))
    }
    dist
  }

  /** Item-item co-occurrence edges from a bipartite (item, key)
    * relation — the fold behind co-purchase graphs, "users who bought
    * X also bought Y", and document co-citation.
    *
    * The self-join on `keyCol` emits Σ_k deg(k)² candidate rows BEFORE
    * the `minShared` filter can prune anything, so one hot key (a
    * power-law buyer, a bot account) makes the fold quadratic.
    * `maxKeyDegree` bounds it with [[TextDedup.capBuckets]]: keys
    * whose item degree exceeds the cap are dropped via a broadcast
    * anti-join (their degree list is an aggregate of one count per
    * DISTINCT key, and at most rows/cap keys can exceed the cap), so
    * per-key join work is O(cap²) and the candidate join keeps its
    * exchange plan. Dropping a hot key loses only co-occurrence
    * evidence that key contributes — a key touching everything is
    * non-discriminating, the same argument as hot LSH buckets; audit
    * the drops with [[TextDedup.overCapBuckets]] on the same inputs.
    * `Int.MaxValue` (the oracle gate's setting) skips the cap and is
    * exact.
    *
    * @return (ia, ib, shared) with ia < ib, shared >= minShared.
    */
  def coOccurrenceEdges(
      rel: DataFrame,
      itemCol: String,
      keyCol: String,
      minShared: Long,
      maxKeyDegree: Int = Int.MaxValue): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    if (maxKeyDegree == Int.MaxValue) {
      // uncapped: base feeds only the self-join, whose two sides share
      // one repartition exchange (ReusedExchange) — no persist needed
      val base = rel.select(col(itemCol).as("__i"), col(keyCol).as("__k"))
        .distinct()
      pairFold(base, minShared)
    } else
      // capped: the degree aggregate is a SEPARATE subtree from the
      // anti-join probe — an unpersisted base would recompute the
      // corpus-wide distinct (the shared-subplan rule). The audited
      // fold persists base (QueryCaches ledger) and shares ONE degree
      // aggregate; the over-cap audit frame is simply dropped here.
      coOccurrenceEdgesAudited(rel, itemCol, keyCol, minShared,
        maxKeyDegree)._1
  }

  /** [[coOccurrenceEdges]] with the over-cap audit from ONE shared
    * degree aggregate: callers that both audit/assert on the dropped
    * keys AND run the capped fold (`overCapBuckets` + `capBuckets`
    * separately) pay the per-key count twice — plus each anti-join
    * side recomputing it lazily. Here the tiny over-cap set is
    * persisted (via `handle`, or the [[QueryCaches]] ledger when null)
    * and the deduplicated bipartite base is too, so the precondition
    * action and the fold's self-join sides all read one computation.
    *
    * @param preDeduplicated the caller asserts `rel` is already
    *        DISTINCT on (itemCol, keyCol) — and, for the shared-read
    *        win, already persisted/materialized. Skips the internal
    *        distinct + persist (q_jaccard_capped's `sc` is exactly
    *        this shape; re-distincting it was a second corpus-wide
    *        aggregate plus a duplicate in-memory copy).
    * @return (edges, over) — edges as [[coOccurrenceEdges]]; over =
    *         (keyCol, n_members) for every key the cap dropped (tiny
    *         by construction: at most rows/maxKeyDegree keys).
    */
  def coOccurrenceEdgesAudited(
      rel: DataFrame,
      itemCol: String,
      keyCol: String,
      minShared: Long,
      maxKeyDegree: Int,
      handle: CacheHandle = null,
      preDeduplicated: Boolean = false): (DataFrame, DataFrame) = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxKeyDegree > 0, s"maxKeyDegree must be positive, got $maxKeyDegree")
    val renamed = rel.select(col(itemCol).as("__i"), col(keyCol).as("__k"))
    val base =
      if (preDeduplicated) renamed
      else CacheHandle.persistWith(handle, renamed.distinct())
    val over = CacheHandle.persistWith(handle,
      TextDedup.overCapBuckets(base, Seq("__k"), maxKeyDegree))
    // no broadcast hint on the anti side — corpus-derived (the
    // capBuckets rule); AQE converts when it measures small
    val capped0 = base.join(over.select(col("__k")), Seq("__k"), "left_anti")
    (pairFold(capped0, minShared),
      over.select(col("__k").as(keyCol), col("n_members")))
  }

  /** [[coOccurrenceEdgesAudited]] with a per-key weight summed across
    * each pair's shared keys — the fold behind degree-weighted
    * neighborhood scores (Adamic–Adar's Σ 1/ln(deg(k)), resource
    * allocation's Σ 1/deg(k)): rarely-shared keys say more than hubs.
    *
    * `keyWeight` maps the key's item-degree column (BIGINT, always
    * ≥ 2 when evaluated — see below) to the weight each pair earns
    * from that key. The weight is computed ONCE per key on the degree
    * aggregate, never on the quadratic pair rows, and should produce
    * an order-independent summable type (DECIMAL, or scaled longs)
    * when the output is hash-gated.
    *
    * Keys with degree 1 contribute no pairs at all, so the weighted
    * fold prunes them BEFORE applying `keyWeight` — identical results
    * for any weight, and expressions like 1/ln(deg) never see ln(1)=0
    * under ANSI (the guard-at-producing-projection rule).
    *
    * @return (edges, over) — edges as (ia, ib, shared, wsum) with
    *         ia < ib, shared ≥ minShared, wsum = Σ keyWeight(deg(k))
    *         over the pair's shared keys; over as in
    *         [[coOccurrenceEdgesAudited]].
    */
  def coOccurrenceEdgesWeightedAudited(
      rel: DataFrame,
      itemCol: String,
      keyCol: String,
      minShared: Long,
      maxKeyDegree: Int,
      keyWeight: Column => Column,
      handle: CacheHandle = null,
      preDeduplicated: Boolean = false): (DataFrame, DataFrame) = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxKeyDegree > 0, s"maxKeyDegree must be positive, got $maxKeyDegree")
    val renamed = rel.select(col(itemCol).as("__i"), col(keyCol).as("__k"))
    val base =
      if (preDeduplicated) renamed
      else CacheHandle.persistWith(handle, renamed.distinct())
    // ONE key-degree aggregate serves both the cap audit AND the
    // weight table (the unweighted fold needs no degrees, so its
    // overCapBuckets stays a single pass too; recomputing degrees for
    // the weight here was a second corpus-wide aggregate). Persisted:
    // key-cardinality-sized, read twice.
    val degAll = CacheHandle.persistWith(handle,
      base.groupBy("__k").agg(count(lit(1)).as("n_members")))
    val over = degAll.filter(col("n_members") > maxKeyDegree)
    // no broadcast hint on the anti side — corpus-derived (the
    // capBuckets rule); AQE converts when it measures small
    val capped0 = base.join(over.select(col("__k")), Seq("__k"), "left_anti")
    // surviving keys' degrees (capBuckets drops whole keys, so a
    // survivor's degree equals its pre-cap degree); degree-1 keys
    // produce no pairs, so pruning them first is a pure optimization
    // AND the ANSI guard for weights like 1/ln(deg) (guard at the
    // producing projection). Weight computed once per KEY, never on
    // the quadratic pair rows.
    val degW = degAll
      .filter(col("n_members") >= 2 && col("n_members") <= maxKeyDegree)
      .select(col("__k"), keyWeight(col("n_members")).as("__w"))
    (pairFold(capped0, minShared, Some(degW)),
      over.select(col("__k").as(keyCol), col("n_members")))
  }

  /** The ONE shared candidate fold: key-partitioned self-join → pair
    * counts (and, when `keyWeights` — a (__k, __w) frame — is given,
    * the per-pair weight sum over shared keys). Explicit key
    * partitioning for the self-join: AQE sizes the exchange by its
    * INPUT bytes and coalesces to a handful of tasks, but the deg²
    * pair fan-out explodes INSIDE the join stage — the classic
    * coalesce-before-fan-out trap (the fold ran on 8 of 32 cores). A
    * user repartition pins the width. Any future fold fix (width
    * heuristic, skew salt) lands here once for both the counted and
    * the weighted variants. The weight join is inner — keys absent
    * from `keyWeights` (degree-1 keys, which produce no pairs anyway)
    * are pruned; corpus-derived, so no broadcast hint.
    *
    * Join strategy (guide §3.1, deliberate): SHUFFLED-HASH, hinted on
    * the build side. What the planner picks unhinted is wrong at BOTH
    * scales: at gate scale the static estimate of the capped relation
    * sits under autoBroadcastJoinThreshold and the fold plans as an
    * auto-BROADCAST of a corpus-derived frame — one monolithic |rel|
    * hash relation probed by every task (and the exact
    * estimate-driven-broadcast-of-a-corpus-frame hazard §3.1 warns
    * about: at 100 TB a post-filter mis-estimate like this is a
    * driver OOM); past the threshold it plans sort-merge, the worst
    * case for a maximally-duplicate-key self-join (every equal-key
    * run re-buffered and re-walked). SHJ partitions the build —
    * each task builds |rel|/width rows (cache-resident at gate
    * scale) and the deg² fan-out is pure probe output; measured on
    * the 7-query fold family at sf0.1: 26.5 → 20.5 s (q_adamic_adar
    * 5.10 → 3.29; plan diff BroadcastHashJoin/SortMergeJoin →
    * ShuffledHashJoin in plans/r19). Memory contract for the forced
    * hint: per-partition build is |rel|/width 2-column rows (a
    * production deployment sizes width/shuffle.partitions to its
    * data, the normal SHJ bet), and no single key can concentrate a
    * partition past maxKeyDegree rows × keys/partition (capBuckets
    * bounds the per-key row count). AQE skew-join splitting applies
    * to shuffled-hash joins too.
    */
  private def pairFold(
      capped0: DataFrame,
      minShared: Long,
      keyWeights: Option[DataFrame] = None): DataFrame = {
    val capped =
      capped0.repartition(ScaleOps.fanoutWidth(capped0), col("__k"))
    val left = keyWeights match {
      case None => capped.select(col("__i").as("ia"), col("__k"))
      case Some(w) =>
        capped.select(col("__i").as("ia"), col("__k")).join(w, "__k")
    }
    left
      .join(capped.select(col("__i").as("ib"), col("__k"))
        .hint("shuffle_hash"), "__k")
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib")
      .agg(count(lit(1)).as("shared"),
        keyWeights.map(_ => sum(col("__w")).as("wsum")).toSeq: _*)
      .filter(col("shared") >= minShared)
  }
}
