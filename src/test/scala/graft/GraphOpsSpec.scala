package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraphOps

class GraphOpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def ranksOf(edges: Seq[(String, String)], iters: Int = 6)
      : Map[String, Double] = {
    import spark.implicits._
    GraphOps.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("pageRank holds no persistent RDD after releaseAll") {
    import spark.implicits._
    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.keySet
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
      .toDF("src", "dst")
    assert(GraphOps.pageRank(edges, iters = 3).collect().length == 4)
    graft.ops.QueryCaches.releaseAll()
    val held = sc.getPersistentRDDs.keySet -- rdds0
    assert(held.isEmpty, s"${held.size} persistent RDDs held after releaseAll")
  }

  test("cycle graph is uniform at every damping") {
    // a→b→c→a: perfectly symmetric, rank must stay exactly 1/3
    val r = ranksOf(Seq("a" -> "b", "b" -> "c", "c" -> "a"))
    assert(r.size == 3)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("total rank mass is exactly 1.0 (dangling mass redistributed)") {
    // star into a sink: b is dangling — without the D/N term the
    // graph would leak 0.85·rank(b) of mass every round
    val r = ranksOf(Seq("a" -> "b", "c" -> "b", "d" -> "b", "d" -> "a"))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // the sink holds the most mass; its sole feeder-beneficiary next
    assert(r("b") == r.values.max)
    assert(r("b") > r("a") && r("a") > r("d"))
  }

  test("hub ranks are bit-identical under any edge partitioning") {
    // a 200-in-edge hub: with plain double sums the per-dst
    // contribution would depend on partition/merge order; the
    // DECIMAL(28,14) per-term treatment makes it exact, so two runs
    // over differently-partitioned edges must agree to the BIT
    import spark.implicits._
    val edges = ((1 to 200).map(i => (s"n$i", "h")) :+ ("h" -> "n1"))
      .toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      GraphOps.pageRank(df, iters = 3)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r1 = run(edges.repartition(1))
    val r32 = run(edges.repartition(32))
    assert(r1 == r32) // exact ==, not tolerance
    assert(math.abs(r1.values.sum - 1.0) < 1e-9)
  }

  test("hand-computed two-node chain matches the closed form") {
    // a→b, 1 iteration, d=0.85: both start at 1/2; b gets a's full
    // contribution 1/2, dangling mass = rank(b) = 1/2.
    //   rank'(a) = 0.15/2 + 0.85·(0 + (1/2)/2)
    //   rank'(b) = 0.15/2 + 0.85·(1/2 + (1/2)/2)
    import spark.implicits._
    val r = GraphOps.pageRank(Seq("a" -> "b").toDF("src", "dst"), iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val d1 = 1.0 - 0.85
    assert(math.abs(r("a") - (d1 / 2 + 0.85 * 0.25)) < 1e-12)
    assert(math.abs(r("b") - (d1 / 2 + 0.85 * 0.75)) < 1e-12)
  }

  test("bfsLevels finds shortest hop counts and stops at maxHops") {
    import spark.implicits._
    // chain a→b→c→d plus a shortcut a→c: c is 1 hop, not 2
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "c")
      .toDF("src", "dst")
    val src = Seq("a").toDF("node")
    val got = GraphOps.bfsLevels(edges, src, maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    // hops = 1: d is not yet reached and must be ABSENT, not inf
    val one = GraphOps.bfsLevels(edges, src, maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one == Map("a" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("parallel edges deduplicate; ranks are deterministic across runs") {
    import spark.implicits._
    val dup = Seq("a" -> "b", "a" -> "b", "b" -> "a", "a" -> "c")
    val once = ranksOf(dup)
    val again = ranksOf(dup)
    assert(once == again) // bit-identical, not just approximately
    // dedup means a's outdeg is 2 (b, c), not 3
    val r = once
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // b and c both receive exactly rank(a)/2 — equal by symmetry —
    // while a alone gets b's full rank: dedup keeps the symmetry
    // (outdeg(a)=2; a triple-counted a→b would break it)
    assert(r("b") == r("c"))
    assert(r("a") > r("b"))
  }

  test("coOccurrenceEdges counts shared keys once and orders pairs") {
    import spark.implicits._
    // items x,y share keys k1,k2 (duplicate row must not double-count);
    // z shares only k1 with each
    val rel = Seq("x" -> "k1", "x" -> "k1", "x" -> "k2",
      "y" -> "k1", "y" -> "k2", "z" -> "k1").toDF("item", "k")
    val got = GraphOps.coOccurrenceEdges(rel, "item", "k", minShared = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("x", "y") -> 2L, ("x", "z") -> 1L, ("y", "z") -> 1L))
    val strict = GraphOps.coOccurrenceEdges(rel, "item", "k", minShared = 2L)
      .collect()
    assert(strict.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("x", "y")))
  }

  test("pairFold plans a shuffled-hash join (never auto-broadcast or SMJ)") {
    // deliberate strategy pin (guide §3.1, measured 26.5 → 20.5 s on
    // the 7-query fold family): unhinted, the fold's build side
    // auto-BROADCASTS whenever its static estimate dips under the
    // threshold (a corpus-derived frame — the mis-estimate hazard at
    // scale) and sort-merges past it (worst case for a maximally-
    // duplicate-key self-join). The hint pins the partitioned hash
    // build at every size. Pre-AQE physical plan (the hint resolves
    // at planning; AQE never demotes SHJ).
    import spark.implicits._
    val rel = Seq("x" -> "k1", "y" -> "k1", "z" -> "k2").toDF("item", "k")
    val plan = GraphOps.coOccurrenceEdges(rel, "item", "k", minShared = 1L)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"fold self-join lost its shuffled-hash pin:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fold self-join regressed to sort-merge:\n$plan")
  }

  test("coOccurrenceEdges maxKeyDegree drops hot keys, bounding the fold") {
    import spark.implicits._
    // khot touches 40 items (Σ deg² blowup candidate: 780 pairs);
    // kcold touches 2. Cap 10 drops khot entirely — only the cold
    // pair survives, so candidate work is O(cap²) per key.
    val hot = (1 to 40).map(i => (f"i$i%02d", "khot"))
    val cold = Seq(("i01", "kcold"), ("i02", "kcold"))
    val rel = (hot ++ cold).toDF("item", "k")
    val capped = GraphOps.coOccurrenceEdges(rel, "item", "k",
      minShared = 1L, maxKeyDegree = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(capped == Map(("i01", "i02") -> 1L))
    // Int.MaxValue is the exact path: all 780 hot pairs + the shared one
    val exact = GraphOps.coOccurrenceEdges(rel, "item", "k", minShared = 1L)
    assert(exact.count() == 40L * 39 / 2)
  }

  test("coOccurrenceEdgesAudited: edges match the capped fold, over = dropped keys") {
    import spark.implicits._
    val hot = (1 to 40).map(i => (f"i$i%02d", "khot"))
    val cold = Seq(("i01", "kcold"), ("i02", "kcold"),
      ("i01", "kwarm"), ("i02", "kwarm"), ("i03", "kwarm"))
    val rel = (hot ++ cold).toDF("item", "k")
    val (edges, over) = GraphOps.coOccurrenceEdgesAudited(
      rel, "item", "k", minShared = 1L, maxKeyDegree = 10)
    // over = exactly the keys the cap drops, with their member counts
    val dropped = over.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dropped == Map("khot" -> 40L))
    // edges = the plain capped fold's edges
    val viaCap = GraphOps.coOccurrenceEdges(rel, "item", "k",
      minShared = 1L, maxKeyDegree = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val got = edges.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == viaCap && got ==
      Map(("i01", "i02") -> 2L, ("i01", "i03") -> 1L, ("i02", "i03") -> 1L))
    // preDeduplicated skips the internal distinct: identical results
    // on an input that IS distinct (and counts duplicates if not —
    // the caller contract, so only the distinct shape is asserted)
    val (edgesPre, overPre) = GraphOps.coOccurrenceEdgesAudited(
      rel.distinct(), "item", "k", minShared = 1L, maxKeyDegree = 10,
      preDeduplicated = true)
    assert(overPre.collect().map(r => r.getString(0)).toSeq == Seq("khot"))
    assert(edgesPre.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap == got)
    graft.ops.QueryCaches.releaseAll()
  }

  test("coOccurrenceEdgesWeightedAudited: wsum = Σ weight(deg) over shared keys; cap drops hot keys from both") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, log}
    // x,y share k2 (deg 2) and k3 (deg 3); x,z share only k3; khot
    // (deg 40) is over a cap of 10 and must contribute to NEITHER
    // shared nor wsum. k1 has degree 1: its weight must never be
    // evaluated (1/ln(1) raises under ANSI) and it produces no pairs.
    val hot = (1 to 40).map(i => (f"i$i%02d", "khot"))
    val rel = (Seq(("x", "k1"),
      ("x", "k2"), ("y", "k2"),
      ("x", "k3"), ("y", "k3"), ("z", "k3"),
      ("x", "khot"), ("y", "khot")) ++ hot).toDF("item", "k")
    val (edges, over) = GraphOps.coOccurrenceEdgesWeightedAudited(
      rel, "item", "k", minShared = 1L, maxKeyDegree = 10,
      keyWeight = d => (lit(1.0) / log(d.cast("double")))
        .cast("decimal(20,12)"))
    assert(over.collect().map(r => r.getString(0)).toSeq == Seq("khot"))
    val got = edges.collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDecimal(3).doubleValue()))).toMap
    val w2 = 1.0 / math.log(2.0)
    val w3 = 1.0 / math.log(3.0)
    assert(got.keySet == Set(("x", "y"), ("x", "z"), ("y", "z")))
    assert(got(("x", "y"))._1 == 2L)
    assert(math.abs(got(("x", "y"))._2 - (w2 + w3)) < 1e-9)
    assert(got(("x", "z"))._1 == 1L)
    assert(math.abs(got(("x", "z"))._2 - w3) < 1e-9)
    assert(math.abs(got(("y", "z"))._2 - w3) < 1e-9)
    // minShared prunes on the shared COUNT, independent of weights
    val (strict, _) = GraphOps.coOccurrenceEdgesWeightedAudited(
      rel, "item", "k", minShared = 2L, maxKeyDegree = 10,
      keyWeight = d => (lit(1.0) / log(d.cast("double")))
        .cast("decimal(20,12)"))
    assert(strict.collect().map(r =>
      (r.getString(0), r.getString(1))).toSet == Set(("x", "y")))
    graft.ops.QueryCaches.releaseAll()
  }
}
