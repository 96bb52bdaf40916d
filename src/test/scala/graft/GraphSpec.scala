package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Graph}

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank: hand-computed star graph, mass conserved") {
    // undirected star: a—b, a—c (symmetrized edge list)
    val edges = Seq(
      (1L, 2L), (2L, 1L),
      (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 1)
    val got = out.select($"id", $"pr").as[(Long, Double)].collect().toMap
    // pr_scaled is pr·N (mean 1.0 over nodes)
    val scaled = out.select($"id", $"pr_scaled")
      .as[(Long, Double)].collect().toMap
    assert(scaled.forall { case (id, s) => math.abs(s - got(id) * 3) < 1e-12 })
    // r0 = 1/3 each; s(a) = 1/3 + 1/3, s(b) = s(c) = (1/3)/2
    val teleport = (1.0 - 0.85) / 3
    assert(math.abs(got(1L) - (teleport + 0.85 * (2.0 / 3))) < 1e-12)
    assert(math.abs(got(2L) - (teleport + 0.85 / 6)) < 1e-12)
    assert(got(2L) === got(3L))
    // symmetrized graph has no dangling nodes → ranks sum to 1
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // center outranks leaves, and stays that way after more iterations
    val it3 = Graph.pageRank(edges, iters = 3)
      .select($"id", $"pr").as[(Long, Double)].collect().toMap
    assert(it3(1L) > it3(2L) && math.abs(it3.values.sum - 1.0) < 1e-12)
  }

  test("pageRank keeps in-degree-0 nodes at teleport mass") {
    // directed chain 1→2→3: node 1 receives nothing but must keep the
    // teleport term (the left-join-onto-nodes contract). Node 3 is
    // dangling (no out-edges): its mass leaks, the documented
    // simplification, so the total sums below 1 — but every node stays
    // present with pr ≥ teleport.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 2)
      .select($"id", $"pr").as[(Long, Double)].collect().toMap
    val teleport = (1.0 - 0.85) / 3
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(math.abs(got(1L) - teleport) < 1e-12)
    assert(got.values.forall(_ >= teleport - 1e-12))
    assert(got(3L) > got(2L)) // chain end accumulates
  }

  /** A seeded random multigraph over `ids`, as (src, dst, w) triples:
    * duplicate edges, weights 1..5, dangling nodes (ids 40..44 only
    * ever receive) and in-degree-0 nodes (ids 45..49 only ever send).
    */
  private def randomGraph[K](seed: Long, id: Int => K): Seq[(K, K, Long)] = {
    val rnd = new Random(seed)
    val core = Seq.fill(150)((rnd.nextInt(40), rnd.nextInt(40)))
    val dangling = (40 until 45).map(d => (rnd.nextInt(40), d))
    val sources = (45 until 50).map(s => (s, rnd.nextInt(40)))
    val all = core ++ core.take(20) ++ dangling ++ sources
    all.map { case (s, d) => (id(s), id(d), 1L + rnd.nextInt(5)) }
  }

  /** Plain-Scala power iteration of the three walks' definitions. */
  private def refPageRank[K](edges: Seq[(K, K, Long)], iters: Int,
                             weighted: Boolean, damping: Double = 0.85)
  : Map[K, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size
    val w = (e: (K, K, Long)) => if (weighted) e._3.toDouble else 1.0
    val out = edges.groupMapReduce(_._1)(w)(_ + _)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupMapReduce(_._2)(e =>
        if (weighted) damping * r(e._1) * w(e) / out(e._1)
        else r(e._1) / out(e._1))(_ + _)
      r = nodes.map { v =>
        val s = in.getOrElse(v, 0.0)
        v -> ((1.0 - damping) / n + (if (weighted) s else damping * s))
      }.toMap
    }
    r
  }

  private def refPpr[K](edges: Seq[(K, K, Long)], seeds: Set[K], iters: Int,
                        alpha: Double = 0.15): Map[K, Double] = {
    val out = edges.groupMapReduce(_._1)(_._3.toDouble)(_ + _)
    var r = seeds.map(_ -> 1.0 / seeds.size).toMap
    for (_ <- 1 to iters) {
      val spread = edges.filter(e => r.contains(e._1)).groupMapReduce(_._2)(
        e => (1.0 - alpha) * r(e._1) * e._3 / out(e._1))(_ + _)
      r = (spread.keySet ++ seeds).map(v => v -> (spread.getOrElse(v, 0.0) +
        (if (seeds(v)) alpha / seeds.size else 0.0))).toMap
    }
    r
  }

  private def assertClose[K](got: Map[K, Double], want: Map[K, Double],
                             what: String): Unit = {
    assert(got.keySet === want.keySet, what)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"$what: node $k $v vs ${want(k)}")
    }
  }

  private def withShufflePartitions[T](p: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, p.toLong)
    try body finally spark.conf.set(key, before)
  }

  private def walkCase[K](edges: Seq[(K, K, Long)], seeds: Set[K],
                          df: DataFrame, seedDf: DataFrame): Unit =
    for (p <- Seq(1, 4, 7); iters <- Seq(1, 3)) withShufflePartitions(p) {
      def ranks(out: DataFrame, c: String) = out.select(col("id"), col(c))
        .collect().map(r => r.get(0).asInstanceOf[K] -> r.getDouble(1)).toMap
      val what = s"partitions=$p iters=$iters"
      val pr = Graph.pageRank(df, iters)
      val prs = ranks(pr, "pr")
      assertClose(prs, refPageRank(edges, iters, weighted = false),
        s"pageRank $what")
      val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
      assertClose(ranks(pr, "pr_scaled"), prs.map { case (k, v) => k -> v * n },
        s"pr_scaled $what")
      assertClose(ranks(Graph.pageRankWeighted(df, iters), "pr"),
        refPageRank(edges, iters, weighted = true), s"pageRankWeighted $what")
      assertClose(ranks(Graph.personalizedPageRank(df, seedDf, iters), "ppr"),
        refPpr(edges, seeds, iters), s"personalizedPageRank $what")
    }

  test("sum-of-messages walks match a plain power iteration on random " +
    "multigraphs at any partition count (Long ids)") {
    val edges = randomGraph(7L, _.toLong)
    // seed 99 is not in the graph: it still restarts and is returned
    walkCase(edges, Set(3L, 99L), edges.toDF("src", "dst", "w"),
      Seq(3L, 99L, 3L).toDF("id"))
  }

  test("sum-of-messages walks match a plain power iteration on random " +
    "multigraphs at any partition count (String ids)") {
    val edges = randomGraph(11L, i => s"n$i")
    walkCase(edges, Set("n5", "n45"), edges.toDF("src", "dst", "w"),
      Seq("n5", "n45").toDF("id"))
  }

  /** Spark jobs one call of `op` launches. */
  private def jobs(op: => DataFrame): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusSync.drain(sc)
    sc.addSparkListener(l)
    try {
      op.unpersist()
      ListenerBusSync.drain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }

  private def unweightedGraph(seed: Long) =
    randomGraph(seed, _.toLong).map(e => (e._1, e._2)).toDF("src", "dst")

  test("pageRank launches the same number of Spark jobs for 2 and 6 " +
    "iterations") {
    val edges = unweightedGraph(3L)
    // one adjacency job, then the result's materialization (under AQE:
    // the cache build, the count's map stage and its final stage)
    val two = jobs(Graph.pageRank(edges, 2))
    assert(two === jobs(Graph.pageRank(edges, 6)))
    assert(two <= 4, s"$two jobs")
  }

  test("labelPropagation and hits launch the same number of Spark jobs " +
    "for 2 and 6 iterations") {
    val edges = unweightedGraph(5L)
    val lp = jobs(Graph.labelPropagation(edges, 2))
    assert(lp === jobs(Graph.labelPropagation(edges, 6)))
    val h = jobs(Graph.hits(edges, 2))
    assert(h === jobs(Graph.hits(edges, 6)))
  }

  /** Plain-Scala definitions of the convergence and voting loops. */
  private def refComponents[K: Ordering](pairs: Seq[(K, K)]): Map[K, K] = {
    val ord = implicitly[Ordering[K]]
    var l = pairs.flatMap(p => Seq(p._1, p._2)).map(v => v -> v).toMap
    var moving = true
    while (moving) {
      val next = pairs.foldLeft(l) { case (m, (a, b)) =>
        val x = ord.min(m(a), m(b))
        m.updated(a, x).updated(b, x)
      }
      moving = next != l
      l = next
    }
    l
  }

  private def refBfs[K](edges: Seq[(K, K)], seeds: Set[K], maxHops: Int)
  : Map[K, Long] = {
    var hops = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (h <- 1 to maxHops) {
      frontier = edges.collect { case (s, d) if frontier(s) => d }
        .filterNot(hops.contains).toSet
      hops ++= frontier.map(_ -> h.toLong)
    }
    hops
  }

  private def refKCore[K](pairs: Seq[(K, K)], k: Int): Map[K, Long] = {
    val sym = pairs ++ pairs.map(_.swap)
    var alive = sym.map(_._1).toSet
    var deg = Map.empty[K, Long]
    var moving = true
    while (moving) {
      deg = sym.filter(e => alive(e._1) && alive(e._2))
        .groupMapReduce(_._1)(_ => 1L)(_ + _).filter(_._2 >= k)
      moving = deg.keySet != alive
      alive = deg.keySet
    }
    deg
  }

  private def refLabels[K: Ordering](edges: Seq[(K, K)], iters: Int)
  : Map[K, K] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var l = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val votes = edges.groupMapReduce(e => (e._2, l(e._1)))(_ => 1L)(_ + _)
        .groupBy(_._1._1)
      l = nodes.map(v => v -> votes.get(v).fold(v)(_.toSeq
        .minBy { case ((_, lbl), c) => (-c, lbl) }._1._2)).toMap
    }
    l
  }

  private def refHits[K](edges: Seq[(K, K)], iters: Int)
  : Map[K, (Double, Double)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var h = nodes.map(_ -> 1.0).toMap
    var a = h
    for (_ <- 1 to iters) {
      val in = edges.groupMapReduce(_._2)(e => h(e._1))(_ + _)
      a = nodes.map(v => v -> in.getOrElse(v, 0.0)).toMap
      val out = edges.groupMapReduce(_._1)(e => a(e._2))(_ + _)
      h = nodes.map(v => v -> out.getOrElse(v, 0.0)).toMap
    }
    val (ht, at) = (h.values.sum, a.values.sum)
    nodes.map(v => v -> ((h(v) / ht, a(v) / at))).toMap
  }

  /** `sparse` (as an id_a, id_b frame) is the first 30 `edges`: several
    * components and trees.
    */
  private def loopCase[K: Ordering](edges: Seq[(K, K)], seeds: Set[K],
                                    df: DataFrame, seedDf: DataFrame,
                                    sparse: DataFrame): Unit = {
    for (p <- Seq(1, 4, 7)) withShufflePartitions(p) {
      def rows(out: DataFrame) = out.collect().map(r =>
        r.get(0).asInstanceOf[K] -> r.get(1)).toMap
      val what = s"partitions=$p"
      assert(rows(Dedup.duplicateClusters(sparse)) ===
        refComponents(edges.take(30)), s"components $what")
      assert(rows(Graph.bfsHops(df, seedDf, 3)) ===
        refBfs(edges, seeds, 3), s"bfsHops $what")
      for (k <- Seq(3, 6))
        assert(rows(Graph.kCore(df, "src", "dst", k)) ===
          refKCore(edges, k), s"kCore k=$k $what")
      assert(rows(Graph.labelPropagation(df, 3)) === refLabels(edges, 3),
        s"labelPropagation $what")
      val hits = Graph.hits(df, 2).collect().map(r =>
        r.get(0).asInstanceOf[K] -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val want = refHits(edges, 2)
      assert(hits.keySet === want.keySet, s"hits $what")
      hits.foreach { case (v, (h, a)) =>
        assert(math.abs(h - want(v)._1) < 1e-12 &&
          math.abs(a - want(v)._2) < 1e-12, s"hits $what: node $v")
      }
    }
  }

  test("components, BFS, k-core, label propagation and HITS match plain " +
    "Scala definitions on random multigraphs at any partition count " +
    "(Long ids)") {
    val edges = randomGraph(13L, _.toLong).map(e => (e._1, e._2))
    // seed 99 is not in the graph: it comes back at hop 0
    loopCase(edges, Set(3L, 41L, 99L), edges.toDF("src", "dst"),
      Seq(3L, 41L, 99L, 3L).toDF("id"), edges.take(30).toDF("id_a", "id_b"))
  }

  test("components, BFS, k-core, label propagation and HITS match plain " +
    "Scala definitions on random multigraphs at any partition count " +
    "(String ids)") {
    val edges = randomGraph(17L, i => s"n$i").map(e => (e._1, e._2))
    loopCase(edges, Set("n5", "n45"), edges.toDF("src", "dst"),
      Seq("n5", "n45").toDF("id"), edges.take(30).toDF("id_a", "id_b"))
  }

  test("labelPropagation: triangle + pendant converges to one community; " +
    "no-in-edge nodes keep their label") {
    // symmetric triangle {1,2,3} with pendant 9—3; hand-simulated:
    // l1 = (1→2, 2→1, 3→1, 9→3), l2 = all 1
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L))
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val l2 = Graph.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(l2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L))
    // directed chain: node 1 has no in-edges → keeps its own label
    val directed = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graph.labelPropagation(directed, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("triangleCount: K4 has 4 triangles, a square has none") {
    // complete graph on {1,2,3,4}: C(4,3) = 4 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    assert(Graph.triangleCount(k4, "a", "b")
      .as[Long].collect().head === 4L)
    // 4-cycle without diagonals: zero triangles
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    assert(Graph.triangleCount(square, "a", "b")
      .as[Long].collect().head === 0L)
  }

  test("kCore: pendant chain peels away, triangle survives k=2, k=3 empties") {
    // triangle {1,2,3} + chain 3-4-5: node 5 (deg 1) peels first, THEN
    // node 4 (deg drops 2→1) — the two-round cascade a single
    // degree-filter pass would miss
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val core2 = Graph.kCore(g, "a", "b", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(Graph.kCore(g, "a", "b", k = 3).count() === 0L)
  }

  test("bfsHops: min hop from any seed, cap respected, early exit") {
    def sym(pairs: (Long, Long)*) = {
      val p = pairs.toSeq.toDF("src", "dst")
      p.unionByName(p.select($"dst".as("src"), $"src".as("dst")))
    }
    // path 1-2-3-4-5: node 5 is 4 hops out → excluded by maxHops=3
    val path = sym(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val got = Graph.bfsHops(path, Seq(1L).toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // two seeds meet in the middle: min hop wins; disconnected node
    // never appears; frontier empties before maxHops (early exit)
    val twoComp = sym(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val got2 = Graph.bfsHops(twoComp, Seq(1L, 3L).toDF("id"), maxHops = 5)
      .as[(Long, Long)].collect().toMap
    assert(got2 === Map(1L -> 0L, 3L -> 0L, 2L -> 1L))
  }

  test("personalizedPageRank: hand-computed 2-node walk, mass ≤ 1") {
    // a ↔ b, unit weights, seed {a}, 1 iteration:
    //   r0 = {a: 1}; r1 = {a: 0.15, b: 0.85}
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("id")
    val r1 = Graph.personalizedPageRank(edges, seeds, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(r1 === Map("a" -> 0.15, "b" -> 0.85))
    // 2 iterations: r2 = {a: 0.15 + 0.85·0.85, b: 0.85·0.15}
    val r2 = Graph.personalizedPageRank(edges, seeds, iters = 2)
      .as[(String, Double)].collect().toMap
    assert(r2("a") === 0.15 + 0.85 * 0.85)
    assert(r2("b") === 0.85 * 0.15)
    // weighted fan-out: seed c points at d (3) and e (1) → 3:1 split
    val fan = Seq(("c", "d", 3L), ("c", "e", 1L)).toDF("src", "dst", "w")
    val rf = Graph.personalizedPageRank(fan, Seq("c").toDF("id"), iters = 1)
      .as[(String, Double)].collect().toMap
    assert(rf("d") === 0.85 * 0.75 && rf("e") === 0.85 * 0.25)
    assert(rf("c") === 0.15)
  }

  test("pageRankWeighted: strong tie carries proportionally more mass") {
    // a→b (w 3), a→c (w 1), b→a (w 1), c→a (w 1); d = 0.85, 1 iter:
    //   a = 0.05 + 2·0.85/3 = 0.61666…, b = 0.05 + 0.85/3·(3/4) =
    //   0.2625, c = 0.05 + 0.85/12 = 0.1208333…
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L),
      ("c", "a", 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRankWeighted(edges, iters = 1)
      .select($"id", $"pr").as[(String, Double)].collect().toMap
    def ~=(x: Double, y: Double) = math.abs(x - y) < 1e-12
    assert(~=(got("a"), 0.05 + 2 * 0.85 / 3))
    assert(~=(got("b"), 0.05 + 0.85 / 3 * 3 / 4))
    assert(~=(got("c"), 0.05 + 0.85 / 12))
    assert(~=(got.values.sum, 1.0))
  }

  test("degreeAssortativity: a path graph is perfectly disassortative") {
    // pairs (1,2),(2,3): endpoint degree pairs are (1,2)/(2,1) twice
    // each → Pearson corr = −1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graph.degreeAssortativity(pairs, "a", "b")
      .as[(Long, Double)].head()
    assert(got._1 === 4L)
    assert(math.abs(got._2 - (-1.0)) < 1e-12)
  }

  test("hits: hand-computed bipartite hubs and authorities, L1-normalized") {
    // u1→{i1,i2,i3}, u2→{i1}:
    //   iter 1: a ∝ (i1:2, i2:1, i3:1) → (0.5, 0.25, 0.25);
    //           h ∝ (u1: 1.0, u2: 0.5) → (2/3, 1/3)
    //   iter 2: a ∝ (i1: 1, i2: 2/3, i3: 2/3) → (3/7, 2/7, 2/7);
    //           h ∝ (u1: 1.0, u2: 3/7) → (0.7, 0.3)
    val edges = Seq(("u1", "i1"), ("u1", "i2"), ("u1", "i3"), ("u2", "i1"))
      .toDF("src", "dst")
    val got = Graph.hits(edges, iters = 2)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def ~=(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(~=(got("i1")._2, 3.0 / 7) && ~=(got("i2")._2, 2.0 / 7) &&
      ~=(got("i3")._2, 2.0 / 7))
    assert(~=(got("u1")._1, 0.7) && ~=(got("u2")._1, 0.3))
    // bipartite sides carry zero of the other score
    assert(got("i1")._1 === 0.0 && got("u1")._2 === 0.0)
    // both score vectors are L1-normalized
    assert(~=(got.values.map(_._1).sum, 1.0))
    assert(~=(got.values.map(_._2).sum, 1.0))
  }

  // shared fixture: square 1-2-3-4 with diagonal (1,3) — canonical a<b
  private def squarePairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)).toDF("pa", "pb")

  test("adamicAdar: only the non-adjacent pair scores, hand-computed") {
    // (2,4) is the sole non-edge with common neighbors {1, 3}, both
    // degree 3 → score = 2/ln(3); adjacent pairs are anti-joined out
    val got = Graph.adamicAdar(squarePairs, "pa", "pb", k = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((2L, 4L, 2L,
      BigDecimal(2.0 / math.log(3.0) + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("localClustering: diagonal square, hand-computed coefficients") {
    // triangles (1,2,3) and (1,3,4): nodes 1,3 have d=3,tri=2 →
    // 2·2/(3·2) = 2/3; nodes 2,4 have d=2,tri=1 → 1.0
    val got = Graph.localClustering(squarePairs, "pa", "pb")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 2L, 0.6667), (2L, 2L, 1L, 1.0),
      (3L, 3L, 2L, 0.6667), (4L, 2L, 1L, 1.0)))
  }

  test("neighborJaccard: per-edge overlap incl. the zero-union edge") {
    val got = Graph.neighborJaccard(squarePairs, "pa", "pb")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // diagonal (1,3): common {2,4}, union 3+3−2−2 = 2 → J = 1.0;
    // every side edge: one common neighbor over union 2 → 0.5
    assert(got === Seq(
      (1L, 2L, 1L, 0.5), (1L, 3L, 2L, 1.0), (1L, 4L, 1L, 0.5),
      (2L, 3L, 1L, 0.5), (3L, 4L, 1L, 0.5)))
    // isolated edge: no common neighbors, union 0 → defined as 0.0
    val lone = Graph.neighborJaccard(
      Seq((7L, 8L)).toDF("pa", "pb"), "pa", "pb")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(lone === Seq((7L, 8L, 0L, 0.0)))
  }
}
