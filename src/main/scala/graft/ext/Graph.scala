package graft.ext

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over plain (src, dst) edge DataFrames — the iterative
  * join workload Spark was built for. Connected components lives in
  * [[Dedup.duplicateClusters]] (it is a dedup primitive there); this
  * module holds scoring/centrality.
  */
object Graph {

  /** Canonical projection builders for the helper frames the join-based
    * operators here ([[labelPropagation]], [[hits]], [[bfsHops]]) derive
    * from their edge input. They exist so a CALLER can pre-persist
    * exactly these plans (a session-scoped graph context —
    * [[graft.SparkEntry.coengagementGraphWarm]]): Spark's cache manager
    * matches by canonicalized plan, so an operator's internal
    * [[acquire]] of the same projection becomes a cache HIT and the
    * operator leaves the frame's lifecycle to its owner. Without a
    * pre-warmed context each operator persists and releases its own
    * helpers. The sum-of-messages walks ([[pageRank]] and friends) read
    * their edge input exactly once, into [[walkGraph]]'s adjacency, so
    * a pre-warmed [[edgeProj]] only serves as their scan source.
    */
  private[graft] def edgeProj(edges: DataFrame, srcCol: String = "src",
                              dstCol: String = "dst"): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))

  private[graft] def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()

  /** Persist `df` unless an identical (canonicalized) plan is already
    * cached; the flag records who owns the entry — `release` unpersists
    * only frames THIS call persisted, so a caller-owned shared context
    * survives the operator.
    */
  private def acquire(df: DataFrame): (DataFrame, Boolean) = {
    val pre = graft.core.Caches.isCached(df)
    (graft.core.Caches.cached(df), pre)
  }

  private def release(df: DataFrame, callerOwned: Boolean): Unit =
    if (!callerOwned) df.unpersist(blocking = false)

  /** One hash partition of a [[walkGraph]] adjacency, in compressed
    * sparse row form over dense local indices.
    *
    * Local indices follow the id order, and slot j of the message block
    * this partition sends to partition q is the j-th smallest distinct
    * destination in q. The receiving partition lists the same nodes in
    * the same order (its own local order, restricted to the nodes with
    * an in-edge from this partition), so sender and receiver agree on
    * slots without exchanging ids, and a recomputed partition lays out
    * identically. Out-edges are sorted by (destination, weight), which
    * fixes every floating-point sum order for a given partition count.
    */
  private final class WalkBlock(
      val part: Int,
      val ids: Array[Any],
      val seeds: java.util.BitSet,
      val outTotal: Array[Double],  // Σ out-weight (out-degree unweighted)
      val outStart: Array[Int],     // CSR offsets, one per node plus one
      val outPart: Array[Int],      // edge → destination partition
      val outSlot: Array[Int],      // edge → slot in that partition's block
      val outW: Array[Double],
      val sendSlots: Array[Int],    // destination partition → block length
      val recvIdx: Array[Array[Int]]) // source partition → slot → local index
    extends Serializable

  /** Per-walk arithmetic for [[sumWalk]], given the seed count. Seeds
    * start at `start` and every other node at 0 (and inactive). Each
    * round, every active node u sends `message(r(u), w, W(u))` along its
    * out-edges (weight w, out-total W); a node's new value is
    * `update(Σ received, isSeed)`, and it stays active when it is a seed
    * or received a message. `output` shapes the (id, _v) frame of the
    * active nodes into the operator's result.
    */
  private final case class Walk(
      start: Double,
      message: (Double, Double, Double) => Double,
      update: (Double, Boolean) => Double,
      output: DataFrame => DataFrame)

  // build-shuffle record tags; a tag >= 0 is an in-edge from that partition
  private final val OutEdge = -1
  private final val Mention = -2
  private final val SeedTag = -3

  /** Build-shuffle records for one destination partition, column-wise:
    * the shuffle moves one object per (input, destination) partition
    * pair instead of one per record. Record i is node(i)'s out-edge to
    * other(i) with weight w(i) when tag(i) == [[OutEdge]], else a tag.
    */
  private final class Recs(val node: Array[Any], val other: Array[Any],
                           val w: Array[Double], val tag: Array[Int])
    extends Serializable

  /** Node-id order shared by every partition (nulls first). */
  private val idOrder: Ordering[Any] = (a: Any, b: Any) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The walk adjacency of a (src, dst, w: double) edge frame, built by
    * ONE shuffle keyed by node id: every node lands in the partition
    * `HashPartitioner(spark.sql.shuffle.partitions)` gives its id, with
    * its out-edges and out-total folded in. `seeds` (one column of ids)
    * marks seed nodes and adds them as nodes; without it every node is
    * a seed. The blocks are persisted, and the one job that materializes
    * them also returns the seed count.
    *
    * Null ids follow SQL equi-join semantics: a null source sends
    * nothing, a null destination receives nothing but still counts
    * toward its source's out-total, and null is a node of its own.
    * Ids must be of an ordered, hashable type (numeric, string, date);
    * binary and nested ids are refused.
    */
  private def walkGraph(edges: DataFrame, seeds: Option[DataFrame])
  : (RDD[WalkBlock], Long) = {
    val idType = edges.schema("src").dataType
    require(idType match {
      case _: NumericType | _: StringType | DateType | TimestampType |
           BooleanType => true
      case _ => false
    }, s"walk node ids must be atomic and ordered, not $idType")
    val part = new HashPartitioner(
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val edgeRecs = edges.select(col("src"), col("dst"), col("w")).rdd
      .flatMap { r =>
        val (s, d, w) = (r.get(0), r.get(1), r.getDouble(2))
        if (s == null) Iterator((s, null, 0.0, Mention), (d, null, 0.0, Mention))
        else if (d == null) Iterator((s, null, w, OutEdge), (d, null, 0.0, Mention))
        else Iterator((s, d, w, OutEdge), (d, null, 0.0, part.getPartition(s)))
      }
    val recs = seeds.fold(edgeRecs)(sd =>
      edgeRecs.union(sd.select(col(sd.columns.head).cast(idType)).rdd
        .map[(Any, Any, Double, Int)](r => (r.get(0), null, 0.0, SeedTag))))
    val chunks = recs.mapPartitions { it =>
      val cols = Array.fill(part.numPartitions)((Array.newBuilder[Any],
        Array.newBuilder[Any], Array.newBuilder[Double], Array.newBuilder[Int]))
      it.foreach { case (k, o, w, tag) =>
        val c = cols(part.getPartition(k))
        c._1 += k; c._2 += o; c._3 += w; c._4 += tag
      }
      cols.indices.iterator.map { q =>
        val c = cols(q)
        q -> new Recs(c._1.result(), c._2.result(), c._3.result(), c._4.result())
      }
    }
    val allSeeds = seeds.isEmpty
    val adj = chunks.partitionBy(part)
      .mapPartitionsWithIndex((p, it) =>
        Iterator(buildBlock(p, it.map(_._2), part, allSeeds)),
        preservesPartitioning = true)
      .persist()
    val nSeeds = adj.map(_.seeds.cardinality.toLong).reduce(_ + _)
    (adj, nSeeds)
  }

  private def buildBlock(p: Int, chunks: Iterator[Recs],
                         part: HashPartitioner, allSeeds: Boolean)
  : WalkBlock = {
    final class Acc {
      val outs = mutable.ArrayBuffer.empty[(Any, Double)]
      val from = mutable.BitSet.empty
      var seed = allSeeds
    }
    // java.util.HashMap: plain equals/hashCode on boxed ids, not Scala's
    // cooperative numeric equality
    val acc = new java.util.HashMap[Any, Acc]
    chunks.foreach { c =>
      for (i <- c.node.indices) {
        val a = acc.computeIfAbsent(c.node(i), _ => new Acc)
        val tag = c.tag(i)
        if (tag == OutEdge) a.outs += (c.other(i) -> c.w(i))
        else if (tag == SeedTag) a.seed = true
        else if (tag >= 0) a.from += tag
      }
    }
    val ids = acc.keySet.asScala.toArray[Any].sorted(idOrder)
    val nodes = ids.map(acc.get)
    val outs = nodes.map(_.outs.toArray.sorted(
      Ordering.Tuple2(idOrder, Ordering.Double.TotalOrdering)))
    val edges = outs.map(_.filter(_._1 != null))
    val flat = edges.flatten
    val outPart = flat.map(e => part.getPartition(e._1))
    // slots: per destination partition, the distinct destinations in id
    // order — one pass over the edges sorted by destination
    val outSlot = new Array[Int](flat.length)
    val sendSlots = new Array[Int](part.numPartitions)
    flat.indices.sortBy(flat(_)._1)(idOrder).foldLeft(-1) { (prev, e) =>
      val q = outPart(e)
      if (prev < 0 || idOrder.compare(flat(prev)._1, flat(e)._1) != 0)
        sendSlots(q) += 1
      outSlot(e) = sendSlots(q) - 1
      e
    }
    val recv = Array.fill(part.numPartitions)(Array.newBuilder[Int])
    for (i <- nodes.indices; q <- nodes(i).from) recv(q) += i
    val seeds = new java.util.BitSet(ids.length)
    for (i <- nodes.indices if nodes(i).seed) seeds.set(i)
    new WalkBlock(p, ids, seeds,
      outs.map(_.iterator.map(_._2).sum),
      edges.scanLeft(0)(_ + _.length),
      outPart, outSlot, flat.map(_._2), sendSlots,
      recv.map(_.result()))
  }

  /** The fixed-iteration sum-of-messages kernel behind [[pageRank]],
    * [[pageRankWeighted]] and [[personalizedPageRank]].
    *
    * [[walkGraph]] builds and counts the adjacency in one job; then all
    * `iters` rounds are chained lazily over the cached blocks, with
    * per-partition state in primitive arrays whatever the id type. Each
    * round's only exchange is one message block per (source, destination)
    * partition pair, summed map-side, so the single
    * [[graft.core.Caches.materialized]] action at the end evaluates the
    * whole loop: the job count does not grow with `iters`, and no
    * round's state is ever materialized. The adjacency is released once
    * the result is cached.
    */
  private def sumWalk(edges: DataFrame, seeds: Option[DataFrame],
                      iters: Int)(walk: Long => Walk): DataFrame = {
    val (adj, nSeeds) = walkGraph(edges, seeds)
    val w = walk(nSeeds)
    val nParts = adj.getNumPartitions
    var state = adj.map { b =>
      val v = new Array[Double](b.ids.length)
      var i = b.seeds.nextSetBit(0)
      while (i >= 0) { v(i) = w.start; i = b.seeds.nextSetBit(i + 1) }
      (v, b.seeds)
    }
    for (_ <- 1 to iters) {
      val sent = adj.zipPartitions(state) { (bs, ss) =>
        val b = bs.next()
        val (v, active) = ss.next()
        val sums = b.sendSlots.map(new Array[Double](_))
        val got = b.sendSlots.map(new java.util.BitSet(_))
        var i = active.nextSetBit(0)
        while (i >= 0) {
          val t = b.outTotal(i)
          var e = b.outStart(i)
          while (e < b.outStart(i + 1)) {
            val q = b.outPart(e)
            // a zero out-total divides to SQL null: the edge reaches
            // its destination but adds nothing to the sum
            if (t != 0.0) sums(q)(b.outSlot(e)) += w.message(v(i), b.outW(e), t)
            got(q).set(b.outSlot(e))
            e += 1
          }
          i = active.nextSetBit(i + 1)
        }
        b.sendSlots.indices.iterator.filter(b.sendSlots(_) > 0)
          .map(q => q -> ((b.part, sums(q), got(q))))
      }.partitionBy(new HashPartitioner(nParts))
      state = adj.zipPartitions(sent) { (bs, ms) =>
        val b = bs.next()
        val sum = new Array[Double](b.ids.length)
        val active = b.seeds.clone().asInstanceOf[java.util.BitSet]
        ms.map(_._2).toArray.sortBy(_._1).foreach { case (p, vals, got) =>
          val idx = b.recvIdx(p)
          var j = got.nextSetBit(0)
          while (j >= 0) {
            sum(idx(j)) += vals(j)
            active.set(idx(j))
            j = got.nextSetBit(j + 1)
          }
        }
        val v = new Array[Double](b.ids.length)
        var i = active.nextSetBit(0)
        while (i >= 0) {
          v(i) = w.update(sum(i), b.seeds.get(i))
          i = active.nextSetBit(i + 1)
        }
        Iterator((v, active))
      }
    }
    val rows = adj.zipPartitions(state) { (bs, ss) =>
      val b = bs.next()
      val (v, active) = ss.next()
      Iterator.iterate(active.nextSetBit(0))(i => active.nextSetBit(i + 1))
        .takeWhile(_ >= 0).map(i => Row(b.ids(i), v(i)))
    }
    val out = graft.core.Caches.materialized(w.output(
      edges.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("id", edges.schema("src").dataType),
        StructField("_v", DoubleType, nullable = false))))))
    adj.unpersist(blocking = false)
    out
  }

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * Runs on [[sumWalk]] with every node a seed: r₀ = 1/N, each node u
    * sends r(u)/outdeg(u) along each out-edge (duplicate edges count
    * twice), and r' = (1−d)/N + d·Σ received, so in-degree-0 nodes keep
    * the teleport mass. The Spark jobs per call do not depend on
    * `iters`: one adjacency build (which also counts N), then the
    * result's materialization. Lineage grows linearly in `iters`, which
    * is why this takes a FIXED iteration count rather than a
    * convergence loop.
    *
    * Dangling mass (nodes with no OUT-edges) is dropped, the common
    * simplification; on a symmetrized edge list (undirected graphs)
    * there are no dangling nodes and ranks sum to 1.
    *
    * Returns (id, pr, pr_scaled = pr·N) as a materialized, persisted
    * frame the caller owns: pr for mass accounting, pr_scaled (mean
    * 1.0) as the display/threshold form — computed here because N is
    * already on hand, saving callers a recount.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst")
  : DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    sumWalk(edgeProj(edges, srcCol, dstCol).withColumn("w", lit(1.0)),
      None, iters) { n =>
      val teleport = (1.0 - damping) / n
      Walk(1.0 / n, (r, _, d) => r / d, (s, _) => teleport + damping * s,
        scaledRanks(n))
    }
  }

  private def scaledRanks(n: Long)(ranks: DataFrame): DataFrame =
    ranks.select(col("id"), col("_v").as("pr"),
      (col("_v") * lit(n.toDouble)).as("pr_scaled"))

  /** Edge-WEIGHTED PageRank: [[pageRank]] with transition probability
    * w/Σ_out w instead of 1/out-degree — on a co-engagement graph the
    * walk follows STRONG ties preferentially, which is what an
    * item-importance ranking over weighted affinity should do (the
    * unweighted variant treats a 40-user tie like a 3-user one).
    *
    * Each message is `(d·pr·w)/Σw`, the fixed left-associated chain an
    * unrolled SQL oracle computes too, so the two match to float order
    * ([[personalizedPageRank]]'s trick). Same kernel, job count, and
    * (id, pr, pr_scaled) contract as [[pageRank]]; dangling mass
    * likewise dropped.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int,
                       damping: Double = 0.85, srcCol: String = "src",
                       dstCol: String = "dst", weightCol: String = "w")
  : DataFrame = {
    require(iters >= 1, "pageRankWeighted needs at least one iteration")
    sumWalk(weightedEdges(edges, srcCol, dstCol, weightCol), None,
      iters) { n =>
      val teleport = (1.0 - damping) / n
      Walk(1.0 / n, (r, w, t) => damping * r * w / t,
        (s, _) => teleport + s, scaledRanks(n))
    }
  }

  /** (src, dst, w: double); a null weight counts as 0. */
  private def weightedEdges(edges: DataFrame, srcCol: String,
                            dstCol: String, weightCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      coalesce(col(weightCol).cast("double"), lit(0.0)).as("w"))

  /** Degree assortativity of an undirected CANONICAL pair list
    * (aCol < bCol): the Pearson correlation of endpoint degrees over
    * the directed edge set (each edge counted both ways — the standard
    * Newman 2002 formulation). Disassortative (< 0) means hubs attach
    * to low-degree nodes (typical of affinity/bipartite-projection
    * graphs); assortative (> 0) means hubs cluster.
    *
    * One degree aggregate (node-keyed), two joins to decorate edge
    * endpoints, one moment aggregate — corr over exact integer degree
    * pairs, so engines differ only in sum order.
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("_d"))
    sym
      .join(deg.select(col("id").as("a"), col("_d").as("_da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("_d").as("_db")), Seq("b"))
      .agg(count(lit(1)).as("n_directed_edges"),
        corr(col("_da").cast("double"), col("_db").cast("double"))
          .as("assortativity"))
  }

  /** Personalized PageRank (random walk with restart) over a WEIGHTED
    * directed edge list — the Pixie/RWR recommender primitive: walk
    * mass restarts at the `seeds` (probability `alpha` per step) instead
    * of teleporting uniformly, so scores rank nodes by proximity to the
    * seed set. On the bipartite user→item interaction graph
    * (symmetrized, count-weighted) the item scores after a few
    * iterations are "items reachable through co-engagement" — the
    * graph-walk sibling of item-CF's cosine (q129).
    *
    * Differences from [[pageRank]], each deliberate:
    *   - restart mass `alpha/|seeds|` goes ONLY to seeds — r₀ likewise
    *     (mass 1 split over seeds);
    *   - only REACHED nodes are active and returned (unreached = exact
    *     0): a node is reached in a round when it is a seed or received
    *     an edge from a node reached in the round before;
    *   - edges carry a weight column (co-engagement count): transition
    *     probability = w / Σ_out w.
    * Walk mass exiting a dangling node is dropped ([[pageRank]]'s
    * convention); a symmetrized interaction graph has none. Same
    * [[sumWalk]] kernel and job count as [[pageRank]], with the seeds
    * folded into the adjacency build.
    *
    * Returns (id, ppr) for reached nodes; Σ ppr ≤ 1 (= 1 when no
    * dangling mass drops). Scores are engine-exact modulo float-sum
    * ordering: contributions are the identical left-associated
    * `(1−α)·r·w / W` chain in any engine, so a 4–6 dp round compares
    * cleanly against a SQL oracle's unrolled iterations.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           alpha: Double = 0.15, srcCol: String = "src",
                           dstCol: String = "dst", weightCol: String = "w")
  : DataFrame = {
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    sumWalk(weightedEdges(edges, srcCol, dstCol, weightCol), Some(seeds),
      iters) { nSeeds =>
      val (keep, restart) = (1.0 - alpha, alpha / nSeeds)
      Walk(1.0 / nSeeds, (r, w, t) => keep * r * w / t,
        (s, seed) => if (seed) s + restart else s,
        _.select(col("id"), col("_v").as("ppr")))
    }
  }

  /** Synchronous label propagation over a directed edge list: start
    * every node at its own id, then `iters` rounds of "adopt the most
    * common label among in-neighbors" with a DETERMINISTIC tie-break
    * (count desc, label asc) — community detection's cheapest member,
    * and unlike [[Dedup.duplicateClusters]]' min-label closure it
    * respects local density (a node bridging two cliques joins the
    * bigger one, not whichever has the smaller id).
    *
    * Per round: one edge⋈label join (high-cardinality node keys), a
    * (node, label) count with map-side combine, and the argmax as a
    * DECLARATIVE `min(struct(-count, label))` — lexicographic struct
    * min over a negated count IS "count desc, label asc", type-generic
    * in the label (only the bigint count is negated, so string node
    * ids work exactly as in [[pageRank]]/[[hits]]), and unlike the
    * k-bounded UDAF it stays inside whole-stage codegen: the
    * ObjectHashAggregate + per-row encoder round-trip of the k-general
    * aggregator measured ~5× slower on the sf0.1 co-engagement graph
    * for the k=1 case this operator needs. Edge/node frames are cached
    * across rounds, then released once the final labels are
    * materialized (same lifecycle as [[pageRank]]). Fixed iterations
    * for the same bounded-lineage reason as [[pageRank]]. Nodes with
    * no in-edges keep their label.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
                       srcCol: String = "src", dstCol: String = "dst")
  : DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val (e, eOwn) = acquire(edgeProj(edges, srcCol, dstCol))
    val (nodes, nOwn) = acquire(nodesOf(e))
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val counts = e.join(labels, col("src") === col("id"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("_c"))
      // min over (-count, label) IS "count desc, label asc", and since
      // the negated field is the count (always a bigint) — not the
      // label — the tie-break stays type-generic: string node ids work
      // here exactly as they do in pageRank/hits
      val adopted = counts.groupBy(col("dst"))
        .agg(min(struct((-col("_c")).as("_nc"),
          col("label").as("_l"))).as("_m"))
        .select(col("dst").as("id"), col("_m._l").as("label"))
      labels = nodes.join(adopted, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("label"))
    }
    val out = graft.core.Caches.materialized(labels)
    release(e, eOwn)
    release(nodes, nOwn)
    out
  }

  /** HITS (Kleinberg's hubs-and-authorities) over a DIRECTED edge list
    * — on the bipartite user→item engagement graph, hubs score
    * curator-users and authorities score consensus items: an item is
    * authoritative when engaged by good hubs, a user is a good hub when
    * they engage authoritative items. The mutual recursion the power
    * iteration solves.
    *
    * Per iteration (all shuffles on the high-cardinality node id):
    *   1. authority step: a(v) = Σ_{u→v} h(u) (edge⋈hub join, per-dst
    *      sum with map-side combine);
    *   2. hub step: h(u) = Σ_{u→v} a(v).
    * Normalization happens ONCE at the end, not per half-step: scalar
    * factors commute through the linear maps (Eᵀ(a/s) = (Eᵀa)/s), so
    * end-of-loop L1 normalization yields the identical vectors — and
    * a mid-loop normalizer is a broadcast subtree that re-executes its
    * whole upstream lineage every time it's referenced, which made the
    * per-step-normalized formulation ~2^iters-fold redundant (measured
    * 19 s cold at sf0.1 for iters=2; this form ~5 s). L1 (not the
    * textbook L2) keeps the normalizer a plain sum — engine-exact up
    * to float-order, no sqrt — and scores sum to 1. Raw sums stay in
    * double range for any sane iteration count (magnitudes ~
    * degreeⁱᵗᵉʳˢ). Nodes with no in-edges have authority 0, no
    * out-edges hub 0 (the full-outer join of the two final vectors
    * restores them; a bipartite graph has only such nodes — and their
    * union IS the node set, so no separate nodesOf scan is needed).
    *
    * SINGLE-JOB shape (round 11): the r10 bench showed this operator
    * drifting 1.37→1.83 s at sf0.1 on a 5,500-node graph — all fixed
    * per-job scheduling latency, not data (three eager materialize
    * counts, a nodesOf distinct-union, two totals jobs ≈ 7 jobs).
    * Now: (1) the uniform h₀=1 start folds the first authority step
    * into a plain in-degree aggregate (no initial distinct, one less
    * join); (2) the final a/h frames are persisted LAZILY — their
    * in-memory blocks populate inside the one output job and serve
    * every reference (both L1 totals and the output join) without
    * betting on exchange reuse; (3) the output, totals, and full-outer
    * node restoration collapse into ONE materialized plan. At 1000
    * executors the job-count cut is pure win (driver round-trips);
    * the per-iteration shuffle shape is unchanged.
    *
    * Fixed iteration count, linear lineage, edge frame cached across
    * rounds and released after the result materializes — the
    * [[pageRank]] lifecycle.
    *
    * Returns (id, hub, authority), one row per node.
    */
  def hits(edges: DataFrame, iters: Int, srcCol: String = "src",
           dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val (e, eOwn) = acquire(edgeProj(edges, srcCol, dstCol))
    // h₀ = 1 for every source, so authority step 1 is exactly in-degree
    var auths = e.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast("double").as("_a"))
    var hubs: DataFrame = null
    for (i <- 1 to iters) {
      hubs = e.join(auths.select(col("id").as("dst"), col("_a")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("_a")).as("_h"))
      if (i < iters)
        auths = e.join(hubs.select(col("id").as("src"), col("_h")),
            Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("_h")).as("_a"))
    }
    // lazy persists: populated once inside the single output job below,
    // shared by the totals aggregates AND the full-outer join
    val aFin = graft.core.Caches.cached(auths)
    val hFin = graft.core.Caches.cached(hubs)
    val aTot = aFin.agg(sum(col("_a")).as("_at"))
    val hTot = hFin.agg(sum(col("_h")).as("_ht"))
    val out = graft.core.Caches.materializedThenRelease(
      aFin.join(hFin, Seq("id"), "full_outer")
        .join(broadcast(aTot)).join(broadcast(hTot))
        .select(col("id"),
          (coalesce(col("_h"), lit(0.0)) / col("_ht")).as("hub"),
          (coalesce(col("_a"), lit(0.0)) / col("_at")).as("authority")),
      aFin, hFin)
    release(e, eOwn)
    out
  }

  /** Global triangle count over a CANONICAL pair list (every undirected
    * edge once, `aCol < bCol`) — the clustering-coefficient numerator
    * and a standard graph benchmark. The a<b<c orientation counts each
    * triangle exactly once and, because wedges are built only from the
    * ordered edge list, the wedge join's cost is Σ out-degree² under
    * the degree-reducing canonical order — the classic mitigation for
    * hub nodes (a hub's edges mostly point INTO it from smaller ids,
    * capping its out-fan). The pair list is cached while the (1-row)
    * count materializes, then released.
    *
    * The orientation bounds the CONSTANT, not the growth law: if the
    * edge list densifies with corpus (replicated facts over a fixed
    * item vocabulary), Σ out-deg² still grows quadratically. The
    * scale-safe input contract is therefore a SUPPORT THRESHOLD that
    * scales with corpus on the edge generator — see
    * [[graft.operators.Recommend.basketPairs]]'s `rowsPerSupport`,
    * which q96 uses — keeping the graph's density, and this operator's
    * wedge stream, roughly constant as the corpus replicates.
    */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b")).persist()
    val wedges = e.join(e.select(col("a").as("b"), col("b").as("c")),
      Seq("b"))
    val out = graft.core.Caches.materialized(
      wedges.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles")))
    e.unpersist(blocking = false)
    out
  }
  /** Adamic–Adar link prediction over an undirected pair list: for
    * every NON-adjacent pair (a, b) with at least one common neighbor
    * w, score = Σ_w 1/ln(deg(w)) — high-degree shared neighbors carry
    * less evidence than rare ones. The classic "who should be
    * connected next" candidate generator (friend/item suggestion) next
    * to [[triangleCount]]'s closed wedges: AA scores the OPEN ones.
    *
    * SCALE SHAPE: one symmetrized wedge self-join keyed on the shared
    * neighbor (Σ deg² rows — the same stream [[triangleCount]] walks,
    * bounded by the edge generator's corpus-scaled support threshold),
    * a pair-keyed sum, one LEFT-ANTI join against the existing edges,
    * and a k-bounded global TakeOrderedAndProject. Common neighbors
    * always have deg ≥ 2, so ln(deg) never divides by zero.
    *
    * Returns (a, b, n_common, score) — top `k` by (rounded score desc,
    * a, b), the deterministic cross-engine cut.
    */
  def adamicAdar(pairs: DataFrame, aCol: String, bCol: String, k: Int)
  : DataFrame = {
    val (sym, symOwned) = acquire(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .unionByName(pairs.select(col(bCol).as("a"), col(aCol).as("b"))))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("_d"))
    val wedges = sym.select(col("a").as("_w"), col("b").as("a"))
      .join(sym.select(col("a").as("_w"), col("b").as("b")), Seq("_w"))
      .filter(col("a") < col("b"))
    val scored = wedges
      .join(deg.select(col("a").as("_w"), col("_d")), Seq("_w"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("_d"))) + lit(1e-9), 4).as("score"))
      .join(pairs.select(col(aCol).as("a"), col(bCol).as("b")),
        Seq("a", "b"), "left_anti")
    val out = graft.core.Caches.materialized(
      scored.orderBy(col("score").desc, col("a"), col("b")).limit(k))
    release(sym, symOwned)
    out
  }

  /** Local clustering coefficient per node: 2·tri(v) / (d·(d−1)) for
    * nodes with degree ≥ 2 — how close each node's neighborhood is to
    * a clique. The per-node refinement of [[triangleCount]]'s global
    * total (spam-ring shapes score high, broadcast hubs score low).
    *
    * SCALE SHAPE: the identical ordered (a<b<c) wedge join as
    * [[triangleCount]] (each triangle enumerated once), then one
    * 3-way vertex explode collapsed onto the |V|-bounded node frame
    * and a broadcast-sized degree join. No per-node neighborhood
    * materialization — the coefficient falls out of counts.
    *
    * Returns (id, degree, n_tri, coeff) ordered by id.
    */
  def localClustering(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val (e, eOwned) = acquire(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    val tri = e.join(e.select(col("a").as("b"), col("b").as("c")),
        Seq("b"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val triPerNode = tri.select(col("a").as("id"))
      .unionByName(tri.select(col("b").as("id")))
      .unionByName(tri.select(col("c").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val out = graft.core.Caches.materialized(
      deg.filter(col("degree") >= 2)
        .join(triPerNode, Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("degree") * (col("degree") - lit(1))) + lit(1e-9), 4)
            .as("coeff"))
        .orderBy(col("id")))
    release(e, eOwned)
    out
  }

  /** Neighbor-set Jaccard similarity per EXISTING edge: common = #
    * shared neighbors of (a, b); union = deg(a) + deg(b) − common − 2
    * (each endpoint removed from the other's neighborhood); J =
    * common/union, 0 when the union is empty. The structural-
    * similarity edge weight (SCAN-style) — AA scores open pairs,
    * this scores the closed ones.
    *
    * Same Σ deg² wedge stream as [[adamicAdar]], inner-joined back to
    * the pair list; edges with NO shared neighbor surface with
    * n_common = 0 via the left join. Returns (a, b, n_common,
    * jaccard) ordered by (a, b).
    */
  def neighborJaccard(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val (sym, symOwned) = acquire(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .unionByName(pairs.select(col(bCol).as("a"), col(aCol).as("b"))))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("_d"))
    val common = sym.select(col("a").as("_w"), col("b").as("a"))
      .join(sym.select(col("a").as("_w"), col("b").as("b")), Seq("_w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    val out = graft.core.Caches.materialized(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .join(common, Seq("a", "b"), "left")
        .join(deg.select(col("a"), col("_d").as("_da")), Seq("a"))
        .join(deg.select(col("a").as("b"), col("_d").as("_db")), Seq("b"))
        .select(col("a"), col("b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          round(
            when(col("_da") + col("_db")
                - coalesce(col("n_common"), lit(0L)) - lit(2) <= 0, 0.0)
              .otherwise(coalesce(col("n_common"), lit(0L))
                / (col("_da") + col("_db")
                   - coalesce(col("n_common"), lit(0L)) - lit(2)))
              + lit(1e-9), 4).as("jaccard"))
        .orderBy(col("a"), col("b")))
    release(sym, symOwned)
    out
  }

  /** k-core of the undirected graph: iteratively peel nodes whose
    * degree within the surviving subgraph is < k until nothing changes;
    * returns (id, core_degree) for the members — the standard
    * "dense-enough neighborhood" filter (spam rings, engaged-community
    * cuts) next to [[triangleCount]]'s local density.
    *
    * SCALE SHAPE: each round is two node-keyed semi-joins of the edge
    * list against the surviving node set plus one count aggregate —
    * all keyed on high-cardinality node ids. The fixpoint check rides
    * the SAME count() that sizes the round (one job per round, the
    * q112 discipline), and because the alive set shrinks monotonically,
    * equal consecutive sizes imply an identical set. Each round's
    * |alive| frame is cached and its predecessor released, so executor
    * storage holds one round and lineage reads from the cache. Rounds
    * are bounded by the peel depth (≤ graph degeneracy ordering), 6 at
    * the oracle SF. At the fixpoint the last aggregate's count IS the
    * in-core degree, so membership and degree come out of one frame.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int)
  : DataFrame = {
    val (sym, symOwned) = acquire(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .unionByName(pairs.select(col(bCol).as("a"), col(aCol).as("b"))))
    var alive = graft.core.Caches.cached(
      sym.select(col("a").as("id")).distinct()
        .select(col("id"), lit(0L).as("core_degree")))
    var n = alive.count()
    var out: DataFrame = alive
    var done = n == 0
    while (!done) {
      val next = graft.core.Caches.cached(sym
        .join(alive.select(col("id").as("a")), Seq("a"))
        .join(alive.select(col("id").as("b")), Seq("b"))
        .groupBy(col("a")).agg(count(lit(1)).as("core_degree"))
        .filter(col("core_degree") >= k)
        .select(col("a").as("id"), col("core_degree")))
      val m = next.count()
      alive.unpersist(blocking = false)
      if (m == n || m == 0) { out = next; done = true }
      else { alive = next; n = m }
    }
    release(sym, symOwned)
    out
  }

  /** Multi-source BFS: minimum hop distance from ANY seed node, capped
    * at `maxHops` — reachability ("within k hops of a flagged item"),
    * expansion sets for candidate generation, blast-radius audits.
    *
    * The loop is FRONTIER-driven: each round joins only the newly
    * discovered nodes (not the full label set) against the edge list,
    * anti-joins out already-labeled nodes, and stops early when the
    * frontier empties — so per-round work is |frontier-adjacent edges|,
    * the textbook distributed-BFS shape. Both the label set and the
    * frontier are eagerly truncated each round ([[Dedup.truncated]]'s
    * localCheckpoint, or fault-tolerant `checkpoint()` when
    * `checkpointDir` is set) and the superseded round's blocks are
    * released, mirroring the connected-components lifecycle — lineage
    * stays flat however deep the search runs.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              checkpointDir: Option[String] = None): DataFrame = {
    val (e, eOwn) = acquire(edgeProj(edges))
    var labels = Dedup.truncated(
      seeds.select(col("id")).distinct().withColumn("hop", lit(0L)),
      checkpointDir)
    var frontier = labels
    var prevLabels: DataFrame = null
    var h = 1
    var done = false
    while (!done && h <= maxHops) {
      val next = Dedup.truncated(
        e.join(frontier.select(col("id").as("src")), Seq("src"))
          .select(col("dst").as("id")).distinct()
          .join(labels.select(col("id")), Seq("id"), "left_anti")
          .withColumn("hop", lit(h.toLong)),
        checkpointDir)
      done = next.isEmpty
      if (!done) {
        val merged = Dedup.truncated(labels.union(next), checkpointDir)
        // merged and next are materialized; the superseded label set and
        // the consumed frontier are dead — release their blocks
        org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoint(labels)
        if (prevLabels != null)
          org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoint(prevLabels)
        prevLabels = frontier
        labels = merged
        frontier = next
      }
      h += 1
    }
    release(e, eOwn)
    // the merged label set is a checkpoint COPY — the last frontier's
    // blocks are dead unless no round ever ran (labels IS the seed
    // frontier then)
    if (!(frontier eq labels))
      org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoint(frontier)
    labels
  }
}
