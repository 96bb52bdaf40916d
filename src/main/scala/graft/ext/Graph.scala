package graft.ext

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over plain (src, dst) edge DataFrames. Every iterative
  * loop — the three walks, [[labelPropagation]], [[hits]], [[bfsHops]],
  * [[kCore]] and the connected components behind
  * [[Dedup.duplicateClusters]] — is a vertex program on one kernel,
  * [[superstep]], over [[walkGraph]]'s CSR blocks. The neighbourhood
  * statistics (triangles, Adamic–Adar, clustering, Jaccard,
  * assortativity) are plain DataFrame plans.
  */
object Graph {

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

  /** The adjacency of a (src, dst, w: double) edge frame, built by ONE
    * shuffle keyed by node id: every node lands in the partition
    * `HashPartitioner(spark.sql.shuffle.partitions)` gives its id, with
    * its out-edges and out-total folded in. Every src and dst is a node.
    * `seeds` (one column of ids) marks seed nodes and adds them as
    * nodes; without it every node is a seed. The blocks are persisted
    * lazily: the first job that reads them caches them.
    *
    * Two edge frames over the same node set (an edge list and its
    * reverse) get identical local indices, so one state array serves
    * both adjacencies.
    *
    * Null ids follow SQL equi-join semantics: a null source sends
    * nothing, a null destination receives nothing but still counts
    * toward its source's out-total, and null is a node of its own.
    * Ids must be of an ordered, hashable type (numeric, string, date);
    * binary and nested ids are refused.
    */
  private def walkGraph(edges: DataFrame, seeds: Option[DataFrame] = None)
  : RDD[WalkBlock] = {
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
    chunks.partitionBy(part)
      .mapPartitionsWithIndex((p, it) =>
        Iterator(buildBlock(p, it.map(_._2), part, allSeeds)),
        preservesPartitioning = true)
      .persist()
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

  /** How a round folds the messages bound for one node: `alloc(n)` is a
    * block of n empty slots, `add` folds a message into a slot, and
    * `merge` folds slot j of a received block into slot i.
    */
  private abstract class Combiner[M, B] extends Serializable {
    def alloc(n: Int): B
    def add(b: B, slot: Int, m: M): Unit
    def merge(to: B, i: Int, from: B, j: Int): Unit
  }

  private object SumOf extends Combiner[Double, Array[Double]] {
    def alloc(n: Int): Array[Double] = new Array[Double](n)
    def add(b: Array[Double], slot: Int, m: Double): Unit = b(slot) += m
    def merge(to: Array[Double], i: Int, from: Array[Double], j: Int): Unit =
      to(i) += from(j)
  }

  /** The least message by [[idOrder]]. An empty slot is null, so
    * messages must not be.
    */
  private object MinOf extends Combiner[Any, Array[Any]] {
    def alloc(n: Int): Array[Any] = new Array[Any](n)
    def add(b: Array[Any], slot: Int, m: Any): Unit = b(slot) = least(b(slot), m)
    def merge(to: Array[Any], i: Int, from: Array[Any], j: Int): Unit =
      to(i) = least(to(i), from(j))
  }

  /** The lesser label by [[idOrder]], where null is "no label yet". */
  private def least(a: Any, b: Any): Any =
    if (a == null || (b != null && idOrder.lt(b, a))) b else a

  /** A count per distinct message (label propagation's vote). */
  private object Tally
    extends Combiner[Any, Array[java.util.HashMap[Any, java.lang.Long]]] {
    private type Votes = java.util.HashMap[Any, java.lang.Long]
    def alloc(n: Int): Array[Votes] = new Array[Votes](n)
    private def vote(b: Array[Votes], i: Int, m: Any, c: java.lang.Long): Unit = {
      if (b(i) == null) b(i) = new Votes
      b(i).merge(m, c, (x: java.lang.Long, y: java.lang.Long) =>
        java.lang.Long.valueOf(x.longValue + y.longValue))
    }
    def add(b: Array[Votes], slot: Int, m: Any): Unit = vote(b, slot, m, 1L)
    def merge(to: Array[Votes], i: Int, from: Array[Votes], j: Int): Unit =
      from(j).forEach((m, c) => vote(to, i, m, c))
  }

  /** One round of a vertex program over the blocks of `adj`, holding
    * one state `S` per block.
    *
    * Every node i in `senders(s)` sends `message(b, s, i, e)` along each
    * of its out-edges e. `c` folds the messages per destination slot
    * map-side, so the round's only exchange is one block per (source,
    * destination) partition pair; each block also ships its state to
    * itself, so a round reads the previous round's exchange and nothing
    * older. The receiver merges the blocks in source-partition order —
    * every fold order is fixed for a given partition count — and
    * `update(b, s, in, got)` gives its new state, `got` marking the
    * nodes that received a message.
    */
  private def superstep[S: ClassTag, M, B: ClassTag](
      adj: RDD[WalkBlock], state: RDD[S], c: Combiner[M, B])(
      senders: S => java.util.BitSet,
      message: (WalkBlock, S, Int, Int) => M,
      update: (WalkBlock, S, B, java.util.BitSet) => S): RDD[S] = {
    val sent = adj.zipPartitions(state) { (bs, ss) =>
      val (b, s) = (bs.next(), ss.next())
      val blocks = b.sendSlots.map(c.alloc)
      val got = b.sendSlots.map(new java.util.BitSet(_))
      val from = senders(s)
      var i = from.nextSetBit(0)
      while (i >= 0) {
        var e = b.outStart(i)
        while (e < b.outStart(i + 1)) {
          val q = b.outPart(e)
          c.add(blocks(q), b.outSlot(e), message(b, s, i, e))
          got(q).set(b.outSlot(e))
          e += 1
        }
        i = from.nextSetBit(i + 1)
      }
      Iterator(b.part -> Left(s)) ++
        b.sendSlots.indices.iterator.filter(b.sendSlots(_) > 0)
          .map(q => q -> Right((b.part, blocks(q), got(q))))
    }.partitionBy(new HashPartitioner(adj.getNumPartitions))
    adj.zipPartitions(sent) { (bs, ms) =>
      val b = bs.next()
      val (old, blocks) = ms.map(_._2).toArray
        .partitionMap[S, (Int, B, java.util.BitSet)](identity)
      val in = c.alloc(b.ids.length)
      val got = new java.util.BitSet(b.ids.length)
      blocks.sortBy(_._1).foreach { case (p, blk, g) =>
        val idx = b.recvIdx(p)
        var j = g.nextSetBit(0)
        while (j >= 0) {
          c.merge(in, idx(j), blk, j)
          got.set(idx(j))
          j = g.nextSetBit(j + 1)
        }
      }
      Iterator(update(b, old.head, in, got))
    }
  }

  /** Runs `round` until `changed` sums to zero over the blocks, or for
    * `maxRounds` rounds. Each round's state is local-checkpointed (the
    * lineage cut of GraphX's Pregel), materialized by the one small
    * reduce that counts its changes, and its predecessor released; the
    * returned state keeps its checkpoint, which the result reads.
    */
  private def untilStable[S: ClassTag](state: RDD[S], maxRounds: Int)(
      round: RDD[S] => RDD[S])(changed: S => Int): RDD[S] = {
    var (s, rounds, moving) = (state, 0, true)
    while (moving && rounds < maxRounds) {
      val next = round(s).localCheckpoint()
      moving = next.map(changed(_).toLong).fold(0L)(_ + _) > 0
      s.unpersist(blocking = false)
      s = next
      rounds += 1
    }
    s
  }

  private def members(s: java.util.BitSet): Iterator[Int] =
    Iterator.iterate(s.nextSetBit(0))(i => s.nextSetBit(i + 1))
      .takeWhile(_ >= 0)

  private def allNodes(n: Int): java.util.BitSet = {
    val s = new java.util.BitSet(n)
    s.set(0, n)
    s
  }

  /** The (id, fields…) frame of a finished loop, `rows` turning each
    * block's final state into rows; ids are typed like `edges`' src.
    */
  private def frame[S: ClassTag](edges: DataFrame, adj: RDD[WalkBlock],
                                 state: RDD[S], fields: StructField*)(
      rows: (WalkBlock, S) => Iterator[Row]): DataFrame =
    edges.sparkSession.createDataFrame(
      adj.zipPartitions(state)((bs, ss) => rows(bs.next(), ss.next())),
      StructType(StructField("id", edges.schema("src").dataType) +: fields))

  /** Materializes a loop's result, then releases its adjacencies. */
  private def finish(out: DataFrame, adj: RDD[WalkBlock]*): DataFrame = {
    val p = graft.core.Caches.materialized(out)
    adj.foreach(_.unpersist(blocking = false))
    p
  }

  /** (src, dst, w = 1) over the named endpoint columns. */
  private def unitEdges(edges: DataFrame, srcCol: String = "src",
                        dstCol: String = "dst"): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      lit(1.0).as("w"))

  /** [[unitEdges]] in both directions: an undirected pair list. */
  private def bothWays(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame =
    unitEdges(pairs, aCol, bCol).union(unitEdges(pairs, bCol, aCol))

  /** The fixed-iteration sum-of-messages kernel behind [[pageRank]],
    * [[pageRankWeighted]] and [[personalizedPageRank]].
    *
    * One job builds the adjacency and counts its seeds; then all
    * `iters` rounds of [[superstep]] are chained lazily over the cached
    * blocks, with per-partition state in primitive arrays whatever the
    * id type, so the single [[graft.core.Caches.materialized]] action at
    * the end evaluates the whole loop: the job count does not grow with
    * `iters`, and no round's state is ever materialized.
    */
  private def sumWalk(edges: DataFrame, seeds: Option[DataFrame],
                      iters: Int)(walk: Long => Walk): DataFrame = {
    val adj = walkGraph(edges, seeds)
    val w = walk(adj.map(_.seeds.cardinality.toLong).reduce(_ + _))
    var state = adj.map { b =>
      val v = new Array[Double](b.ids.length)
      members(b.seeds).foreach(v(_) = w.start)
      (v, b.seeds)
    }
    for (_ <- 1 to iters)
      state = superstep(adj, state, SumOf)(_._2,
        (b, s, i, e) => {
          val t = b.outTotal(i)
          // a zero out-total divides to SQL null: the edge reaches its
          // destination but adds nothing to the sum
          if (t == 0.0) 0.0 else w.message(s._1(i), b.outW(e), t)
        },
        (b, _, sum, got) => {
          val active = b.seeds.clone().asInstanceOf[java.util.BitSet]
          active.or(got)
          val v = new Array[Double](b.ids.length)
          members(active).foreach(i => v(i) = w.update(sum(i), b.seeds.get(i)))
          (v, active)
        })
    finish(w.output(frame(edges, adj, state,
        StructField("_v", DoubleType, nullable = false)) { (b, s) =>
      members(s._2).map(i => Row(b.ids(i), s._1(i)))
    }), adj)
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
    sumWalk(unitEdges(edges, srcCol, dstCol), None, iters) { n =>
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
    * (count desc, then label asc by id order) — community detection's
    * cheapest member, and unlike [[Dedup.duplicateClusters]]' min-label
    * closure it respects local density (a node bridging two cliques
    * joins the bigger one, not whichever has the smaller id).
    *
    * Each round is one [[superstep]]: every node sends its label, the
    * votes are tallied per destination map-side, and the receiver
    * adopts the argmax. Duplicate edges vote with their multiplicity;
    * nodes with no in-edges keep their own label. Jobs per call do not
    * grow with `iters`: the result's materialization also builds the
    * adjacency.
    *
    * Returns (id, label), one row per node.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
                       srcCol: String = "src", dstCol: String = "dst")
  : DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val e = unitEdges(edges, srcCol, dstCol)
    val adj = walkGraph(e)
    var labels = adj.map(_.ids)
    for (_ <- 1 to iters)
      labels = superstep(adj, labels, Tally)(l => allNodes(l.length),
        (_, l, i, _) => l(i),
        (b, _, votes, _) => Array.tabulate[Any](b.ids.length) { i =>
          if (votes(i) == null) b.ids(i)
          else votes(i).asScala.reduce { (x, y) =>
            val byCount = java.lang.Long.compare(x._2, y._2)
            if (byCount < 0 || (byCount == 0 && idOrder.lt(y._1, x._1))) y
            else x
          }._1
        })
    finish(frame(e, adj, labels,
        StructField("label", e.schema("src").dataType)) { (b, l) =>
      b.ids.indices.iterator.map(i => Row(b.ids(i), l(i)))
    }, adj)
  }

  /** HITS (Kleinberg's hubs-and-authorities) over a DIRECTED edge list
    * — on the bipartite user→item engagement graph, hubs score
    * curator-users and authorities score consensus items: an item is
    * authoritative when engaged by good hubs, a user is a good hub when
    * they engage authoritative items. The mutual recursion the power
    * iteration solves.
    *
    * Per iteration, two [[superstep]] half-steps from h₀ = 1:
    *   1. authority step over the edges: a(v) = Σ_{u→v} h(u);
    *   2. hub step over the REVERSED edges: h(u) = Σ_{u→v} a(v).
    * [[walkGraph]] gives both adjacencies the same local indices, so
    * the half-steps hand one state array back and forth. Duplicate
    * edges count with their multiplicity. Normalization happens ONCE
    * at the end: scalar factors commute through the linear maps
    * (Eᵀ(a/s) = (Eᵀa)/s), so end-of-loop L1 normalization yields the
    * identical vectors. L1 (not the textbook L2) keeps the normalizer a
    * plain sum — engine-exact up to float order, no sqrt — and scores
    * sum to 1. Raw sums stay in double range for any sane iteration
    * count (magnitudes ~ degreeⁱᵗᵉʳˢ). Nodes with no in-edges have
    * authority 0, no out-edges hub 0.
    *
    * Jobs per call do not grow with `iters`: the result's
    * materialization (which also builds both adjacencies) and the
    * broadcast of the two L1 totals.
    *
    * Returns (id, hub, authority), one row per node.
    */
  def hits(edges: DataFrame, iters: Int, srcCol: String = "src",
           dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = unitEdges(edges, srcCol, dstCol)
    val (fwd, rev) = (walkGraph(e), walkGraph(unitEdges(e, "dst", "src")))
    def step(adj: RDD[WalkBlock])(v: RDD[Array[Double]]) =
      superstep(adj, v, SumOf)(x => allNodes(x.length),
        (_, x, i, _) => x(i), (_, _, sum, _) => sum)
    var h = fwd.map(b => Array.fill(b.ids.length)(1.0))
    var a = h
    for (_ <- 1 to iters) {
      a = step(fwd)(h)
      h = step(rev)(a)
    }
    val raw = frame(e, fwd, h.zipPartitions(a)((x, y) => Iterator((x.next(), y.next()))),
        StructField("_h", DoubleType, nullable = false),
        StructField("_a", DoubleType, nullable = false)) { case (b, (hv, av)) =>
      b.ids.indices.iterator.map(i => Row(b.ids(i), hv(i), av(i)))
    }
    val tot = raw.agg(sum(col("_h")).as("_ht"), sum(col("_a")).as("_at"))
    finish(raw.crossJoin(broadcast(tot))
      .select(col("id"), (col("_h") / col("_ht")).as("hub"),
        (col("_a") / col("_at")).as("authority")), fwd, rev)
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
    val sym = graft.core.Caches.cached(
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
    graft.core.Caches.materializedThenRelease(
      scored.orderBy(col("score").desc, col("a"), col("b")).limit(k), sym)
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
    val e = graft.core.Caches.cached(
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
    graft.core.Caches.materializedThenRelease(
      deg.filter(col("degree") >= 2)
        .join(triPerNode, Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("degree") * (col("degree") - lit(1))) + lit(1e-9), 4)
            .as("coeff"))
        .orderBy(col("id")), e)
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
    val sym = graft.core.Caches.cached(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .unionByName(pairs.select(col(bCol).as("a"), col(aCol).as("b"))))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("_d"))
    val common = sym.select(col("a").as("_w"), col("b").as("a"))
      .join(sym.select(col("a").as("_w"), col("b").as("b")), Seq("_w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    graft.core.Caches.materializedThenRelease(
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
        .orderBy(col("a"), col("b")), sym)
  }

  /** k-core of the undirected graph: iteratively peel nodes whose
    * degree within the surviving subgraph is < k until nothing changes;
    * returns (id, core_degree) for the members — the standard
    * "dense-enough neighborhood" filter (spam rings, engaged-community
    * cuts) next to [[triangleCount]]'s local density.
    *
    * Each round is one [[superstep]] over both directions of the pairs:
    * every surviving node sends 1, a node's in-core degree is the sum it
    * receives (duplicate pairs and self-loops count with their
    * multiplicity), and a node with degree under k (or under 1) is
    * peeled. [[untilStable]] runs rounds until none is peeled — the peel
    * depth, 6 at the oracle SF — with one small reduce per round. At the
    * fixpoint the last round's sums ARE the in-core degrees.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int)
  : DataFrame = {
    val e = bothWays(pairs, aCol, bCol)
    val adj = walkGraph(e)
    val floor = math.max(k, 1)
    // (alive, in-core degree, peeled this round)
    val start = adj.map(b =>
      (allNodes(b.ids.length), new Array[Double](b.ids.length), 0))
    val core = untilStable(start, Int.MaxValue)(
      superstep(adj, _, SumOf)(_._1, (_, _, _, _) => 1.0,
        (_, s, deg, _) => {
          val alive = s._1.clone().asInstanceOf[java.util.BitSet]
          members(s._1).filter(deg(_) < floor).foreach(alive.clear)
          (alive, deg, s._1.cardinality - alive.cardinality)
        }))(_._3)
    finish(frame(e, adj, core,
        StructField("core_degree", LongType, nullable = false)) { (b, s) =>
      members(s._1).map(i => Row(b.ids(i), s._2(i).toLong))
    }, adj)
  }

  /** Min-label propagation to a fixed point: node i starts at
    * `init(b)(i)` (null: no label yet); each round the nodes whose label
    * is new send `step(label)` along their out-edges, and every node
    * keeps the least label, by id order, that it holds or receives.
    * Stops when no label moves or after `maxRounds` rounds; the state
    * is (labels, moved this round).
    */
  private def minLabels(adj: RDD[WalkBlock], maxRounds: Int)(
      init: WalkBlock => Array[Any], step: Any => Any)
  : RDD[(Array[Any], java.util.BitSet)] = {
    val start = adj.map { b =>
      val l = init(b)
      val fresh = new java.util.BitSet(l.length)
      l.indices.filter(l(_) != null).foreach(fresh.set)
      (l, fresh)
    }
    untilStable(start, maxRounds)(
      superstep(adj, _, MinOf)(_._2, (_, s, i, _) => step(s._1(i)),
        (_, s, in, got) => {
          val l = s._1.clone()
          val moved = new java.util.BitSet(l.length)
          members(got).filter(i => l(i) == null || idOrder.lt(in(i), l(i)))
            .foreach { i =>
              l(i) = in(i)
              moved.set(i)
            }
          (l, moved)
        }))(_._2.cardinality)
  }

  /** Connected components of an undirected pair list: every node gets
    * the least id (by id order) of its component, by [[minLabels]] over
    * both directions of the pairs. Rounds are bounded by the
    * component diameter, not the corpus size, so no round bound is
    * needed. Returns (id, cluster_id) for every id in a pair.
    */
  private[ext] def components(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val e = bothWays(pairs, aCol, bCol)
    val adj = walkGraph(e)
    finish(frame(e, adj, minLabels(adj, Int.MaxValue)(_.ids, identity),
        StructField("cluster_id", e.schema("src").dataType)) { (b, s) =>
      b.ids.indices.iterator.map(i => Row(b.ids(i), s._1(i)))
    }, adj)
  }

  /** Multi-source BFS: minimum hop distance from ANY seed node (the `id`
    * column of `seeds`), capped at `maxHops` — reachability ("within k
    * hops of a flagged item"), expansion sets for candidate generation,
    * blast-radius audits.
    *
    * [[minLabels]] with the seeds at hop 0 and a message of hop + 1: each
    * round only the newly reached frontier sends, and the loop stops
    * early when the frontier empties — one small reduce per round.
    * Seeds that are not in the graph come back at hop 0.
    *
    * Returns (id, hop) for every reached node.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int)
  : DataFrame = {
    val e = unitEdges(edges)
    val adj = walkGraph(e, Some(seeds.select(col("id"))))
    val hops = minLabels(adj, maxHops)(
      b => Array.tabulate[Any](b.ids.length)(i =>
        if (b.seeds.get(i)) 0L else null),
      h => h.asInstanceOf[Long] + 1L)
    finish(frame(e, adj, hops,
        StructField("hop", LongType, nullable = false)) { (b, s) =>
      b.ids.indices.iterator.filter(s._1(_) != null)
        .map(i => Row(b.ids(i), s._1(i)))
    }, adj)
  }
}
