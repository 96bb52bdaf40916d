package graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

/** The "pair-generation budget" criterion — seventh member of the
  * scale audit family (VERDICT r14 #4). Every equi-join must generate
  * Σ_k cntL(k)·cntR(k) candidate row pairs before any residual filter
  * runs; for a well-shaped join that budget is ∝ corpus (FK joins have
  * constant fanout, banded LSH/posting joins keep per-key occupancy
  * bounded by construction or by a cap). The failure class this audit
  * owns is the join whose KEY SPACE is fixed while both sides track
  * the corpus — a derived bucket/band/posting column with constant
  * cardinality (the q34 legacy shape: 4 planes → 16 buckets forever),
  * where per-key counts grow ∝ n and the budget grows ∝ n². That class
  * is invisible to JoinSkewAuditSpec's ABSOLUTE hot-key thresholds at
  * test-corpus sizes (a 16th of 2000 rows is nowhere near 5M), and it
  * is exactly what made q34 a 290 s outlier at the 100× rung while
  * every probe rung stayed green.
  *
  * Funnel (family shape, rung pair chosen per JOIN — the r14 #3
  * flat-table fix applies here from birth):
  *   1. plan every `SparkEntry.queries` entry at sf0.001; collect
  *      equi-joins; match sites across rungs by key signature
  *      (JoinProbe.matchJoin);
  *   2. pick the join's probe pair: sf0.001→sf0.01 if either side's
  *      rows grow ≥ 3× there, else sf0.01→sf0.1 (tables like
  *      embeddings are flat on the first pair), else the join is
  *      corpus-independent — skip. Also skip joins with a
  *      broadcast-class side (flat on both pairs AND estimated bytes
  *      under spark.sql.autoBroadcastJoinThreshold): candidate
  *      generation there is bounded by the tiny side;
  *   3. probe the pair budget at the lo rung; budgets < 1000 pairs are
  *      ratio-noise — skip;
  *   4. probe at the hi rung and flag when the budget grew ≥ 3× FASTER
  *      than the faster-growing side's rows: linear-class joins show
  *      gBudget ≈ gRows, the fixed-key-space class shows
  *      gBudget ≈ gRows² (16 vs 4 on the late pair, 100 vs 10 on the
  *      early pair) — super-linear growth with no cap in sight.
  *
  * Flagged sites either get a structural fix (corpus-adaptive key
  * width, an occupancy cap riding the join's own exchange — the q34
  * round-15 treatment; a posting-df cap — the dedup family's
  * maxPostingDf) or an `adjudicated` entry whose rationale names the
  * bound the probe rungs sit below (an adaptive knee or a cap engages
  * beyond sf0.1) AND the executable spec that pins it. Keyed
  * (query :: join site) with stale detection, like the family.
  *
  * Limitation: the probe sees budgets as materialized at the rungs, so
  * a cap/knee that only engages beyond sf0.1 shows its UNCAPPED growth
  * here — that is by design (the adjudication must name the knee and
  * its spec), not a false negative: silent passes happen only for
  * genuinely linear budgets.
  */
class BucketPairBudgetAuditSpec extends SparkTestBase {

  private val sfSmall = "/root/testdata/sf0.001"
  private val sfBig = "/root/testdata/sf0.01"
  private val sfBench = "/root/testdata/sf0.1"

  private val tinyRows = 6L // below: broadcastable at any scale
  private val sideGrowthFloor = 3.0 // rows growth < this on a pair → flat there
  private val budgetFloor = 1000L // lo-rung budgets below this are noise
  private val superFactor = 3.0 // budget growth ≥ this × rows growth → flag

  /** Flagged joins whose budget growth is bounded by machinery that
    * engages beyond the probe rungs. Rationale must name the bound AND
    * the executable spec that pins it.
    */
  private val adjudicated: Map[String, String] = Map(
    "q34_lsh_neighbors :: join#0 [band,bucket | band,bucket]" ->
      ("adaptive-planes knee sits just above the probe rungs: planes = " +
        "max(4, ceil(log2(n/128))) stays at the floor through n = 2048, " +
        "and sf0.1's corpus is 2000 vectors, so both rungs see the same " +
        "16 buckets. One plane per corpus doubling beyond the knee keeps " +
        "E[occupancy] ≈ 128 (Σ occ² ∝ n), and maxBucketRows = 4096 " +
        "hard-caps degenerate collapse; LshRecallAtScaleSpec's " +
        "16×-grown rung asserts budget ≤ 4·128·n (measured 4.9M vs the " +
        "fixed-planes 66.2M) with recall ≥ 0.8 through the shipped path."),
    "q31_simhash_neardup :: join#0 [band,bucket | band,bucket]" ->
      ("16-bit blocks are the WIDEST pigeonhole-exhaustive blocking for " +
        "Hamming ≤ 3 on a 64-bit signature (needs ≥ d+1 = 4 blocks), so " +
        "occupancy ∝ n/2^16 and the budget is Θ(n²/2^16) by the " +
        "operator's own exhaustiveness contract (LshRecallAtScaleSpec " +
        "pins recall == 1.0; oracle twin q296 mirrors the 64-bit math). " +
        "The shipped scale path is simhashNearDups128 (q298): two " +
        "independent-seed halves → 4×32-bit blocks, occupancy ∝ n/2^32, " +
        "linear to ~1e9 docs — the 'widen the key space' remedy, " +
        "measured linear by this suite's scale-path control (round-15 " +
        "ladder pins: budget ×9.3 for rows ×8.8 on sf0.01→sf0.1 vs the " +
        "64-bit ×60.6 for ×9.2; 3.8 s at the 100× rung). q31 keeps " +
        "the 64-bit fixture at oracle-checkable corpus sizes."),
    "q66_dedup_embedding :: join#1 [band,bucket | band,bucket]" ->
      ("exact cell-pair semantics over CALLER-CHOSEN centroids: the " +
        "q66 oracle fixture pins 8 fixed centroids so DuckDB can replay " +
        "the assign→pair→drop chain hash-exactly, which makes per-cell " +
        "occupancy ∝ n/8 at the fixture — the cell-count dial, not the " +
        "join shape, owns the budget. Production granularity scales " +
        "cells with the corpus via the engine's own kmeans/ivfAssign " +
        "(SimilaritySpec pins both); the VERDICT r13/r14 100× " +
        "adjudication for q66 names the same exact-cell-pair class."),
    "q66_dedup_embedding :: join#3 [band,bucket | band,bucket]" ->
      ("same site as join#1 — the dedup chain is not a shared subtree " +
        "at the logical level, so the optimized tree carries two " +
        "copies of the one cell-pair join (both flag with identical " +
        "budgets); rationale identical."),
    "q273_user_user_cf :: join#2 [_u | _u2]" ->
      ("budget is hard-capped by construction: the per-item posting " +
        "list is truncated to 64 users by a deterministic hash-sampled " +
        "row_number (mirrored in the oracle SQL), and the item space is " +
        "fixed at 50 (event_id % 50), so the pair budget saturates at " +
        "50·64² = 204800 — the flagged ×30.3 is the cap FILLING from a " +
        "sparse rung (hi probe equals the cap exactly), constant beyond. " +
        "(r18: itemItemCosine now symmetrizes via one explode instead of " +
        "cos UNION cos-swapped, so the former join#5 duplicate copy of " +
        "this site no longer exists in the optimized tree.)")
  )

  private def rowsOf(dir: String, p: LogicalPlan): Long =
    PlanProbe.rows(spark, dir, p)

  private lazy val bcThresholdBytes: Long = {
    val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
    catch { case _: NumberFormatException => s.toLong }
  }

  private def estBytes(rows: Long, p: LogicalPlan): Long =
    rows * math.max(1, p.output.map(_.dataType.defaultSize).sum)

  private def label(name: String, sig: String, idx: Int): String =
    s"$name :: join#$idx [$sig]"

  test("no equi-join's candidate-pair budget grows super-linearly in " +
    "the corpus (fixed-key-space LSH/posting criterion, swept)") {
    val offenders = collection.mutable.LinkedHashSet[String]()
    val hit = collection.mutable.Set[String]()
    var joinsSeen, pairPicked, loProbed, hiProbed = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val smallJs =
        try JoinProbe.equiJoinsOf(fn(spark, sfSmall)
          .queryExecution.optimizedPlan)
        catch { case e: Throwable =>
          fail(s"$name failed to plan at sf0.001: ${e.getMessage}")
        }
      lazy val bigJs = JoinProbe.equiJoinsOf(
        fn(spark, sfBig).queryExecution.optimizedPlan)
      lazy val benchJs = JoinProbe.equiJoinsOf(
        fn(spark, sfBench).queryExecution.optimizedPlan)
      smallJs.zipWithIndex.foreach { case ((j, lk, rk), i) =>
        joinsSeen += 1
        val sig = JoinProbe.keySig(lk, rk)
        val sigRank = smallJs.take(i)
          .count { case (_, l2, r2) => JoinProbe.keySig(l2, r2) == sig }
        val sSmall = Seq(j.left, j.right)
        val rSmall = sSmall.map(rowsOf(sfSmall, _))
        if (rSmall.forall(_ >= tinyRows)) {
          val bigSite = JoinProbe.matchJoin(bigJs, sig, sigRank).getOrElse(
            fail(s"$name: no sf0.01 equi-join matches [$sig] " +
              s"occurrence $sigRank — audit cannot match sites"))
          val rBig = Seq(rowsOf(sfBig, bigSite._1.left),
            rowsOf(sfBig, bigSite._1.right))
          val g1 = rSmall.zip(rBig).map { case (a, b) =>
            b.toDouble / math.max(a, 1L)
          }
          lazy val benchSite = JoinProbe.matchJoin(benchJs, sig, sigRank)
            .getOrElse(fail(s"$name: no sf0.1 equi-join matches " +
              s"[$sig] occurrence $sigRank — audit cannot match sites"))
          // the join's probe pair: first pair where a side grows
          val pick: Option[(String, String,
            (Join, Seq[Expression], Seq[Expression]),
            (Join, Seq[Expression], Seq[Expression]), Double,
            Seq[Long], Seq[Long])] =
            if (g1.exists(_ >= sideGrowthFloor))
              Some((sfSmall, sfBig, (j, lk, rk), bigSite, g1.max,
                rSmall, rBig))
            else {
              val rBench = Seq(rowsOf(sfBench, benchSite._1.left),
                rowsOf(sfBench, benchSite._1.right))
              val g2 = rBig.zip(rBench).map { case (a, b) =>
                b.toDouble / math.max(a, 1L)
              }
              if (g2.exists(_ >= sideGrowthFloor))
                Some((sfBig, sfBench, bigSite, benchSite, g2.max,
                  rBig, rBench))
              else None // corpus-independent join
            }
          pick.foreach { case (loDir, hiDir, loSite, hiSite, gRows,
                               rLo, rHi) =>
            pairPicked += 1
            // broadcast-class side → candidate generation bounded by
            // it. Broadcast-class must hold THROUGH sf0.1: a side flat
            // on the picked pair can still grow on the later one (the
            // embeddings shape — the r14 #3 blind spot), so flatness
            // is re-checked against sf0.1 rows and bytes are estimated
            // at the largest probed corpus. For pair-2 picks the hi
            // rung IS sf0.1 and the extra ratio degenerates to 1.
            def sideOf(site: (Join, Seq[Expression], Seq[Expression]),
                       si: Int): LogicalPlan =
              if (si == 0) site._1.left else site._1.right
            val flatSmallSide = rLo.zip(rHi).zipWithIndex.exists {
              case ((lo, hi), si) =>
                hi.toDouble / math.max(lo, 1L) < sideGrowthFloor && {
                  val bp = sideOf(benchSite, si)
                  val br = rowsOf(sfBench, bp)
                  br.toDouble / math.max(hi, 1L) < sideGrowthFloor &&
                    estBytes(br, bp) <= bcThresholdBytes
                }
            }
            if (!flatSmallSide) {
              loProbed += 1
              val budgetLo = JoinProbe.pairBudget(spark, loDir,
                loSite._1, loSite._2, loSite._3)
              if (budgetLo >= budgetFloor) {
                hiProbed += 1
                val budgetHi = JoinProbe.pairBudget(spark, hiDir,
                  hiSite._1, hiSite._2, hiSite._3)
                val gBudget = budgetHi.toDouble / math.max(budgetLo, 1L)
                if (gBudget >= superFactor * gRows) {
                  val key = label(name, sig, i)
                  if (adjudicated.contains(key)) hit += key
                  else offenders += f"$key pair budget " +
                    f"$budgetLo→$budgetHi (×$gBudget%.1f) while rows " +
                    f"grew ×$gRows%.1f on $loDir→$hiDir — " +
                    "super-linear candidate generation; widen the key " +
                    "space adaptively, cap per-key occupancy, or " +
                    "adjudicate with the knee + its pinning spec"
                }
              }
            }
          }
        }
      }
    }
    info(s"funnel: $joinsSeen equi-joins seen, $pairPicked with a " +
      s"growing rung pair, $loProbed budget-probed at lo, $hiProbed " +
      "at hi")
    assert(joinsSeen > 100 && loProbed > 10,
      "funnel reach collapsed — the sweep is passing vacuously; " +
        s"seen=$joinsSeen loProbed=$loProbed")
    assert(offenders.isEmpty,
      "joins whose candidate-pair budget outgrows the corpus " +
        "(adaptive key width, occupancy cap, or adjudicate with the " +
        "named knee):\n" + offenders.mkString("\n"))
    val stale = adjudicated.keySet -- hit
    assert(stale.isEmpty,
      s"adjudicated entries match no flagged join (stale): $stale")
  }

  /** Positive control: the criterion fires on the q34 LEGACY shape —
    * sign-LSH at fixed planes=4 with both round-15 guards disabled,
    * over the real parquet embeddings at the late rung pair (where
    * embeddings actually grow). 16 buckets forever: rows ×4 →
    * budget ×~16. If this stops flagging, the sweep's clean pass
    * proves nothing about the class it was built for.
    */
  test("legacy fixed-planes LSH bucket join flags as super-linear " +
    "(positive control)") {
    def legacyJoin(dir: String)
    : (Join, Seq[Expression], Seq[Expression], Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val j = ext.Similarity.lshNearNeighbors(emb, threshold = 0.3,
        planes = 4, targetBucketRows = 0, maxBucketRows = 0)
      val js = JoinProbe.equiJoinsOf(j.queryExecution.optimizedPlan)
      assert(js.nonEmpty, "legacy q34 lost its bucket equi-join")
      val (jn, lk, rk) = js.head
      (jn, lk, rk, rowsOf(dir, jn.left))
    }
    val (jLo, lkLo, rkLo, rowsLo) = legacyJoin(sfBig)
    val (jHi, lkHi, rkHi, rowsHi) = legacyJoin(sfBench)
    val gRows = rowsHi.toDouble / math.max(rowsLo, 1L)
    val budgetLo = JoinProbe.pairBudget(spark, sfBig, jLo, lkLo, rkLo)
    val budgetHi = JoinProbe.pairBudget(spark, sfBench, jHi, lkHi, rkHi)
    val gBudget = budgetHi.toDouble / math.max(budgetLo, 1L)
    info(f"legacy q34: rows $rowsLo→$rowsHi (×$gRows%.1f), budget " +
      f"$budgetLo→$budgetHi (×$gBudget%.1f)")
    assert(budgetLo >= budgetFloor,
      s"control budget too small to probe: $budgetLo")
    assert(gRows >= sideGrowthFloor, f"fixture drift: embeddings grew " +
      f"only ×$gRows%.1f on the late pair")
    assert(gBudget >= superFactor * gRows,
      f"criterion failed to flag the fixed-key-space control " +
        f"(budget ×$gBudget%.1f vs rows ×$gRows%.1f)")
  }

  /** Scale-path control for the q31 adjudication: the 128-bit SimHash
    * blocking (q298, 4×32-bit blocks) must stay in the linear class on
    * the SAME corpus rungs where the 64-bit blocking (q31, 4×16-bit
    * blocks) measures super-linear — the "widen the key space" remedy,
    * demonstrated rather than asserted. Probes ride the shared
    * JoinProbe caches, so this costs nothing beyond the main sweep.
    */
  test("128-bit simhash blocking stays linear where 16-bit blocking " +
    "goes super-linear (scale-path control)") {
    def firstJoin(q: String, dir: String)
    : (Join, Seq[Expression], Seq[Expression], Long) = {
      val js = JoinProbe.equiJoinsOf(
        SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan)
      assert(js.nonEmpty, s"$q lost its block equi-join")
      val (j, lk, rk) = js.head
      (j, lk, rk, rowsOf(dir, j.left))
    }
    def growth(q: String): (Double, Double) = {
      val (jLo, lkLo, rkLo, rowsLo) = firstJoin(q, sfBig)
      val (jHi, lkHi, rkHi, rowsHi) = firstJoin(q, sfBench)
      val bLo = JoinProbe.pairBudget(spark, sfBig, jLo, lkLo, rkLo)
      val bHi = JoinProbe.pairBudget(spark, sfBench, jHi, lkHi, rkHi)
      (rowsHi.toDouble / math.max(rowsLo, 1L),
        bHi.toDouble / math.max(bLo, 1L))
    }
    val (gRows64, gBudget64) = growth("q31_simhash_neardup")
    val (gRows128, gBudget128) = growth("q298_simhash128_neardup")
    info(f"64-bit: rows ×$gRows64%.1f budget ×$gBudget64%.1f; " +
      f"128-bit: rows ×$gRows128%.1f budget ×$gBudget128%.1f")
    assert(gBudget64 >= superFactor * gRows64,
      f"fixture drift: the 64-bit blocking no longer measures " +
        f"super-linear (×$gBudget64%.1f vs rows ×$gRows64%.1f) — " +
        "re-examine the q31 adjudication")
    assert(gBudget128 < superFactor * gRows128,
      f"the 128-bit scale path is NOT linear at the rungs " +
        f"(×$gBudget128%.1f vs rows ×$gRows128%.1f) — the q31 " +
        "adjudication's remedy claim fails")
  }

  /** Negative control: a constant-fanout FK join (lineitem ⋈ orders)
    * stays in the linear class — the criterion does not flag healthy
    * joins. Probed on the early pair where both sides grow ~10×.
    */
  test("constant-fanout FK join stays linear (negative control)") {
    def fk(dir: String): (Join, Seq[Expression], Seq[Expression], Long) = {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val js = JoinProbe.equiJoinsOf(j.queryExecution.optimizedPlan)
      assert(js.nonEmpty, "FK control lost its equi-keys")
      val (jn, lk, rk) = js.head
      (jn, lk, rk, rowsOf(dir, jn.left))
    }
    val (jLo, lkLo, rkLo, rowsLo) = fk(sfSmall)
    val (jHi, lkHi, rkHi, rowsHi) = fk(sfBig)
    val gRows = rowsHi.toDouble / math.max(rowsLo, 1L)
    val budgetLo = JoinProbe.pairBudget(spark, sfSmall, jLo, lkLo, rkLo)
    val budgetHi = JoinProbe.pairBudget(spark, sfBig, jHi, lkHi, rkHi)
    val gBudget = budgetHi.toDouble / math.max(budgetLo, 1L)
    info(f"FK control: rows ×$gRows%.1f, budget ×$gBudget%.1f")
    assert(gBudget < superFactor * gRows,
      f"criterion misfires on a healthy FK join " +
        f"(budget ×$gBudget%.1f vs rows ×$gRows%.1f)")
  }
}
