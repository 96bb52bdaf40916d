package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's enrichment pipeline shape (reference
  * `model-als.py:141-158`): per-item community average → left-join item
  * metadata → filter by category → top-k by average.
  *
  * Generic over (ratings, items) so it runs both on the reference's
  * anime/ratings schema and on the harness star schema (FIXTURES.md maps
  * lineitem→ratings, part→items).
  */
object Recommend {

  /** @param ratings     fact table (large — stays distributed)
    * @param items       item metadata (small dim — broadcast)
    * @param itemKey     join key column name in `ratings`
    * @param ratingCol   value column in `ratings` to average
    * @param itemsKey    join key column name in `items`
    * @param categoryFilter predicate on item columns (e.g. Type === "TV")
    * @param select      output columns (from items + "avg_rating")
    * @param k           result size
    *
    * The aggregate runs on the fact table FIRST (shrinking it to
    * one-row-per-item) and only then joins the dimension — the join input
    * is |items|, not |ratings|. The dim side is broadcast explicitly: at
    * 100 TB the fact side must never shuffle for a small-dimension join.
    * Final sort+limit fuses to TakeOrderedAndProject.
    */
  def topRatedByCategory(ratings: DataFrame, items: DataFrame,
                         itemKey: String, ratingCol: String, itemsKey: String,
                         categoryFilter: Column, select: Seq[Column],
                         k: Int, tieBreak: Column): DataFrame = {
    val avgRatings = ratings.groupBy(col(itemKey))
      .agg(avg(col(ratingCol)).as("avg_rating"))
    avgRatings
      .join(broadcast(items.filter(categoryFilter)),
        avgRatings(itemKey) === items(itemsKey), "inner")
      .select(select :+ col("avg_rating"): _*)
      .orderBy(col("avg_rating").desc, tieBreak)
      .limit(k)
  }

  /** Item-item co-occurrence ("bought together") with lift — the
    * collaborative signal that needs no model fit, and the classic
    * basket self-join whose cost is Σ|basket|², not |rows|.
    *
    * Scale levers, in order of importance:
    *  - `maxBasket` CAPS each basket before the self-join (keep the
    *    `maxBasket` smallest item ids — deterministic, so the oracle
    *    reproduces the cap exactly). One pathological basket of 10⁶
    *    items would otherwise contribute 10¹² pairs; with the cap every
    *    basket contributes ≤ maxBasket². The capping window partitions
    *    on the HIGH-cardinality basket id — the safe window shape.
    *  - the pair aggregate shuffles on (item_a, item_b) — high
    *    cardinality by construction.
    *  - `minPairCount` prunes the singleton-pair tail BEFORE the lift
    *    join, which at corpus scale is most of the pair stream.
    *  - `rowsPerSupport` makes that pruning SCALE-SAFE: the effective
    *    support threshold is max(minPairCount, ⌊input rows /
    *    rowsPerSupport⌋). A replicated corpus over a fixed item
    *    vocabulary inflates every pair count linearly; a FIXED
    *    threshold then admits the whole pair tail and any downstream
    *    graph densifies (the round-5 q96 12×-at-10× lesson). With
    *    support ∝ corpus the surviving edge set — and the wedge stream
    *    of a triangle count over it — stays roughly constant. The row
    *    count is a metadata-cheap `df.count()` (parquet row-group
    *    stats; no column reads) and the threshold lands in the plan as
    *    a LITERAL — the filter stays inside the pair aggregate's
    *    codegen, and the pair plan is fully determined up front, so a
    *    repeated call cache-hits the materialized pair list instead of
    *    rebuilding it. Set 0 to pin the absolute `minPairCount`.
    *
    * lift = pair_cnt · n_baskets / (cnt_a · cnt_b) over the CAPPED
    * baskets (consistent numerator and denominators). Output: top-k
    * pairs by (pair_cnt desc, item_a, item_b) — a total order.
    */
  def cooccurrence(df: DataFrame, basketCol: String, itemCol: String,
                   maxBasket: Int = 64, minPairCount: Long = 2L,
                   k: Int = 50, rowsPerSupport: Long = 30000L): DataFrame = {
    val support = supportOf(df.count(), minPairCount, rowsPerSupport)
    def plan(capped: DataFrame): DataFrame = {
      val totals = capped.agg(count_distinct(col("_b")).as("_nb"))
      val itemCnt = capped.groupBy(col("_i")).agg(count(lit(1)).as("_c"))
      pairsOf(capped, support)
        .join(itemCnt.select(col("_i").as("item_a"), col("_c").as("_ca")),
          Seq("item_a"))
        .join(itemCnt.select(col("_i").as("item_b"), col("_c").as("_cb")),
          Seq("item_b"))
        .join(broadcast(totals))
        .select(col("item_a"), col("item_b"), col("pair_cnt"),
          round((col("pair_cnt") * col("_nb")) / (col("_ca") * col("_cb"))
            + lit(1e-9), 4).as("lift"))
        .orderBy(col("pair_cnt").desc, col("item_a"), col("item_b"))
        .limit(k)
    }
    // memo hit: the support literal is knowable before any heavy work,
    // so when this exact lift table was already built this session the
    // capped build below never runs
    val lazyPlan = plan(cappedBaskets(df, basketCol, itemCol, maxBasket))
    if (graft.core.Caches.isCached(lazyPlan))
      return graft.core.Caches.materialized(lazyPlan)
    // MATERIALIZED (not just persisted): the basket total and item
    // counts ride broadcast exchanges, which execute BEFORE the main
    // join scan would populate a lazy cache — each would re-run the
    // distinct+cap window. Forcing the cache first makes all four
    // references cache reads. Released once the (k-row) result
    // materializes, so repeated calls don't accumulate storage blocks.
    val capped = graft.core.Caches.materialized(
      cappedBaskets(df, basketCol, itemCol, maxBasket))
    val out = graft.core.Caches.materialized(plan(capped))
    capped.unpersist(blocking = false)
    out
  }

  /** Distinct (basket `_b`, item `_i`) pairs with the deterministic
    * `maxBasket` cap applied (keep the maxBasket smallest item ids per
    * basket) — the shared first stage of [[cooccurrence]] and
    * [[basketPairs]].
    */
  private[graft] def cappedBaskets(df: DataFrame, basketCol: String,
                                   itemCol: String, maxBasket: Int)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE exchange (r17): partitioning by _b alone already co-locates
    // every (_b, _i) duplicate, so the distinct aggregate AND the
    // basket-cap window both ride the same shuffle — the former
    // .distinct() exchanged on (_b, _i) and the window then exchanged
    // AGAIN on _b
    val items = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .repartition(col("_b"))
      .dropDuplicates("_b", "_i")
    val w = Window.partitionBy(col("_b")).orderBy(col("_i"))
    items.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBasket).drop("_rn")
  }

  /** The raw co-occurrence pair list (item_a < item_b, pair_cnt ≥ the
    * scaled support — see [[cooccurrence]]'s `rowsPerSupport`) over
    * capped baskets — [[cooccurrence]] without the lift/top-k stage;
    * also the edge list for graph analytics
    * ([[graft.ext.Graph.pageRank]] over the item-affinity graph), where
    * the corpus-scaled support is what keeps downstream wedge joins
    * from densifying. Returns a MATERIALIZED (persisted) frame — graph
    * callers reference it several times, and the thresholded list is
    * SMALL (support-pruned), so it stays cached as this operator's
    * memo: a repeated call (another graph query over the same basket
    * table, a re-run of the same one) skips the distinct+cap window and
    * the self-join entirely and reads the cache. Heavyweight
    * intermediates (the capped basket rows) are always released.
    */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
                  maxBasket: Int = 64, minPairCount: Long = 2L,
                  rowsPerSupport: Long = 30000L)
  : DataFrame = {
    // the support literal is knowable BEFORE any heavy work (one
    // metadata-cheap count), so when the same pair list was already
    // built this session, materialized() is a pure cache hit and the
    // capped build below never runs a job
    val support = supportOf(df.count(), minPairCount, rowsPerSupport)
    val pairsPlan = pairsOf(
      cappedBaskets(df, basketCol, itemCol, maxBasket), support)
    if (graft.core.Caches.isCached(pairsPlan))
      return graft.core.Caches.materialized(pairsPlan)
    // persisted: the self-join references the capped frame twice.
    // Released once pairs land — the SMALL thresholded pair list is the
    // one retained artifact (caller-owned; repeated calls reuse it)
    val capped = graft.core.Caches.materialized(
      cappedBaskets(df, basketCol, itemCol, maxBasket))
    val out = graft.core.Caches.materialized(pairsOf(capped, support))
    capped.unpersist(blocking = false)
    out
  }

  /** max(minPairCount, ⌊inputRows/rowsPerSupport⌋) — the corpus-scaled
    * support threshold ([[cooccurrence]] doc), a plain plan literal.
    */
  private def supportOf(inputRows: Long, minPairCount: Long,
                        rowsPerSupport: Long): Long =
    if (rowsPerSupport <= 0L) minPairCount
    else math.max(minPairCount, inputRows / rowsPerSupport)

  private def pairsOf(capped: DataFrame, support: Long): DataFrame =
    capped
      .join(capped.select(col("_b").as("_b2"), col("_i").as("item_b")),
        col("_b") === col("_b2") && col("_i") < col("item_b"))
      .groupBy(col("_i").as("item_a"), col("item_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= support)

  /** Item-item cosine collaborative filtering — the memory-based
    * neighbor model (Sarwar et al., WWW'01) every recommender ships
    * NEXT TO its factor model (q117's ALS): similarity between items i
    * and j is the cosine of their user-rating vectors,
    *
    *   cos(i, j) = Σ_u r_ui·r_uj / (‖r_i‖·‖r_j‖)
    *
    * computed over users who rated both. Ratings must be ONE row per
    * (user, item) — pre-aggregate first (e.g. interaction counts).
    *
    * Engine-exactness: with INTEGER-valued ratings (counts — the
    * implicit-feedback signal a 100 TB event log actually yields) the
    * dot products and squared norms are exact integer sums, so cos is
    * a fixed chain of correctly-rounded ops — bit-identical
    * cross-engine and immune to aggregation order.
    *
    * Scale shape: the cost driver is the per-user self-join —
    * Σ_u |items(u)|², so `maxItemsPerUser` caps each user's item list
    * first (keep the cap smallest item ids — deterministic, the
    * oracle reproduces it; the capping window partitions on the
    * HIGH-cardinality user id). `maxItemsPerUser <= 0` means uncapped:
    * no window is planned at all, for callers whose input is already
    * bounded. Any positive cap, however large, is enforced. The pair
    * aggregate shuffles on (item_a, item_b) — high cardinality; norms
    * join item-keyed; the
    * final ranking is the k-bounded TopKScoredAggregator per item,
    * never a window over the full pair stream.
    *
    * Output: (itemCol, neighbor_id, rank, cos 4 dp), rank 1..k by cos
    * desc, neighbor id ascending on ties.
    */
  def itemItemCosine(ratings: DataFrame, userCol: String, itemCol: String,
                     ratingCol: String, k: Int,
                     maxItemsPerUser: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_u")).orderBy(col("_i"))
    val sel = ratings
      .select(col(userCol).as("_u"), col(itemCol).as("_i"),
        col(ratingCol).as("_r"))
    // uncapped skips the window: it drops a per-partition sort+filter
    // that every downstream reference (norms + both self-join sides)
    // re-executes above the reused exchange
    val capped =
      if (maxItemsPerUser <= 0) sel
      else sel.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= maxItemsPerUser).drop("_rn")
    val norms = capped.groupBy(col("_i"))
      .agg(sum(col("_r") * col("_r")).as("_sq"))
    // merge hint (r18): both self-join
    // sides are the IDENTICAL capped subtree — as sort-merge they share
    // ONE exchange (ReusedExchange), where the size-estimated broadcast
    // REBUILT the whole ratings/cap pipeline for the build side, and at
    // 100 TB a per-user rating stream is corpus-sized (OOM under
    // broadcast) — SMJ is also the only scale-correct strategy here
    val dots = capped.hint("merge")
      .join(capped.select(col("_u").as("_u2"), col("_i").as("_j"),
        col("_r").as("_r2")),
        col("_u") === col("_u2") && col("_i") < col("_j"))
      .groupBy(col("_i"), col("_j"))
      .agg(sum(col("_r") * col("_r2")).as("_dot"))
    val cos = dots
      .join(norms.select(col("_i"), col("_sq").as("_sqa")), Seq("_i"))
      .join(norms.select(col("_i").as("_j"), col("_sq").as("_sqb")),
        Seq("_j"))
      .withColumn("_cos", col("_dot") /
        (sqrt(col("_sqa").cast("double")) * sqrt(col("_sqb").cast("double"))))
    // one generated row per direction instead of unionByName(cos, cos):
    // the union form evaluated the ENTIRE pair pipeline twice — explode
    // emits both (i→j, j→i) rows map-side from a single evaluation
    // (guide §2.4: duplicated subtrees are removed shuffles too). Same
    // rows, same types, bit-identical cosines.
    val sym = cos.select(explode(array(
        struct(col("_i").as("item_id"), col("_j").as("neighbor_id"),
          col("_cos")),
        struct(col("_j").as("item_id"), col("_i").as("neighbor_id"),
          col("_cos")))).as("_e"))
      .select(col("_e.item_id").as("item_id"),
        col("_e.neighbor_id").as("neighbor_id"), col("_e._cos").as("_cos"))
    Relational.topKPerGroupAgg(sym, k, Seq("item_id"),
        col("_cos"), col("neighbor_id"), "_cos", "neighbor_id")
      .select(col("item_id"), col("neighbor_id"), col("rank"),
        round(col("_cos") + lit(1e-9), 4).as("cos"))
  }
}
