package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.operators.Recommend

/** The recommender family: top-k recommendation, ALS, item-item
  * similarity and recommender evaluation, through
  * [[graft.operators.Recommend]], [[graft.ml.Als]] and
  * [[graft.pipeline.Recommender]].
  */
object RecommenderQueries {

  val all: Seq[Query] = Seq(
    Query("q01_top5_rated_parts", q01,
      Oracle("""SELECT p_partkey, p_name, p_brand, avg_rating
        |FROM (SELECT l_partkey, avg(l_quantity) AS avg_rating
        |      FROM lineitem GROUP BY l_partkey) r
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_type = 'PROMO'
        |ORDER BY avg_rating DESC, p_partkey LIMIT 5""".stripMargin)),

    Query("q35_als_recommend", (s, dir) => {
      // cached: feeds the split, training iterations, and the user list.
      // 500-item vocabulary (not the analytics queries' 50): a factor
      // model's surface is |items|×rank, and 50 items understated it —
      // at sf0.1 each of 500 items still carries ~200 interactions
      val ratings = core.Caches.cached(t(s, dir, "events").select(
        col("user_id").cast("int").as("user_id"),
        (col("event_id") % 500).cast("int").as("item_id"),
        (col("value") / lit(20.0)).as("rating")))
      val cfg = ml.Als.Config(rank = 8, maxIter = 5, userCol = "user_id",
        itemCol = "item_id", seed = 42L, numBlocks = 4)
      val (model, _) = ml.Als.trainEval(ratings, cfg)
      val users = ratings.select(col("user_id")).distinct()
        .filter(col("user_id") < 3)
      ml.Als.recommend(model, users, 5, cfg)
        .select(col("user_id"), col("item_id"),
          round(col("predicted_rating"), 2).as("predicted_rating"))
        .orderBy(col("user_id"), col("predicted_rating").desc, col("item_id"))
    },
      RowsOnly(Seq("AlsPinnedSpec", "AlsSpec"))),

    // implicit-feedback ALS + item-factor similar-items: the signal a
    // production pipeline actually HAS is the event log, not star
    // ratings — confidence = per-(user,item) interaction count (MLlib
    // implicitPrefs semantics, alpha scales confidence; reference
    // trains explicit ALS only, model-als.py:111-120). The learned
    // ITEM factors then drive the similar-items surface every
    // recommender serves next to user recs: top-k factor-cosine
    // neighbors per probe item, ranked through the same k-bounded
    // TopKScoredAggregator as the ANN queries (q33's shape — no
    // |items|-reducer funnel). Rows-only at the driver (ALS output;
    // AlsPinnedSpec pins the exact q117 hash on the sf0.001 fixture).
    Query("q117_similar_items_implicit", (s, dir) => {
      // cached: the confidence aggregate feeds every ALS iteration.
      // 500-item vocabulary — same widening rationale as q35
      val ratings = core.Caches.cached(t(s, dir, "events").select(
          col("user_id").cast("int").as("user_id"),
          (col("event_id") % 500).cast("int").as("item_id"))
        .groupBy(col("user_id"), col("item_id"))
        .agg(count(lit(1)).cast("double").as("rating")))
      val cfg = ml.Als.Config(rank = 8, maxIter = 5, userCol = "user_id",
        itemCol = "item_id", seed = 42L, numBlocks = 4,
        implicitPrefs = true, alpha = 10.0)
      // nonnegative implicit ALS can collapse an item's factor to the
      // exact zero vector (regularization wins when the item's signal is
      // weak) — cosine is undefined there (0-norm ⇒ ANSI divide-by-zero),
      // and a zero factor has no similarity ranking to give: drop them
      val factors = ml.Als.estimator(cfg).fit(ratings).itemFactors
        .filter(ext.Similarity.l2Norm(col("features")) > lit(0.0))
      ext.Similarity.bruteForceKnn(factors, factors.filter(col("id") < 3),
          k = 5, idCol = "id", vecCol = "features")
        .select(col("query_id").cast("long").as("item_id"),
          col("neighbor_id").cast("long").as("similar_item_id"),
          col("rank"), round(col("cos"), 4).as("cos"))
        .orderBy(col("item_id"), col("rank"))
    },
      RowsOnly(Seq("AlsPinnedSpec"))),

    // session-style covisitation recs: for each item, the top-5 items
    // whose views/clicks FOLLOW it within 30 minutes by the same user,
    // scored by time-decayed co-occurrence Σ 1/(1+Δmin) — the
    // candidate-generation matrix of modern recsys next to q83's
    // global basket lift. SCALE SHAPE: the time-bounded self-join
    // rides rangeJoinBucketed (gap-banded buckets — per-band occupancy
    // products, never a per-user cross product), pair scores collapse
    // onto the ≤|items|² frame, and the per-item top-5 is the
    // k-bounded TopKScoredAggregator, ranked on the ROUNDED score
    Query("q203_covisitation", (s, dir) => covisitationTop5(s, dir),
      Oracle("""WITH ev AS (SELECT user_id, event_id % 4000 AS item,
        |    CAST(ts AS TIMESTAMP) AS uts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |    1.0 / (1.0 + (epoch_us(b.uts) - epoch_us(a.uts)) / 6e7) AS w
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND b.uts >= a.uts AND b.uts < a.uts + INTERVAL 30 MINUTE
        |  WHERE a.item <> b.item),
        |s AS (SELECT item_a, item_b, round(sum(w) + 1e-9, 4) AS score
        |  FROM p GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item_a
        |    ORDER BY score DESC, item_b) AS rank FROM s)
        |SELECT item_a, item_b, score, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY item_a, rank""".stripMargin)),

    // recommender exposure audit over q203's covisitation top-5 lists:
    // catalog coverage + Gini concentration of how often each item is
    // recommended — the aggregate-diversity eval (Steck/Castells line)
    // next to q126's per-query ranking quality. Bounded: the rec list
    // is ≤ 5·|items| rows, the exposure frame ≤ |items|
    Query("q217_rec_coverage", (s, dir) => {
      val recs = covisitationTop5(s, dir)
      val cat = t(s, dir, "events")
        .agg(countDistinct(col("event_id") % 4000).as("catalog"))
      val gin = operators.Relational.giniConcentration(
        recs.select(lit("all").as("_g"), col("item_b")), "_g", "item_b")
      gin.crossJoin(broadcast(cat))
        .select(col("catalog"), col("n_keys").as("n_recommended"),
          round(col("n_keys") / col("catalog").cast("double")
            + lit(1e-9), 4).as("coverage"),
          col("gini").as("exposure_gini"))
    },
      // q203's rec CTEs, exposure counts, q147's Gini formula, distinct
      // catalog denominator
      Oracle("""WITH ev AS (SELECT user_id, event_id % 4000 AS item,
        |    CAST(ts AS TIMESTAMP) AS uts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |pp AS (SELECT a.item AS item_a, b.item AS item_b,
        |    1.0 / (1.0 + (epoch_us(b.uts) - epoch_us(a.uts)) / 6e7) AS w
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND b.uts >= a.uts AND b.uts < a.uts + INTERVAL 30 MINUTE
        |  WHERE a.item <> b.item),
        |sc AS (SELECT item_a, item_b, round(sum(w) + 1e-9, 4) AS score
        |  FROM pp GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY item_a
        |    ORDER BY score DESC, item_b) AS rank FROM sc),
        |x AS (SELECT item_b AS item, CAST(count(*) AS BIGINT) AS x
        |  FROM rk WHERE rank <= 5 GROUP BY 1),
        |g AS (SELECT x, CAST(row_number() OVER (ORDER BY x, item)
        |    AS BIGINT) AS i FROM x),
        |cat AS (SELECT count(DISTINCT event_id % 4000) AS catalog
        |  FROM events)
        |SELECT CAST(catalog AS BIGINT) AS catalog,
        |  (SELECT CAST(count(*) AS BIGINT) FROM x) AS n_recommended,
        |  round((SELECT count(*) FROM x) * 1.0 / catalog + 1e-9, 4)
        |    AS coverage,
        |  (SELECT round(2.0 * sum(i * x)
        |      / (count(*) * CAST(sum(x) AS DOUBLE))
        |      - (count(*) + 1) / CAST(count(*) AS DOUBLE) + 1e-9, 4)
        |      + 0.0 FROM g) AS exposure_gini
        |FROM cat""".stripMargin)),

    // temporal backtest of the covisitation recommender: lists trained
    // on days 1–21 only, scored on the held-out tail's consecutive
    // view/click transitions — hit iff the next item sits in the prior
    // item's train-window top-5. The evaluation q217's coverage panel
    // assumes; leakage-free by the ts cut on BOTH the range join's
    // inputs
    Query("q253_covisit_backtest", (s, dir) => {
      val cut = lit("2024-01-22").cast("timestamp")
      val recs = covisitationTop5(s, dir, until = Some("2024-01-22"))
        .select(col("item_a"), col("item_b"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val test = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click")
          && col("ts") >= cut)
        .select(col("user_id"), (col("event_id") % 4000).as("item"),
          col("ts"), col("event_id"))
        .withColumn("_prev", lag(col("item"), 1).over(w))
        .filter(col("_prev").isNotNull && col("_prev") =!= col("item"))
      test.join(recs, test("_prev") === recs("item_a")
          && test("item") === recs("item_b"), "left")
        .agg(count(lit(1)).as("n_transitions"),
          sum(when(col("item_a").isNotNull, 1L).otherwise(0L))
            .as("n_hits"),
          round(avg(when(col("item_a").isNotNull, 1.0).otherwise(0.0))
            + lit(1e-9), 4).as("hit_rate"))
    },
      // q203's list CTEs with the train cut, lag transitions, left probe
      Oracle("""WITH ev AS (SELECT user_id, event_id % 4000 AS item,
        |    CAST(ts AS TIMESTAMP) AS uts
        |  FROM events WHERE event_type IN ('view', 'click')
        |    AND ts < TIMESTAMP '2024-01-22'),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |    1.0 / (1.0 + (epoch_us(b.uts) - epoch_us(a.uts)) / 6e7)
        |      AS w
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND b.uts >= a.uts AND b.uts < a.uts + INTERVAL 30 MINUTE
        |  WHERE a.item <> b.item),
        |s AS (SELECT item_a, item_b, round(sum(w) + 1e-9, 4) AS score
        |  FROM p GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item_a
        |    ORDER BY score DESC, item_b) AS rank FROM s),
        |recs AS (SELECT item_a, item_b FROM r WHERE rank <= 5),
        |te AS (SELECT user_id, event_id % 4000 AS item, ts, event_id
        |  FROM events WHERE event_type IN ('view', 'click')
        |    AND ts >= TIMESTAMP '2024-01-22'),
        |tr AS (SELECT user_id, item, lag(item) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM te),
        |tt AS (SELECT * FROM tr
        |  WHERE prev IS NOT NULL AND prev <> item)
        |SELECT CAST(count(*) AS BIGINT) AS n_transitions,
        |  CAST(sum(CASE WHEN recs.item_a IS NOT NULL THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_hits,
        |  round(avg(CASE WHEN recs.item_a IS NOT NULL THEN 1.0
        |    ELSE 0.0 END) + 1e-9, 4) AS hit_rate
        |FROM tt LEFT JOIN recs ON tt.prev = recs.item_a
        |  AND tt.item = recs.item_b""".stripMargin)),

    // user-user cosine CF: the OTHER memory-based axis (q129 is
    // item-item) — same integer-exact cosine algebra with the axes
    // swapped. The scale guard is per-item interaction DOWNSAMPLING:
    // each item keeps at most 64 users chosen by a deterministic hash
    // order (id-order truncation would silently exclude every high-id
    // user; hash order spreads the cap uniformly, the production
    // per-vertex cap pattern), bounding the pair join at 64²·|items|
    Query("q273_user_user_cf", (s, dir) => {
      val r0 = t(s, dir, "events")
        .select(col("user_id"), (col("event_id") % 50).as("item_id"))
        .groupBy(col("user_id"), col("item_id"))
        .agg(count(lit(1)).as("cnt"))
      val wcap = Window.partitionBy(col("item_id"))
        .orderBy(ext.Sampling.hashScore(
          concat(col("item_id").cast("string"), lit(":"),
            col("user_id").cast("string")), 5L), col("user_id"))
      val ratings = r0.withColumn("_capn", row_number().over(wcap))
        .filter(col("_capn") <= 64).drop("_capn")
      Recommend.itemItemCosine(ratings, userCol = "item_id",
          itemCol = "user_id", ratingCol = "cnt", k = 3,
          maxItemsPerUser = 0)
        .select(col("item_id").as("user_id"),
          col("neighbor_id").as("neighbor_user"), col("rank"),
          col("cos"))
        .orderBy(col("user_id"), col("rank"))
    },
      // q129's algebra with the axes swapped: hash-ordered per-item
      // user cap, cosine between user vectors, top-3 per user
      Oracle("""WITH r0 AS (SELECT user_id, event_id % 50 AS item_id,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, item_id, cnt FROM (
        |    SELECT user_id, item_id, cnt, row_number() OVER (
        |      PARTITION BY item_id ORDER BY
        |        CAST(concat('0x', substr(md5(concat('5:',
        |          CAST(item_id AS VARCHAR), ':',
        |          CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT),
        |        user_id) AS rn
        |    FROM r0) WHERE rn <= 64),
        |n AS (SELECT user_id, CAST(sum(cnt * cnt) AS BIGINT) AS sq
        |  FROM c GROUP BY user_id),
        |d AS (SELECT a.user_id AS i, b.user_id AS j,
        |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
        |  FROM c a JOIN c b
        |    ON a.item_id = b.item_id AND a.user_id < b.user_id
        |  GROUP BY 1, 2),
        |s AS (SELECT d.i, d.j, dot / (sqrt(CAST(na.sq AS DOUBLE))
        |    * sqrt(CAST(nb.sq AS DOUBLE))) AS cos
        |  FROM d JOIN n na ON na.user_id = d.i
        |         JOIN n nb ON nb.user_id = d.j),
        |u AS (SELECT i AS user_id, j AS neighbor_user, cos FROM s
        |  UNION ALL SELECT j, i, cos FROM s)
        |SELECT user_id, neighbor_user, rank,
        |  round(cos + 1e-9, 4) AS cos
        |FROM (SELECT user_id, neighbor_user, cos,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY cos DESC, neighbor_user) AS BIGINT) AS rank
        |  FROM u) WHERE rank <= 3
        |ORDER BY user_id, rank""".stripMargin)),

    // association rules over ORDER baskets (the original market-basket
    // domain, vs the events co-engagement family): basketPairs with a
    // FIXED min support of 2 (order baskets don't repeat pairs at the
    // events rate — the corpus-scaled support would empty the list at
    // bench SF), both rule directions, support/confidence/lift from
    // integer-exact count ratios, top-25 by lift
    Query("q277_basket_rules", (s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item"))
      val pairs = Recommend.basketPairs(baskets, "basket", "item",
        maxBasket = 64, minPairCount = 2L,
        rowsPerSupport = Long.MaxValue)
      val capped = Recommend.cappedBaskets(baskets, "basket", "item", 64)
      val ic = capped.groupBy(col("_i")).agg(count(lit(1)).as("_ci"))
      val nb = capped.agg(countDistinct(col("_b")).cast("double")
        .as("_nb"))
      val sym = pairs.select(col("item_a").as("ante"),
          col("item_b").as("cons"), col("pair_cnt"))
        .unionByName(pairs.select(col("item_b").as("ante"),
          col("item_a").as("cons"), col("pair_cnt")))
      sym.join(ic.select(col("_i").as("ante"), col("_ci").as("_ca")),
          Seq("ante"))
        .join(ic.select(col("_i").as("cons"), col("_ci").as("_cc")),
          Seq("cons"))
        .crossJoin(broadcast(nb))
        .select(col("ante"), col("cons"), col("pair_cnt"),
          round(col("pair_cnt") / col("_nb") + lit(1e-9), 4)
            .as("support"),
          round(col("pair_cnt") / col("_ca").cast("double")
            + lit(1e-9), 4).as("confidence"),
          round(col("pair_cnt") * col("_nb")
            / (col("_ca") * col("_cc")).cast("double") + lit(1e-9), 4)
            .as("lift"))
        .orderBy(col("lift").desc, col("ante"), col("cons"))
        .limit(25)
    },
      // same capped order baskets, fixed support 2, both directions
      Oracle("""WITH items AS (SELECT DISTINCT l_orderkey AS b,
        |    l_partkey AS i FROM lineitem),
        |capped AS (SELECT b, i FROM (
        |    SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i)
        |      AS rn FROM items) WHERE rn <= 64),
        |pairs AS (SELECT x.i AS ia, y.i AS ib,
        |    CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ci
        |  FROM capped GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS nb
        |  FROM capped),
        |sym AS (SELECT ia AS ante, ib AS cons, pair_cnt FROM pairs
        |  UNION ALL SELECT ib, ia, pair_cnt FROM pairs)
        |SELECT ante, cons, pair_cnt,
        |  round(pair_cnt / nb.nb + 1e-9, 4) AS support,
        |  round(pair_cnt / CAST(ca.ci AS DOUBLE) + 1e-9, 4)
        |    AS confidence,
        |  round(pair_cnt * nb.nb / CAST(ca.ci * cc.ci AS DOUBLE)
        |    + 1e-9, 4) AS lift
        |FROM sym JOIN ic ca ON ca.i = sym.ante
        |JOIN ic cc ON cc.i = sym.cons
        |CROSS JOIN nb
        |ORDER BY lift DESC, ante, cons LIMIT 25""".stripMargin)),

    // chi-square significance for co-engagement pairs: the 2×2 basket
    // contingency per staged pair — χ² = N(n11·n00 − n10·n01)² /
    // (ca·cb·(N−ca)·(N−cb)) — promotes q83's lift ranking to a test
    // with a 95% flag; capped counts mirror the pair list's capping
    Query("q233_cooccurrence_chi2", (s, dir) => {
      val capped = operators.Recommend.cappedBaskets(
        t(s, dir, "events").select(col("user_id").as("basket"),
          (col("event_id") % 4000).as("item")),
        "basket", "item", 64)
      val ic = capped.groupBy(col("_i")).agg(count(lit(1)).as("_ci"))
      val nb = capped.agg(countDistinct(col("_b")).as("_nb"))
      // all factors cast to double BEFORE multiplying: the 4-way
      // integer denominator product overflows long at ~1e6 baskets
      val (dn, da, db2, dp) = (col("_nb").cast("double"),
        col("_ca").cast("double"), col("_cb").cast("double"),
        col("pair_cnt").cast("double"))
      val chi2 = dn * pow(dp * (dn - da - db2 + dp)
          - (da - dp) * (db2 - dp), 2) /
        (da * db2 * (dn - da) * (dn - db2))
      coengagementPairs(s, dir)
        .join(ic.select(col("_i").as("item_a"), col("_ci").as("_ca")),
          Seq("item_a"))
        .join(ic.select(col("_i").as("item_b"), col("_ci").as("_cb")),
          Seq("item_b"))
        .crossJoin(broadcast(nb))
        .select(col("item_a"), col("item_b"), col("pair_cnt"),
          round(chi2 + lit(1e-9), 4).as("chi2"),
          (chi2 > 3.841).cast("long").as("significant"))
        .orderBy(col("chi2").desc, col("item_a"), col("item_b"))
        .limit(50)
    },
      // same capped counts and 2×2 χ² in double arithmetic, same
      // (rounded χ² desc, ia, ib) cut
      Oracle(("WITH " + coengagementPairsSql + """,
        |ic AS (SELECT i, count(*) AS c FROM capped GROUP BY i),
        |tot AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS nb
        |  FROM capped),
        |x AS (SELECT ia, ib, pair_cnt,
        |    nb * pow(pair_cnt * (nb - ca.c - cb.c + pair_cnt)
        |        - (ca.c - pair_cnt) * (cb.c - pair_cnt), 2)
        |      / (ca.c * cb.c * (nb - ca.c) * (nb - cb.c)) AS chi2
        |  FROM pairs JOIN ic ca ON ca.i = ia
        |  JOIN ic cb ON cb.i = ib CROSS JOIN tot)
        |SELECT ia AS item_a, ib AS item_b,
        |  CAST(pair_cnt AS BIGINT) AS pair_cnt,
        |  round(chi2 + 1e-9, 4) AS chi2,
        |  CAST(chi2 > 3.841 AS BIGINT) AS significant
        |FROM x ORDER BY round(chi2 + 1e-9, 4) DESC, item_a, item_b
        |LIMIT 50""").stripMargin)),

    // item-item cosine CF (Sarwar et al.) — the memory-based neighbor
    // model next to q117's factor model, over implicit counts (integer
    // ratings ⇒ exact dot/norm sums ⇒ engine-exact cosines). Per-user
    // cap bounds the self-join; k-bounded ranking per item
    Query("q129_item_cf", (s, dir) => {
      val ratings = t(s, dir, "events")
        .select(col("user_id"), (col("event_id") % 50).as("item_id"))
        .groupBy(col("user_id"), col("item_id"))
        .agg(count(lit(1)).as("cnt"))
      Recommend.itemItemCosine(ratings, "user_id", "item_id", "cnt",
          k = 5, maxItemsPerUser = 64)
        .orderBy(col("item_id"), col("rank"))
    },
      // integer counts ⇒ dot/sq are exact integer sums; cos is the fixed
      // correctly-rounded chain dot/(√sqa·√sqb) — bit-identical, so the
      // rank windows agree without rounding tricks; same per-user cap
      Oracle("""WITH r0 AS (SELECT user_id, event_id % 50 AS item_id,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, item_id, cnt FROM (
        |    SELECT user_id, item_id, cnt, row_number() OVER (
        |      PARTITION BY user_id ORDER BY item_id) AS rn
        |    FROM r0) WHERE rn <= 64),
        |n AS (SELECT item_id, CAST(sum(cnt * cnt) AS BIGINT) AS sq
        |  FROM c GROUP BY item_id),
        |d AS (SELECT a.item_id AS i, b.item_id AS j,
        |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
        |  FROM c a JOIN c b
        |    ON a.user_id = b.user_id AND a.item_id < b.item_id
        |  GROUP BY 1, 2),
        |s AS (SELECT d.i, d.j, dot / (sqrt(CAST(na.sq AS DOUBLE))
        |    * sqrt(CAST(nb.sq AS DOUBLE))) AS cos
        |  FROM d JOIN n na ON na.item_id = d.i
        |         JOIN n nb ON nb.item_id = d.j),
        |u AS (SELECT i AS item_id, j AS neighbor_id, cos FROM s
        |  UNION ALL SELECT j, i, cos FROM s)
        |SELECT item_id, neighbor_id, rank, round(cos + 1e-9, 4) AS cos
        |FROM (SELECT item_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY item_id
        |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM u) WHERE rank <= 5
        |ORDER BY item_id, rank""".stripMargin)),

    // market-basket co-occurrence with lift over the co-engagement
    // basket (items a user engaged together): capped basket self-join,
    // pair-keyed aggregate, top-k. The basket cap + corpus-scaled
    // support prune are the 100 TB levers; the events basket is the
    // source whose density survives that support at every SF
    // (coengagementPairs doc — the lineitem basket emptied at sf0.1)
    Query("q83_cooccurrence", (s, dir) =>
      operators.Recommend.cooccurrence(
        t(s, dir, "events").select(col("user_id").as("basket"),
          (col("event_id") % 4000).as("item")),
        "basket", "item", maxBasket = 64, minPairCount = 2L,
        k = 50),
      // identical cap rule (row_number by item id, ≤ 64), lift over the
      // CAPPED co-engagement baskets; bigint/bigint division is double in
      // both engines. The pair-support threshold is the same corpus-scaled
      // max(2, ⌊input rows / 30000⌋) the Spark side computes (a scalar
      // subquery here), so the edge set stays sparse under replication
      Oracle(("WITH " + coengagementPairsSql + """,
        |tot AS (SELECT count(DISTINCT b) AS nb FROM capped),
        |ic AS (SELECT i, count(*) AS c FROM capped GROUP BY i)
        |SELECT ia AS item_a, ib AS item_b,
        |  CAST(pair_cnt AS BIGINT) AS pair_cnt,
        |  round(pair_cnt * nb / (ca.c * cb.c) + 1e-9, 4) AS lift
        |FROM pairs JOIN ic ca ON ca.i = ia
        |  JOIN ic cb ON cb.i = ib CROSS JOIN tot
        |ORDER BY pair_cnt DESC, item_a, item_b LIMIT 50""").stripMargin))
  )

  /** Flagship query (reference pipeline shape, `model-als.py:141-158`):
    * per-item community average → broadcast-join metadata → filter
    * category → top-5. [[graft.SparkEntry.entry]] runs it on sf0.001.
    */
  private[graft] def q01(s: SparkSession, dir: String): DataFrame =
    Recommend.topRatedByCategory(
      ratings = t(s, dir, "lineitem"), items = t(s, dir, "part"),
      itemKey = "l_partkey", ratingCol = "l_quantity", itemsKey = "p_partkey",
      categoryFilter = col("p_type") === "PROMO",
      select = Seq(col("p_partkey"), col("p_name"), col("p_brand")),
      k = 5, tieBreak = col("p_partkey"))

  /** q203's session-style covisitation recs, factored out so q217 can
    * evaluate the recommender it produces: per item, the top-5 items
    * whose views/clicks FOLLOW it within 30 minutes by the same user,
    * scored by time-decayed co-occurrence Σ 1/(1+Δmin). The
    * time-bounded self-join rides rangeJoinBucketed (per-band occupancy
    * products, never a per-user cross product); pair scores collapse
    * onto the ≤|items|² frame; top-5 is the k-bounded
    * TopKScoredAggregator on the ROUNDED score. `until` caps the
    * training window for the q253 temporal backtest — None keeps the
    * full corpus (the q203/q217 production lists).
    */
  private def covisitationTop5(s: SparkSession, dir: String,
                               until: Option[String] = None): DataFrame = {
    val ev0 = t(s, dir, "events")
      .filter(col("event_type").isin("view", "click"))
    val ev = until.fold(ev0)(c => ev0.filter(col("ts") < lit(c).cast("timestamp")))
      .select(col("user_id"), (col("event_id") % 4000).as("item"),
        col("ts"))
    val scored = operators.Relational.rangeJoinBucketed(
        ev.select(col("user_id"), col("item").as("item_a"),
          col("ts").as("ts_a")),
        ev.select(col("user_id"), col("item").as("item_b"),
          col("ts").as("ts_b")),
        Seq("user_id"), "ts_a", "ts_b", 30L * 60 * 1000000L)
      .filter(col("item_a") =!= col("item_b"))
      .select(col("item_a"), col("item_b"),
        (lit(1.0) / (lit(1.0)
          + (unix_micros(col("ts_b")) - unix_micros(col("ts_a")))
            / lit(6e7))).as("_w"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(round(sum(col("_w")) + lit(1e-9), 4).as("_score"))
    operators.Relational.topKPerGroupAgg(scored, k = 5,
        groupCols = Seq("item_a"), score = col("_score"),
        id = col("item_b"), scoreName = "score", idName = "item_b")
      .orderBy(col("item_a"), col("rank"))
  }
}
