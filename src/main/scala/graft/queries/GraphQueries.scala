package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.core.Staging

/** The graph family: walks, components and neighbourhood statistics over
  * the co-engagement item graph, through [[graft.ext.Graph]].
  */
object GraphQueries {

  val all: Seq[Query] = Seq(
    // 3-core of the co-engagement graph: iterative peel until
    // fixpoint (Graph.kCore — one kernel round + one small count per
    // peel), membership + in-core degree; the dense-community
    // cut next to q96's triangles and q100's label-prop, on the same
    // staged pair list. Oracle unrolls 8 peel rounds (fixpoint in 6
    // at sf0.01, 2 at sf0.1 — monotone, so extra rounds are no-ops)
    Query("q202_kcore", (s, dir) =>
      ext.Graph.kCore(coengagementPairs(s, dir), "item_a", "item_b",
          k = 3)
        .orderBy(col("id")),
      // 8 unrolled peel rounds over the shared co-engagement pair CTE.
      // Every aN references sym and its predecessor TWICE, so each CTE
      // carries AS MATERIALIZED: inlined, the reference tree doubles per
      // round and the 8-round plan explodes ~2^8 copies of the pair join
      // (observed: the un-hinted oracle ran minutes at sf0.1; hinted,
      // sub-second). The final select recomputes in-core degrees over
      // the fixpoint set
      Oracle(("WITH " + coengagementPairsSql + """,
        |sym AS MATERIALIZED (SELECT ia AS a, ib AS b FROM pairs
        |        UNION ALL SELECT ib, ia FROM pairs),
        |a0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM sym),
        |a1 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a0 x ON s.a = x.id
        |  JOIN a0 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a2 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a1 x ON s.a = x.id
        |  JOIN a1 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a3 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a2 x ON s.a = x.id
        |  JOIN a2 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a4 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a3 x ON s.a = x.id
        |  JOIN a3 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a5 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a4 x ON s.a = x.id
        |  JOIN a4 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a6 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a5 x ON s.a = x.id
        |  JOIN a5 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a7 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a6 x ON s.a = x.id
        |  JOIN a6 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3),
        |a8 AS MATERIALIZED (SELECT s.a AS id FROM sym s
        |  JOIN a7 x ON s.a = x.id
        |  JOIN a7 y ON s.b = y.id GROUP BY s.a HAVING count(*) >= 3)
        |SELECT s.a AS id, CAST(count(*) AS BIGINT) AS core_degree
        |FROM sym s JOIN a8 x ON s.a = x.id JOIN a8 y ON s.b = y.id
        |GROUP BY s.a ORDER BY id""").stripMargin)),

    // Adamic–Adar link prediction: top-50 non-adjacent item pairs by
    // Σ 1/ln(deg(shared neighbor)) — the "what edge forms next"
    // candidate generator over the staged co-engagement graph. One
    // Σ deg² wedge join (triangle-stream-bounded), anti-join vs the
    // edge list, k-bounded global cut
    Query("q204_adamic_adar", (s, dir) =>
      ext.Graph.adamicAdar(coengagementPairs(s, dir), "item_a", "item_b",
          k = 50)
        .select(col("a").as("item_a"), col("b").as("item_b"),
          col("n_common"), col("score")),
      // same symmetrized wedge enumeration (shared neighbor = join key),
      // NOT EXISTS anti vs the canonical a<b pair list, identical
      // (rounded score desc, a, b) global cut
      Oracle(("WITH " + coengagementPairsSql + """,
        |sym AS (SELECT ia AS a, ib AS b FROM pairs
        |        UNION ALL SELECT ib, ia FROM pairs),
        |deg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
        |wed AS (SELECT x.b AS a, y.b AS b, x.a AS cn FROM sym x
        |  JOIN sym y ON x.a = y.a AND x.b < y.b),
        |sc AS (SELECT wed.a, wed.b, count(*) AS n_common,
        |    round(sum(1.0 / ln(deg.d)) + 1e-9, 4) AS score
        |  FROM wed JOIN deg ON deg.a = wed.cn
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
        |    WHERE p.ia = wed.a AND p.ib = wed.b)
        |  GROUP BY 1, 2)
        |SELECT a AS item_a, b AS item_b,
        |  CAST(n_common AS BIGINT) AS n_common, score
        |FROM sc ORDER BY score DESC, a, b LIMIT 50""").stripMargin)),

    // per-node local clustering coefficient: 2·tri/(d·(d−1)) — how
    // clique-like each item's neighborhood is; q96's triangle stream
    // kept per-vertex instead of globally summed
    Query("q205_clustering_coeff", (s, dir) =>
      ext.Graph.localClustering(coengagementPairs(s, dir),
        "item_a", "item_b"),
      // same ordered a<b<c triangle enumeration, 3-way vertex unpivot,
      // degree from the symmetrized pair list
      Oracle(("WITH " + coengagementPairsSql + """,
        |e AS (SELECT ia AS a, ib AS b FROM pairs),
        |tri AS (SELECT x.a, x.b, y.b AS c FROM e x
        |  JOIN e y ON x.b = y.a
        |  JOIN e z ON z.a = x.a AND z.b = y.b),
        |tpn AS (SELECT id, count(*) AS n_tri FROM (
        |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) t GROUP BY id),
        |deg AS (SELECT id, count(*) AS degree FROM (
        |    SELECT a AS id FROM e UNION ALL SELECT b FROM e) t
        |  GROUP BY id)
        |SELECT deg.id, CAST(degree AS BIGINT) AS degree,
        |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
        |  round(2.0 * COALESCE(n_tri, 0) / (degree * (degree - 1))
        |    + 1e-9, 4) AS coeff
        |FROM deg LEFT JOIN tpn ON tpn.id = deg.id
        |WHERE degree >= 2 ORDER BY deg.id""").stripMargin)),

    // modularity of the 2-round label-prop partition: per-community
    // Q-contribution e_c/m − (d_c/2m)² — the standard partition-quality
    // score over q100's communities; three |V|/|C|-bounded aggregates
    // plus a broadcast 1-row edge total
    Query("q206_modularity", (s, dir) => {
      val pairs = coengagementPairs(s, dir)
      val labels = ext.Graph.labelPropagation(
        coengagementEdges(s, dir), iters = 2)
      val deg = pairs.select(col("item_a").as("id"))
        .unionByName(pairs.select(col("item_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("_d"))
      val mTot = pairs.agg(count(lit(1)).as("_m"))
      val mem = labels.join(deg, Seq("id"))
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"), sum(col("_d")).as("deg_sum"))
      val intra = pairs
        .join(labels.select(col("id").as("item_a"), col("label").as("_la")),
          Seq("item_a"))
        .join(labels.select(col("id").as("item_b"), col("label").as("_lb")),
          Seq("item_b"))
        .filter(col("_la") === col("_lb"))
        .groupBy(col("_la").as("community"))
        .agg(count(lit(1)).as("intra_edges"))
      mem.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(mTot))
        .select(col("community"), col("n_members"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("deg_sum"),
          // + 0.0 canonicalizes -0.0 (tiny negative contributions round
          // to negative zero in some engines; the driver compares BITS)
          (round(coalesce(col("intra_edges"), lit(0L)) / col("_m")
            - pow(col("deg_sum") / (lit(2.0) * col("_m")), 2) + lit(1e-9),
            4) + lit(0.0)).as("q_contrib"))
        .orderBy(col("community"))
    },
      // q100's two unrolled label-prop rounds verbatim, then the
      // modularity decomposition over the final labels. The chained
      // multi-referenced CTEs are MATERIALIZED: DuckDB otherwise
      // re-inlines each reference, and this five-layer chain re-evaluated
      // the base pair join ~3^depth times — at the 30x sweep corpus that
      // meant >75 GB of spilled temp and no termination, on CTEs that
      // were all EMPTY (the round-12 find; same oracle-side-formulation
      // class as r11's quadratic all-pairs rewrites)
      Oracle(("WITH " + coengagementPairsSql + """,
        |edges AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM pairs
        |          UNION ALL SELECT ib, ia FROM pairs),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges
        |          UNION SELECT DISTINCT dst AS id FROM edges),
        |l0 AS (SELECT id, id AS lbl FROM nodes),
        |c1 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT nd.id, COALESCE(a.lbl, nd.id) AS lbl
        |  FROM nodes nd LEFT JOIN (SELECT id, lbl FROM (
        |    SELECT id, lbl, row_number() OVER (PARTITION BY id
        |      ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1) a
        |  ON a.id = nd.id),
        |c2 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT nd.id, COALESCE(a.lbl, nd.id) AS lbl
        |  FROM nodes nd LEFT JOIN (SELECT id, lbl FROM (
        |    SELECT id, lbl, row_number() OVER (PARTITION BY id
        |      ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1) a
        |  ON a.id = nd.id),
        |m AS (SELECT count(*) AS m FROM pairs),
        |deg AS (SELECT id, count(*) AS d FROM (
        |    SELECT ia AS id FROM pairs UNION ALL SELECT ib FROM pairs) t
        |  GROUP BY id),
        |mem AS (SELECT l2.lbl AS community, count(*) AS n_members,
        |    sum(deg.d) AS deg_sum
        |  FROM l2 JOIN deg ON deg.id = l2.id GROUP BY 1),
        |intra AS (SELECT la.lbl AS community, count(*) AS intra_edges
        |  FROM pairs JOIN l2 la ON la.id = pairs.ia
        |  JOIN l2 lb ON lb.id = pairs.ib
        |  WHERE la.lbl = lb.lbl GROUP BY 1)
        |SELECT mem.community, CAST(n_members AS BIGINT) AS n_members,
        |  CAST(COALESCE(intra_edges, 0) AS BIGINT) AS intra_edges,
        |  CAST(deg_sum AS BIGINT) AS deg_sum,
        |  round(COALESCE(intra_edges, 0) * 1.0 / m.m
        |    - pow(deg_sum / (2.0 * m.m), 2) + 1e-9, 4) + 0.0 AS q_contrib
        |FROM mem LEFT JOIN intra ON intra.community = mem.community
        |CROSS JOIN m ORDER BY mem.community""").stripMargin)),

    // neighbor-set Jaccard per existing edge (SCAN-style structural
    // similarity): shared neighbors / union of neighborhoods minus the
    // endpoints — AA's wedge stream inner-joined back onto the edges
    Query("q207_neighbor_jaccard", (s, dir) =>
      ext.Graph.neighborJaccard(coengagementPairs(s, dir),
          "item_a", "item_b")
        .select(col("a").as("item_a"), col("b").as("item_b"),
          col("n_common"), col("jaccard")),
      // same wedge counts inner-joined to the edge list; union size =
      // da + db − common − 2 (endpoints excluded), 0-guarded
      Oracle(("WITH " + coengagementPairsSql + """,
        |sym AS (SELECT ia AS a, ib AS b FROM pairs
        |        UNION ALL SELECT ib, ia FROM pairs),
        |deg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
        |cn AS (SELECT x.b AS a, y.b AS b, count(*) AS n_common
        |  FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
        |  GROUP BY 1, 2)
        |SELECT p.ia AS item_a, p.ib AS item_b,
        |  CAST(COALESCE(cn.n_common, 0) AS BIGINT) AS n_common,
        |  round(CASE WHEN da.d + db.d - COALESCE(cn.n_common, 0) - 2 <= 0
        |      THEN 0.0
        |      ELSE COALESCE(cn.n_common, 0) * 1.0
        |        / (da.d + db.d - COALESCE(cn.n_common, 0) - 2) END
        |    + 1e-9, 4) AS jaccard
        |FROM pairs p LEFT JOIN cn ON cn.a = p.ia AND cn.b = p.ib
        |JOIN deg da ON da.a = p.ia JOIN deg db ON db.a = p.ib
        |ORDER BY item_a, item_b""").stripMargin)),

    // degree inequality of the co-engagement graph: exact Gini over
    // node degrees (rank formulation on the |nodes|-bounded frame) —
    // network centralization: is engagement structure hub-dominated
    // or flat. Empty graph at tiny SF → a zero-node row, like q260
    Query("q293_degree_gini", (s, dir) => {
      val pairs = coengagementPairs(s, dir)
      val deg = pairs.select(col("item_a").as("id"))
        .unionByName(pairs.select(col("item_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("_d"))
      val w = Window.orderBy(col("_d"), col("id"))
      deg.withColumn("_rk", row_number().over(w))
        .agg(count(lit(1)).as("n_nodes"),
          round(avg(col("_d")) + lit(1e-9), 4).as("mean_degree"),
          round((lit(2.0) * sum(col("_rk") * col("_d"))
            - (count(lit(1)) + 1) * sum(col("_d")))
            / (count(lit(1)) * sum(col("_d"))) + lit(1e-9), 4)
            .as("degree_gini"))
    },
      // same symmetrized degrees + rank-formulation exact Gini
      Oracle(("WITH " + coengagementPairsSql + """,
        |deg AS (SELECT id, count(*) AS d FROM (
        |    SELECT ia AS id FROM pairs
        |    UNION ALL SELECT ib FROM pairs) u GROUP BY 1),
        |rk AS (SELECT id, d, row_number() OVER (ORDER BY d, id)
        |    AS r FROM deg)
        |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  round(avg(d) + 1e-9, 4) AS mean_degree,
        |  round((2.0 * sum(r * d) - (count(*) + 1) * sum(d))
        |    / (count(*) * sum(d)) + 1e-9, 4) AS degree_gini
        |FROM rk""").stripMargin)),

    // local bridges (Granovetter): co-engagement edges closing NO
    // triangle (zero common neighbors) — the weak-tie share of the
    // graph, plus the embeddedness contrast. One aggregate over
    // q207's neighbor-Jaccard frame; empty graph → a zero-count row
    Query("q260_local_bridges", (s, dir) =>
      ext.Graph.neighborJaccard(coengagementPairs(s, dir),
          "item_a", "item_b")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("n_common") === 0, 1L).otherwise(0L))
            .as("n_local_bridges"),
          round(avg(when(col("n_common") === 0, 1.0).otherwise(0.0))
            + lit(1e-9), 4).as("bridge_share"),
          round(avg(when(col("n_common") > 0, col("jaccard")))
            + lit(1e-9), 4).as("mean_jaccard_embedded")),
      // q207's frame collapsed to the weak-tie aggregate
      Oracle(("WITH " + coengagementPairsSql + """,
        |sym AS (SELECT ia AS a, ib AS b FROM pairs
        |        UNION ALL SELECT ib, ia FROM pairs),
        |deg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
        |cn AS (SELECT x.b AS a, y.b AS b, count(*) AS n_common
        |  FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
        |  GROUP BY 1, 2),
        |nj AS (SELECT p.ia, p.ib,
        |    COALESCE(cn.n_common, 0) AS n_common,
        |    round(CASE WHEN da.d + db.d - COALESCE(cn.n_common, 0)
        |        - 2 <= 0 THEN 0.0
        |      ELSE COALESCE(cn.n_common, 0) * 1.0
        |        / (da.d + db.d - COALESCE(cn.n_common, 0) - 2) END
        |      + 1e-9, 4) AS jaccard
        |  FROM pairs p LEFT JOIN cn ON cn.a = p.ia AND cn.b = p.ib
        |  JOIN deg da ON da.a = p.ia JOIN deg db ON db.a = p.ib)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(CASE WHEN n_common = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_local_bridges,
        |  round(avg(CASE WHEN n_common = 0 THEN 1.0 ELSE 0.0 END)
        |    + 1e-9, 4) AS bridge_share,
        |  round(avg(CASE WHEN n_common > 0 THEN jaccard END)
        |    + 1e-9, 4) AS mean_jaccard_embedded
        |FROM nj""").stripMargin)),

    // HITS hubs-and-authorities over the bipartite user→item engagement
    // graph: authorities = consensus items (engaged by good curator
    // hubs), the mutual-recursion power iteration next to q86's
    // PageRank. Top-20 authorities, 6-dp L1-normalized scores
    Query("q162_hits_authorities", (s, dir) => {
      // the distinct bipartite edge list is corpus-snapshot setup —
      // staged like the pair lists (built once per events fingerprint)
      val e = Staging.frame(s, dir, "events", "bipartite") {
        t(s, dir, "events")
          .select(concat(lit("u"), col("user_id")).as("src"),
            concat(lit("i"), col("event_id") % 4000).as("dst"))
          .distinct()
      }
      val h = ext.Graph.hits(e, iters = 2)
      // q86's pr_scaled convention: ×N puts the near-uniform L1 scores
      // at mean ~1, where the 4-dp round is ordering-stable cross-engine
      h.join(broadcast(h.agg(count(lit(1)).as("_n"))))
        .filter(col("id").startsWith("i"))
        .select(col("id").substr(lit(2), lit(100)).cast("long")
            .as("item_id"),
          round(col("authority") * col("_n") + lit(1e-9), 4)
            .as("auth_scaled"))
        .orderBy(col("auth_scaled").desc, col("item_id")).limit(20)
    },
      // two unrolled RAW HITS iterations (normalization commutes through
      // the linear steps, so it happens once at the end — mirroring the
      // Spark loop's chain exactly), ×N scaling before the 4-dp round
      Oracle("""WITH e AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR)
        |    AS src, 'i' || CAST(event_id % 4000 AS VARCHAR) AS dst
        |  FROM events),
        |nodes AS (SELECT DISTINCT src AS id FROM e
        |          UNION SELECT DISTINCT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |h0 AS (SELECT DISTINCT src AS id, 1.0 AS h FROM e),
        |a1r AS (SELECT e.dst AS id, sum(h.h) AS a
        |  FROM e JOIN h0 h ON h.id = e.src GROUP BY e.dst),
        |h1r AS (SELECT e.src AS id, sum(r.a) AS h
        |  FROM e JOIN a1r r ON r.id = e.dst GROUP BY e.src),
        |a2r AS (SELECT e.dst AS id, sum(r.h) AS a
        |  FROM e JOIN h1r r ON r.id = e.src GROUP BY e.dst),
        |at AS (SELECT sum(a) AS t FROM a2r)
        |SELECT CAST(substr(nd.id, 2) AS BIGINT) AS item_id,
        |  round(COALESCE(r.a, 0) / at.t * nn.n + 1e-9, 4) AS auth_scaled
        |FROM nodes nd CROSS JOIN at CROSS JOIN nn
        |  LEFT JOIN a2r r ON r.id = nd.id
        |WHERE nd.id LIKE 'i%'
        |ORDER BY auth_scaled DESC, item_id LIMIT 20""".stripMargin)),

    // edge-weighted PageRank over the co-engagement graph (pair_cnt
    // weights): the walk follows strong ties preferentially — q86's
    // unweighted variant treats a 40-user tie like a 3-user one. Same
    // staged pair list, same ×N scaling convention
    Query("q174_pagerank_weighted", (s, dir) => {
      val pairs = coengagementPairs(s, dir)
      val edges = pairs.select(col("item_a").as("src"),
          col("item_b").as("dst"), col("pair_cnt").as("w"))
        .unionByName(pairs.select(col("item_b").as("src"),
          col("item_a").as("dst"), col("pair_cnt").as("w")))
      ext.Graph.pageRankWeighted(edges, iters = 2)
        .select(col("id").as("item"),
          round(col("pr_scaled") + lit(1e-9), 4).as("pr_scaled"))
        .orderBy(col("pr_scaled").desc, col("item")).limit(20)
    },
      // q86's unrolled-iteration oracle with w/Σw transitions; the
      // contribution chain ((0.85·pr)·w)/Σw is kept verbatim so only
      // float sum order differs
      Oracle(("WITH " + coengagementPairsSql + """,
        |edges AS (SELECT ia AS src, ib AS dst, pair_cnt AS w FROM pairs
        |          UNION ALL SELECT ib, ia, pair_cnt FROM pairs),
        |ow AS (SELECT src, sum(w) AS wt FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS id FROM edges
        |          UNION SELECT DISTINCT dst AS id FROM edges),
        |n AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT id, 1.0 / n.n AS pr FROM nodes, n),
        |s1 AS (SELECT e.dst AS id, sum(0.85 * r.pr * e.w / o.wt) AS s
        |  FROM edges e JOIN ow o ON o.src = e.src
        |    JOIN r0 r ON r.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nd.id, (1 - 0.85) / n.n + COALESCE(s1.s, 0)
        |    AS pr FROM nodes nd CROSS JOIN n
        |  LEFT JOIN s1 ON s1.id = nd.id),
        |s2 AS (SELECT e.dst AS id, sum(0.85 * r.pr * e.w / o.wt) AS s
        |  FROM edges e JOIN ow o ON o.src = e.src
        |    JOIN r1 r ON r.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nd.id, (1 - 0.85) / n.n + COALESCE(s2.s, 0)
        |    AS pr FROM nodes nd CROSS JOIN n
        |  LEFT JOIN s2 ON s2.id = nd.id)
        |SELECT id AS item, round(pr * n.n + 1e-9, 4) AS pr_scaled
        |FROM r2, n ORDER BY pr_scaled DESC, item LIMIT 20""").stripMargin)),

    // degree assortativity of the item graph (Newman 2002): do hubs
    // attach to hubs? One degree aggregate + two endpoint joins + corr
    // over exact integer degrees
    Query("q175_assortativity", (s, dir) =>
      ext.Graph.degreeAssortativity(coengagementPairs(s, dir),
          "item_a", "item_b")
        .select(col("n_directed_edges"),
          round(col("assortativity") + lit(1e-9), 4).as("assortativity")),
      // same symmetrized degree decoration and sample Pearson corr
      Oracle(("WITH " + coengagementPairsSql + """,
        |sym AS (SELECT ia AS a, ib AS b FROM pairs
        |        UNION ALL SELECT ib, ia FROM pairs),
        |deg AS (SELECT a AS id, count(*) AS d FROM sym GROUP BY a)
        |SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
        |  round(corr(da.d, db.d) + 1e-9, 4) AS assortativity
        |FROM sym JOIN deg da ON da.id = sym.a
        |  JOIN deg db ON db.id = sym.b""").stripMargin)),

    // random-walk-with-restart item scores for one user over the
    // symmetrized count-weighted user–item graph — the Pixie-style
    // graph-walk recommender next to q129's item-CF cosine
    Query("q148_ppr_recs", (s, dir) => {
      // the count-weighted user–item edge list is corpus-snapshot setup
      // — staged like q162's bipartite list (built once per events
      // fingerprint), so a swept-cold call pays a parquet scan + the
      // walk, not the full-corpus aggregate
      val c = Staging.frame(s, dir, "events", "ppr_ui") {
        t(s, dir, "events")
          .groupBy(concat(lit("u"), col("user_id")).as("u"),
            concat(lit("i"), col("event_id") % 50).as("i"))
          .agg(count(lit(1)).as("w"))
      }
      val edges = c.select(col("u").as("src"), col("i").as("dst"), col("w"))
        .unionByName(
          c.select(col("i").as("src"), col("u").as("dst"), col("w")))
      val seeds = s.range(1).select(lit("u1").as("id"))
      ext.Graph.personalizedPageRank(edges, seeds, iters = 3)
        .filter(col("id").startsWith("i"))
        .select(col("id").substr(lit(2), lit(100)).cast("long")
            .as("item_id"),
          round(col("ppr") + lit(1e-9), 6).as("ppr"))
        .orderBy(col("item_id"))
    },
      // three unrolled r' = 0.15·e + 0.85·Σ r·w/W steps with the same
      // left-associated multiply chain; reached-nodes-only both engines
      Oracle("""WITH c AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS u,
        |    'i' || CAST(event_id % 50 AS VARCHAR) AS i,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT u AS src, i AS dst, w FROM c
        |  UNION ALL SELECT i, u, w FROM c),
        |o AS (SELECT src, sum(w) AS ww FROM e GROUP BY 1),
        |r0 AS (SELECT 'u1' AS id, 1.0 AS v),
        |r1 AS (SELECT id, sum(v) AS v FROM (
        |  SELECT e.dst AS id, 0.85 * r.v * e.w / o.ww AS v
        |  FROM r0 r JOIN e ON r.id = e.src JOIN o ON e.src = o.src
        |  UNION ALL SELECT 'u1', 0.15) GROUP BY 1),
        |r2 AS (SELECT id, sum(v) AS v FROM (
        |  SELECT e.dst AS id, 0.85 * r.v * e.w / o.ww AS v
        |  FROM r1 r JOIN e ON r.id = e.src JOIN o ON e.src = o.src
        |  UNION ALL SELECT 'u1', 0.15) GROUP BY 1),
        |r3 AS (SELECT id, sum(v) AS v FROM (
        |  SELECT e.dst AS id, 0.85 * r.v * e.w / o.ww AS v
        |  FROM r2 r JOIN e ON r.id = e.src JOIN o ON e.src = o.src
        |  UNION ALL SELECT 'u1', 0.15) GROUP BY 1)
        |SELECT CAST(substr(id, 2) AS BIGINT) AS item_id,
        |  round(v + 1e-9, 6) AS ppr
        |FROM r3 WHERE id LIKE 'i%' ORDER BY item_id""".stripMargin)),

    // label-propagation communities over the item graph: 2 synchronous
    // rounds of majority-label adoption (count desc, label asc
    // tie-break), community size histogram out
    Query("q100_label_communities", (s, dir) => {
      // staged pair list (coengagementPairs): q86, q96, q141, and both
      // bench passes read the same fingerprint-keyed parquet
      ext.Graph.labelPropagation(coengagementEdges(s, dir), iters = 2)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("community"))
    },
      // same symmetrized pairs and (count desc, label asc) adoption rule,
      // two unrolled rounds; no-in-edge nodes keep their label (vacuous
      // on the symmetric graph but part of the operator contract)
      Oracle(("WITH " + coengagementPairsSql + """,
        |edges AS (SELECT ia AS src, ib AS dst FROM pairs
        |          UNION ALL SELECT ib, ia FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges
        |          UNION SELECT DISTINCT dst AS id FROM edges),
        |l0 AS (SELECT id, id AS lbl FROM nodes),
        |c1 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
        |l1 AS (SELECT nd.id, COALESCE(a.lbl, nd.id) AS lbl
        |  FROM nodes nd LEFT JOIN (SELECT id, lbl FROM (
        |    SELECT id, lbl, row_number() OVER (PARTITION BY id
        |      ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1) a
        |  ON a.id = nd.id),
        |c2 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |  FROM edges e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
        |l2 AS (SELECT nd.id, COALESCE(a.lbl, nd.id) AS lbl
        |  FROM nodes nd LEFT JOIN (SELECT id, lbl FROM (
        |    SELECT id, lbl, row_number() OVER (PARTITION BY id
        |      ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1) a
        |  ON a.id = nd.id)
        |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
        |FROM l2 GROUP BY lbl ORDER BY community""").stripMargin)),

    // triangle count over the item-affinity graph: ordered wedge join
    // (a<b<c) counts each triangle once with hub-capped fan-out. The
    // edge list's support threshold scales with corpus (basketPairs
    // rowsPerSupport default) — the fix for the round-5 12×-at-10×
    // densification: replicated facts inflate pair counts linearly, so
    // a FIXED threshold admits the whole tail and Σ out-deg² explodes
    Query("q96_triangle_count", (s, dir) =>
      ext.Graph.triangleCount(coengagementPairs(s, dir),
        "item_a", "item_b"),
      // same capped co-engagement pair list and a<b<c wedge orientation
      Oracle(("WITH " + coengagementPairsSql + """,
        |w AS (SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
        |  FROM pairs e1 JOIN pairs e2 ON e1.ib = e2.ia)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM w JOIN pairs e ON w.a = e.ia AND w.c = e.ib""").stripMargin)),

    // multi-source BFS over the item graph: min hop from any seed item
    // (id < 200), capped at 3 — reachability/blast-radius, the
    // frontier-driven loop. Oracle is a DuckDB recursive CTE (UNION
    // dedup bounds the walk) + min(hop)
    Query("q141_bfs_hops", (s, dir) => {
      val edges = coengagementEdges(s, dir)
      val seeds = edges.select(col("src").as("id"))
        .filter(col("id") < 200).distinct()
      ext.Graph.bfsHops(edges, seeds, maxHops = 3)
        .groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"),
          sum(col("id")).as("sum_ids"))
        .orderBy(col("hop"))
    },
      // same basket-pair edge list as q86; the recursive walk dedups
      // (id, hop) rows (UNION recursion) so it is bounded by |V|·hops;
      // min(hop) = BFS distance; membership pinned by the sum_ids checksum
      Oracle(("WITH RECURSIVE " + coengagementPairsSql + """,
        |edges AS (SELECT ia AS src, ib AS dst FROM pairs
        |          UNION ALL SELECT ib, ia FROM pairs),
        |walk(id, hop) AS (
        |  SELECT DISTINCT src AS id, 0 AS hop FROM edges WHERE src < 200
        |  UNION
        |  SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON e.src = w.id
        |  WHERE w.hop < 3),
        |m AS (SELECT id, min(hop) AS hop FROM walk GROUP BY id)
        |SELECT CAST(hop AS BIGINT) AS hop,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(id) AS BIGINT) AS sum_ids
        |FROM m GROUP BY 1 ORDER BY hop""").stripMargin)),

    // PageRank centrality over the item-affinity graph (symmetrized
    // q83 pair list), 2 fixed iterations; output scaled by N (mean 1.0)
    // and rounded so the top-20 ordering is engine-stable
    Query("q86_pagerank", (s, dir) => {
      // staged pair list (coengagementPairs): q96, q100, q141, and both
      // bench passes read the same fingerprint-keyed parquet
      ext.Graph.pageRank(coengagementEdges(s, dir), iters = 2)
        .select(col("id").as("item"),
          round(col("pr_scaled") + lit(1e-9), 4).as("pr_scaled"))
        .orderBy(col("pr_scaled").desc, col("item")).limit(20)
    },
      // same capped pair list as q83, symmetrized; two unrolled PageRank
      // iterations with the identical arithmetic ((1 - 0.85)/n teleport,
      // COALESCE(·,0) for in-degree-0 nodes); scaled by N and rounded
      Oracle(("WITH " + coengagementPairsSql + """,
        |edges AS (SELECT ia AS src, ib AS dst FROM pairs
        |          UNION ALL SELECT ib, ia FROM pairs),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS id FROM edges
        |          UNION SELECT DISTINCT dst AS id FROM edges),
        |n AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT id, 1.0 / n.n AS pr FROM nodes, n),
        |s1 AS (SELECT e.dst AS id, sum(r.pr / d.d) AS s
        |  FROM edges e JOIN deg d ON d.src = e.src
        |    JOIN r0 r ON r.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nd.id, (1 - 0.85) / n.n + 0.85 * COALESCE(s1.s, 0)
        |    AS pr FROM nodes nd CROSS JOIN n
        |  LEFT JOIN s1 ON s1.id = nd.id),
        |s2 AS (SELECT e.dst AS id, sum(r.pr / d.d) AS s
        |  FROM edges e JOIN deg d ON d.src = e.src
        |    JOIN r1 r ON r.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nd.id, (1 - 0.85) / n.n + 0.85 * COALESCE(s2.s, 0)
        |    AS pr FROM nodes nd CROSS JOIN n
        |  LEFT JOIN s2 ON s2.id = nd.id)
        |SELECT id AS item, round(pr * n.n + 1e-9, 4) AS pr_scaled
        |FROM r2, n ORDER BY pr_scaled DESC, item LIMIT 20""").stripMargin))
  )
}
