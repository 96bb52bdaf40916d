package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.core.Staging
import graft.operators.Relational
import graft.sources.Tables

/** The relational family: joins, set operations, windows, time-series
  * and catalog aggregates over the TPC-H-shaped tables and events,
  * through [[graft.operators.Relational]], [[graft.plans.AsOfJoin]] or
  * plain DataFrame calls (a query goes in the family of the engine
  * module its build mainly calls).
  */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q02_avg_rating_by_item", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_partkey")),
      Oracle("""SELECT l_partkey, avg(l_quantity) AS avg_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)),

    Query("q03_union_distinct", (s, dir) => {
      val li = t(s, dir, "lineitem")
      def slice(lo: String, hi: String) = li
        .filter(col("l_shipdate") >= to_timestamp(lit(lo)) &&
          col("l_shipdate") < to_timestamp(lit(hi)))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"))
      Relational.unionAll(Seq(
          slice("1997-01-01 00:00:00", "1999-01-01 00:00:00"),
          slice("1998-01-01 00:00:00", "2000-01-01 00:00:00")))
        .distinct()
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_date"))
    },
      Oracle("""SELECT DISTINCT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(l_shipdate AS DATE) AS ship_date
        |FROM (SELECT * FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |      UNION ALL
        |      SELECT * FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '2000-01-01')
        |ORDER BY l_orderkey, l_linenumber, ship_date""".stripMargin)),

    Query("q04_dedup_first_event", (s, dir) =>
      Relational.dedupFirst(t(s, dir, "events"),
          keys = Seq("user_id", "event_type"),
          order = Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type")),
      Oracle("""SELECT user_id, event_type, event_id FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) = 1
        |ORDER BY user_id, event_type""".stripMargin)),

    Query("q05_revenue_by_nation", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      // fact-fact join first (shuffle on orderkey), then the dims.
      // customer is UN-hinted (BroadcastScaleAuditSpec: it scales with
      // the corpus, so a forced broadcast OOMs at target scale — the
      // size-based planner broadcasts it while small and AQE re-decides
      // per scale); nation/region keep the hint (25/5 rows at any SF)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // decimal money sum (the q108 scale-stability class): exact at
        // any corpus size, rounded result cast back to double
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount")).cast("decimal(8,6)")), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("n_name"))
    },
      Oracle("""SELECT r_name, n_name,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(1 - l_discount AS DECIMAL(8,6))), 2) AS DOUBLE)
        |         AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    Query("q06_semi_join_big_spenders", (s, dir) => {
      val cust = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      Oracle("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)),

    Query("q07_anti_join_no_urgent", (s, dir) => {
      val cust = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      cust.join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
      Oracle("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    Query("q11_window_topk_orders", (s, dir) =>
      Relational.topKPerGroup(t(s, dir, "orders"), 3,
          groupCols = Seq("o_custkey"),
          order = Seq(col("o_totalprice").desc, col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank"))
        .orderBy(col("o_custkey"), col("rank")),
      Oracle("""SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
        |  FROM orders) WHERE rank <= 3
        |ORDER BY o_custkey, rank""".stripMargin)),

    Query("q12_running_sum", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // l_quantity as the LAST tie-break (q54's remedy): the synthetic
      // data carries a duplicate (orderkey, linenumber) line, so at
      // bench SF the first three keys genuinely tie and the ROWS-frame
      // cumulative order is engine-ambiguous — caught by the round-10
      // full sf0.1 sweep (one running_qty row differed). With the
      // quantity tie-break, rows still tied are identical in every
      // ordered column, so their cumulative contributions commute.
      // running_qty closes the OUTPUT order too: rows fully tied on
      // the four keys (equal quantity) carry S+q vs S+2q, so without
      // it the emitted sequence is engine-ambiguous even though the
      // window math is not — the final ORDER BY must be a total order
      // on both engines regardless of how the driver compares.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select(col("l_suppkey"), col("l_shipdate").cast("date").as("ship_date"),
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("running_qty"))
        .orderBy(col("l_suppkey"), col("ship_date"), col("l_orderkey"),
          col("l_linenumber"), col("running_qty"))
    },
      Oracle("""SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date, l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       sum(l_quantity) OVER (PARTITION BY l_suppkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber,
        |         running_qty""".stripMargin)),

    // lag/lead + sliding-frame moving average (analytic windows beyond
    // rank/running-sum, SURVEY.md §2.11)
    Query("q54_lag_lead", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // l_quantity as the LAST tie-break: the synthetic data carries a
      // duplicate (orderkey, linenumber) line (the very row q195's
      // uniqueness rule flags), so at bench SF the first three keys
      // genuinely tie and lag/lead would be engine-order ambiguous
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      val frame = w.rowsBetween(-1, 1)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          col("l_shipdate").cast("date").as("ship_date"),
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"),
          round(avg(col("l_quantity")).over(frame) + lit(1e-9), 4)
            .as("moving_avg"))
        // same total-order remedy as q12: rows fully tied on the four
        // keys emit distinct (prev, next) pairs in engine-ambiguous
        // positions; the analytic columns close the output order
        // (asc_nulls_first matches the oracle's explicit NULLS FIRST)
        .orderBy(col("l_suppkey"), col("ship_date"), col("l_orderkey"),
          col("l_linenumber"), col("prev_qty").asc_nulls_first,
          col("next_qty").asc_nulls_first, col("moving_avg"))
    },
      Oracle("""SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date, l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       lag(l_quantity, 1) OVER w AS prev_qty,
        |       lead(l_quantity, 1) OVER w AS next_qty,
        |       round(avg(l_quantity) OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |           l_quantity
        |         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) + 1e-9, 4)
        |         AS moving_avg
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |               l_quantity)
        |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber,
        |         prev_qty NULLS FIRST, next_qty NULLS FIRST,
        |         moving_avg""".stripMargin)),

    Query("q13_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Oracle("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Query("q14_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        // decimal: the cube's global cell sums EVERY order (2.2e10 at
        // sf0.1, 6.8e11 at a 30x sweep) — the q108 stability class
        .agg(round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
          .cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Oracle("""SELECT o_orderstatus, o_orderpriority,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
        |         AS DOUBLE) AS sum_price,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Query("q15_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          |       count(*) AS n
          |FROM gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
          |""".stripMargin)
    },
      Oracle("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Query("q16_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      Oracle("""SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),

    Query("q17_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey")),
      Oracle("""SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin)),

    Query("q18_distinct_counts", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("d_parts"),
          countDistinct(col("l_suppkey")).as("d_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Oracle("""SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_parts,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_supps,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Query("q19_monthly_orders", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double").as("sum_price"))
        .orderBy(col("month")),
      Oracle("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
        |         AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    Query("q20_date_parts", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          date_add(col("o_orderdate").cast("date"), 30).as("due_date"))
        .orderBy(col("o_orderkey")),
      Oracle("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |       CAST(month(o_orderdate) AS BIGINT) AS m,
        |       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |       CAST(o_orderdate AS DATE) + 30 AS due_date
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Query("q55_date_math", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          last_day(col("o_orderdate")).cast("date").as("month_end"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus_3m"))
        .orderBy(col("o_orderkey")),
      Oracle("""SELECT o_orderkey,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(date_diff('day', DATE '1995-01-01',
        |            CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
        |         AS plus_3m
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Query("q56_string_funcs", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("prefix"),
          lpad(col("p_brand"), 12, "_").as("padded"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          levenshtein(col("p_brand"), col("p_type")).cast("long").as("lev"))
        .orderBy(col("p_partkey")),
      Oracle("""SELECT p_partkey, upper(p_name) AS uname,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       substring(p_name, 1, 5) AS prefix,
        |       lpad(p_brand, 12, '_') AS padded,
        |       regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |       CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Query("q21_tumbling_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("string").as("window_start"),
          col("n"), col("sum_value"))
        .orderBy(col("window_start")),
      Oracle("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR)
        |         AS window_start,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin)),

    Query("q22_json_extract", (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("d_users"))
        .orderBy(col("k_bucket")),
      Oracle("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        |         AS k_bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS d_users
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin)),

    Query("q23_vector_norms", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("norm"))
        .orderBy(col("vec_id")),
      Oracle("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       round(sqrt(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // array higher-order battery: filter / exists / aggregate lambdas
    Query("q57_array_hof", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
          exists(col("embedding"), x => x > 0.5f).as("any_big"),
          round(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + abs(x.cast("double"))) + lit(1e-9), 4).as("l1"))
        .orderBy(col("vec_id")),
      Oracle("""SELECT vec_id,
        |       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
        |         AS n_pos,
        |       len(list_filter(embedding, x -> x > 0.5)) > 0 AS any_big,
        |       round(list_sum(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) + 1e-9, 4) AS l1
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Query("q24_explode_vectors", (s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id"),
          explode(col("embedding")).as("val"))
        .select(col("vec_id"), round(col("val").cast("double"), 4).as("v"))
        .orderBy(col("vec_id"), col("v")),
      Oracle("""SELECT vec_id, round(CAST(u.val AS DOUBLE), 4) AS v
        |FROM embeddings, UNNEST(embedding) AS u(val)
        |WHERE vec_id < 10
        |ORDER BY vec_id, v""".stripMargin)),

    // native codegen expression (graft.functions.LangId): one generated
    // static call per row instead of the interpreted 5-language HOF
    // battery — LangIdSpec pins bit-equality with the TextOps algebra
    Query("q28_lang_id", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          graft.functions.LangId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred")),
      Oracle("""WITH h AS (
        |  SELECT lang,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS h_en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','un','una','es','por'))) AS h_es,
        |    len(list_filter(toks, t -> t IN ('le','la','de','et','que','en','un','une','est','pour'))) AS h_fr,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','zu','in','ein','eine','ist','von'))) AS h_de,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我','有','和','就','不','人'))) AS h_zh
        |  FROM (SELECT lang, regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents)),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(h_en,h_es,h_fr,h_de,h_zh) = 0 THEN 'und'
        |       WHEN h_zh = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'zh'
        |       WHEN h_fr = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'fr'
        |       WHEN h_es = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'es'
        |       WHEN h_en = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |  FROM h)
        |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin)),

    Query("q37_session_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(unix_micros(col("session_window.start")).as("session_start"),
          col("user_id"), col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
      // event_id tie-break on the session windows: tied rows can't open
      // a session (gap 0 < 30 min) so the VALUES are tie-insensitive,
      // but DuckDB's multi-threaded window path returned a different
      // session count per run on the 10× duplicated-ts corpus
      // (95468/95470 vs the forced 95465) until the order was made
      // total — the q104 find, same remedy (round-11 10× sweep)
      Oracle("""WITH x AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |           value FROM events),
        |y AS (SELECT user_id, event_id, uts, value,
        |        CASE WHEN lag(uts) OVER w IS NULL
        |               OR uts - lag(uts) OVER w >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM x WINDOW w AS (PARTITION BY user_id
        |        ORDER BY uts, event_id)),
        |z AS (SELECT user_id, uts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM y)
        |SELECT epoch_us(min(uts)) AS session_start, user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM z GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // latest prior view per purchase — union+window as-of join (one
    // shuffle on user_id, no candidate-pair explosion)
    Query("q39_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")) // as-of needs unique (key, ts)
        .agg(max(col("event_id")).as("view_event_id"))
      operators.Relational.asofJoin(purchases, views, Seq("user_id"),
          "ts", "ts",
          Seq(("view_event_id", "view_event_id"), ("ts", "view_ts")))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("view_event_id"),
          unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      Oracle("""WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts,
        |             max(event_id) AS view_event_id
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, epoch_us(p.uts) AS ts_us,
        |       v.view_event_id, epoch_us(v.vts) AS view_ts_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.uts >= v.vts
        |ORDER BY p.user_id, ts_us, p.event_id""".stripMargin)),

    // same as-of semantics as q39, but through the custom operator stack
    // (AsOfJoinPlan + AsOfJoinStrategy + AsOfJoinExec): single-pass
    // co-partitioned merge instead of union+window
    Query("q52_asof_native", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_event_id"))
        .withColumnRenamed("ts", "vts")
      plans.AsOf.join(purchases, views, Seq("user_id"), "ts", "vts",
          Seq(("view_event_id", "view_event_id"), ("vts", "view_ts")))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("view_event_id"),
          unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      Oracle("""WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts,
        |             max(event_id) AS view_event_id
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, epoch_us(p.uts) AS ts_us,
        |       v.view_event_id, epoch_us(v.vts) AS view_ts_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.uts >= v.vts
        |ORDER BY p.user_id, ts_us, p.event_id""".stripMargin)),

    // as-of with bounded lookback: only views within the last 30 minutes
    // match (kdb-style tolerance on the native operator)
    Query("q53_asof_tolerance", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_event_id"))
        .withColumnRenamed("ts", "vts")
      plans.AsOf.join(purchases, views, Seq("user_id"), "ts", "vts",
          Seq(("view_event_id", "view_event_id")),
          toleranceMicros = 30L * 60 * 1000000)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("view_event_id"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      Oracle("""WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts,
        |             max(event_id) AS view_event_id
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |j AS (SELECT p.user_id, p.event_id, p.uts, v.view_event_id,
        |        row_number() OVER (PARTITION BY p.user_id, p.event_id
        |          ORDER BY v.vts DESC) AS rn
        |      FROM p LEFT JOIN v
        |        ON p.user_id = v.user_id AND v.vts <= p.uts
        |           AND v.vts > p.uts - INTERVAL 30 MINUTE)
        |SELECT user_id, event_id, epoch_us(uts) AS ts_us, view_event_id
        |FROM j WHERE rn = 1
        |ORDER BY user_id, ts_us, event_id""".stripMargin)),

    // clicks within 10 min after each purchase — banded range join
    Query("q40_range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val counts = operators.Relational.rangeJoinBucketed(
          purchases, clicks, Seq("user_id"), "ts", "click_ts",
          gapMicros = 10L * 60 * 1000000)
        .groupBy(col("user_id"), col("event_id"))
        .agg(count(lit(1)).as("n_clicks"))
      purchases
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .join(counts, Seq("user_id", "event_id"), "left")
        .withColumn("n_clicks", coalesce(col("n_clicks"), lit(0L)))
        .orderBy(col("user_id"), col("event_id"))
    },
      Oracle("""WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, epoch_us(p.uts) AS ts_us,
        |       CAST(count(c.cts) AS BIGINT) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.cts >= p.uts
        |     AND c.cts < p.uts + INTERVAL 10 MINUTE
        |GROUP BY 1, 2, 3 ORDER BY p.user_id, p.event_id""".stripMargin)),

    // custom Aggregator (exact per-group top-k, k-bounded partial buffers)
    Query("q41_topk_agg", (s, dir) => {
      val topk = graft.functions.TopKAggregator.topK(5)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(concat_ws(",", topk(col("l_quantity"))).as("top_qty"))
        .orderBy(col("l_returnflag"))
    },
      Oracle("""SELECT l_returnflag,
        |       array_to_string((list(l_quantity ORDER BY l_quantity DESC))[1:5],
        |                       ',') AS top_qty
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // exact interpolated percentiles (the reference's summary() shows
    // approx 25/50/75% — the oracle-checkable variant is exact)
    Query("q45_percentiles", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
          round(percentile(col("l_extendedprice"), lit(0.75)), 4).as("p75"))
        .orderBy(col("l_returnflag")),
      Oracle("""SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // HLL++ sketch, oracle-checked via tolerance gating: emit the EXACT
    // count only when the sketch lands within 5% of it (else -1, which
    // the oracle's exact counts would fail) — so the hash compare
    // doubles as an accuracy assertion on the approximate path
    Query("q48_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_d"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_d"))
        .select(col("l_returnflag"),
          when(abs(col("approx_d") - col("exact_d")) <=
            col("exact_d") * 0.05, col("exact_d")).otherwise(lit(-1L))
            .as("d_parts"))
        .orderBy(col("l_returnflag")),
      Oracle("""SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_parts
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // melt: wide measures → (measure, value) rows
    Query("q49_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          ids = Array(col("l_returnflag")),
          values = Array(col("l_quantity"), col("l_discount")),
          variableColumnName = "measure", valueColumnName = "val")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(round(sum(col("val")), 2).as("total"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("measure")),
      Oracle("""SELECT l_returnflag, measure, round(sum(val), 2) AS total,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT l_returnflag, l_quantity, l_discount FROM lineitem)
        |UNPIVOT (val FOR measure IN (l_quantity, l_discount))
        |GROUP BY 1, 2 ORDER BY l_returnflag, measure""".stripMargin)),

    // distributed correlation/covariance (the reference computes these
    // driver-side via pandas: eda:96-142 D6); +1e-9 nudge as in q27
    Query("q50_correlation", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")) + lit(1e-9), 4)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")) + lit(1e-9), 4)
            .as("covar_qty_disc"))
        .orderBy(col("l_returnflag")),
      Oracle("""SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice) + 1e-9, 4)
        |         AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_discount) + 1e-9, 4)
        |         AS covar_qty_disc
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // approx_percentile sketch, tolerance-gated like q48: emit the exact
    // median only when the sketch is within 1% of it
    Query("q51_approx_quantile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("exact_p50"),
          approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("approx_p50"))
        .select(col("l_returnflag"),
          round(when(abs(col("approx_p50") - col("exact_p50")) <=
            col("exact_p50") * 0.01, col("exact_p50")).otherwise(lit(-1.0)), 4)
            .as("p50"))
        .orderBy(col("l_returnflag")),
      Oracle("""SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    Query("q42_pivot", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
          .cast("double"))
        .orderBy(col("o_orderpriority")),
      Oracle("""SELECT o_orderpriority,
        |       CAST(round(sum(CASE WHEN o_orderstatus = 'F'
        |         THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 2)
        |         AS DOUBLE) AS F,
        |       CAST(round(sum(CASE WHEN o_orderstatus = 'O'
        |         THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 2)
        |         AS DOUBLE) AS O,
        |       CAST(round(sum(CASE WHEN o_orderstatus = 'P'
        |         THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 2)
        |         AS DOUBLE) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Spearman rank correlation per return flag — the robust sibling of
    // q50's Pearson. SCALE SHAPE: no per-group whole-table window (3
    // returnflag partitions would put the full table in 3 tasks);
    // each column's tie-averaged ranks come from a VALUE-LEVEL
    // aggregate (map-side combine to distinct values), and the
    // cumulative count over that frame is a HIERARCHICAL prefix-sum
    // (packSequences' pattern, r12 verdict #2): value counts →
    // grid-bucket totals → per-group bucket-summary exclusive prefix
    // (rows per partition bounded by the VALUE RANGE, not the corpus)
    // → broadcast offsets + a within-bucket cumsum whose partition
    // holds only the distinct values inside one grid cell (integral
    // quantities: 1; 2-dp prices: ≤100). The previous formulation
    // windowed partitionBy(flag).orderBy(value) directly — 3
    // partitions each sorting the whole near-distinct value frame,
    // i.e. per-task rows ∝ corpus. Ranks then join back onto rows by
    // (flag, value) and the final corr is one key-partitioned
    // aggregate. All-long cumulative sums → bit-identical to the
    // single-window formulation at any bucketing.
    Query("q179_spearman_corr", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      // avg rank of value v in group g: #{x<v} + (ties(v)+1)/2 —
      // #{x<v} = inclusive grid-bucket cumulative count − cnt
      // (hierCumCounts is this query's inversion, factored)
      def rankMap(c: String, bucket: Column => Column): DataFrame =
        operators.Relational.hierCumCounts(
            li.groupBy(col("l_returnflag"), col(c))
              .agg(count(lit(1)).as("_cnt")),
            Seq("l_returnflag"), c, "_cnt", bucket, "_cum")
          .withColumn(s"_r_$c",
            col("_cum") - col("_cnt") + (col("_cnt") + lit(1)) / lit(2.0))
          .drop("_cnt", "_cum")
      // grid widths: quantities are integral (1 value/bucket); prices
      // are 2-dp, so a width-100 bucket holds ≤10^4 grid values however
      // big the corpus — and the offset frame stays ~|range|/100 rows
      li.join(rankMap("l_quantity", identity),
          Seq("l_returnflag", "l_quantity"))
        .join(rankMap("l_extendedprice", v => floor(v / lit(100))),
          Seq("l_returnflag", "l_extendedprice"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(corr(col("_r_l_quantity"), col("_r_l_extendedprice"))
            + lit(1e-9), 4).as("spearman"))
        .orderBy(col("l_returnflag"))
    },
      // tie-averaged ranks via the classic row-window identity
      // rank() + (ties-1)/2 ≡ #{x<v} + (ties+1)/2 — the same values the
      // Spark side derives from its value-level cumsum formulation
      Oracle("""WITH r AS (SELECT l_returnflag,
        |    rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |      + (count(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |         - 1) / 2.0 AS rq,
        |    rank() OVER (PARTITION BY l_returnflag
        |                 ORDER BY l_extendedprice)
        |      + (count(*) OVER (PARTITION BY l_returnflag,
        |                        l_extendedprice) - 1) / 2.0 AS rp
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       round(corr(rq, rp) + 1e-9, 4) AS spearman
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // peak order-fulfillment concurrency via the sweep line: an order
    // is OPEN from o_orderdate until its last line ships; +1 at open,
    // -1 the day after close, net per day, running sum, top-5 peak
    // days. SCALE SHAPE: the per-order span is one key-partitioned
    // aggregate + join, and the Σ±1 aggregate combines map-side down
    // to one row per DATE (calendar-bounded cardinality), so the
    // single-partition running window orders ~thousands of narrow rows
    // however big the fact table — the aggregate-then-window inversion
    // that makes sweep lines distributable
    Query("q180_peak_concurrency", (s, dir) => {
      val spans = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate").cast("date")).as("_close"))
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("_open")),
          col("l_orderkey") === col("o_orderkey"))
      val deltas = spans.select(col("_open").as("day"), lit(1L).as("_d"))
        .unionByName(spans.select(date_add(col("_close"), 1).as("day"),
          lit(-1L).as("_d")))
        .groupBy(col("day")).agg(sum(col("_d")).as("_net"))
      deltas
        .withColumn("in_transit",
          sum(col("_net")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("day"), col("in_transit"))
        .orderBy(col("in_transit").desc, col("day")).limit(5)
    },
      Oracle("""WITH spans AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS open_d,
        |         CAST(max(l.l_shipdate) AS DATE) AS close_d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY l.l_orderkey, o.o_orderdate),
        |deltas AS (
        |  SELECT open_d AS day, 1 AS d FROM spans
        |  UNION ALL
        |  SELECT close_d + 1 AS day, -1 AS d FROM spans),
        |net AS (SELECT day, sum(d) AS net FROM deltas GROUP BY day)
        |SELECT day, CAST(sum(net) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS in_transit
        |FROM net ORDER BY in_transit DESC, day LIMIT 5""".stripMargin)),

    // per-user behavioral diversity: Shannon entropy of the user's
    // (prev_type, next_type) transition distribution — H = ln n −
    // Σ c·ln c / n from one count aggregate over lead() bigrams (the
    // per-user sequencing window q102's global Markov matrix already
    // uses), top-20 most-diverse users. Entropy ordered on the ROUNDED
    // column so the limit boundary is engine-stable
    Query("q182_transition_entropy", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("_next", lead(col("event_type"), 1).over(w))
        .filter(col("_next").isNotNull)
        .groupBy(col("user_id"), col("event_type"), col("_next"))
        .agg(count(lit(1)).as("_c"))
      trans.groupBy(col("user_id"))
        .agg(sum(col("_c")).as("n_transitions"),
          round(log(sum(col("_c")))
            - sum(col("_c") * log(col("_c"))) / sum(col("_c"))
            + lit(1e-9), 4).as("entropy"))
        .orderBy(col("entropy").desc, col("user_id")).limit(20)
    },
      Oracle("""WITH e AS (SELECT user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS uts, event_id FROM events),
        |b AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY uts, event_id) AS next_type FROM e),
        |c AS (SELECT user_id, event_type, next_type, count(*) AS c
        |      FROM b WHERE next_type IS NOT NULL
        |      GROUP BY user_id, event_type, next_type)
        |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_transitions,
        |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 4)
        |         AS entropy
        |FROM c GROUP BY user_id
        |ORDER BY entropy DESC, user_id LIMIT 20""".stripMargin)),

    // Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of per-user inter-event
    // gaps, pooled per event type: B→−1 periodic, 0 Poisson, →1 bursty
    // — the stream-health diagnostic next to q164's gap percentiles,
    // over the same (user, type)-partitioned lag window and exact
    // integer micros
    Query("q183_burstiness", (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("_prev", lag(col("ts"), 1).over(w))
        .filter(col("_prev").isNotNull)
        .select(col("event_type"),
          (unix_micros(col("ts")) - unix_micros(col("_prev"))).as("_gap"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round((stddev_samp(col("_gap")) - avg(col("_gap")))
            / (stddev_samp(col("_gap")) + avg(col("_gap")))
            + lit(1e-9), 4).as("burstiness"))
        .orderBy(col("event_type"))
    },
      Oracle("""WITH e AS (SELECT user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS uts, event_id FROM events),
        |g AS (SELECT event_type,
        |    epoch_us(uts) - epoch_us(lag(uts) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY uts, event_id)) AS gap FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |       round((stddev_samp(gap) - avg(gap))
        |             / (stddev_samp(gap) + avg(gap)) + 1e-9, 4)
        |         AS burstiness
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // population stability index per document source: 10 fixed-width
    // n_chars bins from the corpus [min, max] (a 2-value broadcast),
    // Laplace-smoothed bin shares, PSI = Σ (p_s − p_c)·ln(p_s/p_c) —
    // the standard "did this feed's length profile drift from the
    // corpus" screen next to q118's JS and q132's KS. SCALE SHAPE:
    // map-side bin assignment off a broadcast range, ONE (source, bin)
    // count aggregate; the sources×10 completion grid and both margins
    // are tiny frames
    Query("q184_psi_drift", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"), col("n_chars"))
      val rng = docs.agg(min(col("n_chars")).as("_mn"),
        (max(col("n_chars")) - min(col("n_chars")) + lit(1)).as("_span"))
      // (x−mn)*10.0/span < 10 by construction, so no bin-9 clamp needed;
      // the double math is exact for these small integers → identical
      // floor() in both engines
      val binned = docs.join(broadcast(rng))
        .select(col("source"),
          floor((col("n_chars") - col("_mn")) * lit(10.0) / col("_span"))
            .cast("int").as("_bin"))
      val srcCnt = binned.groupBy(col("source"), col("_bin"))
        .agg(count(lit(1)).as("_sc"))
      val corpusCnt = binned.groupBy(col("_bin")).agg(count(lit(1)).as("_cc"))
      val totals = binned.groupBy(col("source")).agg(count(lit(1)).as("_ns"))
      val corpusTot = corpusCnt.agg(sum(col("_cc")).as("_n"))
      val grid = totals.withColumn("_bin", explode(sequence(lit(0), lit(9))))
      val ps = (coalesce(col("_sc"), lit(0L)) + lit(0.5)) /
        (col("_ns") + lit(5.0))
      val pc = (coalesce(col("_cc"), lit(0L)) + lit(0.5)) /
        (col("_n") + lit(5.0))
      grid.join(srcCnt, Seq("source", "_bin"), "left")
        .join(corpusCnt, Seq("_bin"), "left")
        .join(broadcast(corpusTot))
        .select(col("source"), col("_ns"),
          ((ps - pc) * log(ps / pc)).as("_term"))
        .groupBy(col("source"))
        .agg(max(col("_ns")).as("n_docs"),
          round(sum(col("_term")) + lit(1e-9), 4).as("psi"))
        .orderBy(col("source"))
    },
      Oracle("""WITH rng AS (SELECT min(n_chars) AS mn,
        |    max(n_chars) - min(n_chars) + 1 AS span FROM documents),
        |b AS (SELECT source,
        |    CAST(floor((n_chars - mn) * 10.0 / span) AS INT) AS bin
        |  FROM documents, rng),
        |sc AS (SELECT source, bin, count(*) AS sc FROM b GROUP BY 1, 2),
        |cc AS (SELECT bin, count(*) AS cc FROM b GROUP BY 1),
        |ns AS (SELECT source, count(*) AS ns FROM b GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM b),
        |grid AS (SELECT source, ns, g.bin FROM ns
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) g),
        |p AS (SELECT grid.source, grid.ns,
        |    (COALESCE(sc.sc, 0) + 0.5) / (grid.ns + 5.0) AS ps,
        |    (COALESCE(cc.cc, 0) + 0.5) / (n.n + 5.0) AS pc
        |  FROM grid
        |  LEFT JOIN sc ON sc.source = grid.source AND sc.bin = grid.bin
        |  LEFT JOIN cc ON cc.bin = grid.bin CROSS JOIN n)
        |SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
        |       round(sum((ps - pc) * ln(ps / pc)) + 1e-9, 4) AS psi
        |FROM p GROUP BY source ORDER BY source""".stripMargin)),

    // weekly growth accounting: every active user classified NEW
    // (first-ever week), RETAINED (also active the prior week) or
    // RESURRECTED (returning after a gap); CHURNED(w) = active(w−1) −
    // retained(w) — the standard DAU/MAU decomposition next to q153's
    // cumulative new-user curve and q90's cohort retention. SCALE
    // SHAPE: one distinct to (user, week), a user-keyed lag window
    // (weeks-per-user rows), one weekly rollup; the churn lag runs on
    // the calendar-bounded weekly frame
    Query("q185_growth_accounting", (s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
      val st = uw.withColumn("_prev", lag(col("week"), 1).over(w))
        .select(col("week"),
          when(col("_prev").isNull, lit("new"))
            .when(col("_prev") === date_sub(col("week"), 7), lit("retained"))
            .otherwise(lit("resurrected")).as("_st"))
      val weekly = st.groupBy(col("week"))
        .agg(count(lit(1)).as("active"),
          sum(when(col("_st") === "new", 1L).otherwise(0L)).as("new_users"),
          sum(when(col("_st") === "retained", 1L).otherwise(0L))
            .as("retained"),
          sum(when(col("_st") === "resurrected", 1L).otherwise(0L))
            .as("resurrected"))
      val ww = Window.orderBy(col("week"))
      weekly
        .withColumn("_pw", lag(col("week"), 1).over(ww))
        .withColumn("_pa", lag(col("active"), 1).over(ww))
        .select(col("week"), col("active"), col("new_users"),
          col("retained"), col("resurrected"),
          (when(col("_pw") === date_sub(col("week"), 7), col("_pa"))
            .otherwise(lit(0L)) - col("retained")).as("churned"))
        .orderBy(col("week"))
    },
      Oracle("""WITH uw AS (SELECT DISTINCT user_id,
        |    date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS week
        |  FROM events),
        |st AS (SELECT week,
        |    CASE WHEN prev IS NULL THEN 'new'
        |         WHEN prev = week - 7 THEN 'retained'
        |         ELSE 'resurrected' END AS st
        |  FROM (SELECT week, lag(week) OVER (PARTITION BY user_id
        |          ORDER BY week) AS prev FROM uw)),
        |wk AS (SELECT week, count(*) AS active,
        |    sum(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS new_users,
        |    sum(CASE WHEN st = 'retained' THEN 1 ELSE 0 END) AS retained,
        |    sum(CASE WHEN st = 'resurrected' THEN 1 ELSE 0 END)
        |      AS resurrected
        |  FROM st GROUP BY 1)
        |SELECT week, CAST(active AS BIGINT) AS active,
        |  CAST(new_users AS BIGINT) AS new_users,
        |  CAST(retained AS BIGINT) AS retained,
        |  CAST(resurrected AS BIGINT) AS resurrected,
        |  CAST(CASE WHEN lag(week) OVER (ORDER BY week) = week - 7
        |        THEN lag(active) OVER (ORDER BY week) ELSE 0 END
        |       - retained AS BIGINT) AS churned
        |FROM wk ORDER BY week""".stripMargin)),

    // Mann–Whitney U (tie-corrected normal approximation): do weekend
    // purchase values differ from weekday ones — the rank-based
    // (distribution-free) sibling of q130's Welch t. Pooled
    // tie-averaged ranks come from a VALUE-LEVEL aggregate (q179's
    // trick), and the cumulative count over it is the hierCumCounts
    // grid-bucket prefix-sum: the distinct-value frame saturates at
    // the 2-decimal resolution (~56k cells for [0,560]) but GROWS
    // with the corpus until then, so a single global cumsum window
    // would put a corpus-tracking frame in one task
    // (WindowScaleAuditSpec's criterion) — bucketed, no task ever
    // holds more than one ~1000-cell grid slice. Then U, the tie term
    // Σ(t³−t), and z fall out of one final aggregate
    Query("q186_mannwhitney_u", (s, dir) => {
      // Spark dayofweek: 1=Sunday..7=Saturday
      val pv = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("value"),
          dayofweek(col("ts")).isin(1, 7).cast("int").as("_wk"))
      val byVal = pv.groupBy(col("value"))
        .agg(count(lit(1)).as("_c"), sum(col("_wk")).as("_c1"))
      val ranked = operators.Relational.hierCumCounts(byVal, Seq.empty,
          "value", "_c", v => floor(v / lit(10.0)), "_cum")
        .withColumn("_r",
          col("_cum") - col("_c") + (col("_c") + lit(1)) / lit(2.0))
      val u = col("_r1") - col("_n1") * (col("_n1") + lit(1)) / lit(2.0)
      val nn = col("_n1") + col("_n2")
      ranked.agg(
          sum(col("_c1")).as("_n1"),
          sum(col("_c") - col("_c1")).as("_n2"),
          sum(col("_c1") * col("_r")).as("_r1"),
          sum(col("_c") * col("_c") * col("_c") - col("_c")).as("_ties"))
        .select(col("_n1").as("n1"), col("_n2").as("n2"),
          round(u, 2).as("u"),
          round((u - col("_n1") * col("_n2") / lit(2.0))
            / sqrt(col("_n1") * col("_n2") / lit(12.0)
              * ((nn + lit(1)) - col("_ties") / (nn * (nn - lit(1.0)))))
            + lit(1e-9), 4).as("z"))
    },
      // DuckDB dayofweek: 0=Sunday..6=Saturday (Spark is 1..7)
      Oracle("""WITH pv AS (SELECT value,
        |    CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)
        |         THEN 1 ELSE 0 END AS wk
        |  FROM events WHERE event_type = 'purchase'),
        |bv AS (SELECT value, count(*) AS c, sum(wk) AS c1
        |       FROM pv GROUP BY 1),
        |r AS (SELECT c, c1,
        |    sum(c) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - c + (c + 1) / 2.0 AS r FROM bv),
        |a AS (SELECT sum(c1) AS n1, sum(c - c1) AS n2,
        |    sum(c1 * r) AS r1, sum(c * c * c - c) AS ties FROM r)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round(r1 - n1 * (n1 + 1) / 2.0, 2) AS u,
        |  round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
        |    / sqrt(n1 * n2 / 12.0
        |      * ((n1 + n2 + 1) - ties / ((n1 + n2) * (n1 + n2 - 1.0))))
        |    + 1e-9, 4) AS z
        |FROM a""".stripMargin)),

    // power-user curve: the distribution of per-user active-day counts
    // plus the "share of users at least this engaged" tail — the
    // engagement-concentration complement of q168's whale share.
    // SCALE SHAPE: distinct to (user, day), one user-keyed count, one
    // histogram rollup; the tail-share window runs on the
    // calendar-bounded histogram (≤ days-in-range rows)
    Query("q187_power_user_curve", (s, dir) => {
      val perUser = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("_day")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("_days"))
      val hist = perUser.groupBy(col("_days").as("days_active"))
        .agg(count(lit(1)).as("n_users"))
      val tot = hist.agg(sum(col("n_users")).as("_t"))
      hist.join(broadcast(tot))
        .withColumn("_al",
          sum(col("n_users")).over(Window.orderBy(col("days_active").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("days_active"), col("n_users"),
          round(col("_al") / col("_t") + lit(1e-9), 4).as("share_at_least"))
        .orderBy(col("days_active"))
    },
      Oracle("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |pu AS (SELECT user_id, count(*) AS days FROM ud GROUP BY 1),
        |h AS (SELECT days AS days_active, count(*) AS n_users
        |      FROM pu GROUP BY 1),
        |t AS (SELECT sum(n_users) AS t FROM h)
        |SELECT CAST(days_active AS BIGINT) AS days_active,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  round(sum(n_users) OVER (ORDER BY days_active DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t
        |    + 1e-9, 4) AS share_at_least
        |FROM h CROSS JOIN t ORDER BY days_active""".stripMargin)),

    // cohort LTV: cumulative purchase value per signup-week cohort by
    // age-in-weeks, absolute and per cohort member — the revenue
    // complement of q90's retention matrix. SCALE SHAPE: cohort
    // assignment is a user-keyed min; revenue is one (cohort, age)
    // aggregate after a user-keyed join; the cumulative window runs on
    // the calendar² (cohort × age) frame. `cohorts` is referenced
    // twice (sizes + revenue join) — both consumers are user-bounded
    // aggregates over one scan each, the q179 multi-reference trade
    Query("q189_cohort_ltv", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val cohorts = ev.groupBy(col("user_id"))
        .agg(min(date_trunc("week", col("ts")).cast("date")).as("_cw"))
      val sized = cohorts.groupBy(col("_cw"))
        .agg(count(lit(1)).as("cohort_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(cohorts, Seq("user_id"))
        .groupBy(col("_cw"),
          (datediff(date_trunc("week", col("ts")).cast("date"), col("_cw"))
            / lit(7)).cast("int").as("age_weeks"))
        .agg(sum(col("value")).as("_v"))
      val cum = sum(col("_v")).over(
        Window.partitionBy(col("_cw")).orderBy(col("age_weeks"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      rev.join(sized, Seq("_cw"))
        .select(col("_cw").as("cohort_week"), col("age_weeks"),
          col("cohort_users"),
          round(cum + lit(1e-9), 2).as("cum_value"),
          round(cum / col("cohort_users") + lit(1e-9), 4).as("ltv_per_user"))
        .orderBy(col("cohort_week"), col("age_weeks"))
    },
      Oracle("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS uts,
        |    event_type, value FROM events),
        |c AS (SELECT user_id, min(date_trunc('week', uts))::DATE AS cw
        |      FROM ev GROUP BY 1),
        |sz AS (SELECT cw, count(*) AS cohort_users FROM c GROUP BY 1),
        |rev AS (SELECT c.cw,
        |    CAST((date_trunc('week', e.uts)::DATE - c.cw) / 7 AS INT)
        |      AS age_weeks,
        |    sum(e.value) AS v
        |  FROM ev e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT rev.cw AS cohort_week, age_weeks,
        |  CAST(cohort_users AS BIGINT) AS cohort_users,
        |  round(sum(v) OVER (PARTITION BY rev.cw ORDER BY age_weeks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    + 1e-9, 2) AS cum_value,
        |  round(sum(v) OVER (PARTITION BY rev.cw ORDER BY age_weeks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / cohort_users + 1e-9, 4) AS ltv_per_user
        |FROM rev JOIN sz ON rev.cw = sz.cw
        |ORDER BY cohort_week, age_weeks""".stripMargin)),

    // single-best-split changepoint per event type: the day s
    // maximizing |mean(daily count ≤ s) − mean(> s)| — the mean-shift
    // detector behind "did traffic step-change, and when". SCALE
    // SHAPE: the corpus collapses map-side to (type, day) counts; all
    // windows (prefix sums, totals, argmax) run on that
    // calendar-bounded frame
    Query("q190_changepoint", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      val scored = daily
        .withColumn("_i", row_number().over(w))
        .withColumn("_cs", sum(col("_c")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_n", count(lit(1)).over(wAll))
        .withColumn("_tot", sum(col("_c")).over(wAll))
        .filter(col("_i") < col("_n"))
        .select(col("event_type"), col("day"),
          (col("_cs") / col("_i")).as("_mb"),
          ((col("_tot") - col("_cs")) / (col("_n") - col("_i"))).as("_ma"))
      scored
        .withColumn("_delta",
          round(abs(col("_ma") - col("_mb")) + lit(1e-9), 4))
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("_delta").desc, col("day"))))
        .filter(col("_rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          round(col("_mb") + lit(1e-9), 4).as("mean_before"),
          round(col("_ma") + lit(1e-9), 4).as("mean_after"),
          col("_delta").as("delta"))
        .orderBy(col("event_type"))
    },
      Oracle("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day,
        |    row_number() OVER w AS i,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(c) OVER (PARTITION BY event_type) AS tot
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |m AS (SELECT event_type, day, cs / i AS mb,
        |    (tot - cs) / (n - i) AS ma,
        |    round(abs((tot - cs) / (n - i) - cs / i) + 1e-9, 4) AS delta
        |  FROM s WHERE i < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY delta DESC, day) AS rk FROM m)
        |SELECT event_type, day AS split_day,
        |  round(mb + 1e-9, 4) AS mean_before,
        |  round(ma + 1e-9, 4) AS mean_after, delta
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin)),

    // empirical-Bayes shrinkage of per-item purchase rates: a
    // beta-binomial prior fit by method of moments over the item-rate
    // distribution, shrunk rate = (x+α)/(n+α+β) — how you rank items
    // by conversion without low-count winners dominating. SCALE SHAPE:
    // one item-keyed aggregate (|items|-bounded), a single-row moment
    // rollup broadcast back, top-k by the ROUNDED shrunk rate
    Query("q191_eb_shrinkage", (s, dir) => {
      val items = t(s, dir, "events")
        .groupBy((col("event_id") % 4000).as("item"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
      val mom = items.agg(avg(col("x") / col("n")).as("_m"),
        var_samp(col("x") / col("n")).as("_v"))
      items.join(broadcast(mom))
        .withColumn("_ab",
          col("_m") * (lit(1.0) - col("_m")) / col("_v") - lit(1.0))
        .select(col("item"), col("n"), col("x"),
          round(col("x") / col("n") + lit(1e-9), 4).as("raw_rate"),
          round((col("x") + col("_m") * col("_ab"))
            / (col("n") + col("_ab")) + lit(1e-9), 4).as("shrunk_rate"))
        .orderBy(col("shrunk_rate").desc, col("item")).limit(20)
    },
      Oracle("""WITH it AS (SELECT event_id % 4000 AS item, count(*) AS n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT avg(x / n) AS m, var_samp(x / n) AS v FROM it),
        |p AS (SELECT m, m * (1.0 - m) / v - 1.0 AS ab FROM m)
        |SELECT item, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
        |  round(x / n + 1e-9, 4) AS raw_rate,
        |  round((x + m * ab) / (n + ab) + 1e-9, 4) AS shrunk_rate
        |FROM it CROSS JOIN p
        |ORDER BY shrunk_rate DESC, item LIMIT 20""".stripMargin)),

    // week-over-week spend-decile migration matrix: users ranked into
    // weekly spend deciles via broadcast exact-percentile cuts (the
    // q87 equi-depth pattern — never a per-week ranking window over
    // all users), then consecutive-week (from, to) transition counts off a
    // user-keyed lag. Weekly spend is rounded to cents BEFORE cutting
    // so both engines cut identical doubles
    Query("q192_decile_migration", (s, dir) => {
      val spend = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(round(sum(col("value")), 2).as("_sp"))
      val cuts = spend.groupBy(col("week"))
        .agg(percentile(col("_sp"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("_cuts"))
      val dec = spend.join(broadcast(cuts), Seq("week"))
        .select(col("user_id"), col("week"),
          (lit(1) + size(filter(col("_cuts"), c => c < col("_sp"))))
            .cast("long").as("_d"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
      dec
        .withColumn("_pw", lag(col("week"), 1).over(w))
        .withColumn("_pd", lag(col("_d"), 1).over(w))
        .filter(col("_pw") === date_sub(col("week"), 7))
        .groupBy(col("_pd").as("from_decile"), col("_d").as("to_decile"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("from_decile"), col("to_decile"))
    },
      Oracle("""WITH sp AS (SELECT user_id,
        |    date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS week,
        |    round(sum(value), 2) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT week, quantile_cont(s,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
        |  FROM sp GROUP BY 1),
        |d AS (SELECT user_id, sp.week,
        |    CAST(1 + len(list_filter(cuts, x -> x < s)) AS BIGINT) AS dec
        |  FROM sp JOIN c ON sp.week = c.week),
        |l AS (SELECT user_id, week, dec,
        |    lag(week) OVER w AS pw, lag(dec) OVER w AS pd
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY week))
        |SELECT pd AS from_decile, dec AS to_decile,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM l WHERE pw = week - 7
        |GROUP BY 1, 2 ORDER BY from_decile, to_decile""".stripMargin)),

    // seasonal-naive forecast backtest: predict each (type, day) count
    // with the same-weekday count one week earlier; report MAE and
    // MAPE per type — the baseline every fancier forecaster must beat.
    // The lag-7 rides the calendar-bounded (type, day) frame (one
    // map-side corpus collapse); the calendar guard keeps a sparse
    // day grid honest
    Query("q193_forecast_eval", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("_pd", lag(col("day"), 7).over(w))
        .withColumn("_pc", lag(col("_c"), 7).over(w))
        .filter(col("_pd") === date_sub(col("day"), 7))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(abs(col("_c") - col("_pc"))) + lit(1e-9), 4).as("mae"),
          round(avg(abs(col("_c") - col("_pc")) / col("_c")) + lit(1e-9), 4)
            .as("mape"))
        .orderBy(col("event_type"))
    },
      Oracle("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, c,
        |    lag(day, 7) OVER w AS pd, lag(c, 7) OVER w AS pc
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(avg(abs(c - pc)) + 1e-9, 4) AS mae,
        |  round(avg(abs(c - pc) / c) + 1e-9, 4) AS mape
        |FROM l WHERE pd = day - 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Markov next-event backtest: fit the q102 transition matrix on a
    // TEMPORAL train split (first 20 days), predict each prev_type's
    // most likely next type (count desc, type asc — deterministic),
    // and score hit-rate on the held-out tail — the eval loop that
    // turns the transition matrix into a measured predictor. Pairs
    // ride the q102 user-keyed sequencing window; the matrix and its
    // argmax live on the |types|² frame; scoring is one broadcast
    // probe + type-keyed rollup. A pair belongs to the split of its
    // CURRENT event (the prediction moment)
    Query("q201_markov_backtest", (s, dir) => {
      val split = lit("2024-01-21").cast("date")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // ONE corpus window pass collapses to a ≤ 2·|types|² count frame
      // (cached — both the matrix fit and the scoring read it); hit
      // rate then falls out of COUNT arithmetic, never a second pass
      val cnt = graft.core.Caches.cached(t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("_next", lead(col("event_type"), 1).over(w))
        .filter(col("_next").isNotNull)
        .groupBy(col("event_type").as("_prev"), col("_next"),
          (to_date(col("ts")) < split).as("_train"))
        .agg(count(lit(1)).as("_c")))
      val pred = cnt.filter(col("_train"))
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("_prev"))
            .orderBy(col("_c").desc, col("_next"))))
        .filter(col("_rk") === 1)
        .select(col("_prev"), col("_next").as("_pred"))
      graft.core.Caches.materializedThenRelease(
        cnt.filter(!col("_train"))
          .join(broadcast(pred), Seq("_prev"))
          .groupBy(col("_prev").as("prev_type"))
          .agg(sum(col("_c")).as("n_test"),
            round(sum(when(col("_next") === col("_pred"), col("_c"))
              .otherwise(0L)) / sum(col("_c")) + lit(1e-9), 4)
              .as("hit_rate"))
          .orderBy(col("prev_type")),
        cnt)
    },
      Oracle("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS uts,
        |    event_id, event_type FROM events),
        |p AS (SELECT event_type AS prev, lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY uts, event_id) AS next,
        |    CAST(uts AS DATE) < DATE '2024-01-21' AS train
        |  FROM e),
        |cnt AS (SELECT prev, next, train, count(*) AS c FROM p
        |  WHERE next IS NOT NULL GROUP BY 1, 2, 3),
        |pred AS (SELECT prev, next AS pred FROM (
        |    SELECT prev, next, row_number() OVER (PARTITION BY prev
        |      ORDER BY c DESC, next) AS rk FROM cnt WHERE train)
        |  WHERE rk = 1)
        |SELECT cnt.prev AS prev_type, CAST(sum(c) AS BIGINT) AS n_test,
        |  round(sum(CASE WHEN next = pred THEN c ELSE 0 END) * 1.0
        |    / sum(c) + 1e-9, 4) AS hit_rate
        |FROM cnt JOIN pred ON cnt.prev = pred.prev
        |WHERE NOT train GROUP BY 1 ORDER BY prev_type""".stripMargin)),

    // Kendall tau-b between daily volume and daily mean value per
    // event type: pairwise concordance over the CALENDAR-bounded daily
    // frame (the corpus collapses map-side first, so the day² pair
    // join is ~500 rows per type at any SF). Daily means are rounded
    // to 4dp BEFORE the pairwise compare — tie classification on raw
    // float averages would be engine-order-dependent
    Query("q208_kendall_tau", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_x"),
          round(avg(col("value")) + lit(1e-9), 4).as("_y"))
      val a = d.select(col("event_type"), col("day").as("_da"),
        col("_x").as("_xa"), col("_y").as("_ya"))
      val b = d.select(col("event_type"), col("day").as("_db"),
        col("_x").as("_xb"), col("_y").as("_yb"))
      a.join(b, Seq("event_type")).filter(col("_da") < col("_db"))
        .select(col("event_type"), (col("_xb") - col("_xa")).as("_dx"),
          (col("_yb") - col("_ya")).as("_dy"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("_dx") > 0 && col("_dy") > 0)
            || (col("_dx") < 0 && col("_dy") < 0), 1L).otherwise(0L))
            .as("_c"),
          sum(when((col("_dx") > 0 && col("_dy") < 0)
            || (col("_dx") < 0 && col("_dy") > 0), 1L).otherwise(0L))
            .as("_d"),
          sum(when(col("_dx") === 0, 1L).otherwise(0L)).as("_tx"),
          sum(when(col("_dy") === 0, 1L).otherwise(0L)).as("_ty"))
        .select(col("event_type"), col("n_pairs"),
          // + 0.0 canonicalizes a -0.0 round (driver compares bits)
          (round((col("_c") - col("_d"))
            / sqrt((col("n_pairs") - col("_tx"))
              * (col("n_pairs") - col("_ty"))) + lit(1e-9), 4) + lit(0.0))
            .as("tau_b"))
        .orderBy(col("event_type"))
    },
      // same rounded daily frame, same pairwise concordance classes,
      // tau-b denominator sqrt((n0-tx)(n0-ty))
      Oracle("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS x, round(avg(value) + 1e-9, 4) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, b.x - a.x AS dx, b.y - a.y AS dy
        |  FROM d a JOIN d b ON a.event_type = b.event_type
        |    AND a.day < b.day),
        |g AS (SELECT event_type, count(*) AS n_pairs,
        |    sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
        |      THEN 1 ELSE 0 END) AS c,
        |    sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
        |      THEN 1 ELSE 0 END) AS dd,
        |    sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
        |    sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty
        |  FROM p GROUP BY 1)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  round((c - dd) / sqrt((n_pairs - tx) * (n_pairs - ty))
        |    + 1e-9, 4) + 0.0 AS tau_b
        |FROM g ORDER BY event_type""".stripMargin)),

    // Theil–Sen robust trend: median of pairwise daily-revenue slopes
    // per event type — outlier-days don't move it, unlike q92's OLS.
    // Same aggregate-then-pair inversion as q208: slopes are exact
    // rationals of ROUNDED daily sums over integer day gaps, median
    // via the shared interpolated-percentile semantics
    Query("q209_theil_sen", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")) + lit(1e-9), 4).as("_r"))
        .withColumn("_dn",
          datediff(col("day"), to_date(lit("1970-01-01"))))
      val a = d.select(col("event_type"), col("_dn").as("_na"),
        col("_r").as("_ra"))
      val b = d.select(col("event_type"), col("_dn").as("_nb"),
        col("_r").as("_rb"))
      a.join(b, Seq("event_type")).filter(col("_na") < col("_nb"))
        .select(col("event_type"),
          ((col("_rb") - col("_ra")) / (col("_nb") - col("_na")))
            .as("_s"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          (round(percentile(col("_s"), lit(0.5)) + lit(1e-9), 4)
            + lit(0.0)).as("sen_slope"))
        .orderBy(col("event_type"))
    },
      // same rounded daily sums, epoch-day gaps, interpolated median
      Oracle("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value) + 1e-9, 4) AS r,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS dn
        |  FROM events GROUP BY 1, CAST(ts AS DATE)),
        |p AS (SELECT a.event_type,
        |    (b.r - a.r) / (b.dn - a.dn) AS s
        |  FROM d a JOIN d b ON a.event_type = b.event_type
        |    AND a.dn < b.dn)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(quantile_cont(s, 0.5) + 1e-9, 4) + 0.0 AS sen_slope
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Kruskal–Wallis H across sources on document length: rank-based
    // one-way ANOVA (q186's two-sample U generalized to k groups).
    // Ranks live on the VALUE-LEVEL frame (q179's trick — the window
    // orders |distinct n_chars| rows, not the corpus), R_j collapses
    // per source, and the tie term rides the same value frame
    Query("q210_kruskal_wallis", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"),
        col("n_chars"))
      val vf = docs.groupBy(col("n_chars"))
        .agg(count(lit(1)).as("_cnt"))
        .withColumn("_ar",
          sum(col("_cnt")).over(Window.orderBy(col("n_chars"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("_cnt") + (col("_cnt") + lit(1)) / lit(2.0))
      val tot = vf.agg(sum(col("_cnt")).cast("double").as("_n"),
        sum(col("_cnt") * col("_cnt") * col("_cnt") - col("_cnt"))
          .cast("double").as("_tie"))
      val rj = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("_c"))
        .join(vf.select(col("n_chars"), col("_ar")), Seq("n_chars"))
        .groupBy(col("source"))
        .agg(sum(col("_c")).as("_nj"),
          sum(col("_c") * col("_ar")).as("_rj"))
      rj.agg(count(lit(1)).as("k"),
          sum(col("_rj") * col("_rj") / col("_nj")).as("_s"))
        .crossJoin(broadcast(tot))
        .select(col("_n").cast("long").as("n"), col("k"),
          round(lit(12.0) / (col("_n") * (col("_n") + 1)) * col("_s")
            - lit(3.0) * (col("_n") + 1) + lit(1e-9), 4).as("h"),
          round((lit(12.0) / (col("_n") * (col("_n") + 1)) * col("_s")
            - lit(3.0) * (col("_n") + 1))
            / (lit(1.0) - col("_tie")
               / (pow(col("_n"), 3) - col("_n"))) + lit(1e-9), 4)
            .as("h_tie_corrected"))
    },
      // same value-level tie-averaged ranks (rank() + (ties-1)/2), per-
      // source rank sums, H with the (1 - Σ(t³-t)/(N³-N)) tie correction
      Oracle("""WITH r AS (SELECT source,
        |    rank() OVER (ORDER BY n_chars)
        |      + (count(*) OVER (PARTITION BY n_chars) - 1) / 2.0 AS ar
        |  FROM documents),
        |rj AS (SELECT source, count(*) AS nj, sum(ar) AS rjs
        |  FROM r GROUP BY source),
        |ties AS (SELECT sum(c * c * c - c) AS tie FROM (
        |  SELECT count(*) AS c FROM documents GROUP BY n_chars) t),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT count(*) AS k, sum(rjs * rjs / nj) AS sv FROM rj)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  round(12.0 / (n * (n + 1)) * sv - 3.0 * (n + 1) + 1e-9, 4)
        |    AS h,
        |  round((12.0 / (n * (n + 1)) * sv - 3.0 * (n + 1))
        |    / (1.0 - tie / (pow(n, 3) - n)) + 1e-9, 4)
        |    AS h_tie_corrected
        |FROM s CROSS JOIN tot CROSS JOIN ties""".stripMargin)),

    // Cramér's V for lang × source balance: chi-square independence
    // via the missing-cell-free identity chi2 = n·(Σ o²/(rt·ct) − 1)
    // (zero cells contribute only through the marginals, so observed
    // cells suffice), V = sqrt(chi2 / (n·min(r−1, c−1)))
    Query("q211_cramers_v", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"), col("source"))
      // ONE corpus scan: every total derives from the r×c cells frame
      val cells = core.Caches.cached(docs
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("_o")))
      val rowt = cells.groupBy(col("lang")).agg(sum(col("_o")).as("_rt"))
      val colt = cells.groupBy(col("source"))
        .agg(sum(col("_o")).as("_ct"))
      val tot = cells.agg(sum(col("_o")).cast("double").as("_nt"),
        countDistinct(col("lang")).as("_r"),
        countDistinct(col("source")).as("_c2"))
      cells.join(rowt, Seq("lang")).join(colt, Seq("source"))
        .agg(sum(col("_o") * col("_o") / (col("_rt") * col("_ct")))
          .as("_s"))
        .crossJoin(broadcast(tot))
        .select(col("_nt").cast("long").as("n"),
          col("_r").as("n_lang"), col("_c2").as("n_source"),
          round(col("_nt") * (col("_s") - 1) + lit(1e-9), 4).as("chi2"),
          round(sqrt((col("_s") - 1)
            / least(col("_r") - 1, col("_c2") - 1)) + lit(1e-9), 4)
            .as("cramers_v"))
    },
      // same observed-cells-only identity chi2 = n(Σ o²/(rt·ct) − 1)
      Oracle("""WITH cells AS (SELECT lang, source, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    count(DISTINCT lang) AS r, count(DISTINCT source) AS c
        |  FROM documents),
        |s AS (SELECT sum(o * o * 1.0 / (rt.rt * ct.ct)) AS sv
        |  FROM cells JOIN rt ON cells.lang = rt.lang
        |  JOIN ct ON cells.source = ct.source)
        |SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_lang,
        |  CAST(c AS BIGINT) AS n_source,
        |  round(n * (sv - 1) + 1e-9, 4) AS chi2,
        |  round(sqrt((sv - 1) / least(r - 1, c - 1)) + 1e-9, 4)
        |    AS cramers_v
        |FROM s CROSS JOIN tot""".stripMargin)),

    // 10% two-sided trimmed mean per event type next to the plain
    // mean: interpolated P10/P90 cuts (identical arithmetic both
    // engines), then one filtered re-aggregate — the robust center
    // q140's winsorize clamps toward, here by exclusion
    Query("q212_trimmed_mean", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val cuts = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("value")) + lit(1e-9), 4).as("mean"),
          percentile(col("value"), lit(0.1)).as("_lo"),
          percentile(col("value"), lit(0.9)).as("_hi"))
      ev.join(broadcast(cuts), Seq("event_type"))
        .filter(col("value").between(col("_lo"), col("_hi")))
        .groupBy(col("event_type"), col("n"), col("mean"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("value")) + lit(1e-9), 4).as("trimmed_mean"))
        .select(col("event_type"), col("n"), col("n_kept"), col("mean"),
          col("trimmed_mean"))
        .orderBy(col("event_type"))
    },
      // same interpolated P10/P90 cuts, inclusive band, re-aggregate
      Oracle("""WITH c AS (SELECT event_type, count(*) AS n,
        |    round(avg(value) + 1e-9, 4) AS mean,
        |    quantile_cont(value, 0.1) AS lo,
        |    quantile_cont(value, 0.9) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(c.n AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_kept, c.mean,
        |  round(avg(e.value) + 1e-9, 4) AS trimmed_mean
        |FROM events e JOIN c ON e.event_type = c.event_type
        |WHERE e.value BETWEEN c.lo AND c.hi
        |GROUP BY e.event_type, c.n, c.mean
        |ORDER BY e.event_type""".stripMargin)),

    // view→purchase conversion lag: per-user FIRST view and FIRST
    // purchase collapse in one conditional-min aggregate (no window,
    // no self-join); converted = first purchase strictly after first
    // view; lag percentiles interpolated over the per-user frame
    Query("q213_conversion_lag", (s, dir) => {
      val f = t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("_fv"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("_fp"))
      f.filter(col("_fv").isNotNull)
        .select(when(col("_fp") > col("_fv"),
          (unix_micros(col("_fp")) - unix_micros(col("_fv")))
            / lit(3.6e9)).as("_lag_h"))
        .agg(count(lit(1)).as("n_viewers"),
          count(col("_lag_h")).as("n_converted"),
          round(count(col("_lag_h")) / count(lit(1)).cast("double")
            + lit(1e-9), 4).as("conv_rate"),
          round(percentile(col("_lag_h"), lit(0.25)) + lit(1e-9), 4)
            .as("p25_h"),
          round(percentile(col("_lag_h"), lit(0.5)) + lit(1e-9), 4)
            .as("p50_h"),
          round(percentile(col("_lag_h"), lit(0.75)) + lit(1e-9), 4)
            .as("p75_h"))
    },
      // same conditional-min firsts, strict fp > fv conversion, hours
      Oracle("""WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM events GROUP BY 1),
        |l AS (SELECT CASE WHEN fp > fv
        |    THEN (epoch_us(fp) - epoch_us(fv)) / 3.6e9 END AS lag_h
        |  FROM f WHERE fv IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_viewers,
        |  CAST(count(lag_h) AS BIGINT) AS n_converted,
        |  round(count(lag_h) * 1.0 / count(*) + 1e-9, 4) AS conv_rate,
        |  round(quantile_cont(lag_h, 0.25) + 1e-9, 4) AS p25_h,
        |  round(quantile_cont(lag_h, 0.50) + 1e-9, 4) AS p50_h,
        |  round(quantile_cont(lag_h, 0.75) + 1e-9, 4) AS p75_h
        |FROM l""".stripMargin)),

    // top-10 session-opening paths: q103's gap sessionizer, then the
    // first 3 event types pivot out of ONE conditional-max aggregate
    // (concat_ws skips the nulls of shorter sessions) — the Sankey
    // entry-flow panel. All windows ride the high-cardinality user id
    Query("q214_path_prefix", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("_us"), col("event_id"))
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("_us"))
        .withColumn("_ns",
          when(lag(col("_us"), 1).over(w).isNull
            || col("_us") - lag(col("_us"), 1).over(w) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("_seq", sum(col("_ns")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("user_id"), col("_seq"))
            .orderBy(col("_us"), col("event_id"))))
      e.filter(col("_rn") <= 3)
        .groupBy(col("user_id"), col("_seq"))
        .agg(concat_ws(">",
          max(when(col("_rn") === 1, col("event_type"))),
          max(when(col("_rn") === 2, col("event_type"))),
          max(when(col("_rn") === 3, col("event_type")))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(10)
    },
      // q103's sessionizer verbatim, then the 3-step conditional-max
      // pivot (concat_ws skips NULLs in both engines)
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, event_type, us, event_id,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM f),
        |h AS (SELECT user_id, seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, seq
        |      ORDER BY us, event_id) AS rn FROM g),
        |p AS (SELECT user_id, seq, concat_ws('>',
        |    max(CASE WHEN rn = 1 THEN event_type END),
        |    max(CASE WHEN rn = 2 THEN event_type END),
        |    max(CASE WHEN rn = 3 THEN event_type END)) AS path
        |  FROM h WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin)),

    // CUSUM mean-shift scan per event type: standardized cumulative
    // deviation of daily counts, peak |S| day out — the sequential
    // drift alarm next to q190's single-split changepoint. The running
    // sum orders the CALENDAR-bounded daily frame; the argmax ranks on
    // the ROUNDED statistic (engine-stable ties, day asc breaker)
    Query("q215_cusum", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_x"))
      val st = d.groupBy(col("event_type"))
        .agg(avg(col("_x")).as("_mu"), stddev_pop(col("_x")).as("_sd"),
          count(lit(1)).as("n_days"))
      val cum = d.join(broadcast(st), Seq("event_type"))
        .withColumn("_s", sum(
          when(col("_sd") > 0, (col("_x") - col("_mu")) / col("_sd"))
            .otherwise(lit(0.0)))
          .over(Window.partitionBy(col("event_type")).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_sr", round(abs(col("_s")) + lit(1e-9), 4))
      cum.withColumn("_rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("_sr").desc, col("day"))))
        .filter(col("_rk") === 1)
        .select(col("event_type"), col("n_days"),
          col("day").as("peak_day"),
          ((round(col("_s") + lit(1e-9), 4)) + lit(0.0))
            .as("peak_cusum"))
        .orderBy(col("event_type"))
    },
      // same standardized running sum over the daily frame, argmax on
      // the ROUNDED |S| with day-asc tie-break
      Oracle("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, avg(x) AS mu, stddev_pop(x) AS sd,
        |    count(*) AS n_days FROM d GROUP BY 1),
        |c AS (SELECT d.event_type, st.n_days, d.day,
        |    sum(CASE WHEN st.sd > 0 THEN (d.x - st.mu) / st.sd
        |        ELSE 0.0 END)
        |      OVER (PARTITION BY d.event_type ORDER BY d.day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM d JOIN st ON d.event_type = st.event_type),
        |r AS (SELECT event_type, n_days, day, s,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY round(abs(s) + 1e-9, 4) DESC, day) AS rk
        |  FROM c)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  day AS peak_day,
        |  round(s + 1e-9, 4) + 0.0 AS peak_cusum
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin)),

    // per-source 3-gram novelty: share of a doc's shingles whose FIRST
    // corpus occurrence (min doc_id) is the doc itself — the curriculum
    // /redundancy signal near-dup thresholds miss. Posting-bounded
    // (Σ tokens): min-per-shingle is a mergeable aggregate, no pair
    // join, so no hot-posting cap needed
    Query("q216_ngram_novelty", (s, dir) => {
      // fanOutForMapWork (r17): the shingle build otherwise runs
      // single-task in the scan stage on a one-row-group input
      val posts = Tables.fanOutForMapWork(t(s, dir, "documents")
          .filter(size(split(lower(col("text")), "\\s+")) >= 3)
          .select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"),
          functions.ShingleHashes(col("text"), 3).as("_sh"))
        .select(col("doc_id"), col("source"),
          size(col("_sh")).as("_n"), explode(col("_sh")).as("_k"))
      val firsts = posts.groupBy(col("_k"))
        .agg(min(col("doc_id")).as("_first"))
      posts.join(firsts, Seq("_k"))
        .groupBy(col("doc_id"), col("source"), col("_n"))
        .agg(sum(when(col("_first") === col("doc_id"), 1L).otherwise(0L))
          .as("_novel"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("_novel") / col("_n")) + lit(1e-9), 4)
            .as("avg_novelty"))
        .orderBy(col("source"))
    },
      // same 3-gram construction as the q32 oracle (≥3-token docs),
      // min-doc first occurrence, per-doc novel share, per-source mean
      Oracle("""WITH d AS (SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM (SELECT doc_id, source,
        |          regexp_split_to_array(lower(text), '\s+') AS t
        |        FROM documents) WHERE len(t) >= 3),
        |p AS (SELECT doc_id, source, len(sh) AS n, unnest(sh) AS k
        |  FROM d),
        |f AS (SELECT k, min(doc_id) AS first_doc FROM p GROUP BY k),
        |nv AS (SELECT p.doc_id, p.source, p.n,
        |    sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
        |      AS novel
        |  FROM p JOIN f ON f.k = p.k GROUP BY 1, 2, 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(novel * 1.0 / n) + 1e-9, 4) AS avg_novelty
        |FROM nv GROUP BY source ORDER BY source""".stripMargin)),

    // Heaps' law fit: vocabulary size vs corpus size on a log-log
    // grid — over 3-GRAM types (the unigram vocabulary of the
    // synthetic corpus is 31 words and saturates in the first bucket;
    // shingle types keep growing, the curve Heaps actually describes).
    // SCALE SHAPE: docs collapse onto 20 doc-id buckets map-side
    // (integer bucket arithmetic, identical both engines), shingle
    // first-occurrences are one mergeable min per type, and the
    // cumulative/regression runs over the 20-row checkpoint frame —
    // no corpus-ordered window
    Query("q218_heaps_law", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(size(split(lower(col("text")), "\\s+")) >= 3)
        .select(col("doc_id"),
          (size(split(lower(col("text")), "\\s+")) - 2).as("_n"),
          functions.ShingleHashes(col("text"), 3).as("_sh"))
      val mx = docs.agg(max(col("doc_id")).as("_mx"))
      def bucket = greatest(lit(1L),
        expr("(doc_id * 20 + _mx - 1) div _mx"))
      val tok = docs.select(col("doc_id"), col("_n"))
        .crossJoin(broadcast(mx))
        .groupBy(bucket.as("_b")).agg(sum(col("_n")).as("_tokc"))
      val typ = docs.select(col("doc_id"), explode(col("_sh")).as("_tk"))
        .groupBy(col("_tk")).agg(min(col("doc_id")).as("doc_id"))
        .crossJoin(broadcast(mx))
        .groupBy(bucket.as("_b")).agg(count(lit(1)).as("_typc"))
      tok.join(typ, Seq("_b"), "full_outer").na.fill(0L)
        .withColumn("_tokcum", sum(col("_tokc")).over(
          Window.orderBy(col("_b")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_typcum", sum(col("_typc")).over(
          Window.orderBy(col("_b")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .filter(col("_tokcum") > 0 && col("_typcum") > 0)
        .agg(count(lit(1)).as("n_checkpoints"),
          max(col("_tokcum")).as("total_tokens"),
          max(col("_typcum")).as("total_types"),
          round(regr_slope(log(col("_typcum")), log(col("_tokcum")))
            + lit(1e-9), 4).as("heaps_beta"),
          round(regr_intercept(log(col("_typcum")), log(col("_tokcum")))
            + lit(1e-9), 4).as("heaps_log_k"))
    },
      // same 20-bucket integer grid, 3-gram min-doc first occurrence,
      // cumulative checkpoints, log-log regression (q32's shingle
      // construction, ≥3-token docs)
      Oracle("""WITH dd AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS t
        |  FROM documents
        |  WHERE len(regexp_split_to_array(lower(text), '\s+')) >= 3),
        |mx AS (SELECT max(doc_id) AS mx FROM dd),
        |tok AS (SELECT greatest((doc_id * 20 + mx - 1) // mx, 1) AS b,
        |    sum(len(t) - 2) AS tokc
        |  FROM dd CROSS JOIN mx GROUP BY 1),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS tk
        |  FROM dd),
        |fmin AS (SELECT tk, min(doc_id) AS fd FROM sh GROUP BY tk),
        |typ AS (SELECT greatest((fd * 20 + mx - 1) // mx, 1) AS b,
        |    count(*) AS typc
        |  FROM fmin CROSS JOIN mx GROUP BY 1),
        |grid AS (SELECT COALESCE(tok.b, typ.b) AS b,
        |    COALESCE(tokc, 0) AS tokc, COALESCE(typc, 0) AS typc
        |  FROM tok FULL JOIN typ ON tok.b = typ.b),
        |cum AS (SELECT b,
        |    sum(tokc) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS tokcum,
        |    sum(typc) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS typcum
        |  FROM grid)
        |SELECT CAST(count(*) AS BIGINT) AS n_checkpoints,
        |  CAST(max(tokcum) AS BIGINT) AS total_tokens,
        |  CAST(max(typcum) AS BIGINT) AS total_types,
        |  round(regr_slope(ln(typcum), ln(tokcum)) + 1e-9, 4)
        |    AS heaps_beta,
        |  round(regr_intercept(ln(typcum), ln(tokcum)) + 1e-9, 4)
        |    AS heaps_log_k
        |FROM cum WHERE tokcum > 0 AND typcum > 0""".stripMargin)),

    // snapshot diff audit between the day-15 state and the final
    // state: per-user (event count, last event type) from ONE
    // conditional aggregate each (struct-max argmax), one full-outer
    // key join, change classes out — the table-diff primitive next to
    // q110's snapshot and q171's MERGE apply
    Query("q219_snapshot_diff", (s, dir) => {
      val ev = t(s, dir, "events")
      def snap(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("_n"),
          max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("_last"))
        .select(col("user_id"), col("_n"),
          col("_last.event_type").as("_lt"))
      val s1 = snap(ev.filter(
        to_date(col("ts")) <= lit("2024-01-15").cast("date")))
      val s2 = snap(ev)
      s1.select(col("user_id"), col("_n").as("_n1"), col("_lt").as("_lt1"))
        .join(s2.select(col("user_id"), col("_n").as("_n2"),
          col("_lt").as("_lt2")), Seq("user_id"), "full_outer")
        .select(when(col("_n1").isNull, "new")
          .when(col("_n1") === col("_n2")
            && col("_lt1") === col("_lt2"), "unchanged")
          .otherwise("changed").as("change_class"))
        .groupBy(col("change_class")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("change_class"))
    },
      // same per-user (count, last-event) snapshots (ts, event_id
      // argmax), full-outer classify
      Oracle("""WITH e1 AS (SELECT * FROM events
        |  WHERE CAST(ts AS DATE) <= DATE '2024-01-15'),
        |c1 AS (SELECT user_id, count(*) AS n1 FROM e1 GROUP BY 1),
        |l1 AS (SELECT user_id, event_type AS lt1 FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |      AS rn FROM e1) WHERE rn = 1),
        |c2 AS (SELECT user_id, count(*) AS n2 FROM events GROUP BY 1),
        |l2 AS (SELECT user_id, event_type AS lt2 FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |      AS rn FROM events) WHERE rn = 1),
        |s1 AS (SELECT c1.user_id, n1, lt1 FROM c1
        |  JOIN l1 ON c1.user_id = l1.user_id),
        |s2 AS (SELECT c2.user_id, n2, lt2 FROM c2
        |  JOIN l2 ON c2.user_id = l2.user_id),
        |d AS (SELECT CASE WHEN s1.user_id IS NULL THEN 'new'
        |    WHEN s1.n1 = s2.n2 AND s1.lt1 = s2.lt2 THEN 'unchanged'
        |    ELSE 'changed' END AS change_class
        |  FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id)
        |SELECT change_class, CAST(count(*) AS BIGINT) AS n_users
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // equi-WIDTH value histogram per event type (q87 is equi-depth):
    // 20 fixed bins over the per-type [min, max], bin = identical
    // float expression both engines, counts collapse map-side
    Query("q223_equiwidth_hist", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val mm = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("_mn"), max(col("value")).as("_mx"))
      ev.join(broadcast(mm), Seq("event_type"))
        .select(col("event_type"),
          least(floor((col("value") - col("_mn")) * lit(20.0)
            / (col("_mx") - col("_mn"))), lit(19.0)).cast("long")
            .as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bin"))
    },
      // same (v − mn)·20/(mx − mn) bin expression, same clamp
      Oracle("""WITH mm AS (SELECT event_type, min(value) AS mn,
        |    max(value) AS mx FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CAST(least(floor((e.value - mn) * 20.0 / (mx - mn)), 19)
        |    AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events e JOIN mm ON e.event_type = mm.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // audience-overlap Jaccard between event types: |users(a)∩users(b)|
    // over the union — segment-overlap matrix. The self-join rides the
    // distinct (type, user) frame, so per-user fan-out is ≤ |types|²
    // rows — never events²
    Query("q224_audience_overlap", (s, dir) => {
      val tu = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = tu.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_c"))
      tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("_c").as("_ca"))), Seq("type_a"))
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("_c").as("_cb"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_common"),
          round(col("n_common")
            / (col("_ca") + col("_cb") - col("n_common")).cast("double")
            + lit(1e-9), 4).as("jaccard"))
        .orderBy(col("type_a"), col("type_b"))
    },
      // same distinct (type, user) frame, user-keyed pair join
      Oracle("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS c FROM tu GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_common
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n_common AS BIGINT) AS n_common,
        |  round(n_common * 1.0 / (ca.c + cb.c - n_common) + 1e-9, 4)
        |    AS jaccard
        |FROM p JOIN sz ca ON ca.event_type = type_a
        |JOIN sz cb ON cb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin)),

    // classifier quality report over q28's LangId: per TRUE language,
    // support / predicted-count / true-positives → precision, recall,
    // F1 — the eval layer above the raw confusion matrix. Three
    // |classes|-bounded aggregates off one scored scan
    Query("q226_langid_prf", (s, dir) => {
      val cm = t(s, dir, "documents")
        .select(col("lang"), graft.functions.LangId(col("text"))
          .as("_pred"))
      val nt = cm.groupBy(col("lang")).agg(count(lit(1)).as("support"))
      val np = cm.groupBy(col("_pred").as("lang"))
        .agg(count(lit(1)).as("_np"))
      val tp = cm.filter(col("lang") === col("_pred"))
        .groupBy(col("lang")).agg(count(lit(1)).as("_tp"))
      nt.join(np, Seq("lang"), "left").join(tp, Seq("lang"), "left")
        .select(col("lang"), col("support"),
          coalesce(col("_np"), lit(0L)).as("n_pred"),
          coalesce(col("_tp"), lit(0L)).as("tp"),
          round(when(coalesce(col("_np"), lit(0L)) > 0,
            coalesce(col("_tp"), lit(0L))
              / col("_np").cast("double")).otherwise(0.0)
            + lit(1e-9), 4).as("precision"),
          round(coalesce(col("_tp"), lit(0L))
            / col("support").cast("double") + lit(1e-9), 4).as("recall"),
          round(when(coalesce(col("_np"), lit(0L)) > 0
              && coalesce(col("_tp"), lit(0L)) > 0,
            lit(2.0) * coalesce(col("_tp"), lit(0L))
              / (col("_np") + col("support")).cast("double"))
            .otherwise(0.0) + lit(1e-9), 4).as("f1"))
        .orderBy(col("lang"))
    },
      // q28's heuristic verbatim, rolled up to per-true-class P/R/F1
      Oracle("""WITH h AS (
        |  SELECT lang,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS h_en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','un','una','es','por'))) AS h_es,
        |    len(list_filter(toks, t -> t IN ('le','la','de','et','que','en','un','une','est','pour'))) AS h_fr,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','zu','in','ein','eine','ist','von'))) AS h_de,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我','有','和','就','不','人'))) AS h_zh
        |  FROM (SELECT lang, regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents)),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(h_en,h_es,h_fr,h_de,h_zh) = 0 THEN 'und'
        |       WHEN h_zh = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'zh'
        |       WHEN h_fr = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'fr'
        |       WHEN h_es = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'es'
        |       WHEN h_en = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |  FROM h),
        |nt AS (SELECT lang, count(*) AS support FROM p GROUP BY 1),
        |np AS (SELECT lang_pred AS lang, count(*) AS np FROM p
        |  GROUP BY 1),
        |tp AS (SELECT lang, count(*) AS tp FROM p
        |  WHERE lang = lang_pred GROUP BY 1)
        |SELECT nt.lang, CAST(support AS BIGINT) AS support,
        |  CAST(COALESCE(np.np, 0) AS BIGINT) AS n_pred,
        |  CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
        |  round(CASE WHEN COALESCE(np.np, 0) > 0
        |    THEN COALESCE(tp.tp, 0) * 1.0 / np.np ELSE 0.0 END
        |    + 1e-9, 4) AS precision,
        |  round(COALESCE(tp.tp, 0) * 1.0 / support + 1e-9, 4)
        |    AS recall,
        |  round(CASE WHEN COALESCE(np.np, 0) > 0
        |      AND COALESCE(tp.tp, 0) > 0
        |    THEN 2.0 * tp.tp / (np.np + support) ELSE 0.0 END
        |    + 1e-9, 4) AS f1
        |FROM nt LEFT JOIN np ON np.lang = nt.lang
        |LEFT JOIN tp ON tp.lang = nt.lang
        |ORDER BY nt.lang""".stripMargin)),

    // embedding L2-norm health per label: norms ROUNDED to 6dp before
    // any statistic (array-sum float order differs across engines;
    // after the round both see identical inputs), mean + interpolated
    // p99 + count above it — the vector-sanity gate before any ANN
    // build
    Query("q227_embedding_norms", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 6)
            .as("_norm"))
      val st = e.groupBy(col("label")).agg(count(lit(1)).as("n"),
        round(avg(col("_norm")) + lit(1e-9), 4).as("mean_norm"),
        percentile(col("_norm"), lit(0.99)).as("_p99"))
      e.join(broadcast(st), Seq("label"))
        .groupBy(col("label"), col("n"), col("mean_norm"), col("_p99"))
        .agg(sum(when(col("_norm") > col("_p99"), 1L).otherwise(0L))
          .as("n_above"))
        .select(col("label"), col("n"), col("mean_norm"),
          round(col("_p99") + lit(1e-9), 4).as("p99_norm"),
          col("n_above"))
        .orderBy(col("label"))
    },
      // norms rounded to 6dp first (identical inputs both engines),
      // interpolated p99, strict-above count
      Oracle("""WITH e AS (SELECT label,
        |    round(sqrt(list_sum(list_transform(
        |      CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS norm
        |  FROM embeddings),
        |st AS (SELECT label, count(*) AS n,
        |    round(avg(norm) + 1e-9, 4) AS mean_norm,
        |    quantile_cont(norm, 0.99) AS p99
        |  FROM e GROUP BY 1)
        |SELECT e.label, CAST(n AS BIGINT) AS n, mean_norm,
        |  round(p99 + 1e-9, 4) AS p99_norm,
        |  CAST(sum(CASE WHEN e.norm > st.p99 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above
        |FROM e JOIN st ON e.label = st.label
        |GROUP BY e.label, n, mean_norm, p99 ORDER BY e.label""".stripMargin)),

    // revenue Pareto deciles: per-user spend assigned to a decile by
    // comparison against 9 broadcast interpolated cuts (q192's
    // map-side assignment — no corpus-ordered ntile), per-decile user
    // count, revenue, and top-down cumulative share over the ≤10-row
    // frame — the Lorenz/whale panel behind q168's summary
    Query("q228_revenue_deciles", (s, dir) => {
      val spend = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(round(sum(col("value")) + lit(1e-9), 4).as("_sp"))
      val cutExprs = (1 to 9).map(i =>
        percentile(col("_sp"), lit(i / 10.0)).as(s"_c$i"))
      val cuts = spend.agg(cutExprs.head, cutExprs.tail: _*)
      val dec = spend.crossJoin(broadcast(cuts))
        .select(col("_sp"),
          (1 to 9).map(i => when(col("_sp") > col(s"_c$i"), 1L)
            .otherwise(0L))
            .reduce(_ + _).as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("_sp")) + lit(1e-9), 4).as("revenue"))
      val tot = dec.agg(sum(col("revenue")).as("_tot"))
      dec.crossJoin(broadcast(tot))
        .withColumn("cum_share",
          round(sum(col("revenue")).over(
            Window.orderBy(col("decile").desc).rowsBetween(
              Window.unboundedPreceding, Window.currentRow))
            / col("_tot") + lit(1e-9), 4))
        .select(col("decile"), col("n_users"), col("revenue"),
          col("cum_share"))
        .orderBy(col("decile"))
    },
      // same 9 interpolated cuts, strict-above decile assignment,
      // top-down cumulative share
      Oracle("""WITH sp AS (SELECT user_id, round(sum(value) + 1e-9, 4) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT quantile_cont(s, 0.1) AS c1,
        |    quantile_cont(s, 0.2) AS c2, quantile_cont(s, 0.3) AS c3,
        |    quantile_cont(s, 0.4) AS c4, quantile_cont(s, 0.5) AS c5,
        |    quantile_cont(s, 0.6) AS c6, quantile_cont(s, 0.7) AS c7,
        |    quantile_cont(s, 0.8) AS c8, quantile_cont(s, 0.9) AS c9
        |  FROM sp),
        |d AS (SELECT
        |    (CASE WHEN s > c1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c7 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s > c9 THEN 1 ELSE 0 END) AS decile, s
        |  FROM sp CROSS JOIN c),
        |g AS (SELECT decile, count(*) AS n_users,
        |    round(sum(s) + 1e-9, 4) AS revenue
        |  FROM d GROUP BY 1),
        |tt AS (SELECT sum(revenue) AS tot FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_users AS BIGINT) AS n_users, revenue,
        |  round(sum(revenue) OVER (ORDER BY decile DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tot
        |    + 1e-9, 4) AS cum_share
        |FROM g CROSS JOIN tt ORDER BY decile""".stripMargin)),

    // rolling 7-day distinct actives (true rolling WAU — distinct
    // can't slide, so INVERT: each (user, active-day) fans out to the
    // 7 window-end days it supports, then one distinct count per day.
    // Fan-out is 7×|user-days| (bounded), never 7× events
    Query("q230_rolling_wau", (s, dir) => {
      val ud = t(s, dir, "events")
        .select(to_date(col("ts")).as("_d"), col("user_id")).distinct()
      val grid = s.range(0, 7).select(col("id").cast("int").as("_i"))
      val realDays = ud.select(col("_d").as("day")).distinct()
      ud.crossJoin(broadcast(grid))
        .select(date_add(col("_d"), col("_i")).as("day"), col("user_id"))
        .join(realDays, Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("day"))
    },
      // same 7-day fan-out inversion, real-activity-day semi filter
      Oracle("""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        |  FROM events),
        |fan AS (SELECT d + CAST(i AS INTEGER) AS day, user_id
        |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6))
        |    AS i) g),
        |rd AS (SELECT DISTINCT d AS day FROM ud)
        |SELECT fan.day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM fan JOIN rd ON fan.day = rd.day
        |GROUP BY fan.day ORDER BY fan.day""".stripMargin)),

    // nation revenue year-over-year: customer→nation enrichment (both
    // dims broadcast), (nation, year) rollup, lag over the
    // calendar-bounded frame; first year (no prior) dropped
    Query("q231_nation_yoy", (s, dir) => {
      // customer is corpus-scaled → UN-hinted (BroadcastScaleAuditSpec);
      // the planner broadcasts the 2-column projection while it is
      // small and AQE degrades to a shuffle join when it is not
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("yr"))
        // the revenue column is an EXPOSED 2-dp money sum (r13 money
        // audit): (nation, year) sums reach 7e10 at 100×, where a
        // double sum's order error crosses the half-grid — exact
        // DECIMAL(12,2), rounded, cast back (the q05/q108 class)
        .agg(round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
          .cast("double").as("revenue"))
      rev.withColumn("_prev", lag(col("revenue"), 1).over(
          Window.partitionBy(col("nation")).orderBy(col("yr"))))
        .filter(col("_prev").isNotNull)
        .select(col("nation"), col("yr"), col("revenue"),
          (round((col("revenue") - col("_prev")) / col("_prev")
            + lit(1e-9), 4) + lit(0.0)).as("yoy_growth"))
        .orderBy(col("nation"), col("yr"))
    },
      // same enrichment + (nation, year) rollup + lag; first year drops
      Oracle("""WITH r AS (SELECT n_name AS nation,
        |    CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
        |      AS DOUBLE) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |l AS (SELECT nation, yr, revenue,
        |    lag(revenue) OVER (PARTITION BY nation ORDER BY yr) AS prev
        |  FROM r)
        |SELECT nation, yr, revenue,
        |  round((revenue - prev) / prev + 1e-9, 4) + 0.0 AS yoy_growth
        |FROM l WHERE prev IS NOT NULL
        |ORDER BY nation, yr""".stripMargin)),

    // supplier↔part bipartite degree histograms off the distinct
    // lineitem pair frame — catalog-shape profiling (how concentrated
    // is sourcing), two bounded rollups union'd with a side tag
    Query("q232_supplier_part_degrees", (s, dir) => {
      // NO fan-out (r18, VERDICT r17 #4 retried and re-refused): the
      // r17 blanket fan-out regressed on full-width rows; the r18 retry
      // fanned the NARROW 2-column projection and STILL regressed (A/B
      // 0.751 s off vs 1.120 s on — the map-side partial distinct
      // already collapses the scan to ~|distinct pairs|, so the extra
      // round-robin exchange moves more rows than it saves). Second
      // measured no-go; input left as scanned.
      val sp = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey")).distinct()
      def hist(key: String, side: String) = sp
        .groupBy(col(key)).agg(count(lit(1)).as("_deg"))
        .groupBy(col("_deg").as("degree"))
        .agg(count(lit(1)).as("n_keys"))
        .select(lit(side).as("side"), col("degree"), col("n_keys"))
      hist("l_suppkey", "parts_per_supplier")
        .unionByName(hist("l_partkey", "suppliers_per_part"))
        .orderBy(col("side"), col("degree"))
    },
      // same distinct pair frame, two degree rollups, side tag
      Oracle("""WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey
        |  FROM lineitem),
        |s1 AS (SELECT 'parts_per_supplier' AS side, degree,
        |    count(*) AS n_keys FROM (
        |    SELECT count(*) AS degree FROM sp GROUP BY l_suppkey) t
        |  GROUP BY degree),
        |s2 AS (SELECT 'suppliers_per_part' AS side, degree,
        |    count(*) AS n_keys FROM (
        |    SELECT count(*) AS degree FROM sp GROUP BY l_partkey) t
        |  GROUP BY degree)
        |SELECT side, CAST(degree AS BIGINT) AS degree,
        |  CAST(n_keys AS BIGINT) AS n_keys
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) u
        |ORDER BY side, degree""".stripMargin)),

    // shingle document-frequency histogram (log2 buckets): how much
    // of the 3-gram space is boilerplate — the observability panel
    // that SIZES the dedup stack's hot-posting cap. Posting-bounded:
    // one mergeable count per shingle, then a ≤64-row bucket rollup
    Query("q234_shingle_df_hist", (s, dir) => {
      val df = t(s, dir, "documents")
        .filter(size(split(lower(col("text")), "\\s+")) >= 3)
        .select(functions.ShingleHashes(col("text"), 3).as("_sh"))
        .select(explode(col("_sh")).as("_k"))
        .groupBy(col("_k")).agg(count(lit(1)).as("_df"))
      df.groupBy(floor(log(2.0, col("_df"))).cast("long")
          .as("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"), max(col("_df")).as("max_df"))
        .orderBy(col("df_bucket"))
    },
      // same distinct-per-doc 3-gram df counts, floor(log2) buckets
      Oracle("""WITH d AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(text), '\s+') AS t
        |        FROM documents) q WHERE len(t) >= 3),
        |f AS (SELECT k, count(*) AS df FROM (
        |    SELECT doc_id, unnest(sh) AS k FROM d) u GROUP BY k)
        |SELECT CAST(floor(log2(df)) AS BIGINT) AS df_bucket,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(max(df) AS BIGINT) AS max_df
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // embedding-space drift matrix: L2 distance between per-label MEAN
    // vectors for every label pair — the mean-embedding (MMD-lite)
    // two-sample statistic. Dims explode to a (label, pos) frame
    // (|labels|·64 rows after the map-side avg), pair join on the tiny
    // frame; per-dim means rounded 6dp so engine float order can't
    // move the distance
    Query("q235_label_centroid_dist", (s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("_pos", "_v")))
        .groupBy(col("label"), col("_pos"))
        .agg(round(avg(col("_v").cast("double")), 6).as("_m"))
      dims.select(col("label").as("label_a"), col("_pos"),
          col("_m").as("_ma"))
        .join(dims.select(col("label").as("label_b"), col("_pos"),
          col("_m").as("_mb")), Seq("_pos"))
        .filter(col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"))
        .agg(round(sqrt(sum(pow(col("_ma") - col("_mb"), 2)))
          + lit(1e-9), 4).as("dist"))
        .orderBy(col("label_a"), col("label_b"))
    },
      // same per-dim rounded means (1-based unnest ordinality mapped to
      // 0-based), pairwise L2 over the |labels|·dims frame
      Oracle("""WITH dims AS (SELECT label, pos - 1 AS pos,
        |    round(avg(CAST(v AS DOUBLE)), 6) AS m
        |  FROM (SELECT label, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS pos
        |    FROM embeddings) u
        |  GROUP BY 1, 2)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(sqrt(sum(pow(a.m - b.m, 2))) + 1e-9, 4) AS dist
        |FROM dims a JOIN dims b ON a.pos = b.pos
        |  AND a.label < b.label
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // daily-count autocorrelation at lags 1..7 per event type: the
    // seasonality detector behind q173/q193's DOW baselines — corr of
    // the calendar frame self-joined at each lag (integer counts, so
    // cross-engine corr agrees as q50/q179 established)
    Query("q236_daily_acf", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_x"))
        .withColumn("_dn",
          datediff(col("day"), to_date(lit("1970-01-01"))))
      val grid = s.range(1, 8).select(col("id").cast("int").as("lag"))
      d.crossJoin(broadcast(grid))
        .select(col("event_type"), col("lag"),
          (col("_dn") + col("lag")).as("_dn2"), col("_x").as("_xa"))
        .join(d.select(col("event_type"), col("_dn").as("_dn2"),
          col("_x").as("_xb")), Seq("event_type", "_dn2"))
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          (round(corr(col("_xa"), col("_xb")) + lit(1e-9), 4)
            + lit(0.0)).as("acf"))
        .orderBy(col("event_type"), col("lag"))
    },
      // same lag self-join on the daily frame, same corr
      Oracle("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS x,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS dn
        |  FROM events GROUP BY 1, CAST(ts AS DATE)),
        |g AS (SELECT unnest(generate_series(1, 7)) AS lag),
        |p AS (SELECT a.event_type, g.lag, a.x AS xa, b.x AS xb
        |  FROM d a CROSS JOIN g
        |  JOIN d b ON a.event_type = b.event_type
        |    AND b.dn = a.dn + g.lag)
        |SELECT event_type, CAST(lag AS INTEGER) AS lag,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(corr(xa, xb) + 1e-9, 4) + 0.0 AS acf
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // order fulfillment lag by priority: order date → last line ship
    // date, exact P50/P90 day-lags per priority — ops-latency panel
    // off one order-keyed aggregate + a priority-bounded rollup
    Query("q237_fulfillment_lag", (s, dir) => {
      val lagd = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate").cast("date")).as("_ship"))
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"),
          col("o_orderdate").cast("date").as("_odate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("_ship"), col("_odate")).as("_lag"))
      lagd.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(avg(col("_lag")) + lit(1e-9), 4).as("mean_days"),
          round(percentile(col("_lag"), lit(0.5)) + lit(1e-9), 4)
            .as("p50_days"),
          round(percentile(col("_lag"), lit(0.9)) + lit(1e-9), 4)
            .as("p90_days"))
        .orderBy(col("o_orderpriority"))
    },
      // same order-keyed span + priority rollup, interpolated cuts
      Oracle("""WITH sp AS (SELECT l.l_orderkey, o.o_orderpriority,
        |    CAST(max(l.l_shipdate) AS DATE)
        |      - CAST(o.o_orderdate AS DATE) AS lag
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2, o.o_orderdate)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(avg(lag) + 1e-9, 4) AS mean_days,
        |  round(quantile_cont(lag, 0.5) + 1e-9, 4) AS p50_days,
        |  round(quantile_cont(lag, 0.9) + 1e-9, 4) AS p90_days
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // monthly promo-revenue share (TPC-H Q14 shape): fraction of gross
    // discounted revenue from PROMO-type parts per ship month — one
    // lineitem⋈part equi-join (part is the dim side: broadcast here,
    // shuffle-hash on p_partkey at cluster scale) feeding a calendar-
    // bounded conditional aggregate; revenue sums are map-side partial
    Query("q238_promo_revenue", (s, dir) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      // part is corpus-scaled → UN-hinted (BroadcastScaleAuditSpec);
      // size-based planning keeps the broadcast while part fits
      t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("month"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0.0))) * 100.0 / sum(rev) + lit(1e-9), 4)
            .as("promo_share_pct"))
        .orderBy(col("month"))
    },
      // same join + conditional monthly aggregate
      Oracle("""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
        |    AS promo_share_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // quarterly top supplier (TPC-H Q15 shape): the "revenue view +
    // max" formulation becomes ONE supplier-keyed aggregate and a
    // rank-1 window over the |suppliers×quarters|-bounded frame —
    // revenue ROUNDED to cents before ranking so cross-engine float
    // sum order can't flip near-ties; names broadcast-joined back
    Query("q239_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(concat(year(col("l_shipdate")), lit("-Q"),
          quarter(col("l_shipdate"))).as("qtr"), col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))) + lit(1e-9), 2)
          .as("total_revenue"))
      val w = Window.partitionBy(col("qtr"))
        .orderBy(col("total_revenue").desc, col("l_suppkey"))
      rev.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("qtr"), col("s_name"), col("total_revenue"))
        .orderBy(col("qtr"))
    },
      // same cents-rounded revenue frame + rank-1 per quarter
      Oracle("""WITH rev AS (SELECT year(CAST(l_shipdate AS DATE)) || '-Q'
        |      || quarter(CAST(l_shipdate AS DATE)) AS qtr,
        |    l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2)
        |      AS total_revenue
        |  FROM lineitem GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY qtr
        |    ORDER BY total_revenue DESC, l_suppkey) AS rk FROM rev)
        |SELECT qtr, s_name, total_revenue
        |FROM rk JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rk = 1 ORDER BY qtr""".stripMargin)),

    // returned-item customer ranking (TPC-H Q10 shape): revenue lost
    // to R-flag returns per customer, nation-enriched top 20 — the
    // returnflag filter reaches the lineitem scan, the aggregate runs
    // BELOW the customer join so the big join input is |custkeys with
    // returns|-sized, dims broadcast
    Query("q240_returned_customers", (s, dir) => {
      val lost = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        // decimal money sum (the q108 precedent): the old double sum's
        // +1e-9 nudge only shields exact .xx5 ties, not the ~1e-5
        // accumulated float error that flipped three customers' last
        // cent (and potentially the top-20 ORDER) at the 30x corpus
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1) - col("l_discount")).cast("decimal(8,6)")), 2)
          .cast("double")
          .as("lost_revenue"), count(lit(1)).as("n_lines"))
      lost.join(t(s, dir, "customer").select(col("c_custkey"),
          col("c_name"), col("c_acctbal"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          col("n_name").as("nation"), col("c_acctbal").as("acctbal"),
          col("lost_revenue"), col("n_lines"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)
    },
      // same aggregate-below-join, cents-rounded deterministic top 20
      Oracle("""WITH lost AS (SELECT o_custkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(1 - l_discount AS DECIMAL(8,6))), 2) AS DOUBLE)
        |      AS lost_revenue,
        |    CAST(count(*) AS BIGINT) AS n_lines
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, n_name AS nation,
        |  c_acctbal AS acctbal, lost_revenue, n_lines
        |FROM lost JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // small-quantity lost-revenue probe (TPC-H Q17 shape): revenue
    // from lineitems under 20% of their part's average quantity, one
    // brand — the classic correlated subquery DECORRELATED by hand
    // into a per-part window avg AFTER the brand semi-filter: ONE
    // lineitem scan, one shuffle on the ~1/25 brand slice (vs the
    // naive second full-scan aggregate). l_quantity is integer-valued
    // so the window avg is float-order-exact cross-engine
    Query("q241_small_qty_revenue", (s, dir) => {
      val w = Window.partitionBy(col("l_partkey"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#9")
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("_avg_qty", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < lit(0.2) * col("_avg_qty"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")) / 7.0 + lit(1e-9), 2)
            .as("avg_yearly"))
    },
      // same brand filter + per-part window avg + 20% cut
      Oracle("""WITH f AS (SELECT l_quantity, l_extendedprice,
        |    avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#9')
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  round(sum(l_extendedprice) / 7.0 + 1e-9, 2) AS avg_yearly
        |FROM f WHERE l_quantity < 0.2 * avg_qty""".stripMargin)),

    // large-volume customer orders (TPC-H Q18 shape): orders whose
    // total quantity exceeds 300 (~0.1% tail) — HAVING on an order-
    // keyed aggregate, then enrichment of only the survivors: the
    // aggregate-below-join shape keeps both joins |survivors|-sized.
    // Integer-valued quantities sum exactly, so the HAVING cut and
    // the ordering are deterministic cross-engine
    Query("q242_big_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("l_orderkey").as("orderkey"),
          col("o_orderdate").cast("date").as("orderdate"),
          col("o_totalprice").as("totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("orderkey"))
        .limit(100)
    },
      // same HAVING cut + enrichment, deterministic top 100
      Oracle("""WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c_custkey, c_name, l_orderkey AS orderkey,
        |  CAST(o_orderdate AS DATE) AS orderdate,
        |  o_totalprice AS totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, orderkey LIMIT 100""".stripMargin)),

    // centroid silhouette of the label partition in embedding space:
    // per vector a = L2 to its OWN label centroid, b = min L2 to any
    // other, s = (b−a)/max(a,b) — the cluster-separation panel as
    // SIMPLIFIED silhouette: the frame is |vectors|·|labels|, never
    // pairwise vectors². Centroid means and distances rounded 6dp
    // (q235's guard) so engine float-sum order can't move s
    Query("q243_silhouette", (s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("_pos", "_v")))
      val cent = ex.groupBy(col("label").as("_clab"), col("_pos"))
        .agg(round(avg(col("_v").cast("double")), 6).as("_m"))
      val dist = ex.join(broadcast(cent), Seq("_pos"))
        .groupBy(col("vec_id"), col("label"), col("_clab"))
        .agg(round(sqrt(sum(pow(col("_v") - col("_m"), 2))), 6)
          .as("_d"))
      dist.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("label") === col("_clab"), col("_d")))
            .as("_a"),
          min(when(col("label") =!= col("_clab"), col("_d"))).as("_b"))
        .select(col("label"), ((col("_b") - col("_a"))
          / greatest(col("_a"), col("_b"))).as("_s"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          (round(avg(col("_s")) + lit(1e-9), 4) + lit(0.0))
            .as("mean_silhouette"))
        .orderBy(col("label"))
    },
      // same 6dp centroid means + per-vector own/other distances
      Oracle("""WITH ex AS (SELECT vec_id, label, pos - 1 AS pos,
        |    CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS pos
        |    FROM embeddings) u),
        |cent AS (SELECT label AS clab, pos, round(avg(v), 6) AS m
        |  FROM ex GROUP BY 1, 2),
        |dist AS (SELECT e.vec_id, e.label, c.clab,
        |    round(sqrt(sum(pow(e.v - c.m, 2))), 6) AS d
        |  FROM ex e JOIN cent c ON e.pos = c.pos
        |  GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |    max(CASE WHEN label = clab THEN d END) AS a,
        |    min(CASE WHEN label <> clab THEN d END) AS b
        |  FROM dist GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |  round(avg((b - a) / greatest(a, b)) + 1e-9, 4) + 0.0
        |    AS mean_silhouette
        |FROM ab GROUP BY 1 ORDER BY 1""".stripMargin)),

    // nearest-centroid classifier confusion matrix: predict each
    // vector's label as the argmin-distance label centroid (struct-min
    // on the 6dp-rounded distance, label ascending on exact ties) —
    // the sanity classifier that bounds how linearly separable the
    // label structure is; same |vectors|·|labels| frame as q243
    Query("q244_centroid_classifier", (s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("_pos", "_v")))
      val cent = ex.groupBy(col("label").as("_clab"), col("_pos"))
        .agg(round(avg(col("_v").cast("double")), 6).as("_m"))
      ex.join(broadcast(cent), Seq("_pos"))
        .groupBy(col("vec_id"), col("label"), col("_clab"))
        .agg(round(sqrt(sum(pow(col("_v") - col("_m"), 2))), 6)
          .as("_d"))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(struct(col("_d"), col("_clab"))).as("_p"))
        .groupBy(col("label"), col("_p._clab").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("pred_label"))
    },
      // same distance frame; argmin via (d, clab)-ordered rank 1
      Oracle("""WITH ex AS (SELECT vec_id, label, pos - 1 AS pos,
        |    CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS pos
        |    FROM embeddings) u),
        |cent AS (SELECT label AS clab, pos, round(avg(v), 6) AS m
        |  FROM ex GROUP BY 1, 2),
        |dist AS (SELECT e.vec_id, e.label, c.clab,
        |    round(sqrt(sum(pow(e.v - c.m, 2))), 6) AS d
        |  FROM ex e JOIN cent c ON e.pos = c.pos
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d, clab) AS r FROM dist)
        |SELECT label, clab AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM rk WHERE r = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Brown–Forsythe variance-homogeneity test across event types:
    // one-way ANOVA F over z = |value − type median| — the robust
    // Levene variant behind "can I pool these groups". Exact medians
    // broadcast back over ONE re-scan (the q212 two-pass shape), all
    // F pieces from a |types|-bounded moments frame
    Query("q246_brown_forsythe", (s, dir) => {
      val med = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("_med"))
      val z = t(s, dir, "events")
        .join(broadcast(med), Seq("event_type"))
        .select(col("event_type"),
          abs(col("value") - col("_med")).as("_z"))
      val gm = z.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_z")).as("_s"),
          sum(col("_z") * col("_z")).as("_q"))
      gm.agg(count(lit(1)).as("_k"), sum(col("_n")).as("_bn"),
          sum(col("_s")).as("_bs"),
          sum(col("_q") - col("_s") * col("_s")
            / col("_n").cast("double")).as("_ssw"),
          sum(col("_s") * col("_s") / col("_n").cast("double"))
            .as("_sqn"))
        .select(col("_k").cast("long").as("k_groups"),
          col("_bn").cast("long").as("n_total"),
          (col("_k") - 1).cast("long").as("df1"),
          (col("_bn") - col("_k")).cast("long").as("df2"),
          round(((col("_sqn") - col("_bs") * col("_bs")
              / col("_bn").cast("double"))
            / (col("_k") - lit(1.0)).cast("double")) /
            (col("_ssw") / (col("_bn") - col("_k")).cast("double"))
            + lit(1e-9), 4).as("f_stat"))
    },
      // same exact medians + one-way ANOVA F over |value − median|
      Oracle("""WITH med AS (SELECT event_type,
        |    quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |z AS (SELECT e.event_type, abs(e.value - m.med) AS z
        |  FROM events e JOIN med m ON e.event_type = m.event_type),
        |gm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(z) AS s, sum(z * z) AS q
        |  FROM z GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |  CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(count(*) - 1 AS BIGINT) AS df1,
        |  CAST(sum(n) - count(*) AS BIGINT) AS df2,
        |  round(((sum(s * s / CAST(n AS DOUBLE))
        |      - sum(s) * sum(s) / CAST(sum(n) AS DOUBLE))
        |    / (count(*) - 1.0)) /
        |    (sum(q - s * s / CAST(n AS DOUBLE))
        |      / (sum(n) - count(*))) + 1e-9, 4) AS f_stat
        |FROM gm""".stripMargin)),

    // exponential inter-arrival fit per event type: MLE λ = 1/mean gap
    // over per-user consecutive gaps, then a BINNED KS distance (q132's
    // grid idea) of the empirical gap CDF against Exp(λ) at the nine
    // observed deciles — "is arrival Poisson" per type. λ·g rounded 6dp
    // before exp so libm last-ulp drift can't move the rounded KS
    Query("q249_interarrival_expfit", (s, dir) => {
      val w = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("ts"),
          col("event_id"))
        .withColumn("_prev", lag(col("ts"), 1).over(w))
        .filter(col("_prev").isNotNull)
        .select(col("event_type"),
          ((unix_micros(col("ts")) - unix_micros(col("_prev")))
            / lit(1e6)).as("_g"))
      val fit = gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(lit(1.0) / avg(col("_g")), 6).as("_lam"),
          percentile(col("_g"),
            array((1 to 9).map(i => lit(i / 10.0)): _*)).as("_dec"))
      val grid = fit.select(col("event_type"), col("n_gaps"),
        col("_lam"), posexplode(col("_dec")).as(Seq("_i", "_gv")))
      gaps.join(broadcast(grid), Seq("event_type"))
        .groupBy(col("event_type"), col("_i"), col("n_gaps"),
          col("_lam"), col("_gv"))
        .agg((sum(when(col("_g") <= col("_gv"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("_fe"))
        .select(col("event_type"), col("n_gaps"),
          col("_lam").as("lambda"),
          round(abs(col("_fe") - (lit(1.0)
            - exp(-round(col("_lam") * col("_gv"), 6)))) + lit(1e-9), 4)
            .as("_d"))
        .groupBy(col("event_type"), col("n_gaps"), col("lambda"))
        .agg(max(col("_d")).as("ks_stat"))
        .orderBy(col("event_type"))
    },
      // same per-user lag gaps, decile grid, rounded-exponent KS
      Oracle("""WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY event_type, user_id
        |      ORDER BY ts, event_id))) / 1e6 AS gap
        |  FROM events),
        |gaps AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
        |fit AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    round(1.0 / avg(gap), 6) AS lam,
        |    quantile_cont(gap,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS dec
        |  FROM gaps GROUP BY 1),
        |grid AS (SELECT event_type, n_gaps, lam, gv
        |  FROM (SELECT event_type, n_gaps, lam, unnest(dec) AS gv
        |    FROM fit) u),
        |fe AS (SELECT gaps.event_type, grid.n_gaps, grid.lam, grid.gv,
        |    CAST(sum(CASE WHEN gaps.gap <= grid.gv THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS femp
        |  FROM gaps JOIN grid ON gaps.event_type = grid.event_type
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n_gaps, lam AS lambda,
        |  max(round(abs(femp - (1.0 - exp(-round(lam * gv, 6))))
        |    + 1e-9, 4)) AS ks_stat
        |FROM fe GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // one-Newton-step logistic regression (intercept + value) for
    // P(purchase): from β = 0 the step has the CLOSED FORM
    // β = 4·(XᵀX)⁻¹·Xᵀ(y − ½) — q163's moment-algebra shape with the
    // 2×2 inverse inlined; β rounded 6dp before the log-loss re-scan
    // (the one scalar pair crossing frames), improvement vs the ln 2
    // null model out. Two scans total, both map-side moment aggregates
    Query("q252_logistic_newton", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("value").as("_x"),
          (col("event_type") === "purchase").cast("double").as("_y"))
      val mom = ev.agg(count(lit(1)).cast("double").as("_n"),
        sum(col("_x")).as("_sx"), sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") - 0.5).as("_g0"),
        sum(col("_x") * (col("_y") - 0.5)).as("_g1"))
      val det = col("_n") * col("_sxx") - col("_sx") * col("_sx")
      val beta = mom.select(col("_n"),
        round(lit(4.0) * (col("_sxx") * col("_g0")
          - col("_sx") * col("_g1")) / det, 6).as("_b0"),
        round(lit(4.0) * (col("_n") * col("_g1")
          - col("_sx") * col("_g0")) / det, 6).as("_b1"))
      val z = (lit(2.0) * col("_y") - 1.0) *
        (col("_b0") + col("_b1") * col("_x"))
      ev.crossJoin(broadcast(beta))
        .agg(max(col("_n")).cast("long").as("n"),
          max(col("_b0")).as("beta0"), max(col("_b1")).as("beta1"),
          round(avg(log(lit(1.0) + exp(-round(z, 6)))) + lit(1e-9), 4)
            .as("logloss_model"),
          (round(lit(math.log(2.0))
            - avg(log(lit(1.0) + exp(-round(z, 6)))) + lit(1e-9), 4)
            + lit(0.0)).as("improvement_nats"))
    },
      // same closed-form Newton step + rounded-argument log-loss
      Oracle("""WITH ev AS (SELECT value AS x,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
        |      AS y
        |  FROM events),
        |mom AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(x * x) AS sxx, sum(y - 0.5) AS g0,
        |    sum(x * (y - 0.5)) AS g1
        |  FROM ev),
        |beta AS (SELECT n,
        |    round(4.0 * (sxx * g0 - sx * g1)
        |      / (n * sxx - sx * sx), 6) AS b0,
        |    round(4.0 * (n * g1 - sx * g0)
        |      / (n * sxx - sx * sx), 6) AS b1
        |  FROM mom)
        |SELECT CAST(max(n) AS BIGINT) AS n, max(b0) AS beta0,
        |  max(b1) AS beta1,
        |  round(avg(ln(1.0 + exp(-round((2.0 * y - 1.0)
        |    * (b0 + b1 * x), 6)))) + 1e-9, 4) AS logloss_model,
        |  round(ln(2.0) - avg(ln(1.0 + exp(-round((2.0 * y - 1.0)
        |    * (b0 + b1 * x), 6)))) + 1e-9, 4) + 0.0
        |    AS improvement_nats
        |FROM ev CROSS JOIN beta""".stripMargin)),

    // two-step Markov reach: P² = Σ_b P(a→b)·P(b→c) off q102's
    // transition frame — "where do streams land two events later".
    // The |types|²-bounded matrix squares itself in one tiny join;
    // probabilities stay exact count ratios until the final round
    Query("q254_two_step_markov", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val p = t(s, dir, "events")
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNotNull)
        .groupBy(col("_prev").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("_n"))
        .withColumn("_p", col("_n") / sum(col("_n"))
          .over(Window.partitionBy(col("a"))))
      val pa = p.select(col("a"), col("b").as("_mid"),
        col("_p").as("_pab"))
      val pb = p.select(col("a").as("_mid"), col("b").as("c"),
        col("_p").as("_pbc"))
      pa.join(pb, Seq("_mid"))
        .groupBy(col("a").as("prev_type"), col("c").as("next2_type"))
        .agg(round(sum(col("_pab") * col("_pbc")) + lit(1e-9), 4)
          .as("p2"))
        .orderBy(col("prev_type"), col("next2_type"))
    },
      // same matrix square on exact count-ratio probabilities
      Oracle("""WITH tr AS (SELECT user_id, event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS a, event_type AS b, count(*) AS n
        |  FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT a, b, CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY a) AS p FROM c)
        |SELECT pa.a AS prev_type, pb.b AS next2_type,
        |  round(sum(pa.p * pb.p) + 1e-9, 4) AS p2
        |FROM p pa JOIN p pb ON pa.b = pb.a
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // odds ratio of "an active day converts" for whales vs the rest:
    // unit = (user, active day), whale = q248's staged top-decile
    // profile, Haldane +0.5 on every cell so tiny slices can't zero a
    // denominator; log-OR 95% CI via the Woolf SE, exp'd back with the
    // 6dp-rounded-argument guard
    Query("q255_whale_odds_ratio", (s, dir) => {
      val profile = userProfile(s, dir)
      val days = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("_day"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("_conv"))
      val cells = days
        .join(profile.select(col("user_id"), col("is_whale")),
          Seq("user_id"))
        .agg(sum(when(col("is_whale") && col("_conv") === 1, 1L)
            .otherwise(0L)).as("n11"),
          sum(when(col("is_whale") && col("_conv") === 0, 1L)
            .otherwise(0L)).as("n10"),
          sum(when(!col("is_whale") && col("_conv") === 1, 1L)
            .otherwise(0L)).as("n01"),
          sum(when(!col("is_whale") && col("_conv") === 0, 1L)
            .otherwise(0L)).as("n00"))
      val (a, b2, c, d2) = (col("n11") + 0.5, col("n10") + 0.5,
        col("n01") + 0.5, col("n00") + 0.5)
      val lor = log(a * d2 / (b2 * c))
      val se = sqrt(lit(1.0) / a + lit(1.0) / b2 + lit(1.0) / c
        + lit(1.0) / d2)
      cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
        round(exp(round(lor, 6)) + lit(1e-9), 4).as("odds_ratio"),
        round(exp(round(lor - lit(1.96) * se, 6)) + lit(1e-9), 4)
          .as("ci_lo"),
        round(exp(round(lor + lit(1.96) * se, 6)) + lit(1e-9), 4)
          .as("ci_hi"))
    },
      // same staged-profile whale flag, Haldane cells, Woolf CI
      Oracle("""WITH spend AS (SELECT user_id,
        |    round(sum(value) + 1e-9, 4) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p90 AS (SELECT round(quantile_cont(s, 0.9) + 1e-9, 4) AS p
        |  FROM spend),
        |prof AS (SELECT user_id, s >= p AS is_whale
        |  FROM spend CROSS JOIN p90),
        |days AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1, 2),
        |cells AS (SELECT
        |    CAST(sum(CASE WHEN is_whale AND conv = 1 THEN 1 ELSE 0
        |      END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN is_whale AND conv = 0 THEN 1 ELSE 0
        |      END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT is_whale AND conv = 1 THEN 1
        |      ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT is_whale AND conv = 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS n00
        |  FROM days JOIN prof USING (user_id)),
        |f AS (SELECT n11, n10, n01, n00,
        |    ln((n11 + 0.5) * (n00 + 0.5)
        |      / ((n10 + 0.5) * (n01 + 0.5))) AS lor,
        |    sqrt(1.0 / (n11 + 0.5) + 1.0 / (n10 + 0.5)
        |      + 1.0 / (n01 + 0.5) + 1.0 / (n00 + 0.5)) AS se
        |  FROM cells)
        |SELECT n11, n10, n01, n00,
        |  round(exp(round(lor, 6)) + 1e-9, 4) AS odds_ratio,
        |  round(exp(round(lor - 1.96 * se, 6)) + 1e-9, 4) AS ci_lo,
        |  round(exp(round(lor + 1.96 * se, 6)) + 1e-9, 4) AS ci_hi
        |FROM f""".stripMargin)),

    // cohort retention half-life: log-linear decay fit over q90's
    // weekly retention curve (offsets ≥ 1, rate vs the cohort's week-0
    // base), half-life = −ln 2 / slope per cohort — the model-fit
    // layer over the retention matrix (q218's pattern). Fitting frame
    // is |cohorts|·|weeks| regardless of corpus size
    Query("q256_retention_halflife", (s, dir) => {
      val weeks = t(s, dir, "events").select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("_w"))
        .distinct()
      val cohorts = weeks.groupBy(col("user_id"))
        .agg(min(col("_w")).as("cohort_week"))
      val ret = weeks.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (datediff(col("_w"), col("cohort_week")) / 7).cast("long")
            .as("_off"))
        .agg(count_distinct(col("user_id")).as("_n"))
      val base = ret.filter(col("_off") === 0)
        .select(col("cohort_week"), col("_n").as("_base"))
      val slope = ret.filter(col("_off") >= 1).join(base, Seq("cohort_week"))
        .groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_weeks"),
          round(regr_slope(log(col("_n").cast("double") / col("_base")),
            col("_off").cast("double")), 6).as("_slope"))
      slope.select(col("cohort_week"), col("n_weeks"),
          col("_slope").as("slope"),
          when(col("_slope") < 0,
            round(-lit(math.log(2.0)) / col("_slope") + lit(1e-9), 4))
            .as("halflife_weeks"))
        .orderBy(col("cohort_week"))
    },
      // same q90 retention frame, log-linear fit, guarded half-life
      Oracle("""WITH weeks AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |cohorts AS (SELECT user_id, min(w) AS cohort_week
        |  FROM weeks GROUP BY 1),
        |ret AS (SELECT cohort_week,
        |    CAST(datediff('day', cohort_week, w) / 7 AS BIGINT)
        |      AS off,
        |    count(DISTINCT user_id) AS n
        |  FROM weeks JOIN cohorts USING (user_id) GROUP BY 1, 2),
        |base AS (SELECT cohort_week, n AS b FROM ret WHERE off = 0),
        |sl AS (SELECT r.cohort_week, CAST(count(*) AS BIGINT)
        |      AS n_weeks,
        |    round(regr_slope(ln(CAST(r.n AS DOUBLE) / b.b),
        |      CAST(r.off AS DOUBLE)), 6) AS slope
        |  FROM ret r JOIN base b USING (cohort_week)
        |  WHERE r.off >= 1 GROUP BY 1)
        |SELECT cohort_week, n_weeks, slope,
        |  CASE WHEN slope < 0
        |    THEN round(-ln(2.0) / slope + 1e-9, 4) END
        |    AS halflife_weeks
        |FROM sl ORDER BY cohort_week""".stripMargin)),

    // embedding-space outliers: standardized distance to the global
    // centroid, top-10 by z — the corpus-health screen next to q227's
    // norm panel (a vector far from EVERY mass, not just long/short).
    // Centroid means and distances 6dp-rounded (q235's guard); the
    // distance moments ride one |vectors|-bounded frame
    Query("q257_embedding_outliers", (s, dir) => {
      val ex = t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("_pos", "_v")))
      val cent = ex.groupBy(col("_pos"))
        .agg(round(avg(col("_v").cast("double")), 6).as("_m"))
      val dist = ex.join(broadcast(cent), Seq("_pos"))
        .groupBy(col("vec_id"))
        .agg(round(sqrt(sum(pow(col("_v") - col("_m"), 2))), 6)
          .as("_d"))
      val stats = dist.agg(count(lit(1)).cast("double").as("_n"),
          sum(col("_d")).as("_s"), sum(col("_d") * col("_d")).as("_q"))
        .select((col("_s") / col("_n")).as("_mean"),
          sqrt((col("_q") - col("_s") * col("_s") / col("_n"))
            / (col("_n") - 1.0)).as("_sd"))
      dist.crossJoin(broadcast(stats))
        .select(col("vec_id"), col("_d").as("centroid_dist"),
          round((col("_d") - col("_mean")) / col("_sd") + lit(1e-9), 4)
            .as("z"))
        .orderBy(col("z").desc, col("vec_id")).limit(10)
    },
      // same 6dp centroid/distances, explicit moments, top-10 by z
      Oracle("""WITH ex AS (SELECT vec_id, pos - 1 AS pos,
        |    CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS pos
        |    FROM embeddings) u),
        |cent AS (SELECT pos, round(avg(v), 6) AS m
        |  FROM ex GROUP BY 1),
        |dist AS (SELECT e.vec_id,
        |    round(sqrt(sum(pow(e.v - c.m, 2))), 6) AS d
        |  FROM ex e JOIN cent c ON e.pos = c.pos GROUP BY 1),
        |st AS (SELECT sum(d) / CAST(count(*) AS DOUBLE) AS mean,
        |    sqrt((sum(d * d) - sum(d) * sum(d)
        |        / CAST(count(*) AS DOUBLE))
        |      / (CAST(count(*) AS DOUBLE) - 1.0)) AS sd
        |  FROM dist)
        |SELECT vec_id, d AS centroid_dist,
        |  round((d - mean) / sd + 1e-9, 4) AS z
        |FROM dist CROSS JOIN st
        |ORDER BY z DESC, vec_id LIMIT 10""".stripMargin)),

    // SAX symbolization of the daily volume series per type: z-score
    // against the type's own mean/sd (EXPLICIT moment formula, written
    // identically in both engines so every division is bit-equal),
    // 4-letter alphabet at the N(0,1) quartile breakpoints ±0.6745,
    // 3-day motif counts — the symbolic-motif mining panel over the
    // calendar-bounded frame
    Query("q258_sax_motifs", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("_day"))
        .agg(count(lit(1)).as("_c"))
      val mom = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("_n"),
          sum(col("_c")).as("_s"), sum(col("_c") * col("_c")).as("_q"))
        .select(col("event_type"), (col("_s") / col("_n")).as("_mean"),
          sqrt((col("_q") - col("_s") * col("_s") / col("_n"))
            / (col("_n") - 1.0)).as("_sd"))
      val lettered = daily.join(broadcast(mom), Seq("event_type"))
        .select(col("event_type"), col("_day"),
          ((col("_c") - col("_mean")) / col("_sd")).as("_z"))
        .select(col("event_type"), col("_day"),
          when(col("_z") < -0.6745, "a").when(col("_z") < 0, "b")
            .when(col("_z") < 0.6745, "c").otherwise("d").as("_l"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("_day"))
      lettered.withColumn("_w3", concat(col("_l"),
          lead(col("_l"), 1).over(w), lead(col("_l"), 2).over(w)))
        .filter(col("_w3").isNotNull)
        .groupBy(col("event_type"), col("_w3").as("motif"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("n").desc, col("motif"))
    },
      // same explicit per-type moments, quartile breakpoints, 3-day
      // motifs via null-propagating || (DuckDB concat() swallows NULLs)
      Oracle("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type,
        |    sum(c) / CAST(count(*) AS DOUBLE) AS mean,
        |    sqrt((sum(c * c) - sum(c) * sum(c)
        |        / CAST(count(*) AS DOUBLE))
        |      / (CAST(count(*) AS DOUBLE) - 1.0)) AS sd
        |  FROM daily GROUP BY 1),
        |z AS (SELECT d.event_type, d.day,
        |    (d.c - m.mean) / m.sd AS z
        |  FROM daily d JOIN mom m ON d.event_type = m.event_type),
        |l AS (SELECT event_type, day,
        |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
        |      WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS l
        |  FROM z),
        |w AS (SELECT event_type,
        |    l || lead(l, 1) OVER (PARTITION BY event_type
        |      ORDER BY day)
        |      || lead(l, 2) OVER (PARTITION BY event_type
        |      ORDER BY day) AS w3
        |  FROM l)
        |SELECT event_type, w3 AS motif, CAST(count(*) AS BIGINT) AS n
        |FROM w WHERE w3 IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, n DESC, motif""".stripMargin)),

    // negative-binomial method-of-moments fit of per-user event counts
    // per type: overdispersion v/m, r = m²/(v−m), p = m/v — the count
    // model behind "is engagement Poisson or heavy-tailed", null when
    // the data is UNDER-dispersed (v ≤ m: NB cannot fit). Integer
    // moments keep every division bit-equal cross-engine
    Query("q259_negbin_fit", (s, dir) => {
      val pu = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("_c"))
      val m = col("_s") / col("_n")
      val v = (col("_q") - col("_s") * col("_s") / col("_n")) /
        (col("_n") - 1.0)
      pu.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("_n"),
          sum(col("_c")).as("_s"), sum(col("_c") * col("_c")).as("_q"))
        .select(col("event_type"), col("_n").cast("long").as("n_users"),
          round(m + lit(1e-9), 4).as("mean_events"),
          round(v / m + lit(1e-9), 4).as("dispersion"),
          when(v > m, round(m * m / (v - m) + lit(1e-9), 4)).as("nb_r"),
          when(v > m, round(m / v + lit(1e-9), 4)).as("nb_p"))
        .orderBy(col("event_type"))
    },
      // same integer moments, method-of-moments r/p, underdispersion null
      Oracle("""WITH pu AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n, sum(c) AS s,
        |    sum(c * c) AS q
        |  FROM pu GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_users,
        |  round(s / n + 1e-9, 4) AS mean_events,
        |  round(((q - s * s / n) / (n - 1.0)) / (s / n) + 1e-9, 4)
        |    AS dispersion,
        |  CASE WHEN (q - s * s / n) / (n - 1.0) > s / n
        |    THEN round((s / n) * (s / n)
        |      / ((q - s * s / n) / (n - 1.0) - s / n) + 1e-9, 4) END
        |    AS nb_r,
        |  CASE WHEN (q - s * s / n) / (n - 1.0) > s / n
        |    THEN round((s / n) / ((q - s * s / n) / (n - 1.0))
        |      + 1e-9, 4) END AS nb_p
        |FROM mom ORDER BY event_type""".stripMargin)),

    // time-to-next-error after each purchase through the native as-of
    // operator in its NEW forward direction (earliest error >= purchase
    // per user, 3-day lookahead tolerance): the incident-impact join
    // q131's backward attribution can't express. Same one-exchange-
    // per-side merge plan; the shared forward candidate serves every
    // earlier purchase without re-buffering
    Query("q261_next_error_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("ets")).distinct()
        .withColumn("_v", col("ets"))
      plans.AsOf.join(purchases, errors, Seq("user_id"), "ts", "ets",
          Seq(("_v", "err_ts")),
          toleranceMicros = 3L * 86400L * 1000000L, forward = true)
        .select(((unix_micros(col("err_ts")) - unix_micros(col("ts")))
          / lit(3.6e9)).as("_h"))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("_h")).as("n_matched"),
          round(avg(when(col("_h").isNotNull, 1.0).otherwise(0.0))
            + lit(1e-9), 4).as("match_rate"),
          round(avg(col("_h")) + lit(1e-9), 4).as("mean_hours"),
          round(percentile(col("_h"), lit(0.5)) + lit(1e-9), 4)
            .as("p50_hours"),
          round(percentile(col("_h"), lit(0.9)) + lit(1e-9), 4)
            .as("p90_hours"))
    },
      // min-over-lookahead formulation of the forward as-of
      Oracle("""WITH p AS (SELECT user_id, event_id, ts AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |e AS (SELECT DISTINCT user_id, ts AS ets FROM events
        |  WHERE event_type = 'error'),
        |m AS (SELECT p.event_id, min(e.ets) AS nxt
        |  FROM p JOIN e ON p.user_id = e.user_id AND e.ets >= p.pts
        |    AND epoch_us(e.ets) - epoch_us(p.pts) <= 259200000000
        |  GROUP BY 1),
        |j AS (SELECT p.event_id,
        |    (epoch_us(m.nxt) - epoch_us(p.pts)) / 3.6e9 AS h
        |  FROM p LEFT JOIN m USING (event_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(h) AS BIGINT) AS n_matched,
        |  round(avg(CASE WHEN h IS NOT NULL THEN 1.0 ELSE 0.0 END)
        |    + 1e-9, 4) AS match_rate,
        |  round(avg(h) + 1e-9, 4) AS mean_hours,
        |  round(quantile_cont(h, 0.5) + 1e-9, 4) AS p50_hours,
        |  round(quantile_cont(h, 0.9) + 1e-9, 4) AS p90_hours
        |FROM j""".stripMargin)),

    // session time allocated to calendar days: q103's gap sessions
    // SPLIT at midnight boundaries — one sequence-explode per session
    // over the days it touches (bounded by span, not corpus), overlap
    // micros in pure integer arithmetic. The billing/attribution
    // primitive interval data needs ("how much session time landed in
    // each day")
    Query("q262_session_day_allocation", (s, dir) => {
      val gapUs = 30L * 60 * 1000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("_us"), col("event_id"))
      val sess = t(s, dir, "events")
        .withColumn("_us", unix_micros(col("ts")))
        .withColumn("_prev", lag(col("_us"), 1).over(w))
        .withColumn("_new", when(col("_prev").isNull
          || col("_us") - col("_prev") > gapUs, 1L).otherwise(0L))
        .withColumn("_seq", sum(col("_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("_seq"))
        .agg(min(col("_us")).as("_s"), max(col("_us")).as("_e"))
      sess
        .withColumn("_day", explode(sequence(
          to_date(timestamp_micros(col("_s"))),
          to_date(timestamp_micros(col("_e"))))))
        .withColumn("_d0", unix_micros(col("_day").cast("timestamp")))
        .select(col("_day").as("day"),
          (least(col("_e"), col("_d0") + lit(86400000000L))
            - greatest(col("_s"), col("_d0"))).as("_ov"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          round(sum(col("_ov")) / lit(1e6) + lit(1e-9), 4)
            .as("session_seconds"))
        .orderBy(col("day"))
    },
      // same session spans split at midnight, integer-micro overlap
      Oracle("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events),
        |f AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |g AS (SELECT user_id, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM f),
        |sess AS (SELECT user_id, seq, min(us) AS s, max(us) AS e
        |  FROM g GROUP BY 1, 2),
        |alloc AS (SELECT day, s, e FROM (
        |  SELECT unnest(generate_series(
        |      CAST(make_timestamp(s) AS DATE),
        |      CAST(make_timestamp(e) AS DATE),
        |      INTERVAL 1 DAY)) AS day, s, e
        |  FROM sess) u),
        |ov AS (SELECT CAST(day AS DATE) AS day,
        |    least(e, epoch_us(day) + 86400000000)
        |      - greatest(s, epoch_us(day)) AS ov
        |  FROM alloc)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(sum(ov) / 1e6 + 1e-9, 4) AS session_seconds
        |FROM ov GROUP BY 1 ORDER BY 1""".stripMargin)),

    // weekly top-10 turnover: the k-bounded TopKScoredAggregator per
    // week (never a corpus-wide window), consecutive weeks joined on
    // the shifted key — how much of the leaderboard is NEW each week,
    // the trending-rotation panel. All frames |weeks|·k after the one
    // (week, item) rollup
    Query("q263_weekly_topk_turnover", (s, dir) => {
      val wk = t(s, dir, "events")
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
          (col("event_id") % 4000).as("item"))
        .agg(count(lit(1)).as("_n"))
      val top = operators.Relational.topKPerGroupAgg(wk, k = 10,
          groupCols = Seq("week"), score = col("_n"), id = col("item"),
          scoreName = "cnt", idName = "item")
        .select(col("week"), col("item"))
      val sizes = top.groupBy(col("week")).agg(count(lit(1)).as("_nt"))
      val inter = top
        .join(top.select(date_sub(col("week"), 7).as("week"),
          col("item")), Seq("week", "item"))
        .groupBy(col("week")).agg(count(lit(1)).as("_ret"))
      sizes.select(col("week"), col("_nt").as("n_top"))
        .join(sizes.select(date_sub(col("week"), 7).as("week"),
          col("_nt").as("n_top_next")), Seq("week"))
        .join(inter, Seq("week"), "left")
        .select(col("week"), col("n_top"), col("n_top_next"),
          coalesce(col("_ret"), lit(0L)).as("n_retained"),
          round(coalesce(col("_ret"), lit(0L))
            / col("n_top").cast("double") + lit(1e-9), 4)
            .as("retention"))
        .orderBy(col("week"))
    },
      // same weekly rank-10 lists, shifted-key self-join
      Oracle("""WITH wk AS (SELECT CAST(date_trunc('week', ts) AS DATE)
        |      AS week,
        |    event_id % 4000 AS item, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT week, item, row_number() OVER (
        |    PARTITION BY week ORDER BY n DESC, item) AS rk FROM wk),
        |top AS (SELECT week, item FROM r WHERE rk <= 10),
        |sizes AS (SELECT week, count(*) AS nt FROM top GROUP BY 1),
        |inter AS (SELECT a.week, count(*) AS ret
        |  FROM top a JOIN top b ON b.week = a.week + 7
        |    AND b.item = a.item
        |  GROUP BY 1)
        |SELECT s1.week, s1.nt AS n_top, s2.nt AS n_top_next,
        |  CAST(COALESCE(i.ret, 0) AS BIGINT) AS n_retained,
        |  round(COALESCE(i.ret, 0) / CAST(s1.nt AS DOUBLE) + 1e-9, 4)
        |    AS retention
        |FROM sizes s1 JOIN sizes s2 ON s2.week = s1.week + 7
        |LEFT JOIN inter i ON i.week = s1.week
        |ORDER BY s1.week""".stripMargin)),

    // per-type calendar completeness: active/missing day counts over
    // the type's own [first, last] span and the longest internal gap —
    // the data-freshness monitor that catches a feed going dark. One
    // distinct + a |types·days|-bounded lag window
    Query("q264_missing_days", (s, dir) => {
      val act = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("_day"))
        .distinct()
      val rng = act.groupBy(col("event_type"))
        .agg(min(col("_day")).as("first_day"),
          max(col("_day")).as("last_day"),
          count(lit(1)).as("n_days_active"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("_day"))
      val gaps = act.withColumn("_prevd", lag(col("_day"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(coalesce(max(datediff(col("_day"), col("_prevd"))), lit(1))
          .as("_step"))
      rng.join(gaps, Seq("event_type"))
        .select(col("event_type"), col("first_day"), col("last_day"),
          col("n_days_active"),
          (datediff(col("last_day"), col("first_day")) + 1
            - col("n_days_active")).cast("long").as("n_days_missing"),
          (col("_step") - 1).cast("long").as("max_gap_days"))
        .orderBy(col("event_type"))
    },
      // same distinct day frame, lag steps, span arithmetic
      Oracle("""WITH act AS (SELECT DISTINCT event_type, CAST(ts AS DATE)
        |    AS day FROM events),
        |rng AS (SELECT event_type, min(day) AS first_day,
        |    max(day) AS last_day,
        |    CAST(count(*) AS BIGINT) AS n_days_active
        |  FROM act GROUP BY 1),
        |g AS (SELECT event_type, day - lag(day) OVER (
        |    PARTITION BY event_type ORDER BY day) AS st FROM act),
        |gap AS (SELECT event_type, COALESCE(max(st), 1) AS step
        |  FROM g GROUP BY 1)
        |SELECT r.event_type, r.first_day, r.last_day, r.n_days_active,
        |  CAST(datediff('day', first_day, last_day) + 1
        |    - n_days_active AS BIGINT) AS n_days_missing,
        |  CAST(step - 1 AS BIGINT) AS max_gap_days
        |FROM rng r JOIN gap USING (event_type)
        |ORDER BY event_type""".stripMargin)),

    // the feature-store build: ONE wide per-user aggregate assembling
    // the training feature vector (tenure, recency vs corpus end,
    // per-type conditional counts, spend, activity cadence) — the
    // materialization shape every downstream model consumes; one scan,
    // map-side partials, |users| output rows
    Query("q268_user_feature_table", (s, dir) => {
      val ev = t(s, dir, "events")
      val end = ev.agg(max(to_date(col("ts"))).as("_end"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          countDistinct(col("event_type")).as("types_used"),
          min(to_date(col("ts"))).as("_first"),
          max(to_date(col("ts"))).as("_last"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchase"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_error"),
          round(coalesce(sum(when(col("event_type") === "purchase",
            col("value"))), lit(0.0)) + lit(1e-9), 4).as("total_spend"))
        .crossJoin(broadcast(end))
        .select(col("user_id"), col("n_events"), col("active_days"),
          col("types_used"),
          (datediff(col("_last"), col("_first")) + 1).cast("long")
            .as("tenure_days"),
          datediff(col("_end"), col("_last")).cast("long")
            .as("recency_days"),
          col("n_view"), col("n_click"), col("n_purchase"),
          col("n_error"), col("total_spend"),
          when(col("n_view") > 0,
            round(col("n_purchase") / col("n_view").cast("double")
              + lit(1e-9), 4)).as("purchase_per_view"))
        .orderBy(col("user_id"))
    },
      // same one-pass wide feature aggregate + corpus-end recency
      Oracle("""WITH e AS (SELECT user_id, event_type, value,
        |    CAST(ts AS DATE) AS day FROM events),
        |fin AS (SELECT max(day) AS fend FROM e),
        |f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT day) AS BIGINT) AS active_days,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS types_used,
        |    min(day) AS fd, max(day) AS ld,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_purchase,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_error,
        |    round(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN value END), 0.0) + 1e-9, 4) AS total_spend
        |  FROM e GROUP BY 1)
        |SELECT user_id, n_events, active_days, types_used,
        |  CAST(datediff('day', fd, ld) + 1 AS BIGINT) AS tenure_days,
        |  CAST(datediff('day', ld, fend) AS BIGINT) AS recency_days,
        |  n_view, n_click, n_purchase, n_error, total_spend,
        |  CASE WHEN n_view > 0 THEN round(n_purchase
        |    / CAST(n_view AS DOUBLE) + 1e-9, 4) END
        |    AS purchase_per_view
        |FROM f CROSS JOIN fin ORDER BY user_id""".stripMargin)),

    // distribution-free 95% CI for the median via order statistics
    // (ranks n/2 ± 0.98·√n), realized on the VALUE GRID (q210's trick:
    // cumulative counts over distinct 2dp values), with the cumulative
    // count itself a hierCumCounts grid-bucket prefix-sum: the per-type
    // value frame tracks the corpus until the 2dp grid saturates, so a
    // 5-partition type window over it is a corpus-scaled single-task
    // sort (WindowScaleAuditSpec's criterion) — bucketed, no task
    // holds more than one grid cell. The uncertainty layer q45's
    // point percentiles lack
    Query("q270_median_ci", (s, dir) => {
      val grid = t(s, dir, "events")
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("_c"))
      val cum = operators.Relational.hierCumCounts(grid,
        Seq("event_type"), "value", "_c",
        v => floor(v / lit(10.0)), "_cum")
      val n = grid.groupBy(col("event_type"))
        .agg(sum(col("_c")).as("_n"))
      val ranks = n.select(col("event_type"), col("_n"),
        ceil(col("_n") / 2.0).as("_rmed"),
        greatest(lit(1.0), ceil(col("_n") / 2.0
          - lit(0.98) * sqrt(col("_n")))).as("_rlo"),
        least(col("_n").cast("double"), ceil(col("_n") / 2.0
          + lit(0.98) * sqrt(col("_n")))).as("_rhi"))
      cum.join(broadcast(ranks), Seq("event_type"))
        .groupBy(col("event_type"), col("_n"))
        .agg(min(when(col("_cum") >= col("_rmed"), col("value")))
            .as("median"),
          min(when(col("_cum") >= col("_rlo"), col("value")))
            .as("ci_lo"),
          min(when(col("_cum") >= col("_rhi"), col("value")))
            .as("ci_hi"))
        .select(col("event_type"), col("_n").cast("long").as("n"),
          col("median"), col("ci_lo"), col("ci_hi"))
        .orderBy(col("event_type"))
    },
      // same value-grid cumulative ranks, order-statistic cuts
      Oracle("""WITH grid AS (SELECT event_type, value, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, value,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cm
        |  FROM grid),
        |n AS (SELECT event_type, max(cm) AS n FROM cum GROUP BY 1),
        |rk AS (SELECT event_type, n, ceil(n / 2.0) AS rmed,
        |    greatest(1.0, ceil(n / 2.0 - 0.98 * sqrt(n))) AS rlo,
        |    least(CAST(n AS DOUBLE), ceil(n / 2.0 + 0.98 * sqrt(n)))
        |      AS rhi
        |  FROM n)
        |SELECT c.event_type, CAST(r.n AS BIGINT) AS n,
        |  min(CASE WHEN c.cm >= r.rmed THEN c.value END) AS median,
        |  min(CASE WHEN c.cm >= r.rlo THEN c.value END) AS ci_lo,
        |  min(CASE WHEN c.cm >= r.rhi THEN c.value END) AS ci_hi
        |FROM cum c JOIN rk r ON c.event_type = r.event_type
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // attribution-window sensitivity sweep: share of purchases with a
    // click inside L hours for L ∈ {1,6,12,24,48,72} — ONE unbounded
    // backward as-of (the native operator) computes each purchase's
    // last-click gap, then a 6-row broadcast grid fans the CDF out.
    // The panel that picks q131's lookback instead of assuming it
    Query("q271_attribution_window_sweep", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts")).distinct()
        .withColumn("_v", col("cts"))
      val gaps = plans.AsOf.join(purchases, clicks, Seq("user_id"),
          "ts", "cts", Seq(("_v", "click_ts")))
        .select((unix_micros(col("ts")) - unix_micros(col("click_ts")))
          .as("_gap_us"))
      val grid = s.range(1).select(explode(array(
        Seq(1, 6, 12, 24, 48, 72).map(h => lit(h.toLong)): _*))
        .as("window_h"))
      gaps.crossJoin(broadcast(grid))
        .groupBy(col("window_h"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("_gap_us").isNotNull && col("_gap_us")
            <= col("window_h") * 3600000000L, 1L).otherwise(0L))
            .as("n_attributed"))
        .select(col("window_h"), col("n_purchases"), col("n_attributed"),
          round(col("n_attributed") / col("n_purchases").cast("double")
            + lit(1e-9), 4).as("attribution_rate"))
        .orderBy(col("window_h"))
    },
      // same last-click max per purchase, CDF at the hour grid
      Oracle("""WITH p AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT DISTINCT user_id, ts AS cts FROM events
        |  WHERE event_type = 'click'),
        |lastc AS (SELECT p.event_id, max(c.cts) AS cts
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.cts <= p.ts
        |  GROUP BY 1),
        |g AS (SELECT p.event_id,
        |    epoch_us(p.ts) - epoch_us(l.cts) AS gap
        |  FROM p LEFT JOIN lastc l USING (event_id)),
        |grid AS (SELECT unnest([1, 6, 12, 24, 48, 72]) AS window_h)
        |SELECT CAST(window_h AS BIGINT) AS window_h,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN gap IS NOT NULL
        |    AND gap <= window_h * 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_attributed,
        |  round(sum(CASE WHEN gap IS NOT NULL
        |    AND gap <= window_h * 3600000000 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS attribution_rate
        |FROM g CROSS JOIN grid GROUP BY 1 ORDER BY 1""".stripMargin)),

    // day-of-week seasonality strength per type: R² of the DOW-mean
    // model on the daily count series (1 − SS_res/SS_tot) — how much
    // of daily variance the weekly cycle explains, the gate before
    // q173/q193 lean on DOW baselines. Calendar-bounded frames; DOW
    // labels differ between engines (Sunday=1 vs 0) but only partition
    // identity matters — the groups are identical
    Query("q272_seasonality_strength", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("_day"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_dow", dayofweek(col("_day")))
      val dowMean = daily.groupBy(col("event_type"), col("_dow"))
        .agg((sum(col("_c")) / count(lit(1))).as("_md"))
      val tMean = daily.groupBy(col("event_type"))
        .agg((sum(col("_c")) / count(lit(1))).as("_m"))
      daily.join(broadcast(dowMean), Seq("event_type", "_dow"))
        .join(broadcast(tMean), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(lit(1.0) - sum(pow(col("_c") - col("_md"), 2))
            / sum(pow(col("_c") - col("_m"), 2)) + lit(1e-9), 4)
            .as("seasonality_r2"))
        .orderBy(col("event_type"))
    },
      // same DOW-mean R² decomposition (labels shift, groups identical)
      Oracle("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, c, dayofweek(day) AS dow
        |  FROM daily),
        |dm AS (SELECT event_type, dow,
        |    sum(c) / CAST(count(*) AS DOUBLE) AS md
        |  FROM d2 GROUP BY 1, 2),
        |tm AS (SELECT event_type,
        |    sum(c) / CAST(count(*) AS DOUBLE) AS m
        |  FROM d2 GROUP BY 1)
        |SELECT d2.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(1.0 - sum(pow(d2.c - dm.md, 2))
        |    / sum(pow(d2.c - tm.m, 2)) + 1e-9, 4) AS seasonality_r2
        |FROM d2 JOIN dm ON d2.event_type = dm.event_type
        |  AND d2.dow = dm.dow
        |JOIN tm ON d2.event_type = tm.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // revenue pacing curve: daily purchase revenue, cumulative share,
    // and the halfway flag — the "are we on track" panel. Daily
    // revenue is rounded BEFORE the ordered cumulative sum, so the
    // running totals are bit-equal cross-engine by construction; the
    // window rides the ≤|calendar| frame (the corpus collapsed first)
    Query("q274_revenue_pacing", (s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")) + lit(1e-9), 4).as("revenue"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = daily.agg(round(sum(col("revenue")), 4).as("_tot"))
      daily.crossJoin(broadcast(tot))
        .withColumn("cum_revenue", round(sum(col("revenue")).over(w), 4))
        .select(col("day"), col("revenue"), col("cum_revenue"),
          round(col("cum_revenue") / col("_tot") + lit(1e-9), 4)
            .as("cum_share"),
          (col("cum_revenue") / col("_tot") >= 0.5).cast("long")
            .as("reached_half"))
        .orderBy(col("day"))
    },
      // same pre-rounded daily revenue, ordered cumulative, half flag
      Oracle("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    round(sum(value) + 1e-9, 4) AS revenue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tot AS (SELECT round(sum(revenue), 4) AS tot FROM daily),
        |c AS (SELECT day, revenue,
        |    round(sum(revenue) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |      AS cum
        |  FROM daily)
        |SELECT day, revenue, cum AS cum_revenue,
        |  round(cum / tot + 1e-9, 4) AS cum_share,
        |  CAST(cum / tot >= 0.5 AS BIGINT) AS reached_half
        |FROM c CROSS JOIN tot ORDER BY day""".stripMargin)),

    // anomaly ENSEMBLE on daily volumes: three independent detectors —
    // robust z (median/MAD, q107's machinery on counts), DOW-seasonal
    // residual (q272's frames), and the standardized CUSUM (q215's
    // running sum) — voted per (type, day); a page-worthy alert needs
    // ≥2 agreeing signals. Every frame is calendar-bounded; the
    // detectors share ONE daily rollup
    Query("q283_anomaly_ensemble", (s, dir) => {
      val daily = graft.core.Caches.cached(t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_c")))
      // robust: median + MAD per type
      val rb = daily.groupBy(col("event_type"))
        .agg(percentile(col("_c"), lit(0.5)).as("_med"))
      val mad = daily.join(broadcast(rb), Seq("event_type"))
        .groupBy(col("event_type"), col("_med"))
        .agg(percentile(abs(col("_c") - col("_med")), lit(0.5))
          .as("_mad"))
      // seasonal: DOW mean/sd per (type, dow), explicit moments
      val dowm = daily
        .withColumn("_dow", dayofweek(col("day")))
        .groupBy(col("event_type"), col("_dow"))
        .agg(count(lit(1)).cast("double").as("_n"),
          sum(col("_c")).as("_s"), sum(col("_c") * col("_c")).as("_q"))
        .select(col("event_type"), col("_dow"),
          (col("_s") / col("_n")).as("_md"),
          sqrt((col("_q") - col("_s") * col("_s") / col("_n"))
            / greatest(col("_n") - 1.0, lit(1.0))).as("_sd"))
      // cusum: standardized running sum per type, ordered by day
      val tm = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("_tn"),
          sum(col("_c")).as("_ts"), sum(col("_c") * col("_c")).as("_tq"))
        .select(col("event_type"), (col("_ts") / col("_tn")).as("_tm"),
          sqrt((col("_tq") - col("_ts") * col("_ts") / col("_tn"))
            / (col("_tn") - 1.0)).as("_tsd"))
      val wcum = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flags = daily
        .withColumn("_dow", dayofweek(col("day")))
        .join(broadcast(mad), Seq("event_type"))
        .join(broadcast(dowm), Seq("event_type", "_dow"))
        .join(broadcast(tm), Seq("event_type"))
        .withColumn("_scum",
          sum((col("_c") - col("_tm")) / col("_tsd")).over(wcum))
        .select(col("event_type"), col("day"),
          (col("_mad") > 0 && abs(col("_c") - col("_med"))
            / (lit(1.4826) * col("_mad")) > 3.0).cast("long")
            .as("robust_flag"),
          (col("_sd") > 0 && abs(col("_c") - col("_md")) / col("_sd")
            > 2.0).cast("long").as("seasonal_flag"),
          (abs(round(col("_scum"), 6)) > 4.0).cast("long")
            .as("cusum_flag"))
        .withColumn("n_flags", col("robust_flag")
          + col("seasonal_flag") + col("cusum_flag"))
      graft.core.Caches.materializedThenRelease(
        flags.filter(col("n_flags") >= 1)
          .orderBy(col("event_type"), col("day")), daily)
    },
      // same three detectors over the shared daily frame, same vote
      Oracle("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |rb AS (SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM daily GROUP BY 1),
        |mad AS (SELECT d.event_type, rb.med,
        |    quantile_cont(abs(d.c - rb.med), 0.5) AS mad
        |  FROM daily d JOIN rb ON d.event_type = rb.event_type
        |  GROUP BY 1, 2),
        |dowm AS (SELECT event_type, dayofweek(day) AS dow,
        |    sum(c) / CAST(count(*) AS DOUBLE) AS md,
        |    sqrt((sum(c * c) - sum(c) * sum(c)
        |        / CAST(count(*) AS DOUBLE))
        |      / greatest(CAST(count(*) AS DOUBLE) - 1.0, 1.0)) AS sd
        |  FROM daily GROUP BY 1, 2),
        |tm AS (SELECT event_type,
        |    sum(c) / CAST(count(*) AS DOUBLE) AS tmn,
        |    sqrt((sum(c * c) - sum(c) * sum(c)
        |        / CAST(count(*) AS DOUBLE))
        |      / (CAST(count(*) AS DOUBLE) - 1.0)) AS tsd
        |  FROM daily GROUP BY 1),
        |fl AS (SELECT d.event_type, d.day,
        |    CAST(mad.mad > 0 AND abs(d.c - mad.med)
        |      / (1.4826 * mad.mad) > 3.0 AS BIGINT) AS robust_flag,
        |    CAST(w.sd > 0 AND abs(d.c - w.md) / w.sd > 2.0 AS BIGINT)
        |      AS seasonal_flag,
        |    CAST(abs(round(sum((d.c - tm.tmn) / tm.tsd) OVER (
        |        PARTITION BY d.event_type ORDER BY d.day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6))
        |      > 4.0 AS BIGINT) AS cusum_flag
        |  FROM daily d
        |  JOIN mad ON d.event_type = mad.event_type
        |  JOIN dowm w ON d.event_type = w.event_type
        |    AND dayofweek(d.day) = w.dow
        |  JOIN tm ON d.event_type = tm.event_type)
        |SELECT event_type, day, robust_flag, seasonal_flag, cusum_flag,
        |  robust_flag + seasonal_flag + cusum_flag AS n_flags
        |FROM fl
        |WHERE robust_flag + seasonal_flag + cusum_flag >= 1
        |ORDER BY event_type, day""".stripMargin)),

    // supplier revenue concentration per nation: Herfindahl–Hirschman
    // index over each nation's supplier revenue shares (×10000, the
    // antitrust scale) + the top share — the supply-risk panel. One
    // lineitem⋈supplier rollup, |nations·suppliers|-bounded after
    Query("q284_supplier_hhi", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier").select(col("s_suppkey"),
          col("s_nationkey")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(round(sum(col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))) + lit(1e-9), 2).as("_r"))
      val natTot = rev.groupBy(col("s_nationkey"))
        .agg(sum(col("_r")).as("_tot"))
      rev.join(natTot, Seq("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(pow(col("_r") / col("_tot"), 2)) * 10000.0
            + lit(1e-9), 4).as("hhi"),
          round(max(col("_r") / col("_tot")) + lit(1e-9), 4)
            .as("top_share"))
        .orderBy(col("nation"))
    },
      // same nation-keyed revenue shares, HHI ×10000
      Oracle("""WITH rev AS (SELECT s_nationkey, s_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2)
        |      AS r
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |nt AS (SELECT s_nationkey, sum(r) AS tot FROM rev GROUP BY 1)
        |SELECT n_name AS nation, CAST(count(*) AS BIGINT)
        |    AS n_suppliers,
        |  round(sum(pow(r / tot, 2)) * 10000.0 + 1e-9, 4) AS hhi,
        |  round(max(r / tot) + 1e-9, 4) AS top_share
        |FROM rev JOIN nt USING (s_nationkey)
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // late-line order audit (TPC-H Q4 shape): orders with at least one
    // line shipped >60 days after the order date, counted per priority
    // — the EXISTS/semi-join aggregate shape (dedup via the orderkey
    // rollup, never a row-multiplying join)
    Query("q285_late_orders", (s, dir) => {
      val late = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > 60)
        .select(col("o_orderkey"), col("o_orderpriority")).distinct()
      val tot = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      tot.join(late.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_late")), Seq("o_orderpriority"),
          "left")
        .select(col("o_orderpriority"), col("n_orders"),
          coalesce(col("n_late"), lit(0L)).as("n_late"),
          round(coalesce(col("n_late"), lit(0L))
            / col("n_orders").cast("double") + lit(1e-9), 4)
            .as("late_rate"))
        .orderBy(col("o_orderpriority"))
    },
      // same distinct-orderkey late set + per-priority rates
      Oracle("""WITH late AS (SELECT DISTINCT o.o_orderkey, o.o_orderpriority
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE datediff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)) > 60),
        |tot AS (SELECT o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |lc AS (SELECT o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_late
        |  FROM late GROUP BY 1)
        |SELECT t.o_orderpriority, t.n_orders,
        |  COALESCE(lc.n_late, 0) AS n_late,
        |  round(COALESCE(lc.n_late, 0) / CAST(t.n_orders AS DOUBLE)
        |    + 1e-9, 4) AS late_rate
        |FROM tot t LEFT JOIN lc USING (o_orderpriority)
        |ORDER BY 1""".stripMargin)),

    // language purity per source: share of docs whose LangId equals
    // the source's majority language — the per-feed mislabel monitor
    // above q28's classifier and beside q211's corpus-wide Cramér's V.
    // One scored scan, |sources·langs| frames after
    Query("q286_language_purity", (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("source"), graft.functions.LangId(col("text"))
          .as("_pred"))
      val cnt = scored.groupBy(col("source"), col("_pred"))
        .agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("_n").desc, col("_pred"))
      val maj = cnt.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("source"), col("_pred").as("majority_lang"),
          col("_n").as("_nm"))
      cnt.groupBy(col("source")).agg(sum(col("_n")).as("_tot"))
        .join(maj, Seq("source"))
        .select(col("source"), col("majority_lang"),
          col("_tot").cast("long").as("n_docs"),
          round(col("_nm") / col("_tot").cast("double") + lit(1e-9), 4)
            .as("purity"))
        .orderBy(col("source"))
    },
      // q226's LangId replication keyed by source, majority + purity
      Oracle("""WITH h AS (
        |  SELECT source,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS h_en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','un','una','es','por'))) AS h_es,
        |    len(list_filter(toks, t -> t IN ('le','la','de','et','que','en','un','une','est','pour'))) AS h_fr,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','zu','in','ein','eine','ist','von'))) AS h_de,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我','有','和','就','不','人'))) AS h_zh
        |  FROM (SELECT source, regexp_split_to_array(lower(text), '\s+') AS toks
        |        FROM documents)),
        |p AS (SELECT source,
        |  CASE WHEN greatest(h_en,h_es,h_fr,h_de,h_zh) = 0 THEN 'und'
        |       WHEN h_zh = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'zh'
        |       WHEN h_fr = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'fr'
        |       WHEN h_es = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'es'
        |       WHEN h_en = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'en'
        |       ELSE 'de' END AS pred
        |  FROM h),
        |cnt AS (SELECT source, pred, count(*) AS n FROM p
        |  GROUP BY 1, 2),
        |maj AS (SELECT source, pred AS majority_lang, n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, pred) AS rk FROM cnt) WHERE rk = 1),
        |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs
        |  FROM cnt GROUP BY 1)
        |SELECT t.source, m.majority_lang, t.n_docs,
        |  round(m.n / CAST(t.n_docs AS DOUBLE) + 1e-9, 4) AS purity
        |FROM tot t JOIN maj m USING (source)
        |ORDER BY source""".stripMargin)),

    // anomaly repair by neighbor interpolation: days flagged by the
    // robust detector get an IMPUTED count — the mean of the nearest
    // non-flagged day on each side (IGNORE NULLS window scan, both
    // directions) — the repair layer above q283's alerting. Output is
    // the flagged days only; calendar-bounded frames throughout
    Query("q287_anomaly_impute", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("_c"))
      val rb = daily.groupBy(col("event_type"))
        .agg(percentile(col("_c"), lit(0.5)).as("_med"))
      val mad = daily.join(broadcast(rb), Seq("event_type"))
        .groupBy(col("event_type"), col("_med"))
        .agg(percentile(abs(col("_c") - col("_med")), lit(0.5))
          .as("_mad"))
      val flagged = daily.join(broadcast(mad), Seq("event_type"))
        .withColumn("_bad", col("_mad") > 0
          && abs(col("_c") - col("_med"))
            / (lit(1.4826) * col("_mad")) > 3.0)
      val wPrev = Window.partitionBy(col("event_type"))
        .orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy(col("event_type"))
        .orderBy(col("day"))
        .rowsBetween(1, Window.unboundedFollowing)
      flagged
        .withColumn("_prevOk",
          last(when(!col("_bad"), col("_c")), ignoreNulls = true)
            .over(wPrev))
        .withColumn("_nextOk",
          first(when(!col("_bad"), col("_c")), ignoreNulls = true)
            .over(wNext))
        .filter(col("_bad"))
        .select(col("event_type"), col("day"),
          col("_c").as("observed"),
          round((coalesce(col("_prevOk"), col("_nextOk"))
            + coalesce(col("_nextOk"), col("_prevOk"))) / 2.0
            + lit(1e-9), 4).as("imputed"))
        .orderBy(col("event_type"), col("day"))
    },
      // same robust flags + IGNORE NULLS neighbor scan
      Oracle("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |rb AS (SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM daily GROUP BY 1),
        |mad AS (SELECT d.event_type, rb.med,
        |    quantile_cont(abs(d.c - rb.med), 0.5) AS mad
        |  FROM daily d JOIN rb ON d.event_type = rb.event_type
        |  GROUP BY 1, 2),
        |fl AS (SELECT d.event_type, d.day, d.c,
        |    (mad.mad > 0 AND abs(d.c - mad.med)
        |      / (1.4826 * mad.mad) > 3.0) AS bad
        |  FROM daily d JOIN mad ON d.event_type = mad.event_type),
        |nb AS (SELECT event_type, day, c, bad,
        |    last_value(CASE WHEN NOT bad THEN c END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevok,
        |    first_value(CASE WHEN NOT bad THEN c END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS nextok
        |  FROM fl)
        |SELECT event_type, day, CAST(c AS BIGINT) AS observed,
        |  round((COALESCE(prevok, nextok) + COALESCE(nextok, prevok))
        |    / 2.0 + 1e-9, 4) AS imputed
        |FROM nb WHERE bad ORDER BY event_type, day""".stripMargin)),

    // unshipped-revenue priority list (TPC-H Q3 shape): BUILDING-
    // segment orders placed before the cut with lines still shipping
    // after it, top-10 by outstanding revenue — the segment filter
    // prunes customers FIRST, the aggregate rides the |matching
    // lines| frame, TakeOrdered fuses the cut
    Query("q288_shipping_priority", (s, dir) => {
      val cut = lit("1998-01-01").cast("date")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < cut)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("orderdate"),
          col("o_orderpriority"))
      t(s, dir, "lineitem").filter(col("l_shipdate").cast("date") > cut)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey").as("orderkey"), col("orderdate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))) + lit(1e-9), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("orderkey"))
        .limit(10)
    },
      // same segment-pruned join + outstanding-revenue top 10
      Oracle("""WITH cust AS (SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |ord AS (SELECT o_orderkey,
        |    CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
        |  FROM orders JOIN cust ON o_custkey = c_custkey
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01')
        |SELECT l_orderkey AS orderkey, orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2)
        |    AS revenue
        |FROM lineitem JOIN ord ON l_orderkey = o_orderkey
        |WHERE CAST(l_shipdate AS DATE) > DATE '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin)),

    // top principal component by POWER ITERATION on q109's Gram
    // matrix: the d² frame is rounded to 4dp FIRST (both engines then
    // iterate on bit-identical matrices), collected as a model-sized
    // driver read (the k×dim Similarity class — d²=4096 doubles), and
    // raw-iterated 8 times, normalizing ONCE at the end (the HITS
    // lesson). No sign convention needed: v₈ = G⁸·1 and G is PSD
    Query("q289_pca_power", (s, dir) => {
      import s.implicits._
      val d = 64
      val gramRows = t(s, dir, "embeddings")
        .agg(functions.GramAggregator.gram(d)(
          col("embedding").cast("array<double>")).as("_g"))
        .select(posexplode(col("_g")).as(Seq("k", "v")))
        .select((col("k") / d).cast("int").as("i"),
          pmod(col("k"), lit(d)).cast("int").as("j"),
          round(col("v"), 4).as("g"))
        .collect()
      // the aggregator buffer populates the UPPER triangle (q109's
      // i <= j filter exists for the same reason); mirror explicitly
      val gm = Array.ofDim[Double](d, d)
      gramRows.foreach { r =>
        val (i, j, g) = (r.getInt(0), r.getInt(1), r.getDouble(2))
        if (i <= j) { gm(i)(j) = g; gm(j)(i) = g }
      }
      // raw iterations (no per-step rounding: iterate magnitudes pass
      // decimal representability within 2 steps, so a 6dp round is a
      // no-op there — the 4dp final round + nudge is the real guard,
      // the same contract every float aggregate in this file carries)
      var vec = Array.fill(d)(1.0)
      for (_ <- 1 to 8) {
        vec = Array.tabulate(d) { i =>
          var acc = 0.0; var j = 0
          while (j < d) { acc += gm(i)(j) * vec(j); j += 1 }
          acc
        }
      }
      val nrm = math.sqrt(vec.map(x => x * x).sum)
      var ray = 0.0
      for (i <- 0 until d; j <- 0 until d) ray += gm(i)(j) * vec(i) * vec(j)
      val lam = ray / vec.map(x => x * x).sum
      // HALF_UP like Spark's/DuckDB's round (rint would be half-even)
      def r4(x: Double): Double = BigDecimal(x)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      vec.zipWithIndex.map { case (x, i) =>
        (i.toLong, r4(x / nrm + 1e-9) + 0.0, r4(lam + 1e-9))
      }.toSeq.toDF("pos", "loading", "eigenvalue")
        .orderBy(col("pos"))
    },
      // same 4dp gram, eight unrolled raw power iterations, Rayleigh
      Oracle("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |idx AS (SELECT i, j FROM generate_series(1, 64) g1(i),
        |  generate_series(1, 64) g2(j) WHERE i <= j),
        |gu AS (SELECT i - 1 AS i, j - 1 AS j,
        |    round(sum(v[i] * v[j]), 4) AS g
        |  FROM e, idx GROUP BY 1, 2),
        |g AS (SELECT i, j, g FROM gu
        |  UNION ALL SELECT j, i, g FROM gu WHERE i <> j),
        |v0 AS (SELECT unnest(generate_series(0, 63)) AS i, 1.0 AS v),
        |v1 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v0 p ON p.i = g.j GROUP BY 1),
        |v2 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v1 p ON p.i = g.j GROUP BY 1),
        |v3 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v2 p ON p.i = g.j GROUP BY 1),
        |v4 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v3 p ON p.i = g.j GROUP BY 1),
        |v5 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v4 p ON p.i = g.j GROUP BY 1),
        |v6 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v5 p ON p.i = g.j GROUP BY 1),
        |v7 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v6 p ON p.i = g.j GROUP BY 1),
        |v8 AS (SELECT g.i, sum(g.g * p.v) AS v FROM g
        |  JOIN v7 p ON p.i = g.j GROUP BY 1),
        |nrm AS (SELECT sqrt(sum(v * v)) AS nm FROM v8),
        |sq AS (SELECT sum(v * v) AS s2 FROM v8),
        |ray AS (SELECT (SELECT sum(g.g * a.v * b.v) FROM g
        |    JOIN v8 a ON a.i = g.i JOIN v8 b ON b.i = g.j) / sq.s2
        |    AS lam FROM sq)
        |SELECT CAST(v8.i AS BIGINT) AS pos,
        |  round(v8.v / nrm.nm + 1e-9, 4) + 0.0 AS loading,
        |  round(ray.lam + 1e-9, 4) AS eigenvalue
        |FROM v8 CROSS JOIN nrm CROSS JOIN ray
        |ORDER BY pos""".stripMargin)),

    // conversion rate by session depth: q103's gap sessions decorated
    // with a purchase flag, banded by event count — "do deeper
    // sessions convert" without pretending causality. One window +
    // one session rollup, |bands| output
    Query("q291_depth_conversion", (s, dir) => {
      val gapUs = 30L * 60 * 1000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("_us"), col("event_id"))
      val sess = t(s, dir, "events")
        .withColumn("_us", unix_micros(col("ts")))
        .withColumn("_prev", lag(col("_us"), 1).over(w))
        .withColumn("_new", when(col("_prev").isNull
          || col("_us") - col("_prev") > gapUs, 1L).otherwise(0L))
        .withColumn("_seq", sum(col("_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("_seq"))
        .agg(count(lit(1)).as("_n"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("_conv"))
      sess.select(when(col("_n") <= 2, "1-2").when(col("_n") <= 5, "3-5")
          .when(col("_n") <= 10, "6-10").otherwise("11+")
          .as("depth_band"), col("_conv"))
        .groupBy(col("depth_band"))
        .agg(count(lit(1)).as("n_sessions"),
          round(avg(col("_conv")) + lit(1e-9), 4).as("conv_rate"))
        .orderBy(col("depth_band"))
    },
      // same session bands over the q103 CTE, conversion share
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |g AS (SELECT user_id, event_type,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM f),
        |sess AS (SELECT user_id, seq, count(*) AS n,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM g GROUP BY 1, 2)
        |SELECT CASE WHEN n <= 2 THEN '1-2' WHEN n <= 5 THEN '3-5'
        |    WHEN n <= 10 THEN '6-10' ELSE '11+' END AS depth_band,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(avg(conv) + 1e-9, 4) AS conv_rate
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin)),

    // price–size relationship per part type: OLS slope/intercept + R²
    // of retail price on size — the catalog pricing-structure panel
    // (dimension-side analytics next to the fact-side regressions).
    // One |parts| scan, |types|-bounded moments
    Query("q292_price_size_regression", (s, dir) =>
      t(s, dir, "part")
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_parts"),
          round(regr_slope(col("p_retailprice"),
            col("p_size").cast("double")) + lit(1e-9), 4).as("slope"),
          round(regr_intercept(col("p_retailprice"),
            col("p_size").cast("double")) + lit(1e-9), 4)
            .as("intercept"),
          (round(regr_r2(col("p_retailprice"),
            col("p_size").cast("double")) + lit(1e-9), 4) + lit(0.0))
            .as("r2"))
        .orderBy(col("p_type")),
      // same |types|-keyed OLS moments
      Oracle("""SELECT p_type, CAST(count(*) AS BIGINT) AS n_parts,
        |  round(regr_slope(p_retailprice, CAST(p_size AS DOUBLE))
        |    + 1e-9, 4) AS slope,
        |  round(regr_intercept(p_retailprice, CAST(p_size AS DOUBLE))
        |    + 1e-9, 4) AS intercept,
        |  round(regr_r2(p_retailprice, CAST(p_size AS DOUBLE))
        |    + 1e-9, 4) + 0.0 AS r2
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)),

    // rank-1 ALS by ALTERNATING NORMAL EQUATIONS, fully oracled — the
    // r9 verdict's suggested promotion: q35/q117 run Spark ML's ALS
    // (justified rows-only — internal RNG/solve order), this query
    // implements the same alternating-least-squares math as plain
    // aggregates so DuckDB can replay it exactly (the q289 unrolled-
    // rounds pattern). Ratings r(u,i) = interaction count on the 2000-
    // item vocabulary; v⁰ = 1; three rounds of
    //   u = Σ r·v / (λ + Σ v²)   over the user's rated items,
    //   v = Σ r·u / (λ + Σ u²)   over the item's raters (λ = 0.1).
    // SCALE SHAPE: the real distributed-ALS step — ratings shuffle
    // once per half-round keyed by user/item, factor frames are
    // |users|/|items|-bounded, nothing driver-side; rounds are a
    // fixed unrolled count (3), so the lineage stays bounded
    Query("q294_als_rank1", (s, dir) => {
      // the ratings frame feeds all six half-rounds — cache it or the
      // events scan + rollup replays per reference
      val r = graft.core.Caches.cached(t(s, dir, "events")
        .groupBy(col("user_id"),
          (col("event_id") % 2000).cast("long").as("item_id"))
        .agg(count(lit(1)).cast("double").as("_r")))
      val v0 = r.select(col("item_id")).distinct()
        .withColumn("_v", lit(1.0))
      val lam = lit(0.1)
      val vFinal = (1 to 3).foldLeft(v0) { (v, _) =>
        val u = r.join(v, Seq("item_id"))
          .groupBy(col("user_id"))
          .agg((sum(col("_r") * col("_v"))
            / (lam + sum(col("_v") * col("_v")))).as("_u"))
        r.join(u, Seq("user_id"))
          .groupBy(col("item_id"))
          .agg((sum(col("_r") * col("_u"))
            / (lam + sum(col("_u") * col("_u")))).as("_v"),
            count(lit(1)).as("_n"))
          .select(col("item_id"), col("_v"), col("_n"))
      }
      graft.core.Caches.materializedThenRelease(
        vFinal.filter(col("item_id") < 50)
          .select(col("item_id"), col("_n").as("n_raters"),
            round(col("_v") + lit(1e-9), 4).as("item_factor"))
          .orderBy(col("item_id")),
        r)
    },
      // the same three alternating normal-equation rounds, unrolled as
      // CTEs (v0=1 folds into u1's closed form: sum(v²)=count)
      Oracle("""WITH r AS (SELECT user_id, CAST(event_id % 2000 AS BIGINT)
        |    AS item_id, CAST(count(*) AS DOUBLE) AS rt
        |  FROM events GROUP BY 1, 2),
        |u1 AS (SELECT user_id, sum(rt) / (0.1 + count(*)) AS u
        |  FROM r GROUP BY 1),
        |v1 AS (SELECT item_id, sum(rt * u) / (0.1 + sum(u * u)) AS v
        |  FROM r JOIN u1 USING (user_id) GROUP BY 1),
        |u2 AS (SELECT user_id, sum(rt * v) / (0.1 + sum(v * v)) AS u
        |  FROM r JOIN v1 USING (item_id) GROUP BY 1),
        |v2 AS (SELECT item_id, sum(rt * u) / (0.1 + sum(u * u)) AS v
        |  FROM r JOIN u2 USING (user_id) GROUP BY 1),
        |u3 AS (SELECT user_id, sum(rt * v) / (0.1 + sum(v * v)) AS u
        |  FROM r JOIN v2 USING (item_id) GROUP BY 1),
        |v3 AS (SELECT item_id, sum(rt * u) / (0.1 + sum(u * u)) AS v,
        |    CAST(count(*) AS BIGINT) AS n_raters
        |  FROM r JOIN u3 USING (user_id) GROUP BY 1)
        |SELECT item_id, n_raters, round(v + 1e-9, 4) AS item_factor
        |FROM v3 WHERE item_id < 50 ORDER BY item_id""".stripMargin)),

    // daily purchase-value bands: exact P10/P50/P90 per day — the
    // latency-band-style daily health panel; one group aggregate over
    // the calendar-bounded day key, exact interpolated percentiles
    Query("q199_daily_value_bands", (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          round(percentile(col("value"), lit(0.1)) + lit(1e-9), 4)
            .as("p10"),
          round(percentile(col("value"), lit(0.5)) + lit(1e-9), 4)
            .as("p50"),
          round(percentile(col("value"), lit(0.9)) + lit(1e-9), 4)
            .as("p90"))
        .orderBy(col("day")),
      Oracle("""SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(value, 0.1) + 1e-9, 4) AS p10,
        |  round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
        |  round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY day""".stripMargin)),

    // A6 seeded stratified sampling. Tolerance-gated oracle (q48 pattern):
    // emit the EXACT stratum size only when the seeded per-stratum
    // Bernoulli sample lands within 10% of its target fraction (>6σ at
    // this SF) — the hash compare then asserts sampler accuracy without
    // requiring engine-identical RNG
    Query("q59_stratified_sample", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val fractions = Map("A" -> 0.2, "N" -> 0.1, "R" -> 0.3)
      val sampled = li.stat.sampleBy("l_returnflag", fractions, 42L)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_sampled"))
      val frac = element_at(
        map(fractions.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("l_returnflag"))
      li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("l_returnflag"), "left")
        .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
        .select(col("l_returnflag"),
          when(abs(col("n_sampled") - frac * col("n_total")) <=
            frac * col("n_total") * 0.1, col("n_total")).otherwise(lit(-1L))
            .as("stratum_rows"))
        .orderBy(col("l_returnflag"))
    },
      Oracle("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS stratum_rows
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // result must be identical to the unsalted join — the salt only
    // changes row placement (spec + oracle both pin that)
    // salt = xxhash64 of the (orderkey, linenumber) PK — deterministic
    // (retry-safe, r18) and it varies WITHIN a hot orderkey, so the hot
    // key still spreads; hashing all 16 columns cost more than the join
    // (r18 bench 0.99→1.57 s, reverted to the PK). Width stays the
    // pinned demonstrator 4 — width multiplies the small side, so it is
    // sized to the demonstrated skew, not to the core count (the
    // operator's buckets<=0 derives defaultParallelism when wanted).
    Query("q43_salted_join", (s, dir) =>
      operators.Relational.saltedJoin(
          t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", buckets = 4,
          saltCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount")).cast("decimal(8,6)")), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("o_orderpriority")),
      Oracle("""SELECT o_orderpriority,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(1 - l_discount AS DECIMAL(8,6))), 2) AS DOUBLE)
        |         AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // two-feature ridge regression in closed form (price ~ quantity +
    // discount, λ=1): ONE moment-aggregate pass + Cramer on the 2×2
    // normal equations — multivariate regression with nothing
    // corpus-sized past the map-side-combined aggregate
    Query("q163_ridge_regression", (s, dir) =>
      operators.Relational.ridgeRegression2(t(s, dir, "lineitem"),
          "l_extendedprice", "l_quantity", "l_discount", lambda = 1.0)
        .select(round(col("b1") + lit(1e-9), 4).as("b1"),
          round(col("b2") + lit(1e-9), 4).as("b2"), col("n")),
      // identical moment algebra; float-order class (q92), 4-dp round
      Oracle("""WITH m AS (SELECT
        |    sum(l_quantity * l_quantity) AS s11,
        |    sum(l_discount * l_discount) AS s22,
        |    sum(l_quantity * l_discount) AS s12,
        |    sum(l_quantity * l_extendedprice) AS s1y,
        |    sum(l_discount * l_extendedprice) AS s2y,
        |    count(*) AS n
        |  FROM lineitem)
        |SELECT
        |  round(((s22 + 1.0) * s1y - s12 * s2y) /
        |    ((s11 + 1.0) * (s22 + 1.0) - s12 * s12) + 1e-9, 4) AS b1,
        |  round(((s11 + 1.0) * s2y - s12 * s1y) /
        |    ((s11 + 1.0) * (s22 + 1.0) - s12 * s12) + 1e-9, 4) AS b2,
        |  CAST(n AS BIGINT) AS n FROM m""".stripMargin)),

    // inter-event gap percentiles per event type: lag over the
    // (user, type) stream — the high-cardinality window key — then
    // exact interpolated p50/p90/p99 of the gap in MICROSECONDS
    // (integer inputs, so the interpolation arithmetic is the same
    // fixed chain in both engines). Bot/burst detection's base table
    Query("q164_gap_percentiles", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("_us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("_us"), col("event_id"))
        .withColumn("_gap", col("_us") - lag(col("_us"), 1).over(w))
        .filter(col("_gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(percentile(col("_gap"), lit(0.5)) + lit(1e-9), 2)
            .as("p50_us"),
          round(percentile(col("_gap"), lit(0.9)) + lit(1e-9), 2)
            .as("p90_us"),
          round(percentile(col("_gap"), lit(0.99)) + lit(1e-9), 2)
            .as("p99_us"))
        .orderBy(col("event_type"))
    },
      // same (user, type) lag pairing over integer micros; quantile_cont
      // is percentile's exact interpolation — identical fixed chain
      Oracle("""WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) + 1e-9, 2) AS p50_us,
        |  round(quantile_cont(gap, 0.9) + 1e-9, 2) AS p90_us,
        |  round(quantile_cont(gap, 0.99) + 1e-9, 2) AS p99_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // lexical-diversity profile per source: token/type/hapax counts and
    // type-token ratio — the cheap corpus-quality signal (dull machine
    // text ⇒ low TTR, OCR noise ⇒ hapax spike). One token-keyed count
    // (map-side combined) then a source rollup; nothing corpus-sized
    // past the token aggregate
    Query("q165_lexical_diversity", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("_c"))
      toks.groupBy(col("source"))
        .agg(sum(col("_c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          round(count(lit(1)).cast("double") / sum(col("_c"))
            + lit(1e-9), 4).as("ttr"))
        .orderBy(col("source"))
    },
      // same whitespace tokenization (q84's split), empty tokens dropped
      Oracle("""WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, count(*) AS c FROM t
        |  WHERE tok <> '' GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  round(count(*) / CAST(sum(c) AS DOUBLE) + 1e-9, 4) AS ttr
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // privacy-compliance audit: quasi-identifier group sizes — a group
    // below k is a re-identification risk that must be suppressed or
    // generalized before the table ships as training data. ONE
    // map-side-combined aggregate on the QI tuple; the suppression
    // anti-join would reuse this aggregate's exchange
    Query("q120_k_anonymity", (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("group_size"))
        .withColumn("at_risk", (col("group_size") < 5L).cast("long"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"),
          col("bal_band")),
      Oracle("""SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS group_size,
        |  CAST(count(*) < 5 AS BIGINT) AS at_risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin)),

    // last-touch marketing attribution: each purchase credits the most
    // recent click within a 7-day lookback (the native as-of operator
    // with tolerance — q53's stack), channel = the click's JSON props
    // bucket; unmatched purchases roll up under -1. Composition
    // showcase: JSON extract → dedup-per-instant argmax → bounded as-of
    // → channel rollup, all key-partitioned
    Query("q131_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("_k",
          get_json_object(col("props"), "$.k").cast("long") % 10)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(struct(col("event_id"), col("_k"))).as("_c"))
        .select(col("user_id"), col("ts").as("cts"),
          col("_c._k").as("channel"))
      plans.AsOf.join(purchases, clicks, Seq("user_id"), "ts", "cts",
          Seq(("channel", "channel")),
          toleranceMicros = 7L * 86400L * 1000000L)
        .groupBy(coalesce(col("channel"), lit(-1L)).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")) + lit(1e-9), 2).as("revenue"))
        .orderBy(col("channel"))
    },
      // q53's left-asof-with-tolerance shape: LEFT JOIN in the lookback
      // band + row_number picks the latest click; arg_max by event_id
      // mirrors Spark's max(struct(event_id, k)) per-instant dedup
      Oracle("""WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS pts,
        |    value FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
        |    arg_max(CAST(json_extract(props, '$.k') AS BIGINT) % 10,
        |      event_id) AS channel
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (SELECT p.user_id, p.event_id, p.value, c.channel,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY c.cts DESC) AS rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.cts <= p.pts AND c.cts > p.pts - INTERVAL 7 DAY)
        |SELECT COALESCE(channel, -1) AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(sum(value) + 1e-9, 2) AS revenue
        |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY channel""".stripMargin)),

    // position-based (U-shaped) multi-touch attribution — the
    // multi-credit complement of q131's last-touch: every click in the
    // purchase's 7-day lookback shares the credit (first 0.4, last 0.4,
    // middle 0.2/(n−2); n=1 → 1, n=2 → ½/½), unmatched purchases roll
    // up under channel −1 with full credit. The journey join is a
    // user-keyed range join (bounded by the lookback); journey ranks
    // ride a (user, purchase) window — high-cardinality keys throughout
    Query("q166_position_attribution", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("_pus"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("_cu"), col("event_id").as("c_id"),
          unix_micros(col("ts")).as("_cus"),
          (get_json_object(col("props"), "$.k").cast("long") % 10)
            .as("channel"))
      val w = Window.partitionBy(col("user_id"), col("p_id"))
      val ranked = purchases
        .join(clicks, col("user_id") === col("_cu") &&
          col("_cus") <= col("_pus") &&
          col("_cus") > col("_pus") - lit(7L * 86400L * 1000000L), "left")
        .withColumn("_rn",
          row_number().over(w.orderBy(col("_cus"), col("c_id"))))
        .withColumn("_n", count(lit(1)).over(w))
      val credit = when(col("_n") === 1, lit(1.0))
        .when(col("_rn") === 1 || col("_rn") === col("_n"),
          when(col("_n") === 2, lit(0.5)).otherwise(lit(0.4)))
        .otherwise(lit(0.2) / (col("_n") - 2))
      ranked
        .select(coalesce(col("channel"), lit(-1L)).as("channel"),
          col("value"), credit.as("_cr"))
        .groupBy(col("channel"))
        .agg(round(sum(col("_cr")) + lit(1e-9), 4).as("credit"),
          round(sum(col("_cr") * col("value")) + lit(1e-9), 2)
            .as("weighted_revenue"))
        .orderBy(col("channel"))
    },
      // same journey join (left, 7-day lookback in the ON clause), same
      // rank/count windows and CASE weights; weight VALUES are identical
      // literals both sides, only sum order differs → 4-dp round
      Oracle("""WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts)
        |    AS pus, value FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS cu, event_id AS c_id, epoch_us(ts)
        |    AS cus, CAST(json_extract(props, '$.k') AS BIGINT) % 10
        |    AS channel
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.user_id, p.p_id, p.value, c.channel, c.cus,
        |    c.c_id
        |  FROM p LEFT JOIN c ON p.user_id = c.cu
        |    AND c.cus <= p.pus AND c.cus > p.pus - 604800000000),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, p_id
        |      ORDER BY cus, c_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, p_id) AS n
        |  FROM j),
        |w AS (SELECT COALESCE(channel, -1) AS channel, value,
        |    CASE WHEN n = 1 THEN 1.0
        |         WHEN rn = 1 OR rn = n THEN
        |           CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END
        |         ELSE 0.2 / (n - 2) END AS cr
        |  FROM r)
        |SELECT channel, round(sum(cr) + 1e-9, 4) AS credit,
        |  round(sum(cr * value) + 1e-9, 2) AS weighted_revenue
        |FROM w GROUP BY channel ORDER BY channel""".stripMargin)),

    // session entry/exit/bounce analysis per event type — which actions
    // OPEN journeys, which END them, which are one-and-done. Reuses
    // q103's gaps-and-islands sessions; openers/closers are rank-1 /
    // rank-n rows of a (user, session) window — never a per-type global
    // sort. Counts are integers: engines agree exactly
    Query("q167_session_entries", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("_us"), col("event_id"))
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("_us"))
        .withColumn("_ns",
          when(lag(col("_us"), 1).over(wu).isNull ||
            col("_us") - lag(col("_us"), 1).over(wu) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("_sid", sum(col("_ns")).over(wu))
      val ws = Window.partitionBy(col("user_id"), col("_sid"))
      val ranked = e
        .withColumn("_rn",
          row_number().over(ws.orderBy(col("_us"), col("event_id"))))
        .withColumn("_n", count(lit(1)).over(ws))
      ranked.groupBy(col("event_type"))
        .agg(sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("n_entries"),
          sum(when(col("_rn") === col("_n"), 1L).otherwise(0L))
            .as("n_exits"),
          sum(when(col("_n") === 1, 1L).otherwise(0L)).as("n_bounces"))
        .orderBy(col("event_type"))
    },
      // q103's session CTE + rank-1/rank-n opener/closer flags; integer
      // counts — exact both engines
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY us,
        |      event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sid
        |  FROM f),
        |r AS (SELECT event_type, row_number() OVER (PARTITION BY
        |      user_id, sid ORDER BY us, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, sid) AS n
        |  FROM g)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_entries,
        |  CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exits,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // whale-concentration report: the top-1% users' share of total
    // events — the activity-skew number a capacity plan (and a bot
    // audit) starts from. Per-user counts (user-keyed, map-side
    // combined), exact interpolated p99 cutoff broadcast back, one
    // rollup row out
    Query("q168_whale_share", (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("_c"))
      val cut = counts.agg(percentile(col("_c"), lit(0.99)).as("_p99"))
      counts.join(broadcast(cut))
        .agg(count(lit(1)).as("n_users"),
          round(max(col("_p99")) + lit(1e-9), 2).as("whale_cutoff"),
          sum(when(col("_c") >= col("_p99"), 1L).otherwise(0L))
            .as("n_whales"),
          round(sum(when(col("_c") >= col("_p99"), col("_c"))
              .otherwise(0L)).cast("double") / sum(col("_c"))
            + lit(1e-9), 4).as("whale_share"))
    },
      // same per-user counts, same exact interpolated p99, same rollup
      Oracle("""WITH c AS (SELECT user_id, count(*) AS c FROM events
        |  GROUP BY user_id),
        |t AS (SELECT quantile_cont(c, 0.99) AS p99 FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  round(max(p99) + 1e-9, 2) AS whale_cutoff,
        |  CAST(sum(CASE WHEN c >= p99 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_whales,
        |  round(sum(CASE WHEN c >= p99 THEN c ELSE 0 END) /
        |    CAST(sum(c) AS DOUBLE) + 1e-9, 4) AS whale_share
        |FROM c CROSS JOIN t""".stripMargin)),

    // per-item engagement trend: regr_slope of daily interaction
    // counts vs epoch-day — which items are growing. One (item, day)
    // count (map-side combined) then a per-item moment aggregate; the
    // q92 closed-form class, keyed by item
    Query("q176_item_trends", (s, dir) => {
      val daily = t(s, dir, "events")
        .select((col("event_id") % 50).as("item_id"),
          to_date(col("ts")).as("_day"))
        .groupBy(col("item_id"), col("_day"))
        .agg(count(lit(1)).as("_c"))
      daily.groupBy(col("item_id"))
        .agg(count(lit(1)).as("n_days"),
          round(regr_slope(col("_c"),
            datediff(col("_day"), lit("1970-01-01"))) + lit(1e-9), 4)
            .as("trend_slope"))
        .orderBy(col("item_id"))
    },
      // same daily counts and regr_slope over epoch-day x
      Oracle("""WITH daily AS (SELECT event_id % 50 AS item_id,
        |    CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT item_id, CAST(count(*) AS BIGINT) AS n_days,
        |  round(regr_slope(c,
        |    date_diff('day', DATE '1970-01-01', day)) + 1e-9, 4)
        |    AS trend_slope
        |FROM daily GROUP BY item_id ORDER BY item_id""".stripMargin)),

    // seasonal-baseline residual anomalies: expected value = the
    // (event_type, hour-of-week) corpus mean — the cheapest seasonal
    // model — residual = value − expected; top-20 by |residual|. The
    // baseline is ≤ |types|×168 rows, broadcast back onto the stream;
    // ranking is a TakeOrderedAndProject, never a global sort
    Query("q173_seasonal_anomaly", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          (dayofweek(col("ts")) * 24 + hour(col("ts"))).as("_how"))
      val base = ev.groupBy(col("event_type"), col("_how"))
        .agg(avg(col("value")).as("_exp"))
      ev.join(broadcast(base), Seq("event_type", "_how"))
        .select(col("event_id"), col("event_type"),
          round(col("value") + lit(1e-9), 2).as("value"),
          round(col("_exp") + lit(1e-9), 4).as("expected"),
          round(abs(col("value") - col("_exp")) + lit(1e-9), 4)
            .as("abs_residual"))
        .orderBy(col("abs_residual").desc, col("event_id")).limit(20)
    },
      // same (type, hour-of-week) baseline — DuckDB's dayofweek is
      // Sunday=0 where Spark's is Sunday=1, hence the +1
      Oracle("""WITH e AS (SELECT event_id, event_type, value,
        |    (dayofweek(ts) + 1) * 24 + extract(hour FROM ts) AS how
        |  FROM events),
        |b AS (SELECT event_type, how, avg(value) AS exp
        |  FROM e GROUP BY 1, 2)
        |SELECT event_id, e.event_type,
        |  round(value + 1e-9, 2) AS value,
        |  round(exp + 1e-9, 4) AS expected,
        |  round(abs(value - exp) + 1e-9, 4) AS abs_residual
        |FROM e JOIN b ON e.event_type = b.event_type AND e.how = b.how
        |ORDER BY abs_residual DESC, event_id LIMIT 20""".stripMargin)),

    // MERGE INTO / CDC apply: base ← deterministic change batch
    // (updates %97, deletes %89, inserts %101 under offset keys), then
    // a per-status rollup certifying the merged snapshot. One
    // key-partitioned full-outer join — the lakehouse upsert primitive
    Query("q171_merge_apply", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val updates = base.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1.0).as("o_totalprice"),
          lit("U").as("_op"))
      val deletes = base.filter(col("o_orderkey") % 89 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), lit("D").as("_op"))
      val inserts = base.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          lit("I").as("_op"))
      // %97 ∩ %89 etc. are empty below 8633-key corpora only — dedup
      // the batch to one op per key, delete-wins then update (the
      // compacted-batch contract the operator requires)
      val batch = updates.unionByName(deletes).unionByName(inserts)
        .groupBy(col("o_orderkey"))
        .agg(max(struct(
          when(col("_op") === "D", 2).when(col("_op") === "U", 1)
            .otherwise(0).as("_pri"),
          col("_op").as("op"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("tp"))).as("_m"))
        .select(col("o_orderkey"), col("_m.st").as("o_orderstatus"),
          col("_m.tp").as("o_totalprice"), col("_m.op").as("_op"))
      operators.Relational.applyCdc(base, batch, "o_orderkey", "_op")
        .groupBy(col("o_orderstatus"))
        // decimal money sum (q108 class): per-status totals reach 2e11
        // at sweep corpora; the old +1e-9 nudge shields nothing there
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double").as("total"),
          sum(col("o_orderkey")).as("key_checksum"))
        .orderBy(col("o_orderstatus"))
    },
      // same deterministic change batch, same delete-wins compaction
      // (priority-ordered argmax), same full-outer merge semantics
      Oracle("""WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |allc AS (
        |  SELECT o_orderkey, 'U' AS st, o_totalprice + 1.0 AS tp,
        |    'U' AS op FROM base WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D'
        |  FROM base WHERE o_orderkey % 89 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', o_totalprice, 'I'
        |  FROM base WHERE o_orderkey % 101 = 0),
        |batch AS (SELECT o_orderkey, st, tp, op FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END
        |      DESC, op DESC, st DESC, tp DESC) AS rn
        |  FROM allc) WHERE rn = 1),
        |m AS (SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS k,
        |    CASE WHEN c.op IS NOT NULL THEN c.st
        |         ELSE b.o_orderstatus END AS st,
        |    CASE WHEN c.op IS NOT NULL THEN c.tp
        |         ELSE b.o_totalprice END AS tp
        |  FROM base b FULL OUTER JOIN batch c
        |    ON b.o_orderkey = c.o_orderkey
        |  WHERE c.op IS NULL OR c.op <> 'D')
        |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(tp AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS total,
        |  CAST(sum(k) AS BIGINT) AS key_checksum
        |FROM m GROUP BY st ORDER BY o_orderstatus""".stripMargin)),

    // exponential time-decayed item popularity (half-life weighting,
    // τ = 7 days): trending-now vs q83's all-time co-occurrence. ONE
    // map-side-combined aggregate; the anchor (global max ts) is a
    // broadcast scalar, so the weight is a map-side expression
    Query("q169_decayed_popularity", (s, dir) => {
      val ev = t(s, dir, "events")
        .select((col("event_id") % 4000).as("item_id"),
          unix_micros(col("ts")).as("_us"))
      val anchor = ev.agg(max(col("_us")).as("_tmax"))
      ev.join(broadcast(anchor))
        .groupBy(col("item_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(exp((col("_us") - col("_tmax")).cast("double") /
            lit(7.0 * 86400 * 1000000))) + lit(1e-9), 4)
            .as("decayed_score"))
        .orderBy(col("decayed_score").desc, col("item_id")).limit(20)
    },
      // same anchor (global max micros) and the same exp argument — the
      // only cross-engine risk is libm's exp (≤1 ulp), absorbed by the
      // 4-dp round
      Oracle("""WITH e AS (SELECT event_id % 4000 AS item_id, epoch_us(ts)
        |    AS us FROM events),
        |a AS (SELECT max(us) AS tmax FROM e)
        |SELECT item_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(exp((us - tmax) / (7.0 * 86400 * 1000000)))
        |    + 1e-9, 4) AS decayed_score
        |FROM e CROSS JOIN a GROUP BY item_id
        |ORDER BY decayed_score DESC, item_id LIMIT 20""".stripMargin)),

    // numeric distribution drift: binned two-sample KS between purchase
    // and click values — the numeric complement of q82's token JS. The
    // grid keeps it one map-side (bin, slice) count; the exact-supremum
    // corpus sort is deliberately NOT paid (Relational.ksBinned doc)
    Query("q132_ks_drift", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
      Relational.ksBinned(ev, "value",
        isA = col("event_type") === "purchase", bins = 32)
    },
      // bin ids are correctly-rounded arithmetic on exact global
      // extremes, counts are exact integers, so the binned ECDFs (and
      // their max gap) are bit-identical — the argmax-bin equality
      // re-scan is therefore safe on doubles
      Oracle("""WITH s AS (SELECT value AS v, (event_type = 'purchase') AS a
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |e AS (SELECT min(v) AS lo, max(v) AS hi FROM s),
        |b AS (SELECT least(CAST(floor((v - lo) / ((hi - lo) / 32.0))
        |    AS BIGINT), 31) AS bin, a FROM s, e),
        |p AS (SELECT bin, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
        |  FROM b GROUP BY bin),
        |c AS (SELECT bin,
        |    sum(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) / CAST(sum(ca) OVER () AS DOUBLE)
        |      AS fa,
        |    sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) / CAST(sum(cb) OVER () AS DOUBLE)
        |      AS fb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM p),
        |m AS (SELECT max(abs(fa - fb)) AS d FROM c)
        |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
        |  round(m.d + 1e-9, 4) AS ks,
        |  (SELECT min(bin) FROM c WHERE abs(fa - fb) = m.d) AS ks_bin
        |FROM m, (SELECT max(na) AS na, max(nb) AS nb FROM c) t""".stripMargin)),

    // hopping (sliding) window aggregate — q21's tumbling sibling:
    // 1 h windows every 30 min, each event lands in exactly 2 windows.
    // Spark's window() explodes map-side; the aggregate stays
    // window-keyed with map-side combine (the streaming shape, batch
    // parity here like q21)
    Query("q134_hopping_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("string").as("window_start"),
          col("n"), col("sum_value"))
        .orderBy(col("window_start")),
      // 1h/30m hopping: each event lands in EXACTLY the two windows
      // starting at its 30-min floor and 30 min before it — unnested
      // explicitly; same VARCHAR timestamp currency as q21
      Oracle("""WITH x AS (SELECT value, make_timestamp(
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000)
        |      * 1800000000) AS t30 FROM events),
        |w AS (SELECT value,
        |    unnest([t30, t30 - INTERVAL 30 MINUTE]) AS ws FROM x)
        |SELECT CAST(ws AS VARCHAR) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1 ORDER BY window_start""".stripMargin)),

    // Benford first-digit audit over order totals — the fraud/data-
    // quality screen: observed first-significant-digit counts vs
    // N·log10(1+1/d). The digit comes from the INTEGER cents string
    // (exact in both engines — no log10-of-double boundary risk); one
    // 9-key map-side-combined aggregate + a broadcast total
    Query("q135_benford", (s, dir) => {
      val digit = substring(
        round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
        .cast("long")
      val counts = t(s, dir, "orders").groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n_obs"))
      val total = counts.agg(sum(col("n_obs")).as("_n"))
      counts.join(broadcast(total))
        .withColumn("expected", col("_n") *
          log(10.0, lit(1.0) + lit(1.0) / col("digit")))
        .select(col("digit"), col("n_obs"),
          round(col("expected") + lit(1e-9), 4).as("expected"),
          round(pow(col("n_obs") - col("expected"), 2) / col("expected")
            + lit(1e-9), 4).as("chi2_contrib"))
        .orderBy(col("digit"))
    },
      // first digit from the INTEGER cents string (exact both engines);
      // expectation through log10 (Spark evaluates ln/ln10 — ulp-level
      // only, absorbed by the 4-dp round)
      Oracle("""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM d GROUP BY digit),
        |t AS (SELECT sum(n_obs) AS n FROM c)
        |SELECT digit, n_obs,
        |  round(n * log10(1.0 + 1.0 / digit) + 1e-9, 4) AS expected,
        |  round(pow(n_obs - n * log10(1.0 + 1.0 / digit), 2)
        |    / (n * log10(1.0 + 1.0 / digit)) + 1e-9, 4) AS chi2_contrib
        |FROM c, t ORDER BY digit""".stripMargin)),

    // leave-one-out smoothed target encoding of order priority against
    // order value — the leakage-free categorical feature transform.
    // Sums run exact DECIMAL(12,2) (o_totalprice's true grain): the
    // encoded group mean is ~1e5 with a 4-dp grid, and a double Σ's
    // summation-order ulp crossed that grid at the 100× ladder rung
    Query("q146_target_encode", (s, dir) =>
      operators.Relational.targetEncodeLoo(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")),
          "o_orderpriority", "o_totalprice", smoothing = 20.0,
          exactSumType = Some("decimal(12,2)"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("loo_enc"))
        .orderBy(col("o_orderkey")),
      // Σ and Σ−y exact DECIMAL(12,2), so both engines divide
      // bit-identical numerators; μ = exact Σ ÷ n in one double division.
      // (The pre-r13 double-Σ form relied on the 4-dp round absorbing
      // the ordering ulp — false at 100×, where the encoded mean's ~1e5
      // magnitude makes 4 dp a tens-of-ulp relative tolerance.)
      Oracle("""WITH g AS (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
        |      AS DOUBLE) / count(o_totalprice) AS mu FROM orders),
        |c AS (SELECT o_orderpriority,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
        |    CAST(count(o_totalprice) AS BIGINT) AS n
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority,
        |  round((CAST(s - CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |      + 20.0 * mu) / (n - 1 + 20.0)
        |    + 1e-9, 4) AS loo_enc
        |FROM orders JOIN c USING (o_orderpriority) CROSS JOIN g
        |ORDER BY o_orderkey""".stripMargin)),

    // catalog-concentration audit: Gini of per-item interaction counts
    // within each event type (0 uniform → 1 single-item monoculture)
    Query("q147_gini_concentration", (s, dir) =>
      operators.Relational.giniConcentration(
          t(s, dir, "events").select(col("event_type"),
            (col("event_id") % 50).as("item_id")),
          "event_type", "item_id")
        .orderBy(col("event_type")),
      // rank formula on exact integer sums — both engines derive the
      // gini double from identical Σ i·x / n / Σx; ties rank-invariant
      Oracle("""WITH x AS (SELECT event_type, event_id % 50 AS item_id,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY x, item_id) AS BIGINT) AS i
        |  FROM x)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(x) AS BIGINT) AS total,
        |  round(2.0 * sum(i * x) / (count(*) * CAST(sum(x) AS DOUBLE))
        |    - (count(*) + 1) / CAST(count(*) AS DOUBLE)
        |    + 1e-9, 4) + 0.0 AS gini
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // outlier-safe per-type feature scaling: winsorize into the exact
    // [p05, p95] band, then min-max scale the band — robust where
    // plain min-max collapses on a single outlier
    Query("q150_winsorize_scale", (s, dir) =>
      operators.Relational.winsorizeScale(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value")
        .select(col("event_id"), col("event_type"), col("clipped"),
          col("scaled"))
        .orderBy(col("event_id")),
      // exact interpolated percentiles (quantile_cont ≡ percentile, the
      // q58 parity); identical clip/scale double chain; degenerate band
      // → NULL scaled both engines
      Oracle("""WITH q AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi FROM events GROUP BY 1)
        |SELECT event_id, event_type,
        |  round(least(greatest(value, lo), hi) + 1e-9, 4) AS clipped,
        |  CASE WHEN hi > lo THEN
        |    round((least(greatest(value, lo), hi) - lo) / (hi - lo)
        |      + 1e-9, 4)
        |  END AS scaled
        |FROM events JOIN q USING (event_type)
        |ORDER BY event_id""".stripMargin)),

    // audience overlap per event-type pair via HLL sketch ALGEBRA:
    // inter ≈ est_a + est_b − est(union(sk_a, sk_b)) — the mergeable-
    // sketch path a 100 TB pipeline stores (one sketch per segment,
    // pairwise overlap WITHOUT re-scanning raw data). q48-style gate:
    // emit the exact intersection only when the sketch algebra lands
    // within 5% of the exact union (inclusion–exclusion differences
    // amplify HLL error, so the bound scales with the union), else −1
    // fails the oracle. The exact path here is the certifier; at scale
    // only the sketch path runs.
    Query("q152_audience_overlap", (s, dir) => {
      val d = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sk = t(s, dir, "events").groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("_sk"),
          count_distinct(col("user_id")).as("_n"))
      val pairs = sk.select(col("event_type").as("type_a"),
          col("_sk").as("_ska"), col("_n").as("_na"))
        .join(sk.select(col("event_type").as("type_b"),
          col("_sk").as("_skb"), col("_n").as("_nb")),
          col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("_na"), col("_nb"),
          hll_sketch_estimate(hll_union(col("_ska"), col("_skb")))
            .as("_u_est"))
      val exact = d.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(d.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("_inter"))
      pairs.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          when(abs((col("_na") + col("_nb") - col("_u_est")) -
              col("_inter")) <=
            (col("_na") + col("_nb") - col("_inter")) * 0.05,
            col("_inter")).otherwise(lit(-1L)).as("n_common"))
        .orderBy(col("type_a"), col("type_b"))
    },
      // the gate emits the exact pair intersection (or -1 on a sketch
      // miss), so the oracle is the exact self-join formulation
      Oracle("""WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_common
        |FROM d a JOIN d b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // exact per-type empirical-CDF encoder table — rank normalization
    // without a corpus-partitioned window (value-level frame only)
    Query("q154_cdf_encode", (s, dir) =>
      operators.Relational.cumeDistEncode(t(s, dir, "events"),
          "event_type", "value")
        .orderBy(col("event_type"), col("value")),
      // value-level counts + running sum; cdf is one exact long/long
      // division rounded at 4 dp
      Oracle("""WITH c AS (SELECT event_type, value,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, value, n,
        |  round(CAST(sum(n) OVER (PARTITION BY event_type
        |      ORDER BY value) AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)
        |    + 1e-9, 4) AS cdf
        |FROM c ORDER BY event_type, value""".stripMargin)),

    // per-day exact ROC-AUC of "value separates clicks from the rest"
    // — model-eval metric via the histogram fold, never a corpus sort
    Query("q156_group_auc", (s, dir) =>
      operators.Relational.groupAuc(
          t(s, dir, "events").select(to_date(col("ts")).as("day"),
            col("event_type"), col("value")),
          "day", col("event_type") === "click", "value")
        .orderBy(col("day")),
      // identical histogram fold: pos·(neg_below + ½·neg) on exact
      // counts (½-multiples are exact doubles), one division at the end
      Oracle("""WITH h AS (SELECT CAST(ts AS DATE) AS day, value AS v,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS pos,
        |    sum(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END)
        |      AS neg
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT day, pos, neg,
        |    coalesce(sum(neg) OVER (PARTITION BY day ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS negb
        |  FROM h)
        |SELECT day, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(neg) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
        |    round(sum(pos * (negb + 0.5 * neg)) /
        |      CAST(sum(pos) * sum(neg) AS DOUBLE) + 1e-9, 4)
        |  END AS auc
        |FROM w GROUP BY day ORDER BY day""".stripMargin)),

    // delete-a-group jackknife SE of the per-type mean value — the
    // resampling-free uncertainty estimate, folds = md5 user slots
    Query("q157_jackknife_se", (s, dir) =>
      operators.Relational.jackknifeMean(t(s, dir, "events"),
          "event_type", "value", "user_id", folds = 10)
        .orderBy(col("event_type")),
      // md5 user folds (q79 currency); LOO means from fold sums; the
      // two-pass Σ(m−m̄)² avoids the E[m²]−m̄² cancellation
      Oracle("""WITH bf AS (SELECT event_type,
        |    CAST(concat('0x', substr(md5(concat('42:',
        |      CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 10 AS f,
        |    sum(value) AS s, CAST(count(value) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(s) AS st, sum(n) AS nt,
        |    CAST(count(*) AS BIGINT) AS k FROM bf GROUP BY 1),
        |loo AS (SELECT b.event_type, t.st, t.nt, t.k,
        |    (t.st - b.s) / CAST(t.nt - b.n AS DOUBLE) AS m
        |  FROM bf b JOIN tot t USING (event_type)),
        |mb AS (SELECT event_type, avg(m) AS mbar FROM loo GROUP BY 1)
        |SELECT l.event_type, CAST(max(l.nt) AS BIGINT) AS n,
        |  max(l.k) AS n_folds,
        |  round(max(l.st) / CAST(max(l.nt) AS DOUBLE) + 1e-9, 4) AS mean,
        |  round(sqrt((CAST(max(l.k) - 1 AS DOUBLE) / max(l.k)) *
        |    sum((l.m - mbar) * (l.m - mbar))) + 1e-9, 4) AS jk_se
        |FROM loo l JOIN mb USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // first-seen growth curve: new + cumulative distinct users by day.
    // The corpus-sized stage is the per-user min-date aggregate; the
    // running sum's unpartitioned window runs over the DAY-level frame
    // only (≤ #days rows — the one place a global window is free)
    Query("q153_user_growth", (s, dir) => {
      val firstSeen = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
      firstSeen.groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users",
          sum(col("new_users")).over(org.apache.spark.sql.expressions
            .Window.orderBy(col("day"))))
        .orderBy(col("day"))
    },
      // per-user min day, day-level rollup, running sum — all integer
      Oracle("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin)),

    // binned mutual information between order value and priority —
    // the joint-association screen next to q116's chi-square and
    // q132's KS: per-cell PMI + MI contribution on an 8-bin grid
    Query("q142_mutual_info", (s, dir) =>
      operators.Relational.mutualInfoBinned(t(s, dir, "orders"),
          "o_totalprice", "o_orderpriority", bins = 8)
        .orderBy(col("bin"), col("category")),
      // identical bin chain to ksBinned's ((v-lo)/((hi-lo)/bins));
      // counts exact; pmi/mi are the same double chain both engines,
      // ln ulp absorbed by the 4-dp round
      Oracle("""WITH ext AS (SELECT min(o_totalprice) AS lo,
        |    max(o_totalprice) AS hi, count(o_totalprice) AS n
        |  FROM orders),
        |b AS (SELECT least(CAST(floor((o_totalprice - lo) /
        |      ((hi - lo) / 8.0)) AS BIGINT), 7) AS bin,
        |    o_orderpriority AS category, n
        |  FROM orders, ext WHERE o_totalprice IS NOT NULL),
        |joint AS (SELECT bin, category, CAST(count(*) AS BIGINT) AS n_xy,
        |    max(n) AS n FROM b GROUP BY 1, 2),
        |mx AS (SELECT bin, sum(n_xy) AS nx FROM joint GROUP BY 1),
        |my AS (SELECT category, sum(n_xy) AS ny FROM joint GROUP BY 1)
        |SELECT bin, category, n_xy,
        |  round(ln((CAST(n_xy AS DOUBLE) * joint.n) /
        |    (CAST(nx AS DOUBLE) * ny)) + 1e-9, 4) + 0.0 AS pmi,
        |  round((n_xy / CAST(joint.n AS DOUBLE)) *
        |    ln((CAST(n_xy AS DOUBLE) * joint.n) /
        |      (CAST(nx AS DOUBLE) * ny)) + 1e-9, 4) + 0.0 AS mi_contrib
        |FROM joint JOIN mx USING (bin) JOIN my USING (category)
        |ORDER BY bin, category""".stripMargin)),

    // the layout path end-to-end, driver-checked: stage lineitem
    // Z-ORDERED by (l_partkey, l_suppkey) — Morton interleave, range-
    // partitioned into 16 files — read it back through a 2-D range
    // predicate (bounds are LITERALS derived from the key maxima, so
    // the filter pushes down to the parquet scan), and certify
    // LOCALITY: matching rows must sit in at most half the files
    // (z-order bounds every file's min/max box in BOTH dimensions; a
    // 1-D or unclustered layout spreads a 2-D box across ~all files).
    // layout_ok = 1 rides every row only when that certificate holds,
    // so the oracle — the same rows off the UNCLUSTERED table plus
    // literal 1 — fails if the roundtrip loses rows OR the layout
    // stops clustering
    Query("q101_zorder_scan", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val dest = Staging.publish(dir, "lineitem", "q101_z") { tmp =>
        sources.Tables.writeZOrdered(li, tmp.getPath, "l_partkey",
          "l_suppkey", numFiles = 16)
      }
      val zt = s.read.parquet(dest.getPath)
      // query-parameter scalars (key maxima), fetched once so the range
      // bounds stay literal and pruning-friendly at any SF
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (pMax, sMax) = (mx.getLong(0), mx.getLong(1))
      val hit = zt.filter(
        col("l_partkey").between(pMax / 4, pMax / 2) &&
          col("l_suppkey").between(sMax / 5, 3 * sMax / 5))
      val filesHit = hit.select(input_file_name()).distinct().count()
      val filesTotal = zt.inputFiles.length.toLong
      hit.withColumn("layout_ok",
          lit(if (filesHit * 2 <= filesTotal) 1L else 0L))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // same rows off the UNCLUSTERED table with the same max-derived
      // bounds (integer floor division both sides); layout_ok = literal 1
      // — the Spark side only emits 1 when the z-layout's locality
      // certificate holds
      Oracle("""WITH b AS (SELECT max(l_partkey) AS pm, max(l_suppkey) AS sm
        |  FROM lineitem)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_partkey, l_suppkey, l_quantity, CAST(1 AS BIGINT) AS layout_ok
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN pm // 4 AND pm // 2
        |  AND l_suppkey BETWEEN sm // 5 AND 3 * sm // 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // 2-D Pareto frontier of the part catalog (minimize price,
    // maximize size): sort + hierarchical prefix max, never
    // all-pairs — the oracle IS the corpus² NOT-EXISTS formulation
    // the operator must reproduce exactly. bucketWidth 1.0, NOT 100:
    // p_retailprice spans [900, 1000), so a width-100 bucketing
    // degenerates to ONE bucket and the within-bucket window sorts
    // the whole distinct-point frame in a single task
    // (WindowScaleAuditSpec's find); width 1 bounds a bucket at
    // ≤ 100 2dp price cells × ≤ 50 sizes, corpus-independent, and the
    // result is bucketing-invariant (prefix max covers earlier
    // buckets, the window covers the rest)
    Query("q106_skyline", (s, dir) =>
      operators.Relational.skyline2D(
        t(s, dir, "part").select(col("p_retailprice").as("price"),
          col("p_size").cast("double").as("psize")),
        "price", "psize", bucketWidth = 1.0)
        .orderBy(col("price"), col("psize")),
      // the naive corpus² dominance test the sort+prefix-max operator
      // must reproduce exactly
      Oracle("""WITH p AS (SELECT DISTINCT p_retailprice AS price,
        |    CAST(p_size AS DOUBLE) AS psize FROM part)
        |SELECT price, psize FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.price <= a.price AND b.psize >= a.psize
        |    AND (b.price < a.price OR b.psize > a.psize))
        |ORDER BY price, psize""".stripMargin)),

    // co-located fact-fact join off BUCKETED storage: both sides
    // staged bucketed+sorted on the join key (8 buckets, one file per
    // bucket, fingerprint-keyed staging), so the join needs no
    // exchange and no sort at read time — BucketingSpec pins that
    // plan; here Catalyst still picks broadcast at test SF (correct:
    // bucketing exists for the scale where broadcast is impossible).
    // The oracle checks the identical join result off the plain tables
    Query("q108_bucket_join", (s, dir) => {
      val li = bucketedStaged(s, dir, "lineitem",
        Seq("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey", buckets = 8, tag = "q108li")
      val ord = bucketedStaged(s, dir, "orders",
        Seq("o_orderkey", "o_orderpriority"),
        "o_orderkey", buckets = 8, tag = "q108ord")
      // money in DECIMAL, not double: at a 30x corpus the group sums
      // reach 1.8e11 and a double sum's order-dependent error (~1e-13
      // relative = ~0.02 absolute) crosses the 2-dp rounding floor, so
      // engine and oracle legitimately disagree in the last cent.
      // Exact decimal sums are engine-order-invariant at ANY scale;
      // the rounded result is cast back to double (exact: cents fit
      // in 2^53 far past 100x)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount")).cast("decimal(8,6)")), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("o_orderpriority"))
    },
      // the same join+aggregate off the PLAIN tables — the bucketed
      // layout must be a pure physical optimization, invisible in rows
      Oracle("""SELECT o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(1 - l_discount AS DECIMAL(8,6))), 2) AS DOUBLE)
        |    AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // chi-square independence audit between event type and hour of
    // day — the drift/association test a feature pipeline runs before
    // trusting a categorical split. One contingency aggregate
    // (|types|×24 cells), margins via windows over THAT tiny frame,
    // closed-form statistic; counts are exact integers so the 2-dp
    // rounded statistic is engine-stable (q05's float-sum precedent)
    Query("q116_chi_square", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("_o"))
      val rowT = Window.partitionBy(col("event_type"))
      val colT = Window.partitionBy(col("hr"))
      val withE = cells
        .withColumn("_rt", sum(col("_o")).over(rowT))
        .withColumn("_ct", sum(col("_o")).over(colT))
        .withColumn("_n", sum(col("_o")).over(
          Window.partitionBy()))
        .withColumn("_e",
          col("_rt") * col("_ct") / col("_n").cast("double"))
      val dev = col("_o") - col("_e")
      withE.agg(
          count(lit(1)).as("n_cells"),
          round(sum(dev * dev / col("_e")), 2).as("chi2"))
        .select(col("n_cells"), col("chi2"))
    },
      // same contingency cells and closed form; squared deviations as
      // explicit products (pow can differ by an ulp across engines),
      // counts exact integers, statistic rounded 2 dp
      Oracle("""WITH c AS (SELECT event_type, extract(hour FROM ts) AS hr,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT o,
        |    sum(o) OVER (PARTITION BY event_type) AS rt,
        |    sum(o) OVER (PARTITION BY hr) AS ct,
        |    sum(o) OVER () AS n
        |  FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  round(sum((o - rt * ct / CAST(n AS DOUBLE))
        |    * (o - rt * ct / CAST(n AS DOUBLE))
        |    / (rt * ct / CAST(n AS DOUBLE))), 2) AS chi2
        |FROM m""".stripMargin)),

    // mergeable count-min sketch, q93's pattern for frequencies: per-
    // type CMS of the user stream (kilobytes per partial buffer under
    // any partitioning), candidates from the k-bounded exact top-3,
    // then the sketch SCORES each candidate — emit the exact count
    // only when the estimate respects the CMS contract (est ≥ exact,
    // est ≤ exact + 2·eps·N), so the oracle certifies sketch accuracy
    // without engine-identical sketch internals
    Query("q113_cms_heavy_users", (s, dir) => {
      val ev = t(s, dir, "events")
      val eps = 0.001
      val sk = ev.groupBy(col("event_type"))
        .agg(functions.CountMinAggregator.cms(eps, 0.99, 42)(
          col("user_id")).as("_sk"),
          count(lit(1)).as("_n"))
      val exact = ev.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("_exact"))
      val cand = operators.Relational.topKPerGroupAgg(exact, 3,
        Seq("event_type"), col("_exact").cast("double"), col("user_id"),
        "_score", "user")
      val est = udf((b: Array[Byte], k: Long) =>
        functions.CountMinAggregator.estimate(b, k))
      cand.join(broadcast(sk), Seq("event_type"))
        .join(exact.withColumnRenamed("user_id", "user"),
          Seq("event_type", "user"))
        .withColumn("_est", est(col("_sk"), col("user")))
        .select(col("event_type"), col("rank"), col("user"),
          when(col("_est") >= col("_exact") &&
            col("_est") <= col("_exact") + lit(2 * eps) * col("_n"),
            col("_exact")).otherwise(lit(-1L)).as("n_events"))
        .orderBy(col("event_type"), col("rank"))
    },
      // the gate emits the exact per-user counts (or -1 on a sketch
      // contract violation), so the oracle is the exact top-3
      Oracle("""WITH c AS (SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id) AS rn
        |  FROM c)
        |SELECT event_type, CAST(rn AS BIGINT) AS rank,
        |  user_id AS user, CAST(n AS BIGINT) AS n_events
        |FROM r WHERE rn <= 3
        |ORDER BY event_type, rank""".stripMargin)),

    // Gram (second-moment) matrix of the embedding corpus in ONE
    // mergeable-aggregator pass — d² doubles per partition buffer, no
    // n·d² explode (the d²=4096× row blow-up the declarative form
    // pays); upper triangle out as (i, j, g) rows. The PCA/whitening
    // prep of an embedding pipeline
    Query("q109_gram_matrix", (s, dir) => {
      val d = 64
      t(s, dir, "embeddings")
        .agg(functions.GramAggregator.gram(d)(
          col("embedding").cast("array<double>")).as("_g"))
        .select(posexplode(col("_g")).as(Seq("k", "v")))
        .select((col("k") / d).cast("long").as("i"),
          pmod(col("k"), lit(d)).cast("long").as("j"), col("v"))
        .filter(col("i") <= col("j"))
        .select(col("i"), col("j"),
          round(col("v") + lit(1e-9), 4).as("g"))
        .orderBy(col("i"), col("j"))
    },
      // the declarative n·d² formulation the aggregator replaces — same
      // double-precision products, 0-based indices, 4-dp round
      Oracle("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |idx AS (SELECT i, j FROM generate_series(1, 64) g1(i),
        |  generate_series(1, 64) g2(j) WHERE i <= j)
        |SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
        |  round(sum(v[i] * v[j]) + 1e-9, 4) AS g
        |FROM e, idx GROUP BY 1, 2 ORDER BY i, j""".stripMargin)),

    // CDC apply-changes snapshot: latest event per user wins,
    // 'purchase' acting as the delete tombstone — one key shuffle
    // (dedupFirst) + a map-side tombstone filter
    Query("q110_cdc_snapshot", (s, dir) =>
      operators.Relational.cdcSnapshot(t(s, dir, "events"),
          Seq("user_id"), Seq(col("ts").desc, col("event_id").desc),
          col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .orderBy(col("user_id")),
      // same latest-wins row_number + tombstone filter
      Oracle("""WITH r AS (SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value
        |FROM r WHERE rn = 1 AND event_type <> 'purchase'
        |ORDER BY user_id""".stripMargin)),

    // robust z-score outlier counts per event type: median/MAD from
    // EXACT interpolated percentiles (the engine-exact arithmetic q45
    // pins — unlike mean/stddev, no order-dependent float summation
    // can flip a boundary row between engines; the 100 TB swap is
    // approx_percentile) → broadcast stats back, one map-side count
    Query("q107_anomaly_robust", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("_med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("_dev", abs(col("value") - col("_med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(percentile(col("_dev"), lit(0.5)).as("_mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_dev") > lit(3.0) * col("_mad"), 1L)
            .otherwise(0L)).as("n_anomalies"))
        .orderBy(col("event_type"))
    },
      // same exact interpolated median/MAD (quantile_cont ≡ Spark
      // percentile, the q45-pinned pair)
      Oracle("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5)
        |    AS med FROM events GROUP BY event_type),
        |dev AS (SELECT e.event_type, abs(e.value - m.med) AS dev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // incremental distinct users via MERGEABLE HLL sketches: per-day
    // partial sketches (what a pipeline would persist) → hll_union_agg
    // across days → estimate. The q48-style tolerance gate emits the
    // EXACT count only when the merged estimate lands within 2%, so
    // the oracle checks sketch accuracy without engine-identical HLLs
    Query("q93_hll_incremental", (s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          to_date(col("ts")).as("_day"))
        .agg(hll_sketch_agg(col("user_id")).as("_sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("_sk"))).as("_approx"))
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("_exact"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"),
          when(abs(col("_approx") - col("_exact")) <=
            col("_exact") * 0.02, col("_exact")).otherwise(lit(-1L))
            .as("n_users"))
        .orderBy(col("event_type"))
    },
      // the gate emits the exact distinct count (or -1 on a sketch miss),
      // so the oracle is the exact formulation
      Oracle("""SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // per-group closed-form OLS (value ~ hour-of-day) via the moment
    // aggregates — regression at 100 TB is one map-side-combined pass,
    // no solver; slope/intercept from distributed Σx/Σy/Σxy/Σx²
    Query("q92_group_regression", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(regr_slope(col("value"), hour(col("ts"))) + lit(1e-9), 4)
            .as("slope"),
          round(regr_intercept(col("value"), hour(col("ts"))) + lit(1e-9), 4)
            .as("intercept"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      // same moment-based closed form; extract(hour) = Spark's hour()
      Oracle("""SELECT event_type,
        |  round(regr_slope(value, extract(hour FROM ts)) + 1e-9, 4)
        |    AS slope,
        |  round(regr_intercept(value, extract(hour FROM ts)) + 1e-9, 4)
        |    AS intercept,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
