package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry._

/** The events family: sessionization, funnels, retention and point-in-time
  * features over the event log, through [[graft.ext.EventOps]].
  */
object EventQueries {

  val all: Seq[Query] = Seq(
    // per-user sequence perplexity under the corpus transition model —
    // the behavioral-anomaly ranking (low = scripted, high = erratic)
    Query("q159_sequence_surprise", (s, dir) =>
      ext.EventOps.sequenceSurprise(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("user_id")),
      // corpus transition model p(b|a) = n_ab/n_a (exact ratios) scored
      // back onto each user's own transitions; avg order absorbed by
      // the 4-dp round, +0.0 for the all-certain-user −0.0
      Oracle("""WITH g AS (SELECT user_id, event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events),
        |tr AS (SELECT user_id, prev_type, next_type FROM g
        |  WHERE prev_type IS NOT NULL),
        |b AS (SELECT prev_type, next_type,
        |    CAST(count(*) AS BIGINT) AS nab
        |  FROM tr GROUP BY 1, 2),
        |m AS (SELECT prev_type, sum(nab) AS na FROM b GROUP BY 1)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_transitions,
        |  round(avg(-ln(CAST(nab AS DOUBLE) / na)) + 1e-9, 4) + 0.0
        |    AS avg_surprise
        |FROM tr JOIN b USING (prev_type, next_type)
        |  JOIN m USING (prev_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DAU / trailing-7-day WAU / stickiness panel — exact sliding
    // distinct via the user-day collapse + windowDays-way date fan-out
    // (never a day×window self-join over raw events); HLL merge is the
    // documented estimate swap when user-day itself is too hot
    Query("q160_rolling_actives", (s, dir) =>
      ext.EventOps.rollingDistinctActives(t(s, dir, "events"),
          "user_id", "ts", windowDays = 7)
        .orderBy(col("day")),
      // window anchors are ACTIVE days only (inner join with dau) —
      // both engines build the calendar from the data
      Oracle("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |wau AS (SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT)
        |    AS wau
        |  FROM (SELECT DISTINCT day FROM ud) d
        |  JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1)
        |SELECT day, dau, wau,
        |  round(CAST(dau AS DOUBLE) / wau + 1e-9, 4) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin)),

    // Kaplan-Meier signup→purchase conversion curve with right
    // censoring at the study end (max ts) — the time-to-event report
    // behind churn dashboards; corpus-sized work is per-user
    // aggregates, the curve math runs on the duration-distinct frame
    Query("q128_survival", (s, dir) => {
      val ev = t(s, dir, "events")
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("_t0"))
      val endTs = ev.agg(max(col("ts")).as("_end"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .join(signup, Seq("user_id"))
        .filter(col("ts") >= col("_t0"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("_te"))
      val durations = signup.join(purchase, Seq("user_id"), "left")
        .join(broadcast(endTs))
        .select(col("user_id"),
          floor((unix_micros(coalesce(col("_te"), col("_end"))) -
            unix_micros(col("_t0"))) / lit(86400000000.0))
            .cast("long").as("duration_days"),
          col("_te").isNotNull.cast("long").as("event"))
      ext.EventOps.kaplanMeier(durations, "duration_days", "event")
        .orderBy(col("duration_days"))
    },
      // same micros currency as q37/q39 (CAST AS TIMESTAMP + epoch_us);
      // n from the descending cumulative count, S via exp of the
      // ASCENDING-ordered ln sum — both windows evaluate in the same
      // sequence in both engines; ln(1-0)=0 rows contribute exactly 0
      Oracle("""WITH s0 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |e AS (SELECT max(CAST(ts AS TIMESTAMP)) AS tend FROM events),
        |p AS (SELECT ev.user_id, min(CAST(ev.ts AS TIMESTAMP)) AS te
        |  FROM events ev JOIN s0 ON ev.user_id = s0.user_id
        |  WHERE ev.event_type = 'purchase'
        |    AND CAST(ev.ts AS TIMESTAMP) >= s0.t0
        |  GROUP BY ev.user_id),
        |d AS (SELECT s0.user_id,
        |    CAST(floor((epoch_us(COALESCE(p.te, e.tend)) - epoch_us(s0.t0))
        |      / 86400000000.0) AS BIGINT) AS duration_days,
        |    CAST(p.te IS NOT NULL AS BIGINT) AS event
        |  FROM s0 LEFT JOIN p ON s0.user_id = p.user_id CROSS JOIN e),
        |per AS (SELECT duration_days, count(*) AS m,
        |    CAST(sum(event) AS BIGINT) AS dd
        |  FROM d GROUP BY duration_days),
        |c1 AS (SELECT duration_days, m, dd,
        |    CAST(sum(m) OVER (ORDER BY duration_days
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS n_risk
        |  FROM per),
        |c2 AS (SELECT duration_days, n_risk, dd,
        |    sum(CASE WHEN dd < n_risk
        |        THEN ln(1.0 - dd / CAST(n_risk AS DOUBLE))
        |        ELSE 0.0 END)
        |      OVER (ORDER BY duration_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
        |  FROM c1)
        |SELECT duration_days, n_risk, dd AS n_event,
        |  CASE WHEN dd = n_risk THEN 0.0
        |       ELSE round(exp(lnsum) + 1e-9, 4) END AS survival
        |FROM c2 WHERE dd > 0 ORDER BY duration_days""".stripMargin)),

    // deadline-constrained funnel: view → click within 1h → purchase
    // within 24h — per-step user-keyed min-aggregates, no windows;
    // the unbounded q88 funnel overcounts month-later conversions
    Query("q170_timed_funnel", (s, dir) =>
      ext.EventOps.funnelTimed(t(s, dir, "events"), "user_id",
          "event_type", "ts",
          Seq(("view", 0L), ("click", 3600L * 1000000),
            ("purchase", 86400L * 1000000)))
        .orderBy(col("step_idx")),
      // the survivor chain unrolled: each step joins the previous step's
      // per-user earliest completion and applies the (t, t+delay] gate —
      // deterministic anchors, integer micros, exact counts
      Oracle("""WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
        |    AND epoch_us(e.ts) <= s1.t + 3600000000
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
        |    AND epoch_us(e.ts) <= s2.t + 86400000000
        |  GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |    CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |  UNION ALL SELECT 2, 'click',
        |    CAST((SELECT count(*) FROM s2) AS BIGINT)
        |  UNION ALL SELECT 3, 'purchase',
        |    CAST((SELECT count(*) FROM s3) AS BIGINT))
        |ORDER BY step_idx""".stripMargin)),

    // time-weighted average event value per user (TWAP): each value
    // holds until the user's next event — burst-robust, one lead
    // window on the high-cardinality user + a user-keyed aggregate
    Query("q133_twap", (s, dir) =>
      ext.EventOps.timeWeightedAvg(t(s, dir, "events"), "user_id", "ts",
          "value", orderCols = Seq(col("event_id")))
        .orderBy(col("user_id")),
      // same lead window (ts, event_id tie-break) and micros currency;
      // per-user interval sums round at 4 dp (aggregation order)
      Oracle("""WITH x AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |    value FROM events),
        |d AS (SELECT user_id, value,
        |    CAST(epoch_us(lead(uts) OVER (PARTITION BY user_id
        |        ORDER BY uts, event_id)) - epoch_us(uts) AS DOUBLE) AS dur
        |  FROM x),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    sum(value * dur) AS num, sum(dur) AS den
        |  FROM d GROUP BY user_id)
        |SELECT user_id, n_events, round(num / den + 1e-9, 4) AS twap
        |FROM a WHERE den > 0 ORDER BY user_id""".stripMargin)),

    // RFM customer segmentation — recency/frequency/monetary quartile
    // codes over the orders stream; every dimension an exact integer,
    // cutoffs exactly-representable interpolations (see scaladoc)
    Query("q139_rfm_segments", (s, dir) =>
      ext.EventOps.rfmSegments(t(s, dir, "orders"), "o_custkey",
          "o_orderdate", "o_totalprice", anchor = "1999-01-01")
        .orderBy(col("rfm_code")),
      // per-customer integers (days/count/cents), quantile_cont cutoffs
      // (exactly-representable — see rfmSegments scaladoc), strict >
      // comparisons; recency quartile reversed (recent = better)
      Oracle("""WITH per AS (SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      DATE '1999-01-01') AS rec,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (SELECT
        |    quantile_cont(rec, [0.25, 0.5, 0.75]) AS rc,
        |    quantile_cont(freq, [0.25, 0.5, 0.75]) AS fc,
        |    quantile_cont(cents, [0.25, 0.5, 0.75]) AS mc
        |  FROM per),
        |seg AS (SELECT
        |    (5 - (1 + CASE WHEN rec > rc[1] THEN 1 ELSE 0 END
        |            + CASE WHEN rec > rc[2] THEN 1 ELSE 0 END
        |            + CASE WHEN rec > rc[3] THEN 1 ELSE 0 END)) * 100
        |    + (1 + CASE WHEN freq > fc[1] THEN 1 ELSE 0 END
        |         + CASE WHEN freq > fc[2] THEN 1 ELSE 0 END
        |         + CASE WHEN freq > fc[3] THEN 1 ELSE 0 END) * 10
        |    + (1 + CASE WHEN cents > mc[1] THEN 1 ELSE 0 END
        |         + CASE WHEN cents > mc[2] THEN 1 ELSE 0 END
        |         + CASE WHEN cents > mc[3] THEN 1 ELSE 0 END)
        |      AS rfm_code, rec, cents
        |  FROM per, cuts)
        |SELECT CAST(rfm_code AS BIGINT) AS rfm_code,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS monetary_cents,
        |  round(avg(rec) + 1e-9, 4) AS avg_recency_days
        |FROM seg GROUP BY 1 ORDER BY rfm_code""".stripMargin)),

    // PMI surprise of consecutive event-type transitions — whether
    // a→b happens MORE than the traffic mix predicts (q102's markov
    // gives the rate; this gives the anomaly signal)
    Query("q155_transition_surprise", (s, dir) =>
      ext.EventOps.transitionSurprise(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("prev_type"), col("next_type")),
      // same lag-bigram frame as q102's oracle; pmi on exact integer
      // ratios, ln ulp absorbed by the 4-dp round, +0.0 for −0.0
      Oracle("""WITH g AS (SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events),
        |b AS (SELECT prev_type, next_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |mp AS (SELECT prev_type, sum(n) AS np FROM b GROUP BY 1),
        |mn AS (SELECT next_type, sum(n) AS nn FROM b GROUP BY 1),
        |t AS (SELECT sum(n) AS nt FROM b)
        |SELECT prev_type, next_type, n,
        |  round(ln((CAST(n AS DOUBLE) * nt) /
        |    (CAST(np AS DOUBLE) * nn)) + 1e-9, 4) + 0.0 AS pmi
        |FROM b JOIN mp USING (prev_type) JOIN mn USING (next_type)
        |  CROSS JOIN t
        |ORDER BY prev_type, next_type""".stripMargin)),

    // top-20 three-step user journeys — markov's (q102) order-2
    // sibling: two leads over the user timeline, global top-k
    Query("q143_top_trigrams", (s, dir) =>
      ext.EventOps.topSequencePatterns(t(s, dir, "events"), "user_id",
        "ts", "event_type", k = 20, orderCols = Seq(col("event_id"))),
      // two leads over (user, ts, event_id); trailing nulls dropped;
      // exact counts, ties by the trigram strings
      Oracle("""WITH g AS (SELECT event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
        |FROM g WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin)),

    // first-order Markov transition matrix over per-user event
    // sequences: ONE user-keyed lag window → |types|² aggregate; the
    // normalizing window runs over that tiny frame only. Probabilities
    // are exact integer ratios, so the 4-dp round is engine-stable
    Query("q102_markov_transitions", (s, dir) =>
      ext.EventOps.markovTransitions(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("prev_type"), col("next_type")),
      // same lag pairing (ts, event_id tie-break) and integer-ratio
      // probabilities
      Oracle("""WITH t AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev AS prev_type, event_type AS next_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY prev)
        |    AS DOUBLE) + 1e-9, 4) AS p
        |FROM t WHERE prev IS NOT NULL
        |GROUP BY prev, event_type
        |ORDER BY prev_type, next_type""".stripMargin)),

    // gap-based batch sessionization (30-min gap), one row per
    // session — the batch twin of q37's streaming session window,
    // both windows partitioned on the high-cardinality user id
    Query("q103_sessionize", (s, dir) =>
      ext.EventOps.sessionize(t(s, dir, "events"), "user_id", "ts",
          "event_id", gapMinutes = 30)
        .orderBy(col("user_id"), col("session_seq")),
      // same two-window gaps-and-islands over integer micros, 30-min gap
      Oracle("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events),
        |f AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
        |FROM g GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin)),

    // coverage union: 5-minute activity intervals per user, merged
    // wherever they overlap or touch (gaps-and-islands running max —
    // integer micros end-to-end). event_id makes the window order
    // TOTAL: at the 10× duplicated-ts corpus, DuckDB's multi-threaded
    // window path was nondeterministic on the tied (s, e) sort
    // (99236/99233/99237 across runs of the same SQL) while Spark's
    // count is the tie-forced 99233 — the unique tie-break keeps the
    // oracle replayable at any scale (round-11 10× window sweep find)
    Query("q104_merge_intervals", (s, dir) => {
      val iv = t(s, dir, "events").select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + lit(300000000L)).as("end_us"))
      ext.EventOps.mergeIntervals(iv, "user_id", "start_us", "end_us",
          tieCols = Seq("event_id"))
        .orderBy(col("user_id"), col("island_seq"))
    },
      // same strictly-preceding running max; touching intervals merge
      // (s > pm starts an island, s = pm does not)
      // event_id tie-break on both OVER orders: total order end-to-end
      // (DuckDB's parallel window was run-to-run unstable on the tied
      // 10× corpus without it — see the q104 queries() note)
      Oracle("""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS e FROM events),
        |m AS (SELECT user_id, s, e, event_id,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |f AS (SELECT user_id, s, e, event_id,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ns
        |  FROM m),
        |g AS (SELECT user_id, s, e,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f)
        |SELECT user_id, CAST(island AS BIGINT) AS island_seq,
        |  CAST(min(s) AS BIGINT) AS start_us,
        |  CAST(max(e) AS BIGINT) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_merged
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, island_seq""".stripMargin)),

    // SCD-2 validity ranges from the append-only event log: collapse
    // consecutive same-type runs per user, close each run with the
    // next run's start (open runs get -1, keeping the column
    // hash-stable)
    Query("q105_status_runs", (s, dir) =>
      ext.EventOps.collapseRuns(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("user_id"), col("run_seq")),
      // same run numbering; open runs close with -1
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS us FROM events),
        |c AS (SELECT user_id, event_type, us, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |      END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |r AS (SELECT user_id, event_type, us,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_seq
        |  FROM c),
        |g AS (SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq,
        |    min(event_type) AS status, min(us) AS vf,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM r GROUP BY user_id, run_seq)
        |SELECT user_id, run_seq, status,
        |  CAST(vf AS BIGINT) AS valid_from_us,
        |  CAST(coalesce(lead(vf) OVER (PARTITION BY user_id
        |    ORDER BY run_seq), -1) AS BIGINT) AS valid_to_us, n_events
        |FROM g ORDER BY user_id, run_seq""".stripMargin)),

    // point-in-time feature lookup — the feature-store correctness
    // pattern: each purchase joins the SCD-2 status run (q105's
    // operator) valid AT ITS OWN event time, never a later one (no
    // feature leakage). Composition of collapseRuns + the as-of join;
    // one user-keyed shuffle each, no range-candidate explosion
    Query("q115_pit_status", (s, dir) => {
      val ev = t(s, dir, "events")
      val runs = ext.EventOps.collapseRuns(ev, "user_id", "event_type",
        "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("_pus"))
      operators.Relational.asofJoin(purchases, runs, Seq("user_id"),
          "_pus", "valid_from_us",
          Seq(("run_seq", "run_seq"), ("status", "status_at")))
        .select(col("user_id"), col("event_id"), col("run_seq"),
          col("status_at"))
        .orderBy(col("user_id"), col("event_id"))
    },
      // DuckDB's native ASOF JOIN against the same run table (q105's
      // CTE chain); both sides inclusive at equal timestamps
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS us FROM events),
        |c AS (SELECT user_id, event_type, us, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |      END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |r AS (SELECT user_id, event_type, us,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_seq
        |  FROM c),
        |g AS (SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq,
        |    min(event_type) AS status, min(us) AS vf
        |  FROM r GROUP BY user_id, run_seq),
        |p AS (SELECT user_id, event_id, us FROM e
        |      WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, g.run_seq, g.status AS status_at
        |FROM p ASOF JOIN g
        |  ON p.user_id = g.user_id AND p.us >= g.vf
        |ORDER BY p.user_id, p.event_id""".stripMargin)),

    // recency-weighted per-user EWMA over the trailing 16 events:
    // decay 0.5 makes every weight a power of two, so the fixed-order
    // HOF fold is bit-identical across engines and a 16-term float
    // recurrence can be hash-checked
    Query("q114_ewma", (s, dir) =>
      ext.EventOps.ewma(t(s, dir, "events"), "user_id", "ts",
          "event_id", "value", frameRows = 16, decay = 0.5)
        .select(col("user_id"), col("event_id"), col("ewma"))
        .orderBy(col("user_id"), col("event_id")),
      // same frame list and the same fixed-order weighted fold; decay
      // 0.5 keeps every product an exact IEEE scaling in both engines
      Oracle("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us
        |  FROM events WHERE value IS NOT NULL),
        |f AS (SELECT user_id, event_id,
        |    list(value) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
        |  FROM e)
        |SELECT user_id, event_id,
        |  round(
        |    list_sum(list_transform(generate_series(1, len(vals)),
        |      i -> vals[i] * pow(0.5, len(vals) - i)))
        |    / list_sum(list_transform(generate_series(1, len(vals)),
        |      i -> pow(0.5, len(vals) - i))) + 1e-9, 4) AS ewma
        |FROM f ORDER BY user_id, event_id""".stripMargin)),

    // 24 hourly slots per user on day one, forward-filled from the
    // irregular event stream — grid generated in-plan, one user-keyed
    // window does the fill
    Query("q98_resample_ffill", (s, dir) =>
      ext.EventOps.resampleHourlyFfill(t(s, dir, "events"), "user_id",
          "ts", "value", startTs = "2024-01-01 00:00:00", slots = 24)
        .orderBy(col("user_id"), col("slot")),
      // same union + ordered rows-frame last_value(IGNORE NULLS); events
      // order before slots at equal timestamps (pri 0 < 1)
      Oracle("""WITH grid AS (SELECT user_id, h AS slot,
        |    epoch_us(TIMESTAMP '2024-01-01 00:00:00') + h * 3600000000
        |      AS us,
        |    CAST(NULL AS DOUBLE) AS v, 1 AS pri
        |  FROM (SELECT DISTINCT user_id FROM events),
        |    generate_series(0, 23) AS g(h)),
        |obs AS (SELECT user_id, NULL AS slot, epoch_us(ts) AS us,
        |    CAST(value AS DOUBLE) AS v, 0 AS pri FROM events),
        |u AS (SELECT * FROM grid UNION ALL SELECT * FROM obs),
        |f AS (SELECT user_id, slot,
        |    round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY us, pri
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + 1e-9, 4) AS value_ffill
        |  FROM u)
        |SELECT user_id, CAST(slot AS BIGINT) AS slot, value_ffill
        |FROM f WHERE slot IS NOT NULL
        |ORDER BY user_id, slot""".stripMargin)),

    // trailing-1-hour rolling average per user: numeric range frame
    // over epoch micros, window partitioned on the high-card user id
    Query("q89_rolling_window", (s, dir) =>
      ext.EventOps.rollingUserAvg(t(s, dir, "events"), "user_id", "ts",
          "value", windowMicros = 3600L * 1000000L)
        .select(col("user_id"), col("event_id"), col("roll_avg"))
        .orderBy(col("user_id"), col("event_id")),
      // same numeric micros range frame; DuckDB's RANGE frame over
      // epoch_us(ts) includes the identical row set, avg rounded 4dp
      Oracle("""SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |    + 1e-9, 4) AS roll_avg
        |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // weekly cohort retention triangle: one (user, week) distinct, a
    // per-user min, a user-keyed join, tiny final aggregate
    Query("q90_cohort_retention", (s, dir) =>
      ext.EventOps.cohortRetention(t(s, dir, "events"), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset")),
      // same Monday-based date_trunc('week') and day-diff/7 offset
      Oracle("""WITH weeks AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |cohorts AS (SELECT user_id, min(w) AS cohort_week
        |  FROM weeks GROUP BY user_id)
        |SELECT cohort_week,
        |  CAST(datediff('day', cohort_week, w) / 7 AS BIGINT)
        |    AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM weeks JOIN cohorts USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // ordered conversion funnel (view → click → purchase, first-touch
    // anchors): per-step user-keyed aggregates, no windows or sorts
    Query("q88_event_funnel", (s, dir) =>
      ext.EventOps.funnel(t(s, dir, "events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"))
        .orderBy(col("step_idx")),
      // same first-touch anchors and strict-after rule; ts precision is
      // identical on both sides (the dataset carries no sub-microsecond
      // nanos, so the micros-normalized Spark load compares like the
      // nanos-native DuckDB read)
      Oracle("""WITH u1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN u1 ON e.user_id = u1.user_id AND e.ts > u1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN u2 ON e.user_id = u2.user_id AND e.ts > u2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |    CAST((SELECT count(*) FROM u1) AS BIGINT) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM u2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u3))
        |ORDER BY step_idx""".stripMargin))
  )
}
