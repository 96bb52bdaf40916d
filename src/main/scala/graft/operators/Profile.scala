package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** The EDA/profiling surface of the reference
  * (reference `exploratory-data-analysis.py:144-195`), as single-pass
  * distributed aggregates — each profile is ONE wide hash-aggregate job,
  * not a per-column scan.
  */
object Profile {

  /** Per-column "missingness" count: rows matching the reference's 6-way
    * disjunction — contains 'None' | contains 'NULL' | == '' | isNull |
    * contains 'Unknown' | isnan (reference
    * `exploratory-data-analysis.py:147-154`).
    *
    * The reference leans on implicit casts (isnan on strings); we cast
    * explicitly via try_cast so the profile stays valid under ANSI mode
    * (SURVEY.md §1.4). One row out, one column per input column —
    * a single aggregate regardless of table width.
    */
  def nullProfile(df: DataFrame): DataFrame = {
    val aggs = df.columns.toSeq.map { c =>
      val s = col(c).cast("string")
      val pred = s.contains("None") || s.contains("NULL") || (s === "") ||
        col(c).isNull || s.contains("Unknown") || isnan(s.try_cast("double"))
      count(when(pred, lit(1))).as(c)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Missing-percentage table derived from [[nullProfile]] (reference
    * `exploratory-data-analysis.py:157-165`): one row per column with
    * (column, null_count, pct). Stays distributed until the final
    * (#columns)-row result.
    */
  def missingPct(df: DataFrame): DataFrame = {
    val total = df.count()
    val profile = nullProfile(df)
    val stacked = profile.select(
      explode(map(df.columns.toSeq.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("column_name", "null_count")))
    stacked.withColumn(
      "pct", round(col("null_count") * lit(100.0) / lit(total.toDouble), 4))
  }

  /** Exact summary statistics per numeric column: count / mean / stddev /
    * min / max. The reference uses `df.summary()` (reference
    * `exploratory-data-analysis.py:193`), which mixes in approximate
    * percentiles; this exact variant is oracle-checkable. One wide
    * aggregate, then a narrow unpivot.
    */
  def summaryStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__count"),
        avg(col(c)).as(s"${c}__mean"),
        stddev_samp(col(c)).as(s"${c}__stddev"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.flatMap { c =>
      Seq(lit(c),
        struct(col(s"${c}__count").cast("long").as("n"),
          round(col(s"${c}__mean"), 4).as("mean"),
          round(col(s"${c}__stddev"), 4).as("stddev"),
          col(s"${c}__min").as("min"), col(s"${c}__max").as("max")))
    }
    wide.select(explode(map(entries: _*)).as(Seq("column_name", "stats")))
      .select(col("column_name"), col("stats.n").as("n"),
        col("stats.mean").as("mean"), col("stats.stddev").as("stddev"),
        col("stats.min").as("min"), col("stats.max").as("max"))
  }

  /** `df.summary()` parity in ONE call and ONE job: count / mean / stddev
    * / min / p25 / p50 / p75 / max per column, like the reference's
    * `df.summary()` (reference `exploratory-data-analysis.py:193`) — but
    * with EXACT interpolated percentiles instead of approximate ones, so
    * the whole frame is oracle-checkable. Still a single wide aggregate:
    * the three percentiles come from one `percentile(col, array(...))`
    * sort per column, unpacked by position.
    *
    * Precondition (all `summaryAll*` forms): `df` should be a
    * scan-stage input — a table scan plus narrow projections/filters,
    * or a cached frame. The aggregate is split into one subtree per
    * column (per exact AND sketch column for [[summaryAllGated]]), and
    * each subtree re-executes `df`'s plan: over a scan that is one
    * column-pruned read per subtree, but over a computed input (a join
    * or aggregate upstream) the whole upstream runs up to 2·|cols|
    * times. Cache such an input before profiling it.
    */
  def summaryAll(df: DataFrame, cols: Seq[String]): DataFrame =
    summaryAllImpl(df, cols, exact = true)

  /** 100 TB variant of [[summaryAll]]: `approx_percentile` (t-digest-style
    * sketch, mergeable map-side, no per-column sort) replaces the exact
    * interpolated percentiles — the same accuracy trade `df.summary()`
    * itself makes. Everything else (count/mean/stddev/min/max) is exact
    * either way.
    */
  def summaryAllApprox(df: DataFrame, cols: Seq[String],
                       accuracy: Int = 10000): DataFrame =
    summaryAllImpl(df, cols, exact = false, accuracy)

  /** Oracle-checkable form of the sketch profile (q48/q51 tolerance
    * gating): ONE wide aggregate computes both the exact interpolated
    * percentiles and the `approx_percentile` sketch, and each percentile
    * cell emits the EXACT value only when the sketch passes a
    * RANK-tolerance certificate (else −1, which an exact oracle fails).
    * A hash-match against the exact-percentile oracle therefore
    * certifies the 100 TB sketch path's accuracy, not just the exact
    * path — the same trick that makes q48's HLL and q51's t-digest
    * driver-checkable.
    *
    * The certificate matches the sketch's actual CONTRACT:
    * `approx_percentile(acc)` guarantees rank error ≤ n/acc, so the
    * gate accepts a sketch value v at percentile p iff
    * `Q(p−ε) ≤ v ≤ Q(p+ε)` with ε = 1/acc — the rank-window test
    * expressed through the exact quantile function, which the wide
    * aggregate is computing anyway (3 extra points per cell, same
    * single per-column sort, no second scan). The previous VALUE
    * tolerance (|v−exact| ≤ 1%·exact) failed closed on dense integer
    * steps — at sf0.1 the exact p50 of uniform 1..50 sits ON the 25→26
    * boundary, where a legal 60-rank sketch error produces a 1.0 value
    * jump (4% of 25) and the gate emitted its sentinel on a correct
    * sketch (round-8 verdict item 4). The rank window accepts exactly
    * the values the sketch is licensed to return (for the boundary
    * case: 25 or 26, nothing else) and still fails closed — a
    * degenerate distribution collapses Q(p±ε) onto the exact value, so
    * any out-of-contract sketch drift trips the sentinel.
    */
  def summaryAllGated(df: DataFrame, cols: Seq[String],
                      accuracy: Int = 10000): DataFrame = {
    val eps = 1.0 / accuracy
    // 9 exact points per column — (p−ε, p, p+ε) per percentile — in ONE
    // percentile() call: the sort dominates, extra points are free
    val pts = Seq(0.25, 0.5, 0.75).flatMap(p =>
      Seq(math.max(0.0, p - eps), p, math.min(1.0, p + eps)))
    // SPLIT, PER-COLUMN aggregates (r18; r17 ran ONE wide un-fanned
    // aggregate):
    //  - the sketch subtrees keep the input partitioning as given — the
    //    rank certificate gates approx_percentile at ±1/accuracy, the
    //    error of a SINGLE QuantileSummaries stream, and fanning would
    //    make it MERGE partial summaries whose compounded rank error can
    //    exceed that window (gate fails closed, sentinel −1; observed at
    //    sf0.01 p50 under a forced fan-out). One subtree PER COLUMN
    //    keeps each column's stream single — the per-column insert order
    //    and therefore the sketch values are identical to the one-wide-
    //    aggregate form — while the |cols| single-task sketch jobs run
    //    CONCURRENTLY (broadcast subtrees execute on the exchange thread
    //    pool) instead of serially inside one task.
    //  - the exact subtrees ride fanOutForMapWork (their percentile
    //    value→count map merge is order-exact), and per-column splitting
    //    also parallelizes the FINAL merge+sort, which a single wide
    //    aggregate funnels into one reducer task for all columns. The
    //    exact subtrees do NOT share an exchange: column pruning narrows
    //    each one to its own column, so every subtree (exact and sketch)
    //    plans its own scan of `df` (plans/r18/q62_after.txt: one
    //    Scan parquet per subtree, no ReusedExchange).
    // Every part is a one-row frame; broadcast cross joins reassemble
    // the wide row the gating expressions below read — values, and
    // therefore every gated cell, are IDENTICAL to the one-aggregate
    // form.
    val sel = df.select(cols.map(col): _*)
    val fanned = graft.sources.Tables.fanOutForMapWork(sel)
    def exactWide(c: String): DataFrame = fanned.agg(
      count(col(c)).as(s"${c}__count"),
      avg(col(c)).as(s"${c}__mean"),
      stddev_samp(col(c)).as(s"${c}__stddev"),
      min(col(c)).cast("double").as(s"${c}__min"),
      percentile(col(c), array(pts.map(lit): _*)).as(s"${c}__pct"),
      max(col(c)).cast("double").as(s"${c}__max"))
    def sketchWide(c: String): DataFrame = sel.agg(
      approx_percentile(col(c), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(accuracy)).cast("array<double>").as(s"${c}__apct"))
    val wide = (cols.map(exactWide) ++ cols.map(sketchWide))
      .reduce((a, b) => a.crossJoin(broadcast(b)))
    // rank certificate: v within [Q(p−ε), Q(p+ε)] (tiny absolute slack
    // for float-interpolation noise at the window edges)
    def gated(c: String, i: Int): Column = {
      val lo = element_at(col(s"${c}__pct"), 3 * i - 2)
      val exact = element_at(col(s"${c}__pct"), 3 * i - 1)
      val hi = element_at(col(s"${c}__pct"), 3 * i)
      val approx = element_at(col(s"${c}__apct"), i)
      round(when(approx >= lo - lit(1e-9) && approx <= hi + lit(1e-9), exact)
        .otherwise(lit(-1.0)), 4)
    }
    val entries = cols.flatMap { c =>
      Seq(lit(c),
        struct(col(s"${c}__count").cast("long").as("n"),
          round(col(s"${c}__mean"), 4).as("mean"),
          round(col(s"${c}__stddev"), 4).as("stddev"),
          col(s"${c}__min").as("min"),
          gated(c, 1).as("p25"), gated(c, 2).as("p50"), gated(c, 3).as("p75"),
          col(s"${c}__max").as("max")))
    }
    wide.select(explode(map(entries: _*)).as(Seq("column_name", "stats")))
      .select(col("column_name"), col("stats.n").as("n"),
        col("stats.mean").as("mean"), col("stats.stddev").as("stddev"),
        col("stats.min").as("min"), col("stats.p25").as("p25"),
        col("stats.p50").as("p50"), col("stats.p75").as("p75"),
        col("stats.max").as("max"))
  }

  private def summaryAllImpl(df: DataFrame, cols: Seq[String],
                             exact: Boolean, accuracy: Int = 10000): DataFrame = {
    // PER-COLUMN subtrees reassembled by broadcast cross joins (r18; see
    // summaryAllGated's rationale): a single wide aggregate funnels
    // every column's percentile merge+sort into ONE final reducer task —
    // splitting per column runs those finals in parallel. EXACT subtrees
    // ride fanOutForMapWork (order-exact value→count map merge; ADVICE
    // r17 keeps the fan off the approx path), each over its own
    // column-pruned scan (no shared exchange); APPROX subtrees keep the
    // input partitioning as given, one per column, so each sketch stream
    // stays single and its values are bit-identical to the one-aggregate
    // form.
    val sel = df.select(cols.map(col): _*)
    val base = if (exact) graft.sources.Tables.fanOutForMapWork(sel) else sel
    def wideFor(c: String): DataFrame = {
      val pct =
        if (exact) percentile(col(c), array(lit(0.25), lit(0.5), lit(0.75)))
        else approx_percentile(col(c),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy))
          .cast("array<double>")
      base.agg(
        count(col(c)).as(s"${c}__count"),
        avg(col(c)).as(s"${c}__mean"),
        stddev_samp(col(c)).as(s"${c}__stddev"),
        min(col(c)).cast("double").as(s"${c}__min"),
        pct.as(s"${c}__pct"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = cols.map(wideFor).reduce((a, b) => a.crossJoin(broadcast(b)))
    val entries = cols.flatMap { c =>
      Seq(lit(c),
        struct(col(s"${c}__count").cast("long").as("n"),
          round(col(s"${c}__mean"), 4).as("mean"),
          round(col(s"${c}__stddev"), 4).as("stddev"),
          col(s"${c}__min").as("min"),
          round(element_at(col(s"${c}__pct"), 1), 4).as("p25"),
          round(element_at(col(s"${c}__pct"), 2), 4).as("p50"),
          round(element_at(col(s"${c}__pct"), 3), 4).as("p75"),
          col(s"${c}__max").as("max")))
    }
    wide.select(explode(map(entries: _*)).as(Seq("column_name", "stats")))
      .select(col("column_name"), col("stats.n").as("n"),
        col("stats.mean").as("mean"), col("stats.stddev").as("stddev"),
        col("stats.min").as("min"), col("stats.p25").as("p25"),
        col("stats.p50").as("p50"), col("stats.p75").as("p75"),
        col("stats.max").as("max"))
  }

  /** Partition a schema into numeric vs non-numeric column names
    * (reference `exploratory-data-analysis.py:175-191`, done there via
    * dtype string matching; here via the type system).
    */
  def dtypePartition(df: DataFrame): (Seq[String], Seq[String]) = {
    val (num, cat) = df.schema.fields.partition(_.dataType.isInstanceOf[NumericType])
    (num.map(_.name).toSeq, cat.map(_.name).toSeq)
  }

  /** Top-n categories by frequency (reference
    * `exploratory-data-analysis.py:124`, pandas value_counts().head(20) —
    * here a distributed groupBy + TakeOrderedAndProject).
    */
  def topCategories(df: DataFrame, column: String, n: Int = 20): DataFrame =
    df.groupBy(col(column)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(column))
      .limit(n)

  /** Equi-depth binning: assign each row the quantile bucket of
    * `valueCol` — the feature-bucketing step done the scale-safe way.
    * `ntile(bins)` over a global ORDER BY would sort the entire table
    * in ONE reducer (the q33-class funnel, fatal at 100 TB); instead
    * the `bins−1` cut points come from one percentile aggregate (a
    * single-row result), broadcast back, and the assignment is a
    * map-side count of cut points below the value. Cut points are
    * ROUNDED (4 dp) before comparison so bin membership is stable
    * across engines.
    *
    * Ties sit entirely in one bin (every equal value compares
    * identically against the cuts), so unlike ntile the bin sizes are
    * only approximately equal under heavy ties — the standard
    * equi-depth contract.
    */
  def equiDepthBins(df: DataFrame, valueCol: String, bins: Int)
  : DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val pcts = (1 until bins).map(_.toDouble / bins)
    // fanOutForMapWork (r17, guide §2.5): the cut-point percentile's
    // per-partition value map builds in the scan stage — single-task
    // on a one-row-group input (1.78 s -> 1.40 s on the near-distinct
    // price column, noop-sink decomposition)
    val cuts = graft.sources.Tables
      .fanOutForMapWork(df.select(col(valueCol)))
      .agg(percentile(col(valueCol), typedLit(pcts)).as("_cuts"))
      .select(transform(col("_cuts"), c => round(c + lit(1e-9), 4))
        .as("_cuts"))
    // bin = #{cuts below value}, expanded to bins−1 STATIC comparisons
    // (r17, guide §4.1/expressions): the former
    // size(filter(_cuts, c => value > c)) is a HigherOrderFunction —
    // CodegenFallback, evaluated interpreted per ROW and breaking the
    // whole-stage-codegen span around it; element_at + when + sum stay
    // fully codegen'd. Identical arithmetic: a NULL value yields 0
    // either way (filter lambda NULL-drops; when() takes otherwise).
    val binId = (1 until bins).map(i =>
      when(col(valueCol) > element_at(col("_cuts"), i), 1L)
        .otherwise(0L)).reduce(_ + _)
    // the ASSIGNMENT side fans too (r18): the bins−1 comparisons per row
    // plus whatever aggregate the caller stacks on bin_id otherwise run
    // single-task in the scan stage (q87's consumer aggregate was the
    // larger single-task cost after the cut side was fanned in r17)
    graft.sources.Tables.fanOutForMapWork(df)
      .join(broadcast(cuts))
      .withColumn("bin_id", binId.cast("long"))
      .drop("_cuts")
  }

  /** Rows-per-partition skew report (one row per partition plus the
    * min/max/avg summary is the caller's agg away) — the first
    * diagnostic to run when a stage straggles: a top-heavy histogram
    * here means a hot key upstream (salt it) or a bad partitioner.
    * Partition ids are a physical artifact (not data), so this is a
    * diagnostic, never an oracle-checked result.
    */
  def partitionSkew(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("partition_id"))

  /** Referential-integrity audit: for each declared FK relationship,
    * the child row count, null-FK count, and orphan count (non-null FK
    * with no parent) — the schema-contract check a warehouse runs
    * before trusting a join, reported as one row per relationship.
    *
    * Shape at 100 TB: each relationship is one child scan into a
    * left-anti join on the key (AQE broadcasts dimension-sized parents,
    * shuffles fact-sized ones) plus two single-row counts; the union is
    * |relationships| rows. Nothing funnels through fewer partitions
    * than the joins themselves.
    */
  def referentialAudit(
      rels: Seq[(String, DataFrame, String, DataFrame, String)])
  : DataFrame =
    rels.map { case (name, child, fk, parent, pk) =>
      val base = child.agg(
        count(lit(1)).as("n_child"),
        count(when(col(fk).isNull, 1)).as("n_null_fk"))
      val orphans = child.filter(col(fk).isNotNull)
        .join(parent.select(col(pk).as(fk)), Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_orphan"))
      base.join(orphans)
        .select(lit(name).as("relationship"), col("n_child"),
          col("n_null_fk"), col("n_orphan"),
          round(col("n_orphan") / col("n_child").cast("double")
            + lit(1e-9), 4).as("orphan_pct"))
    }.reduce(_ union _)

  /** Shuffle-skew diagnostic for a prospective join/aggregation key:
    * hash rows into `buckets` deterministic slots (the [[graft.ext
    * .Sampling.hashScore]] md5 currency — engine-reproducible, unlike
    * `spark_partition_id`, and the same modulo-slot distribution a
    * hash-partitioned exchange produces) and report the imbalance. The
    * headline number, `skew = max bucket / mean bucket`, is what decides
    * whether a key needs salting ([[Relational.saltedJoin]]) or AQE
    * skew-join before a 100 TB shuffle is attempted: 1.0 = perfectly
    * balanced partitions, ≥ ~2 = the straggler task that dominates the
    * stage. One map-side-combined count + one |buckets|-row reduce —
    * the report costs a scan, never a shuffle of the data itself.
    */
  def shuffleSkewReport(df: DataFrame, keyCol: String, buckets: Int = 32,
                        seed: Long = 42L): DataFrame =
    df.select((graft.ext.Sampling.hashScore(col(keyCol).cast("string"),
        seed) % buckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("_n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("_n")).as("total_rows"),
        max(col("_n")).as("max_bucket_rows"),
        min(col("_n")).as("min_bucket_rows"),
        round(max(col("_n")).cast("double") /
          (sum(col("_n")).cast("double") / count(lit(1)))
          + lit(1e-9), 4).as("skew"))

  /** Functional-dependency audit (the TANE-style single-pass check):
    * for each declared candidate `det -> dep`, group by the determinant
    * and count groups carrying more than one distinct dependent value —
    * the violation evidence that decides whether a column is derivable
    * (safe to drop/normalize) or the dependency is only approximate.
    * Reported per candidate: group count, violating-group count, rows
    * living in violating groups, and a `holds` verdict.
    *
    * Shape at 100 TB: each candidate is ONE aggregate keyed on the
    * determinant (partial count-distinct state map-side-combines; a
    * high-cardinality determinant distributes, a low-cardinality one
    * produces a tiny frame either way) followed by a single-row rollup;
    * candidates union to |candidates| rows. Nothing is joined or
    * re-scanned per candidate, and candidates over the same input
    * share the scan through Spark's plan-level exchange reuse. NULL
    * determinants form their own group and NULL dependents are ignored
    * by the distinct count — identical semantics in ANSI SQL engines.
    */
  def fdAudit(fds: Seq[(String, DataFrame, String, String)]): DataFrame =
    fds.map { case (name, df, det, dep) =>
      df.groupBy(col(det))
        .agg(count_distinct(col(dep)).as("_nd"), count(lit(1)).as("_n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("_nd") > 1, 1L).otherwise(0L))
            .as("violating_groups"),
          sum(when(col("_nd") > 1, col("_n")).otherwise(0L))
            .as("violating_rows"))
        .select(lit(name).as("candidate"), col("n_groups"),
          col("violating_groups"), col("violating_rows"),
          (col("violating_groups") === 0L).as("holds"))
    }.reduce(_ union _)

  /** Declarative data-quality rules evaluated in ONE pass — the
    * deequ-style constraint audit. `violations` maps rule name → a
    * VIOLATION predicate (true = bad row); `uniqueKeys` maps rule
    * name → key columns whose duplicate-row count (n − distinct)
    * is the violation count. Both families land in the same wide
    * hash-aggregate over one scan, then the single result row melts
    * into (rule, violations, n_rows, pass) via stack() — at 100 TB
    * the whole audit costs exactly one corpus read regardless of how
    * many rules it checks.
    */
  def constraintAudit(df: DataFrame, violations: Seq[(String, Column)],
                      uniqueKeys: Seq[(String, Seq[String])] = Nil)
  : DataFrame = {
    val aggs =
      violations.map { case (n, bad) =>
        sum(when(bad, 1L).otherwise(0L)).as(s"_v_$n") } ++
      uniqueKeys.map { case (n, ks) =>
        (count(lit(1)) - count_distinct(struct(ks.map(col): _*)))
          .as(s"_v_$n") }
    val names = violations.map(_._1) ++ uniqueKeys.map(_._1)
    val wide = df.agg(count(lit(1)).as("_tot"), aggs: _*)
    val stackExpr = s"stack(${names.size}, " +
      names.map(n => s"'$n', _v_$n").mkString(", ") +
      ") as (rule, violations)"
    wide.select(col("_tot"), expr(stackExpr))
      .select(col("rule"), col("violations"), col("_tot").as("n_rows"),
        (col("violations") === 0L).as("pass"))
      .orderBy(col("rule"))
  }
}
