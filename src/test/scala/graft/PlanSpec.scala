package graft

import org.apache.spark.sql.functions._
import graft.operators.Recommend
import graft.sources.Tables

/** Physical-plan assertions: the properties that keep these queries alive
  * at 100 TB — filter/column pushdown into the parquet scan, broadcast of
  * dimension tables, partial (map-side) aggregation, top-k fusion.
  */
class PlanSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan gets PushedFilters and pruned ReadSchema") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 40)
      .select(col("l_partkey"), col("l_quantity"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"),
      s"filter not pushed:\n$formatted")
    assert(formatted.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$formatted")
  }

  test("flagship query: dim broadcast + partial aggregation + top-k fusion") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(p.contains("partial_avg") || p.contains("HashAggregate"),
      s"no partial agg:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k fusion:\n$p")
  }

  test("star join (q05) broadcasts every dimension, shuffles facts once") {
    val p = plan(SparkEntry.queries("q05_revenue_by_nation")(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast dims, got $broadcasts:\n$p")
  }

  test("q32 hot-posting cap adds no extra table scan (pair operator, " +
    "not anti-join)") {
    val p = plan(SparkEntry.queries("q32_ngram_jaccard")(spark, sf))
    // ONE documents scan: the cap and the pairing are one operator over
    // one posting stream — the rejected agg+anti-join cap formulation
    // needed four scans, the window + self-join two; a regression here
    // means postings are derived more than once
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    assert(p.contains("PostingPairs"), s"df cap should be the pair operator:\n$p")
    assert(!p.contains("Window"), s"no window cap:\n$p")
  }

  test("q294 ALS half-rounds: no cartesian anywhere; partial aggregation " +
    "carries every factor solve") {
    val p = plan(SparkEntry.queries("q294_als_rank1")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ALS rounds must stay equi-joins:\n$p")
    // every u/v solve is a groupBy aggregate — map-side combine is what
    // keeps a 100 TB ratings shuffle at one pass per half-round
    assert(p.contains("HashAggregate"), s"no partial agg:\n$p")
  }

  test("q295 portable minhash: bucket-local candidate join, no cartesian, " +
    "ONE signature build feeding all three consumers") {
    val p = plan(SparkEntry.queries("q295_minhash_oracled")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay (band,bucket)-local:\n$p")
    // the staged signature frame serves banding + both estimate sides:
    // the 16x|shingles| md5 sweep runs once, in the staged build, and
    // never in the query plan itself (the 21.8 s -> 0.6 s fix)
    assert(!p.contains("md5("),
      s"signature md5 sweep must live in the staged build:\n$p")
  }

  test("q30 verification joins run the native jaccard_sim, not array built-ins") {
    val p = plan(SparkEntry.queries("q30_minhash_neardup")(spark, sf))
    assert(p.contains("jaccard_sim"), s"native JaccardSim not in plan:\n$p")
    assert(!p.contains("array_intersect"), s"interpreted verify survived:\n$p")
  }

  test("q62 gated profile: per-column split keeps every sketch stream " +
      "single and fans only the exact halves") {
    val p = plan(SparkEntry.queries("q62_summary_profile_sketch")(spark, sf))
    // r18 contract (replaces the r17 one-wide-aggregate pin): one
    // subtree per (column, half) — 3 fanned exact aggregates whose
    // percentile map merge is order-exact, 3 UN-fanned approx
    // aggregates so each sketch keeps its single-stream rank
    // certificate — reassembled by 1-row broadcast cross joins. Values
    // are identical to the one-aggregate form; what must never appear
    // is a RoundRobin exchange BELOW an approx_percentile aggregate
    // (merged partial sketches void the certificate).
    assert(p.contains("approx_percentile") && p.contains("percentile("),
      s"both percentile forms should be in the plan:\n$p")
    val sketchAggs = "approx_percentile".r.findAllIn(p).size
    assert(sketchAggs >= 3, s"expected one sketch agg per column:\n$p")
    // every RoundRobin repartition feeds an exact subtree, never a
    // sketch: walk the plan text — the fan-out exchange lines must not
    // appear between a sketch aggregate and its scan. The sketch
    // subtrees scan→partial agg directly, so the plan segment from
    // each approx_percentile partial to its FileScan is exchange-free.
    val segs = p.split("partial_approx_percentile")
    segs.drop(1).foreach { seg =>
      val scanAt = seg.indexOf("FileScan")
      if (scanAt >= 0) {
        val below = seg.substring(0, scanAt)
        assert(!below.contains("RoundRobinPartitioning"),
          s"sketch stream fanned — certificate voided:\n$p")
      }
    }
  }

  test("q33 kNN ranking is a k-bounded partial aggregate, not a window") {
    val p = plan(SparkEntry.queries("q33_knn_brute")(spark, sf))
    // the ranking stage must keep k-bounded PARTIAL buffers map-side
    // (ObjectHashAggregate over the typed TopKScoredAggregator); a
    // row_number window partitioned by query_id would shuffle every
    // scored corpus row into |queries| reducers — the named 100×
    // scale-killer
    assert(p.contains("ObjectHashAggregate"), s"no object hash agg:\n$p")
    assert(p.contains("partial_topkscoredaggregator") ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial top-k aggregation:\n$p")
    assert(!p.contains("Window"), s"ranking fell back to a window:\n$p")
  }

  test("q67 group sample ranks via the k-bounded aggregate, not a window") {
    val p = plan(SparkEntry.queries("q67_group_sample")(spark, sf))
    // |groups| = |lang × source| is tiny vs corpus size: a row_number
    // window here would funnel the whole corpus into a handful of
    // reducers — same contract as the q33 ranking
    assert(p.contains("ObjectHashAggregate"), s"no object hash agg:\n$p")
    assert(!p.contains("Window"), s"sampling fell back to a window:\n$p")
  }

  test("q69 packing: the only unpartitioned window is over bucket summaries") {
    val p = plan(SparkEntry.queries("q69_pack_sequences")(spark, sf))
    // full-size data flows only through the _bucket-partitioned window;
    // the single-reducer exclusive-prefix window must sit above the
    // bucket aggregate (|corpus|/bucketSize rows), never the corpus
    val unpart = "windowspecdefinition\\((doc_id|n_tokens)"
      .r.findAllIn(p).size
    assert(p.contains("windowspecdefinition(_bucket"),
      s"within-bucket cumsum should partition by _bucket:\n$p")
    assert(unpart == 0,
      s"a window ordered directly over corpus columns (no bucket partition):\n$p")
  }

  test("q70 removes hot lines via a broadcast anti-join, never a shuffle") {
    val p = plan(SparkEntry.queries("q70_drop_boilerplate")(spark, sf))
    // the over-threshold line list is small by construction
    // (≤ |corpus-lines|/maxLineDf) — the removal must probe it
    // broadcast; a shuffled anti-join would re-exchange every line
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"hot-line removal is not a broadcast anti-join:\n$p")
  }

  test("q71 recount rides a broadcast semi-join against MG candidates") {
    val p = plan(SparkEntry.queries("q71_heavy_tokens")(spark, sf))
    // candidates are capacity-bounded (≤30 rows) — the exact recount
    // must restrict via a broadcast semi-join, and no full-vocabulary
    // shuffle join may appear
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined,
      s"candidate restriction is not a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a full shuffle join crept into the recount:\n$p")
  }

  test("q73 corpus probes the eval shingle set broadcast, map-side") {
    val p = plan(SparkEntry.queries("q73_decontaminate")(spark, sf))
    assert("BroadcastHashJoin .*Inner".r.findFirstIn(p).isDefined,
      s"eval shingles are not probed via broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus x eval overlap fell into a shuffle join:\n$p")
  }

  test("q75 gate broadcasts the threshold frame and adds no window") {
    val p = plan(SparkEntry.queries("q75_quality_gate")(spark, sf))
    // thresholds are |langs| rows — they must come back via broadcast;
    // a percent_rank window would sort each language in one reducer
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join is not broadcast:\n$p")
    assert(!p.contains("Window"), s"gate fell back to a rank window:\n$p")
  }

  test("q47 IVF search ranking has no window node either") {
    val p = plan(SparkEntry.queries("q47_ivf_search")(spark, sf))
    // ivfAssign's per-vector argmax keeps its window (partitioned by the
    // high-cardinality vec_id — that one is fine); the per-QUERY final
    // ranking must not contribute one. nprobe/assign windows partition by
    // vec_id only, so any window partitioned by query_id is a regression
    assert(p.contains("ObjectHashAggregate"), s"no object hash agg:\n$p")
    assert(!p.contains("windowspecdefinition(query_id"),
      s"final ranking fell back to a per-query window:\n$p")
  }

  test("aggregate-then-join keeps join input at |items| not |ratings|") {
    val ratings = Tables.load(spark, sf, "lineitem")
    val items = Tables.load(spark, sf, "part")
    val df = Recommend.topRatedByCategory(
      ratings, items, "l_partkey", "l_quantity", "p_partkey",
      categoryFilter = col("p_type") === "PROMO",
      select = Seq(col("p_partkey"), col("p_name")),
      k = 5, tieBreak = col("p_partkey"))
    val p = plan(df)
    // the aggregate must sit BELOW the join in the plan tree
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && joinIdx >= 0 && joinIdx < aggIdx,
      s"aggregate should feed the join (agg below join in plan):\n$p")
  }

  test("q81 bloom decontamination probes in codegen BELOW the exact join") {
    val p = plan(SparkEntry.queries("q81_decontaminate_bloom")(spark, sf))
    // the bloom probe must appear as a Filter under the verify join —
    // prefiltering the corpus stream map-side is the whole point
    val probeIdx = p.indexOf("bloom_might_contain")
    assert(probeIdx >= 0, s"bloom probe missing from plan:\n$p")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && joinIdx < probeIdx,
      s"bloom probe should sit below the verify join:\n$p")
  }

  test("q196 phrase gate short-circuits BEFORE any token-array conjunct") {
    // Catalyst collapses the existence pre-filter (lower(text) RLIKE
    // adjacency regex) and the pushed-down size/walk predicates into ONE
    // scan-side Filter; codegen evaluates its conjuncts left-to-right
    // with short-circuit AND. The performance property is therefore the
    // conjunct ORDER: the cheap regex gate must precede every conjunct
    // that tokenizes (split) — otherwise the non-matching corpus
    // majority pays array materialization again
    val exec = SparkEntry.queries("q196_phrase_search")(spark, sf)
      .queryExecution.executedPlan
    val gate = exec.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.toUpperCase.contains("RLIKE") => f
    }
    assert(gate.nonEmpty, s"rlike gate missing from plan:\n$exec")
    val cond = gate.head.condition.toString
    val rlikeAt = cond.toUpperCase.indexOf("RLIKE")
    val splitAt = cond.indexOf("split(")
    assert(splitAt < 0 || rlikeAt < splitAt,
      s"regex gate does not precede the tokenizing conjuncts:\n$cond")
    // and the gate sits directly on the parquet scan subtree
    assert(gate.head.child.collectLeaves()
      .exists(_.toString.contains("Scan parquet")),
      s"gate not on the scan side:\n$exec")
  }

  test("q88 funnel plans user-keyed aggregates only — no window, no sort " +
    "to one reducer") {
    val p = plan(SparkEntry.queries("q88_event_funnel")(spark, sf))
    assert(!p.contains("Window"), s"funnel regressed to a window:\n$p")
    // survivor aggregates must key on the user id; the only
    // SinglePartition exchanges allowed are the 1-row step counts,
    // which all sit above a map-side partial_count (data never crosses)
    assert(p.contains("HashAggregate(keys=[user_id"),
      s"survivor frame not user-keyed:\n$p")
    val single = "Exchange SinglePartition".r.findAllMatchIn(p).map(_.start)
    single.foreach { off =>
      val after = p.substring(off, math.min(p.length, off + 400))
      assert(after.contains("partial_count"),
        s"SinglePartition exchange without a 1-row partial count:\n$after")
    }
  }

  test("q89 rolling window partitions on the high-card user id, never " +
    "one global partition") {
    val p = plan(SparkEntry.queries("q89_rolling_window")(spark, sf))
    assert(p.contains("Window"), s"no window node:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not partitioned by user:\n$p")
  }

  test("q96 triangle join is all equi-joins — no cartesian/nested-loop") {
    val p = plan(SparkEntry.queries("q96_triangle_count")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join crept in:\n$p")
  }

  test("q164 gap window partitions on the (user, type) key, never " +
    "one global partition") {
    val p = plan(SparkEntry.queries("q164_gap_percentiles")(spark, sf))
    assert(p.contains("Window"), s"no window node:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not partitioned by user:\n$p")
  }

  test("q166 journey join is an equi-join on user — range gate stays " +
    "a join condition, not a cartesian") {
    val p = plan(SparkEntry.queries("q166_position_attribution")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join crept in:\n$p")
  }

  test("q171 merge-apply is equi-joined on the key — no cartesian, " +
    "no nested loop") {
    val p = plan(SparkEntry.queries("q171_merge_apply")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join crept in:\n$p")
    assert(p.contains("FullOuter"), s"full-outer merge join missing:\n$p")
  }

  test("q168 whale report has no window and no global sort — counts, " +
    "a broadcast cutoff, one rollup") {
    val p = plan(SparkEntry.queries("q168_whale_share")(spark, sf))
    assert(!p.contains("Window"), s"window crept in:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"p99 cutoff not broadcast:\n$p")
  }

  test("q79 split assignment is pure map-side: no exchange, no join") {
    // the split label is a hash-CASE over the id — any Exchange/Join/
    // Window here means the operator regressed to a shuffling formulation
    // and would re-place 100 TB of rows just to tag them
    val df = graft.ext.Sampling.assignSplits(
      Tables.load(spark, sf, "documents"),
      "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), 42L)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"split assignment shuffled:\n$p")
    assert(!p.contains("Join"), s"split assignment joined:\n$p")
    assert(!p.contains("Window"), s"split assignment windowed:\n$p")
    // "*(1) Project" = the projection runs inside whole-stage codegen
    assert(p.contains("*(1) Project"), s"label CASE fell out of codegen:\n$p")
  }

  test("q103/q104/q105 gaps-and-islands windows all partition on the " +
    "high-card user id — never one global partition") {
    Seq("q103_sessionize", "q104_merge_intervals", "q105_status_runs")
      .foreach { q =>
        val p = plan(SparkEntry.queries(q)(spark, sf))
        assert(p.contains("Window"), s"$q: no window node:\n$p")
        assert(p.contains("hashpartitioning(user_id"),
          s"$q: window not keyed on user:\n$p")
        assert(!"windowspecdefinition\\((_us|start_us)".r
            .findAllIn(p).hasNext,
          s"$q: a window ordered over corpus columns with no user " +
            s"partition:\n$p")
      }
  }

  test("q106 skyline: full-size points flow only through the " +
    "bucket-partitioned window (q69's hierarchical contract)") {
    val p = plan(SparkEntry.queries("q106_skyline")(spark, sf))
    assert(p.contains("windowspecdefinition(_bucket"),
      s"within-bucket prefix max should partition by _bucket:\n$p")
    // the unpartitioned prefix-max may only order over the bucket
    // SUMMARY frame (_bucket rows), never raw point columns
    assert(!"windowspecdefinition\\(_x".r.findAllIn(p).hasNext,
      s"a window ordered over raw points without bucket partition:\n$p")
  }

  test("q109 gram matrix is ONE aggregator pass — no explode below " +
    "the aggregate, partial buffers map-side") {
    val p = plan(SparkEntry.queries("q109_gram_matrix")(spark, sf))
    assert(p.contains("partial_gramaggregator"),
      s"no map-side partial gram buffer:\n$p")
    // the only Generate is the d^2 unpack ABOVE the aggregate; the
    // n*d^2 explode-below-aggregate formulation must never come back
    val gen = p.indexOf("Generate")
    val agg = p.indexOf("partial_gramaggregator")
    assert(gen >= 0 && gen < agg,
      s"expected the unpack Generate above the aggregate:\n$p")
  }

  test("q113 CMS candidates rank via the k-bounded aggregate, and the " +
    "sketch is a partial-buffered aggregate too") {
    val p = plan(SparkEntry.queries("q113_cms_heavy_users")(spark, sf))
    assert(!p.contains("Window"), s"candidate ranking regressed to a " +
      s"window funnel:\n$p")
    assert(p.contains("partial_topkscoredaggregator"),
      s"no k-bounded candidate buffer:\n$p")
    assert(p.contains("partial_countminaggregator"),
      s"no map-side partial CMS buffer:\n$p")
  }

  test("q114 EWMA is one user-keyed window + in-codegen HOF fold — no " +
    "self-join, no second window") {
    val p = plan(SparkEntry.queries("q114_ewma")(spark, sf))
    assert(p.contains("hashpartitioning(user_id"),
      s"frame window not keyed on user:\n$p")
    assert("Window".r.findAllIn(p).size == 1,
      s"expected exactly one window:\n$p")
    assert(!p.contains("Join"), s"EWMA joined:\n$p")
  }

  test("q118 source drift: memoized result, broadcast expansion, no window") {
    val p = plan(SparkEntry.queries("q118_source_drift")(spark, sf))
    // the operator materializes its (tiny) result and the query reads the
    // memo — the top of the plan must be a cache scan, not a recompute
    assert(p.contains("InMemoryTableScan"),
      s"drift result not served from the memo:\n$p")
    assert(!p.contains("Window"), s"drift needs no window:\n$p")
    // the group/total expansions ride broadcast cross joins (|sources|-
    // and 1-row frames); the embedded cached-plan dump shows them — a
    // shuffle-based expansion would print SortMergeJoin/ShuffledHashJoin
    // around the vocab frame instead
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expansion not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab expansion fell back to a sort-merge join:\n$p")
  }

  test("q119 keep-best argmax is ONE struct-max aggregate — no window " +
    "over cluster members") {
    val p = plan(SparkEntry.queries("q119_dedup_keep_best")(spark, sf))
    assert(!p.contains("Window"),
      s"member argmax should be max(struct), not a window:\n$p")
    assert(p.contains("max(_b") || p.contains("partial_max"),
      s"no partial struct-max aggregate:\n$p")
  }

  test("q122 hybrid RRF: candidate cuts are top-k fusions, nothing " +
    "corpus-sized is sorted") {
    val p = plan(SparkEntry.queries("q122_hybrid_rrf")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate cut lost its top-k fusion:\n$p")
    // the only windows permitted are the rank row_numbers over the
    // ≤candidates-row lists (post-TakeOrdered) — never over a scan
    assert("Window".r.findAllIn(p).size <= 2,
      s"more windows than the two bounded rank lists:\n$p")
  }

  test("q126 rank eval: kNN ranking stays a k-bounded aggregate, " +
    "metrics add no window") {
    val p = plan(SparkEntry.queries("q126_retrieval_eval")(spark, sf))
    assert(p.contains("partial_topkscoredaggregator"),
      s"kNN ranking lost the k-bounded partial aggregate:\n$p")
    assert(!p.contains("Window"),
      s"ranking/metrics regressed to a window funnel:\n$p")
  }

  test("q127 temperature mix: rate table broadcast back, keep is " +
    "map-side — no shuffle join on the corpus") {
    val p = plan(SparkEntry.queries("q127_temperature_mix")(spark, sf))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the rate join:\n$p")
  }

  test("q129 item CF: cap window keyed on the user id, ranking is the " +
    "k-bounded aggregate") {
    val p = plan(SparkEntry.queries("q129_item_cf")(spark, sf))
    assert(p.contains("hashpartitioning(_u") ||
      p.contains("hashpartitioning(user_id"),
      s"cap window not keyed on the high-cardinality user:\n$p")
    assert(p.contains("partial_topkscoredaggregator"),
      s"neighbor ranking lost the k-bounded partial aggregate:\n$p")
  }

  test("q131 attribution runs through the native as-of operator") {
    val p = plan(SparkEntry.queries("q131_attribution")(spark, sf))
    assert(p.contains("AsOfJoin"),
      s"attribution lost the native as-of path:\n$p")
  }

  test("q238 promo share broadcasts the part dim over one lineitem scan") {
    val p = plan(SparkEntry.queries("q238_promo_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"part not broadcast:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected lineitem+part scans only, got $scans:\n$p")
  }

  test("q240 aggregates returned revenue BELOW the customer join") {
    val p = plan(SparkEntry.queries("q240_returned_customers")(spark, sf))
    // the custkey rollup must appear under the customer join: joining
    // raw return lines to customer first would shuffle the fact table
    // into a |customers|-wide join for rows the aggregate then collapses
    val aggIdx = p.indexOf("partial_sum")
    assert(aggIdx >= 0, s"no partial aggregation:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should fuse into TakeOrdered:\n$p")
  }

  test("q241 decorrelated probe reads lineitem ONCE through a window") {
    val p = plan(SparkEntry.queries("q241_small_qty_revenue")(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).size
    // lineitem + part — the naive correlated form (per-part avg as a
    // second aggregate over a second scan) costs three
    assert(scans == 2, s"expected 2 scans, got $scans:\n$p")
    assert(p.contains("Window"), s"per-part avg should be a window:\n$p")
    assert(p.contains("hashpartitioning(l_partkey"),
      s"window must partition on l_partkey, not a global sort:\n$p")
  }

  test("q242 big-orders HAVING collapses the fact table before any join") {
    val p = plan(SparkEntry.queries("q242_big_orders")(spark, sf))
    val havingBelow = p.indexOf("HashAggregate")
    val joinAt = p.indexOf("Join")
    assert(havingBelow >= 0 && joinAt >= 0 && havingBelow > joinAt,
      // executedPlan prints top-down: the aggregate must appear BELOW
      // (after) the join operators in the tree dump
      s"order rollup did not stay below the joins:\n$p")
  }

  test("q179 rank windows are hierarchical: every flag-only window runs " +
    "over bucket summaries, value windows key on (flag, bucket)") {
    // the r12 verdict's "few-groups rank window" class: a window
    // partitioned ONLY by l_returnflag (3 values) must never see the
    // value-level frame — its per-task row count would grow linearly
    // with the corpus. After the prefix-sum inversion, flag-only
    // windows may exist ONLY over the (flag, _bkt) bucket-summary
    // aggregate (range-bounded rows), and the value-level cumsum must
    // partition on (flag, _bkt) so each task holds one grid cell.
    val p = plan(SparkEntry.queries("q179_spearman_corr")(spark, sf))
    // windowspecdefinition prints partition keys then "col ASC ..."
    // order keys; a value-level cumsum must carry BOTH partition keys
    val bucketed =
      "windowspecdefinition\\(l_returnflag#\\d+, _bkt#\\d+L?, ".r
    assert(bucketed.findFirstIn(p).nonEmpty,
      s"within-bucket value window (flag,_bkt) missing:\n$p")
    // any flag-only window may only ORDER BY the bucket key (the
    // bucket-summary prefix); ordering a flag-only window by a raw
    // value column is the corpus-scaled 3-partition sort
    val flagOnlyBad =
      "windowspecdefinition\\(l_returnflag#\\d+, (?!_bkt#)[A-Za-z_]+#\\d+L? ASC".r
    assert(flagOnlyBad.findFirstIn(p).isEmpty,
      s"flag-only window orders a value column (corpus-scaled sort):\n$p")
    // and the bucket-summary prefix runs over the bucket aggregate
    assert("HashAggregate\\(keys=\\[l_returnflag#\\d+, _bkt#\\d+L?\\]".r
      .findFirstIn(p).nonEmpty,
      s"bucket-total aggregate missing:\n$p")
  }
}
