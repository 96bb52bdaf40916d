package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, XxHash64}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** The relational operator surface of the reference, re-expressed as
  * composable DataFrame transformations (SURVEY.md §2.2–2.6).
  *
  * Everything here is declarative Catalyst plans — no collect(), no
  * driver-side loops — so predicate pushdown, column pruning, partial
  * aggregation and broadcast-join selection apply automatically, and every
  * operator scales by partitioning rather than by driver memory.
  */
object Relational {

  /** UNION ALL by position (reference `model-als.py:107`). */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_.union(_))

  /** union + any-null drop + key dedup — the ratings-prep spine
    * (reference `model-als.py:107-109`).
    *
    * The reference's `dropDuplicates(keys)` keeps an arbitrary row per key
    * (fine for ALS input, where any one rating per (user, item) is valid);
    * we expose that fast path directly.
    */
  def unionDedup(dfs: Seq[DataFrame], keys: Seq[String]): DataFrame =
    unionAll(dfs).na.drop().dropDuplicates(keys)

  /** Deterministic dedup: keep the first row per key group under `order`
    * (SURVEY.md §4.2.5 — the reproducible variant of `dropDuplicates`).
    * One shuffle on the key columns; the window sort is per-group.
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** CDC apply-changes: collapse an append-only change log into the
    * latest-wins snapshot, honoring delete tombstones — the batch MERGE
    * every lakehouse table format implements. Keep the LAST change per
    * key under `order` (pass descending columns), then drop keys whose
    * final change `isDelete` — a tombstone hides the key entirely, it
    * does not resurrect an earlier version.
    *
    * Shape: [[dedupFirst]]'s one key-shuffle + per-group window; the
    * tombstone filter is map-side after the window. At 100 TB the log
    * shuffles once on the (high-cardinality) key — the same cost class
    * as any dedup — and nothing else is corpus-sized.
    */
  def cdcSnapshot(log: DataFrame, keys: Seq[String], order: Seq[Column],
                  isDelete: Column): DataFrame =
    dedupFirst(log, keys, order).filter(!isDelete)

  /** Per-key average (reference `model-als.py:145`). Partial (map-side)
    * aggregation before the shuffle is automatic for avg.
    */
  def avgBy(df: DataFrame, key: String, value: String, as: String): DataFrame =
    df.groupBy(col(key)).agg(avg(col(value)).as(as))

  /** orderBy-desc + limit top-k (reference `model-als.py:151-153`).
    * Catalyst fuses this into TakeOrderedAndProject — per-partition
    * heaps + a k-row merge on the driver, no global sort. That is the
    * shape that survives a 100 TB input.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Per-group top-k via row_number window — the distributed analogue of
    * the reference's per-user recommendation cut (reference
    * `model-als.py:132`), usable for any (group, order) pair.
    */
  def topKPerGroup(df: DataFrame, k: Int, groupCols: Seq[String],
                   order: Seq[Column], rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Per-group top-k of a (score, id) ranking via the k-bounded
    * [[graft.functions.TopKScoredAggregator]] — the shape to use when the
    * group count is SMALL relative to the scored row count (kNN: |groups|
    * = |queries|, scored rows = |queries|×|corpus|). A row_number window
    * ([[topKPerGroup]]) would shuffle every scored row into |groups|
    * reducers and sort there; this aggregate keeps k-bounded PARTIAL
    * buffers map-side, so only k×|partitions| rows per group cross the
    * shuffle no matter how large the corpus grows.
    *
    * Rank order is score descending, id ascending (deterministic for
    * distinct ids; NaN scores rank first, matching the window's `desc`).
    * Output: groupCols ++ (idName, scoreName, rankCol).
    *
    * The id must be an INTEGRAL column (byte/short/int/long): the
    * k-bounded buffer carries it as a long and the unpack restores the
    * original width. A string or fractional id has no lossless long
    * round-trip — use [[topKPerGroup]] (the window form) for those.
    */
  def topKPerGroupAgg(df: DataFrame, k: Int, groupCols: Seq[String],
                      score: Column, id: Column,
                      scoreName: String, idName: String,
                      rankCol: String = "rank"): DataFrame = {
    val idType = df.select(id).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"topKPerGroupAgg requires an integral id column (the k-bounded " +
        s"buffer round-trips it through long); got ${idType.sql} — use " +
        s"topKPerGroup (window form) for non-integral ids")
    val topk = graft.functions.TopKScoredAggregator.topKScored(k)
    df.groupBy(groupCols.map(col): _*)
      .agg(topk(score.cast("double"), id.cast("long")).as("_top"))
      .select(groupCols.map(col) :+
        posexplode(col("_top")).as(Seq("_pos", "_s")): _*)
      .select(groupCols.map(col) :+
        col("_s.id").cast(idType).as(idName) :+
        col("_s.score").as(scoreName) :+
        (col("_pos") + 1).cast("long").as(rankCol): _*)
  }

  /** As-of join: for every left row, the latest right row with
    * `rightTs <= leftTs` in the same key group (DuckDB/kdb ASOF JOIN
    * semantics, inclusive).
    *
    * Implementation is the union+window trick: tag both sides, union,
    * and carry the last non-null right value forward within each key
    * ordered by time. ONE shuffle on the key, zero candidate-pair
    * explosion — the shape that survives an unbounded right side, unlike
    * the naive range join + row_number.
    *
    * If the right side can hold duplicate (key, ts) rows, dedup it first
    * (e.g. dedupFirst) — as-of is ambiguous on ties by definition.
    *
    * @param rightVals (rightColumn, outputName) pairs to pull from the
    *                  matched right row; names must not collide with left
    *                  columns.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightVals: Seq[(String, String)]): DataFrame = {
    val leftOnly = left.columns.filterNot(keys.contains).toSeq
    val l = left.select(
      keys.map(col) ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__side")) ++
        leftOnly.map(col) ++
        rightVals.map { case (rc, out) =>
          lit(null).cast(right.schema(rc).dataType).as(out)
        }: _*)
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTs).as("__ts"), lit(0).as("__side")) ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightVals.map { case (rc, out) => col(rc).as(out) }: _*)
    // right rows sort before left rows at equal ts → inclusive <=
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightVals.foldLeft(l.union(r)) { case (df, (_, out)) =>
      df.withColumn(out, last(col(out), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__ts", "__side")
  }

  /** Banded range join: inner-join (left, right) pairs in the same key
    * group with `rightTs` in [leftTs, leftTs + gap). Both sides are
    * bucketed to gap-sized time bands; each left row meets only rights
    * in its own and the next band (a candidate superset filtered
    * exactly), so cost is Σ per-band occupancy products — never the
    * keys × keys cross product of a naive theta join.
    *
    * Left and right must not share column names apart from `keys`
    * (rename before calling).
    */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftTs: String, rightTs: String,
                        gapMicros: Long): DataFrame = {
    val l = left
      .withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__lb", expr(s"__lus div $gapMicros"))
      .withColumn("__bucket", explode(array(col("__lb"), col("__lb") + 1)))
      .drop("__lb")
    val r = right
      .withColumn("__rus", unix_micros(col(rightTs)))
      .withColumn("__bucket", expr(s"__rus div $gapMicros"))
    l.join(r, keys :+ "__bucket")
      .filter(col("__rus") >= col("__lus") &&
        col("__rus") < col("__lus") + gapMicros)
      .drop("__bucket", "__lus", "__rus")
  }

  /** Salted equi-join for skewed keys: every big-side row gets a salt in
    * [0, buckets); the small side is replicated once per salt value; the
    * join key becomes (key, salt), so one hot key's rows spread over
    * `buckets` reducers instead of melting a single one.
    *
    * This is the manual fallback when AQE's skew-join split (enabled in
    * GraftSession) can't apply — e.g. a skewed broadcast-ineligible dim
    * or a key so hot a single post-split partition still spills. Salt
    * assignment only affects row placement, never the join result.
    *
    * r18 (VERDICT r17 #5, guide §2.5):
    *  - the salt is DETERMINISTIC row content (`xxhash64` over every
    *    big-side column), not `monotonically_increasing_id()` — a
    *    partition-layout-dependent value whose recomputation under a
    *    fetch-failure retry can re-salt rows differently mid-shuffle
    *    (the SPARK-38388 class of duplicated/lost rows). Identical
    *    rows share a salt, which is placement-harmless: hot KEYS (the
    *    thing salting exists for) still spread across buckets because
    *    their non-key columns differ.
    *  - `buckets <= 0` derives the width from the session's
    *    defaultParallelism instead of a constant, so one hot key can
    *    occupy the whole cluster at any scale; an explicit positive
    *    width is honored unchanged. (Width is a SKEW knob, not a
    *    parallelism knob: it multiplies the small side by `width`, so
    *    tying it blindly to a 10⁴-core cluster's parallelism would
    *    explode the replicated side — callers size it to the hot key.)
    *  - `saltCols` names the columns hashed into the salt; default all
    *    columns `xxhash64` can hash (a MAP or VARIANT column is left
    *    out rather than failing analysis). Pass the big side's unique
    *    key (or any high-entropy subset that VARIES WITHIN a hot join
    *    key) when the full row is wide — hashing 16 columns per row
    *    measurably beat the join itself on a 16-column fact table
    *    (r18: q43 0.99→1.57 s before this knob). A named salt column
    *    `xxhash64` cannot hash is rejected with its name.
    *
    * Duplicate rows collapse to ONE salt: rows of a hot key that are
    * identical on every hashed column all land in the same bucket, so
    * a key whose hot rows are exact copies stays skewed. Dedup the big
    * side first, or pass `saltCols` that vary within the key.
    */
  def saltedJoin(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String,
                 buckets: Int = 16,
                 saltCols: Seq[String] = Nil): DataFrame = {
    val width =
      if (buckets > 0) buckets
      else math.max(2, big.sparkSession.sparkContext.defaultParallelism)
    def hashable(t: DataType): Boolean = new XxHash64(Seq(
      AttributeReference("c", t)())).checkInputDataTypes().isSuccess
    val hashed =
      if (saltCols.isEmpty)
        big.schema.fields.filter(f => hashable(f.dataType)).map(_.name).toSeq
      else {
        saltCols.foreach { c =>
          val t = big.select(col(c)).schema.head.dataType
          require(hashable(t), s"saltedJoin: salt column '$c' has type " +
            s"${t.sql}, which xxhash64 cannot hash")
        }
        saltCols
      }
    val salted = big.withColumn("__salt_b",
      pmod(xxhash64(hashed.map(col): _*), lit(width.toLong)))
    val replicated = small.withColumn("__salt_s",
      explode(array((0 until width).map(b => lit(b.toLong)): _*)))
    salted.join(replicated,
        salted(bigKey) === replicated(smallKey) &&
          col("__salt_b") === col("__salt_s"))
      .drop("__salt_b", "__salt_s")
  }

  /** 2-D skyline (Pareto frontier): the distinct (x, y) points not
    * DOMINATED by any other — q dominates p iff q.x ≤ p.x, q.y ≥ p.y,
    * and q ≠ p (minimize x, maximize y; e.g. cheapest-per-size parts,
    * best cost/quality corpora). The naive formulation is an all-pairs
    * NOT EXISTS — corpus² and unusable at scale; the 2-D structure
    * admits a sort + running-max instead: ordered by (x asc, y desc),
    * a point is on the skyline iff every strictly-preceding point has
    * smaller y.
    *
    * The running max is the HIERARCHICAL prefix pattern (packSequences'
    * trick, ext/TextOps.scala): bucket points by x range, aggregate
    * per-bucket y maxima, prefix-max the BUCKET SUMMARIES with one
    * unpartitioned window (|buckets| rows — the only single-reducer
    * step, never full-size data), broadcast the offsets back, and add
    * the within-bucket prefix max via a bucket-partitioned window. A
    * strictly-smaller bucket implies strictly smaller x, so the
    * cross-bucket max only ever carries true dominators; within a
    * bucket, (x asc, y desc) ordering makes the strict prefix max
    * exactly the dominance test (equal-x ties resolve because a
    * same-x higher-y point precedes and raises the max).
    *
    * Output: the skyline points, original column names, distinct.
    */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
                bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pts = df.select(col(xCol).cast("double").as("_x"),
        col(yCol).cast("double").as("_y")).distinct()
      .withColumn("_bucket", floor(col("_x") / bucketWidth).cast("long"))
    val bucketMax = pts.groupBy(col("_bucket"))
      .agg(max(col("_y")).as("_bmax"))
      .withColumn("_prevmax",
        max(col("_bmax")).over(Window.orderBy(col("_bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("_bucket"), col("_prevmax"))
    val w = Window.partitionBy(col("_bucket"))
      .orderBy(col("_x"), col("_y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.join(broadcast(bucketMax), Seq("_bucket"))
      .withColumn("_pm",
        greatest(coalesce(max(col("_y")).over(w), lit(Double.MinValue)),
          coalesce(col("_prevmax"), lit(Double.MinValue))))
      .filter(col("_pm") < col("_y"))
      .select(col("_x").as(xCol), col("_y").as(yCol))
  }

  /** Welch's unequal-variance two-sample t-test — the A/B readout:
    *
    *   t  = (m_A − m_B) / √(s²_A/n_A + s²_B/n_B)
    *   df = (s²_A/n_A + s²_B/n_B)² /
    *        ((s²_A/n_A)²/(n_A−1) + (s²_B/n_B)²/(n_B−1))
    *
    * with sample variances from the sum/sum-of-squares identity
    * s² = (Σx² − n·m²)/(n−1) — spelled out (not var_samp) so both
    * engines evaluate the IDENTICAL expression tree; aggregate sum
    * order still differs, so t/df round at 4 dp. `significant` is the
    * |t| > 1.96 normal-approximation gate computed from the ROUNDED t
    * (df is large in any A/B worth reading), so the flag can never
    * disagree across engines on a boundary ulp.
    *
    * Shape at 100 TB: ONE single-row aggregate (six partial sums,
    * map-side combined) — the unit-level metric frame feeding it is
    * the caller's per-user aggregate. Output row:
    * (n_a, n_b, mean_a, mean_b, t, df, significant).
    */
  def welchTTest(df: DataFrame, valueCol: String, isA: Column)
  : DataFrame = {
    val x = col(valueCol).cast("double")
    val agg = df.agg(
      sum(when(isA, x)).as("_sa"), sum(when(isA, x * x)).as("_qa"),
      count(when(isA, lit(1))).as("_na"),
      sum(when(!isA, x)).as("_sb"), sum(when(!isA, x * x)).as("_qb"),
      count(when(!isA, lit(1))).as("_nb"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val ma = col("_sa") / na
    val mb = col("_sb") / nb
    val va = (col("_qa") - na * ma * ma) / (na - lit(1.0))
    val vb = (col("_qb") - nb * mb * mb) / (nb - lit(1.0))
    val sea = va / na
    val seb = vb / nb
    val t = (ma - mb) / sqrt(sea + seb)
    val dfW = (sea + seb) * (sea + seb) /
      (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0)))
    val tR = round(t + lit(1e-9), 4)
    agg.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      round(ma + lit(1e-9), 4).as("mean_a"),
      round(mb + lit(1e-9), 4).as("mean_b"),
      (tR + lit(0.0)).as("t"), round(dfW + lit(1e-9), 4).as("df"),
      (abs(tR) > lit(1.96)).cast("long").as("significant"))
  }

  /** Binned two-sample Kolmogorov-Smirnov statistic — numeric
    * distribution drift between two slices (the numeric complement of
    * the token-level JS divergence): D = max over bin edges of
    * |F̂_A − F̂_B| on a shared `bins`-bucket equi-width grid.
    *
    * Binned ON PURPOSE: the exact KS supremum needs the merged order
    * statistics — a corpus-sized sort/window. On the grid, the
    * corpus-sized work is ONE map-side-combined count per (bin, slice)
    * (≤ bins output rows) after a broadcast of the global [min, max];
    * the ECDF walk runs on the bins-row frame. D is exact w.r.t. the
    * binned distributions, converges to the true D as bins grows, and
    * is deterministic: bin ids are correctly-rounded arithmetic on the
    * exact global extremes, so both engines bin identically.
    *
    * Output (one row): n_a, n_b, ks (4 dp), ks_bin (the FIRST bin edge
    * achieving the max — struct-argmax, no window funnel).
    */
  def ksBinned(df: DataFrame, valueCol: String, isA: Column,
               bins: Int = 32): DataFrame = {
    val v = col(valueCol).cast("double")
    val ext = df.agg(min(v).as("_lo"), max(v).as("_hi"))
    val binned = df.select(v.as("_v"), isA.as("_a"))
      .join(broadcast(ext))
      .withColumn("_bin", least(
        floor((col("_v") - col("_lo")) /
          ((col("_hi") - col("_lo")) / lit(bins.toDouble))).cast("long"),
        lit(bins - 1L)))
    val perBin = binned.groupBy(col("_bin"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_ca"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // bins-row frame from here: the unpartitioned window is bounded by
    // the literal grid size, never the corpus (q106-margins class)
    perBin
      .withColumn("_na", sum(col("_ca")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("_nb", sum(col("_cb")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("_diff", abs(
        sum(col("_ca")).over(w) / col("_na").cast("double") -
          sum(col("_cb")).over(w) / col("_nb").cast("double")))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        max(struct(col("_diff"), (-col("_bin")).as("_nbin"))).as("_m"))
      .select(col("n_a"), col("n_b"),
        round(col("_m._diff") + lit(1e-9), 4).as("ks"),
        (-col("_m._nbin")).cast("long").as("ks_bin"))
  }

  /** Binned mutual information between a numeric and a categorical
    * column — the joint-association report ([[ksBinned]] asks "did one
    * numeric's distribution shift"; this asks "are these two columns
    * dependent at all", feature-selection's first screen). The numeric
    * axis is binned on an equi-width grid over the broadcast [min, max]
    * ([[ksBinned]]'s exact-integer bin currency), so all counts are
    * exact and the per-cell PMI/MI terms are a fixed double chain over
    * them.
    *
    * Output: one row per occupied (bin, category) cell — joint count,
    * pmi = ln(P(x,y)/(P(x)P(y))), and the cell's MI contribution
    * (nats, 4 dp) whose sum is the MI estimate. Corpus-sized work is
    * one scan into the (bin, cat)-keyed aggregate (map-side combined);
    * marginals derive from the cell frame (≤ bins·|cats| rows).
    */
  def mutualInfoBinned(df: DataFrame, numCol: String, catCol: String,
                       bins: Int = 8): DataFrame = {
    val v = col(numCol).cast("double")
    val ext = df.agg(min(v).as("_lo"), max(v).as("_hi"),
      count(v).as("_n"))
    val binned = df.select(v.as("_v"), col(catCol).as("category"))
      .filter(col("_v").isNotNull)
      .join(broadcast(ext))
      .withColumn("bin", least(
        floor((col("_v") - col("_lo")) /
          ((col("_hi") - col("_lo")) / lit(bins.toDouble))).cast("long"),
        lit(bins - 1L)))
    val joint = binned.groupBy(col("bin"), col("category"))
      .agg(count(lit(1)).as("n_xy"), max(col("_n")).as("_n"))
    val margX = joint.groupBy(col("bin")).agg(sum(col("n_xy")).as("_nx"))
    val margY = joint.groupBy(col("category"))
      .agg(sum(col("n_xy")).as("_ny"))
    val pmi = log((col("n_xy").cast("double") * col("_n")) /
      (col("_nx").cast("double") * col("_ny")))
    joint
      .join(broadcast(margX), Seq("bin"))
      .join(broadcast(margY), Seq("category"))
      // + 0.0 normalizes IEEE −0.0 from the sign-preserving round of a
      // tiny negative term (the q99 signed-zero currency)
      .select(col("bin"), col("category"), col("n_xy"),
        (round(pmi + lit(1e-9), 4) + lit(0.0)).as("pmi"),
        (round((col("n_xy") / col("_n").cast("double")) * pmi
          + lit(1e-9), 4) + lit(0.0)).as("mi_contrib"))
  }

  /** Leave-one-out target encoding with Bayesian smoothing — the
    * standard high-cardinality-categorical feature transform for
    * tree/linear models: each row's category is encoded as the mean
    * target of the OTHER rows in that category, shrunk toward the
    * global mean μ by pseudo-count m:
    * `enc = (Σ_cat y − y_i + m·μ) / (n_cat − 1 + m)` — excluding the
    * row's own target is what prevents the leakage a plain group-mean
    * join would inject into training data.
    *
    * Per-category (Σ, n) come from a key-partitioned aggregate joined
    * back on the category (the aggregate is |categories| rows — AQE
    * broadcasts it when small, falls back to a shuffle join for
    * genuinely high-cardinality categories; no window over the
    * category partition, which would put a whole category's rows on one
    * task and skew at scale). μ is a one-row cross join. A singleton
    * category yields μ (the shrinkage limit), which is why m > 0 is
    * required.
    *
    * `exactSumType`: optional decimal type for the Σ accumulations.
    * The encoded value is a group MEAN (target magnitude, ~1e5 for
    * money), so its 4-dp output grid is a ~3e-10 RELATIVE tolerance —
    * only tens of ulp. A double Σ over a category differs between
    * engines by summation order alone, and at a 100× corpus that
    * ordering ulp crosses the grid (the 100× ladder caught exactly
    * this on q146: 100/1.5M rows flipped). Passing the target's true
    * grain (e.g. `decimal(12,2)` for 2-dp money) makes Σ and Σ−y
    * exact so both engines divide bit-identical numerators. The
    * caller asserts the grain: a decimal cast FINER than the data is
    * lossless, a coarser one silently pre-rounds (the q05 discount
    * lesson), which is why this is opt-in rather than forced.
    */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
                      smoothing: Double = 20.0,
                      exactSumType: Option[String] = None): DataFrame = {
    require(smoothing > 0, "smoothing must be > 0 (a singleton " +
      "category divides by n-1+m = m)")
    val y = exactSumType match {
      case Some(t) => col(targetCol).cast(t)
      case None => col(targetCol).cast("double")
    }
    val perCat = df.groupBy(col(catCol))
      .agg(sum(y).as("_s"), count(y).as("_n"))
    // exact-decimal numerator ÷ exact count: both engines round the
    // same rational to the same double (avg() would accumulate in
    // engine-specific order/precision)
    val mu = df.agg((sum(y).cast("double") / count(y)).as("_mu"))
    df.join(perCat, Seq(catCol)).join(broadcast(mu))
      .withColumn("loo_enc",
        round(((col("_s") - y).cast("double")
            + lit(smoothing) * col("_mu")) /
          (col("_n") - lit(1) + lit(smoothing)) + lit(1e-9), 4))
      .drop("_s", "_n", "_mu")
  }

  /** Per-group winsorized robust scaling — the outlier-safe feature
    * normalization: clip each value into the group's exact
    * [pLo, pHi] percentile band, then min-max scale the band to [0, 1].
    * Robust where plain min-max collapses (one 1e9 outlier squashes
    * every honest value to ~0) and where z-scoring stays unbounded.
    *
    * Percentiles are the EXACT interpolated `percentile` (full-sort
    * cost per group, oracle-checkable vs `quantile_cont`); at 100 TB
    * swap `approx_percentile` — the q58/q62 trade, certified there by
    * the tolerance-gated oracle. The per-group band is a
    * |groups|-row aggregate joined back (AQE broadcasts it); the scale
    * step is then map-side. A degenerate band (pHi == pLo) yields null
    * `scaled` rather than a division blow-up.
    */
  def winsorizeScale(df: DataFrame, groupCol: String, valueCol: String,
                     pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    val v = col(valueCol).cast("double")
    val bands = df.groupBy(col(groupCol)).agg(
      percentile(v, lit(pLo)).as("_lo"),
      percentile(v, lit(pHi)).as("_hi"))
    val clip = least(greatest(v, col("_lo")), col("_hi"))
    df.join(bands, Seq(groupCol))
      .withColumn("clipped", round(clip + lit(1e-9), 4))
      .withColumn("scaled",
        when(col("_hi") > col("_lo"),
          round((clip - col("_lo")) / (col("_hi") - col("_lo"))
            + lit(1e-9), 4)))
      .drop("_lo", "_hi")
  }

  /** Hierarchical inclusive running count over a value-level frame —
    * the q179 grid-bucket prefix-sum, factored for every cumulative
    * rank/CDF/order-statistic site. A window partitioned only by a
    * FEW-VALUED group and ordered by value puts that group's whole
    * value frame in ONE task, and a 2-dp value grid keeps growing
    * until it saturates — per-task rows track the corpus until then
    * (the r12 q179 verdict item, enforced package-wide by
    * WindowScaleAuditSpec). Here instead: value counts → grid-bucket
    * totals → per-group bucket-summary exclusive prefix (rows per
    * partition = #buckets, bounded by the VALUE RANGE / width) →
    * broadcast bucket offsets + a within-bucket inclusive cumsum whose
    * partition holds only the distinct values inside one grid cell
    * (≤ 100·width cells for 2-dp values). All-long sums → the result
    * is bit-identical to the single-window inclusive cumsum at any
    * bucketing.
    *
    * `vals` must already be value-level (one row per (group, value));
    * `cntCol` is the long count to accumulate. A null value gets its
    * own minimal bucket so it orders exactly like the window's
    * NULLS FIRST and survives the equi-join on the bucket key.
    */
  def hierCumCounts(vals: DataFrame, groupCols: Seq[String],
                    valueCol: String, cntCol: String,
                    bucket: Column => Column, outCol: String)
  : DataFrame = {
    val gb = groupCols.map(col)
    val keyed = vals.withColumn("_bkt",
      when(col(valueCol).isNull, lit(Long.MinValue))
        .otherwise(bucket(col(valueCol)).cast("long")))
    val bw = Window.partitionBy(gb: _*).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = keyed.groupBy(gb :+ col("_bkt"): _*)
      .agg(sum(col(cntCol)).as("_btot"))
      .withColumn("_boff", coalesce(sum(col("_btot")).over(bw), lit(0L)))
      .select(gb :+ col("_bkt") :+ col("_boff"): _*)
    val vw = Window.partitionBy(gb :+ col("_bkt"): _*)
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.join(broadcast(boff), groupCols :+ "_bkt")
      .withColumn(outCol, col("_boff") + sum(col(cntCol)).over(vw))
      .drop("_bkt", "_boff")
  }

  /** Exact empirical-CDF (cume_dist) encoder table per group: for each
    * distinct (group, value), P(X ≤ value) — the rank-normalization
    * feature transform (uniform marginals, outlier-immune, the
    * monotone cousin of [[winsorizeScale]]).
    *
    * Built scale-correctly: a `cume_dist()` window straight over the
    * corpus partitions by GROUP — one task per group, a straggler at
    * 100 TB. Instead the corpus-sized stage is the (group, value)
    * count (key-partitioned, map-side combined); the cumulative count
    * is the [[hierCumCounts]] grid-bucket prefix-sum (per-task rows
    * bounded by a grid cell, never the per-group value frame — which
    * itself tracks the corpus until the value grid saturates), and the
    * per-group total is an aggregate broadcast back. Emitted as the
    * encoder TABLE (join or broadcast it onto rows downstream) — the
    * artifact a feature pipeline persists. Caveat: a continuous
    * all-unique value column makes the value-level frame corpus-sized;
    * discretize first ([[graft.operators.Profile.equiDepthBins]]) in
    * that regime. `bucketWidth` is the grid-cell width in value units
    * (≤ 100·width cells per task for 2-dp values).
    */
  def cumeDistEncode(df: DataFrame, groupCol: String, valueCol: String,
                     bucketWidth: Double = 10.0): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("value"))
      .agg(count(lit(1)).as("n"))
    val cum = hierCumCounts(counts, Seq(groupCol), "value", "n",
      v => floor(v / lit(bucketWidth)), "_cum")
    val tot = counts.groupBy(col(groupCol))
      .agg(sum(col("n")).as("_tot"))
    cum.join(broadcast(tot), Seq(groupCol))
      .select(col(groupCol), col("value"), col("n"),
        round(col("_cum").cast("double") / col("_tot").cast("double")
          + lit(1e-9), 4).as("cdf"))
  }

  /** Per-group ROC-AUC, exactly and WITHOUT a corpus sort: AUC is the
    * probability a random positive's score exceeds a random negative's
    * (ties ½), so it folds over the score HISTOGRAM —
    * `Σ_v pos(v)·(neg_below(v) + ½·neg(v)) / (n_pos·n_neg)` — rather
    * than over ranked rows. The rank formulation needs a per-group
    * sort of corpus rows (straggler task per group at 100 TB); this
    * needs one (group, score) count (key-partitioned, map-side
    * combined) and windows over the value-level frame, the
    * [[cumeDistEncode]] shape. Same bounded-domain caveat: discretize
    * a continuous score first. All arithmetic is exact (integer
    * counts, exact ·½ halves), so engines agree bit-for-bit before
    * the round. A group missing a class yields null.
    */
  def groupAuc(df: DataFrame, groupCol: String, labelCol: Column,
               scoreCol: String): DataFrame = {
    val h = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol).as("_v"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("_pos"),
        sum(when(labelCol, 0L).otherwise(1L)).as("_neg"))
    val wBelow = Window.partitionBy(col(groupCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("_negb",
        coalesce(sum(col("_neg")).over(wBelow), lit(0L)))
      .groupBy(col(groupCol)).agg(
        sum(col("_pos")).as("n_pos"), sum(col("_neg")).as("n_neg"),
        sum(col("_pos") * (col("_negb") + lit(0.5) * col("_neg")))
          .as("_num"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("_num") / (col("n_pos") * col("n_neg")).cast("double")
            + lit(1e-9), 4)).as("auc"))
  }

  /** Delete-a-group jackknife standard error of a per-group mean:
    * split rows into `folds` deterministic md5 folds (the
    * [[graft.ext.Sampling.hashScore]] currency — reproducible across
    * runs AND engines, unlike partition-based folds), compute each
    * leave-one-fold-out mean from the fold sums, and report
    * `SE = sqrt((k−1)/k · Σ (m_i − m̄)²)` — the uncertainty estimate
    * that needs no distributional assumption and no resampling pass.
    * One (group, fold) moment aggregate over the corpus; everything
    * after runs on k rows per group. The fold count trades bias for
    * cost exactly as in the survey-sampling literature (Efron &
    * Tibshirani 1993, ch. 11).
    */
  def jackknifeMean(df: DataFrame, groupCol: String, valueCol: String,
                    foldKeyCol: String, folds: Int = 10,
                    seed: Long = 42L): DataFrame = {
    val v = col(valueCol).cast("double")
    val byFold = df.filter(v.isNotNull)
      .groupBy(col(groupCol),
        (graft.ext.Sampling.hashScore(col(foldKeyCol).cast("string"),
          seed) % folds).as("_f"))
      .agg(sum(v).as("_s"), count(v).as("_n"))
    val tot = byFold.groupBy(col(groupCol))
      .agg(sum(col("_s")).as("_st"), sum(col("_n")).as("_nt"),
        count(lit(1)).as("_k"))
    val loo = byFold.join(tot, Seq(groupCol))
      .select(col(groupCol), col("_st"), col("_nt"), col("_k"),
        ((col("_st") - col("_s")) / (col("_nt") - col("_n")).cast("double"))
          .as("_m"))
    // two-pass deviations (join m̄ back, sum squares) rather than
    // E[m²] − m̄²: the one-pass form subtracts near-equal numbers and
    // amplifies cross-engine ulp noise into the tiny variance
    val mbar = loo.groupBy(col(groupCol)).agg(avg(col("_m")).as("_mbar"))
    loo.join(broadcast(mbar), Seq(groupCol))
      .groupBy(col(groupCol)).agg(
        max(col("_st")).as("_st"), max(col("_nt")).as("_nt"),
        max(col("_k")).as("_k"),
        sum((col("_m") - col("_mbar")) * (col("_m") - col("_mbar")))
          .as("_ss"))
      .select(col(groupCol),
        col("_nt").as("n"), col("_k").as("n_folds"),
        round(col("_st") / col("_nt").cast("double") + lit(1e-9), 4)
          .as("mean"),
        round(sqrt(((col("_k") - lit(1)).cast("double") / col("_k")) *
          col("_ss")) + lit(1e-9), 4).as("jk_se"))
  }

  /** Gini concentration of engagement per group — the long-tail /
    * popularity-skew diagnostic a recommender team watches (G → 0:
    * uniform interest across the catalog; G → 1: all interactions on
    * one item). Counts per (group, key), ranked ascending within the
    * group, then the classic rank formula on EXACT integers:
    * `G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n` — both engines derive the
    * double from the same integer sums, so 4-dp agreement is exact.
    *
    * The corpus-sized stage is the (group, key) count — key-partitioned
    * and map-side combined. The rank window runs over the COUNT frame
    * (catalog-bounded: ≤ |keys| rows per group, not corpus rows), the
    * only place a per-group sort is affordable at scale. Equal counts
    * contribute the same Σ i·x regardless of rank order within the tie,
    * so the keyCol tie-break is for determinism, not the value.
    */
  def giniConcentration(df: DataFrame, groupCol: String, keyCol: String)
  : DataFrame = {
    val counts = df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("_x"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_x"), col(keyCol))
    counts.withColumn("_i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_keys"),
        sum(col("_x")).as("total"),
        (round((lit(2.0) * sum(col("_i") * col("_x"))) /
          (count(lit(1)) * sum(col("_x"))).cast("double")
          - (count(lit(1)) + lit(1)).cast("double") / count(lit(1))
          + lit(1e-9), 4) + lit(0.0)).as("gini"))
  }

  /** MERGE INTO / CDC-apply: produce the next snapshot of `base` under a
    * change batch carrying an op column — 'U'/'I' rows replace-or-insert
    * by key, 'D' rows delete. The lakehouse upsert primitive (Delta/
    * Iceberg MERGE) expressed as ONE full-outer equi-join on the key:
    *   - key only in base → base row survives;
    *   - key in changes with op 'D' → dropped;
    *   - key in changes otherwise → the change row's values win.
    * One shuffle, both sides key-partitioned; nothing corpus-sized past
    * the join (and on bucketed tables — q108's staging — even that
    * shuffle elides). Changes must be one row per key (dedup a multi-op
    * batch to its last op first — [[dedupFirst]] family); this applies a
    * COMPACTED batch, deliberately: applying an uncompacted log is a
    * different operator (windowed last-writer-wins, q105's SCD-2 stack).
    *
    * @param changes same schema as base plus `opCol`
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keyCol: String,
               opCol: String): DataFrame = {
    val dataCols = base.columns.filterNot(_ == keyCol).toSeq
    val b = base.select(col(keyCol) +:
      dataCols.map(c => col(c).as(s"_b_$c")): _*)
    val ch = changes.select(col(keyCol) +:
      (dataCols.map(c => col(c).as(s"_c_$c")) :+ col(opCol).as("_op")): _*)
    b.join(ch, Seq(keyCol), "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
      .select(col(keyCol) +: dataCols.map(c =>
        when(col("_op").isNotNull, col(s"_c_$c"))
          .otherwise(col(s"_b_$c")).as(c)): _*)
  }

  /** Two-feature ridge regression (no intercept) in CLOSED FORM: solve
    * (XᵀX + λI)β = Xᵀy by Cramer's rule on the 2×2 normal equations.
    * Regression at 100 TB is ONE moment-aggregate pass — Σx₁², Σx₂²,
    * Σx₁x₂, Σx₁y, Σx₂y with map-side combine — followed by scalar
    * algebra on the single moment row; no solver iterations, nothing
    * corpus-sized past the aggregate (the [[giniConcentration]]/q92
    * one-pass statistics shape, widened to a multivariate system).
    * Ridge's λ on the diagonal is what makes the closed form safe on
    * collinear features (det → λ·trace instead of 0).
    *
    * Cross-engine: the moment sums are float-order-sensitive, the
    * algebra after them is a fixed chain — the q92 regr_slope class;
    * callers round coefficients (4 dp) for oracle comparison.
    *
    * Returns one row: (b1, b2, n).
    */
  def ridgeRegression2(df: DataFrame, yCol: String, x1Col: String,
                       x2Col: String, lambda: Double): DataFrame = {
    val (x1, x2, y) = (col(x1Col).cast("double"),
      col(x2Col).cast("double"), col(yCol).cast("double"))
    df.agg(
        sum(x1 * x1).as("_s11"), sum(x2 * x2).as("_s22"),
        sum(x1 * x2).as("_s12"), sum(x1 * y).as("_s1y"),
        sum(x2 * y).as("_s2y"), count(lit(1)).as("n"))
      .select(
        (((col("_s22") + lit(lambda)) * col("_s1y")
          - col("_s12") * col("_s2y")) /
          ((col("_s11") + lit(lambda)) * (col("_s22") + lit(lambda))
            - col("_s12") * col("_s12"))).as("b1"),
        (((col("_s11") + lit(lambda)) * col("_s2y")
          - col("_s12") * col("_s1y")) /
          ((col("_s11") + lit(lambda)) * (col("_s22") + lit(lambda))
            - col("_s12") * col("_s12"))).as("b2"),
        col("n"))
  }
}
