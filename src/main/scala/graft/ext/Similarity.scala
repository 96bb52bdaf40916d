package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a distributed scan of the corpus; exact, one pass, no
  * shuffle on the corpus side until the per-query top-k.
  *
  * Scale path: sign-LSH (random-hyperplane) bucketing — one signature
  * per band computed map-side, candidates paired by the shared banded
  * operator [[Dedup.bandPairs]] (one (band, bucket) equi-join), so the
  * pair count is bucket-local. Recall < 1 by construction; widen with
  * more bands.
  */
object Similarity {

  /** dot(a, b) in double precision, element order left-to-right
    * (deterministic, matches DuckDB's list functions). Backed by the
    * native codegen VectorDot expression; [[dotAlgebra]] keeps the
    * column-algebra formulation the equality spec compares against.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorDot(a, b)

  def dotAlgebra(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact brute-force top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast); `corpus` is unbounded.
    * Plan: BroadcastNestedLoopJoin (queries × corpus) → per-row cosine →
    * per-query top-k as a k-BOUNDED partial aggregate
    * ([[Relational.topKPerGroupAgg]]): each map task keeps at most k
    * candidates per query and ships only those, so the corpus is scanned
    * ONCE and never funnels through |queries| reducers — the ranking
    * stage scales with k×partitions, not with |corpus|×|queries|.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // fanOutForMapWork (r17, guide §2.5): the |queries|×|corpus| cosine
    // scoring and the k-bounded partial aggregate run in the corpus
    // scan stage — single-task on a one-row-group input
    val c = graft.sources.Tables.fanOutForMapWork(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_vec"), col("n_vec")))
    Relational.topKPerGroupAgg(scored, k, Seq("query_id"),
        col("cos"), col("neighbor_id"), "cos", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 → uniform sign. Generated inside the plan — no driver-side
    * randomness, reproducible across runs/clusters.
    */
  private def rademacher(plane: Int, d: Column): Column =
    when(xxhash64(lit(plane), d).bitwiseAND(1) === 1, lit(1.0)).otherwise(lit(-1.0))

  /** Sign-LSH signature: `planes` bits, bit i = sign of dot(vec, r_i)
    * with r_i a Rademacher vector. `planeOffset` selects a disjoint plane
    * family (for banding). Map-side only.
    */
  def signLshSignature(vec: Column, planes: Int, planeOffset: Int = 0)
  : Column = {
    val bits = (0 until planes).map { p =>
      val s = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * rademacher(planeOffset + p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(s > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Quantize a float/double vector column to integer fixed-point:
    * q_d = floor(x_d·scale + 0.5). From here on the sign-LSH vote
    * algebra is EXACT integer arithmetic — order-independent sums, no
    * float drift — which is what makes the portable twin (q297)
    * replayable by a SQL oracle: `floor` on a double is bit-exact in
    * every engine, where round-half modes differ. Mirrors DuckDB
    * `CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)`.
    */
  def quantizeVec(vec: Column, scale: Int): Column =
    transform(vec, x => floor(x.cast("double") * scale + 0.5).cast("long"))

  /** ENGINE-PORTABLE sign-LSH signature (the q297 twin's sig half):
    * the same random-hyperplane math as [[signLshSignature]] — bit p =
    * sign of ⟨vec, r_p⟩ with r_p a Rademacher vector — but with the
    * plane signs drawn from md5 parity instead of xxhash64, and the
    * vector pre-quantized to integers ([[quantizeVec]]) so the
    * projection sums are exact and a SQL oracle replays them
    * bit-identically. sign(p, d) = +1 iff the first hex char of
    * md5("p:d") is odd (Spark `conv(substring(md5(…),1,1),16,10)` ≡
    * DuckDB `('0x'||substr(md5(…),1,1))::BIGINT`).
    *
    * Scale shape: explode to (id, d, q) rows and take the `planes`
    * signed sums as plain aggregates (map-side combine) — the same
    * CollapseProject-avoidance as [[graft.ext.Dedup.simhashPortableSigs]];
    * everything downstream of the groupBy is |vectors|-sized. The
    * `planes` md5 calls per (id, d) row depend only on (p, d) —
    * callers stage the sig frame corpus-keyed (q295/q296's contract)
    * so the sweep is billed once per corpus snapshot.
    */
  def signLshPortableSigs(df: DataFrame, idCol: String, qvecCol: String,
                          planes: Int = 32): DataFrame = {
    require(planes <= 62, "sig must fit a signed long")
    val rows = df.select(col(idCol), col(qvecCol))
      .repartition(col(idCol))
      .select(col(idCol), posexplode(col(qvecCol)).as(Seq("_d", "_qv")))
    def sign(p: Int): Column =
      when(conv(substring(md5(concat(lit(s"$p:"),
            col("_d").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2 === 1, lit(1L))
        .otherwise(lit(-1L))
    rows.select(col(idCol) +:
        (0 until planes).map(p => (col("_qv") * sign(p)).as(s"_w$p")): _*)
      .groupBy(col(idCol))
      .agg(sum(col("_w0")).as("_s0"),
        (1 until planes).map(p => sum(col(s"_w$p")).as(s"_s$p")): _*)
      .select(col(idCol),
        (0 until planes).map(p =>
          when(col(s"_s$p") > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Corpus-adaptive plane count: the smallest `p >= floor` with
    * n / 2^p <= targetBucketRows, capped at 62 (bucket is a signed-long
    * bit-OR). Expected bucket occupancy stays ≈ target as the corpus
    * grows, so Σ occupancy² — the bucket self-join's candidate-pair
    * budget — stays ∝ n. Pure so LshRecallAtScaleSpec and the scale
    * audits can pin the exact parameterization the shipped path uses.
    */
  def adaptivePlanes(n: Long, floor: Int, targetBucketRows: Int): Int = {
    require(targetBucketRows > 0, "targetBucketRows must be positive")
    // integer ceil-log2 — smallest p with n <= target * 2^p, expressed
    // as ((n-1) >> p) < target so no intermediate can overflow. The
    // former double-log form could land at 4.0000000000000004 at exact
    // power-of-two knees and bump a plane one doubling early (ADVICE
    // r15); this is exact by construction.
    val m = math.max(1L, n)
    var p = 0
    while (p < 62 && ((m - 1) >> p) >= targetBucketRows) p += 1
    math.min(62, math.max(floor, p))
  }

  /** ONE resolution of the effective plane count for the operator and
    * its diagnostics ([[lshNearNeighbors]], [[lshBucketStats]]) — the
    * stats companion's "same parameterization" guarantee is this shared
    * code path, not a hand-kept copy. The count is an EAGER job at
    * construction time (ADVICE r15): metadata-cheap on a scan-backed
    * frame, but an uncached DERIVED input (join/agg/explode upstream)
    * gets evaluated twice — warn so the cost is observable.
    */
  private def effectivePlanes(df: DataFrame, planes: Int,
                              targetBucketRows: Int): Int =
    if (targetBucketRows > 0) {
      // cheap storageLevel check FIRST (ADVICE r16): a directly-cached
      // input never warns, so the common case skips forcing the
      // analyzer/optimizer pass the derived-shape probe needs
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, Window => LWindow}
        import org.apache.spark.sql.execution.columnar.InMemoryRelation
        val plan = df.queryExecution.optimizedPlan
        val derived = plan.find {
          case _: Join | _: Aggregate | _: Generate | _: LWindow => true
          case _ => false
        }.isDefined
        // a cached ANCESTOR shows up as an InMemoryRelation subtree
        // (withCachedData substitutes it before optimization): the
        // re-evaluation is then only the cheap tail above the cache,
        // so it does not warrant the warning (ADVICE r16)
        val cachedBelow =
          plan.find(_.isInstanceOf[InMemoryRelation]).isDefined
        if (derived && !cachedBelow)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "sign-LSH: adaptive-planes count() over an uncached derived " +
              "input evaluates it twice - cache the input or pass " +
              "targetBucketRows=0 with explicit planes")
      }
      adaptivePlanes(df.count(), planes, targetBucketRows)
    } else planes

  /** Per-band sign-LSH bucket keys: band k hashes with its own
    * disjoint family of `planes` planes. The one key construction
    * behind [[lshNearNeighbors]] and [[lshBucketStats]].
    */
  private def signLshKeys(vec: Column, planes: Int, bands: Int): Seq[Column] =
    (0 until bands).map(k => signLshSignature(vec, planes, k * planes))

  /** Approximate near-neighbor pairs: same sign-LSH bucket in ANY band →
    * exact cosine ≥ threshold. Candidates come from
    * [[Dedup.bandPairs]], whose join key is (band, bucket), so
    * candidate generation is linear in bucket occupancy — the
    * 100 TB-safe shape.
    *
    * `bands` is the recall knob: each band hashes with its own disjoint
    * plane family, and a pair qualifies if any band agrees — recall goes
    * from p (one band) to 1−(1−p)^bands for candidate-probability p,
    * at the cost of `bands`× posting rows. Pairs agreeing in several
    * bands are kept once, at their FIRST agreeing band.
    *
    * Scale safety — two independent guards, both ON by default, keep
    * the band-bucket self-join's candidate budget O(corpus) instead of
    * O(corpus²) as the corpus outgrows a fixed plane count:
    *
    *  - `targetBucketRows > 0` makes `planes` CORPUS-ADAPTIVE via
    *    [[adaptivePlanes]], from one count() of `df` (a metadata-cheap
    *    job on a parquet scan; callers passing an expensive DERIVED
    *    frame should cache it, since the count adds one evaluation).
    *    Expected bucket occupancy stays ≈ target and Σ occupancy² —
    *    the pair budget — stays ∝ n. `planes` is then a floor, not a
    *    constant: at n ≤ target·2^planes nothing changes (all existing
    *    fixtures and the sf0.1 bench corpus are below it for the
    *    shipped planes=4/target=128), beyond it each corpus doubling
    *    adds one plane. Recall for near-identical pairs decays only
    *    geometrically in planes ((1−θ/π)^planes ≈ 0.996^p at
    *    cos ≈ 0.999), re-pinned in LshRecallAtScaleSpec at the grown
    *    rung; for mid-similarity pairs this is the standard LSH
    *    precision/recall dial, compensated by `bands` if a caller needs
    *    a recall guarantee far from 1.0.
    *  - `maxBucketRows > 0` hard-caps per-(band,bucket) occupancy by
    *    rank-truncation of the postings before pairing (row_number over
    *    the bucket window, ordered by id — deterministic), the
    *    posting-cap discipline of the dedup family
    *    (Dedup.sharedSpanPairs' maxPostingDf) adapted to keep the cap's
    *    survivors rather than drop the hot key outright (a hot LSH
    *    bucket still holds real neighbors; a hot shingle is
    *    boilerplate). The window rides the same hash exchange the
    *    self-join needs, so the cap adds no extra shuffle. This bounds
    *    the worst case (adversarial/degenerate vectors collapsing to
    *    one bucket) that the expectation argument above can't. With
    *    `bands > 1` the cap composes CONSERVATIVELY with the
    *    first-agreeing-band dedup: a pair truncated out of its first
    *    agreeing band is dropped even if both rows survive in a later
    *    band (recall-only effect, never duplication).
    */
  def lshNearNeighbors(df: DataFrame, threshold: Double, planes: Int = 12,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       bands: Int = 1, targetBucketRows: Int = 128,
                       maxBucketRows: Int = 4096)
  : DataFrame = {
    val planesEff = effectivePlanes(df, planes, targetBucketRows)
    // partitioning by the join key means the row_number exchange is
    // exactly the one the self-join reuses on each side
    def capOccupancy(postings: DataFrame): DataFrame =
      if (maxBucketRows > 0) {
        import org.apache.spark.sql.expressions.Window
        val key = Seq(col("band"), col("bucket"))
        postings.repartition(key: _*)
          .withColumn("_rn", row_number().over(
            Window.partitionBy(key: _*).orderBy(col(idCol))))
          .filter(col("_rn") <= maxBucketRows).drop("_rn")
      } else postings
    // compute each vector's norm ONCE before the pair join and carry it
    // through as a scalar (the join node blocks project-collapse, so it
    // cannot be re-inlined); per-pair work is then one dot + one divide
    // instead of dot + two norm recomputations per candidate pair
    Dedup.bandPairs(
        df.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("_norm")),
        idCol, signLshKeys(col(vecCol), planesEff, bands),
        Seq(vecCol, "_norm"), capOccupancy)
      .withColumn("cos", round(dot(col(s"${vecCol}_a"), col(s"${vecCol}_b")) /
        (col("_norm_a") * col("_norm_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Diagnostic companion to [[lshNearNeighbors]]: per-(band, bucket)
    * posting occupancy under the SAME plane parameterization (adaptive
    * knee included) and the same keys, so an engaged `maxBucketRows`
    * cap is OBSERVABLE instead of silent (ADVICE r15) — any row with
    * `occupancy > maxBucketRows` is a bucket the pair join truncated
    * (recall-only, survivors are the cap smallest ids). One groupBy on
    * the join key; no pair join is run. Columns: band, bucket,
    * occupancy.
    */
  def lshBucketStats(df: DataFrame, planes: Int = 12,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     bands: Int = 1, targetBucketRows: Int = 128)
  : DataFrame = {
    val planesEff = effectivePlanes(df, planes, targetBucketRows)
    // outer, as in Dedup.bandPairs: an inner generator would re-run
    // every signature in an inferred `size(...) > 0` filter
    df.select(posexplode_outer(
        array(signLshKeys(col(vecCol), planesEff, bands): _*))
        .as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("occupancy"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` (broadcast), so queries only scan matching partitions.
    * Centroid choice is caller's (e.g. a sample + k-means, or hashing);
    * here any small (centroid_id, vector) DataFrame works.
    */
  def ivfAssign(df: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding",
                cIdCol: String = "centroid_id", cVecCol: String = "centroid")
  : DataFrame = {
    // NO fan-out (r18, VERDICT r17 #8): the r17 placement's own isolated
    // numbers were already negative (0.369→~0.51 s) and the r18 A/B
    // confirmed it (q38 0.296 s off vs 0.462 s on) — an 8-centroid
    // cosine argmax per row is cheaper than the exchange. Removed.
    // (bruteForceKnn keeps its fan-out: |queries|×|corpus| scoring is
    // orders of magnitude more work per scanned row.)
    val joined = df
      .join(broadcast(centroids))
      .withColumn("cos", cosine(col(vecCol), col(cVecCol)))
    Relational.topKPerGroup(joined, 1, Seq(idCol),
        Seq(col("cos").desc, col(cIdCol)))
      .select(col(idCol), col(cIdCol), round(col("cos"), 4).as("centroid_cos"))
  }

  /** One Lloyd's k-means iteration as a pure DataFrame transform — the
    * centroid builder IVF needs (ivfAssign/ivfSearch take centroids from
    * the caller). Assignment is the same broadcast argmax-cosine as
    * [[ivfAssign]] (same tie-break, so the two stay consistent); the new
    * centroid is the element-wise mean of the members, rebuilt in
    * dimension order. Returns (centroid_id, n_members, centroid:
    * array<double>).
    *
    * Iterate by feeding `centroid` back as the next round's centroids:
    * only the k-row centroid frame crosses iterations (k×dim doubles), so
    * the caller's loop is driver-cheap while every data-sized operation
    * stays distributed. Empty clusters drop out (inner join semantics) —
    * standard Lloyd behavior.
    */
  def kmeansStep(df: DataFrame, centroids: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 cIdCol: String = "centroid_id", cVecCol: String = "centroid")
  : DataFrame = {
    // keep the vector through the argmax window instead of re-joining it
    val joined = df.join(broadcast(centroids))
      .withColumn("_cos", cosine(col(vecCol), col(cVecCol)))
    val asg = Relational.topKPerGroup(joined, 1, Seq(idCol),
        Seq(col("_cos").desc, col(cIdCol)))
      .select(col(cIdCol), col(vecCol))
    val dims = asg
      .select(col(cIdCol), posexplode(col(vecCol)).as(Seq("_pos", "_v")))
      .groupBy(col(cIdCol), col("_pos"))
      .agg(avg(col("_v").cast("double")).as("_m"),
        count(lit(1)).as("_n"))
    dims.groupBy(col(cIdCol))
      .agg(
        transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m")).as(cVecCol),
        max(col("_n")).as("n_members"))
      .select(col(cIdCol), col("n_members"), col(cVecCol))
  }

  /** Lloyd's k-means to a movement fixpoint: repeat [[kmeansStep]] until
    * the largest centroid L2 movement drops below `eps`, or `maxIter`
    * rounds — the full IVF centroid builder (kmeansStep alone is one
    * iteration; ivfAssign/ivfSearch take the result as their `centroids`).
    *
    * Every data-sized operation stays distributed; the ONLY rows that
    * ever reach the driver are the k new centroids per round (k×dim
    * doubles — the bound documented at [[kmeansStep]]). That collect is
    * load-bearing twice over: the fixpoint test needs the values, and
    * re-seeding the next round from a LITERAL k-row frame keeps every
    * iteration's logical plan the same size (feeding the step's output
    * plan back into itself would compound the lineage per round).
    * Clusters that empty out drop from the frame (standard Lloyd).
    *
    * Returns (centroid_id, centroid) for the final round.
    */
  def kmeans(df: DataFrame, init: DataFrame, maxIter: Int = 10,
             eps: Double = 1e-4,
             idCol: String = "vec_id", vecCol: String = "embedding",
             cIdCol: String = "centroid_id", cVecCol: String = "centroid")
  : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the ONLY collect in this codebase: k rows of k×dim doubles — the
    // fixpoint needs the values on the driver and re-seeding from a
    // literal frame keeps iteration plans constant-size (see scaladoc)
    def toLocal(frame: DataFrame): Map[Long, Array[Double]] = frame
      .select(col(cIdCol).cast("long"), col(cVecCol).cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def toFrame(m: Map[Long, Array[Double]]): DataFrame =
      m.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }
        .toDF(cIdCol, cVecCol)
    var cur = toLocal(init)
    var moved = Double.MaxValue
    var it = 0
    while (it < maxIter && moved >= eps) {
      val next = toLocal(
        kmeansStep(df, toFrame(cur), idCol, vecCol, cIdCol, cVecCol))
      // movement over surviving clusters (k×dim driver-side doubles)
      moved = next.map { case (id, v) =>
        cur.get(id).fold(Double.MaxValue) { p =>
          math.sqrt(v.zip(p).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
      }.foldLeft(0.0)(math.max)
      cur = next
      it += 1
    }
    toFrame(cur)
  }

  /** IVF probe search: rank, for each query, the corpus vectors living
    * in the query's `nprobe` closest centroid cells. The corpus is
    * scanned once to build (vector, cell) assignments; each query joins
    * only its probed cells — at scale, the scan per query drops from
    * |corpus| to nprobe/|centroids| of it, the IVF trade: recall is
    * bounded by whether the true neighbor's cell is probed.
    *
    * Deterministic given (corpus, centroids, queries): the result is the
    * exact cosine top-k within the probed cells, so it IS oracle-
    * checkable, unlike sampling-based ANN.
    */
  def ivfSearch(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
                nprobe: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val corpusCells = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec")),
        "neighbor_id")
    val probed = Relational.topKPerGroup(
        queries.join(broadcast(centroids))
          .withColumn("cos", cosine(col(vecCol), col("centroid"))),
        nprobe, Seq(idCol), Seq(col("cos").desc, col("centroid_id")))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("centroid_id"))
    val candidates = probed.join(corpusCells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("pair_cos", cosine(col("q_vec"), col("n_vec")))
    // final ranking shares bruteForceKnn's k-bounded partial-agg shape:
    // probed candidates never funnel into |queries| window reducers
    Relational.topKPerGroupAgg(candidates, k, Seq("query_id"),
        col("pair_cos"), col("neighbor_id"), "pair_cos", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("pair_cos"))
  }

  // ---- Product quantization (ADC search over compressed codes) ----

  /** PQ codebook: `m` subspaces × ≤k centroids × `dsub` doubles — the
    * driver-held model (a few KB) that turns a raw embedding scan into
    * a code scan. Centroids within a subspace are ordered (stable code
    * assignment); empty clusters may shrink a subspace below k
    * (standard Lloyd behavior, harmless — codes index survivors).
    */
  case class PqModel(m: Int, dsub: Int,
                     codebook: IndexedSeq[IndexedSeq[Array[Double]]]) {
    require(codebook.length == m && codebook.forall(_.nonEmpty))
    /** Subspace-j centroids as a literal array<array<double>> column. */
    private[graft] def centsLit(j: Int): Column =
      array(codebook(j).map(c => array(c.map(lit): _*)): _*)
  }

  /** Train a PQ codebook: per-subspace Lloyd's k-means (reuses
    * [[kmeans]], so every data-sized op stays distributed; only the
    * m×k×dsub centroid doubles ever reach the driver). Init is the k
    * smallest-id vectors' sub-slices — deterministic, same convention
    * as the declared IVF queries. m small (4–16) ⇒ the m training
    * loops are a bounded number of Spark jobs, amortized over every
    * subsequent encode/search of the corpus.
    */
  def pqTrain(df: DataFrame, m: Int, k: Int, maxIter: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding")
  : PqModel = {
    val dim = df.select(size(col(vecCol)).as("_d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val cb = (0 until m).map { j =>
      val sub = df.select(col(idCol),
        slice(col(vecCol), j * dsub + 1, dsub).as(vecCol))
      val init = sub.orderBy(col(idCol)).limit(k)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid"))
      kmeans(sub, init, maxIter, eps = 1e-6, idCol, vecCol)
        .select(col("centroid_id").cast("long"),
          col("centroid").cast("array<double>"))
        .collect().sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray).toIndexedSeq
    }
    PqModel(m, dsub, cb)
  }

  /** Encode each vector as `m` small codes — nearest sub-centroid per
    * subspace (squared L2, first-min tie-break). Pure map-side: the
    * codebook rides the plan as literals, sub-vectors are STAGED as
    * attributes before the HOF lambdas touch them (the O(L²)
    * lambda-capture trap), and the output (idCol, codes array<int>) is
    * the ~32×-compressed corpus the ADC scan reads instead of raw
    * vectors — at 100 TB that factor is the difference between an
    * in-memory scan and an I/O-bound one.
    */
  def pqEncode(df: DataFrame, model: PqModel,
               idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val staged = df.select(col(idCol) +: (0 until model.m).map(j =>
      slice(col(vecCol), j * model.dsub + 1, model.dsub).as(s"_sub$j")): _*)
    val codes = (0 until model.m).map { j =>
      val scores = transform(model.centsLit(j), c =>
        aggregate(zip_with(col(s"_sub$j"), c,
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (a, v) => a + v))
      (array_position(scores, array_min(scores)) - 1).cast("int")
    }
    staged.select(col(idCol), array(codes: _*).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k search: each query precomputes a
    * per-subspace lookup table lut[j][c] = dot(q_subⱼ, centroid_jc)
    * (m×k doubles, broadcast with the query), the corpus CODE stream is
    * scored with m array lookups + adds per row — no vector arithmetic,
    * no raw-embedding I/O — and the top-`rerank` candidates per query
    * (k-bounded partial aggregate, q33's shape) are re-ranked EXACTLY
    * against the raw vectors. Recall is governed by (m, k, rerank);
    * the exact re-rank makes reported cosines true cosines.
    */
  def pqSearch(corpus: DataFrame, model: PqModel, queries: DataFrame,
               k: Int, rerank: Int,
               idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val codes = pqEncode(corpus, model, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val scored = codes.join(broadcast(pqQueryLut(queries, model, idCol, vecCol)),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", adcApprox(model))
    adcRerank(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** IVF × PQ: the full large-scale ANN architecture — coarse cells
    * restrict WHICH codes each query scans (ivfSearch's probe), the PQ
    * codes make that scan read 16-byte codes instead of raw vectors
    * (pqSearch's ADC), and the exact re-rank restores true cosines.
    * At 100 TB both levers matter: nprobe/|cells| cuts the scan's row
    * count, the code width cuts its bytes — combined, a full-corpus
    * vector scan becomes a small fraction of a compressed one. With
    * `nprobe = |centroids|` this degrades EXACTLY to [[pqSearch]]
    * (spec-pinned), the same way probing every cell makes
    * [[ivfSearch]] brute force.
    */
  def ivfPqSearch(corpus: DataFrame, centroids: DataFrame, model: PqModel,
                  queries: DataFrame, nprobe: Int, k: Int, rerank: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val coded = pqEncode(corpus, model, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
      .join(ivfAssign(corpus, centroids, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col("centroid_id")),
        Seq("neighbor_id"))
    val probed = Relational.topKPerGroup(
        queries.join(broadcast(centroids))
          .withColumn("cos", cosine(col(vecCol), col("centroid"))),
        nprobe, Seq(idCol), Seq(col("cos").desc, col("centroid_id")))
      .select(col(idCol).as("query_id"), col("centroid_id"))
    val q = pqQueryLut(queries, model, idCol, vecCol)
      .join(probed, Seq("query_id")) // nprobe rows per query
    val scored = coded.join(broadcast(q), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", adcApprox(model))
    adcRerank(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** Per-query ADC lookup table: lut[j][c] = dot(q_subⱼ, centroid_jc),
    * staged sub-vectors (lambda-capture trap). (query_id, _lut).
    */
  private def pqQueryLut(queries: DataFrame, model: PqModel,
                         idCol: String, vecCol: String): DataFrame = {
    val qStaged = queries.select(col(idCol).as("query_id") +:
      (0 until model.m).map(j =>
        slice(col(vecCol), j * model.dsub + 1, model.dsub).as(s"_qs$j")): _*)
    val lut = array((0 until model.m).map { j =>
      transform(model.centsLit(j), c =>
        aggregate(zip_with(col(s"_qs$j"), c,
            (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v))
    }: _*)
    qStaged.select(col("query_id"), lut.as("_lut"))
  }

  /** Σⱼ lut[j][codes[j]] — the ADC approximate inner product: m array
    * lookups + adds per candidate row, no vector arithmetic.
    */
  private def adcApprox(model: PqModel): Column =
    (0 until model.m).map(j =>
      element_at(element_at(col("_lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)

  /** Top-`rerank` by ADC score (k-bounded partial aggregate), then
    * EXACT cosine re-rank of only those candidates against the raw
    * vectors — shared tail of [[pqSearch]] and [[ivfPqSearch]].
    */
  private def adcRerank(scored: DataFrame, corpus: DataFrame,
                        queries: DataFrame, k: Int, rerank: Int,
                        idCol: String, vecCol: String): DataFrame = {
    val cands = Relational.topKPerGroupAgg(scored, rerank, Seq("query_id"),
        col("approx"), col("neighbor_id"), "approx", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"))
    val exact = cands
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("n_vec")), "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))), "query_id")
      .withColumn("cos", cosine(col("q_vec"), col("n_vec")))
    Relational.topKPerGroupAgg(exact, k, Seq("query_id"),
        col("cos"), col("neighbor_id"), "cos", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein,
    * SIGIR'98) — greedy diversified top-`select` from the `candidates`
    * nearest neighbors of a query:
    *
    *   next = argmax_d  λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)
    *
    * the retrieval-diversification step a RAG / training-data pipeline
    * runs so a near-duplicate cluster cannot monopolize a context
    * window or a sampled subset.
    *
    * Distribution contract: the corpus-sized work is the candidate cut
    * — ONE broadcast-query scan ending in a k-bounded top-k (exactly
    * [[bruteForceKnn]]'s shape, never a corpus² pair join). The greedy
    * selection then runs on the driver over the candidates'
    * `candidates²` pairwise cosines — bounded by LITERAL parameters
    * (20² doubles here), independent of corpus size, the same
    * documented k×dim-driver-read class as [[kmeans]]'s fixpoint. A
    * distributed formulation would run `select` argmax jobs over ≤20
    * rows — strictly more cluster round-trips for the same answer.
    *
    * Returns (rank, idCol, mmr) — selection order, raw (unrounded)
    * mmr score at selection time; λ·sim(q,·) for the first pick.
    */
  def mmrSelect(corpus: DataFrame, queryVec: DataFrame, lambdaRel: Double,
                candidates: Int, select: Int,
                idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    // the greedy stage collects a candidates² pair-sim matrix to the
    // driver — bounded by THIS parameter, so cap it where the driver
    // surface is still trivially safe (2048² doubles ≈ 32 MB). Beyond
    // that, re-rank with a distributed top-penalty aggregate instead.
    require(candidates <= 2048,
      s"mmrSelect collects a candidates^2 pair-similarity matrix on the " +
        s"driver; candidates=$candidates exceeds the 2048 guard")
    val spark = corpus.sparkSession
    val cand = corpus
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .join(broadcast(queryVec))
      .withColumn("_simq", cosine(col("_v"), col("q_vec")))
      .orderBy(col("_simq").desc, col("_id"))
      .limit(candidates)
      .select(col("_id"), col("_v"), col("_simq"))
    val c = graft.core.Caches.cached(cand)
    val simq = c.select(col("_id"), col("_simq")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = c.select(col("_id").as("_ia"), col("_v").as("_va"))
    val b = c.select(col("_id").as("_ib"), col("_v").as("_vb"))
    val pair = a.join(b, col("_ia") < col("_ib"))
      .select(col("_ia"), col("_ib"), cosine(col("_va"), col("_vb")).as("_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    c.unpersist(false)
    def sim(x: Long, y: Long): Double =
      if (x < y) pair((x, y)) else pair((y, x))
    // greedy: scala mirrors the oracle's IEEE op order exactly
    // (λ·simq − (1−λ)·maxSim, both literal doubles)
    val oneMinus = 1.0 - lambdaRel
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val remaining = scala.collection.mutable.SortedSet(simq.keys.toSeq: _*)
    for (step <- 1 to math.min(select, remaining.size)) {
      val best = remaining.map { d =>
        val penalty =
          if (picked.isEmpty) 0.0
          else picked.map(p => sim(d, p._2)).max
        (d, lambdaRel * simq(d) - oneMinus * penalty)
      }.maxBy { case (d, s) => (s, -d) }
      picked += ((step, best._1, best._2))
      remaining -= best._1
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", idCol, "mmr")
      .select(col("rank").cast("long"), col(idCol), col("mmr"))
  }

  /** Per-dimension int8 scalar-quantization model: `lo(i)`/`hi(i)` are
    * the corpus min/max of dimension i. The OTHER standard vector
    * compression next to [[PqModel]]: where PQ trades accuracy for
    * 16-byte codes via learned centroids, SQ is training-light (one
    * min/max aggregate) and keeps one byte PER DIMENSION — a fixed 4×
    * over float32 with no codebook to ship or retrain on drift.
    */
  case class SqModel(lo: IndexedSeq[Double], hi: IndexedSeq[Double]) {
    require(lo.length == hi.length && lo.nonEmpty)
    private[graft] def loLit: Column = array(lo.map(lit): _*)
    private[graft] def rangeLit: Column =
      array(lo.indices.map(i => lit(hi(i) - lo(i))): _*)
  }

  /** Train the SQ bounds: one per-dimension min/max aggregate.
    * posexplode feeds a groupBy(dim) whose map-side combine collapses
    * each partition to d rows before the shuffle — at 100 TB the
    * exchange carries partitions×d doubles, not N×d. Only the 2×d
    * bound doubles reach the driver (the documented k×dim read class).
    */
  def sqTrain(df: DataFrame, vecCol: String = "embedding"): SqModel = {
    val bounds = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("_d", "_v")))
      .groupBy(col("_d")).agg(min(col("_v")).as("_lo"), max(col("_v")).as("_hi"))
      .collect().sortBy(_.getInt(0))
    SqModel(bounds.map(_.getDouble(1)).toIndexedSeq,
      bounds.map(_.getDouble(2)).toIndexedSeq)
  }

  /** Encode each vector as d uint8 codes,
    * `round((v−lo)/range·255)` clamped to [0, 255] (zero-range dims →
    * code 0). Pure map-side; the bounds ride the plan as literals. The
    * chain (cast, subtract, divide, multiply, HALF_UP round) is fixed
    * correctly-rounded double arithmetic — bit-identical cross-engine,
    * so the codes are EXACT integers an oracle can reproduce.
    */
  def sqEncode(df: DataFrame, model: SqModel,
               idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val shifted = zip_with(col(vecCol), model.loLit,
      (x, l) => x.cast("double") - l)
    val codes = zip_with(shifted, model.rangeLit, (x, r) =>
      when(r === 0, lit(0)).otherwise(
        least(greatest(round(x / r * 255, 0), lit(0.0)), lit(255.0))
          .cast("int")))
    df.select(col(idCol), codes.as("codes"))
  }

  /** Symmetric quantized top-k: score = integer dot of the uint8 codes
    * (≤ 255²·d — exact long, engine-exact, no float tie ambiguity).
    * Same shape as [[bruteForceKnn]] — broadcast query codes against
    * one scan of the CODE stream (¼ the bytes of float32), ranking via
    * the k-bounded partial aggregate — but no raw-vector I/O at all;
    * compose with an exact re-rank (adcRerank's pattern) when true
    * cosines matter more than the 4× scan saving.
    */
  def sqSearch(corpus: DataFrame, model: SqModel, queries: DataFrame,
               k: Int, idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val c = sqEncode(corpus, model, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes").as("n_codes"))
    val q = sqEncode(queries, model, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("codes").as("q_codes"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", aggregate(
        zip_with(col("q_codes"), col("n_codes"), (a, b) => a * b),
        lit(0L), (acc, v) => acc + v))
    Relational.topKPerGroupAgg(scored, k, Seq("query_id"),
        col("qdot"), col("neighbor_id"), "_s", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("_s").cast("long").as("qdot"))
  }
}
