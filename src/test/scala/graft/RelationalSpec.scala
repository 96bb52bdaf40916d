package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SparkTestBase {
  import spark.implicits._

  test("unionDedup: union + any-null drop + key dedup (model-als.py:107-109)") {
    val a = Seq((1, 10, 5.0), (1, 11, 4.0), (2, 10, 3.0)).toDF("u", "i", "r")
    val b = Seq((1, 10, 2.0), (3, 12, 1.0)).toDF("u", "i", "r")
    val withNull = a.union(Seq((4, 13, null.asInstanceOf[java.lang.Double]))
      .toDF("u", "i", "r").select($"u", $"i", $"r".cast("double")))
    val out = Relational.unionDedup(Seq(withNull, b), Seq("u", "i"))
    assert(out.count() === 4) // (1,10) deduped, null row dropped
    assert(out.filter($"u" === 4).count() === 0)
  }

  test("dedupFirst keeps deterministic winner per key") {
    val df = Seq((1, "a", 3L), (1, "a", 1L), (1, "b", 2L), (2, "a", 9L))
      .toDF("k", "t", "seq")
    val out = Relational.dedupFirst(df, Seq("k", "t"), Seq($"seq"))
      .orderBy($"k", $"t").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 2L, 9L))
  }

  test("dedup is idempotent") {
    val df = Seq((1, 1), (1, 1), (1, 2), (2, 1)).toDF("a", "b")
    val once = Relational.dedupFirst(df, Seq("a", "b"), Seq($"a"))
    val twice = Relational.dedupFirst(once, Seq("a", "b"), Seq($"a"))
    assert(once.count() === 3 && twice.count() === 3)
  }

  test("topK fuses to TakeOrderedAndProject (no global sort at scale)") {
    val df = Seq(3, 1, 4, 1, 5, 9, 2, 6).toDF("x")
    val top = Relational.topK(df, 3, $"x".desc)
    assert(top.collect().map(_.getInt(0)).toSeq === Seq(9, 6, 5))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k fusion:\n$plan")
  }

  test("topKPerGroup returns k best per group with rank") {
    val df = Seq(("g1", 1.0), ("g1", 3.0), ("g1", 2.0), ("g2", 5.0))
      .toDF("g", "v")
    val out = Relational.topKPerGroup(df, 2, Seq("g"), Seq($"v".desc))
      .orderBy($"g", $"rank").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("g1", 3.0), ("g1", 2.0), ("g2", 5.0)))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofJoin takes the latest right row at or before each left ts") {
    val quotes = Seq(
      (1, ts("2024-01-01 09:00:00"), 10.0),
      (1, ts("2024-01-01 09:30:00"), 11.0),
      (2, ts("2024-01-01 09:00:00"), 99.0))
      .toDF("k", "qts", "price")
    val trades = Seq(
      (1, ts("2024-01-01 09:15:00"), "t1"), // between the two quotes → 10.0
      (1, ts("2024-01-01 09:30:00"), "t2"), // equal ts is inclusive → 11.0
      (1, ts("2024-01-01 08:00:00"), "t3"), // before any quote → null
      (3, ts("2024-01-01 12:00:00"), "t4")) // key with no quotes → null
      .toDF("k", "tts", "trade")
    val out = Relational.asofJoin(trades, quotes, Seq("k"), "tts", "qts",
        Seq(("price", "quote_price")))
      .select($"trade", $"quote_price")
      .as[(String, Option[Double])].collect().toMap
    assert(out === Map("t1" -> Some(10.0), "t2" -> Some(11.0),
      "t3" -> None, "t4" -> None))
  }

  test("rangeJoinBucketed pairs rows within [ts, ts+gap) across buckets") {
    val left = Seq((1, ts("2024-01-01 10:00:00"), "L1")).toDF("k", "lts", "l")
    val right = Seq(
      (1, ts("2024-01-01 10:00:00"), "same-instant"), // >= inclusive
      (1, ts("2024-01-01 10:09:59"), "in-window"),
      (1, ts("2024-01-01 10:10:00"), "at-gap-excluded"),
      (1, ts("2024-01-01 09:59:59"), "before-excluded"),
      (2, ts("2024-01-01 10:05:00"), "other-key"))
      .toDF("k", "rts", "r")
    val got = Relational.rangeJoinBucketed(left, right, Seq("k"),
        "lts", "rts", gapMicros = 10L * 60 * 1000000)
      .select($"r").as[String].collect().toSet
    assert(got === Set("same-instant", "in-window"))
  }

  test("topK aggregator: exact top-k with k-bounded buffers") {
    val topk = graft.functions.TopKAggregator.topK(3)
    val df = Seq(("a", 1.0), ("a", 5.0), ("a", 3.0), ("a", 4.0), ("b", 2.0))
      .toDF("g", "v")
    val out = df.groupBy($"g").agg(topk($"v").as("top"))
      .as[(String, Seq[Double])].collect().toMap
    assert(out("a") === Seq(5.0, 4.0, 3.0))
    assert(out("b") === Seq(2.0))
  }

  test("saltedJoin result equals the plain equi-join") {
    val big = Seq((1, "x"), (1, "y"), (1, "z"), (2, "w")).toDF("k", "v")
    val small = Seq((1, "dim1"), (2, "dim2"), (3, "dim3")).toDF("sk", "d")
    val plain = big.join(small, $"k" === $"sk")
      .select($"k", $"v", $"d").collect().map(_.toString).sorted.toSeq
    val salted = Relational.saltedJoin(big, small, "k", "sk", buckets = 4)
      .select($"k", $"v", $"d").collect().map(_.toString).sorted.toSeq
    assert(salted === plain)
    // adaptive width (buckets <= 0 → defaultParallelism) — same result
    val adaptive = Relational.saltedJoin(big, small, "k", "sk", buckets = -1)
      .select($"k", $"v", $"d").collect().map(_.toString).sorted.toSeq
    assert(adaptive === plain)
    // the salt is deterministic row content, never
    // monotonically_increasing_id (retry-safety, SPARK-38388 class)
    val planTxt = Relational.saltedJoin(big, small, "k", "sk")
      .queryExecution.analyzed.toString
    assert(!planTxt.contains("monotonically_increasing_id"))
  }

  test("saltedJoin salts on the hashable columns and names an " +
    "unhashable salt column") {
    val big = Seq((1, "x", Map("a" -> 1)), (1, "y", Map("b" -> 2)),
      (2, "w", Map.empty[String, Int])).toDF("k", "v", "m")
    val small = Seq((1, "dim1"), (2, "dim2")).toDF("sk", "d")
    val plain = big.join(small, $"k" === $"sk")
      .select($"k", $"v", $"d").collect().map(_.toString).sorted.toSeq
    // no saltCols: the MAP column is left out of the salt hash instead
    // of failing analysis
    val salted = Relational.saltedJoin(big, small, "k", "sk", buckets = 4)
    assert(salted.columns.contains("m"))
    assert(salted.select($"k", $"v", $"d").collect().map(_.toString)
      .sorted.toSeq === plain)
    val err = intercept[IllegalArgumentException](
      Relational.saltedJoin(big, small, "k", "sk", saltCols = Seq("v", "m")))
    assert(err.getMessage.contains("'m'"), err.getMessage)
  }

  test("topKPerGroupAgg equals the window form and keeps the id's width") {
    val df = Seq(("g1", 1, 0.5), ("g1", 2, 0.9), ("g1", 3, 0.7),
      ("g2", 4, 0.1)).toDF("g", "id", "s")
    val agg = Relational.topKPerGroupAgg(df, 2, Seq("g"), $"s", $"id",
        "score", "item")
      .orderBy($"g", $"rank")
      .select($"g", $"item", $"score", $"rank").collect()
    assert(agg.map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
      r.getLong(3))).toSeq ===
      Seq(("g1", 2, 0.9, 1L), ("g1", 3, 0.7, 2L), ("g2", 4, 0.1, 1L)))
  }

  test("topKPerGroupAgg rejects non-integral id columns loudly") {
    // the k-bounded buffer round-trips the id through long; a string or
    // fractional id would throw (ANSI) or truncate — refuse at call time
    val df = Seq(("g", "id-1", 1.0)).toDF("g", "id", "s")
    val e = intercept[IllegalArgumentException] {
      Relational.topKPerGroupAgg(df, 1, Seq("g"), $"s", $"id", "score", "item")
    }
    assert(e.getMessage.contains("integral id"))
    val frac = Seq(("g", 1.5, 1.0)).toDF("g", "id", "s")
    intercept[IllegalArgumentException] {
      Relational.topKPerGroupAgg(frac, 1, Seq("g"), $"s", $"id", "score", "item")
    }
  }

  test("topK aggregator reduce keeps sorted bound under any insert order") {
    val agg = graft.functions.TopKAggregator(3)
    val b = Seq(9.0, 7.0, 5.0)
    assert(agg.reduce(b, 8.0) === Seq(9.0, 8.0, 7.0))
    assert(agg.reduce(b, 1.0) === b)          // below the cut
    assert(agg.reduce(Seq(9.0), 9.5) === Seq(9.5, 9.0))
    assert(agg.merge(Seq(9.0, 7.0), Seq(8.0, 6.0)) === Seq(9.0, 8.0, 7.0))
  }

  test("cdcSnapshot: latest change wins, tombstone hides the key") {
    val log = Seq(
      (1L, 1L, "upsert", 10.0), (1L, 2L, "upsert", 20.0), // latest wins
      (2L, 3L, "upsert", 30.0), (2L, 4L, "delete", 0.0),  // tombstoned
      (3L, 5L, "delete", 0.0), (3L, 6L, "upsert", 60.0))  // resurrected
      .toDF("k", "seq", "op", "v")
    val got = Relational.cdcSnapshot(log, Seq("k"),
        Seq(col("seq").desc), col("op") === "delete")
      .select($"k", $"seq", $"v").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 20.0), (3L, 6L, 60.0)))
  }

  test("skyline2D matches the naive dominance test, across buckets " +
    "and equal-x ties") {
    val pts = Seq(
      (1.0, 1.0),            // dominated by (1, 5)
      (1.0, 5.0),            // skyline (nothing cheaper or equal-higher)
      (2.0, 7.0), (2.0, 7.0), // skyline once (duplicate collapses)
      (2.0, 6.0),            // equal-x tie: (2, 7) dominates
      (3.0, 7.0),            // (2, 7) is cheaper at the same y
      (3.0, 3.0), (4.0, 2.0), // dominated by (2, 7)
      (5.0, 9.0))            // skyline (highest y)
      .toDF("x", "y")
    // bucketWidth 1.5 splits the points across 4 buckets, so the
    // cross-bucket prefix max path is exercised, not just the window
    val got = Relational.skyline2D(pts, "x", "y", bucketWidth = 1.5)
      .as[(Double, Double)].collect().sorted.toSeq
    assert(got === Seq((1.0, 5.0), (2.0, 7.0), (5.0, 9.0)))
    // naive quadratic cross-check on the same points
    val d = pts.distinct().as[(Double, Double)].collect()
    val naive = d.filter { case (x, y) => !d.exists { case (qx, qy) =>
      qx <= x && qy >= y && (qx < x || qy > y) } }.sorted.toSeq
    assert(got === naive)
  }

  test("welchTTest matches the hand-computed statistic") {
    // A = [1,2,3,4] (m 2.5, s² 5/3), B = [2,4,6] (m 4, s² 4)
    val df = (Seq(1, 2, 3, 4).map(v => (v.toDouble, true)) ++
      Seq(2, 4, 6).map(v => (v.toDouble, false))).toDF("v", "isa")
    val got = Relational.welchTTest(df, "v", $"isa")
      .as[(Long, Long, Double, Double, Double, Double, Long)].head()
    assert(got === ((4L, 3L, 2.5, 4.0, -1.1339, 3.2347, 0L)))
  }

  test("ksBinned: hand-computed binned ECDF gap, first-bin tie-break") {
    // grid [0,5] in 5 bins (width 1, max clamps into bin 4):
    // F_A = .25 .5 .75 1 1 ; F_B = 0 0 .25 .5 1 → gap .25 .5 .5 .5 0
    val df = (Seq(0, 1, 2, 3).map(v => (v.toDouble, true)) ++
      Seq(2, 3, 4, 5).map(v => (v.toDouble, false))).toDF("v", "isa")
    val got = Relational.ksBinned(df, "v", $"isa", bins = 5)
      .as[(Long, Long, Double, Long)].head()
    // max gap 0.5 is achieved at bins 1..3 — the FIRST (bin 1) wins
    assert(got === ((4L, 4L, 0.5, 1L)))
  }

  test("mutualInfoBinned: ln2 for a perfect pairing, 0 for independence") {
    val dep = Seq((0.0, "A"), (0.0, "A"), (10.0, "B"), (10.0, "B"))
      .toDF("v", "c")
    val gotDep = Relational.mutualInfoBinned(dep, "v", "c", bins = 2)
      .orderBy($"bin").as[(Long, String, Long, Double, Double)]
      .collect().toSeq
    // each cell: pmi = ln(2·4/(2·2)) = ln 2; contrib = ½·ln 2
    assert(gotDep === Seq((0L, "A", 2L, 0.6931, 0.3466),
      (1L, "B", 2L, 0.6931, 0.3466)))
    val ind = Seq((0.0, "A"), (0.0, "B"), (10.0, "A"), (10.0, "B"))
      .toDF("v", "c")
    val gotInd = Relational.mutualInfoBinned(ind, "v", "c", bins = 2)
      .as[(Long, String, Long, Double, Double)].collect().toSeq
    assert(gotInd.forall(r => r._4 === 0.0 && r._5 === 0.0))
  }

  test("targetEncodeLoo: hand-computed leave-one-out, singleton → μ") {
    // cat a: y = 10, 20 (Σ 30); cat b: y = 40 (singleton); μ = 70/3
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 40.0))
      .toDF("id", "cat", "y")
    val got = Relational.targetEncodeLoo(df, "cat", "y", smoothing = 2.0)
      .select($"id", $"loo_enc").as[(Long, Double)].collect().toMap
    val mu = 70.0 / 3
    // row 1: (30-10+2μ)/(2-1+2) = (20+2μ)/3; row 3: (40-40+2μ)/2 = μ
    assert(got(1L) === math.round(((20 + 2 * mu) / 3 + 1e-9) * 1e4) / 1e4)
    assert(got(2L) === math.round(((10 + 2 * mu) / 3 + 1e-9) * 1e4) / 1e4)
    assert(got(3L) === math.round((mu + 1e-9) * 1e4) / 1e4)
  }

  test("winsorizeScale: clips into the band, scales to [0,1], null on flat") {
    // group a: 0..10 with one wild outlier 1000; p05/p95 of
    // [0..10, 1000] (12 values, interpolated): lo = 0.55, hi = 455.5
    val a = ((0 to 10).map(_.toDouble) :+ 1000.0).map(("a", _))
    val flat = Seq(("f", 7.0), ("f", 7.0), ("f", 7.0))
    val df = (a ++ flat).zipWithIndex
      .map { case ((g, v), i) => (i.toLong, g, v) }.toDF("id", "g", "v")
    val got = Relational.winsorizeScale(df, "g", "v")
      .select($"id", $"clipped", $"scaled")
      .as[(Long, Double, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // v = 0 clips UP to lo → scaled 0; the outlier clips DOWN to hi → 1
    assert(got(0L) === ((0.55, Some(0.0))))
    assert(got(11L) === ((455.5, Some(1.0))))
    // interior value scales linearly: (5 - 0.55)/(455.5 - 0.55)
    assert(got(5L)._2 === Some(math.round(
      ((5.0 - 0.55) / (455.5 - 0.55) + 1e-9) * 1e4) / 1e4))
    // degenerate band (all 7.0): clipped = 7, scaled null
    assert(got(12L) === ((7.0, None)))
  }

  test("cumeDistEncode: hand-computed CDF table, groups independent") {
    // group a: values 1,1,2,5 → cdf(1)=.5, cdf(2)=.75, cdf(5)=1
    // group b: single value → cdf 1; null values dropped
    val df = Seq(("a", Some(1.0)), ("a", Some(1.0)), ("a", Some(2.0)),
      ("a", Some(5.0)), ("b", Some(9.0)), ("b", None))
      .toDF("g", "v")
    val got = Relational.cumeDistEncode(df, "g", "v")
      .as[(String, Double, Long, Double)].collect().toSet
    assert(got === Set(("a", 1.0, 2L, 0.5), ("a", 2.0, 1L, 0.75),
      ("a", 5.0, 1L, 1.0), ("b", 9.0, 1L, 1.0)))
  }

  test("groupAuc: perfect separation 1, anti-separation 0, ties half") {
    // group p: every positive scores above every negative → AUC 1;
    // group q: reversed → 0; group t: all same score → 0.5
    val rows =
      Seq(("p", 5.0, true), ("p", 6.0, true), ("p", 1.0, false),
        ("q", 1.0, true), ("q", 5.0, false),
        ("t", 3.0, true), ("t", 3.0, false), ("t", 3.0, false)) ++
      Seq(("z", 1.0, true)) // single-class group → null
    val df = rows.toDF("g", "score", "is_pos")
    val got = Relational.groupAuc(df, "g", $"is_pos", "score")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("p") === (("p", 2L, 1L, Some(1.0))))
    assert(got("q") === (("q", 1L, 1L, Some(0.0))))
    assert(got("t") === (("t", 1L, 2L, Some(0.5))))
    assert(got("z") === (("z", 1L, 0L, None)))
  }

  test("jackknifeMean: zero SE for identical folds, positive otherwise") {
    // 20 users (2 per fold on average), constant value → every LOO
    // mean identical → SE exactly 0
    val const = (1L to 20L).map(u => ("c", u, 10.0))
    val gotC = Relational.jackknifeMean(const.toDF("g", "u", "v"),
        "g", "v", "u", folds = 5)
      .as[(String, Long, Long, Double, Double)].collect().head
    assert(gotC._2 === 20L && gotC._4 === 10.0 && gotC._5 === 0.0)
    // heterogeneous values → SE > 0 and mean is the plain average
    val mixed = (1L to 20L).map(u => ("m", u, u.toDouble))
    val gotM = Relational.jackknifeMean(mixed.toDF("g", "u", "v"),
        "g", "v", "u", folds = 5)
      .as[(String, Long, Long, Double, Double)].collect().head
    assert(gotM._4 === 10.5 && gotM._5 > 0.0)
  }

  test("giniConcentration: 0 for uniform, 1-1/n for a monoculture") {
    // group u: 4 keys × 3 interactions each → G = 0
    // group m: all 12 interactions on one key of 4 observed... a key
    // with zero count never appears in the count frame, so the
    // monoculture group has n=1 observed key → G = 1 - 1/1 = 0; use
    // 3 keys with (10, 1, 1) to get a skewed positive G instead
    val uni = (1 to 4).flatMap(k => Seq.fill(3)(("u", k.toLong)))
    val skew = Seq.fill(10)(("m", 1L)) ++ Seq(("m", 2L), ("m", 3L))
    val got = Relational
      .giniConcentration((uni ++ skew).toDF("g", "k"), "g", "k")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("u") === (("u", 4L, 12L, 0.0)))
    // ranks asc (1,1,10) → i·x = 1+2+30 = 33; G = 66/36 - 4/3 = 0.5
    assert(got("m") === (("m", 3L, 12L, 0.5)))
  }

  test("applyCdc: update replaces, insert adds, delete drops, rest " +
    "survives") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val changes = Seq((2L, "B", 22.0, "U"), (4L, "d", 40.0, "I"),
      (3L, "c", 30.0, "D"))
      .toDF("k", "s", "v", "op")
    val got = Relational.applyCdc(base, changes, "k", "op")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "B", 22.0), (4L, "d", 40.0)))
  }

  test("applyCdc: an empty change batch is the identity") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    val none = Seq.empty[(Long, String, Double, String)]
      .toDF("k", "s", "v", "op")
    val got = Relational.applyCdc(base, none, "k", "op")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "b", 20.0)))
  }

  test("ridgeRegression2: hand-computed Cramer solve, λ=0 and λ=3") {
    // rows (x1,x2,y): (1,0,2),(0,1,3),(1,1,5) → s11=2 s22=2 s12=1
    // s1y=7 s2y=8. λ=0: det=3, b=(2,3) — exact integers in doubles.
    // λ=3: det=24, b=(27/24, 33/24)=(1.125, 1.375) — exact dyadics.
    val df = Seq((1.0, 0.0, 2.0), (0.0, 1.0, 3.0), (1.0, 1.0, 5.0))
      .toDF("x1", "x2", "y")
    val g0 = Relational.ridgeRegression2(df, "y", "x1", "x2", lambda = 0.0)
      .as[(Double, Double, Long)].head()
    assert(g0 === ((2.0, 3.0, 3L)))
    val g3 = Relational.ridgeRegression2(df, "y", "x1", "x2", lambda = 3.0)
      .as[(Double, Double, Long)].head()
    assert(g3 === ((1.125, 1.375, 3L)))
  }
}
