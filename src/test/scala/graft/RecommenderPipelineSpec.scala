package graft

import java.nio.file.{Files, Paths}

import graft.ml.Als
import graft.pipeline.Recommender

/** Golden end-to-end run of the reference pipeline shape
  * (model-als.py:56-174) on a deterministic fixture: seeded ALS, so the
  * whole flow is reproducible — which the reference's committed CSVs are
  * not (SURVEY.md §5.1).
  */
class RecommenderPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = {
    val d = Paths.get("target", "ref-fixture")
    Files.createDirectories(d)
    d
  }

  /** 20 items: even IDs are TV, odd are Movie. Item quality rises with
    * ID, so community averages (and the top-5 cut) are predictable.
    */
  private lazy val animeCsv = {
    val header = graft.schema.Schemas.anime.fieldNames.mkString(",")
    val rows = (1 to 20).map { id =>
      val t = if (id % 2 == 0) "TV" else "Movie"
      // ID,Name,Score,Genres,"English name","Japanese name",Type, then the
      // remaining 28 columns as Unknown (→ NULL via nullValue option)
      (Seq(s"$id", s"Anime $id", "7.5", "Action", s"English $id",
        s"Nihongo $id", t) ++ Seq.fill(28)("Unknown")).mkString(",")
    }
    val p = dir.resolve("anime.csv")
    Files.writeString(p, (header +: rows).mkString("\n"))
    p.toString
  }

  /** 12 users rate items; rating grows with item id (plus a small
    * user-dependent wobble that never reorders adjacent items).
    */
  private lazy val ratingsCsv = {
    val rows = for (u <- 1 to 12; i <- 1 to 20)
      yield s"$u,$i,${(i / 2.0) + (u % 3) * 0.01}"
    val p = dir.resolve("ratings.csv")
    Files.writeString(p, ("user_id,anime_id,rating" +: rows).mkString("\n"))
    p.toString
  }

  /** Personal file (headerless, model-als.py:94-101): user 666666 rated a
    * few items, including a duplicate of (1, 1) to exercise the dedup.
    */
  private lazy val personalCsv = {
    val rows = Seq("666666,2,5.0", "666666,3,4.0", "666666,18,5.0", "1,1,9.9")
    val p = dir.resolve("personal.csv")
    Files.writeString(p, rows.mkString("\n"))
    p.toString
  }

  private lazy val cfg = Recommender.Config(targetUser = 666666,
    als = Als.Config(rank = 4, maxIter = 5, userCol = "user_id",
      itemCol = "anime_id", seed = 11L))

  private lazy val result = Recommender.runAndWrite(spark,
    animeCsv, ratingsCsv, personalCsv, cfg,
    dir.resolve("recommendations_series.csv").toString,
    dir.resolve("recommendations_movies.csv").toString)

  test("pipeline trains and evaluates with finite RMSE") {
    assert(!result.rmse.isNaN && result.rmse < 3.0, s"rmse=${result.rmse}")
  }

  test("TV output: 4-column shape, TV items only, sorted by community avg") {
    val rows = result.tv.collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    assert(result.tv.columns.toSeq ===
      Seq("ID", "Name", "English name", "avg_rating"))
    assert(rows.forall(_.getInt(0) % 2 == 0)) // even IDs are TV
    val avgs = rows.map(_.getDouble(3)).toSeq
    assert(avgs === avgs.sorted.reverse)
  }

  test("Movie output contains only Movie items") {
    assert(result.movies.collect().forall(_.getInt(0) % 2 == 1))
  }

  test("single-file CSVs exist with the reference's exact header") {
    val tv = Files.readAllLines(dir.resolve("recommendations_series.csv"))
    assert(tv.get(0) === "ID,Name,English name,avg_rating")
    assert(tv.size() >= 2)
    assert(Files.exists(dir.resolve("recommendations_movies.csv")))
  }

  test("community average excludes the personal file (model-als.py:145 quirk)") {
    // user 666666 gave item 2 a 5.0; with 12 ratings near 1.0, including
    // the personal file would lift item 2's average by ~0.3
    val avgItem2 = graft.operators.Relational.avgBy(
      graft.sources.Tables.csv(spark, ratingsCsv, graft.schema.Schemas.rating),
      "anime_id", "rating", "avg_rating")
      .filter(org.apache.spark.sql.functions.col("anime_id") === 2)
      .head().getDouble(1)
    val tvRow2 = result.tv.collect().find(_.getInt(0) == 2)
    tvRow2.foreach(r => assert(math.abs(r.getDouble(3) - avgItem2) < 1e-9))
  }

  test("cooccurrence: basket cap, pair prune, and hand-computed lift") {
    import spark.implicits._
    // basket 1 has 3 items but the cap keeps the 2 smallest ids, so the
    // (10,30)/(20,30) pairs must NOT appear even with minPairCount=1
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 20L), // dup row: distinct-ed away
      (4L, 30L), (4L, 40L))
      .toDF("basket", "item")
    val capped = graft.operators.Recommend.cooccurrence(
        df, "basket", "item", maxBasket = 2, minPairCount = 1L, k = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // capped baskets: 1→{10,20}, 2→{10,20}, 3→{10,20}, 4→{30,40};
    // counts 10→3, 20→3, 30→1, 40→1, nb=4
    assert(capped === Seq(
      (10L, 20L, 3L, math.round((3.0 * 4 / 9 + 1e-9) * 1e4) / 1e4),
      (30L, 40L, 1L, 4.0)))
    // minPairCount prunes the singleton pair
    val pruned = graft.operators.Recommend.cooccurrence(
        df, "basket", "item", maxBasket = 2, minPairCount = 2L, k = 10)
      .select($"item_a", $"item_b").as[(Long, Long)].collect().toSeq
    assert(pruned === Seq((10L, 20L)))
  }

  test("itemItemCosine: hand-computed cosines, symmetric, tie by neighbor id") {
    // item user-vectors over (u1,u2,u3): i1=(2,1,0) i2=(1,1,1) i3=(0,1,2)
    val ratings = Seq(
      (1L, 1L, 2L), (1L, 2L, 1L),
      (2L, 1L, 1L), (2L, 2L, 1L), (2L, 3L, 1L),
      (3L, 2L, 1L), (3L, 3L, 2L))
      .toDF("user_id", "item_id", "cnt")
    val got = graft.operators.Recommend.itemItemCosine(ratings,
        "user_id", "item_id", "cnt", k = 2)
      .as[(Long, Long, Long, Double)].collect()
      .sortBy(r => (r._1, r._3)).toSeq
    val c12 = math.round((3.0 / (math.sqrt(5) * math.sqrt(3)) + 1e-9) * 1e4) / 1e4
    // i2's neighbors 1 and 3 have the IDENTICAL cosine — id breaks it
    assert(got === Seq(
      (1L, 2L, 1L, c12), (1L, 3L, 2L, 0.2),
      (2L, 1L, 1L, c12), (2L, 3L, 2L, c12),
      (3L, 2L, 1L, c12), (3L, 1L, 2L, 0.2)))
  }

  test("itemItemCosine: maxItemsPerUser <= 0 is uncapped; a large " +
    "explicit cap is still planned and enforced") {
    val ratings = Seq(
      (1L, 1L, 2L), (1L, 2L, 1L),
      (2L, 1L, 1L), (2L, 2L, 1L), (2L, 3L, 1L),
      (3L, 2L, 1L), (3L, 3L, 2L))
      .toDF("user_id", "item_id", "cnt")
    def run(cap: Int) = graft.operators.Recommend.itemItemCosine(ratings,
      "user_id", "item_id", "cnt", k = 2, maxItemsPerUser = cap)
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    val uncapped = run(0)
    assert(windows(uncapped) === 0)
    assert(rows(run(-1)) === rows(uncapped))
    // 2^30 is a real cap, not a "disabled" sentinel: the capping window
    // is planned (once per reference to the capped ratings), and with no
    // user above it the rows are unchanged
    val large = run(1 << 30)
    assert(windows(large) > 0)
    assert(rows(large) === rows(uncapped))
    // a biting cap keeps each user's two smallest item ids: u2 drops i3,
    // so i3's only co-rater left is u3 and every cosine moves
    val two = rows(run(2))
    assert(windows(run(2)) > 0)
    assert(two.nonEmpty)
    assert(two != rows(uncapped))
  }
}
