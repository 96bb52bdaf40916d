package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.PostingPairs

/** The streaming capped-pair operator against the relational algebra it
  * replaced in Dedup (kept here as the reference): drop duplicate
  * (key, id) postings, count each key's list with a window, drop lists
  * over the cap, self-join the rest on `key = key AND id_a < id_b`.
  */
class PostingPairsSpec extends SparkTestBase {

  private def reference(postings: DataFrame, cap: Int): DataFrame = {
    val p = postings.dropDuplicates("key", "id")
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("key")))
      .filter(col("_df") <= cap)
    val a = p.select(col("key"), col("id").as("id_a"), col("c").as("c_a"))
    val b = p.select(col("key").as("key_b"), col("id").as("id_b"),
      col("c").as("c_b"))
    a.join(b, col("key") === col("key_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("c_a"), col("id_b"), col("c_b"))
  }

  /** Seeded posting set: per key a list of 0–5 distinct ids (so caps 1
    * and 2 each see lists of cap − 1, cap and cap + 1), drawn from a
    * small pool so ids recur across keys, with repeated (key, id) rows,
    * null ids and a null key mixed in. `c` is a function of the id
    * (null for some), as carried columns are in every caller.
    */
  private def postings(seed: Long, idType: DataType,
                       mkId: Int => Any): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def carried(id: Int): Any = if (id % 7 == 3) null else id % 5
    val rows = (0 until 60).flatMap { k =>
      val key: Any = if (k == 59) null else k.toLong * 0x9E3779B97F4A7C15L
      val ids = rnd.shuffle((0 until 40).toList).take(rnd.nextInt(6))
      val repeats = ids.filter(_ => rnd.nextInt(4) == 0)
      val nulls = if (rnd.nextInt(5) == 0) Seq.fill(1 + rnd.nextInt(2))(-1)
                  else Nil
      rnd.shuffle(ids ++ repeats ++ nulls).map { id =>
        if (id < 0) Row(key, null, null) else Row(key, mkId(id), carried(id))
      }
    }
    val schema = StructType(Seq(StructField("key", LongType),
      StructField("id", idType), StructField("c", IntegerType)))
    // several input partitions, so lists arrive split across them
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val idTypes: Seq[(String, DataType, Int => Any)] = Seq(
    ("Int", IntegerType, (i: Int) => i),
    ("Long", LongType, (i: Int) => i.toLong * 1000000007L - 20000000000L),
    // "id10" < "id9": string order, not numeric, decides id_a < id_b
    ("String", StringType, (i: Int) => s"id$i"))

  test("capped pairs equal the window + self-join reference for Int, " +
    "Long and String ids at any partition count, AQE on and off") {
    for ((name, t, mk) <- idTypes; seed <- Seq(1L, 2L)) {
      val in = postings(seed, t, mk)
      for (cap <- Seq(1, 2, Int.MaxValue)) {
        val want = sorted(reference(in, cap))
        if (cap == Int.MaxValue)
          assert(want.nonEmpty, s"$name seed $seed: reference has no pairs")
        for (parts <- Seq(1, 4, 7); aqe <- Seq("true", "false"))
          withConf("spark.sql.shuffle.partitions" -> parts.toString,
              "spark.sql.adaptive.enabled" -> aqe) {
            val got = PostingPairs(in, "key", "id", Seq("c"), cap)
            assert(got.columns.toSeq === Seq("id_a", "c_a", "id_b", "c_b"))
            assert(sorted(got) === want,
              s"$name seed=$seed cap=$cap partitions=$parts aqe=$aqe")
          }
      }
    }
  }

  test("a null id fills a cap slot but never pairs; a repeated id " +
    "fills one") {
    val schema = StructType(Seq(StructField("key", LongType),
      StructField("id", LongType)))
    def pairs(rows: Seq[Row], cap: Int): Set[(Long, Long)] =
      PostingPairs(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema),
          "key", "id", Nil, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withNulls = Seq(Row(1L, 5L), Row(1L, null), Row(1L, 3L),
      Row(1L, null))
    assert(pairs(withNulls, 3) === Set((3L, 5L)))
    assert(pairs(withNulls, 2) === Set.empty)
    val repeated = Seq(Row(2L, 9L), Row(2L, 4L), Row(2L, 9L), Row(2L, 9L))
    assert(pairs(repeated, 2) === Set((4L, 9L)))
    assert(pairs(repeated, 1) === Set.empty)
  }

  test("building the pair frame runs no job") {
    val in = postings(3L, LongType, _.toLong)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = PostingPairs(in, "key", "id", Seq("c"), 2)
      out.queryExecution.executedPlan
      org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
      assert(jobs.get === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the pair frame self-joins (a chain a–b, b–c)") {
    val schema = StructType(Seq(StructField("key", LongType),
      StructField("id", LongType)))
    val rows = Seq(Row(1L, 1L), Row(1L, 2L), Row(2L, 2L), Row(2L, 3L))
    val p = PostingPairs(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema), "key", "id", Nil, 5)
    val chains = p.as("x").join(p.as("y"), col("x.id_b") === col("y.id_a"))
      .select(col("x.id_a"), col("x.id_b"), col("y.id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(chains.toSeq === Seq((1L, 2L, 3L)))
  }

  test("the key must be BIGINT and the id orderable") {
    val df = spark.range(3).select(col("id").cast("int").as("k"),
      col("id"), map(col("id"), col("id")).as("m"))
    assert(intercept[IllegalArgumentException](
      PostingPairs(df, "k", "id", Nil, 2)).getMessage.contains("BIGINT"))
    assert(intercept[IllegalArgumentException](
      PostingPairs(df, "id", "m", Nil, 2)).getMessage.contains("orderable"))
  }
}
