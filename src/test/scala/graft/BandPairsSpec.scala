package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.Dedup

/** The banded candidate-pair operator against the relational algebra it
  * replaced (kept here as the reference): post each row once per band as
  * (band, bucket), self-join on (band, bucket) with id_a < id_b, and
  * `distinct()` the pairs. `hammingPairs` is checked against brute-force
  * all-pairs Hamming distance, and the LSH queries' plans are pinned to
  * one banded join with no pair-stream aggregate.
  */
class BandPairsSpec extends SparkTestBase {

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Seeded rows (id, k0…k{bands−1}, c): keys drawn from a small domain
    * so rows share buckets in several bands, about one key in eight
    * null; `c` is a function of the id, carried through the join.
    */
  private def rows(seed: Long, bands: Int, keyType: DataType,
                   mk: Int => Any): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val data = (0 until 60).map { i =>
      val keys = Seq.fill(bands)(
        if (rnd.nextInt(8) == 0) null else mk(rnd.nextInt(6)))
      Row((Seq[Any](mk(1000 + i * 7 % 60)) ++ keys :+ (i % 5)): _*)
    }
    val schema = StructType(StructField("id", keyType) +:
      (0 until bands).map(b => StructField(s"k$b", keyType)) :+
      StructField("c", IntegerType))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  private def keysOf(bands: Int): Seq[Column] =
    (0 until bands).map(b => col(s"k$b"))

  private def reference(in: DataFrame, bands: Int): DataFrame = {
    val p = in.select(col("id"), col("c"),
      posexplode(array(keysOf(bands): _*)).as(Seq("band", "bucket")))
    val a = p.select(col("band"), col("bucket"), col("id").as("id_a"),
      col("c").as("c_a"))
    val b = p.select(col("band"), col("bucket"), col("id").as("id_b"),
      col("c").as("c_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "c_a", "id_b", "c_b").distinct()
  }

  private val keyTypes: Seq[(String, DataType, Int => Any)] = Seq(
    ("Long", LongType, (i: Int) => i.toLong * 0x9E3779B97F4A7C15L),
    // "k1006" < "k999": string order decides id_a < id_b
    ("String", StringType, (i: Int) => s"k$i"))

  test("bandPairs equals the distinct self-join over any shared " +
    "(band, bucket): Long and String keys, nulls, 1/2/4 bands, " +
    "partitions 1/4/7, AQE on and off") {
    for ((name, t, mk) <- keyTypes; bands <- Seq(1, 2, 4)) {
      val in = rows(bands.toLong, bands, t, mk)
      val want = sorted(reference(in, bands))
      assert(want.nonEmpty, s"$name bands=$bands: reference has no pairs")
      for (parts <- Seq(1, 4, 7); aqe <- Seq("true", "false"))
        withConf("spark.sql.shuffle.partitions" -> parts.toString,
            "spark.sql.adaptive.enabled" -> aqe) {
          val got = Dedup.bandPairs(in, "id", keysOf(bands), Seq("c"))
          assert(got.columns.toSeq === Seq("id_a", "c_a", "id_b", "c_b"))
          assert(sorted(got) === want,
            s"$name bands=$bands partitions=$parts aqe=$aqe")
        }
    }
  }

  test("bandPairs: a null key never pairs, even with another null") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k0", LongType), StructField("k1", LongType)))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, null, 5L), Row(2L, null, 5L), Row(3L, null, null),
      Row(4L, null, null)), 2), schema)
    val got = Dedup.bandPairs(in, "id", keysOf(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L)))
  }

  test("building bandPairs and hammingPairs runs no job") {
    val in = rows(9L, 4, LongType, _.toLong)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.bandPairs(in, "id", keysOf(4), Seq("c"))
        .queryExecution.executedPlan
      Dedup.hammingPairs(in.select(col("id"), col("k0").as("sig")), "id",
        Seq("sig"), bits = 64, blocks = 4, maxHamming = 3)
        .queryExecution.executedPlan
      org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
      assert(jobs.get === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** (words, bits, blocks): the four signature shapes of the shipped
    * callers — q297 (32, 4), q296 (60, 4), q31 (64, 4), q298 (two
    * 64-bit words, 2 blocks each).
    */
  private val shapes = Seq((1, 32, 4), (1, 60, 4), (1, 64, 4), (2, 64, 2))

  test("hammingPairs finds exactly the pairs within Hamming 3 of " +
    "brute-force all-pairs, once each, for every signature shape") {
    for ((words, bits, blocks) <- shapes) {
      val rnd = new scala.util.Random(bits * 10 + words)
      def rand(): Long =
        if (bits == 64) rnd.nextLong() else rnd.nextLong() & ((1L << bits) - 1)
      val base = (0 until 120).map(i => (i.toLong, Seq.fill(words)(rand())))
      // planted partners at distances 0–6, three each, flipping distinct
      // bits anywhere in the signature (across words for two words)
      val planted = for (d <- 0 to 6; j <- 0 until 3) yield {
        val (_, sig) = base(rnd.nextInt(base.size))
        val flips = rnd.shuffle((0 until words * bits).toList).take(d)
        val out = flips.foldLeft(sig.toVector) { (s, f) =>
          s.updated(f / bits, s(f / bits) ^ (1L << (f % bits)))
        }
        (1000L + d * 10 + j, out.toSeq)
      }
      val all = base ++ planted
      val truth = (for {
        (ia, sa) <- all; (ib, sb) <- all if ia < ib
        h = sa.zip(sb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
        if h <= 3
      } yield (ia, ib, h.toLong)).toSet
      assert(truth.size >= 12, s"shape ($words, $bits, $blocks): vacuous")
      val cols = (0 until words).map(w => s"w$w")
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
          all.map { case (id, s) => Row((id +: s): _*) }, 3),
        StructType(StructField("id", LongType) +:
          cols.map(StructField(_, LongType))))
      val got = Dedup.hammingPairs(df, "id", cols, bits, blocks, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.size === got.distinct.size,
        s"shape ($words, $bits, $blocks): a pair appears twice")
      assert(got.forall(p => p._1 < p._2))
      assert(got.toSet === truth, s"shape ($words, $bits, $blocks)")
    }
  }

  test("hammingPairs rejects blocks that do not divide the bits and " +
    "thresholds the blocking cannot cover") {
    val df = spark.range(3).select(col("id"), col("id").as("sig"))
    def call(bits: Int, blocks: Int, maxHamming: Int, words: Int = 1) =
      Dedup.hammingPairs(df, "id", Seq.fill(words)("sig"), bits, blocks,
        maxHamming)
    intercept[IllegalArgumentException](call(60, 7, 3))
    intercept[IllegalArgumentException](call(64, 0, 0))
    intercept[IllegalArgumentException](call(65, 5, 3))
    intercept[IllegalArgumentException](call(32, 4, 4))
    intercept[IllegalArgumentException](call(64, 2, 4, words = 2))
  }

  test("q30, q31, q34 and q295 plan one (band, bucket) equi-join, no " +
    "aggregate over (id_a, id_b), and no inferred filter re-running the " +
    "band keys") {
    for (q <- Seq("q30_minhash_neardup", "q31_simhash_neardup",
        "q34_lsh_neighbors", "q295_minhash_oracled")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val banded = JoinProbe.equiJoinsOf(plan).count { case (_, lk, rk) =>
        JoinProbe.keySig(lk, rk) == "band,bucket | band,bucket"
      }
      assert(banded === 1, s"$q: $banded (band, bucket) joins\n$plan")
      val pairAggs = plan.collect {
        case a: Aggregate if Set("id_a", "id_b").subsetOf(
          a.groupingExpressions.flatMap(_.references.map(_.name)).toSet) => a
      }
      assert(pairAggs.isEmpty, s"$q: aggregate over the pair stream\n$plan")
      // an inner posexplode of the key array would infer
      // `size(array(keys…)) > 0` below the generator: every signature
      // computed once more per band
      val keyFilters = plan.collect { case f: Filter => f.condition }
        .filter(_.find {
          case Size(_: CreateArray, _) => true
          case _ => false
        }.isDefined)
      assert(keyFilters.isEmpty, s"$q: band keys re-run in a filter\n$plan")
    }
  }
}
