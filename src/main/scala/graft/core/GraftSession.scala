package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's runtime configuration (reference
  * `model-als.py:181-190`: local[cores-1], 4g driver/executor, 2g off-heap)
  * but tuned for the harness: shuffle partitions sized to the local core
  * count instead of the default 200, AQE on for runtime re-planning (skew
  * joins, partition coalescing — the knobs that matter at 100 TB), UTC
  * session time zone for oracle parity.
  */
object GraftSession {

  /** Apply graft's standard tuning to any builder. Kept separate so a
    * caller that owns its master and memory settings shares the config.
    */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // harness events.ts is parquet TIMESTAMP(NANOS): read as epoch-nanos
      // long, normalized in Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // restore the sorted-bucket scan ordering (off by default since
      // 3.1): Spark still guards it with one-file-per-bucket, which
      // bucketedStaged guarantees by pre-repartitioning on the bucket
      // hash — so a bucketed+sorted fact-fact join elides the SORT as
      // well as the exchange (BucketingSpec pins both)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")

  /** The core count named by SPARK_GRAFT_CPUS (default 32), validated as
    * a positive integer. Every JSON emission site writes this Int, never
    * the raw string, so a padded value like "032" still yields valid
    * JSON (`"cpus":32`).
    */
  private[graft] def cpusFrom(raw: Option[String]): Int = {
    val s = raw.getOrElse("32").trim
    s.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** The core count of every graft main: [[cpusFrom]] of the environment. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Local session: `local[cores]`, as many shuffle partitions, graft's
    * tuning, WARN logging. The one session builder of Bench, Verify, the
    * tools and the tests.
    */
  def local(cores: Int = cpus, appName: String = "graft"): SparkSession = {
    val n = math.max(cores, 1)
    val spark = tuned(
      SparkSession.builder().master(s"local[$n]").appName(appName),
      shufflePartitions = n
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
