package graft

import java.nio.file.Files
import graft.schema.Schemas
import graft.sources.Tables

class TablesSpec extends SparkTestBase {

  test("typed loaders: Dataset[T] over each fixture with exact field match") {
    val ev = graft.sources.Tables.events(spark, sf)
    assert(ev.head().event_type.nonEmpty && ev.count() > 0)
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(docs.head().text.nonEmpty)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    assert(emb.head().embedding.nonEmpty)
    // typed filter + map stay on the same columns, no Row casts
    val perLang = docs.filter(_.lang == "en").map(_.n_chars)(
      org.apache.spark.sql.Encoders.scalaLong).count()
    assert(perLang > 0)
  }

  test("csv scan maps literal 'Unknown' to NULL and honors quote=escape (model-als.py:56-67)") {
    val dir = Files.createTempDirectory("graftcsv").toFile
    val f = new java.io.File(dir, "r.csv")
    java.nio.file.Files.writeString(f.toPath,
      """user_id,anime_id,rating
        |1,10,4.5
        | 2 ,11,Unknown
        |3,12,3.0
        |""".stripMargin)
    val df = Tables.csv(spark, f.getAbsolutePath, Schemas.rating)
    assert(df.count() === 3)
    // 'Unknown' in a double column → NULL; whitespace trimmed on ints
    assert(df.filter(df("rating").isNull).count() === 1)
    assert(df.filter(df("user_id") === 2).count() === 1)
  }

  test("anime schema handles spaces and hyphens in column names") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val row = Row.fromSeq(Seq[Any](1, "x") ++ Seq.fill(33)(null))
    val df = spark.createDataFrame(List(row).asJava, Schemas.anime)
    assert(df.select(df.col("`English name`"), df.col("`Score-10`"),
      df.col("`On-Hold`")).count() === 1)
    assert(Schemas.anime.fields.length === 35)
  }

  test("writeSingleCsv produces one exact-named file with header (model-als.py:173-174)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graftout").resolve("top5.csv").toString
    Tables.writeSingleCsv(Seq((1, "a"), (2, "b")).toDF("id", "name"), out)
    val lines = scala.io.Source.fromFile(out).getLines().toList
    assert(lines.head === "id,name" && lines.size === 3)
  }

  test("events loader normalizes nano timestamps to TimestampType") {
    val ev = Tables.load(spark, sf, "events")
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(ev.count() > 0)
  }

  test("fanOutForMapWork gates on LEAF-SCAN bytes, not the projected " +
      "estimate (VERDICT r17 #1)") {
    val key = "spark.graft.scan.fanout.minBytes"
    val fileBytes = new java.io.File(s"$sf/documents.parquet").length
    val target = spark.sparkContext.defaultParallelism
    // a text-only projection: Catalyst's fallback estimate prices the
    // string column at ~20 B/row (well under the real file size) — the
    // r17 estimate-based floor declined exactly this shape. Floor set
    // to the exact on-disk size: the leaf-bytes gate fires iff it reads
    // the file size, not the projected estimate.
    val txt = Tables.load(spark, sf, "documents").select("text")
    assert(txt.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(fileBytes), "precondition: projected estimate under file size")
    try {
      spark.conf.set(key, fileBytes.toString)
      assert(Tables.fanOutForMapWork(txt).rdd.getNumPartitions === target)
    } finally spark.conf.unset(key)
    // default 256 KiB floor: a 64 KB leaf declines — and stays ONE
    // partition (no exchange added)
    assert(Tables.fanOutForMapWork(txt).rdd.getNumPartitions === 1)
  }

  test("fanOutForMapWork declines shuffling inputs and survives a " +
      "malformed floor override (ADVICE r17)") {
    val key = "spark.graft.scan.fanout.minBytes"
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    try {
      spark.conf.set(key, "1")
      // exchange-inducing input (aggregate): returned unchanged even
      // with the floor at 1 byte — the downstream shuffle redistributes
      // anyway, and probing .rdd under AQE would materialize stages
      val agg = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      assert(Tables.fanOutForMapWork(agg) eq agg)
      // scan-stage input with a 1-byte floor fires
      assert(Tables.fanOutForMapWork(docs.select("text"))
        .rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
      // malformed override degrades to the 256 KiB default (declines
      // on a 64 KB leaf) instead of throwing NumberFormatException
      spark.conf.set(key, "not-a-number")
      assert(Tables.fanOutForMapWork(docs.select("text"))
        .rdd.getNumPartitions === 1)
    } finally spark.conf.unset(key)
  }

  test("fanOutForMapWork fans out a non-splittable file that the bytes " +
      "estimate prices as many splits") {
    val dir = java.nio.file.Files.createTempDirectory("fanout-gz").toString
    val target = spark.sparkContext.defaultParallelism
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").json(s"$dir/gz")
    docs.coalesce(1).write.mode("overwrite").json(s"$dir/plain")
    val keys = Seq("spark.graft.scan.fanout.minBytes",
      "spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set(keys(0), "1")
      // 2 KiB splits: the gzipped file's bytes alone price it at over
      // `target` partitions, yet it scans in ONE task
      spark.conf.set(keys(1), "2048")
      val gz = spark.read.schema(docs.schema).json(s"$dir/gz")
      assert(gz.rdd.getNumPartitions === 1, "precondition: one task")
      assert(new java.io.File(s"$dir/gz").listFiles()
        .filter(_.getName.endsWith(".gz")).map(_.length).sum > 2048L * target,
        "precondition: the bytes estimate reaches target")
      assert(Tables.fanOutForMapWork(gz).rdd.getNumPartitions === target)
      // the same rows uncompressed really split: returned unchanged
      val plain = spark.read.schema(docs.schema).json(s"$dir/plain")
      assert(Tables.fanOutForMapWork(plain) eq plain)
    } finally {
      keys.foreach(spark.conf.unset)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
