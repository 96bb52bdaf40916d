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
    val fileBytes = new java.io.File(s"$sf01/documents.parquet").length
    val target = spark.sparkContext.defaultParallelism
    // a text-only projection: Catalyst's fallback estimate prices the
    // string column at ~20 B/row, under the floor, while the file on
    // disk is over it — the r17 estimate-based floor declined exactly
    // this shape. The leaf-bytes gate fires iff it reads the file size,
    // not the projected estimate.
    val txt = Tables.load(spark, sf01, "documents").select("text")
    assert(txt.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Tables.fanOutMinBytes) && fileBytes >= Tables.fanOutMinBytes,
      "precondition: projected estimate under the floor, file over it")
    assert(Tables.fanOutForMapWork(txt).rdd.getNumPartitions === target)
    // a 64 KB leaf is under the floor: declined, and stays ONE
    // partition (no exchange added)
    val small = Tables.load(spark, sf, "documents").select("text")
    assert(Tables.fanOutForMapWork(small).rdd.getNumPartitions === 1)
  }

  test("fanOutForMapWork declines shuffling inputs (ADVICE r17)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf01, "documents")
    // exchange-inducing input (aggregate) over a leaf above the floor:
    // returned unchanged — the downstream shuffle redistributes anyway,
    // and probing .rdd under AQE would materialize stages
    val agg = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(Tables.fanOutForMapWork(agg) eq agg)
    // the same leaf as a scan-stage input fires
    assert(Tables.fanOutForMapWork(docs.select("text"))
      .rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
  }

  test("fanOutForMapWork fans out a non-splittable file that the bytes " +
      "estimate prices as many splits") {
    val dir = java.nio.file.Files.createTempDirectory("fanout-gz").toString
    val target = spark.sparkContext.defaultParallelism
    val docs = Tables.load(spark, sf01, "documents")
      .select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").json(s"$dir/gz")
    docs.coalesce(1).write.mode("overwrite").json(s"$dir/plain")
    val key = "spark.sql.files.maxPartitionBytes"
    try {
      // 2 KiB splits: the gzipped file's bytes alone price it at over
      // `target` partitions, yet it scans in ONE task
      spark.conf.set(key, "2048")
      val gz = spark.read.schema(docs.schema).json(s"$dir/gz")
      assert(gz.rdd.getNumPartitions === 1, "precondition: one task")
      val gzBytes = new java.io.File(s"$dir/gz").listFiles()
        .filter(_.getName.endsWith(".gz")).map(_.length).sum
      assert(gzBytes > 2048L * target,
        "precondition: the bytes estimate reaches target")
      assert(gzBytes >= Tables.fanOutMinBytes,
        "precondition: the file is over the floor")
      assert(Tables.fanOutForMapWork(gz).rdd.getNumPartitions === target)
      // the same rows uncompressed really split: returned unchanged
      val plain = spark.read.schema(docs.schema).json(s"$dir/plain")
      assert(Tables.fanOutForMapWork(plain) eq plain)
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
