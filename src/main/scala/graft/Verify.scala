package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev affordance: SPARK_GRAFT_ONLY=q66,q17_except restricts the dump
    // (and oracle_sql.json) to the named queries, each an exact full or
    // short qNN name; an unknown name fails before the session starts
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(v =>
      SparkEntry.resolve(v.split(",").map(_.trim).filter(_.nonEmpty).toSeq).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.core.GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      // per-query wall time on stderr: ladder rungs run this main at
      // 10-100× corpora, where one opaque multi-hour pass is
      // undiagnosable — the timing lines localize a super-linear query
      // (or a stuck one) without re-running the rung
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
