package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic for the graph family's swept-cold overhead: after a JIT
  * warm-up pass, sweeps all caches ONCE and runs the whole graph family
  * in sequence — the bench's cold protocol as the family actually
  * experiences it. The first query rebuilds the session-shared edge
  * and node projections ([[graft.SparkEntry.coengagementGraphWarm]])
  * and the join-based operators ride them; the PageRank walks
  * (q86/q174/q148) build their own per-call adjacency in one job and
  * run every round inside their result job, so their time should not
  * grow with the iteration count. Usage:
  * `runMain graft.tools.GraphProbe [sfDir]`.
  */
object GraphProbe {
  private val family = Seq("q86_pagerank", "q100_label_communities",
    "q141_bfs_hops", "q174_pagerank_weighted", "q148_ppr_recs",
    "q162_hits_authorities", "q96_triangle_count", "q175_assortativity")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-probe"),
      shufflePartitions = cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(label: String): Unit = family.foreach { q =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
      println(f"[probe] $label $q: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    run("warmup")
    spark.catalog.clearCache(); System.gc()
    run("cold")
    run("warm")
    spark.stop()
  }
}
