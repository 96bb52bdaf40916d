package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkEntry

/** The query tool: runs named SparkEntry queries on one session
  * (`local[SPARK_GRAFT_CPUS]`, like Bench and Verify). A name is an
  * exact full name (`q17_except`) or an exact short one (`q17`);
  * `<q,...>` is a comma-separated list of them.
  *
  * {{{
  * runMain graft.tools.Cli time    <sfDir> <q,...> [passes]
  * runMain graft.tools.Cli rows    <sfDir> [q,...]
  * runMain graft.tools.Cli explain <sfDir> <q,...> [outDir]
  * runMain graft.tools.Cli hints   <smallDir> <bigDir>
  * }}}
  *
  *  - `time`: Bench's protocol per query — one untimed warm-up pass over
  *    the list (JIT, codegen), then `passes` (default 2) passes, each a
  *    cache sweep followed by a timed build + `count()`; prints the
  *    minimum. `count()` lets Catalyst prune columns and drop a final
  *    orderBy, so the numbers are relative, exactly as Bench's are.
  *  - `rows`: the row count of each named query (every query when none
  *    is named); exits 1 if any is empty or fails.
  *  - `explain`: `explain("formatted")` of each query, to stdout or to
  *    `outDir/qNN.txt`, without Spark's session-global counters
  *    ([[stableExplain]]).
  *  - `hints`: the growth table behind BroadcastScaleAuditSpec — every
  *    distinct `broadcast()`-hinted subtree across all queries, its rows
  *    at two corpus rungs, the growth factor and the growth⁴ projection
  *    to the target scale (100× bench = 10⁴× sf0.001), largest first.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(appName = "graft-cli")
    val rc = try run(spark, args) finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** Runs one command on `spark`, printing to `Console.out`; returns the
    * exit code. Never stops the session.
    */
  def run(spark: SparkSession, args: Array[String]): Int = args.toList match {
    case "time" :: dir :: qs :: rest if rest.size <= 1 =>
      time(spark, dir, names(qs), rest.headOption.fold(2)(_.toInt))
    case "rows" :: dir :: rest if rest.size <= 1 =>
      rows(spark, dir, rest.headOption.fold(SparkEntry.queries.keys.toSeq.sorted)(names))
    case "explain" :: dir :: qs :: rest if rest.size <= 1 =>
      explain(spark, dir, names(qs), rest.headOption)
    case "hints" :: small :: big :: Nil => hints(spark, small, big)
    case _ => throw new IllegalArgumentException(
      "usage: Cli time <sfDir> <q,...> [passes] | rows <sfDir> [q,...] | " +
        "explain <sfDir> <q,...> [outDir] | hints <smallDir> <bigDir>")
  }

  private def names(list: String): Seq[String] =
    SparkEntry.resolve(list.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  private def time(spark: SparkSession, dir: String, qs: Seq[String],
                   passes: Int): Int = {
    require(passes >= 1, s"passes must be at least 1, got $passes")
    def count(q: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    qs.foreach(count)
    val runs = (1 to passes).map { _ =>
      spark.catalog.clearCache(); System.gc()
      qs.map(count)
    }
    qs.indices.foreach { i =>
      val secs = runs.map(_(i)._1)
      println(f"[time] ${qs(i)} min=${secs.min}%.3f s over $passes passes " +
        s"(${secs.map(s => f"$s%.3f").mkString(" ")}) rows=${runs(0)(i)._2}")
    }
    0
  }

  private def rows(spark: SparkSession, dir: String, qs: Seq[String]): Int = {
    val bad = qs.count { q =>
      try {
        val n = SparkEntry.queries(q)(spark, dir).count()
        println(s"[rows] $q $n" + (if (n == 0) " EMPTY" else ""))
        n == 0
      } catch { case e: Throwable =>
        println(s"[rows] $q FAILED: ${e.getMessage}")
        true
      }
    }
    println(s"[rows] $bad of ${qs.size} empty or failed")
    if (bad > 0) 1 else 0
  }

  private def explain(spark: SparkSession, dir: String, qs: Seq[String],
                      outDir: Option[String]): Int = {
    outDir.foreach(d => new java.io.File(d).mkdirs())
    qs.foreach { q =>
      val txt = stableExplain(SparkEntry.queries(q)(spark, dir))
      outDir match {
        case Some(d) =>
          val f = new java.io.File(d, q.takeWhile(_ != '_') + ".txt")
          java.nio.file.Files.writeString(f.toPath, txt)
          println(s"[explain] wrote $f")
        case None => println(s"== $q ==\n$txt")
      }
    }
    0
  }

  /** `explain("formatted")` text with Spark's session-global counters
    * taken out: exchange `plan_id`s are dropped and expression ids are
    * renumbered in order of first appearance, so one plan explains to
    * one text however often, and after whatever else, it is built.
    */
  private def stableExplain(df: DataFrame): String = {
    val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replaceAll("(,\\s*)?\\[plan_id=\\d+\\]", "")
    val ids = collection.mutable.HashMap[String, Int]()
    "#(\\d+)".r.replaceAllIn(txt, m =>
      "#" + ids.getOrElseUpdate(m.group(1), ids.size))
  }

  private def hints(spark: SparkSession, small: String, big: String): Int = {
    def hintsOf(plan: LogicalPlan): Seq[ResolvedHint] =
      plan.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }

    // Keyed on the canonicalized plan itself (structural equality), not
    // its hashCode — an Int collision between distinct subtrees would
    // return a wrong cached count / drop a distinct site from the table.
    val cache = collection.mutable.HashMap[(String, LogicalPlan), Long]()
    def rowsOf(dir: String, h: ResolvedHint): Long =
      cache.getOrElseUpdate((dir, h.child.canonicalized),
        Bridge.ofRows(spark, h.child).count())

    // distinct hinted subtree → (first query using it, rows small, rows big)
    val seen =
      collection.mutable.LinkedHashMap[LogicalPlan, (String, Long, Long)]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val smallHs =
        try hintsOf(fn(spark, small).queryExecution.analyzed)
        catch { case e: Throwable =>
          System.err.println(s"[hints] $name failed to plan: ${e.getMessage}")
          Seq.empty
        }
      if (smallHs.nonEmpty) {
        val bigHs = hintsOf(fn(spark, big).queryExecution.analyzed)
        if (bigHs.length != smallHs.length)
          // zip would silently truncate a shape mismatch; the audit
          // spec FAILS on this — here it only costs table rows, but
          // say so rather than under-report
          System.err.println(s"[hints] $name: hint count differs across " +
            s"rungs (${smallHs.length} vs ${bigHs.length}); table shows " +
            "the matched prefix only")
        smallHs.zip(bigHs).foreach { case (sh, bh) =>
          val key = sh.child.canonicalized
          if (!seen.contains(key)) {
            val label = s"$name<${sh.child.schema.fieldNames.take(4).mkString(",")}>"
            seen(key) = (label, rowsOf(small, sh), rowsOf(big, bh))
          }
        }
      }
    }
    val table = seen.values.toSeq.map { case (label, sn, bn) =>
      val g = bn.toDouble / math.max(sn, 1L)
      (label, sn, bn, g, sn * math.pow(g, 4))
    }.sortBy(-_._5)
    println(f"${"hint site (first user)"}%-60s ${"small"}%8s ${"big"}%8s ${"×10 g"}%7s ${"proj@target"}%12s")
    table.foreach { case (label, sn, bn, g, proj) =>
      val mark = if (proj >= 1e6) " <-- near audit cap" else ""
      println(f"$label%-60s $sn%8d $bn%8d $g%7.2f ${proj / 1e6}%10.2fM$mark")
    }
    0
  }
}
