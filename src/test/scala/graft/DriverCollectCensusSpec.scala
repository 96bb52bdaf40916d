package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The driver-side materialization census, EXECUTABLE instead of re-done
  * by hand each round: every collect ships a whole DataFrame to the
  * driver, so each one in non-test source carries a proof obligation —
  * the collected frame must be MODEL-sized (k×dim centroids, a d×d
  * Gram matrix, SQ bounds, a candidate-bounded MMR pool) or a 1-row
  * aggregate, never corpus-sized. The round-12 review established the
  * obligation for all then-existing sites by reading them; this spec
  * freezes that census so a NEW site cannot creep in silently — it
  * fails until the new site is either removed or added here with its
  * bound named.
  *
  * Surface (round-14 widening, per ADVICE): not just `.collect()` but
  * every argless Dataset materialization — `collectAsList()`,
  * `toLocalIterator()`, `head()`, `first()`. The argless-parens forms
  * are unambiguous: Scala-collection `head`/`take` are parameterless
  * (auto-application is an error in 2.13), so `.head()` in source can
  * only be the Dataset API. `take(n)`/`head(n)` are NOT counted — the
  * call shape is identical on Scala collections (the repo's top-k
  * aggregators use them on arrays pervasively) and a source census
  * cannot type-resolve; the scale exposure there is bounded by n at
  * the call site and covered by review. Comments are stripped before
  * counting so doc-text mentions don't drift the counts (string
  * literals containing `//` may over-strip the remainder of their
  * line — acceptable for a census that recounts on every change).
  *
  * Source-level by design: a plan-level probe cannot see collects (they
  * execute eagerly at query-build time), and counting call sites per
  * file is robust to line drift while still localizing a violation to
  * one file.
  */
class DriverCollectCensusSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** file (relative to src/main/scala) → (allowed count, named bound) */
  private val census: Map[String, (Int, String)] = Map(
    "graft/ext/Similarity.scala" -> ((6,
      "k-means centroids k×dim (iterated fixpoint reads), PQ/SQ " +
        "codebooks and bounds (2×d / k×d²ᵇ), MMR candidate pool " +
        "(candidate-bounded ≤ poolK), plus one head() on a 1-row " +
        "embedding-dimension probe")),
    "graft/queries/RelationalQueries.scala" -> ((2,
      "q289 PCA power iteration: the d×d=64² Gram matrix — one " +
        "aggregate row per matrix CELL, corpus-independent; one " +
        "head() on a 1-row agg(max,max) key-bound probe")),
    "graft/tools/MakeTenX.scala" -> ((2,
      "corpus-scaling tool (not a query path): two head() reads of " +
        "1-row agg(max) key bounds used to offset replicated keys")))

  private val matPattern =
    "\\.(?:collect|collectAsList|toLocalIterator|head|first)\\(\\)".r

  /** The ARGFUL take(n)/head(n) residual surface (VERDICT r14 #5 /
    * round 15): a source census cannot type-resolve the receiver, and
    * the call shape is identical on Scala collections — so instead of
    * guessing, every argful site is COUNT-PINNED per file. All 15
    * current sites are Scala-collection receivers (reviewed per
    * site): Bench's top-10 sort of an in-driver seconds list,
    * the text queries' string prefixes (PGM/WAV fixture synthesis),
    * Staging's byte-array/string prefixes (digest hex, a tmp-dir
    * name), MakeTenX's alphabet
    * rotation, the Cli hints table's schema-name label, and the top-k
    * aggregators' bounded buffer merges. ZERO are Dataset-typed — a
    * Dataset take(n) ships n rows to the driver and would need a
    * named bound here like the argless forms above. A new site (or a
    * removed one) changes its file's count and fails this census
    * until re-reviewed.
    */
  private val argfulCensus: Map[String, (Int, String)] = Map(
    "graft/Bench.scala" -> ((2,
      "top-10 selection over the in-driver per-query seconds list; " +
        "failedAll.take(5) — first five names from the in-driver " +
        "failed-query Seq[String] for the broken-run stderr message")),
    "graft/queries/TextQueries.scala" -> ((2,
      "string prefixes: PGM/WAV fixture text (2)")),
    "graft/core/Staging.scala" -> ((3,
      "byte-array/string prefixes: digest hex truncations (2), a UUID " +
        "tmp-dir suffix (1)")),
    "graft/tools/MakeTenX.scala" -> ((1,
      "alphabet-string rotation for replica text mutation")),
    "graft/tools/Cli.scala" -> ((1,
      "schema field-name prefix for the hints table label")),
    "graft/functions/TopKScored.scala" -> ((3,
      "k-bounded aggregation buffer (Array) inserts/merges")),
    "graft/functions/TopKAggregator.scala" -> ((3,
      "k-bounded aggregation buffer (Array) inserts/merges")))

  private val argfulPattern = "\\.(?:take|head)\\(\\s*[^)\\s]".r

  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", "")

  test("every driver-side materialization in src/main is in the census " +
    "with a named model-size bound") {
    val root = Paths.get("src/main/scala")
    val found = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val n = matPattern
          .findAllIn(stripComments(Files.readString(p))).size
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap
    val unexpected = found.filter { case (f, n) =>
      census.get(f).forall(_._1 != n)
    }
    assert(unexpected.isEmpty,
      "driver-materialization sites outside the census (collect/head/" +
        "first ship rows to the driver — prove the frame is " +
        "model-sized and add it here with its bound, or make the " +
        "operator distributed):\n" +
        unexpected.map { case (f, n) =>
          s"$f: $n site(s), census allows ${census.get(f).map(_._1).getOrElse(0)}"
        }.mkString("\n"))
    val stale = census.keySet -- found.keySet
    assert(stale.isEmpty,
      s"census entries match no file with materializations (stale): $stale")
  }

  test("every argful take(n)/head(n) in src/main matches its pinned " +
    "count (receiver-type boundary, reviewed per site)") {
    val root = Paths.get("src/main/scala")
    val found = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val n = argfulPattern
          .findAllIn(stripComments(Files.readString(p))).size
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap
    val unexpected = found.filter { case (f, n) =>
      argfulCensus.get(f).forall(_._1 != n)
    }
    assert(unexpected.isEmpty,
      "argful take/head sites outside the pinned census (if the " +
        "receiver is a Dataset this ships n rows to the driver — " +
        "review and re-pin with the receiver named):\n" +
        unexpected.map { case (f, n) =>
          s"$f: $n site(s), census pins " +
            s"${argfulCensus.get(f).map(_._1).getOrElse(0)}"
        }.mkString("\n"))
    val stale = argfulCensus.keySet -- found.keySet
    assert(stale.isEmpty,
      s"argful census entries match no file (stale): $stale")
  }
}
