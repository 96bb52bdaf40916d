package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  test("exact dedup keeps smallest id per content hash with copy count") {
    val df = Seq((3, "same"), (1, "same"), (2, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .orderBy($"keep_id")
      .select($"keep_id", $"n_copies").as[(Int, Long)].collect()
    assert(out.toSeq === Seq((1, 2L), (2, 1L)))
  }

  test("minhash signature: identical docs identical, length = numHashes") {
    val df = Seq((1, base), (2, base), (3, "something else entirely here now"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatureFromHashes(
        df.select($"doc_id",
          graft.functions.ShingleHashes($"text", 3).as("sh")), 16)
      .select($"doc_id", $"sig").as[(Int, Seq[Long])].collect().toMap
    assert(sigs(1).size === 16)
    assert(sigs(1) === sigs(2))
    assert(sigs(1) !== sigs(3))
  }

  test("minhashNearDups finds the near-duplicate pair, not unrelated docs") {
    val df = Seq(
      (1, base),
      (2, base + " OMEGA"), // one appended token: high Jaccard
      (3, "totally unrelated words about completely different topics " +
        "nothing shared with the greek letter document at all truly"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5)
      .select($"id_a", $"id_b").as[(Int, Int)].collect().toSet
    assert(pairs.contains((1, 2)))
    assert(!pairs.exists(p => p._1 == 3 || p._2 == 3))
  }

  // The name keeps the former wrapper's name; the body runs the
  // minhashPortableSigs + minhashPairsFromSigs composition q295 runs.
  test("minhashNearDupsPortable survives sub-shingle docs under ANSI " +
    "(try_element_at null-propagation, no INVALID_ARRAY_INDEX)") {
    // Spark 4 runs ANSI-on by default: a plain element_at past the end
    // of the token array would throw, not null. Docs with 1 or 2 tokens
    // (< shingleN=3) must flow through as all-null signatures — dropped
    // by the agreement threshold, never crashing the query — matching
    // DuckDB's t[i] → NULL semantics on the oracle side.
    val df = Seq(
      (1, base),
      (2, base + " OMEGA"),
      (3, "solo"),          // 1 token: every shingle slot out of range
      (4, "two tokens"),    // 2 tokens: third slot out of range
      (5, "")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsFromSigs(
        Dedup.minhashPortableSigs(df, "doc_id", "text"), "doc_id",
        threshold = 0.5)
      .select($"id_a", $"id_b").as[(Int, Int)].collect().toSet
    assert(pairs.contains((1, 2)))
    assert(!pairs.exists(p => p._1 >= 3 || p._2 >= 3),
      s"short docs must never clear the threshold: $pairs")
  }

  test("simhashNearDups: near-identical docs within small hamming distance") {
    val df = Seq(
      (1, base),
      (2, base + " OMEGA"),
      (3, "totally unrelated words about completely different topics " +
        "nothing shared with the greek letter document at all truly"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 8)
      .select($"id_a", $"id_b").as[(Int, Int)].collect().toSet
    assert(pairs.contains((1, 2)))
    assert(!pairs.exists(p => p._1 == 3 || p._2 == 3))
  }

  test("ngramJaccardPairs computes exact Jaccard via the inverted index") {
    // 3-shingles: {a b c, b c d, c d e} vs {a b c, b c d, c d x}
    //   → inter 2, union 4, jaccard 0.5
    val df = Seq((1, "a b c d e"), (2, "a b c d x"), (3, "z z1 z2 z3 z4"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", shingleN = 3)
      .select($"id_a", $"id_b", $"jaccard").as[(Int, Int, Double)].collect()
    assert(out.toSeq === Seq((1, 2, 0.5)))
  }

  test("containmentPairs: subset inclusion scores 1.0 where Jaccard is low") {
    // doc 2 = doc 1's first 5 tokens: every one of doc 2's 3 shingles
    // is in doc 1's 8 → containment 3/3 = 1.0, jaccard only 3/8
    val host = "a b c d e f g h i j"
    val df = Seq((1, host), (2, "a b c d e"), (3, "q r s t u"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", shingleN = 3)
      .select($"id_a", $"id_b", $"containment")
      .as[(Int, Int, Double)].collect()
    assert(got.toSeq === Seq((1, 2, 1.0)))
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", shingleN = 3)
      .select($"jaccard").as[Double].collect().head
    assert(j === 0.375)
    // threshold filters below-min pairs
    val none = Dedup.containmentPairs(df, "doc_id", "text", shingleN = 3,
      minContainment = 1.1)
    assert(none.count() === 0L)
  }

  test("ngramJaccardPairs honors partition columns (no cross-group pairs)") {
    val df = Seq((1, "en", "a b c d"), (2, "en", "a b c d"), (3, "fr", "a b c d"))
      .toDF("doc_id", "lang", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, Seq("lang"))
      .select($"id_a", $"id_b").as[(Int, Int)].collect().toSet
    assert(out === Set((1, 2)))
  }

  test("dropNearDups keeps the min-id representative of each dup group") {
    val df = Seq(
      (1, base),
      (2, base + " OMEGA"),
      (7, base + " OMEGA PSI"),
      (9, "totally unrelated words about completely different topics " +
        "nothing shared with the greek letter document at all truly"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5)
    val kept = Dedup.dropNearDups(df, pairs, "doc_id")
      .select($"doc_id").as[Int].collect().toSet
    assert(kept.contains(1) && kept.contains(9), kept.toString)
    assert(!kept.contains(2), s"2 has lower-id near-dup 1: $kept")
  }

  test("q63 LSH corpus dedup is sound: kept set ⊇ the exact path's kept set") {
    // the q63 composition on the q63 corpus: MinHash-LSH candidates are
    // VERIFIED with exact hash-Jaccard, so every emitted pair must also
    // appear in the exhaustive inverted-index pair set at the same
    // threshold — LSH can only MISS pairs (recall, measured in
    // LshRecallSpec), never invent them. Hence dropNearDups over the LSH
    // pairs keeps a superset of what the exact path keeps.
    val docs = SparkEntry.withNearDups(spark, sf)
    val lshPairsDf = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5)
    val lshPairs = lshPairsDf
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val exactPairsDf = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3)
      .filter(round($"jaccard", 4) >= 0.5)
    val exactPairs = exactPairsDf
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lshPairs.nonEmpty, "constructed near-dups should be recalled")
    assert(lshPairs.subsetOf(exactPairs),
      s"LSH invented pairs: ${lshPairs.diff(exactPairs).take(3)}")

    val keptLsh = Dedup.dropNearDups(docs, lshPairsDf, "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    val keptExact = Dedup.dropNearDups(docs, exactPairsDf, "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptExact.subsetOf(keptLsh),
      s"LSH dropped docs the exact path kept: ${keptLsh.diff(keptExact).take(3)}")
  }

  test("hot-posting cap bounds the stop-shingle pair explosion") {
    // adversarial corpus: 60 docs share ONE boilerplate shingle, each with
    // otherwise-unique content — uncapped, that single posting list makes
    // all C(60,2)=1770 pairs materialize; plus one genuine near-dup pair
    // (1000/1001) that shares no boilerplate and must survive the cap
    val boiler = (0 until 60).map(i =>
      (i, s"all rights reserved unique$i%a unique$i%b unique$i%c unique$i%d"))
    val nearDup = Seq(
      (1000, "quick brown fox jumps over the lazy sleeping dog"),
      (1001, "quick brown fox jumps over the lazy sleeping cat"))
    val df = (boiler ++ nearDup).toDF("doc_id", "text")

    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", shingleN = 3,
      maxPostingDf = Int.MaxValue)
    assert(uncapped.count() >= 1770L, "adversary should explode uncapped")

    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", shingleN = 3,
        maxPostingDf = 10)
      .select($"id_a", $"id_b", $"jaccard").as[(Int, Int, Double)].collect()
    // only the genuine pair remains, its jaccard untouched by the cap:
    // 9 tokens → 7 shingles each, 6 shared → 6 / (7+7−6) = 0.75
    assert(capped.toSeq === Seq((1000, 1001, 0.75)))
  }

  test("dropBoilerplateLines: hot lines go, content and order survive") {
    val boiler = "all rights reserved"
    val docs = (0 until 12).map { i =>
      val content = s"unique line ${i}a\nunique line ${i}b"
      (i.toLong, if (i % 2 == 0) s"$content\n$boiler" else content)
    } :+ (100L, boiler) // a doc that is ONLY boilerplate
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(df, "doc_id", "text", maxLineDf = 3)
      .select($"doc_id", $"text_clean").as[(Long, String)].collect().toMap
    // boilerplate (df = 7 > 3) dropped everywhere; unique content (df=1)
    // kept, original line order preserved
    (0 until 12).foreach { i =>
      assert(out(i.toLong) === s"unique line ${i}a\nunique line ${i}b")
    }
    // the all-boilerplate doc survives as an empty row, not a dropped one
    assert(out(100L) === "")
    assert(out.size === 13)
  }

  test("contaminationStats counts distinct shared shingles, keeps clean rows") {
    val eval = Seq((900L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares "the quick brown" and "quick brown fox": 2 overlaps
      (1L, "today the quick brown fox slept"),
      // repeats a shared shingle — counted once (distinct semantics)
      (2L, "the quick brown then the quick brown again"),
      (3L, "completely unrelated words about other things entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.contaminationStats(corpus, eval, "doc_id", "text", 3)
      .select($"doc_id", $"n_overlap", $"contaminated")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 0L, 0L)))
  }

  test("decontaminateBloom ≡ contaminationStats (no false negatives, " +
    "exact verify kills false positives)") {
    // larger corpus than the hand fixture so the bloom actually filters;
    // clean docs share vocabulary n-grams but no full 3-shingle
    val eval = Seq(
      (900L, "the quick brown fox jumps high"),
      (901L, "pack my box with five dozen jugs")).toDF("doc_id", "text")
    val corpus = (1L to 40L).map { i =>
      val base = s"doc $i filler words number ${i * 7} more content here"
      val text =
        if (i % 5 == 0) s"$base the quick brown fox appears"
        else if (i % 7 == 0) s"$base pack my box with care"
        else base
      (i, text)
    }.toDF("doc_id", "text")
    val exact = Dedup.contaminationStats(corpus, eval, "doc_id", "text", 3)
      .select($"doc_id", $"n_overlap", $"contaminated")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // high fpp on purpose: false positives MUST be scrubbed by the
    // exact verify join, so even a sloppy filter changes nothing
    val bloom = Dedup.decontaminateBloom(corpus, eval, "doc_id", "text", 3,
        fpp = 0.2)
      .select($"doc_id", $"n_overlap", $"contaminated")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(bloom === exact)
    assert(exact.exists(_._3 == 1L) && exact.exists(_._3 == 0L))
  }

  test("fuzzyNamePairs: exact recall at distance 1, including " +
    "first-char edits that banded blocking would miss") {
    val df = Seq(
      "blue bolt",  // substitution partner of "blue belt"
      "blue belt",
      "lue bolt",   // FIRST-char deletion of "blue bolt"
      "blue boltx", // trailing insertion
      "blue bolt",  // duplicate row: distinct-ed, no self pair
      "red widget") // no partner within distance 1
      .map(Tuple1(_)).toDF("name")
    val got = Dedup.fuzzyNamePairs(df, "name")
      .select($"name_a", $"name_b", $"dist")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("blue belt", "blue bolt", 1L),
      ("blue bolt", "blue boltx", 1L),
      ("blue bolt", "lue bolt", 1L)))
  }

  test("embeddingNearDups: exact copies caught, cross-cell pairs bounded") {
    // two well-separated directions (cells) in 4-d; exact copies of ids
    // 1 and 10, plus an orthogonal singleton that must survive
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.05f, 0.0f, 0.0f)), // near id 1: cos ≈ 0.999
      (10L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)), // orthogonal to everything
      (101L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact copy of 1
      (110L, Array(0.0f, 1.0f, 0.0f, 0.0f))) // exact copy of 10
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(0.1f, 0.9f, 0.1f, 0.0f)))
      .toDF("centroid_id", "centroid")

    val pairs = Dedup.embeddingNearDups(vecs, cents, threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // exact copies always share their original's cell → always found;
    // 2 is in 1's cell at cos ≈ 0.999; 11 sits in cell 1 (z leans to
    // the second centroid) but is orthogonal to 10/110 → below threshold
    assert(pairs === Set((1L, 2L), (1L, 101L), (2L, 101L), (10L, 110L)))

    val kept = Dedup.dropNearDups(vecs, Dedup.embeddingNearDups(
        vecs, cents, threshold = 0.9), "vec_id")
      .select($"vec_id").as[Long].collect().toSet
    // min-id representatives survive: 1 keeps its group (2, 101 drop),
    // 10 keeps 110 out, 11 is untouched
    assert(kept === Set(1L, 10L, 11L))
  }

  test("duplicateClusters: transitive closure over chains, disjoint " +
    "components stay apart") {
    // component 1 is a PATH 1-2-3-4-5 (no shortcut edges): the min label
    // must propagate 4 hops, so this exercises the iteration, not just
    // one round. Component 2 is a triangle with a non-min entry edge.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // path
      (20L, 30L), (30L, 40L), (20L, 40L))     // triangle
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 20L, 30L -> 20L, 40L -> 20L))
    // greedy dropNearDups keeps path-local minima (1, every odd link is
    // a pair's low side... in fact only ids that never appear as id_b):
    // the cluster view instead names ONE representative per chain
    assert(got.values.toSet === Set(1L, 20L))
  }

  test("duplicateClusters converges regardless of id orientation") {
    // labels must flow against the pair orientation too (id_b < id_a
    // never happens from our generators, but min-propagation must not
    // depend on it); star centered on the max id
    val pairs = Seq((7L, 9L), (8L, 9L), (1L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("duplicateClusters labels a 64-node path under default arguments") {
    // a 63-hop chain, against the pair orientation: the least id must
    // travel the whole path, one hop per round, with no round bound
    val path = (1L until 64L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(path).as[(Long, Long)].collect()
    assert(got.map(_._1).sorted.toSeq === (1L to 64L))
    assert(got.forall(_._2 == 1L))
  }

  test("sharedSpanPairs finds OFFSET-SHIFTED verbatim spans (the case " +
    "fixed-stride sampling misses), not unrelated docs") {
    // the shared block sits at different offsets in docs 1 and 2: a
    // stride-aligned sampler would pick disjoint windows, the content-
    // defined md5 anchor picks the same in-span windows on both sides
    val span = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, "left pad " + span),
      (2L, "a much longer and different prefix before the block " + span),
      (3L, (1 to 200).map(i => s"zzz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.sharedSpanPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSet === Set((1L, 2L)), got.toSeq)
    assert(got.head._3 >= 2L)
  }

  test("sharedSpanPairs: docs shorter than the window yield no postings") {
    val docs = Seq((1L, "short"), (2L, "short")).toDF("doc_id", "text")
    assert(Dedup.sharedSpanPairs(docs, "doc_id", "text").count() === 0L)
  }

  /** Every node of the final plan, AQE stages opened up. Runs the frame
    * first, so adaptive plans are their executed, final form.
    */
  private def executedNodes(df: org.apache.spark.sql.DataFrame)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    subtree(df.queryExecution.executedPlan)
  }

  private def subtree(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => subtree(a.executedPlan)
      case s: QueryStageExec => subtree(s.plan)
      case o => o +: o.children.flatMap(subtree)
    }
  }

  /** The pair operator's plan shape: one exchange on the posting key
    * (hash-partitioned on the key the operator reads), no Window, no
    * sort-merge join. Returns the nodes for further checks.
    */
  private def assertOnePostingExchange(df: org.apache.spark.sql.DataFrame,
                                       what: String)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = executedNodes(df)
    val ops = nodes.collect { case p: graft.plans.PostingPairsExec => p }
    assert(ops.size === 1, s"$what: one pair operator\n${nodes.head}")
    val keyExchanges = nodes.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect {
      case HashPartitioning(Seq(k), _) if k.semanticEquals(ops.head.key) => k
    }
    assert(keyExchanges.size === 1, s"$what: posting-key exchanges\n${nodes.head}")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), s"$what: Window")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"$what: SortMergeJoin")
    nodes
  }

  test("ngramJaccardPairs shingles each document once, after the fan-out " +
    "exchange, and pairs postings over one posting-key exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the sf0.1 file is over the fan-out floor; the filter keeps the
    // pair stream at the sf0.001 corpus size without changing the leaf
    val docs = graft.sources.Tables.load(spark, sf01, "documents")
      .filter($"doc_id" < 500)
    val nodes = assertOnePostingExchange(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
        Seq("lang", "source")), "ngramJaccardPairs")
    val shingling = nodes.filter(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.ShingleHashes])))
    assert(shingling.size === 1,
      s"shingle_hashes evaluated ${shingling.size}×:\n${nodes.head}")
    assert(subtree(shingling.head).exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
      case _ => false
    }, s"shingling must sit above the fan-out exchange:\n${nodes.head}")
  }

  test("sharedSpanPairs pairs postings over one posting-key exchange, " +
    "no window, no sort-merge join") {
    assertOnePostingExchange(Dedup.sharedSpanPairs(
      SparkEntry.withNearDups(spark, sf), "doc_id", "text"),
      "sharedSpanPairs")
  }
}
