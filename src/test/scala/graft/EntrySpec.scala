package graft

class EntrySpec extends SparkTestBase {

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the query, oracle and rows-only views agree") {
    val names = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    assert(names === oracled ++ SparkEntry.rowsOnly)
    assert((oracled intersect SparkEntry.rowsOnly).isEmpty)
    assert((names.size, oracled.size, SparkEntry.rowsOnly.size) === ((298, 289, 9)))
  }

  test("every rows-only query names pinning specs that exist") {
    val pins = SparkEntry.registry.collect {
      case queries.Query(n, _, queries.RowsOnly(specs)) => n -> specs
    }
    pins.foreach { case (n, specs) =>
      withClue(s"$n: ") {
        assert(specs.nonEmpty)
        specs.foreach(c => Class.forName(s"graft.$c"))
      }
    }
  }

  test("short qNN prefixes are unique across declared queries") {
    // every bench artifact and the name resolver key on the short
    // prefix ("q29" for q29_fingerprint); a duplicate would emit
    // colliding JSON keys in Bench's per-query maps and make a short
    // name ambiguous (ADVICE r16)
    val dup = SparkEntry.queries.keys.toSeq
      .groupBy(_.takeWhile(_ != '_')).filter(_._2.size > 1)
    assert(dup.isEmpty, s"duplicate short prefixes: $dup")
  }

  // The co-engagement graph family is legitimately EMPTY at sf0.001:
  // 15 users share no item pair under the ≥2-user support floor — the
  // corpus-scaled threshold doing its job on a corpus with no repeated
  // co-engagement, not a broken pipeline. Their non-emptiness gates
  // live where the graph is real: the sf0.01 oracle (driver CORRECTNESS)
  // and the sf0.1 bench empty-result tripwire (Bench.scala).
  // (q96/q175 stay out: their COUNT/corr rows exist even over zero edges;
  // q204/q205 need a degree-2 node, q206/q207 an edge — none at sf0.001)
  private val emptyAtTinySf = Set("q83_cooccurrence", "q86_pagerank",
    "q100_label_communities", "q141_bfs_hops", "q174_pagerank_weighted",
    "q202_kcore", "q204_adamic_adar", "q205_clustering_coeff",
    "q206_modularity", "q207_neighbor_jaccard",
    "q233_cooccurrence_chi2")

  test("all queries execute and return rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      withClue(s"$name returned 0 rows: ") {
        assert(n > 0 || name.contains("empty") || emptyAtTinySf(name))
      }
    }
  }
}
