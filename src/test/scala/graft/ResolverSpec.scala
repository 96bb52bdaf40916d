package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one name resolver Verify's SPARK_GRAFT_ONLY and the Cli share. */
class ResolverSpec extends AnyFunSuite {

  test("a short qNN name resolves to exactly its own query") {
    // q17 is also a string prefix of q170..q179
    assert(SparkEntry.resolve(Seq("q17")) === Seq("q17_except"))
    assert(SparkEntry.resolve(Seq("q11", "q17", "q264", "q64", "q86")).size === 5)
  }

  test("a full name resolves to itself") {
    assert(SparkEntry.resolve(Seq("q170_timed_funnel", "q17_except")) ===
      Seq("q170_timed_funnel", "q17_except"))
  }

  test("an unknown name throws and lists the names it could have meant") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.resolve(Seq("q17", "q17_exept")))
    assert(e.getMessage.contains("'q17_exept'"))
    assert(e.getMessage.contains("q17_except"))
    intercept[IllegalArgumentException](SparkEntry.resolve(Seq("q1")))
    val p = intercept[IllegalArgumentException](
      SparkEntry.resolve(Seq("pagerank")))
    assert(p.getMessage.contains("q86_pagerank, q174_pagerank_weighted") ||
      p.getMessage.contains("q174_pagerank_weighted, q86_pagerank"))
  }
}
