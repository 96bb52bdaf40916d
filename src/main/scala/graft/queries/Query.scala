package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name (`qNN_what`), how it builds its result
  * from a session and a corpus directory, and the check the driver runs
  * on that result. Each query is declared once, in the family file of
  * the engine module its build mainly calls; [[graft.SparkEntry]]
  * derives the driver-facing views from the concatenated families.
  */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       check: Check) {

  /** The short name (`q17` for `q17_except`) that bench artifacts key on. */
  def short: String = name.takeWhile(_ != '_')
}

/** How the driver checks a query's result. */
sealed trait Check

/** DuckDB SQL over the same corpus that returns the same rows: same
  * column names, same total order.
  */
final case class Oracle(sql: String) extends Check

/** No single-statement SQL reproduces the result (a Spark-only hash, an
  * iterated model); the driver only checks that rows come back. The
  * named spec classes (JUSTIFICATIONS.md) pin the property an oracle
  * would have checked.
  */
final case class RowsOnly(pinnedBy: Seq[String]) extends Check
