package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** Capped posting-list pairing as one custom operator — the inverted-index
  * step of the dedup family ([[graft.ext.Dedup]]) fused into a single
  * streaming pass, the same (c)-tier ladder as [[AsOfJoinPlan]]: logical
  * node + strategy + exec, registered through GraftExtensions.
  *
  * Input: postings (key, id, carried...). Output: for every key whose
  * posting list holds at most `maxListSize` DISTINCT ids, each unordered
  * pair of distinct non-null ids once, as (id_a, carried_a..., id_b,
  * carried_b...) with id_a < id_b under the id type's SQL ordering.
  *
  * Semantics are those of `dropDuplicates(key, id)`, a per-key
  * `count(*)` window, a filter on the cap, and a self-join on
  * `key = key AND id_a < id_b` (PostingPairsSpec's reference):
  *  - ids are de-duplicated within a list (one row's carried values
  *    win, so carried columns should be functions of the id);
  *  - a null id counts once toward the cap and is never paired;
  *  - a null key is never paired (the self-join's `=` rejects it).
  *
  * The exec requires its input clustered on the key and sorted on it,
  * so EnsureRequirements plans one exchange and one spillable sort (a
  * radix sort: the key is one long). The pass then holds at most one
  * posting list, and at most `maxListSize` distinct rows of it: a list
  * stops buffering once it is over the cap. A row is checked against
  * the ids already buffered (≤ `maxListSize` comparisons), and a
  * complete list is sorted by id before its pairs are emitted.
  */
case class PostingPairsPlan(child: LogicalPlan, key: Expression,
                            side: Seq[Expression], maxListSize: Int,
                            pairOutput: Seq[Attribute]) extends UnaryNode {

  override def output: Seq[Attribute] = pairOutput

  // pairOutput is GENERATED here (fresh exprIds, like AsOfJoinPlan's
  // valAttrs), so references stays the child columns the node reads
  override def producedAttributes: AttributeSet = AttributeSet(pairOutput)

  override protected def withNewChildInternal(
      newChild: LogicalPlan): PostingPairsPlan = copy(child = newChild)
}

case class PostingPairsExec(child: SparkPlan, key: Expression,
                            side: Seq[Expression], maxListSize: Int,
                            pairOutput: Seq[Attribute]) extends UnaryExecNode {

  override def output: Seq[Attribute] = pairOutput

  override def producedAttributes: AttributeSet = AttributeSet(pairOutput)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val keyOrdinal = childOut.indexWhere(_.semanticEquals(key))
    val sideExprs = side
    val sideTypes = side.map(_.dataType)
    val cap = maxListSize
    val numOutputRows = longMetric("numOutputRows")

    child.execute().mapPartitions { rows =>
      val sideProj = UnsafeProjection.create(sideExprs, childOut)
      // the side row's ordinal 0 is the id: ordering on it alone
      val idOrd =
        RowOrdering.createNaturalAscendingOrdering(Seq(sideTypes.head))
      val pairProj = UnsafeProjection.create(
        (sideTypes ++ sideTypes).zipWithIndex.map { case (t, i) =>
          BoundReference(i, t, nullable = true)
        })
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // the current list's distinct non-null sides (sorted by id once
        // the list is complete) and the next pair (i, j) to emit
        private val list = new ArrayBuffer[UnsafeRow]
        private var i = 0
        private var j = 1
        // first row of the next list, read while closing the current one
        private var pending: InternalRow = _

        override def hasNext: Boolean = {
          while (j >= list.length && nextList()) {}
          j < list.length
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val out = pairProj(joined(list(i), list(j)))
          j += 1
          if (j == list.length) { i += 1; j = i + 1 }
          numOutputRows += 1
          out
        }

        /** Read one whole posting list into `list` (empty when it is
          * over the cap, keyed null, or holds under two non-null ids).
          * False once the partition is exhausted.
          */
        private def nextList(): Boolean = {
          list.clear(); i = 0; j = 1
          if (pending == null) {
            if (!rows.hasNext) return false
            pending = rows.next()
          }
          val nullKey = pending.isNullAt(keyOrdinal)
          val k = if (nullKey) 0L else pending.getLong(keyOrdinal)
          var row = pending
          pending = null
          var distinct = 0
          var sawNullId = false
          var over = false
          var inList = true
          while (inList) {
            if (!over && !nullKey) {
              val s = sideProj(row)
              if (s.isNullAt(0)) {
                if (!sawNullId) { sawNullId = true; distinct += 1 }
              } else if (!list.exists(idOrd.compare(_, s) == 0)) {
                distinct += 1
                if (distinct <= cap) list += s.copy()
              }
              if (distinct > cap) { over = true; list.clear() }
            }
            if (rows.hasNext) {
              val r = rows.next()
              if (r.isNullAt(keyOrdinal) == nullKey &&
                (nullKey || r.getLong(keyOrdinal) == k)) row = r
              else { pending = r; inList = false }
            } else inList = false
          }
          if (list.length > 1) list.sortInPlaceWith(idOrd.lt)
          true
        }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PostingPairsExec = copy(child = newChild)
}

class PostingPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PostingPairsPlan(child, key, side, cap, out) =>
      PostingPairsExec(planLater(child), key, side, cap, out) :: Nil
    case _ => Nil
  }
}

/** Public API: pair a posting frame through [[PostingPairsPlan]]. Lazy —
  * builds the node from the analyzed input and runs no job. Requires
  * GraftSession (or any session with GraftExtensions) so the planner
  * knows the strategy.
  */
object PostingPairs {

  /** @param key         posting key column, LONG (a 64-bit hash in every
    *                    caller)
    * @param id          id column, any orderable type
    * @param carried     columns carried with each side; `c` comes out as
    *                    `c_a` and `c_b`
    * @param maxListSize lists with more distinct ids are dropped whole
    * @return (id_a, carried_a..., id_b, carried_b...)
    */
  def apply(postings: DataFrame, key: String, id: String,
            carried: Seq[String], maxListSize: Int): DataFrame = {
    val child = postings.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in [${child.output.map(_.name).mkString(", ")}]"))
    val k = attr(key)
    require(k.dataType == LongType,
      s"posting key '$key' must be BIGINT, got ${k.dataType.sql}")
    val i = attr(id)
    require(RowOrdering.isOrderable(i.dataType),
      s"posting id '$id' must be orderable, got ${i.dataType.sql}")
    val side = i +: carried.map(attr)
    def sideOut(suffix: String): Seq[Attribute] =
      AttributeReference(s"id$suffix", i.dataType, nullable = false)() +:
        side.tail.map(c => AttributeReference(s"${c.name}$suffix",
          c.dataType, c.nullable)())
    val node = PostingPairsPlan(child, k, side, maxListSize,
      sideOut("_a") ++ sideOut("_b"))
    // fresh aliases on top: a later self-join of the result dedupes
    // through this Project, never through the custom node
    Bridge.ofRows(postings.sparkSession,
      Project(node.output.map(a => Alias(a, a.name)()), node))
  }
}
