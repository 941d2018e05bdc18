package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.GraftDatasetFactory

/** Native as-of join — the full custom-operator extension point (SURVEY.md
  * §4.2/§4.3 stretch): LogicalPlan node + SparkStrategy + SparkPlan with a
  * single-pass sorted-merge doExecute.
  *
  * Semantics: for every left (probe) row, attach the LAST right (reference)
  * row of the same key with time ≤ the probe time, or nulls. Keys and times
  * are LongType expressions over the child outputs.
  *
  * Scale shape: EnsureRequirements satisfies the declared ClusteredDistribution
  * + per-partition (key, time) ordering, so the engine inserts exactly one
  * hash exchange + sort per side, and the merge is a streaming O(n+m) pass
  * per partition with O(1) state (one buffered reference row) — no range
  * explosion, no per-key materialization; linear at any scale.
  *
  * Whole-stage-codegen verdict (round-10 measurement, the tf-idf
  * measure-don't-assume bar): at 16x/64x-scaled sf0.1 events (321k/1.29M
  * probe rows) this exec runs 0.40/0.74 s vs 0.16/0.27 s for the
  * union+window compositional asof — a ~3x per-row marginal
  * (~0.35 vs ~0.11 µs/row). Caching the head key projection measured
  * NEUTRAL, so the gap is (a) the two-exchange/two-sort shape this binary
  * node requires vs the compositional's single union exchange, and (b)
  * JoinedRow→outProj per-field indirection. A doProduce/doConsume
  * implementation could only remove (b) — it cannot remove the extra
  * exchange — so even a perfect codegen merge stays behind the
  * compositional plan at scale. Codegen therefore does NOT pay: the
  * union+window form stays the recommended 100 TB asof plan, and this
  * node remains the full custom-operator extension-point demonstration.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    lKey: Expression, lTime: Expression,
    rKey: Expression, rTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    lKey: Expression, lTime: Expression,
    rKey: Expression, rTime: Expression,
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(lKey :: Nil), ClusteredDistribution(rKey :: Nil))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(lKey, Ascending), SortOrder(lTime, Ascending)),
    Seq(SortOrder(rKey, Ascending), SortOrder(rTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = lKey; val lt = lTime; val rk = rKey; val rt = rTime
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lProj = UnsafeProjection.create(Seq(lk, lt), lOut)
      val rProj = UnsafeProjection.create(Seq(rk, rt), rOut)
      // emit UnsafeRows: downstream consumers (getByteArrayRdd, exchanges)
      // cast to UnsafeRow, so a raw JoinedRow would only survive under a
      // projection. Bind against outAttrs itself (== lOut ++ rOut in order,
      // right side marked nullable) so the null-extended reference columns
      // keep their null checks in the generated projection.
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRow = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val rBuf = rIt.buffered
      new Iterator[InternalRow] {
        private var lastMatch: UnsafeRow = _
        private var lastMatchKey: Long = _
        // The head's (key, time) are cached across probe rows so each ref
        // row is key-projected exactly once per partition (strictly less
        // work than re-projecting per probe-row visit; measured NEUTRAL at
        // 64x sf0.1 — the merge cost lives in the JoinedRow->outProj
        // indirection and the two-exchange plan shape, see the codegen
        // verdict in the class doc).
        private var headValid = false
        private var headKey: Long = _
        private var headTime: Long = _
        override def hasNext: Boolean = lIt.hasNext
        override def next(): InternalRow = {
          val lRow = lIt.next()
          val lp = lProj(lRow)
          val curKey = lp.getLong(0)
          val curTime = lp.getLong(1)
          var advancing = true
          while (advancing) {
            if (!headValid && rBuf.hasNext) {
              val rp = rProj(rBuf.head)
              headKey = rp.getLong(0); headTime = rp.getLong(1)
              headValid = true
            }
            if (headValid && (headKey < curKey ||
                (headKey == curKey && headTime <= curTime))) {
              if (headKey == curKey) {
                lastMatch = rBuf.head.asInstanceOf[UnsafeRow].copy()
                lastMatchKey = headKey
              }
              rBuf.next()
              headValid = false
            } else advancing = false
          }
          if (lastMatch != null && lastMatchKey == curKey)
            outProj(joined(lRow, lastMatch))
          else outProj(joined(lRow, nullRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Injected optimizer rule (the §4.1 custom-Rule extension point, run in
  * Spark's operator-optimization batches): Catalyst cannot push
  * predicates through an unknown node, so probe-side filters
  * sitting above an AsOfJoin would block parquet pushdown. This rule moves
  * any filter that references only probe-side attributes below the join,
  * where the built-in rules carry it down to the scan (PushedFilters —
  * asserted on a parquet probe by ExtensionsSpec). Reference-side rows
  * must NOT be filtered by probe predicates (they change which "last" row
  * matches), so only the left side is eligible. */
object PushProbeFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // cond.deterministic guard: a nondeterministic predicate (rand()-based
    // sampling has an EMPTY reference set, trivially a subset) must not move
    // below the join — it would change evaluation order/count; Catalyst's
    // built-in pushdown rules carry the same guard.
    case f @ Filter(cond, j: AsOfJoin)
        if cond.deterministic && cond.references.subsetOf(j.left.outputSet) =>
      j.copy(left = Filter(cond, j.left))
  }
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ AsOfJoin(l, r, lk, lt, rk, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, j.output) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {
  /** Build the joined DataFrame; every session already plans it
    * ([[graft.ext.GraftExtensions]] injects [[AsOfStrategy]] and
    * [[PushProbeFilterThroughAsOfJoin]]). Key/time columns are referenced
    * by name in each side's output. */
  def join(s: SparkSession, probe: DataFrame, ref: DataFrame,
      pKey: String, pTime: String, rKey: String, rTime: String): DataFrame = {
    val lPlan = probe.queryExecution.analyzed
    val rPlan0 = ref.queryExecution.analyzed
    // Self-join exprId dedup: if probe and ref derive from the same
    // DataFrame and share an unaliased column, the node's output would carry
    // duplicate attribute ids and downstream resolution becomes ambiguous.
    // Re-alias the right side with fresh exprIds whenever outputs overlap
    // (the same rewrite DeduplicateRelations applies to built-in joins).
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output}"))
    GraftDatasetFactory.ofRows(s,
      AsOfJoin(lPlan, rPlan, attr(lPlan, pKey), attr(lPlan, pTime),
        attr(rPlan, rKey), attr(rPlan, rTime)))
  }
}
