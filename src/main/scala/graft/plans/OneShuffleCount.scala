package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, Literal, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** The reference's one MapReduce job as one planner strategy (SURVEY.md
  * §3.1 steps 4–6): a string key counted, repartitioned by a function of
  * that key alone, and sorted within partitions —
  *
  * {{{
  *   Sort([k ASC], global = false,
  *     RepartitionByExpression(e(k), Aggregate([k], [k, count(1) AS c]), Some(n)))
  * }}}
  *
  * — plans as the combiner, one shuffle and the reducer: partial count →
  * map-side sort on `k` → the repartition's own hash exchange → reduce-side
  * sort on `k` → [[MergeCountExec]]. Spark's own plan shuffles twice, on
  * `k` for the final count and on `e` for the repartition: it cannot see
  * that `e` depends on `k` only, so that every row of a key already meets
  * in one partition. The reduce-side sort is what makes adjacent keys
  * equal; the map-side sort only hands it presorted runs, which its
  * TimSort merges in close to linear time, and moves that work off the
  * skew-bound write stage onto the balanced map stage.
  *
  * Anything else plans as Spark plans it: a partition expression that is
  * nondeterministic or reads another column, range or round-robin
  * partitioning, a nullable or collated key (equality must be byte
  * equality), another aggregate, DISTINCT, FILTER, or a streaming plan.
  * Installed on a session by [[install]] or by [[graft.GraftExtensions]].
  */
object OneShuffleCount extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(Seq(SortOrder(k: Attribute, Ascending, _, _)), false,
        r @ RepartitionByExpression(es, Aggregate(Seq(g: Attribute),
          Seq(out: Attribute, c @ Alias(count @ AggregateExpression(
            Count(Seq(Literal(1, IntegerType))), Complete, false, None, _), _)), child, _), Some(_), _), _)
        if !plan.isStreaming && g.semanticEquals(k) && out.semanticEquals(k) &&
          k.dataType == StringType && !k.nullable &&
          r.partitioning.isInstanceOf[HashPartitioning] &&
          es.forall(_.deterministic) && es.forall(_.references.subsetOf(AttributeSet(k))) =>
      val partial = AggUtils.planAggregateWithoutDistinct(Seq(g), Seq(count),
        Seq(g, Alias(count.resultAttribute, c.name)(c.exprId)), planLater(child)).head.children.head
      val byKey = Seq(SortOrder(k, Ascending))
      val shuffled = ShuffleExchangeExec(r.partitioning, SortExec(byKey, global = false, partial),
        REPARTITION_BY_NUM)
      MergeCountExec(k, partial.output.last, Seq(out, c.toAttribute),
        SortExec(byKey, global = false, shuffled)) :: Nil
    case _ => Nil
  }

  /** Puts the strategy on `spark`'s planner once (SNIPPETS [2],
    * `SqlStrategy.setup`), or with `on = false` takes it off again. */
  def install(spark: SparkSession, on: Boolean = true): Unit = {
    val others = spark.experimental.extraStrategies.filterNot(_ == this)
    if (!on) spark.experimental.extraStrategies = others
    else if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies = this +: others
  }
}

/** The reducer (reference/WordCount.java:104-127, `WCReducer.reduce`):
  * over input sorted on `key`, one row per run of equal keys with the sum
  * of its `partial` counts. Keeps the input's ordering and partitioning. */
case class MergeCountExec(key: Attribute, partial: Attribute, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(SortOrder(key, Ascending)))
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (k, p) = (child.output.indexWhere(_.exprId == key.exprId), child.output.indexWhere(_.exprId == partial.exprId))
    child.execute().mapPartitions { rows =>
      val in = rows.buffered
      val writer = new UnsafeRowWriter(2)
      Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
        // the sorter reuses its row: read it before looking ahead
        val row = in.next()
        val group = row.getUTF8String(k).clone()
        var sum = row.getLong(p)
        while (in.hasNext && in.head.getUTF8String(k) == group) sum += in.next().getLong(p)
        writer.reset()
        writer.write(0, group)
        writer.write(1, sum)
        writer.getRow
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): MergeCountExec = copy(child = newChild)
}
