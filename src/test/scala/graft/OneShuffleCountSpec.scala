package graft

import graft.operators.Physical
import graft.plans.{MergeCountExec, OneShuffleCount}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[OneShuffleCount]] sees every plan of a session it is installed on.
  * The count-repartition-sort shape it matches plans one exchange and
  * returns, in the same order, the rows Spark's own plan returns; each
  * near miss plans Spark's own exchanges and returns the same rows as
  * with the strategy absent. */
class OneShuffleCountSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  // 600 rows over 32 distinct non-nullable string keys `k`, their integer
  // twins `ik`, and a small value `v` (`%` would make the keys nullable)
  private def words = spark.range(600).select(
    concat(lit("w"), (col("id") * 7).bitwiseAND(31).cast("string")).as("k"),
    (col("id") * 7).bitwiseAND(31).as("ik"), col("id").bitwiseAND(3).as("v"))

  private val placement = Physical.referencePlacement(col("k"), 5)

  /** `df`'s rows, its exchanges and its [[MergeCountExec]]s, run with the
    * strategy on or off; the session's own setting is put back after. */
  private def run(on: Boolean)(df: => DataFrame): (Seq[Row], Int, Int) = {
    val was = spark.sessionState.planner.strategies.contains(OneShuffleCount)
    OneShuffleCount.install(spark, on)
    try {
      val d = df
      val rows = d.collect().toSeq
      val plan = d.queryExecution.executedPlan
      (rows, collect(plan) { case s: ShuffleExchangeExec => s }.size,
        collect(plan) { case m: MergeCountExec => m }.size)
    } finally OneShuffleCount.install(spark, was)
  }

  test("the WordCount shape plans one exchange and returns Spark's rows in Spark's order") {
    def df = words.groupBy("k").agg(count(lit(1)).as("c"))
      .repartition(5, placement).sortWithinPartitions("k")
    val (off, offExchanges, _) = run(on = false)(df)
    val (on, onExchanges, merges) = run(on = true)(df)
    assert((offExchanges, onExchanges, merges) == ((2, 1, 1)))
    assert(on == off && on.size == 32)
  }

  private val nearMisses: Seq[(String, () => DataFrame)] = Seq(
    "a repartition on the count" -> (() => words.groupBy("k").agg(count(lit(1)).as("c"))
      .repartition(5, col("c")).sortWithinPartitions("k")),
    "repartitionByRange" -> (() => words.groupBy("k").agg(count(lit(1)).as("c"))
      .repartitionByRange(5, col("k")).sortWithinPartitions("k")),
    "a rand() partition expression" -> (() => words.groupBy("k").agg(count(lit(1)).as("c"))
      .repartition(5, rand(7)).sortWithinPartitions("k")),
    "count plus sum" -> (() => words.groupBy("k").agg(count(lit(1)).as("c"), sum("v").as("s"))
      .repartition(5, placement).sortWithinPartitions("k")),
    "countDistinct" -> (() => words.groupBy("k").agg(countDistinct("v").as("c"))
      .repartition(5, placement).sortWithinPartitions("k")),
    "a FILTER clause" -> (() => words.groupBy("k").agg(expr("count(1) FILTER (WHERE v > 0)").as("c"))
      .repartition(5, placement).sortWithinPartitions("k")),
    "an integer key" -> (() => words.groupBy("ik").agg(count(lit(1)).as("c"))
      .repartition(5, col("ik") % 3).sortWithinPartitions("ik")),
    "a nullable string key" -> (() => words.select(when(col("v") =!= 0, col("k")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c")).repartition(5, placement).sortWithinPartitions("k")))

  for ((name, df) <- nearMisses) test(s"near miss, $name: Spark's own exchanges and rows") {
    val (off, offExchanges, _) = run(on = false)(df())
    val (on, onExchanges, merges) = run(on = true)(df())
    assert(merges == 0 && onExchanges == offExchanges && onExchanges >= 2,
      s"exchanges $offExchanges without the strategy, $onExchanges with it; $merges merges")
    assert(on.map(_.toString).sorted == off.map(_.toString).sorted && on.nonEmpty)
  }
}
