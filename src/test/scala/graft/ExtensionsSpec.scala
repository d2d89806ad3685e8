package graft

import graft.functions.GraftFunctions
import graft.operators.Physical
import graft.plans.{ApproxDistinctRewrite, MergeCountExec, OneShuffleCount, SortCountExec}
import org.apache.spark.sql.ExtendedSession
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface + optimizer-extension tests (SURVEY.md §3.3 / §4.3(4)):
  * registered native functions callable from SQL, and the opt-in
  * count(DISTINCT) → HLL rewrite, and the one-shuffle count strategy that
  * a session started with [[GraftExtensions]] plans with. */
class ExtensionsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ngrams + first_char_partition callable from spark.sql after registration") {
    GraftFunctions.register(spark)
    val grams = spark.sql("SELECT explode(ngrams('How can a clam cram?', 2)) AS g")
      .as[String].collect().toSeq
    assert(grams == Seq("how can", "can a", "a clam", "clam cram"))
    val pid = spark.sql("SELECT first_char_partition('zebra', 7) AS p").as[Int].head()
    assert(pid == 6)
  }

  test("foldable constant n is accepted; per-row n is rejected with a clear error") {
    GraftFunctions.register(spark)
    // any CONSTANT expression folds at resolution: arithmetic, functions
    // of literals, casts — the reference's CLI-substituted n in whatever
    // form it lands in the SQL text (WordCount.java:129-136)
    val g1 = spark.sql("SELECT explode(ngrams('a b c', 1 + 1)) AS g").as[String].collect().toSeq
    assert(g1 == Seq("a b", "b c"))
    val g2 = spark.sql("SELECT explode(ngrams('a b c', length('xx'))) AS g").as[String].collect().toSeq
    assert(g2 == Seq("a b", "b c"))
    // a column reference is per-row, not plannable as a fixed n
    val e = intercept[Exception] {
      spark.sql("SELECT ngrams('a b', n) AS g FROM VALUES (2) AS t(n)").collect()
    }
    assert(e.getMessage.contains("constant integer expression"))
  }

  test("ApproxDistinctRewrite: off by default, flag flips exact distinct to HLL") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ApproxDistinctRewrite
    val df = sources.Tables.lineitem(spark, SparkTestSession.sf0001)
    def exact() = df.select(countDistinct($"l_orderkey").as("n"))
    try {
      // flag unset → plan keeps the exact distinct
      val offPlan = exact().queryExecution.optimizedPlan.toString
      assert(offPlan.contains("count(distinct") && !offPlan.toLowerCase.contains("hyperloglog"),
        offPlan)
      // HLL at default precision is exact-ish at this cardinality scale
      val approx = Sessions.withConf(spark, "spark.graft.approxCountDistinct" -> "true") {
        val onPlan = exact().queryExecution.optimizedPlan.toString
        assert(onPlan.toLowerCase.contains("approx_count_distinct"), onPlan)
        exact().as[Long].head()
      }
      val truth = exact().as[Long].head()
      // HLL default rsd is 5%; allow 3σ
      assert(math.abs(approx - truth).toDouble / truth < 0.15)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == ApproxDistinctRewrite)
    }
  }

  test("a session started with GraftExtensions plans the WordCount shape with one exchange") {
    val s = ExtendedSession(spark, new GraftExtensions)
    assert(!s.experimental.extraStrategies.contains(OneShuffleCount))
    val df = s.range(500)
      .select(concat(lit("w"), col("id").bitwiseAND(31).cast("string")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .repartition(3, Physical.referencePlacement(col("k"), 3))
      .sortWithinPartitions("k")
    val (rows, trace) = Trace(s)(df.collect())
    val plan = df.queryExecution.executedPlan
    assert(trace.stages.size == 2, trace.json)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan)
    assert(collect(plan) { case s: SortCountExec => s }.size == 1, plan)
    assert(collect(plan) { case s: SortExec => s }.size == 1, plan)
    assert(collect(plan) { case m: MergeCountExec => m }.size == 1, plan)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
    assert(rows.length == 32 && rows.map(_.getLong(1)).sum == 500)
  }
}
