package graft

import graft.functions.GraftFunctions
import graft.plans.ApproxDistinctRewrite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface + optimizer-extension tests (SURVEY.md §3.3 / §4.3(4)):
  * registered native functions callable from SQL, and the opt-in
  * count(DISTINCT) → HLL rewrite. */
class ExtensionsSpec extends AnyFunSuite {
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
}
