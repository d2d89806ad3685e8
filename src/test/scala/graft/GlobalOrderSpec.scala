package graft

import graft.operators.Physical
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Physical.globalOrder]] and the queries on it give the same rows
  * whichever plan the engine picks: one task or range partitions,
  * broadcast on or off, exchange reuse on or off, AQE on or off, one
  * shuffle partition or many. */
class GlobalOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val off = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  test("globalOrder: one task and range partitions give each row its rank, running sums and totals") {
    // k is a permutation of 0..999 (7919 is prime to 1000): a total order
    val df = spark.range(0, 1000).select((col("id") * 7919 % 1000).as("k"),
      (col("id") % 13).as("a"), (col("id") % 7).cast("decimal(20,2)").as("b"))
    def run() = Physical.globalOrder(df, Seq(col("k").desc), "a", "b")
      .orderBy("rank").collect().toSeq
    val oneTask = run()
    val expected = df.collect().toSeq.sortBy(-_.getLong(0))
    val cumA = expected.scanLeft(0L)(_ + _.getLong(1)).tail
    val cumB = expected.scanLeft(BigDecimal(0))(_ + _.getDecimal(2)).tail
    assert(oneTask.map(_.getAs[Long]("k")) == expected.map(_.getLong(0)))
    assert(oneTask.map(_.getAs[Long]("rank")) == (1L to 1000L))
    assert(oneTask.map(_.getAs[Long]("cum_a")) == cumA)
    assert(oneTask.map(r => BigDecimal(r.getAs[java.math.BigDecimal]("cum_b"))) == cumB)
    assert(oneTask.forall(r => r.getAs[Long]("n") == 1000L && r.getAs[Long]("tot_a") == cumA.last &&
      BigDecimal(r.getAs[java.math.BigDecimal]("tot_b")) == cumB.last))
    for (parts <- Seq("1", "4", "200"))
      assert(Sessions.withConf(spark, off, "spark.sql.shuffle.partitions" -> parts)(run()) == oneTask,
        s"range partitions ($parts shuffle partitions) differ from one task")
    def types(r: org.apache.spark.sql.Row) = r.schema.map(f => f.name -> f.dataType)
    assert(types(oneTask.head) == types(Sessions.withConf(spark, off)(run()).head))
  }

  test("globalOrder: a null in a sum column counts as 0 in its running sum on both paths") {
    // the lowest 300 keys, which open the first range partitions, hold nulls
    val df = spark.range(0, 1000).select(col("id").as("k"),
      when(col("id") >= 300 && col("id") % 5 =!= 0, col("id")).as("a"),
      lit(null).cast("long").as("z"))
    def run() = Physical.globalOrder(df, Seq(col("k")), "a", "z").orderBy("rank").collect().toSeq
    val oneTask = run()
    val cumA = (0L until 1000L).scanLeft(0L)((c, k) => if (k >= 300 && k % 5 != 0) c + k else c).tail
    assert(oneTask.map(_.getAs[Long]("cum_a")) == cumA)
    assert(oneTask.forall(r => r.getAs[Long]("tot_a") == cumA.last && r.getAs[Long]("cum_z") == 0L && r.isNullAt(r.fieldIndex("tot_z"))))
    for (parts <- Seq("1", "4", "200"))
      assert(Sessions.withConf(spark, off, "spark.sql.shuffle.partitions" -> parts)(run()) == oneTask,
        s"range partitions ($parts shuffle partitions) differ from one task")
  }

  test("globalRanks gives each order's globalOrder rank and n on both paths") {
    val df = spark.range(0, 1000).select(col("id").as("id"), (col("id") * 7919 % 1000).as("k"))
    val orders = Seq("up" -> Seq(col("k")), "down" -> Seq(col("id") % 10, col("k").desc))
    def run() = Physical.globalRanks(df, orders: _*).orderBy("id").collect().toSeq
    val want = orders.map { case (r, order) =>
      Physical.globalOrder(df, order).orderBy("id").select("rank").collect().map(_.getLong(0)).toSeq }
    val oneTask = run()
    for ((r, i) <- orders.map(_._1).zipWithIndex) assert(oneTask.map(_.getAs[Long](r)) == want(i), r)
    assert(oneTask.forall(_.getAs[Long]("n") == 1000L))
    assert(Sessions.withConf(spark, off)(run()) == oneTask)
  }

  test("globalOrder: an empty input gives no rows on both paths") {
    val empty = spark.range(0).select(col("id").as("k"), col("id").as("a"))
    def run() = Physical.globalOrder(empty, Seq(col("k")), "a").collect()
    assert(run().isEmpty)
    assert(Sessions.withConf(spark, off)(run()).isEmpty)
  }

  test("ntile(k, rank, n) equals SQL ntile for every n up to 23 and k up to 7") {
    val rows = spark.range(1, 24).select(col("id").as("n"))
      .select(col("n"), explode(sequence(lit(1L), col("n"))).as("rank"))
    for (k <- 1 to 7) {
      val bad = rows.select(col("n"), col("rank"),
          ntile(k).over(Window.partitionBy("n").orderBy("rank")).as("sql"),
          Physical.ntile(k, col("rank"), col("n")).as("ours"))
        .filter(col("sql") =!= col("ours")).collect()
      assert(bad.isEmpty, s"k=$k: ${bad.take(5).mkString(", ")}")
    }
  }

  private val queries = Seq("assign_dense_ids", "ks_test_purchase", "customer_rfm", "abc_pareto_parts")
  private def rows(q: String) = SparkEntry.queries(q)(spark, SparkTestSession.sf01).collect().toSeq
  private lazy val reference = queries.map(q => q -> rows(q)).toMap

  // between them the cells cover broadcast threshold default and -1,
  // exchange reuse on and off, AQE on and off, 1 and 200 partitions
  private val cells = Seq(
    Seq(off, "spark.sql.exchange.reuse" -> "false", "spark.sql.adaptive.enabled" -> "false"),
    Seq(off, "spark.sql.exchange.reuse" -> "false", "spark.sql.shuffle.partitions" -> "200"),
    Seq(off, "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "1"),
    Seq(off),
    Seq("spark.sql.exchange.reuse" -> "false", "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "200"))
  for (cell <- cells; q <- queries)
    test(s"$q at sf0.1 gives the default rows under ${cell.map { case (k, v) => s"$k=$v" }.mkString(", ")}") {
      val got = Sessions.withConf(spark, cell: _*)(rows(q))
      val want = reference(q)
      assert(got.size == want.size, s"$q: ${got.size} rows, default ${want.size}")
      val wrong = got.zip(want).count { case (a, b) => a != b }
      assert(wrong == 0, s"$q: $wrong of ${want.size} rows differ from the default run")
    }
}
