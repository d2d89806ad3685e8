package graft

import graft.functions.{FirstCharPartitioner, FirstCharPartitionExpr}
import graft.operators.Physical
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Physical-layout layer tests (SURVEY.md §2b G18–G19): the reference's
  * partition-by-first-char + sort-within-partition pattern
  * (reference/WordCount.java:32-62, reference/report.md:139-189).
  */
class PhysicalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pid(s: String, n: Int): Int =
    FirstCharPartitioner.partitionOf(UTF8String.fromString(s), n)

  test("partitioner math matches the reference's worked example (report.md:154-157, 7 reducers)") {
    // boundary = 26/7 = 3 (integer division — the reference's quirk, kept)
    assert(pid("apple", 7) == 0)   // (a-a)/3 = 0
    assert(pid("dog", 7) == 1)     // (d-a)/3 = 1
    assert(pid("zebra", 7) == 6)   // (z-a)/3 = 8 → clamped to 6
    assert(pid("7wonders", 7) == 0) // digit → partition 0 (WordCount.java:42-45)
  }

  test("partition id ∈ [0, N) and monotone in first char, for all N in 1..26") {
    val keys = ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString) :+ ""
    for (n <- 1 to 26) {
      val ids = keys.map(k => pid(k, n))
      assert(ids.forall(i => i >= 0 && i < n), s"n=$n out of range")
      val letterIds = ('a' to 'z').map(c => pid(c.toString, n))
      assert(letterIds == letterIds.sorted, s"n=$n not monotone")
    }
  }

  test("codegen and interpreted paths agree") {
    val keys = Seq("apple", "mango", "zebra", "42nd", "", "Quark", "~tilde")
    val df = keys.toDF("k").select($"k", FirstCharPartitioner($"k", 7).as("pid"))
    val got = df.as[(String, Int)].collect().toMap
    keys.foreach(k => assert(got(k) == pid(k, 7), s"key=$k"))
  }

  test("numPartitions above 26 rejected, like the reference (WordCount.java:36-38)") {
    intercept[IllegalArgumentException] {
      FirstCharPartitionExpr(
        org.apache.spark.sql.GraftBridge.expression(lit("a")), 27)
    }
  }

  test("reference layout: every row lands in its expected partition, sorted within") {
    val rows = Physical.all.find(_.name == "reference_partition_layout").get
      .fn(spark, SparkTestSession.sf0001)
      .as[(Int, String, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (p, _, exp) => p == exp })
    // ascending within each partition = globally sorted when concatenated in pid order
    rows.groupBy(_._1).foreach { case (p, grp) =>
      // collect() preserves intra-partition order per partition block
      val words = grp.map(_._2).toSeq
      assert(words == words.sorted, s"partition $p not sorted")
    }
  }

  test("range_partition_layout: partitions hold disjoint ordered ranges") {
    val rows = Physical.all.find(_.name == "range_partition_layout").get
      .fn(spark, SparkTestSession.sf0001)
      .select("pid", "ngram").as[(Int, String)].collect()
    val byPid = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (p, g) => (p, g.map(_._2).min, g.map(_._2).max) }
    byPid.sliding(2).foreach {
      case Seq((_, _, max1), (_, min2, _)) => assert(max1 <= min2)
      case _ =>
    }
  }

  test("bucketed tables join with ZERO exchanges and match the shuffled join") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val li = sources.Tables.lineitem(spark, SparkTestSession.sf0001)
      .select("l_orderkey", "l_quantity")
    val o = sources.Tables.orders(spark, SparkTestSession.sf0001)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    try {
      operators.Physical.writeBucketed(li, "li_b", "l_orderkey", 8)
      operators.Physical.writeBucketed(o, "o_b", "l_orderkey", 8)
      Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
        j.write.format("noop").mode("overwrite").save()
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucket-co-located join must not shuffle either side:\n$plan")
        assert(plan.contains("SortMergeJoin"), "expected an SMJ over bucket scans")
        // and bucketing must not change the answer
        val shuffled = li.join(o, "l_orderkey")
          .agg(count(lit(1)), sum("l_quantity"), sum("o_totalprice"))
          .as[(Long, Double, Double)].head()
        val bucketed = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
          .agg(count(lit(1)), sum("l_quantity"), sum("o_totalprice"))
          .as[(Long, Double, Double)].head()
        assert(bucketed._1 == shuffled._1)
        assert(math.abs(bucketed._2 - shuffled._2) < 1e-6)
        assert(math.abs(bucketed._3 - shuffled._3) < 1e-4)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("bucket pruning: a point predicate on the bucket key reads 1 of 8 buckets") {
    import org.apache.spark.sql.functions._
    val li = sources.Tables.lineitem(spark, SparkTestSession.sf0001)
      .select("l_orderkey", "l_quantity")
    try {
      operators.Physical.writeBucketed(li, "li_bp", "l_orderkey", 8)
      // autoBucketedScan drops the bucketed layout for queries that get
      // no DISTRIBUTION benefit (plain filters) — but bucket PRUNING is a
      // benefit the heuristic ignores; a keyed point-probe service turns
      // it off to read 1/N files per lookup
      Sessions.withConf(spark,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        val q = spark.table("li_bp").filter(col("l_orderkey") === 1L)
        val plan = q.queryExecution.executedPlan.toString
        // point lookup touches exactly the one bucket file group the key
        // hashes to — at 100 TB that is the difference between a full-table
        // scan and reading 1/N of the files for every keyed probe
        assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
          s"bucket pruning did not engage:\n$plan")
        assert(q.count() == li.filter(col("l_orderkey") === 1L).count())
      }
    } finally spark.sql("DROP TABLE IF EXISTS li_bp")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val dir = SparkTestSession.tempDir("graft-dpp")
    // fact partitioned by order status (3 dirs); dim filtered to ONE
    // status — DPP should inject the dim's build-side values as a
    // runtime partition filter so the fact scan reads 1 of 3 partitions
    sources.Tables.orders(spark, SparkTestSession.sf0001)
      .write.partitionBy("o_orderstatus").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // the DPP rule requires a SELECTIVE PREDICATE on the dim side (an
    // unfiltered relation is assumed non-pruning), so the dim is a
    // stored table with a real filter, the star-schema shape
    Seq(("F", "keep"), ("O", "drop"), ("P", "drop"))
      .toDF("o_orderstatus", "tag").write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "keep")
    val j = fact.join(dim, "o_orderstatus").groupBy("o_orderstatus").count()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"DPP filter was not injected into the fact scan:\n${plan.take(3000)}")
    val got = j.collect()
    assert(got.length == 1 && got(0).getString(0) == "F")
  }
}
