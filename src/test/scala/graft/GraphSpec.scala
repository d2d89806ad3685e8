package graft

import graft.SparkEntry.queries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X68 k-hop reach: brute-force cross-check on the small graph plus the
  * order-theoretic invariants the oracle compare can't articulate. */
class GraphSpec extends AnyFunSuite {
  import SparkTestSession._

  test("khop_2_reach: 1hop <= 2hop, and a brute-force recompute matches for the first nodes") {
    val out = queries("khop_2_reach")(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("n_1hop") <= r.getAs[Long]("n_2hop")),
      "2-hop reach must contain the 1-hop neighborhood")

    // brute force: rebuild the adjacency in driver memory (sf0.001 only)
    val li = sources.Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2)
      .select("pa", "pb").collect()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    out.take(25).foreach { r =>
      val u = r.getAs[Long]("node")
      val n1 = adj(u)
      val n2 = n1.flatMap(adj) ++ n1 - u
      assert(r.getAs[Long]("n_1hop") == n1.size, s"node $u 1-hop")
      assert(r.getAs[Long]("n_2hop") == n2.size, s"node $u 2-hop")
    }
  }

  test("pagerank_trade: keyed-shuffle fallback path produces identical ranks") {
    // VERDICT r08 task 5: the per-round rank-table broadcast is gated on
    // autoBroadcastJoinThreshold; disabling broadcasts must flip the
    // rounds to the shuffle join and change NOTHING about the output —
    // the same operator has to survive a million-node graph where the
    // rank table cannot be an executor broadcast.
    val viaBroadcast = queries("pagerank_trade")(spark, sf0001).collect()
    var viaShuffle: Array[org.apache.spark.sql.Row] = null
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      viaShuffle = queries("pagerank_trade")(spark, sf0001).collect()
    }
    assert(viaBroadcast.nonEmpty)
    assert(viaShuffle.toSeq === viaBroadcast.toSeq,
      "shuffle-path PageRank must match the broadcast path row-for-row")
  }
}
