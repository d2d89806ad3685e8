package graft

import graft.operators.Blocking
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Boundary cases of the candidate-blocking kernel on hand-built frames. */
class BlockingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("selfPairs: a pair colliding in two blocks is emitted once, id1 < id2, never (x, x)") {
    // ids 1 and 2 share blocks "a" and "b"; 3 sits alone with 1 in "c"
    val blocked = Seq(("a", 2L, 20), ("a", 1L, 10), ("b", 1L, 10), ("b", 2L, 20),
        ("c", 3L, 30), ("c", 1L, 10))
      .toDF("blk", "id", "w")
    val got = Blocking.selfPairs(blocked, Seq("blk"), "id", Seq("w"),
        (col("w1") + col("w2")).as("score"), col("score") > 0)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got.sorted == Seq((1L, 2L, 30), (1L, 3L, 40)))
    // keep runs on the score before the distinct
    val kept = Blocking.selfPairs(blocked, Seq("blk"), "id", Seq("w"),
        (col("w1") + col("w2")).as("score"), col("score") > 35)
      .as[(Long, Long, Int)].collect().toSeq
    assert(kept == Seq((1L, 3L, 40)))
  }

  test("dropOver keeps a block of exactly cap rows and drops one of cap + 1") {
    val cap = 3
    val blocked = ((1 to cap).map(i => ("full", i.toLong)) ++
        (1 to cap + 1).map(i => ("over", i.toLong)))
      .toDF("blk", "id")
    val got = blocked.transform(Blocking.dropOver(Seq("blk"), cap))
      .select("blk", "id").as[(String, Long)].collect().toSeq
    assert(got.sorted == (1 to cap).map(i => ("full", i.toLong)))
  }

  test("minIdReps keeps exactly the cap smallest ids per key") {
    val df = (Seq(9L, 4L, 7L, 1L, 5L).map(("k", _)) ++ Seq(("j", 3L)))
      .toDF("key", "id")
    val got = df.transform(Blocking.minIdReps("key", "id", 3))
      .as[(String, Long)].collect().toSeq
    assert(got.sorted == Seq(("j", 3L), ("k", 1L), ("k", 4L), ("k", 5L)))
  }

  test("jaccard: exact on sets, null for two empty arrays") {
    val got = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")), (Seq.empty[String], Seq.empty[String]))
      .toDF("a", "b")
      .select(Blocking.jaccard(col("a"), col("b")).as("j"))
      .as[Option[Double]].collect().toSeq
    assert(got == Seq(Some(0.5), None))
  }
}
