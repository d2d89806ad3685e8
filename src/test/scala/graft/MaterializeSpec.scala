package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Materialize

/** The one eager materialization: the scalars a caller needs ride the
  * checkpoint's own job and equal what a separate aggregate reads. */
class MaterializeSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def frame: DataFrame = spark.range(0, 1000, 1, 4)
    .select((col("id") % 7).as("k"), (col("id") / 8).cast("decimal(18,2)").as("v"))

  private def metrics = Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
    min(col("k")).as("mn"), max(col("v")).as("mx"))

  test("checkpoint plus metrics start one job, checkpoint then count() starts more") {
    assert(Trace(spark)(Materialize(frame, count(lit(1)).as("n")))._2.jobs === 1)
    assert(Trace(spark)(Materialize(frame).count())._2.jobs === 3)
  }

  test("metric values equal a separate agg over the same frame") {
    val (ck, m) = Materialize(frame, metrics.head, metrics.tail: _*)
    val direct = frame.agg(metrics.head, metrics.tail: _*).head()
    assert(m.schema === direct.schema)
    assert(m.toSeq === direct.toSeq)
    assert(ck.collect().toSet === frame.collect().toSet)
    // a metric used as a literal filters exactly as the 1-row cross join did
    val cut = ck.filter(col("v") > Materialize.lit(m, "sv") / Materialize.lit(m, "n"))
    val crossed = ck.crossJoin(broadcast(ck.agg((sum(col("v")) / count(lit(1))).as("avg"))))
      .filter(col("v") > col("avg")).drop("avg")
    assert(cut.collect().toSet === crossed.collect().toSet)
  }

  test("an empty input gives a 0 count and nulls, not an exception") {
    Seq(frame.filter(col("k") < 0), frame.filter(lit(false))).foreach { empty =>
      val (ck, m) = Materialize(empty, metrics.head, metrics.tail: _*)
      assert(ck.isEmpty)
      assert(m.getLong(0) === 0L)
      assert((1 until m.length).forall(m.isNullAt))
      // a null metric keeps SQL NULL semantics as a literal
      assert(ck.filter(col("v") > Materialize.lit(m, "mx")).isEmpty)
      assert(frame.filter(col("v") > Materialize.lit(m, "mx")).isEmpty)
    }
  }
}
