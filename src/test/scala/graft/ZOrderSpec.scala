package graft

import graft.functions.InterleaveBitsEval
import graft.operators.Physical
import org.apache.spark.sql.functions._
import org.scalacheck.{Prop, Test => PTest}
import org.scalatest.funsuite.AnyFunSuite

/** X27 z-order layout: Morton-code correctness + the actual pruning
  * win (a 2-D box query touches few z-clustered files, all unclustered
  * ones). */
class ZOrderSpec extends AnyFunSuite {
  import SparkTestSession._

  test("interleave: spread/gather round-trip and known codes") {
    val prop = Prop.forAll { (x0: Int, y0: Int) =>
      val x = x0.toLong & 0xFFFFFFFFL
      val y = y0.toLong & 0xFFFFFFFFL
      val z = InterleaveBitsEval.eval(x, y)
      InterleaveBitsEval.gather(z) == x &&
        InterleaveBitsEval.gather(z >>> 1) == y
    }
    assert(PTest.check(PTest.Parameters.default, prop).passed)
    // hand-checked: x=0b11 (bits 0,2), y=0b10 (bit 3) → 0b1011
    assert(InterleaveBitsEval.eval(3L, 1L) == 7L)
    assert(InterleaveBitsEval.eval(0L, 1L) == 2L)
    assert(InterleaveBitsEval.eval(2L, 0L) == 4L)
  }

  test("z-order expression matches the evaluator through codegen") {
    import spark.implicits._
    val df = Seq((5L, 9L), (0L, 0L), (0xFFFFFFFFL, 1L)).toDF("x", "y")
    val got = df.select(InterleaveBitsEval(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    assert(got == Seq(InterleaveBitsEval.eval(5L, 9L), 0L,
      InterleaveBitsEval.eval(0xFFFFFFFFL, 1L)))
  }

  test("2-D box query prunes z-clustered files but not unclustered ones") {
    val events = sources.Tables.events(spark, sf001)
    val tmp = SparkTestSession.tempDir("graft-zorder").toString
    try {
      Physical.zorderEvents(events, 8)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$tmp/z")
      events.repartition(8)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$tmp/naive")

      def filesHit(path: String): Long =
        spark.read.parquet(path)
          .filter(col("user_id").between(40, 60) && col("value").between(10.0, 40.0))
          .select(input_file_name().as("f")).distinct().count()

      val (zHit, nHit) = (filesHit(s"$tmp/z"), filesHit(s"$tmp/naive"))
      assert(nHit == 8, s"unclustered layout should scatter matches everywhere, hit $nHit")
      assert(zHit <= 4, s"z-layout should confine the box to few files, hit $zHit")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
