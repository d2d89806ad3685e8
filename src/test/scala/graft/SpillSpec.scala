package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X7 spill-safety: the 100 TB posture claims operators survive memory
  * pressure by spilling, not OOMing — these tests force the
  * runtime-settable spill paths deterministically and assert results
  * are IDENTICAL to the in-memory runs, with task metrics proving
  * bytes actually hit disk.
  *
  * Coverage notes (found the hard way):
  *   - window buffers: `windowExec.buffer.spill.threshold` — settable,
  *     exercised on the registry window queries below;
  *   - SMJ match buffers: `sortMergeJoinExec.buffer.spill.threshold`
  *     only engages when one key matches MANY buffered rows, and a
  *     too-low threshold on a many-group join allocates a 1 MB
  *     read-ahead buffer per spilled group → OOM (measured). The SMJ
  *     test therefore uses few huge key groups, the shape the buffer
  *     exists for;
  *   - pure external sort force-spill
  *     (`spark.shuffle.spill.numElementsForceSpillThreshold`) is a
  *     STATIC core conf — not settable per-test; sort spill at scale
  *     is driven by execution-memory pressure instead.
  */
class SpillSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, SparkTestSession.sf001)
      .collect().map(_.toString).toSeq

  test("window query: identical results with frame buffers forced to disk") {
    // window_running only: 100 l_suppkey groups of 541-663 rows spill
    // 2 files each at 256 rows — few, large groups. Reading a group back
    // opens one read-ahead buffer per spill file: at a 64-row threshold
    // (~10 files per group) a task ran out of a 4g heap. Forcing spill on
    // a MANY-group window (e.g. window_ranking's 15k l_orderkey groups) is
    // the same pathology, not a realistic memory-pressure shape:
    // per-group thresholds model pressure only where groups are big.
    val inMem = rows("window_running")
    Sessions.withConf(spark,
      "spark.sql.windowExec.buffer.spill.threshold" -> "256",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "256") {
      val (got, run) = Trace(spark)(rows("window_running"))
      assert(got == inMem, "spilled run differs from in-memory run")
      assert(run.total.spillBytes > 0, "no task spilled — the forced-spill path never engaged")
    }
  }

  test("sort-merge join: identical result with match buffers forced to disk") {
    // 3 huge key groups (~20k lineitem rows per returnflag): each group
    // overflows the 1024-row match buffer ~20x — the realistic skewed-
    // match shape the SMJ external buffer exists for
    val li = sources.Tables.lineitem(spark, SparkTestSession.sf001)
      .select("l_returnflag", "l_quantity")
    val flags = li.select("l_returnflag").distinct()
      .withColumn("w", length(col("l_returnflag")).cast("double"))
    def agg() = flags.join(li, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity") * col("w")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val inMem = agg()
      Sessions.withConf(spark,
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "1024",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1024") {
        val (got, run) = Trace(spark)(agg())
        assert(got == inMem, "SMJ spilled run differs from in-memory run")
        assert(run.total.spillBytes > 0, "no task spilled — SMJ match buffer never overflowed")
      }
    }
  }
}
