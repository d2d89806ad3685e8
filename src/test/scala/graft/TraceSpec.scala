package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one run recorder: counts are exact once `Trace` returns, with no
  * sleep, and the listener never outlives its body. */
class TraceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** Listeners on the context's bus (`private[spark]`, public in bytecode). */
  private def listeners: Int = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  test("a fixed-shape RDD job reports 1 job, 2 stages and 8 tasks on every run") {
    (1 to 20).foreach { i =>
      val (n, run) = Trace(spark) {
        spark.sparkContext.parallelize(1 to 100, 4).map(x => (x % 10, x)).reduceByKey(_ + _).count()
      }
      assert(n === 10L)
      assert((run.jobs, run.stages.size, run.total.tasks) === ((1, 2, 8)), s"run $i")
      assert(run.seconds > 0)
    }
  }

  test("a throwing body rethrows and leaves no listener attached") {
    val before = listeners
    var inside = -1
    val e = intercept[IllegalStateException] {
      Trace(spark) { inside = listeners; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(inside === before + 1)
    assert(listeners === before)
  }
}
