package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Spark jobs started while `f` runs. A sentinel job run after `f`
    * closes the count: the listener bus delivers events in order, so once
    * the sentinel's start arrives every earlier job start has been seen. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = s"jobs-of-sentinel-${System.nanoTime}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == sentinel))
          drained.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  /** Lines of each `part-*` file in `dir`, in filename order — the
    * "concatenate the reducer outputs" view both sink suites assert on. */
  def partLines(dir: String): Seq[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .map(p => java.nio.file.Files.readAllLines(p).asScala.toSeq)
  }

  /** Poll `read` until it returns the same value for `stableFor`
    * consecutive 100 ms intervals — listener-bus delivery is async and
    * bursty, so a single quiet interval is not proof of drain. */
  def settle(read: => Long, stableFor: Int = 5, maxSpins: Int = 200): Long = {
    var prev = -1L
    var stable = 0
    var spins = 0
    while (stable < stableFor && spins < maxSpins) {
      if (read == prev) stable += 1 else { stable = 0; prev = read }
      spins += 1; Thread.sleep(100)
    }
    read
  }
}
