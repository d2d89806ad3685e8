package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The engine's one run recorder: the counters Spark reports for what a
  * block of driver code ran, as the reference MapReduce job reports map
  * input, combine and shuffle counters. Scope is every job on the context
  * between two listener-bus drains, with no job-group filter, so a body
  * that must start no job is checked as such. The entry drain keeps an
  * earlier body's queued events out; the exit drain waits until `body`'s
  * last event reached the listener. Neither starts a job, sleeps or polls. */
object Trace {
  /** One stage attempt: its tasks, times in ms, sizes in bytes; `max*` over single tasks. */
  final case class Stage(id: Int, tasks: Int, runMs: Long, maxRunMs: Long, cpuMs: Long,
                         gcMs: Long, inputBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, maxShuffleRecords: Long) {
    def +(o: Stage): Stage = Stage(id, tasks + o.tasks, runMs + o.runMs,
      math.max(maxRunMs, o.maxRunMs), cpuMs + o.cpuMs, gcMs + o.gcMs,
      inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      math.max(maxShuffleRecords, o.maxShuffleRecords))
  }

  /** Wall seconds of `body` alone, the jobs it started, one row per stage attempt. */
  final case class Run(seconds: Double, jobs: Int, stages: Seq[Stage]) {
    /** Every stage summed, id -1. */
    lazy val total: Stage = stages.foldLeft(Stage(-1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))(_ + _)

    /** `jobs`, `stages` and the [[total]]'s fields, as one JSON object. */
    def json: String = (Seq("jobs" -> jobs, "stages" -> stages.size) ++
      total.productElementNames.zip(total.productIterator).drop(1))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private val DrainMs = 60000L

  /** Runs `body`, returning its value and [[Run]]; a throwing body rethrows, listener detached. */
  def apply[T](spark: SparkSession)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    GraftBridge.drainListeners(sc, DrainMs)
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val out = body
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(sc, DrainMs)
      (out, rec.run(seconds))
    } finally sc.removeSparkListener(rec)
  }

  private final class Recorder extends SparkListener {
    private var jobs = 0
    private val open = mutable.Map.empty[(Int, Int), Stage]
    private val done = mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val task = Stage(e.stageId, 1, m.executorRunTime, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleReadMetrics.recordsRead)
      val key = (e.stageId, e.stageAttemptId)
      synchronized(open(key) = open.get(key).fold(task)(_ + task))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      open.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach(done += _)
    }

    /** Completed stages, then any whose tasks outlived a cancelled stage. */
    def run(seconds: Double): Run = synchronized(Run(seconds, jobs, done.toSeq ++ open.values))
  }
}
