package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters Spark reports for the jobs one span started. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var stageRetries = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** Seconds of stages that read input / wrote output. */
  var inputStageS = 0.0
  var outputStageS = 0.0
  var inputStageRecords = 0L
  /** Worst max/median task time over the stages with two or more tasks. */
  var taskSkew = 1.0
  var artifactWrites = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; stageRetries += o.stageRetries
    tasks += o.tasks; failedTasks += o.failedTasks; runNs += o.runNs
    cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputStageS += o.inputStageS; outputStageS += o.outputStageS
    inputStageRecords += o.inputStageRecords
    taskSkew = math.max(taskSkew, o.taskSkew); artifactWrites += o.artifactWrites
  }
}

/** One timed interval at a layer boundary. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val layer: String, val startNs: Long) {
  var endNs = 0L
  val counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and Spark counters, recorded from the benchmark's side of each
  * layer's entry points. Spans stay in memory until [[toJson]].
  *
  * Jobs are attributed through the job group: every span that may start
  * jobs sets the group `pb-<spanId>` on the calling thread. Streaming
  * queries run their jobs under their own run id, which [[bindRun]] maps
  * onto a span. */
final class Tracer {
  private var spark: SparkSession = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = mutable.Map.empty[Int, Span]
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var on = false
  private var sc: org.apache.spark.SparkContext = _

  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else groupSpan.get(g)
      if (s != null) {
        s.counters.jobs += 1
        e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stageSpan.get(e.stageInfo.stageId)
      if (s != null && e.stageInfo.attemptNumber() > 0) s.counters.stageRetries += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val s = stageSpan.get(info.stageId)
      if (s != null) {
        val c = s.counters
        c.stages += 1
        val secs = (for (a <- info.submissionTime; b <- info.completionTime)
          yield (b - a) / 1e3).getOrElse(0.0)
        val m = info.taskMetrics
        if (m != null && m.inputMetrics.bytesRead > 0) {
          c.inputStageS += secs
          c.inputStageRecords += m.shuffleWriteMetrics.recordsWritten
        }
        if (m != null && m.outputMetrics.bytesWritten > 0) c.outputStageS += secs
        stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ms =>
          if (ms.size >= 2) {
            val sorted = ms.sorted
            val med = math.max(1L, sorted(sorted.size / 2))
            c.taskSkew = math.max(c.taskSkew, sorted.last.toDouble / med)
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null) {
        val c = s.counters
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.runNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Counts index artifacts written: `Indexes.table` persists each one
    * with `saveAsTable`, which runs a create-table-as-select command. */
  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.logical.getClass.getSimpleName == "CreateDataSourceTableAsSelectCommand")
        current.foreach(_.counters.artifactWrites += 1)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var current: Option[Span] = None

  /** Attach the listeners to `s`; spans are recorded only while attached. */
  def attach(s: SparkSession): Unit = if (!on || (s ne spark)) {
    detach()
    spark = s
    sc = s.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = if (on) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  def drain(): Unit = if (on) PerfbenchBus.drain(sc)

  /** Time `f` as a span; when tracing is off, only run it. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, parent, name, layer, System.nanoTime())
      spans += s; byId(s.id) = s
      val group = s"pb-${s.id}"
      groupSpan.put(group, s)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevCurrent = current
      sc.setJobGroup(group, name)
      stack = s :: stack
      current = Some(s)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        current = prevCurrent
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup)
      }
    }

  /** Attribute a streaming query's jobs (run under its run id) to `s`. */
  def bindRun(runId: java.util.UUID): Unit =
    current.foreach(s => groupSpan.put(runId.toString, s))

  def all: Seq[Span] = spans.toSeq

  /** Spans of `layer` whose ancestors include `root`. */
  def under(root: Span, layer: String): Seq[Span] = {
    def inside(s: Span): Boolean =
      s.parent >= 0 && (s.parent == root.id || inside(byId(s.parent)))
    spans.filter(s => s.layer == layer && inside(s)).toSeq
  }

  def sum(ss: Seq[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => c.add(s.counters))
    c
  }

  /** Self time of `s`: its duration minus the time its children cover
    * (children run one after another, so their durations add). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = Json(spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> s.counters.jobs, "stages" -> s.counters.stages,
      "tasks" -> s.counters.tasks)
  })
}

/** JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
