package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{IndexWarm, Q, SparkEntry}
import graft.sources.Tables
import graft.streaming.{ClosedSession, StreamingOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. `run.py` generates the inputs, then runs
  *
  * {{{
  *   perfbench.Main <kind> key=value...
  * }}}
  *
  * where kind is `registry`, `ngram` or `stream`. The keys are `data`,
  * `work`, `seed`, `seconds`, `trace`, `reps`, `warm`, `settle`,
  * `passes`, `out` and, per kind, `queries` (comma-separated registry
  * names), `corpus`, `stage`. The JVM writes one JSON result to `out`;
  * `run.py` checks outputs and prints the metrics.
  *
  * Every kind runs the same protocol ([[protocol]]): one cold set-up
  * (JVM start, first session), `warm` untimed passes, `reps` warm
  * set-ups (each on a fresh session and warehouse, timed as `setup_s`),
  * `settle` untimed passes on the last session, then timed passes until
  * `seconds` have elapsed and at least `passes` ran. Warm-up comes first so
  * that set-ups and passes are timed on a JIT-compiled JVM: on a cold
  * one, registry passes got a fifth faster from one pass to the next.
  * A pass is a fixed amount of work, so its wall time is comparable
  * across runs; its items are what a client waits for (a query, a
  * WordCount job, a micro-batch). With `trace=1` passes alternate
  * untraced and traced, starting and ending untraced: the traced ones
  * give the per-layer split, and each traced pass against the mean of
  * its two untraced neighbours gives the tracing overhead.
  */
object Main {
  val Cores = 4

  final case class Item(name: String, seconds: Double)
  final case class Pass(wall: Double, traced: Boolean, items: Seq[Item], span: Option[Span])

  final class Run(val kind: String, kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing $k="))
    val work: Path = Paths.get(apply("work")).toAbsolutePath
    val data: String = kv.getOrElse("data", "")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    /** Warm set-ups, untimed passes before and after them, least timed
      * passes. */
    val reps: Int = apply("reps").toInt
    val warmPasses: Int = apply("warm").toInt
    val settlePasses: Int = apply("settle").toInt
    val minPasses: Int = apply("passes").toInt
    val setupS = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val errors = mutable.ArrayBuffer.empty[String]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val facts = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = _
    val tracer = new Tracer
    /** Streaming run ids per pass index. */
    val runIds = mutable.Map.empty[Int, Set[java.util.UUID]]
  }

  private val jvmStart = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.2fs $what")

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val r = new Run(args(0), kv)
    val code =
      try {
        r.kind match {
          case "registry" => Registry.run(r)
          case "ngram" => Ngram.run(r)
          case "stream" => Stream.run(r)
          case k => sys.error(s"unknown kind $k")
        }
        if (r.trace) layerMetrics(r)
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          r.errors += s"fatal: $e"
          1
      } finally {
        writeResult(r)
        if (r.spark != null) r.spark.stop()
      }
    sys.exit(code)
  }

  /** A fresh session on its own warehouse. Spark's scratch space and the
    * state store live under the run's work directory. */
  def session(r: Run, warehouse: Path): SparkSession = {
    Files.createDirectories(warehouse)
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", r.work.resolve("local").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stop the current session and set up on a fresh one with a fresh
    * warehouse, so work cached on disk by one set-up is not adopted by
    * the next. Set-up 0 is the cold one and is not part of `setup_s`. */
  def setUp(r: Run, i: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    if (r.spark != null) {
      r.tracer.detach()
      r.spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    r.spark = session(r, r.work.resolve(s"warehouse-$i"))
    if (r.trace) r.tracer.attach(r.spark)
    r.tracer.span(s"setup-$i", if (i == 0) "setup.cold" else "setup")(body)
    val secs = (System.nanoTime() - t0) / 1e9
    if (i == 0) r.facts("setup_cold_s") = secs else r.setupS += secs
    phase(f"set-up $i done in $secs%.2fs")
  }

  /** The protocol every kind runs; see the class comment. */
  def protocol(r: Run, minPasses: Int)(setupBody: => Unit)(warmUp: => Unit)(
      pass: Boolean => Seq[Item]): Unit = {
    setUp(r, 0)(setupBody)
    warmUp
    phase("warm-up done")
    (1 to r.reps).foreach(i => setUp(r, i)(setupBody))
    (1 to r.settlePasses).foreach(_ => pass(false))
    phase("settle done")
    timedPasses(r, minPasses)(pass)
  }

  /** Timed passes until `seconds` have elapsed and at least `minPasses`
    * ran. When tracing, odd passes are traced and the last pass is an
    * untraced one, so every traced pass sits between two untraced ones;
    * at least two traced passes run, as one overhead estimate was
    * within pass-to-pass noise. */
  def timedPasses(r: Run, minPasses: Int)(pass: Boolean => Seq[Item]): Unit = {
    r.attempted = 0; r.failed = 0 // count timed items only
    val t0 = System.nanoTime()
    val atLeast = if (r.trace) math.max(minPasses, 5) else minPasses
    var i = 0
    while (i < atLeast || (System.nanoTime() - t0) / 1e9 < r.seconds || (r.trace && i % 2 == 0)) {
      val traced = r.trace && i % 2 == 1
      if (traced) r.tracer.attach(r.spark) else r.tracer.detach()
      var span: Option[Span] = None
      val p0 = System.nanoTime()
      val items = r.tracer.span(s"pass-$i", "pass") {
        span = if (traced) r.tracer.all.lastOption else None
        pass(traced)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      r.passes += Pass(wall, traced, items, span)
      phase(f"pass $i done in $wall%.2fs")
      i += 1
    }
    if (r.trace) r.tracer.attach(r.spark)
    heapLive(r, "heap_live_mb")
  }

  /** Heap in use after a full collection: what the engine keeps. */
  def heapLive(r: Run, key: String): Unit = {
    // the first collection releases what weak references and cleaners
    // held; the second reclaims it
    System.gc(); Thread.sleep(200); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    r.facts(key) = m.getUsed / 1048576.0
  }

  /** Run one item, counting it as attempted; a failure is recorded and
    * never timed. */
  def item(r: Run, name: String)(f: => Unit): Option[Item] = {
    r.attempted += 1
    val t0 = System.nanoTime()
    try {
      f
      Some(Item(name, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        r.failed += 1
        r.errors += s"$name: ${e.toString.take(300)}"
        None
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics from the traced passes (median over passes). */
  def layerMetrics(r: Run): Unit = {
    val t = r.tracer
    t.drain()
    val traced = r.passes.filter(_.traced).flatMap(_.span)
    def med(f: Span => Double): Double = median(traced.map(f).toSeq)
    def c(p: Span, layer: String) = t.sum(t.under(p, layer))
    val setups = t.all.filter(_.layer == "setup")
    def setupMed(layer: String, f: Counters => Double): Double =
      median(setups.map(s => f(t.sum(t.under(s, layer)))).toSeq)
    def setupSec(layer: String): Double =
      median(setups.map(s => t.under(s, layer).map(_.seconds).sum).toSeq)
    val L = r.layers
    L("tables.load_s") = setupSec("tables.load")
    L("tables.load_jobs") = setupMed("tables.load", _.jobs.toDouble)
    L("tables.views_s") = setupSec("tables.views")
    L("tables.views_jobs") = setupMed("tables.views", _.jobs.toDouble)
    L("indexes.build_s") = setupSec("indexes.build")
    L("indexes.build_jobs") = setupMed("indexes.build", _.jobs.toDouble)
    L("indexes.artifacts") = setupMed("indexes.build", _.artifactWrites.toDouble)
    L("indexes.adopt_s") = t.all.filter(_.layer == "indexes.adopt").map(_.seconds).sum
    val build = med(p => t.under(p, "build").map(_.seconds).sum)
    val plan = med(p => t.under(p, "plan").map(_.seconds).sum)
    val exec = med(p => t.under(p, "exec").map(_.seconds).sum)
    L("build.s") = build
    L("build.jobs") = med(p => c(p, "build").jobs.toDouble)
    L("build.share") = if (build + plan + exec > 0) build / (build + plan + exec) else 0.0
    L("plan.s") = plan
    L("plan.jobs") = med(p => c(p, "plan").jobs.toDouble)
    // the stream's jobs run under its run id, which is bound to the pass
    def ex(p: Span): Counters = {
      val x = c(p, "exec"); x.add(p.counters); x
    }
    L("exec.s") = exec
    L("exec.jobs") = med(ex(_).jobs.toDouble)
    L("exec.stages") = med(ex(_).stages.toDouble)
    L("exec.tasks") = med(ex(_).tasks.toDouble)
    L("exec.run_s") = med(ex(_).runNs / 1e9)
    L("exec.cpu_s") = med(ex(_).cpuNs / 1e9)
    L("exec.cpu_util") = if (exec > 0) L("exec.cpu_s") / (exec * Cores) else 0.0
    L("exec.gc_s") = med(ex(_).gcMs / 1e3)
    L("exec.input_bytes") = med(ex(_).inputBytes.toDouble)
    L("exec.shuffle_write_bytes") = med(ex(_).shuffleWriteBytes.toDouble)
    L("exec.shuffle_read_bytes") = med(ex(_).shuffleReadBytes.toDouble)
    L("exec.spill_bytes") = med(ex(_).spillBytes.toDouble)
    L("exec.task_skew") = med(ex(_).taskSkew)
    L("exec.failed_tasks") = med(ex(_).failedTasks.toDouble)
    L("exec.stage_retries") = med(ex(_).stageRetries.toDouble)
    L("sinks.write_s") = med(ex(_).outputStageS)
    L("span.pass_self_s") = med(t.selfSeconds)
    L("span.item_self_s") = med(p => t.under(p, "item").map(t.selfSeconds).sum)
    val w = r.passes.map(_.wall)
    L("trace.overhead_s") = median(w.indices.filter(r.passes(_).traced)
      .map(j => w(j) - (w(j - 1) + w(j + 1)) / 2).toSeq)
    r.kind match {
      case "ngram" => Ngram.layers(r, traced.toSeq)
      case "stream" => Stream.layers(r, traced.toSeq)
      case _ =>
    }
  }

  def writeResult(r: Run): Unit = {
    val passes = r.passes.map { p =>
      Map("wall_s" -> p.wall, "traced" -> p.traced,
        "items" -> p.items.map(i => Map("name" -> i.name, "s" -> i.seconds)))
    }
    val vmHwmKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong
    }.getOrElse(0L)
    val json = Json(Map(
      "kind" -> r.kind, "setup_s" -> r.setupS, "passes" -> passes,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "errors" -> r.errors, "layers" -> r.layers, "facts" -> r.facts,
      "peak_rss_kb" -> vmHwmKb))
    Files.writeString(Paths.get(r("out")), json)
    if (r.trace)
      Files.writeString(Paths.get(r("out") + ".spans.json"), r.tracer.toJson)
  }

  /** Copy with a hidden name, then rename: a file source never sees a
    * partly written file. */
  def land(src: Path, dir: Path): Unit = {
    val tmp = dir.resolve("." + src.getFileName + ".tmp")
    Files.copy(src, tmp)
    Files.move(tmp, dir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** `registry`: a fixed sample of the query registry. An item is one
  * query's warm execution: build the DataFrame through `Q.fn`, then run
  * it into the noop sink. */
object Registry {
  import Main._

  /** The named queries, in the seed's order. */
  def select(r: Run): Seq[Q] = {
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    new scala.util.Random(r.seed).shuffle(r("queries").split(",").toSeq.map(byName))
  }

  def run(r: Run): Unit = {
    val qs = select(r)
    val indexBacked = IndexWarm.IndexBacked.toSet
    val results = r.work.resolve("results")
    r.facts("queries") = qs.map(_.name)
    def one(traced: Boolean): Seq[Item] = qs.flatMap { q =>
      val it =
        if (!traced) item(r, q.name)(noop(q.fn(r.spark, r.data)))
        else r.tracer.span(q.name, "item") {
          item(r, q.name) {
            val df = r.tracer.span("build", "build")(q.fn(r.spark, r.data))
            r.tracer.span("plan", "plan")(df.queryExecution.executedPlan)
            r.tracer.span("execute", "exec")(noop(df))
          }
        }
      if (traced) r.tracer.drain()
      it
    }
    protocol(r, r.minPasses) {
      val s = r.spark
      r.tracer.span("tables.load", "tables.load")(Tables.names.foreach(Tables(s, r.data, _)))
      r.tracer.span("tables.views", "tables.views")(Tables.registerViews(s, r.data))
      // a fresh warehouse: the index artifacts are built, never adopted
      qs.filter(q => indexBacked(q.name)).foreach { q =>
        r.tracer.span(q.name, "indexes.build") {
          noop(q.fn(s, r.data))
          r.tracer.drain() // artifact-write callbacks land on this span
        }
      }
    } {
      // each query's first execution, written as parquet for the output
      // check, then untimed passes
      Files.createDirectories(results)
      Files.writeString(results.resolve("oracle_sql.json"),
        Json(qs.flatMap(q => q.oracle.map(q.name -> _)).toMap))
      qs.foreach { q =>
        try q.fn(r.spark, r.data).write.mode("overwrite").parquet(results.resolve(q.name).toString)
        catch { case NonFatal(e) => r.errors += s"${q.name} (warm-up): ${e.toString.take(300)}" }
      }
      (1 to r.warmPasses).foreach(_ => one(false))
    }(one)
    if (r.trace) {
      // adoption: a new session finds the artifacts the last setup built
      r.tracer.detach()
      r.spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      r.spark = session(r, r.work.resolve(s"warehouse-${r.reps}"))
      r.tracer.attach(r.spark)
      qs.filter(q => indexBacked(q.name)).foreach { q =>
        r.tracer.span(q.name, "indexes.adopt")(q.fn(r.spark, r.data))
      }
      r.tracer.drain()
    }
  }
}

/** `ngram`: the paper's job, `graft.WordCount <corpus> <out> 3 7`. An
  * item is one whole job. */
object Ngram {
  import Main._

  def run(r: Run): Unit = {
    val corpus = r("corpus")
    def job(out: Path): Unit =
      graft.WordCount.main(Array(corpus, out.toString, "3", "7"))
    var last: Option[Path] = None
    protocol(r, r.minPasses) {
      r.tracer.span("corpus.scan", "exec") {
        noop(r.spark.read.option("wholetext", "true").text(corpus))
      }
    } {
      (1 to r.warmPasses).foreach { _ =>
        job(r.work.resolve("ngram-warm"))
        deleteTree(r.work.resolve("ngram-warm"))
      }
    } { traced =>
      last.foreach(deleteTree)
      val out = r.work.resolve(s"ngram-out-${r.passes.size}")
      last = Some(out)
      val it = r.tracer.span("wordcount", "item") {
        item(r, "wordcount")(r.tracer.span("WordCount.main", "exec")(job(out)))
      }
      if (traced) r.tracer.drain()
      it.toSeq
    }
    r.facts("output") = last.map(_.toString).getOrElse("")
  }

  def layers(r: Run, traced: Seq[Span]): Unit = {
    val t = r.tracer
    def ex(p: Span) = t.sum(t.under(p, "exec"))
    r.layers("ngram.map_s") = median(traced.map(ex(_).inputStageS))
    r.layers("ngram.map_records") = median(traced.map(ex(_).inputStageRecords.toDouble))
    r.layers("ngram.shuffle_bytes") = median(traced.map(ex(_).shuffleWriteBytes.toDouble))
    r.layers("sinks.bytes_written") = median(traced.map(ex(_).outputBytes.toDouble))
  }
}

/** `stream`: the seeded `events` split drained file by file through
  * `StreamingOps.readEventsStream` into `tumblingCounts` and
  * `sessionizeStateful` on the RocksDB state store. An item is one
  * micro-batch: land one file, then wait until both queries processed it. */
object Stream {
  import Main._

  val GapUs: Long = 30L * 60 * 1000000
  val SentinelUser = -1L
  val SentinelType = "sentinel"

  def run(r: Run): Unit = {
    val stage = Paths.get(r("stage"))
    val files = {
      val s = Files.list(stage)
      try s.sorted.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
    var n = -1 // each pass streams into its own input, checkpoint and sinks
    def pass(files: Seq[Path]): Seq[Item] = {
      n += 1
      val s = r.spark
      import s.implicits._
      val in = r.work.resolve(s"stream-in-$n")
      Files.createDirectories(in)
      val ck = r.work.resolve(s"stream-ckpt-$n")
      val tumbling = StreamingOps.tumblingCounts(StreamingOps.readEventsStream(s, in.toString))
        .writeStream.format("memory").queryName(s"tumbling_$n").outputMode("append")
        .option("checkpointLocation", ck.resolve("tumbling").toString).start()
      val sessions = StreamingOps.sessionizeStateful(
        StreamingOps.readEventsStream(s, in.toString).withWatermark("ts", "2 hours")
          .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)], GapUs)
        .toDF().writeStream.format("memory").queryName(s"sessions_$n").outputMode("append")
        .option("checkpointLocation", ck.resolve("sessions").toString).start()
      r.tracer.bindRun(tumbling.runId); r.tracer.bindRun(sessions.runId)
      // keyed by the timed pass index; a timed pass overwrites what the
      // warm-up passes left under the same index
      r.runIds(r.passes.size) = Set(tumbling.runId, sessions.runId)
      try files.zipWithIndex.flatMap { case (f, i) =>
        val it = r.tracer.span(s"batch-$i", "item") {
          item(r, s"batch-$i") {
            r.tracer.span("land", "stage")(land(f, in))
            r.tracer.span("processAllAvailable", "exec") {
              tumbling.processAllAvailable()
              sessions.processAllAvailable()
            }
          }
        }
        it
      } finally { tumbling.stop(); sessions.stop() }
    }

    protocol(r, r.minPasses) {
      r.tracer.span("tables.load", "tables.load")(Tables(r.spark, r.data, "events"))
    } {
      (1 to r.warmPasses).foreach(_ => pass(files))
    } { _ => pass(files) }
    check(r, n)
  }

  /** The streamed results must equal the batch form of the same logic
    * over all the input (the sentinel file only closes open windows). */
  def check(r: Run, n: Int): Unit = {
    val s = r.spark
    import s.implicits._
    val events = Tables(s, r.data, "events")
    val gotT = s.table(s"tumbling_$n").filter(col("event_type") =!= SentinelType)
      .collect().map(_.toString).sorted.toSeq
    val wantT = StreamingOps.tumblingCounts(events).collect().map(_.toString).sorted.toSeq
    val gotS = s.table(s"sessions_$n").filter(col("user_id") =!= SentinelUser)
      .as[ClosedSession].collect().toSet
    // the built-in session_window over every row: the stream, closed by
    // the sentinel, must emit exactly these sessions
    val wantS = events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"), col("n_events"))
      .as[ClosedSession].collect().toSet
    // the batch form of sessionizeStateful never times out: every
    // session but each user's last
    val batch = StreamingOps.sessionizeStateful(
      events.select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)], GapUs)
      .collect().toSet
    val lastPerUser = wantS.groupBy(_.user_id).values.map(_.maxBy(_.start_us)).toSet
    val mismatches = Seq(gotT == wantT, gotS == wantS, batch == gotS -- lastPerUser).count(!_)
    r.facts("stream_mismatches") = mismatches
    r.facts("stream_rows") = events.count()
    r.facts("tumbling_rows") = gotT.size
    r.facts("sessions") = gotS.size
  }

  def layers(r: Run, traced: Seq[Span]): Unit = {
    val prog = r.tracer.progress.synchronized(r.tracer.progress.toList).map(_.progress)
    val passIds = r.passes.zipWithIndex.collect { case (p, i) if p.traced => i }
    def perPass(f: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] => Double) =
      median(passIds.map(i => f(prog.filter(p => r.runIds.getOrElse(i, Set.empty)(p.runId)))).toSeq)
    def dur(k: String)(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    r.layers("stream.add_batch_s") = perPass(dur("addBatch"))
    r.layers("stream.planning_s") = perPass(dur("queryPlanning"))
    r.layers("stream.wal_commit_s") = perPass(ps => dur("walCommit")(ps) + dur("commitOffsets")(ps))
    def lastState(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                  f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.groupBy(_.runId).values.map(_.maxBy(_.batchId).stateOperators.map(f).sum).sum.toDouble
    r.layers("stream.state_rows") = perPass(lastState(_, _.numRowsTotal))
    r.layers("stream.state_bytes") = perPass(lastState(_, _.memoryUsedBytes))
    r.layers("stream.rows_removed") =
      perPass(_.flatMap(_.stateOperators).map(_.numRowsRemoved).sum.toDouble)
    r.layers("stream.batch_growth") = median(r.passes.filter(_.traced).map { p =>
      val xs = p.items.map(_.seconds)
      val k = math.max(1, xs.size / 3)
      median(xs.takeRight(k)) / median(xs.take(k))
    }.toSeq)
  }
}
