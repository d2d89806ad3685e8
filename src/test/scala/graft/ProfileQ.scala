package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev tool (optimization rounds): per-query breakdown under the SAME
  * session config as graft.Bench — wall time per run, plus per-stage
  * task counts / executor run time / shuffle bytes from a listener, so
  * "where does the time go" is answered empirically (guide §1/§7), not
  * guessed. Also dumps `.explain("formatted")` when PROFILE_PLAN_DIR is
  * set (the plans/r18 before/after artifacts).
  *
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS — as Bench
  *   PROFILE_REPS  — timed reps after the untimed run (default 2)
  *   PROFILE_PLAN_DIR — if set, write <dir>/<query>.txt explain output
  *
  *   sbt "Test/runMain graft.ProfileQ math_functions json_functions"
  */
object ProfileQ {
  private final case class StageRow(id: Int, name: String, tasks: Int,
                                    execRunMs: Long, cpuMs: Long,
                                    shufReadB: Long, shufWriteB: Long,
                                    inputB: Long, durMs: Long,
                                    gcMs: Long, spillB: Long)

  def main(args: Array[String]): Unit = {
    // PROFILE_CONF="k=v;k2=v2" — A/B a candidate config without a code
    // change (guide §1: measure before shipping any conf into Bench).
    val overrides = sys.env.get("PROFILE_CONF").map(_.trim).filter(_.nonEmpty)
      .map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty)
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        System.err.println(s"[profile] conf override: $k=$v")
        k.trim -> v.trim
      }
    val spark = Sessions.local(Sessions.cpus, overrides.toSeq: _*)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("PROFILE_REPS", "2").toInt
    val planDir = sys.env.get("PROFILE_PLAN_DIR")

    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
            si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            m.jvmGCTime, m.memoryBytesSpilled)
        }
      }
    }

    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      planDir.foreach { dir =>
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        val txt = fn(spark, d).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(p.resolve(s"$n.txt"), txt.getBytes("UTF-8"))
      }
      // untimed: codegen + index artifacts
      fn(spark, d).write.format("noop").mode("overwrite").save()
      spark.sparkContext.addSparkListener(listener)
      stages.synchronized(stages.clear())
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(500) // let the listener bus drain (private API in Spark 4)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[profile] $n walls=" + walls.map(w => f"$w%.3f").mkString("[", ", ", "]") +
        f" (over $reps runs)")
      val rows = stages.synchronized(stages.toVector)
      val byStage = rows.sortBy(-_.execRunMs)
      println(f"[profile]   stages=${rows.size} tasks=${rows.map(_.tasks).sum} " +
        f"execRun=${rows.map(_.execRunMs).sum}ms cpu=${rows.map(_.cpuMs).sum}ms " +
        f"shufW=${rows.map(_.shufWriteB).sum / 1024}KB in=${rows.map(_.inputB).sum / 1024}KB")
      byStage.take(8).foreach { s =>
        println(f"[profile]     stage ${s.id}%4d ${s.tasks}%3dt run=${s.execRunMs}%6dms " +
          f"cpu=${s.cpuMs}%6dms gc=${s.gcMs}%5dms spill=${s.spillB / 1024}%7dKB " +
          f"dur=${s.durMs}%5dms sw=${s.shufWriteB / 1024}%7dKB ${s.name}")
      }
    }
    spark.stop()
  }
}
