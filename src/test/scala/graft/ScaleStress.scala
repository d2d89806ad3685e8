package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** VERDICT r05 task 7 / r06 task 5: 10× scale-stress for the dedup and
  * graph families. Replicates the sf0.1 inputs tenfold with remapped
  * primary keys (documents.doc_id, lineitem.l_orderkey — foreign part
  * keys stay, so the co-order graph densifies 10× per part pair, the
  * harder direction) and runs `minhash_near_dup_pairs`, `cc_clusters`,
  * `triangle_count`, `simjoin_prefix` end-to-end, asserting completion
  * and bounded task skew: for every stage with ≥8 tasks and ≥100 ms
  * mean task time, max task ≤ 4× mean. Converts the "100 TB-safe by
  * plan shape" claim into a measured one; results go into BASELINE.md.
  *
  *   sbt "Test/runMain graft.ScaleStress [copies] [sfDir] [workDir]"
  */
object ScaleStress {
  /** Worst max/mean task run time over stages with >= 8 tasks and a
    * mean >= 100 ms, with the stage's shape. */
  private def worstSkew(stages: Seq[Trace.Stage]): (Double, String) = {
    val rows = stages.flatMap { st =>
      val mean = st.runMs.toDouble / st.tasks
      if (st.tasks >= 8 && mean >= 100.0)
        Some((st.maxRunMs / mean, s"stage ${st.id}: ${st.tasks} tasks, mean ${mean.toInt}ms, max ${st.maxRunMs}ms"))
      else None
    }
    if (rows.isEmpty) (1.0, "no stage with >=8 tasks and >=100ms mean")
    else rows.maxBy(_._1)
  }

  private def replicate(spark: SparkSession, srcDir: String, outDir: String,
                        table: String, key: String, copies: Int): Unit = {
    val out = new java.io.File(s"$outDir/$table.parquet")
    if (out.exists()) return // idempotent across runs
    val src = spark.read.parquet(s"$srcDir/$table.parquet")
    val stride = src.agg(max(col(key))).head().getLong(0) + 1
    (0 until copies)
      .map(i => src.withColumn(key, col(key) + lit(i * stride)))
      .reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(out.toString)
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(2).getOrElse("/tmp/graft_scale_stress")
    val spark = Sessions.local(Sessions.cpus)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(workDir))
    replicate(spark, srcDir, workDir, "documents", "doc_id", copies)
    replicate(spark, srcDir, workDir, "lineitem", "l_orderkey", copies)

    // r10 verdict task 8: the as-of family's bucketed variant (the
    // huge-history drop-in) and the time-range rolling window have never
    // been measured at 10× density. They read events/orders, which the
    // per-table replicate above doesn't build — so they join the target
    // set only when the workDir is a FULL ScaleFixture output
    // (sbt "Test/runMain graft.ScaleFixture 10" first, then point
    // workDir at /tmp/graft_sf1).
    val extra = Seq("join_asof_bucketed", "rolling_time_range").filter { _ =>
      Seq("events", "orders").forall(t =>
        new java.io.File(s"$workDir/$t.parquet").exists())
    }
    val targets = Seq("minhash_near_dup_pairs", "cc_clusters",
      "triangle_count", "simjoin_prefix") ++ extra
    var failed = false
    val reports = targets.map { name =>
      val (df, write) = Trace(spark) {
        val df = SparkEntry.queries(name)(spark, workDir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val sec = write.seconds
      val (rows, count) = Trace(spark)(df.count())
      val (skew, shape) = worstSkew(write.stages ++ count.stages)
      val ok = skew <= 4.0
      if (!ok) failed = true
      println(f"[stress] $name%-24s ${sec}%8.2fs  rows=$rows%-9d worst max/mean=$skew%.2f ($shape) ${if (ok) "OK" else "SKEW VIOLATION"}")
      (name, sec, rows, skew)
    }
    val json = reports.map { case (n, s, r, k) =>
      f"""\"$n\":{\"sec\":${math.rint(s * 100) / 100},\"rows\":$r,\"worst_task_skew\":${math.rint(k * 100) / 100}}"""
    }.mkString("{", ",", "}")
    println(s"""[stress] {"copies":$copies,"src":"$srcDir","queries":$json}""")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
