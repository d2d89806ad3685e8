package graft

/** Dev tool: wall-time selected queries (noop sink, 1 warm + 1 timed)
  * under the SAME session config as graft.Bench (SPARK_GRAFT_CPUS
  * threads + shuffle partitions), so single-query timings are
  * comparable to the driver's bench figures. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, d).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      println(f"[timeq] $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
