package graft

/** Dev tool: execute selected queries (noop sink) and dump the FINAL
  * adaptive plan — shows which exchanges AQE actually reused at
  * runtime (ReusedExchange / stage reuse), which the static
  * [[PlanDump]] cannot. Run:
  * sbt "Test/runMain graft.AdaptiveDump doc_bigram_surprise". */
object AdaptiveDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, d)
      // Drive THIS QueryExecution (a write spawns its own QE, whose
      // final adaptive plan we couldn't read back).
      df.queryExecution.executedPlan.execute().count()
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
