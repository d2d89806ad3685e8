package graft

/** Dev tool (optimization rounds): dump `.explain("formatted")` for every
  * registered query (or the named subset) to a directory — no execution,
  * so a full-registry plan sweep takes ~a minute. Used to scan plan
  * shapes (Exchange counts, join strategies, PushedFilters) en masse and
  * to produce the plans/r18 before/after evidence.
  *
  *   sbt "Test/runMain graft.PlanDump /root/repo/plans/r18/before"
  *   sbt "Test/runMain graft.PlanDump /tmp/plans math_functions tfidf"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [query...]")
    val outDir = java.nio.file.Paths.get(args.head)
    java.nio.file.Files.createDirectories(outDir)
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sel = if (args.length > 1) args.tail.toSet else SparkEntry.queries.keySet
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      if (sel(n)) {
        try {
          val txt = fn(spark, d).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"$n.txt"), txt.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
    println(s"[plandump] wrote plans to $outDir")
  }
}
