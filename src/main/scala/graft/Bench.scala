package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query at
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Protocol (hardened round 4; resharded round 7):
  *   1. WARM EVERY TABLE — one full noop scan per driver table before
  *      any timing. One-time session costs (parquet footer reads,
  *      vectorized reader init, first-codegen) otherwise land on
  *      whichever query first touches a table: under byte-identical
  *      code the same ~10 s landed on `agg_pricing_summary` in round 2
  *      and `multimodal_join` in round 3. Build-once index artifacts
  *      (graft.Indexes) also materialize during warmup — BASELINE.md
  *      and the protocol object both disclose that timed medians
  *      exclude index-build cost.
  *   2. MEDIAN OF 3 RUNS per query after one untimed run (whole-stage
  *      codegen for the query's own plan compiles on first execution) —
  *      a single-run figure cannot distinguish a real regression from
  *      the 3–8× run-to-run noise measured across rounds 2–3.
  *   3. FRESH JVM PER SHARD (VERDICT r06 task 2): one long-lived JVM
  *      executing 190 queries × 4 runs degrades late in the run
  *      (accumulated broadcasts/listener/codegen state → GC pressure),
  *      inflating the last deciles 2–13× — the round-6 artifact
  *      published `tpch_q18ish` at 14.44 s vs 1.57 s measured in a
  *      fresh JVM. The parent process forks one child JVM per
  *      contiguous slice of the sorted query list (default 8 shards,
  *      `SPARK_GRAFT_BENCH_SHARDS` to override), sequentially so shards
  *      never contend for cores; children return per-run times, the
  *      parent merges. Shard warmups re-read tables but ADOPT the
  *      persisted index artifacts built by earlier shards
  *      (Indexes cross-JVM adoption), so repeated warmup stays cheap.
  *      If forking is unavailable the parent falls back to running
  *      each shard in-process on a freshly restarted SparkContext —
  *      weaker hygiene (one OS process) but the same broadcast/
  *      listener/codegen-cache reset.
  *
  * stdout carries the driver contract line (per-query MEDIANS — past
  * rounds saw stdout truncation on oversized lines, so run arrays stay
  * out of it); the complete per-query min/median/max + raw runs go to
  * the self-published BENCH_SELF_r{N}.json.
  */
object Bench {
  /** Timed reps per query (after the untimed codegen run). Default 3 —
    * the round-artifact protocol. SPARK_GRAFT_BENCH_REPS lowers it for
    * the 100× full-registry stress, where 215 queries × 4 executions
    * is hours of wall-clock and the growth key (min-of-reps) is
    * dominated by multi-second query times, not JIT jitter; the value
    * rides in the artifact's protocol stamp either way. */
  private val Reps = {
    val r = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(r >= 1 && r <= 9, s"SPARK_GRAFT_BENCH_REPS out of range: $r")
    r
  }

  /** Sorted-name query list — parent and children derive the shard
    * slices from this same ordering, so no name list crosses the
    * process boundary (shard forks inherit the parent's environment,
    * so the optional filter below agrees across the boundary too).
    *
    * SPARK_GRAFT_BENCH_QUERIES (comma-separated names) restricts the
    * set — used by the 100× spot-stress, where the declared pair
    * emitters (see tools/scale_growth.py KNOWN_SUPERLINEAR) would
    * produce output quadratic in the replica count and are excluded
    * rather than silently timed out. Unknown names fail fast so a
    * typo'd filter can't publish a silently-short artifact. */
  private def sortedQueries = {
    val base = SparkEntry.queries.toSeq.sortBy(_._1)
    sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map(_.trim).filter(_.nonEmpty) match {
      case Some(sel) =>
        val names = sel.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val missing = names.diff(base.map(_._1).toSet)
        require(missing.isEmpty,
          s"unknown queries in SPARK_GRAFT_BENCH_QUERIES: ${missing.toSeq.sorted.mkString(", ")}")
        base.filter(q => names(q._1))
      case None => base
    }
  }

  private def shardSlice(i: Int, n: Int): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val qs = sortedQueries
    val per = (qs.size + n - 1) / n
    qs.slice(i * per, math.min(qs.size, (i + 1) * per))
  }

  /** Generic execution-stack warmup: a fresh JVM's first timed queries
    * otherwise pay the C2-JIT tax on Spark's shuffle/agg/join/window/
    * sort machinery — the per-query untimed run compiles the QUERY's
    * codegen but not the interpreter-tier runtime under it. Measured on
    * the first sharded run: 11 of 14 round-over-round flags sat at
    * shard offsets 0–3 (ab_test_welch 0.59→1.09 s etc.). Three reps of
    * a synthetic range→agg→join→window→sort pipeline push those paths
    * through C2 before any timing. */
  private def jitWarm(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    (1 to 3).foreach { _ =>
      val base = spark.range(1 << 20).selectExpr("id", "id % 997 AS k",
        "CAST(id % 7919 AS DOUBLE) AS v", "concat('s', id % 1013) AS s")
      val agg = base.groupBy("k")
        .agg(sum("v").as("sv"), count(lit(1)).as("c"),
          approx_count_distinct("s").as("d"))
      base.join(agg, "k")
        .withColumn("r", row_number().over(
          Window.partitionBy("k").orderBy(col("v").desc, col("id"))))
        .filter(col("r") <= 3)
        .orderBy(col("sv").desc, col("id"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Timed runs (-1 = failed); last successful run's [[Trace.Run.json]] ("" if none). */
  private final case class Timed(name: String, runs: Seq[Double], trace: String)

  /** Warm tables, then time each query: one untimed run + Reps timed.
    * Failed runs record -1 (never a plausible-looking time). */
  private def timeQueries(spark: SparkSession, sfDir: String,
                          qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
  : Seq[Timed] = {
    graft.sources.Tables.names.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $t failed: ${e.getMessage}")
      }
    }
    try jitWarm(spark)
    catch { case e: Throwable =>
      System.err.println(s"[bench] jit warmup failed (non-fatal): ${e.getMessage}")
    }
    qs.map { case (name, fn) =>
      // noop sink: fully materializes every row and column (sorts run,
      // scalar columns evaluate) with zero serialization/disk cost. A
      // bare count() would let Catalyst eliminate top-level ORDER BYs
      // and prune all computed columns — under-measuring.
      def run() = Trace(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2
      // untimed first run: this query's whole-stage codegen compiles
      // here, and any index artifact it reads builds/adopts here
      try run() catch { case _: Throwable => () } // timed runs below report it
      var trace = ""
      val times = Seq.fill(Reps) {
        try { val r = run(); trace = r.json; r.seconds }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      System.err.println(f"[bench] $name%-32s runs=" +
        times.map(t => f"$t%.3f").mkString("[", ", ", "]"))
      Timed(name, times, trace)
    }
  }

  /** Child entry: time shard `i` of `n`, write `name\tt1,t2,t3\ttrace` lines. */
  private def shardMain(i: Int, n: Int, out: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    val rows = timeQueries(spark, sfDir, shardSlice(i, n))
    val text = rows.map(r => r.name + "\t" + r.runs.map(t => f"$t%.6f").mkString(",") + "\t" + r.trace)
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out), text.getBytes("UTF-8"))
    spark.stop()
  }

  // same list as build.sbt / spark-submit's JavaModuleOptions: Spark 4
  // on JDK 17 needs these opens in every child JVM
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork one fresh JVM for shard i/n; forward its output to stderr
    * (parent stdout is reserved for the driver contract line). Returns
    * None if the fork path is unusable (missing java, bad classpath…) —
    * caller falls back to in-process. `queryFilter`, when set, narrows
    * the child's registry via SPARK_GRAFT_BENCH_QUERIES — used by the
    * contention-recovery re-run, which re-times only flagged queries. */
  private def forkShard(i: Int, n: Int,
                        queryFilter: Option[Seq[String]] = None): Option[Seq[Timed]] = {
    val out = java.nio.file.Files.createTempFile(s"graft_bench_$i", ".tsv")
    try {
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      val cmd: Seq[String] = Seq(javaBin, s"-Xmx$mem") ++ addOpens ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.Bench", "--shard", i.toString, n.toString, out.toString)
      val pb = new ProcessBuilder(cmd: _*)
      queryFilter.foreach(qs =>
        pb.environment().put("SPARK_GRAFT_BENCH_QUERIES", qs.mkString(",")))
      pb.redirectErrorStream(true)
      val p = pb.start()
      val gobbler = new Thread(() => {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
        var l = r.readLine()
        while (l != null) { System.err.println(l); l = r.readLine() }
      })
      gobbler.setDaemon(true)
      gobbler.start()
      val code = p.waitFor()
      gobbler.join(5000)
      if (code != 0) { System.err.println(s"[bench] shard $i exited $code"); None }
      else {
        import scala.jdk.CollectionConverters._
        val rows = java.nio.file.Files.readAllLines(out).asScala.toSeq
          .filter(_.nonEmpty).map { l =>
            val Array(name, ts, trace) = l.split("\t", -1)
            Timed(name, ts.split(",").map(_.toDouble).toSeq, trace)
          }
        if (rows.isEmpty) { System.err.println(s"[bench] shard $i returned no rows"); None }
        else Some(rows)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork shard $i failed: ${e.getMessage}")
      None
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  /** In-process fallback: fresh SparkContext per shard — stop() drops
    * broadcasts, the listener bus, and the block manager; getOrCreate
    * then builds a genuinely new context. */
  private def inProcessShard(i: Int, n: Int, sfDir: String): Seq[Timed] = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Sessions.local(Sessions.cpus)
    try timeQueries(spark, sfDir, shardSlice(i, n))
    finally spark.stop()
  }

  def main(args: Array[String]): Unit = args match {
    case Array("--shard", i, n, out) => shardMain(i.toInt, n.toInt, out)
    case _ => parentMain()
  }

  /** Within-shard run-spread contention signature (VERDICT r10 task 3):
    * calibrated on the r07/r09/r10 contended artifacts — a query whose
    * three same-JVM runs spread >3× with max ≥ 0.45 s reflects co-tenant
    * load, not plan behavior. ≥5 such queries flags the run. */
  private def spreadFlagged(rows: Seq[Timed]): Seq[String] =
    rows.collect { case Timed(n, ts, _)
      if { val ok = ts.filter(_ >= 0)
           ok.nonEmpty && ok.min > 0 && ok.max >= 0.45 && ok.max / ok.min > 3.0 } => n
    }

  private def parentMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nQueries = sortedQueries.size
    val shards = math.max(1, math.min(nQueries,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SHARDS", "8").toInt))

    var forked = true
    val firstPass: Seq[Timed] = (0 until shards).flatMap { i =>
      System.err.println(s"[bench] === shard $i/$shards ===")
      forkShard(i, shards) match {
        case Some(rows) => rows
        case None =>
          forked = false
          inProcessShard(i, shards, sfDir)
      }
    }

    // Contention RECOVERY (VERDICT r11 task 1): detection alone left the
    // r10 and r11 official medians distorted — the stamp fired but the
    // round record still carried the contended numbers. When the run
    // flags as contended, re-time ONLY the flagged queries once in one
    // fresh forked JVM (same warmup + reps protocol) and splice those
    // run arrays in; the untouched queries keep their first-pass times.
    // One retry only — if the re-run still spreads, the artifact stays
    // stamped contended rather than chasing a quiet machine forever.
    // GRAFT_BENCH_NO_RECOVER=1 disables (used by the guard self-test).
    val flaggedFirst = spreadFlagged(firstPass)
    val contendedFirst = flaggedFirst.size >= 5
    val (perQuery, recoveredQs) =
      if (contendedFirst && forked && !sys.env.contains("GRAFT_BENCH_NO_RECOVER")) {
        System.err.println(s"[bench] contended first pass (${flaggedFirst.size} " +
          s"queries >3x spread) — re-running flagged queries in a fresh JVM")
        forkShard(0, 1, Some(flaggedFirst.sorted)) match {
          case Some(rerun) =>
            // splice only re-runs that actually SUCCEEDED at least once:
            // a query that fails in the recovery JVM (all runs -1) keeps
            // its healthy first-pass times instead of silently degrading
            // the published median for a query that ran fine (r12 ADVICE)
            val m = rerun.filter(_.runs.exists(_ >= 0)).map(r => r.name -> r).toMap
            (firstPass.map(r => m.getOrElse(r.name, r)), m.keys.toSeq.sorted)
          case None =>
            System.err.println("[bench] recovery fork failed — keeping first pass")
            (firstPass, Seq.empty[String])
        }
      } else (firstPass, Seq.empty[String])

    // median over SUCCESSFUL runs only: sorting -1s into the pick
    // would make one intermittent failure report min(successes) — a
    // flaky query would bench as healthy-and-faster. All-failed → -1.
    def stats(ts: Seq[Double]): (Double, Double, Double) = {
      val ok = ts.filter(_ >= 0).sorted
      if (ok.isEmpty) (-1.0, -1.0, -1.0)
      else (ok(ok.size / 2), ok.head, ok.last)
    }
    def r3(x: Double) = math.rint(x * 1000) / 1000
    val results = perQuery.map(r => (r, stats(r.runs)))

    val qs = results.map { case (r, (med, _, _)) => s"\"" + r.name + "\":" + r3(med) }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2._1).sum)
    // n_queries rides along so the total can be normalized across
    // rounds: the registry grows every round, and a raw total compared
    // against a fixed-size baseline silently penalizes added coverage.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_queries":${results.size},"sf":"$sfDir"}""")
    // COMPACT trailing summary line (r15 VERDICT task 3): the driver's
    // BENCH_r{N}.json parse has returned null EVERY round — it extracts
    // from a 2000-char stdout TAIL, and the full metric line above
    // (~6 KB with 225+ queries) never fits, so its leading '{"metric"'
    // is always truncated away. This second line is <200 chars, sits
    // last-but-one on stdout (only sbt's [success] follows), and is a
    // complete JSON object inside any tail window ≥ ~300 chars —
    // parseable by a last-lines scan or a {"metric"...} regex either
    // way. The full per-query map still rides in the line above and in
    // the self-published artifact below. Pinned in
    // tools/test_bench_guard.py (tail-window simulation).
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")

    // Self-published artifact (VERDICT r04 task 3): the driver's stdout
    // capture has truncated the per-query map mid-JSON in past rounds,
    // so the COMPLETE machine-readable result — including per-run
    // spreads (VERDICT r06 task 2) — is written to the repo as
    // BENCH_SELF_r{N}.json, N inferred as one past the newest
    // driver-written BENCH_r{N}.json, overridable via GRAFT_BENCH_OUT.
    try {
      val out = sys.env.get("GRAFT_BENCH_OUT").map(java.nio.file.Paths.get(_))
        .getOrElse {
          val cwd = java.nio.file.Paths.get(".").toAbsolutePath
          val re = "BENCH_r(\\d+)\\.json".r
          val stream = java.nio.file.Files.list(cwd)
          val n = try {
            val it = stream.iterator()
            var m = 0
            while (it.hasNext) it.next().getFileName.toString match {
              case re(d) => m = math.max(m, d.toInt)
              case _ =>
            }
            m
          } finally stream.close() // Files.list holds the dir fd open
          cwd.resolve(f"BENCH_SELF_r${n + 1}%02d.json")
        }
      // env-derived strings must be JSON-escaped or a quote in
      // SPARK_GRAFT_BENCH_QUERIES corrupts the machine-readable artifact
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      // headline stays the median total (driver contract), but the
      // min-of-reps total rides along: medians absorb co-tenant load
      // spikes (r08 published doc_quality at a 4.09 s median over runs
      // [4.13, 4.09, 1.12]), so the regression guard keys on per-query
      // min (tools/bench_guard.py) and BASELINE.md records both.
      // Publish-time contention detection (VERDICT r10 task 3) +
      // recovery (r11 task 1): the stamp reflects the POST-recovery run
      // arrays — a recovered run that settled publishes contended:false
      // with the recovery recorded, and the raw contended first pass is
      // preserved alongside as <out>_contended.json for audit.
      val spread3x = spreadFlagged(perQuery).size
      val contended = spread3x >= 5
      if (contended) System.err.println(
        s"[bench] WARNING: $spread3x queries show >3x within-shard run spread — " +
          "machine contention signature; artifact stamped \"contended\":true")
      // An active SPARK_GRAFT_BENCH_QUERIES filter is stamped explicitly
      // so a subset/spot-stress artifact can never be mistaken for a
      // full-registry sweep by anything downstream of n_queries.
      val filterStamp = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
        .map(_.trim).filter(_.nonEmpty) match {
        case Some(sel) =>
          val names = sel.split(",").map(_.trim).filter(_.nonEmpty).sorted
          s""","filtered":true,"filter":[${names.map(n => "\"" + esc(n) + "\"").mkString(",")}]"""
        case None => ""
      }
      val recoveryStamp =
        if (recoveredQs.nonEmpty)
          s""","recovered":true,"recovered_queries":[${recoveredQs.map(n => "\"" + esc(n) + "\"").mkString(",")}]"""
        else ""
      val protocol = s"""{"reps":$Reps,"aggregation":"median_of_successful",""" +
        s""""regression_guard":"per-query min (tools/bench_guard.py)",""" +
        s""""warmup":"per shard: all tables noop-scanned + 3 synthetic JIT pipeline runs, then 1 untimed run per query",""" +
        s""""indexes":"persisted across queries and shards; build cost falls in warmup",""" +
        s""""contention_recovery":"flagged queries re-timed once in a fresh JVM when >=5 spread >3x",""" +
        s""""shards":$shards,"isolation":"${if (forked) "fresh JVM per shard" else "fresh SparkContext per shard (fork unavailable)"}",""" +
        s""""cpus":"${Sessions.cpus}","spark":"${esc(org.apache.spark.SPARK_VERSION)}","sink":"noop"}"""
      def artifactJson(rs: Seq[(Timed, (Double, Double, Double))],
                       cont: Boolean, nSpread: Int, extra: String): String = {
        val totalMed = r3(rs.map(_._2._1).filter(_ >= 0).sum)
        val totalMn = r3(rs.map(_._2._2).filter(_ >= 0).sum)
        val qMap = rs.map { case (r, (med, _, _)) => s"\"" + r.name + "\":" + r3(med) }
          .mkString("{", ",", "}")
        val detail = rs.map { case (r, (med, mn, mx)) =>
          "\"" + r.name + "\":{\"median\":" + r3(med) + ",\"min\":" + r3(mn) +
            ",\"max\":" + r3(mx) + ",\"runs\":[" + r.runs.map(r3).mkString(",") + "]" +
            (if (r.trace.isEmpty) "" else ",\"trace\":" + r.trace) + "}"
        }.mkString("{", ",", "}")
        s"""{"metric":"total","value":$totalMed,"value_min":$totalMn,"unit":"sec","n_queries":${rs.size},"contended":$cont,"n_spread3x":$nSpread,"sf":"${esc(sfDir)}"$extra,"protocol":$protocol,"queries":$qMap,"query_detail":$detail}"""
      }
      java.nio.file.Files.write(out,
        artifactJson(results, contended, spread3x, filterStamp + recoveryStamp)
          .getBytes("UTF-8"))
      System.err.println(s"[bench] self-published $out")
      if (recoveredQs.nonEmpty) {
        val contOut = out.resolveSibling(
          out.getFileName.toString.replaceAll("\\.json$", "") + "_contended.json")
        val contResults = firstPass.map(r => (r, stats(r.runs)))
        java.nio.file.Files.write(contOut,
          artifactJson(contResults, true, flaggedFirst.size,
            filterStamp + s""","recovered":false,"note":"raw contended first pass; clean record is ${esc(out.getFileName.toString)}"""")
            .getBytes("UTF-8"))
        System.err.println(s"[bench] contended first pass preserved at $contOut")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] self-publish failed (non-fatal): ${e.getMessage}")
    }
  }
}
