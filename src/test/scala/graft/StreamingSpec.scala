package graft

import java.sql.Timestamp
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** G21–G23 streaming tests (SURVEY.md §5.2(5)): micro-batch runs over
  * the same events parquet must equal the batch run of the same
  * transform; watermark drops late data; streaming dedup is stateful
  * within the watermark. */
class StreamingSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // VERDICT r08 task 4: the whole suite — CDC replay, TTL eviction,
  // sessionization, dedup, checkpoint restarts — runs against the
  // RocksDB state store provider, the 100 TB posture (state no longer
  // bounded by executor heap; changelog checkpointing shape). The X33
  // tests set it explicitly too (transformWithState requires it);
  // suites run sequentially in the forked test JVM, so the session-wide
  // default here cannot race another suite.
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private var savedProvider: Option[String] = None
  override protected def beforeAll(): Unit = {
    // `getAll`, not `getOption`: see Sessions.withConf
    savedProvider = spark.conf.getAll.get(ProviderKey)
    spark.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
  override protected def afterAll(): Unit = savedProvider match {
    case Some(v) => spark.conf.set(ProviderKey, v)
    case None => spark.conf.unset(ProviderKey)
  }

  private var sinkN = 0

  /** Run a streaming transform of the events stream to completion
    * (AvailableNow) into a memory sink; return the sink contents. */
  private def runToMemory(df: DataFrame, mode: String): DataFrame = {
    sinkN += 1
    val name = s"sink$sinkN"
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  private def batchEvents = sources.Tables.events(spark, SparkTestSession.sf0001)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("G21 ingest: streaming read of events == batch read") {
    val got = runToMemory(
      StreamingOps.readEventsStream(spark, SparkTestSession.sf0001), "append")
    assert(sortedRows(got) == sortedRows(batchEvents))
  }

  test("G22 tumbling windows: streaming (complete mode) == batch") {
    val got = runToMemory(
      StreamingOps.tumblingCounts(
        StreamingOps.readEventsStream(spark, SparkTestSession.sf0001)), "complete")
    assert(sortedRows(got) == sortedRows(StreamingOps.tumblingCounts(batchEvents)))
  }

  test("X36+ streaming CDC apply: per-batch merge, later batch wins, replay idempotent") {
    val base = SparkTestSession.tempDir("graft-cdc-stream")
    val snap = base.resolve("snapshot").toString
    val ckpt = base.resolve("ckpt").toString
    def t(s: String) = Timestamp.valueOf(s)
    def snapshot(): Map[Long, (Double, Timestamp)] =
      spark.read.parquet(snap).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getTimestamp(2))).toMap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double, Timestamp)]
    def runOnce(): Unit = {
      val q = StreamingOps.cdcApplyStream(
        mem.toDF().toDF("k", "v", "ts"), snap, ckpt)
      q.awaitTermination(120000)
    }
    // batch 1: inserts (incl. an in-batch duplicate — max (ts, v) wins)
    mem.addData((1L, 10.0, t("2024-01-01 00:00:00")),
      (2L, 20.0, t("2024-01-01 00:00:00")),
      (2L, 21.0, t("2024-01-01 00:00:05")))
    runOnce()
    assert(snapshot() == Map(
      1L -> (10.0, t("2024-01-01 00:00:00")),
      2L -> (21.0, t("2024-01-01 00:00:05"))))
    // batch 2 (new query, same checkpoint = resume): update + insert
    mem.addData((2L, 25.0, t("2024-01-02 00:00:00")),
      (3L, 30.0, t("2024-01-02 00:00:00")))
    runOnce()
    assert(snapshot() == Map(
      1L -> (10.0, t("2024-01-01 00:00:00")),
      2L -> (25.0, t("2024-01-02 00:00:00")),
      3L -> (30.0, t("2024-01-02 00:00:00"))))
    // replay with no new data: snapshot unchanged (idempotent apply)
    runOnce()
    assert(snapshot() == Map(
      1L -> (10.0, t("2024-01-01 00:00:00")),
      2L -> (25.0, t("2024-01-02 00:00:00")),
      3L -> (30.0, t("2024-01-02 00:00:00"))))
  }

  test("X59 crash replay: merge applied but offsets uncommitted — restart converges") {
    // The foreachBatch crash window that matters: the side effect (the
    // snapshot merge) COMPLETED, then the query died before committing
    // the batch's offsets. On restart the checkpoint replays the same
    // batch onto the already-merged snapshot. Reproduced deterministically
    // by applying the batch through the identical code path while leaving
    // the checkpoint untouched, then restarting the stream.
    val base = SparkTestSession.tempDir("graft-cdc-crash")
    val snap = base.resolve("snapshot").toString
    val ckpt = base.resolve("ckpt").toString
    def t(s: String) = Timestamp.valueOf(s)
    def snapshot(): Map[Long, (Double, Timestamp)] =
      spark.read.parquet(snap).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getTimestamp(2))).toMap
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Double, Timestamp)]
    def runOnce(): Unit = {
      val q = StreamingOps.cdcApplyStream(mem.toDF().toDF("k", "v", "ts"), snap, ckpt)
      q.awaitTermination(120000)
    }
    mem.addData((1L, 10.0, t("2024-01-01 00:00:00")),
      (2L, 20.0, t("2024-01-01 00:00:00")))
    runOnce()
    // "crash": batch 2 merged, offsets never committed
    val b2 = Seq((2L, 25.0, t("2024-01-02 00:00:00")),
      (3L, 30.0, t("2024-01-02 00:00:00")))
    mem.addData(b2: _*)
    StreamingOps.applyCdcBatch(b2.toDF("k", "v", "ts"), snap)
    val afterCrash = snapshot()
    // restart: checkpoint replays batch 2 onto the merged snapshot
    runOnce()
    val expected = Map(
      1L -> (10.0, t("2024-01-01 00:00:00")),
      2L -> (25.0, t("2024-01-02 00:00:00")),
      3L -> (30.0, t("2024-01-02 00:00:00")))
    assert(afterCrash == expected, "pre-restart snapshot should already hold the merge")
    assert(snapshot() == expected, "replaying the interrupted batch must be a no-op")
  }

  test("G21+ rate-source soak: stateful agg makes progress and evicts state") {
    val ckpt = SparkTestSession.tempDir("graft-soak-ckpt").toString
    val src = StreamingOps.rateEvents(spark, rowsPerSecond = 400, nUsers = 32)
    val agg = src.withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "1 second"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .format("memory").queryName("graft_soak").outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      Thread.sleep(10000)
      assert(q.isActive, s"soak query died: ${Option(q.exception).flatten}")
      val progress = q.recentProgress
      assert(progress.length >= 3, "expected several micro-batches over the soak window")
      val input = progress.map(_.numInputRows).sum
      assert(input > 0, "rate source produced no rows")
      val stateOps = progress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "windowed agg must report state operators")
      assert(stateOps.map(_.numRowsTotal).max > 0, "no state rows ever held")
      // the load-bearing soak property: with a 2 s watermark over 1 s
      // windows, old windows must be EVICTED — unbounded state growth
      // is exactly the failure this test exists to catch
      assert(stateOps.map(_.numRowsRemoved).sum > 0,
        "watermark never evicted state across the soak window")
      assert(stateOps.last.numRowsTotal < input,
        "state rows should be far below total input after eviction")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_soak")
    }
  }

  test("G22++ stream-static enrichment: streaming (append) == batch, dims broadcast") {
    val cust = sources.Tables.customer(spark, SparkTestSession.sf0001)
    val nat = sources.Tables.nation(spark, SparkTestSession.sf0001)
    val got = runToMemory(
      StreamingOps.enrichEvents(
        StreamingOps.readEventsStream(spark, SparkTestSession.sf0001), cust, nat),
      "append")
    assert(sortedRows(got) ==
      sortedRows(StreamingOps.enrichEvents(batchEvents, cust, nat)))
    // stateless lookup: no event lost on its way through the join
    assert(got.count() == batchEvents.count())
  }

  test("G22 session windows: streaming (complete mode) == batch") {
    val got = runToMemory(
      StreamingOps.sessionCounts(
        StreamingOps.readEventsStream(spark, SparkTestSession.sf0001)), "complete")
    assert(sortedRows(got) == sortedRows(StreamingOps.sessionCounts(batchEvents)))
  }

  test("G21+G24 streaming parquet sink: checkpointed append equals batch read") {
    val base = SparkTestSession.tempDir("graft-stream-sink")
    val out = base.resolve("data").toString
    val ckpt = base.resolve("ckpt").toString
    val q = StreamingOps.writeStreamParquet(
      StreamingOps.readEventsStream(spark, SparkTestSession.sf0001), out, ckpt)
    q.awaitTermination(120000)
    assert(sortedRows(spark.read.parquet(out)) == sortedRows(batchEvents))
    // restart with the same checkpoint: no new data → no duplicate rows
    val q2 = StreamingOps.writeStreamParquet(
      StreamingOps.readEventsStream(spark, SparkTestSession.sf0001), out, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == batchEvents.count())
  }

  test("G24 checkpoint-restart: kill mid-stream, resume, output is exactly-once") {
    val base = SparkTestSession.tempDir("graft-stream-restart")
    val in = base.resolve("in").toString
    val out = base.resolve("data").toString
    val ckpt = base.resolve("ckpt").toString
    // Deterministic restart: stage 12 single-file batches but reveal
    // only 6 to run 1 (a poll-for-N-progresses kill races AvailableNow
    // on a fast machine and can silently leave the resume path
    // untested). Run 1 drains what exists; the rest "arrives" while the
    // query is down; run 2 must resume from the logged offsets and
    // process exactly the remainder.
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val staged = base.resolve("staged")
    batchEvents.repartition(12).write.parquet(staged.toString)
    JFiles.createDirectories(JPaths.get(in))
    val parts = JFiles.list(staged).iterator()
    val partFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(parts).asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    assert(partFiles.size == 12)
    def reveal(ps: Seq[java.nio.file.Path]): Unit = ps.foreach { p =>
      JFiles.move(p, JPaths.get(in).resolve(p.getFileName))
    }
    reveal(partFiles.take(6))
    val want = sortedRows(spark.read.parquet(staged + "/*.parquet")) ++
      sortedRows(spark.read.parquet(in + "/*.parquet"))
    def src = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)

    val q1 = StreamingOps.writeStreamParquet(src, out, ckpt)
    q1.awaitTermination(120000)
    val afterStop = spark.read.parquet(out).count()
    assert(afterStop > 0, "run 1 must commit the revealed batches")
    assert(afterStop < batchEvents.count(),
      "run 1 must NOT have seen the unrevealed files — resume has real work")

    // run 2: same checkpoint — resumes from the logged offsets and
    // processes exactly the files that arrived in between
    reveal(partFiles.drop(6))
    val q2 = StreamingOps.writeStreamParquet(src, out, ckpt)
    q2.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(sortedRows(got) == want.sorted, "exactly-once: no lost and no duplicated rows")
    assert(got.select("event_id").distinct().count() == got.count())
  }

  test("G22+ stream-stream interval join: streaming == batch") {
    val got = runToMemory(
      StreamingOps.purchaseClickJoin(
        StreamingOps.readEventsStream(spark, SparkTestSession.sf0001)), "append")
    val want = StreamingOps.purchaseClickJoin(batchEvents)
    assert(got.count() > 0, "join must produce matches on the test data")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("G30+ stream-stream LEFT OUTER join: null-padded rows flush on watermark advance") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingOps.purchaseClickLeftJoin(stream).writeStream
      .format("memory").queryName("louter_sink").outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: click 30 min before purchase (matches); user 2: purchase
    // with no click anywhere (outer row); user 3: click 2h before
    // purchase (outside the 1h window → also an outer row)
    mem.addData(
      (10L, t("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (11L, t("2024-01-01 10:30:00"), 1L, "purchase", 5.0, "{}"),
      (20L, t("2024-01-01 10:45:00"), 2L, "purchase", 7.0, "{}"),
      (30L, t("2024-01-01 08:00:00"), 3L, "click", 1.0, "{}"),
      (31L, t("2024-01-01 10:50:00"), 3L, "purchase", 9.0, "{}"))
    q.processAllAvailable()
    // outer rows cannot exist yet: the engine can't prove no late click
    // will arrive until the watermark passes the join windows
    val early = spark.table("louter_sink").where(col("click_id").isNull).count()
    assert(early == 0, "outer rows must not emit before the watermark allows")
    // sentinels must pass BOTH side filters: the global watermark is the
    // MIN of the per-side watermarks (multipleWatermarkPolicy=min), so a
    // far-future click alone leaves the purchase side's watermark — and
    // with it every pending outer row — stuck. Two rounds because the
    // watermark observed in batch N only takes effect in batch N+1.
    mem.addData(
      (90L, t("2024-01-02 12:00:00"), 9L, "click", 0.0, "{}"),
      (91L, t("2024-01-02 12:00:00"), 9L, "purchase", 0.0, "{}"))
    q.processAllAvailable()
    mem.addData(
      (92L, t("2024-01-03 12:00:00"), 9L, "click", 0.0, "{}"),
      (93L, t("2024-01-03 12:00:00"), 9L, "purchase", 0.0, "{}"))
    q.processAllAvailable()
    q.stop()
    // user 9's sentinel purchases are themselves eventual outer rows
    // (the later sentinel is still held in state) — scope the assertion
    // to the users under test
    val out = spark.table("louter_sink")
      .where(col("user_id") <= 3L)
      .select("purchase_id", "click_id").as[(Long, Option[Long])]
      .collect().toSet
    assert(out == Set((11L, Some(10L)), (20L, None), (31L, None)),
      s"got $out — matched row plus two watermark-flushed outer rows expected")
  }

  test("G23 streaming dedup: duplicate event_ids within watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingOps.dedupStream(stream).writeStream
      .format("memory").queryName("dedup_sink").outputMode("append").start()
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((1L, t(0), 1L, "click", 1.0, "{}"), (2L, t(1), 1L, "view", 2.0, "{}"))
    q.processAllAvailable()
    mem.addData((1L, t(2), 1L, "click", 1.0, "{}"), (3L, t(3), 2L, "view", 3.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_sink").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // second id=1 suppressed
  }

  test("G22 watermark: late rows beyond lateness bound are dropped (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.tumblingCounts(
      stream.withColumn("user_id", lit(1L)).withColumn("event_id", lit(1L))
        .withColumn("props", lit("{}")))
      .writeStream.format("memory").queryName("late_sink").outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: establish event time up to 13:00 → watermark 11:00
    mem.addData((ts("2024-01-01 10:30:00"), "click", 1.0),
      (ts("2024-01-01 13:00:00"), "view", 1.0))
    q.processAllAvailable()
    // batch 2: a VERY late row for the already-finalized 10:00 window
    mem.addData((ts("2024-01-01 10:40:00"), "click", 1.0))
    q.processAllAvailable()
    // batch 3: advance watermark far enough to emit everything pending
    mem.addData((ts("2024-01-01 20:00:00"), "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_sink")
      .select(col("window_start").cast("string"), col("n_events")).as[(String, Long)]
      .collect().toMap
    // 10:00 window was finalized with 1 event; the late 10:40 row did not resurrect it
    assert(out("2024-01-01 10:00:00") == 1L)
  }

  test("G23+ sessionization (flatMapGroupsWithState): gap + timeout closes == built-in session_window") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 30L * 60 * 1000000 // 30 minutes
    val mem = MemoryStream[(Long, Timestamp)]
    val input = mem.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds").as[(Long, Timestamp)]
    val q = StreamingOps.sessionizeStateful(input, gapUs).writeStream
      .format("memory").queryName("session_sink").outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    val data = Seq(
      // user 1: session A = 10:00,10:10,10:20; session B = 12:00,12:05
      // user 2: session A = 10:05; session B = 11:00
      Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
        (2L, ts("2024-01-01 10:05:00"))),
      Seq((1L, ts("2024-01-01 10:20:00")), (2L, ts("2024-01-01 11:00:00"))),
      Seq((1L, ts("2024-01-01 12:00:00")), (1L, ts("2024-01-01 12:05:00"))))
    data.foreach { b => mem.addData(b); q.processAllAvailable() }
    // two sentinel batches: the first advances max-event-time, the second
    // runs under that advanced watermark so EventTimeTimeout fires for
    // every still-open session (except the sentinels' own)
    mem.addData((999L, ts("2024-01-02 00:00:00"))); q.processAllAvailable()
    mem.addData((999L, ts("2024-01-03 00:00:00"))); q.processAllAvailable()
    q.stop()
    val got = spark.table("session_sink")
      .filter(col("user_id") =!= 999L)
      .as[(Long, Long, Long, Long)].collect().toSet
    // oracle: the built-in session_window aggregate over the same rows
    val want = data.flatten.toDF("user_id", "ts")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")),
        unix_micros(col("session_window.end")), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"stateful sessions != session_window:\n$got\n$want")

    // batch form: timeouts never fire, so exactly the GAP-closed sessions
    // (every session except each user's last) are emitted
    val batch = StreamingOps.sessionizeStateful(
      data.flatten.toDF("user_id", "ts").as[(Long, Timestamp)], gapUs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val lastPerUser = want.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet
    assert(batch == want -- lastPerUser)
  }

  test("X30 regression (10x soak): watermark overtakes an open session's last+gap") {
    // The 10x StreamSoak shape: files arrive in non-time order, so a
    // batch's watermark (driven by the newest event seen) can overtake
    // an OLD open session's last+gap before its timeout fires — and
    // late rows for that session DO reach the function (Spark does not
    // filter them for this plan shape). Pre-fix, the blind
    // setTimeoutTimestamp(last+gap) threw "Timeout timestamp cannot be
    // earlier than the current watermark" and killed the query; the fix
    // drops sub-watermark rows and closes the provably-final session
    // inline. gap 30 min, lateness 2 h.
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 30L * 60 * 1000000
    val mem = MemoryStream[(Long, Timestamp)]
    val input = mem.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "2 hours").as[(Long, Timestamp)]
    val q = StreamingOps.sessionizeStateful(input, gapUs).writeStream
      .format("memory").queryName("wm_overtake_sink").outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: u1 opens a session at 10:00; u2's 22:00 event pushes the
    // post-batch watermark to 20:00 — far past u1's 10:30 close point
    mem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 22:00:00")))
    q.processAllAvailable()
    // batch 2: a late row for u1 (below the 20:00 watermark) arrives in
    // the same trigger in which u1's state is already wm-overtaken —
    // the pre-fix throw site; post-fix the row is dropped and u1's
    // (10:00, 10:30] session is emitted
    mem.addData((1L, ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wm_overtake_sink")
      .as[(Long, Long, Long, Long)].collect().toSet
    val Array(us1000, us1030) =
      Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")).toDF("t")
        .select(unix_micros(col("t"))).as[Long].collect()
    assert(got.contains((1L, us1000, us1030, 1L)),
      s"u1's wm-overtaken session not closed: $got")
    // the late 10:01 row neither extended the session (n stays 1) nor
    // spawned a spurious one-row session of its own
    assert(got.count(_._1 == 1L) == 1, s"spurious late-row session: $got")
  }

  test("X33 transformWithState: two state variables, multi-batch stream == groupBy truth") {
    implicit val sqlCtx = spark.sqlContext
    Sessions.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val mem = MemoryStream[(Long, String)] // (user_id, event_type)
      val q = StreamingOps.userActivity(mem.toDS()).writeStream
        .format("memory").queryName("activity_sink").outputMode("update").start()
      val rows = Seq(
        (1L, "click"), (2L, "view"),            // batch 1
        (1L, "view"), (1L, "click"), (3L, "buy"), // batch 2
        (2L, "view"), (1L, "view"))             // batch 3: user 1 ties 2-2 -> "click"
      rows.grouped(2).foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      // update mode emits a snapshot per key per batch: keep the LAST
      val got = spark.table("activity_sink")
        .as[(Long, Long, Long, String)].collect()
        .zipWithIndex.groupBy(_._1._1).view
        .mapValues(_.maxBy(_._2)._1).values.toSet
      val want = rows.groupBy(_._1).map { case (u, rs) =>
        val byT = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val top = byT.toSeq.minBy { case (t, c) => (-c, t) }._1
        (u, rs.size.toLong, byT.size.toLong, top)
      }.toSet
      assert(got == want, s"$got != $want")
      // user 1's count state crossed batches: snapshots 1 -> 3 -> 4
      val u1 = spark.table("activity_sink")
        .as[(Long, Long, Long, String)].collect().filter(_._1 == 1L).map(_._2).toSeq
      assert(u1 == Seq(1L, 3L, 4L), s"expected incremental snapshots, got $u1")
    }
  }

  test("X33 transformWithState TTL: idle key's state is evicted between batches") {
    implicit val sqlCtx = spark.sqlContext
    // NOTE: with TimeMode.ProcessingTime the engine schedules micro-
    // batches continuously (shouldRunAnotherBatch stays true so TTL /
    // timers can advance on a no-data batch), which means noNewData is
    // never latched and processAllAvailable() NEVER RETURNS for this
    // query shape. The test must poll the sink for the expected row
    // count instead — and the trigger is throttled so the idle-spin
    // between events is a few batches, not thousands.
    Sessions.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "4") {
      val mem = MemoryStream[(Long, String)]
      // TTL long enough that the first two events land inside it even on
      // a loaded box (batches fire every 250 ms), short enough to sleep past
      val ttl = java.time.Duration.ofSeconds(8)
      val q = StreamingOps.userActivityTtl(mem.toDS(), ttl).writeStream
        .format("memory").queryName("activity_ttl_sink").outputMode("update")
        .trigger(Trigger.ProcessingTime(250)).start()
      def sinkAfter(n: Int): Seq[(Long, Long, Long, String)] = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var rows = Seq.empty[(Long, Long, Long, String)]
        while (rows.size < n && System.nanoTime() < deadline) {
          Thread.sleep(100)
          rows = spark.table("activity_ttl_sink")
            .as[(Long, Long, Long, String)].collect().toSeq
        }
        rows
      }
      mem.addData(Seq((1L, "click"))); sinkAfter(1)   // t0: write state
      mem.addData(Seq((1L, "view")));  sinkAfter(2)   // < TTL: accumulates
      Thread.sleep(ttl.toMillis + 2000)               // let user 1 expire
      mem.addData(Seq((1L, "buy")))                   // > TTL: cold start
      val snaps = sinkAfter(3)
      q.stop()
      // within TTL the ValueState AND MapState carried over (n 1 -> 2);
      // past TTL both were evicted — the third snapshot restarts at
      // n_events=1 with ONLY the new type (2/"click" would mean the
      // expired value was served)
      assert(snaps == Seq((1L, 1L, 1L, "click"), (1L, 2L, 2L, "click"),
        (1L, 1L, 1L, "buy")), s"TTL eviction not observed: $snaps")
    }
  }

  test("X33 batch form: registry query is re-runnable (coordinator bootstrap is idempotent)") {
    // the bench executes every registry fn 4x in one session, and this
    // session has already run streaming queries (coordinator exists) —
    // both paths of StateStoreBootstrap.ensureCoordinator must be safe
    val fn = SparkEntry.queries("user_activity_tws")
    val a = fn(spark, SparkTestSession.sf0001).collect()
    val b = fn(spark, SparkTestSession.sf0001).collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("G23+ custom state (mapGroupsWithState): multi-batch stream == batch, incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)] // (user_id, ts_us, value)
    val q = StreamingOps.userProfiles(mem.toDS()).writeStream
      .format("memory").queryName("profile_sink").outputMode("update").start()
    val rows = Seq(
      (1L, 1000L, 2.0), (2L, 1500L, 3.0), // batch 1
      (1L, 500L, 1.0), (3L, 2000L, 5.0),  // batch 2: user 1 gets earlier first_ts
      (1L, 3000L, 4.0), (2L, 100L, 7.0))  // batch 3
    rows.grouped(2).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // snapshots accumulate per batch in update mode: keep the LAST per user
    val got = spark.table("profile_sink")
      .as[(Long, Long, Double, Long, Long)].collect()
      .zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1).values.toSet
    val want = rows.groupBy(_._1).map { case (u, rs) =>
      (u, rs.size.toLong, rs.map(_._3).sum, rs.map(_._2).min, rs.map(_._2).max)
    }.toSet
    assert(got == want)
    // user 1's state crossed all three batches (n grew 1 -> 2 -> 3)
    val u1 = spark.table("profile_sink").as[(Long, Long, Double, Long, Long)]
      .collect().filter(_._1 == 1L).map(_._2).toSeq
    assert(u1 == Seq(1L, 2L, 3L), s"expected incremental snapshots, got $u1")
    // and the same function on a BATCH Dataset gives the same final profiles
    val batch = StreamingOps.userProfiles(rows.toDS())
      .as[(Long, Long, Double, Long, Long)].collect().toSet
    assert(batch == want)
  }

  test("X81 streaming near-dup screen: verdicts == brute force over the evolving index; replay idempotent") {
    val base = SparkTestSession.tempDir("graft-neardup-stream")
    val idx = base.resolve("index").toString
    val vd = base.resolve("verdicts").toString
    val ckpt = base.resolve("ckpt").toString
    val theta = 0.6

    // independent brute-force model of the screen (TextFns semantics
    // re-derived in plain Scala, incl. the round-to-9 before compare)
    def shingle(text: String): Set[String] = {
      val toks = text.toLowerCase.replaceAll("[^a-z0-9\\s]+", "")
        .split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    def isDup(s: Set[String], corpus: Iterable[Set[String]]): Boolean =
      s.nonEmpty && corpus.exists { c =>
        val i = (s & c).size.toDouble
        c.nonEmpty && math.rint(i / (s.size + c.size - i) * 1e9) / 1e9 >= theta
      }

    def words(seed: Int, n: Int): String =
      (0 until n).map(j => s"w${(seed * 37 + j * 11) % 197}").mkString(" ")
    val corpus: Seq[(Long, String)] =
      (0 until 10).map(i => (i.toLong, words(i, 12)))
    def truncated(t: String) = t.split(" ").take(9).mkString(" ")

    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(100L -> truncated(corpus(0)._2),  // dup of corpus doc 0
        101L -> words(50, 12),              // novel -> joins the index
        102L -> words(61, 12),              // novel
        103L -> "one two"),                 // sub-3-token: trivially novel
      Seq(200L -> corpus(1)._2,             // verbatim dup of corpus doc 1
        201L -> words(50, 12),              // dup of ACCEPTED batch-0 doc 101
        202L -> words(72, 12)),             // novel
      Seq(300L -> truncated(words(61, 12)), // dup of accepted batch-0 doc 102
        301L -> "three four",               // sub-3-token again: novel
        302L -> words(83, 12)))             // novel

    StreamingOps.seedNearDupIndex(corpus.toDF("doc_id", "text"), idx)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    def runOnce(): Unit = {
      val q = StreamingOps.nearDupScreenStream(
        mem.toDF().toDF("doc_id", "text"), idx, vd, ckpt, theta)
      q.awaitTermination(120000)
    }
    batches.foreach { b => mem.addData(b); runOnce() }

    // brute-force replay: screen each batch against the model corpus,
    // admitting novel non-empty shingle sets before the next batch
    var model = corpus.map(d => shingle(d._2)).filter(_.nonEmpty)
    val want = batches.map { b =>
      val verdicts = b.map { case (id, t) => id -> isDup(shingle(t), model) }.toMap
      model = model ++ b.collect {
        case (id, t) if !verdicts(id) && shingle(t).nonEmpty => shingle(t)
      }
      verdicts
    }
    def gotBatch(i: Int): Map[Long, Boolean] =
      spark.read.parquet(vd).filter(col("ingest_batch") === i)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0 until 3).foreach { i =>
      assert(gotBatch(i) == want(i), s"batch $i verdicts diverge from brute force")
    }
    // the evolution property specifically: 201/300 match docs that were
    // NOT in the seeded corpus, only in earlier accepted batches
    assert(gotBatch(1)(201L) && gotBatch(2)(300L))
    // every verdict covers every batch doc exactly once
    assert(spark.read.parquet(vd).count() == batches.map(_.size).sum)

    // REPLAY batch 1 directly (same batchId), with the index already
    // containing batch 2's rows: the <batchId filter must pin the view,
    // and both partition overwrites must reproduce identical content
    def snap(dir: String, b: Int): Seq[String] =
      spark.read.parquet(dir).filter(col("ingest_batch") === b)
        .collect().map(_.toString).sorted.toSeq
    val (v1, i1) = (snap(vd, 1), snap(idx, 1))
    StreamingOps.screenNearDupBatch(
      batches(1).toDF("doc_id", "text"), 1L, idx, vd, theta)
    assert(snap(vd, 1) == v1, "verdict partition changed on replay")
    assert(snap(idx, 1) == i1, "index partition changed on replay")
    // and the stream's verdicts for batch 1 equal the pure batch form
    // of the same screen (shared code path, independent invocation)
    val batchForm = operators.NearDup.nearDupVerdicts(
      spark.read.parquet(idx).filter(col("ingest_batch") < 1)
        .select("doc_id", "s"),
      operators.NearDup.shingles3(batches(1).toDF("doc_id", "text")), theta)
      .collect().map(_.getLong(0)).toSet
    assert(want(1).filter(_._2).keySet == batchForm)
  }
}
