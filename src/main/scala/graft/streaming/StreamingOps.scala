package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Accumulator for [[StreamingOps.userProfiles]] — timestamps carried
  * as epoch micros so the state encoder is all primitives. */
case class ProfileState(n_events: Long, total_value: Double,
                        first_ts_us: Long, last_ts_us: Long)

/** Snapshot emitted by [[StreamingOps.userProfiles]] per key per
  * micro-batch (update mode): the profile as of that batch. */
case class UserProfile(user_id: Long, n_events: Long, total_value: Double,
                       first_ts_us: Long, last_ts_us: Long)

/** Open-session state for [[StreamingOps.sessionizeStateful]]
  * (primitives only, epoch micros). */
case class OpenSession(start_us: Long, last_us: Long, n: Long)

/** A CLOSED gap-session emitted by [[StreamingOps.sessionizeStateful]]:
  * [start, last + gap), event count. */
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                         n_events: Long)

/** Snapshot emitted by [[StreamingOps.userActivity]] per key per batch:
  * running totals plus the modal event type (lexicographic tiebreak). */
case class UserActivity(user_id: Long, n_events: Long, n_types: Long,
                        top_type: String)

/** X33: `transformWithState` processor (the Spark 4 arbitrary-state API)
  * holding TWO independent state variables per key — a ValueState running
  * total and a MapState of per-event-type counts. `mapGroupsWithState`
  * forces one monolithic state object per key (every update rewrites the
  * whole blob); here each variable reads/writes its own state-store
  * column family, so a high-cardinality map mutates one entry per event.
  * The default TTLConfig.NONE fits a bounded key domain (users); an
  * unbounded domain passes a real TTL so idle keys age out of RocksDB —
  * [[StreamingOps.userActivityTtl]] is that configuration (requires
  * TimeMode.ProcessingTime; StreamingSpec asserts a key's state is
  * evicted, not served, once its TTL elapses between batches). */
class ActivityProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, (Long, String), UserActivity] {
  @transient private var total: ValueState[Long] = _
  @transient private var byType: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    total = getHandle.getValueState[Long]("total", Encoders.scalaLong, ttl)
    byType = getHandle.getMapState[String, Long]("by_type",
      Encoders.STRING, Encoders.scalaLong, ttl)
  }

  override def handleInputRows(uid: Long, rows: Iterator[(Long, String)],
                               tv: TimerValues): Iterator[UserActivity] = {
    var n = if (total.exists()) total.get() else 0L
    rows.foreach { case (_, t) =>
      n += 1
      byType.updateValue(t,
        (if (byType.containsKey(t)) byType.getValue(t) else 0L) + 1L)
    }
    total.update(n)
    var nTypes = 0L
    var bt = ""
    var bc = -1L
    byType.iterator().foreach { case (t, c) =>
      nTypes += 1
      if (c > bc || (c == bc && t < bt)) { bt = t; bc = c }
    }
    Iterator.single(UserActivity(uid, n, nTypes, bt))
  }
}

/** Structured Streaming surface over `events` (SURVEY.md §2b G21–G23,
  * entry point C of §3.4).
  *
  * Every transform here is defined on an UNBOUNDED DataFrame and reuses
  * the same Catalyst expressions as the batch path — batch/stream
  * equivalence is asserted in StreamingSpec by running each transform
  * both ways over the same parquet. State management prefers built-ins
  * (windowed aggregation state + `dropDuplicatesWithinWatermark`), per
  * the SURVEY §7 watch-list; the custom-state APIs appear exactly where
  * no built-in expresses the shape — [[userProfiles]] (arbitrary
  * accumulator, mapGroupsWithState) and [[sessionizeStateful]]
  * (multi-row closed-session emission, flatMapGroupsWithState).
  *
  * Scale posture: streaming state is keyed by (window, key) — the state
  * store shards by key hash across partitions exactly like a batch
  * shuffle; watermarks bound state size (windows older than
  * watermark − lateness are evicted every micro-batch).
  */
object StreamingOps {

  /** G21: rate-limited streaming ingest of the events parquet —
    * micro-batches of ≤ `maxFilesPerTrigger` files.
    *
    * The file stream source needs a DECLARED schema, but `events.ts`
    * has shipped as both TIMESTAMP(NANOS) (read as nanos int64 under
    * the legacy flag) and TIMESTAMP(MICROS)/NTZ across fixture
    * generations. Probe the encoding with one batch footer read of the
    * same glob — exactly what the files already on disk decode to —
    * then declare that schema for the stream and normalize `ts` through
    * the SAME dispatch as the batch loader (Tables.normalizeEventsTs),
    * so stream and batch surfaces agree byte-for-byte whichever
    * encoding the directory holds. */
  def readEventsStream(spark: SparkSession, sfDir: String,
                       maxFilesPerTrigger: Int = 1): DataFrame = {
    val glob = s"$sfDir/events*.parquet"
    // The probe freezes ONE encoding for the stream's lifetime: files
    // later landing in the OTHER encoding (a mid-stream fixture regen)
    // would fail or misparse. That trade is deliberate — a mixed-encoding
    // directory is a broken ingest contract, and freezing on first sight
    // fails loudly rather than silently blending units. When the glob
    // matches nothing yet (stream defined before the first file lands —
    // the production ingest shape) there is nothing to probe, so fall
    // back to the current fixtures' declared shape (micros timestamp).
    val asRead =
      try spark.read.parquet(glob).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
               e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          defaultEventsSchema
      }
    Tables.normalizeEventsTs(
      spark.readStream
        .schema(asRead)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        // glob, not a bare file path: the file stream source requires its
        // basePath to be a directory (new files matching the pattern are
        // picked up as they land)
        .parquet(glob))
  }

  /** Declared schema for `events` when no file exists to probe: the
    * current fixture generation's shape (TIMESTAMP(MICROS), read as NTZ
    * by Spark's no-UTC-adjustment inference — normalizeEventsTs casts it
    * to session-zone micros, same as the probed path would). */
  private[graft] val defaultEventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** G21+: UNBOUNDED synthetic event stream from Spark's rate source —
    * the soak-test entry for the state-store paths, where the file
    * source's fixed backlog can't exercise long-running state growth/
    * eviction. Shape matches the events table (ts, user_id, event_type,
    * value) so every windowed/stateful operator consumes it unchanged;
    * `nUsers`-scale key cardinality drives real state churn. */
  def rateEvents(spark: SparkSession, rowsPerSecond: Int = 500, nUsers: Int = 64): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .load() // (timestamp, value)
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(nUsers.toLong)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (pmod(col("value"), lit(3L)) + 1).cast("int")).as("event_type"),
        (pmod(col("value"), lit(1000L)) / lit(100.0)).as("value"))

  /** G22: tumbling 1-hour windows per event type, 2-hour watermark.
    * Works unchanged on batch input (window() is the same expression). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** G22: sliding 1-hour windows every 30 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("approx_users"))

  /** G22: session windows — 30-minute inactivity gap per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** G21+G24: append a stream to parquet files with exactly-once file
    * commits via the checkpointed write-ahead log — the durable landing
    * path of a streaming ingest (restart-safe: offsets + file manifest
    * live in the checkpoint). */
  def writeStreamParquet(df: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** G22+: stream-stream inner join — purchases matched to the same
    * user's clicks from the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so each side's
    * buffered state is evicted once the other side's watermark passes
    * (unbounded-state-safe, the stream-stream join contract). Works
    * identically on batch inputs (same expressions; the time-range
    * predicate becomes a plain theta join). */
  def purchaseClickJoin(events: DataFrame): DataFrame =
    purchaseClickJoinOfType(events, "inner")

  /** G30+: the LEFT OUTER form — purchases with NO preceding-hour click
    * are still emitted, click columns NULL. In streaming, the engine
    * holds an unmatched purchase in state until BOTH watermarks pass its
    * join window (only then is "no match can still arrive" provable),
    * and emits the null-padded row at that point — so outer results
    * trail the inner ones by the watermark delay by design. Same state
    * eviction bound as the inner join; identical expressions run in
    * batch, where the deferral disappears. */
  def purchaseClickLeftJoin(events: DataFrame): DataFrame =
    purchaseClickJoinOfType(events, "leftOuter")

  private def purchaseClickJoinOfType(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("click_user")
        && col("click_ts") <= col("purchase_ts")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  /** G23+: custom per-key state via `mapGroupsWithState` — the one
    * stateful shape no built-in expresses: an arbitrary user-defined
    * accumulator updated incrementally per micro-batch. Here it is a
    * per-user profile (event count, total value, first/last seen) whose
    * fresh snapshot is emitted in UPDATE mode each batch the key
    * appears. The same function runs on a batch Dataset (one batch,
    * empty initial state), so batch ≡ stream is testable row-for-row.
    *
    * Scale posture: state lives in the per-partition state store keyed
    * by user hash — sharded exactly like a keyed shuffle, no driver
    * state. Key cardinality (users) bounds the store; an unbounded key
    * domain would instead use `GroupStateTimeout.EventTimeTimeout` with
    * the input's watermark to evict idle keys.
    *
    * Input: (user_id, ts epoch-micros, value) — see the call sites in
    * StreamingSpec for the adapter off the events schema. */
  def userProfiles(events: Dataset[(Long, Long, Double)]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[ProfileState, UserProfile](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Double)], st: GroupState[ProfileState]) =>
          var s = st.getOption.getOrElse(
            ProfileState(0L, 0.0, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, tsUs, v) =>
            s = ProfileState(s.n_events + 1, s.total_value + v,
              math.min(s.first_ts_us, tsUs), math.max(s.last_ts_us, tsUs))
          }
          st.update(s)
          UserProfile(uid, s.n_events, s.total_value, s.first_ts_us, s.last_ts_us)
      }
  }

  /** G23+: gap sessionization via `flatMapGroupsWithState` — the
    * multi-row-emission stateful shape (`mapGroupsWithState` emits
    * exactly one row per key per batch; a key can close SEVERAL
    * sessions in one batch, and zero in most). Built-in
    * `session_window` covers the aggregate form (see [[sessionCounts]]);
    * this is the custom-state form a pipeline needs when the session
    * record itself is user-defined (here: [start, last+gap) bounds and
    * event count, extensible to arbitrary accumulators).
    *
    * Mechanics: state = the key's one open session. Events in each
    * batch are sorted by event time and folded in; a gap > `gap` closes
    * the open session (emitted downstream) and starts a new one. The
    * surviving open session registers an event-time timeout at
    * `last + gap` — when the watermark passes it, the session provably
    * cannot extend (later rows would be late-dropped), so the timeout
    * path emits it and clears state. Exactly the built-in's eviction
    * rule, expressed through the public state API.
    *
    * Scale posture: state is one fixed-size record per ACTIVE key,
    * sharded by key hash across the state store; watermark timeouts
    * bound the active set. Rows older than the watermark are dropped
    * before the function runs (standard late-data contract).
    *
    * Input: (user_id, ts) with `ts` a timestamp column; caller applies
    * `withWatermark` on `ts` (required for EventTimeTimeout). */
  def sessionizeStateful(events: Dataset[(Long, java.sql.Timestamp)],
                         gapUs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         st: GroupState[OpenSession]) =>
          if (st.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val s = st.get
            st.remove()
            Iterator.single(ClosedSession(uid, s.start_us, s.last_us + gapUs, s.n))
          } else {
            // The 10x StreamSoak falsified the "late rows are dropped
            // before the function runs" assumption this code shipped
            // with: when micro-batches deliver files in non-time order,
            // rows older than the watermark DO reach the function (and
            // a state entry's last+gap can fall behind the advancing
            // watermark), so the blind setTimeoutTimestamp(last+gap)
            // threw "cannot be earlier than the current watermark".
            // Enforce the documented watermark contract explicitly:
            //  (1) drop rows below the watermark (exactly what the
            //      built-in session_window operator does with them);
            //  (2) if the surviving session's last+gap is still behind
            //      the watermark (possible only via old STATE, whose
            //      rows predate this batch), close it NOW — the
            //      watermark position is the proof it is final: any
            //      future non-late row has ts >= wm > last+gap and so
            //      must open a NEW session. Same ClosedSession the
            //      timeout would have emitted, just not deferred.
            //      (Strictly behind: at wm == last+gap, ms-flooring of
            //      the close timestamp means a µs-precision row could
            //      still merge, so we defer to the timeout exactly.)
            // Batch runs (the oracled form) have no watermark
            // (getCurrentWatermarkMs throws): treat as -inf, keeping
            // every row and the pure timeout path — oracle unchanged.
            val wmMs = try st.getCurrentWatermarkMs()
                       catch { case _: UnsupportedOperationException => Long.MinValue }
            val wmUs = if (wmMs == Long.MinValue) Long.MinValue else wmMs * 1000L
            // full-precision micros: getTime is ms-truncated, getNanos
            // carries the complete fractional second (events.ts is µs)
            val tsUs = rows.map { case (_, t) =>
              Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            }.filter(_ >= wmUs).toArray.sorted
            val closed = Seq.newBuilder[ClosedSession]
            var cur = st.getOption
            tsUs.foreach { t =>
              cur match {
                // strict <: a gap of EXACTLY `gap` starts a new session,
                // matching built-in session_window's [start, last+gap)
                // half-open merge rule (see time_window_session's oracle)
                case Some(s) if t - s.last_us < gapUs =>
                  cur = Some(OpenSession(s.start_us, math.max(s.last_us, t), s.n + 1))
                case Some(s) =>
                  closed += ClosedSession(uid, s.start_us, s.last_us + gapUs, s.n)
                  cur = Some(OpenSession(t, t, 1L))
                case None =>
                  cur = Some(OpenSession(t, t, 1L))
              }
            }
            cur.foreach { s =>
              val closeAtMs = s.last_us / 1000L + gapUs / 1000L
              // strict >: setTimeoutTimestamp(closeAtMs) is legal at
              // wm == closeAtMs and the timeout only fires once the
              // watermark strictly exceeds it. With µs event times and
              // a ms-floored closeAtMs, a non-late row at equality can
              // still extend the session — closing here would split it.
              if (wmMs > closeAtMs) {
                if (st.exists) st.remove()
                closed += ClosedSession(uid, s.start_us, s.last_us + gapUs, s.n)
              } else {
                st.update(s)
                // timeout fires once watermark > last+gap (ms precision)
                st.setTimeoutTimestamp(closeAtMs)
              }
            }
            closed.result().iterator
          }
      }
  }

  /** X33: per-user activity profile via `transformWithState` — see
    * [[ActivityProcessor]]. Streaming runs need the RocksDB state store
    * provider (the only provider the API supports); the same call works
    * on a batch Dataset (one batch over empty state).
    *
    * Input: (user_id, event_type). Update-mode snapshots per batch. */
  def userActivity(events: Dataset[(Long, String)]): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new ActivityProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** X33 with state TTL (VERDICT r05 task 6): the unbounded-key-domain
    * configuration of [[ActivityProcessor]] — every state variable
    * expires `ttl` after its last write, so an idle key's RocksDB
    * footprint is reclaimed instead of growing with the key universe.
    * A key seen again after its TTL restarts from empty state (the
    * correct read: its profile went cold, not "resumed"). TTL is
    * processing-time-based, hence TimeMode.ProcessingTime.
    *
    * MEASURED PRICE of the TTL configuration (10x soak, 1M events /
    * 15k users, STREAM_SOAK r13): ~2x the non-TTL variant's streaming
    * work time and ~7x its reported state bytes. Both are the TTL
    * bookkeeping RocksDB must carry per state variable: every write
    * also upserts a TTL-index entry ((expiry, key) ordering) and a
    * per-key min-expiry record — for this processor's small values
    * (two longs + a map entry per event type) those secondary column
    * families rival the primary state itself, and every data batch in
    * TimeMode.ProcessingTime additionally runs the expired-state sweep.
    * The r12 soak's headline "74.2 s vs 5.4 s" was NOT this price: 64 s
    * of it was the scenario's mandatory wall-clock expiry sleep, which
    * the soak now reports separately (`ttl_sleep_s`) instead of folding
    * into the operator's seconds. */
  def userActivityTtl(events: Dataset[(Long, String)],
                      ttl: java.time.Duration): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new ActivityProcessor(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** G23: stateful streaming dedup by event_id within the watermark —
    * exactly-once semantics for at-least-once sources whose duplicates
    * arrive within the lateness bound (state is evicted past it, unlike
    * plain dropDuplicates whose state grows forever). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** X36+/G24: STREAMING CDC APPLY — each micro-batch of change rows
    * (k, v, ts) is MERGED (upsert, last-writer-wins by ts then v) into
    * a parquet snapshot via `foreachBatch` (X59), the lakehouse ingestion
    * shape when the sink has no native MERGE. Batch-local dedup first
    * (max-struct per key — an aggregation, no window), then a full-outer
    * apply against the current snapshot, written to a temp dir and
    * swapped in (never overwrite-while-reading the same path).
    *
    * Restart safety: the checkpoint replays at-least-once, and the
    * apply is IDEMPOTENT — re-merging an already-applied batch changes
    * nothing (upsert of identical rows), so replays converge. At
    * cluster scale the snapshot is a table format with real MERGE/ACID;
    * the per-batch plan (dedup agg + keyed full-outer join) is
    * identical there. */
  def cdcApplyStream(changes: DataFrame, snapshotDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdcBatch(batch, snapshotDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** One CDC merge: see [[cdcApplyStream]]. Public so the batch path
    * (and tests) can apply the identical logic. */
  def applyCdcBatch(batch: DataFrame, snapshotDir: String): Unit = {
    val spark = batch.sparkSession
    // last change per key within the batch: max of (ts, v) — the same
    // deterministic argmax convention as attribution/first-per-key
    val dedup = batch
      .groupBy(col("k"))
      .agg(max(struct(col("ts"), col("v"))).as("m"))
      .select(col("k").as("ck"), col("m.v").as("cv"), col("m.ts").as("cts"))
    if (dedup.isEmpty) return // empty trigger: nothing to merge
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = path.getFileSystem(conf)
    val merged =
      if (!fs.exists(path)) dedup.select(col("ck").as("k"), col("cv").as("v"), col("cts").as("ts"))
      else spark.read.parquet(snapshotDir)
        .join(dedup, col("k") === col("ck"), "full_outer")
        .select(coalesce(col("k"), col("ck")).as("k"),
          coalesce(col("cv"), col("v")).as("v"),
          coalesce(col("cts"), col("ts")).as("ts"))
    val tmp = new org.apache.hadoop.fs.Path(snapshotDir + ".tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(path)) fs.delete(path, true)
    fs.rename(tmp, path)
  }

  /** X81: STREAMING near-dup ingest screen — the streaming form of
    * X50's `dedup_incremental_simjoin` (the two machines composed, per
    * the r11 verdict: the X50 prefix-filter screen riding the X59
    * foreachBatch idempotent-apply shape). Each micro-batch of
    * documents (doc_id, text) is screened against the PERSISTED corpus
    * shingle index by the exact R-S prefix-filtered set-similarity
    * join ([[graft.operators.NearDup.nearDupVerdicts]] — the verbatim
    * batch code path), verdicts land under
    * `verdictDir/ingest_batch=<id>/`, and the batch's NOVEL docs'
    * shingle sets are appended to the index under
    * `indexDir/ingest_batch=<id>/` so later batches screen against
    * them.
    *
    * Replay idempotence (the X59 lesson, adapted): foreachBatch replays
    * a failed batch with the SAME batchId, so (1) the corpus read
    * filters `ingest_batch < batchId` — a replay screens against
    * exactly the index prefix the first attempt saw, even if that
    * attempt's own index rows were already written; (2) both writes
    * overwrite their single `ingest_batch=<id>` partition directory —
    * re-running produces byte-identical content in place, never
    * duplicate rows. Verdicts are therefore a pure function of
    * (batch data, batchId, index prefix), which is what the spec
    * asserts by re-applying a batch and diffing.
    *
    * 100 TB posture: the index is the production artifact (per-doc
    * distinct shingle sets, partitioned by ingest batch — prunable,
    * compactable); each micro-batch's work is the batch screen's own
    * linear-in-batch cost, and the corpus side is only ever equi-joined
    * on prefix grams, never re-paired against itself. The global
    * rarity order is recomputed over corpus ∪ batch per trigger (one
    * hash agg over the index) — at warehouse scale that frequency
    * table would itself be the maintained artifact (X74's incremental
    * agg merge is the machinery), noted here rather than built twice. */
  def nearDupScreenStream(docs: DataFrame, indexDir: String,
                          verdictDir: String, checkpoint: String,
                          theta: Double = 0.6)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenNearDupBatch(batch, batchId, indexDir, verdictDir, theta)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Seed the [[nearDupScreenStream]] index with a pre-existing corpus:
    * its shingle sets land under `ingest_batch=-1`, strictly before
    * every stream batch id (foreachBatch ids start at 0). */
  def seedNearDupIndex(corpus: DataFrame, indexDir: String): Unit =
    graft.operators.NearDup.shingles3(corpus)
      .write.mode("overwrite").parquet(s"$indexDir/ingest_batch=-1")

  /** One micro-batch of [[nearDupScreenStream]]: screen, write
    * verdicts, admit novel docs to the index. Public so tests can
    * replay a batch directly and assert idempotence. */
  def screenNearDupBatch(batch: DataFrame, batchId: Long, indexDir: String,
                         verdictDir: String, theta: Double): Unit = {
    val spark = batch.sparkSession
    // materialize once: shingling feeds the screen (both join sides via
    // nearDupVerdicts' own checkpoint), the verdict join, and the index
    // append — and a memory-stream batch re-evaluates per action
    val bsh = graft.operators.Materialize(graft.operators.NearDup.shingles3(batch))
    val conf = spark.sparkContext.hadoopConfiguration
    val idxPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idxPath.getFileSystem(conf)
    val corpusSh =
      if (fs.exists(idxPath))
        spark.read.parquet(indexDir)
          .filter(col("ingest_batch") < batchId)
          .select(col("doc_id"), col("s"))
      else bsh.limit(0).select(col("doc_id"), col("s"))
    // two consumers: verdict join + index anti-join
    val dups = graft.operators.Materialize(
      graft.operators.NearDup.nearDupVerdicts(corpusSh, bsh, theta))
    // verdict covers EVERY batch doc, including sub-3-token ones the
    // shingler drops (they are trivially novel)
    batch.select(col("doc_id")).distinct()
      .join(dups.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .write.mode("overwrite").parquet(s"$verdictDir/ingest_batch=$batchId")
    bsh.join(dups, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$indexDir/ingest_batch=$batchId")
  }

  /** G22++: STREAM-STATIC enrichment — every event decorated with its
    * user's customer→nation dimension attributes, the lookup-join shape
    * of every production clickstream pipeline (the static side is a
    * dimension table; the planner broadcasts it and re-resolves the
    * relation per micro-batch, so a dimension refresh is picked up
    * without restarting the query). Stateless (no watermark needed —
    * nothing buffers), append-safe, and the IDENTICAL expressions run
    * on a batch DataFrame for the oracled registry form.
    *
    * LEFT join: an event from an unknown user must survive enrichment
    * (dropping telemetry on a dimension miss is a silent-loss bug). */
  def enrichEvents(events: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"), "left")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("n_name").as("nation"))
}
