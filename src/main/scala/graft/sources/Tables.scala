package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operator inputs come through here so scan behavior is uniform:
  * a parquet scan — vectorized columnar reads, predicate pushdown and
  * column pruning for free, which is the 100 TB-posture scan we want
  * (SURVEY.md §4.2) — over a schema given up front ([[schemaOf]]).
  *
  * Schema rule: a table's schema is exactly what `spark.read.parquet`
  * infers, resolved once per [[graft.Memo]] key — every input file's
  * (path, size, mtime) plus the session's explicitly set confs whose key
  * contains `parquet` (`spark.sql.legacy.parquet.nanosAsLong` and
  * `spark.sql.parquet.inferTimestampNTZ.enabled` both change the type of
  * `events.ts`; `spark.sql.parquet.aggregatePushdown` never changes a
  * schema and is left out). Inference is a footer-reading Spark job, so
  * a warm load or [[registerViews]] starts none; an in-place regen or a
  * conf flip re-infers. No schema is hard-coded.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Event-time columns per table. Every one is normalized to
    * session-zone TimestampType at load (see [[normalizeTs]]) — the r07
    * fixture regeneration flipped `events.ts` between parquet timestamp
    * encodings and took out every consumer of the table, so no loader
    * may assume an on-disk encoding for ANY time column. */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    tsColumns.getOrElse(name, Nil)
      .foldLeft(spark.read.schema(schemaOf(spark, path)).parquet(path))(normalizeTs)
  }

  /** The schema `spark.read.parquet(path)` infers, under the object
    * doc's schema rule. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType =
    schemaOf(spark, path, spark.read.parquet(path).schema)

  /** [[schemaOf]] with `infer` in place of inference, for a writer that
    * knows what it wrote ([[graft.Indexes]]): it must equal inference. */
  private[graft] def schemaOf(spark: SparkSession, path: String, infer: => StructType): StructType =
    graft.Memo(Seq(path), "schema", spark.conf.getAll.filter { case (k, _) =>
      k.contains("parquet") && k != "spark.sql.parquet.aggregatePushdown" }.toSeq.sorted)(infer)

  /** Opt-in spread loader: [[apply]] plus [[spread]]. For queries whose
    * FIRST post-scan operator is itself an exchange (joins, windows,
    * shuffling aggregations), the exchange already distributes the work
    * and an extra round-robin pass only adds a serialization of the
    * table — measured +0.3–0.45 s on window_running / join_left_outer.
    * Those call sites stay on [[apply]]; call this one only where heavy
    * per-row work (explodes, wide projections, Expand, JSON parsing)
    * would otherwise fuse onto the scan task — measured −25…−52 % on
    * profile_columns / math_functions / feature_scale / dup_spans_scrub
    * at sf0.1 / 32 cores. */
  def spread(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spread(spark, apply(spark, sfDir, name), s"$sfDir/$name.parquet")

  /** Scale-adaptive read parallelism (optimization guide §2.5: "one huge
    * unsplittable file — repartition immediately after the read").
    *
    * The driver fixtures are ONE parquet file with ONE row group per
    * table, and a row group is the vectorized reader's atomic unit — so
    * no split-size config can give the scan more than one useful task,
    * and everything Spark fuses onto the scan (explodes, projections,
    * partial aggregates: measured 3.9 s of the 4.7 s profile_columns
    * wall, 0.7 s gram explodes in dup_spans) runs on ONE of the
    * session's cores. A round-robin repartition right after the read
    * moves that work onto every core for the one-time cost of shuffling
    * the (column-pruned, filter-reduced — both push below Repartition)
    * scan output once.
    *
    * The gate derives from input size, not from the local core count:
    * when the file layout itself can feed at least as many splits as
    * there are cores (bytes / maxPartitionBytes ≥ cores — any healthy
    * multi-row-group table at scale), the repartition is a no-op skip,
    * so at 100 TB this never inserts a shuffle. Tiny inputs (< 256 KB)
    * are also skipped: their scan is microseconds and the exchange
    * would be pure stage-latency overhead. */
  /** Total on-disk bytes under a fixture path — recursive (a
    * partitioned dataset keeps its files in subdirectories; a
    * non-recursive list undercounted it, r18 ADVICE), NonFatal-guarded
    * (never swallow OutOfMemoryError/InterruptedException), unknown →
    * Long.MaxValue so size-gated callers fail SAFE (skip the spread,
    * skip the broadcast). Shared by the spread gate and by size-gated
    * broadcast estimates that need a data-derived upper bound rather
    * than a constant tuned to one scale factor. */
  private[graft] def fileBytes(path: String): Long =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally s.close()
      } else java.nio.file.Files.size(p)
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  private def spread(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val bytes = fileBytes(path)
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.conf.get("spark.sql.files.maxPartitionBytes", s"${128L << 20}")
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(maxSplit)
    val naturalSplits = math.max(1L, (bytes + splitBytes - 1) / splitBytes)
    // bytes/maxPartitionBytes over-estimates splittability for large
    // SINGLE-row-group files (a row group is the vectorized reader's
    // atomic unit — the documented pathology this loader exists for, r18
    // ADVICE): clamp by the actual row-group count from the parquet
    // footers. Footer reads are metadata-only, memoized, and skipped for
    // many-file layouts (file count already parallelizes).
    val effectiveSplits = rowGroupCount(path).fold(naturalSplits)(math.min(naturalSplits, _))
    if (bytes < (256L << 10) || effectiveSplits >= cores) df
    else df.repartition(cores)
  }

  /** Total parquet row groups under `path`, from footer metadata —
    * None when unknown (unreadable, or more files than worth probing:
    * past `MaxFooterProbes` files the file count itself feeds the scan
    * enough splits and the byte gate is accurate). Memoized under the
    * [[graft.Memo]] rule. */
  private val MaxFooterProbes = 64

  private def rowGroupCount(path: String): Option[Long] =
    graft.Memo(Seq(path), "rowGroups") {
      try {
        val p = java.nio.file.Paths.get(path)
        val files: Seq[java.nio.file.Path] =
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.walk(p)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.filter(f =>
                java.nio.file.Files.isRegularFile(f) &&
                  f.getFileName.toString.endsWith(".parquet")).toList
            } finally s.close()
          } else Seq(p)
        if (files.isEmpty || files.size > MaxFooterProbes) None
        else {
          val conf = new org.apache.hadoop.conf.Configuration()
          var total = 0L
          files.foreach { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toUri), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try total += r.getRowGroups.size.toLong finally r.close()
          }
          Some(total)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** `events` needs no special handling beyond [[apply]]'s time-column
    * normalization; kept as a named loader like its siblings. */
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")

  /** Normalize one event-time column to session-zone TimestampType at
    * microsecond precision, whatever encoding the file shipped with.
    * Time columns have arrived under two parquet encodings across
    * fixture generations — TIMESTAMP(NANOS), which Spark's reader only
    * accepts as a raw nanos BIGINT under
    * spark.sql.legacy.parquet.nanosAsLong=true, and TIMESTAMP(MICROS)
    * with no UTC adjustment, which Spark infers as TIMESTAMP_NTZ — so
    * dispatch on the type the scan actually produced. DuckDB yields the
    * same microsecond wall-clock for every branch (it truncates nanos
    * on read), so the oracle sees identical values. Exposed package-wide
    * so per-file loads (e.g. unioning a mixed-encoding directory
    * file-by-file) reuse the exact same dispatch. */
  private[graft] def normalizeTs(raw: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
    raw.schema(c).dataType match {
      case LongType =>
        // nanos-as-long legacy read: truncate to micros. NANOS is the only
        // int64 unit any fixture generation has shipped; a micros- or
        // seconds-as-long regen would land here too and silently shift
        // every timestamp 1000x, so guard with a plausibility check:
        // after /1000 the value must be a micros epoch in [1990, 2100)
        // (fixture dates are 1992-2026; 1990 lower bound so a nanos regen
        // of the 1992-era TPC-H date columns stays legit — nanos vs
        // micros/seconds are 3 orders of magnitude apart, so wrong-unit
        // detection is unaffected). Wrong-unit regens fail loudly.
        //
        // The check is a LOAD-TIME invariant, not a row invariant (r09
        // verdict task 4): probe min/max ONCE per distinct scan at loader
        // build — parquet footer stats make this a metadata-only job —
        // instead of a per-row CASE+raise_error that every downstream
        // query re-evaluates on every scan of the column.
        //
        // Streaming inputs can't run a batch action (head() on a
        // streaming Dataset throws), and the files backing the column
        // arrive over the stream's lifetime anyway, so no one-shot probe
        // could cover them: keep the per-row CASE+raise_error guard
        // there. Streams are micro-batch-bounded, so the per-row cost is
        // noise next to state-store and sink I/O.
        if (raw.isStreaming) {
          raw.withColumn(c, expr(
            s"""CASE WHEN `$c` IS NULL THEN CAST(NULL AS TIMESTAMP)
               |WHEN `$c` div 1000 BETWEEN ${loBoundMicros}L AND ${hiBoundMicros}L
               |  THEN timestamp_micros(`$c` div 1000)
               |ELSE raise_error(concat('$c: int64 value ', CAST(`$c` AS STRING),
               |  ' is not a nanos epoch in [1990,2100) — fixture regen changed the long unit; update Tables.normalizeTs'))
               |END""".stripMargin))
        } else {
          probeLongUnit(raw, c)
          raw.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        }
      case TimestampNTZType => // micros, no UTC adjustment: same wall-clock under UTC session tz
        raw.withColumn(c, col(c).cast(TimestampType))
      case DateType => // date-typed regen: midnight wall-clock, same day boundaries
        raw.withColumn(c, col(c).cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"$c read as unsupported type $other; expected BIGINT (nanos), DATE, TIMESTAMP_NTZ or TIMESTAMP")
    }
  }

  private val loBoundMicros = 631152000000000L   // 1990-01-01 as micros
  private val hiBoundMicros = 4102444800000000L  // 2100-01-01 as micros

  /** Once-per-input wrong-unit probe for int64 time columns: every
    * query re-calls the loader, so the check runs under [[graft.Memo]]
    * keyed on the resolved input files and the column — zero jobs after
    * the first load of the same file versions. */
  private def probeLongUnit(raw: DataFrame, c: String): Unit = {
    val files = raw.inputFiles.sorted
    graft.Memo(files.toSeq, "longUnit", c) {
      val row = probeMinMax(raw, c, files)
      Seq(0, 1).foreach { i =>
        if (!row.isNullAt(i)) {
          val micros = row.getLong(i) / 1000L
          if (micros < loBoundMicros || micros > hiBoundMicros)
            throw new IllegalStateException(
              s"$c: int64 value ${row.getLong(i)} is not a nanos epoch in " +
                "[1990,2100) — fixture regen changed the long unit; " +
                "update Tables.normalizeTs")
        }
      }
    }
  }

  /** Min/max for the probe. Re-plans the scan over the same files inside
    * [[withAggPushdown]], so when the pushdown rule accepts the column
    * the probe is answered from footer statistics — `PushedAggregation`
    * in the scan, no data pages read. EventsEncodingSpec pins which of
    * the two plans a nanos-int64 column actually gets; if the rule
    * rejects it, the fallback cost is one column scan per input version,
    * which the memo bounds. Falls back to the caller's plan when the file
    * list is unavailable (e.g. a non-file relation in tests). */
  private def probeMinMax(raw: DataFrame, c: String, files: Seq[String]) = {
    val agg = Seq(s"min(`$c`) AS mn", s"max(`$c`) AS mx")
    if (files.isEmpty) raw.selectExpr(agg: _*).head()
    else withAggPushdown(raw.sparkSession)(
      raw.sparkSession.read.parquet(files: _*).selectExpr(agg: _*).head())
  }

  /** Runs `body` with parquet on the DSv2 path (v1 has no aggregate
    * pushdown) and aggregate pushdown on; execute inside, too. */
  private[graft] def withAggPushdown[T](s: SparkSession)(body: => T): T = {
    val v1Key = "spark.sql.sources.useV1SourceList"
    val v1 = s.conf.get(v1Key).split(",").map(_.trim).filter(_ != "parquet").mkString(",")
    graft.Sessions.withConf(s, v1Key -> v1, "spark.sql.parquet.aggregatePushdown" -> "true")(body)
  }

  /** Exposed for EventsEncodingSpec to pin the probe's actual plan:
    * builds the exact probe DataFrame (scoped confs applied by the
    * caller) so the spec can assert on `PushedAggregation`. */
  private[graft] def probePlanForSpec(s: SparkSession, files: Seq[String], c: String): DataFrame =
    s.read.parquet(files: _*).selectExpr(s"min(`$c`) AS mn", s"max(`$c`) AS mx")

  /** The events-specific entry older call sites and specs use. */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame =
    normalizeTs(raw, "ts")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register every table as a temp view (entry point B: SQL over views).
    * Views load through [[apply]], so the SQL surface sees the same
    * normalized microsecond timestamps as the DataFrame surface.
    *
    * Registration is fault-isolated per view: schema resolution is eager in
    * Spark, so one unreadable table (r07: a fixture-format change in
    * `events`) must not take down SQL queries that never touch it. A table
    * that fails to load is skipped (any stale prior registration dropped);
    * queries over it then fail at analysis with TABLE_OR_VIEW_NOT_FOUND
    * while every other view keeps working. Returns the per-table load
    * errors so callers can surface them. */
  def registerViews(spark: SparkSession, sfDir: String): Map[String, Throwable] =
    names.flatMap { n =>
      try {
        apply(spark, sfDir, n).createOrReplaceTempView(n)
        None
      } catch {
        case e: Exception =>
          spark.catalog.dropTempView(n)
          System.err.println(s"[Tables.registerViews] skipping view '$n': ${e.getMessage}")
          Some(n -> (e: Throwable))
      }
    }.toMap
}
