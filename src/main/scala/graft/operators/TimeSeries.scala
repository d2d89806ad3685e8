package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series window shapes (X40), beyond the row-frame windows of
  * `Windows.scala`: TIME-RANGE frames (the frame is an interval of
  * event time, not a row count — 7 calendar days of orders regardless of
  * how many orders landed in them) and DATE-SPINE GAP FILL (densify a
  * sparse per-key daily series to one row per calendar day, carrying the
  * last observation forward — the feature-engineering step that turns
  * irregular transactions into the regular grid a training pipeline
  * windows over).
  *
  * Scale posture: both are single hash-shuffle window operators
  * partitioned by customer (high cardinality — tasks bound by per-key
  * history, same argument as `Windows.scala`). The spine explode
  * multiplies rows by each key's day-span, not the table size, so the
  * fill is scoped to a reporting window that caps the span per key
  * (31 days here); generation is scan-local (`sequence()` per key, no
  * driver-side calendar, no join against a global date dimension that
  * would need its own broadcast).
  */
object TimeSeries {

  def all: Seq[Q] = Seq(

    // X40c: classical seasonal decomposition of the daily order-revenue
    // series — trend = 7-day CENTERED moving average, seasonal = mean
    // detrended value per weekday slot, residual = the rest. The
    // anomaly-vs-seasonality readout every ops dashboard derives.
    //
    // Cross-engine discipline: the daily total and the trend window sum
    // both accumulate as DECIMAL (order-free; windowed double sums are
    // segment-tree-ordered in DuckDB and left-fold in Spark — NOT
    // comparable); the weekday slot is datediff from a fixed anchor
    // under a NON-NEGATIVE modulus — pmod in Spark, ((x%7)+7)%7 in the
    // oracle, since both engines' native % keeps the dividend's sign
    // and both engines' native dayofweek disagree on Sunday. A signed
    // % would silently split each weekday into two seasonal slots for
    // any date before the anchor (TimeSeriesSpec pins the pre-anchor
    // case);
    // seasonal means accumulate rounded DECIMAL(28,6) terms; residual
    // is derived from the already-rounded display columns so both
    // engines subtract identical doubles.
    //
    // 100 TB posture: the unpartitioned centered-MA window runs on the
    // DAILY AGGREGATE — |calendar days| rows regardless of fact volume
    // (the groupBy reduction is where the scale lives); a single-task
    // window over a few thousand series points is the correct shape,
    // unlike a window over raw facts.
    Q("seasonal_decompose",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    ((datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) % 7) + 7) % 7 AS dow,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1, 2),
        |tr AS (
        |  SELECT d, dow, total,
        |    round(CAST(SUM(CAST(total AS DECIMAL(28,4))) OVER w AS DOUBLE)
        |      / count(*) OVER w, 6) AS trend
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |seas AS (
        |  SELECT dow,
        |    round(CAST(SUM(CAST(round(total - trend, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(*), 6) AS seasonal
        |  FROM tr GROUP BY dow)
        |SELECT t.d, round(t.total, 6) AS total, t.trend, s.seasonal,
        |  round(round(t.total, 6) - t.trend - s.seasonal, 6) AS residual
        |FROM tr t JOIN seas s ON s.dow = t.dow
        |ORDER BY t.d""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("d"),
          pmod(datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")), lit(7)).as("dow"))
        .agg(sum(col("o_totalprice").cast(DecimalType(38, 4))).cast("double").as("total"))
      val w = Window.orderBy(col("d")).rowsBetween(-3, 3) // bounded: one row per calendar day
      val tr = daily.select(col("d"), col("dow"), col("total"),
        round(sum(col("total").cast(DecimalType(28, 4))).over(w).cast("double")
          / count(lit(1)).over(w), 6).as("trend"))
      val seas = tr.groupBy("dow")
        .agg(round(sum(round(col("total") - col("trend"), 6)
          .cast(DecimalType(28, 6))).cast("double") / count(lit(1)), 6).as("seasonal"))
      tr.join(seas, "dow")
        .select(col("d"), round(col("total"), 6).as("total"), col("trend"), col("seasonal"),
          round(round(col("total"), 6) - col("trend") - col("seasonal"), 6).as("residual"))
        .orderBy("d")
    },

    // X40a: rolling 7-day spend per customer — RANGE frame over event
    // time. Frame = [t − 7 days, t] INCLUSIVE on both ends in both
    // engines (Spark rangeBetween lower bound is inclusive; DuckDB RANGE
    // ... PRECEDING likewise), anchored on epoch seconds so the Spark
    // frame arithmetic is integer-exact. Decimal sum: order-independent
    // across frame evaluation orders (doubles would drift run-to-run).
    Q("rolling_time_range",
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  count(*) OVER w AS n_7d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER w AS DOUBLE) AS spend_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("sec"))
        .rangeBetween(-7L * 24 * 3600, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("sec", unix_timestamp(col("o_orderdate")))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"),
          count(lit(1)).over(w).as("n_7d"),
          sum(col("o_totalprice").cast(DecimalType(38, 4))).over(w)
            .cast("double").as("spend_7d"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // X40b: per-customer daily spine + forward fill over ONE reporting
    // month. One row per calendar day from the customer's first to last
    // in-month order; days with no orders carry the previous day's total
    // forward (`last(_, ignoreNulls)` over an unbounded-preceding row
    // frame — the fill can never be null: day 0 is the customer's first
    // in-month order day by construction). The daily pre-aggregate runs
    // BEFORE the spine join, so the window works on one row per
    // (customer, active day), not per order. The month scope is what
    // bounds the operator: an unbounded spine multiplies every key by
    // its LIFETIME span (measured 240× densification on this data —
    // first-to-last order covers years), while a reporting window caps
    // the per-key span at 31 rows no matter how the corpus grows.
    Q("gap_fill_forward",
      """WITH daily AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS day_spend
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT o_custkey, unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d
        |  FROM daily GROUP BY o_custkey)
        |SELECT s.o_custkey, s.d,
        |  dd.day_spend IS NOT NULL AS observed,
        |  last_value(dd.day_spend IGNORE NULLS) OVER (
        |    PARTITION BY s.o_custkey ORDER BY s.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_spend
        |FROM spine s LEFT JOIN daily dd ON dd.o_custkey = s.o_custkey AND dd.d = s.d
        |ORDER BY s.o_custkey, s.d""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("d"))
        .agg(sum(col("o_totalprice").cast(DecimalType(38, 4)))
          .cast("double").as("day_spend"))
      val spine = daily.groupBy("o_custkey")
        .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(col("o_custkey"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
      val w = Window.partitionBy("o_custkey").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("o_custkey", "d"), "left")
        .select(col("o_custkey"), col("d"),
          col("day_spend").isNotNull.as("observed"),
          last(col("day_spend"), ignoreNulls = true).over(w).as("filled_spend"))
        .orderBy("o_custkey", "d")
    },

    // X40d: linear-interpolation gap fill over the same one-month
    // spine as gap_fill_forward — unobserved days get the straight
    // line between the surrounding observed days instead of a carried
    // value (the sensor/metric backfill shape). Both anchors exist for
    // every spine day by construction (the spine spans first→last
    // OBSERVED day), except the trailing edge where next==prev; that
    // collapse is guarded to the previous value before the division.
    // Float discipline: anchors are DECIMAL-summed once then cast to
    // double; day offsets are exact integers; the interpolation is ONE
    // identical double expression in both engines, rounded once at 6dp.
    Q("gap_fill_linear",
      """WITH daily AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS day_spend
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT o_custkey, unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d
        |  FROM daily GROUP BY o_custkey),
        |anch AS (
        |  SELECT s.o_custkey, s.d,
        |    dd.day_spend IS NOT NULL AS observed,
        |    last_value(dd.day_spend IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN dd.day_spend IS NOT NULL THEN s.d END IGNORE NULLS) OVER wp AS pd,
        |    first_value(dd.day_spend IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN dd.day_spend IS NOT NULL THEN s.d END IGNORE NULLS) OVER wf AS nd
        |  FROM spine s LEFT JOIN daily dd ON dd.o_custkey = s.o_custkey AND dd.d = s.d
        |  WINDOW
        |    wp AS (PARTITION BY s.o_custkey ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY s.o_custkey ORDER BY s.d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT o_custkey, d, observed,
        |  round(CASE WHEN nd IS NULL OR nd = pd THEN pv
        |    ELSE pv + (nv - pv) * (CAST(d - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)) END, 6) AS filled_spend
        |FROM anch ORDER BY o_custkey, d""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("d"))
        .agg(sum(col("o_totalprice").cast(DecimalType(38, 4)))
          .cast("double").as("day_spend"))
      val spine = daily.groupBy("o_custkey")
        .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(col("o_custkey"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
      val wp = Window.partitionBy("o_custkey").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("o_custkey").orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("day_spend").isNotNull, col("d"))
      spine.join(daily, Seq("o_custkey", "d"), "left")
        .select(col("o_custkey"), col("d"),
          col("day_spend").isNotNull.as("observed"),
          last(col("day_spend"), ignoreNulls = true).over(wp).as("pv"),
          last(obsDay, ignoreNulls = true).over(wp).as("pd"),
          first(col("day_spend"), ignoreNulls = true).over(wf).as("nv"),
          first(obsDay, ignoreNulls = true).over(wf).as("nd"))
        .select(col("o_custkey"), col("d"), col("observed"),
          round(when(col("nd").isNull || col("nd") === col("pd"), col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (datediff(col("d"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double"))), 6).as("filled_spend"))
        .orderBy("o_custkey", "d")
    },

    // X49: rolling z-score anomaly flag — each order scored against
    // its customer's trailing 6-order window (5 preceding + current).
    // Mean/variance come from EXACT decimal power sums over the frame
    // (the stat_aggregates discipline: decimal sums are
    // order-independent, then ONE identical double formula on both
    // engines — a frame-ordered double sum would drift run-to-run).
    // Undefined scores (window shorter than 3, or zero variance) stay
    // NULL and flag false. One hash shuffle partitioned by customer
    // (high cardinality); frame is a constant 6 rows, so per-task work
    // is linear in partition size — the standard streaming-feature
    // backfill shape.
    Q("anomaly_rolling_z",
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(o_totalprice AS DOUBLE) AS x,
        |    count(*) OVER win AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER win AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) OVER win AS DOUBLE) AS s2
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
        |SELECT o_custkey, o_orderkey, n,
        |  CASE WHEN n > 2 AND (s2 - s1 * s1 / n) > 0
        |    THEN round((x - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 9)
        |  END AS z,
        |  CASE WHEN n > 2 AND (s2 - s1 * s1 / n) > 0
        |         AND abs((x - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 2
        |       THEN TRUE ELSE FALSE END AS is_outlier
        |FROM w ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val win = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-5, Window.currentRow)
      val base = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast("double").as("x"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("x"),
          count(lit(1)).over(win).as("n"),
          sum(col("x").cast(DecimalType(18, 2))).over(win).cast("double").as("s1"),
          sum((col("x") * col("x")).cast(DecimalType(38, 4))).over(win)
            .cast("double").as("s2"))
      val varN = col("s2") - col("s1") * col("s1") / col("n")
      val zRaw = (col("x") - col("s1") / col("n")) / sqrt(varN / (col("n") - 1))
      val defined = col("n") > 2 && varN > 0
      base.select(col("o_custkey"), col("o_orderkey"), col("n"),
        when(defined, round(zRaw, 9)).as("z"),
        when(defined && abs(zRaw) > 2, lit(true)).otherwise(false).as("is_outlier"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // X61: period-over-period growth — monthly revenue with MoM and YoY
    // percent change (lag 1 / lag 12 over the month series). The lag
    // window runs on the PRE-AGGREGATED month table (one row per
    // calendar month — bounded by the time dimension, never the fact
    // count), so its single partition is a constant-size series, the
    // standard shape for every period-over-period report. Revenue is an
    // order-independent decimal sum cast once to double; the growth
    // ratios are identical double expressions both engines; periods
    // with no prior/yearago month stay NULL.
    Q("revenue_mom_yoy",
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  round((revenue - lag(revenue, 1) OVER w) / lag(revenue, 1) OVER w, 9) AS mom,
        |  round((revenue - lag(revenue, 12) OVER w) / lag(revenue, 12) OVER w, 9) AS yoy
        |FROM m WINDOW w AS (ORDER BY month)
        |ORDER BY month""".stripMargin) { (s, d) =>
      val w = Window.orderBy("month") // bounded: one row per month
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast(DecimalType(38, 4)))
          .cast("double").as("revenue"))
        .select(col("month"), col("revenue"),
          round((col("revenue") - lag(col("revenue"), 1).over(w))
            / lag(col("revenue"), 1).over(w), 9).as("mom"),
          round((col("revenue") - lag(col("revenue"), 12).over(w))
            / lag(col("revenue"), 12).over(w), 9).as("yoy"))
        .orderBy("month")
    },

    // X77: per-user inter-event gap statistics — median / p90 / mean
    // seconds between consecutive events, the cadence features behind
    // churn models and session-gap tuning (X38's longitudinal family).
    // One user-keyed window (lag over the unique (ts, event_id) order)
    // derives gaps scan-side in exact integer MICROS (unix_micros ↔
    // epoch_us — the events-nanos parity rule). Median/p90 are
    // DISCRETE (index-selected actual gaps, lower-median convention) —
    // interpolated quantile_cont/percentile differ by FP-association
    // ulps on 1e10-magnitude micros and flip 6-dp roundings (measured),
    // while index selection is pure integer math; ties share a value,
    // so no tiebreak is needed for value-determinism. The gap TOTAL is
    // reported as the exact integer micros sum rather than a rounded
    // mean: a divided mean landed exactly on a 6-dp rounding half-point
    // at sf0.1, where Spark's decimal-string HALF_UP and DuckDB's
    // binary rounding disagree (measured) — the reader derives the
    // mean as total/n without the engine-dependent boundary.
    Q("inter_event_gaps",
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |r AS (
        |  SELECT user_id, gap_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM g WHERE gap_us IS NOT NULL)
        |SELECT user_id,
        |  CAST(max(n) AS BIGINT) AS n_gaps,
        |  round(CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS DOUBLE) / 1e6, 6) AS median_gap_s,
        |  round(CAST(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN gap_us END) AS DOUBLE) / 1e6, 6) AS p90_gap_s,
        |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wg = Window.partitionBy("user_id").orderBy(col("gap_us"))
      val wn = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .select(col("user_id"), col("gap_us"),
          row_number().over(wg).as("rn"), count(lit(1)).over(wn).as("n"))
        .groupBy("user_id")
        .agg(max(col("n")).as("n_gaps"),
          round(max(when(col("rn") === expr("(n + 1) div 2"), col("gap_us")))
            .cast("double") / 1e6, 6).as("median_gap_s"),
          round(max(when(col("rn") === ceil(lit(0.9) * col("n")).cast("long"), col("gap_us")))
            .cast("double") / 1e6, 6).as("p90_gap_s"),
          sum(col("gap_us")).as("total_gap_us"))
        .orderBy("user_id")
    }
  )
}
