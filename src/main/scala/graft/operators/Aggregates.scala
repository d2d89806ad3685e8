package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation layer (SURVEY.md §2b G10–G12): hash aggregation,
  * distinct / count-distinct (exact + HLL), rollup / cube / grouping
  * sets. Spark plans all of these as partial→final `HashAggregateExec`
  * pairs — the reference's map-side combiner (reference/WordCount.java:150)
  * generalized, with no user code.
  *
  * Determinism note (X7 / oracle parity): SUM over DoubleType is
  * accumulation-order-dependent, and shuffle order is nondeterministic —
  * at 100 TB that's a real reproducibility bug, not just an oracle
  * nuisance. Money-like doubles here have an exact decimal width (price
  * 2dp, discount/tax 2dp → products 4/6dp), so we cast to DECIMAL at
  * that width before SUM: the sum is then exact and order-independent
  * in both engines; final cast back to DOUBLE for a stable schema.
  */
object Aggregates {

  private val qtyD = DecimalType(18, 2)
  private val priceD = DecimalType(18, 2)

  def all: Seq[Q] = Seq(

    // G10 flagship aggregate: TPC-H Q1-style pricing summary.
    //
    // Decimal-FIRST arithmetic (10x-compare lesson): casting the DOUBLE
    // product price*(1-disc)*(1+tax) to DECIMAL(28,6) diverges between
    // engines for rows whose product sits within half a double-ULP of a
    // 1e-6 rounding boundary (Spark rounds the shortest decimal repr of
    // the double, DuckDB rounds its exact binary value — ~3.6e-7 of rows
    // at this magnitude, invisible at sf0.1, ~4 rows at 6M). Quantizing
    // the INPUT columns at their semantic 2dp width and multiplying in
    // decimal keeps every step exact in both engines: (18,2)x(5,2)x(5,2)
    // products never exceed precision 38, so no rounding exists to
    // disagree on. The scale-4/6 sums are then rounded to CENTS before
    // the DOUBLE cast: DuckDB's decimal->double conversion drops the
    // low bit once the unscaled value passes 2^53 (5.2e16 at 6M rows x
    // scale 6; Spark's BigDecimal path is correctly rounded), while the
    // 2dp unscaled total stays exact-representable to ~1e13 rows.
    Q("agg_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val pctD = DecimalType(4, 2)
      val revDec = col("l_extendedprice").cast(priceD) *
        (lit(1).cast(pctD) - col("l_discount").cast(pctD))
      Tables.spread(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(qtyD)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(priceD)).cast("double").as("sum_base"),
          round(sum(revDec), 2).cast("double").as("sum_disc"),
          round(sum(revDec * (lit(1).cast(pctD) + col("l_tax").cast(pctD))), 2)
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(qtyD)).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(col("l_extendedprice").cast(priceD)).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }.copy(headline = true),

    // G10: multi-key group over the event stream table; min/max on
    // doubles are exact (no decimal cast needed).
    Q("agg_events_by_type",
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  MIN(value) AS min_value,
        |  MAX(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          sum(col("value").cast(priceD)).cast("double").as("total_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("event_type")
    },

    // G11: DISTINCT (plans as an aggregate on all columns).
    Q("distinct_flag_status",
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // G11: exact count-distinct (Catalyst plans Expand + two-phase agg).
    Q("count_distinct",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS parts,
        |  COUNT(DISTINCT l_suppkey) AS supps,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("parts"),
          countDistinct(col("l_suppkey")).as("supps"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },

    // G11: HLL sketch count-distinct — the 100 TB path (single pass, no
    // Expand blow-up). Sketch estimates are engine-specific → rows-only
    // check here; accuracy vs exact is asserted in AggregateSpec.
    Q.noOracle("approx_count_distinct") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag")
    },

    // G11 (oracled, r11): the HLL error BOUND as a driver-checked
    // query, mirroring minhash_calibration_bound — every group whose
    // sketch estimate deviates more than 10% (5× the requested 2% rsd)
    // from the exact distinct count. Expected result: ZERO rows; the
    // estimates are engine-specific, but "no group violates the bound"
    // is exact and deterministic (Spark's HLL++ is seed-fixed). A
    // register-width or merge bug surfaces here as a row-count
    // mismatch in the driver gate, not just in AggregateSpec. Both
    // counts come out of ONE aggregation pass — the sketch rides along
    // with the exact count, so the bound costs one scan.
    Q("approx_count_distinct_bound",
      """SELECT CAST(NULL AS VARCHAR) AS l_returnflag,
        |  CAST(NULL AS DOUBLE) AS rel_err
        |WHERE false""".stripMargin) { (s, d) =>
      // r19 (the khop_2_reach_approx_bound r18 pattern): dedup
      // (flag, partkey) FIRST, then count + sketch the deduped stream —
      // the mixed countDistinct + HLL aggregation otherwise plans an
      // Expand that DOUBLES the input before aggregating. The exact
      // count is unchanged by definition; the HLL sketch is
      // duplicate-idempotent (same value → same register), so
      // approx_parts is bit-identical too.
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"),
          round(abs(col("approx_parts") - col("exact_parts"))
            / col("exact_parts").cast("double"), 6).as("rel_err"))
        .filter(col("rel_err") > 0.10)
        .orderBy("l_returnflag")
    },

    // G12: ROLLUP (hierarchical subtotals). NULLS FIRST pinned on both
    // sides — Spark defaults nulls-first ASC, DuckDB nulls-last.
    Q("rollup_orders",
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(priceD)).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // G12: CUBE (all grouping combinations).
    Q("cube_lineitem",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // G12: explicit GROUPING SETS with grouping() disambiguation markers
    // (entry point B: SQL over registered views; same SQL family as the
    // oracle modulo the grouping-id cast).
    Q("grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
          |  COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },

    // G31: metadata-only statistics — global COUNT/MIN/MAX answered from
    // parquet FOOTERS, zero data pages read. At 100 TB this turns a
    // full-table scan into a per-file metadata read (seconds, not
    // core-hours) for the row-count / value-range probes every pipeline
    // runs constantly. Needs the DSv2 parquet path (v1 has no aggregate
    // pushdown) plus spark.sql.parquet.aggregatePushdown, so both flips
    // are scoped to THIS plan: Materialize executes eagerly inside
    // the conf window and later queries replan under the restored
    // session conf. Integer key columns only — the pushdown rule rejects
    // timestamp columns (footer-stats caveats), and long footer min/max
    // is exact. PlanAuditSpec pins `PushedAggregation` in the v2 scan.
    Q("agg_pushdown_stats",
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.withAggPushdown(s)(Materialize(Tables.lineitem(s, d)
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))))
    },

    // X74: incremental aggregate maintenance — the materialized-view
    // update pattern: a pre-aggregated HISTORY (orders before the
    // cutoff, aggregated once and persisted in production) is merged
    // with the fresh DELTA's aggregate, and the merge must equal a full
    // recompute — which is exactly what the oracle asserts (plain GROUP
    // BY over everything). Works because count/sum are commutative
    // monoids and the DECIMAL sums are exact, so history + delta
    // composes associatively regardless of how history was itself
    // accumulated.
    //
    // 100 TB posture: the daily job aggregates ONLY the delta
    // (|delta| rows) and joins |keys|-sized aggregates — the history
    // fact rows are never rescanned. The keyed full-outer + coalesce-add
    // is the merge every incremental pipeline runs.
    Q("incremental_agg_merge",
      """SELECT o_custkey,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val cutoff = to_timestamp(lit("1998-01-01"))
      def agg(df: org.apache.spark.sql.DataFrame, n: String, t: String) =
        df.groupBy("o_custkey").agg(
          count(lit(1)).as(n),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as(t))
      val hist = agg(orders.filter(col("o_orderdate") < cutoff), "hn", "hs")
      val delta = agg(orders.filter(col("o_orderdate") >= cutoff), "dn", "ds")
      hist.join(delta, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("hn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("hs"), lit(0).cast(DecimalType(18, 2)))
            + coalesce(col("ds"), lit(0).cast(DecimalType(18, 2))))
            .cast("double").as("total_spend"))
        .orderBy("o_custkey")
    }
  )
}
