package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytics-surface extensions beyond the §2b core: statistical
  * aggregates, pivot, SQL subqueries (scalar + EXISTS), string-distance
  * pairs, and two TPC-H-style multi-join showcase queries that exercise
  * the optimizer across the whole star schema.
  *
  * Determinism rule for second-moment statistics: stddev/variance/corr
  * builtins accumulate doubles in engine-specific order — instead every
  * statistic here is spelled out from EXACT DECIMAL power sums
  * (sum x, sum x², sum xy over 2dp inputs are exact at DECIMAL(38,4)),
  * so both engines do the identical final double arithmetic. This is
  * also the 100 TB-reproducibility posture: results don't depend on
  * shuffle arrival order.
  */
object Analytics {

  private val d2 = DecimalType(18, 2)
  private val d4 = DecimalType(38, 4)

  def all: Seq[Q] = Seq(

    // Statistical aggregates per returnflag: variance, stddev, corr,
    // covariance, median — from exact power sums (see scaladoc).
    Q("stat_aggregates",
      """WITH s AS (
        |  SELECT l_returnflag,
        |    count(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sqq,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS spp,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sqp,
        |    median(l_quantity) AS med_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((sqq - sq * sq / n) / (n - 1), 6) AS var_qty,
        |  round(sqrt((sqq - sq * sq / n) / (n - 1)), 6) AS std_qty,
        |  round((sqp - sq * sp / n) / (n - 1), 6) AS cov_qp,
        |  round((n * sqp - sq * sp)
        |    / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 9) AS corr_qp,
        |  med_qty
        |FROM s ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val q = col("l_quantity")
      val p = col("l_extendedprice")
      val st = Tables.spread(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(q.cast(d2)).cast("double").as("sq"),
          sum(p.cast(d2)).cast("double").as("sp"),
          sum((q * q).cast(d4)).cast("double").as("sqq"),
          sum((p * p).cast(d4)).cast("double").as("spp"),
          sum((q * p).cast(d4)).cast("double").as("sqp"),
          median(q).as("med_qty"))
      st.select(col("l_returnflag"), col("n"),
        round((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1), 6).as("var_qty"),
        round(sqrt((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1)), 6).as("std_qty"),
        round((col("sqp") - col("sq") * col("sp") / col("n")) / (col("n") - 1), 6).as("cov_qp"),
        round((col("n") * col("sqp") - col("sq") * col("sp"))
          / (sqrt(col("n") * col("sqq") - col("sq") * col("sq"))
            * sqrt(col("n") * col("spp") - col("sp") * col("sp"))), 9).as("corr_qp"),
        col("med_qty"))
        .orderBy("l_returnflag")
    },

    // Approximate quantiles (no SQL oracle — sketch internals are
    // engine-specific; AnalyticsSpec bounds the error vs the exact
    // percentiles). At 100 TB this replaces median/percentile's full
    // shuffle with a fixed-size mergeable sketch per partition — the
    // same partial/final shape as any aggregate.
    Q.noOracle("approx_quantiles") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)), lit(10000)).as("q"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          element_at(col("q"), 1).as("p25"), element_at(col("q"), 2).as("p50"),
          element_at(col("q"), 3).as("p75"), element_at(col("q"), 4).as("p95"),
          col("n"))
        .orderBy("l_returnflag")
    },

    // X25 (oracled, r11): the quantile-sketch RANK-ERROR bound as a
    // driver-checked query, mirroring minhash_calibration_bound. The
    // KLL/GK guarantee is about RANK, not value: the returned
    // p-quantile must be an element whose rank r satisfies
    // |r − p·n| ≤ ε·n with ε = 1/accuracy = 1e-4. For each (group, p)
    // the approx value v is ranked against the actual data — its rank
    // INTERVAL under ties is [cnt(< v) + 1, cnt(≤ v)] — and a row is
    // emitted only if that whole interval misses [p·n − m, p·n + m]
    // with margin m = 5·ε·n + 1 (5× nominal, +1 for integer rank).
    // Expected result: ZERO rows; sketch internals are engine-specific
    // (hence approx_quantiles stays no-oracle), but "every returned
    // quantile ranks within the advertised error" is exact. The 12
    // (group, p, v) probe rows broadcast back onto the fact table, so
    // the bound costs one extra scan and no extra shuffle.
    Q("approx_quantiles_bound",
      """SELECT CAST(NULL AS VARCHAR) AS l_returnflag, CAST(NULL AS DOUBLE) AS p,
        |  CAST(NULL AS DOUBLE) AS v, CAST(NULL AS BIGINT) AS rank_lo,
        |  CAST(NULL AS BIGINT) AS rank_hi
        |WHERE false""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val probes = li
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(ps.map(lit): _*), lit(10000)).as("q"))
        .select(col("l_returnflag"), posexplode(col("q")).as(Seq("i", "v")))
        .withColumn("p", element_at(array(ps.map(lit): _*), col("i") + 1))
      li.select(col("l_returnflag"), col("l_extendedprice").as("x"))
        .join(broadcast(probes), Seq("l_returnflag"))
        .groupBy("l_returnflag", "p", "v")
        .agg(sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("cnt_lt"),
          sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("cnt_le"),
          count(lit(1)).as("n"))
        .withColumn("m", lit(5.0) * lit(1e-4) * col("n") + lit(1.0))
        .filter(col("cnt_le") < col("p") * col("n") - col("m") ||
          (col("cnt_lt") + 1) > col("p") * col("n") + col("m"))
        .select(col("l_returnflag"), col("p"), col("v"),
          (col("cnt_lt") + 1).as("rank_lo"), col("cnt_le").as("rank_hi"))
        .orderBy("l_returnflag", "p")
    },

    // Pivot: events per user × event_type (fixed column list so the
    // output schema is static; absent combos are NULL in both engines —
    // Spark pivot-count of an empty subset, SQL SUM(CASE) of none).
    Q("pivot_events_by_type",
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy("user_id")
    },

    // G26 inverse: UNPIVOT (melt) — wide measure columns to (measure,
    // value) rows, the normalization step feeding generic per-measure
    // aggregation. Scan-local row expansion (a Generate, no shuffle);
    // the oracle is the portable UNION ALL equivalent.
    Q("unpivot_measures",
      """SELECT l_orderkey, l_linenumber, m AS measure, v AS value FROM (
        |  SELECT l_orderkey, l_linenumber, 'qty' AS m, l_quantity AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, measure, value""".stripMargin) { (s, d) =>
      Tables.spread(s, d, "lineitem")
        .withColumn("qty", col("l_quantity"))
        .withColumn("price", col("l_extendedprice"))
        .withColumn("discount", col("l_discount"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("qty"), col("price"), col("discount")),
          variableColumnName = "measure", valueColumnName = "value")
        .orderBy("l_orderkey", "l_linenumber", "measure", "value")
    },

    // CDC apply / MERGE-style upsert as a pure relational composite:
    // base FULL OUTER JOIN changes, changed rows win via coalesce —
    // updates overwrite, inserts append, untouched rows pass through.
    // (Without a table format this is the batch-upsert shape; the join
    // is keyed, so it shuffles once on the key and scales like any SMJ.)
    // Changes are derived deterministically from the data itself:
    // every 7th customer gets +100 balance, and every 11th customer is
    // re-inserted under a NEGATED key — custkeys are positive at every
    // scale factor, so -(c+1) can never collide with a base key (a
    // fixed offset like c+100000 would, once the table passes 100k
    // customers, silently turning inserts into updates and breaking
    // the ORDER BY k total order).
    Q("cdc_upsert",
      """WITH changes AS (
        |  SELECT c_custkey AS k, c_name, CAST(c_acctbal + 100 AS DOUBLE) AS acctbal
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT -(c_custkey + 1), c_name, CAST(c_acctbal AS DOUBLE)
        |  FROM customer WHERE c_custkey % 11 = 0)
        |SELECT coalesce(ch.k, b.c_custkey) AS k,
        |  coalesce(ch.c_name, b.c_name) AS name,
        |  coalesce(ch.acctbal, CAST(b.c_acctbal AS DOUBLE)) AS acctbal
        |FROM customer b FULL OUTER JOIN changes ch ON b.c_custkey = ch.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      val base = Tables.customer(s, d)
      // distinct column names on the change side avoid self-join
      // ambiguity (changes derives from base)
      val changes = base.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"), col("c_name").as("name_ch"),
          (col("c_acctbal") + 100).cast("double").as("acctbal"))
        .unionAll(base.filter(col("c_custkey") % 11 === 0)
          .select((-(col("c_custkey") + 1)).as("k"), col("c_name").as("name_ch"),
            col("c_acctbal").cast("double").as("acctbal")))
      base.join(changes, col("c_custkey") === col("k"), "full_outer")
        .select(
          coalesce(col("k"), col("c_custkey")).as("k"),
          coalesce(col("name_ch"), col("c_name")).as("name"),
          coalesce(col("acctbal"), col("c_acctbal").cast("double")).as("acctbal"))
        .orderBy("k")
    },

    // SCD2 dimension-history build (the companion to cdc_upsert: turn an
    // ordered change feed into type-2 validity intervals). Consecutive
    // same-status orders per customer collapse into one run
    // (gaps-and-islands: run id = running count of status CHANGES), each
    // run becomes a version row [valid_from, valid_to) with the next
    // run's start as its end; the open run is flagged current. All
    // windows partition on o_custkey — one shuffle key end to end, and
    // per-customer history is small and bounded, so no task skew at any
    // scale. Ties on o_orderdate break by o_orderkey (deterministic).
    Q("scd2_status_history",
      """WITH h AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
        |  FROM orders),
        |runs AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus,
        |    CAST(sum(CASE WHEN prev_status IS NULL OR prev_status <> o_orderstatus THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        |  FROM h),
        |per AS (
        |  SELECT o_custkey, version, o_orderstatus AS status, min(o_orderdate) AS valid_from
        |  FROM runs GROUP BY o_custkey, version, o_orderstatus)
        |SELECT o_custkey, version, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version) AS valid_to,
        |  CASE WHEN lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version) IS NULL
        |       THEN 1 ELSE 0 END AS is_current
        |FROM per ORDER BY o_custkey, version""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byOrder = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val byVersion = Window.partitionBy("o_custkey").orderBy("version")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
          lag("o_orderstatus", 1).over(byOrder).as("prev_status"))
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderstatus"),
          sum(when(col("prev_status").isNull
            || col("prev_status") =!= col("o_orderstatus"), 1).otherwise(0))
            .over(byOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("version"))
        .groupBy("o_custkey", "version", "o_orderstatus")
        .agg(min("o_orderdate").as("valid_from"))
        .select(col("o_custkey"), col("version"), col("o_orderstatus").as("status"),
          col("valid_from"),
          lead("valid_from", 1).over(byVersion).as("valid_to"),
          when(lead("valid_from", 1).over(byVersion).isNull, 1).otherwise(0).as("is_current"))
        .orderBy("o_custkey", "version")
    },

    // Correlated scalar subquery (Catalyst decorrelates to an aggregate
    // + join): orders beating their customer's average price. Entry
    // point B — subqueries are SQL-surface constructs.
    Q("subquery_scalar",
      """SELECT o.o_orderkey, o.o_totalprice
        |FROM orders o
        |WHERE o.o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      // r19: Catalyst decorrelates the per-customer mean into an
      // aggregate + join on o_custkey, but the aggregate output has no
      // stats, so the re-attach planned as a sort-merge join — BOTH
      // fact exchanges just to compare each order against its
      // customer's mean. The per-customer mean table is |customers|
      // rows (~32 B each); size-gate-broadcast it back onto the scan
      // (the impute_missing/feature_scale convention) and no fact row
      // crosses an exchange before the final sort. Arithmetic is the
      // SQL's: DECIMAL(18,2) sum → one double cast → / COUNT(*).
      val means = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("mk"))
        .agg((sum(col("o_totalprice").cast(d2)).cast("double")
          / count(lit(1))).as("mean_tp"))
      // data-derived upper bound: ≤ one 32 B (key, mean) row per
      // customer, and customer.parquet holds ≥ ~20 compressed bytes per
      // customer — 4× its file size safely over-covers the in-memory
      // hashed relation at any scale factor
      Tables.orders(s, d)
        .join(Hints.broadcastIfEstimated(means,
          Tables.fileBytes(s"$d/customer.parquet") * 4L),
          col("o_custkey") === col("mk"))
        .filter(col("o_totalprice") > col("mean_tp"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // EXISTS / NOT EXISTS correlated subqueries (plan: semi + anti join).
    Q("subquery_exists",
      """SELECT c.c_custkey, c.c_name,
        |  EXISTS (SELECT 1 FROM orders o
        |          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O') AS has_open
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      Tables.registerViews(s, d)
      s.sql("""SELECT c.c_custkey, c.c_name,
              |  EXISTS (SELECT 1 FROM orders o
              |          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O') AS has_open
              |FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
              |ORDER BY c.c_custkey""".stripMargin)
    },

    // String-distance pairs (fuzzy-dedup verify step): levenshtein over
    // bounded prefixes of adjacent docs — edit distance is O(len²),
    // so real pipelines always bound the operand length.
    Q("edit_distance_adjacent",
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS BIGINT) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id").as("id1"), substring(col("text"), 1, 40).as("t1"))
      val b = docs.select(col("doc_id").as("id2"), substring(col("text"), 1, 40).as("t2"))
      a.join(b, col("id1") + 1 === col("id2"))
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("t2")).cast("long").as("dist"))
        .orderBy("id1")
    },

    // TPC-H Q3-style: segment-filtered customer ⋈ orders ⋈ lineitem,
    // revenue per order. Dims broadcast, facts sort-merge — the planner
    // choices PlanAuditSpec pins for the star schema.
    Q("tpch_q3ish",
      """SELECT l.l_orderkey,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        |  o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin) { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > to_timestamp(lit("1996-01-01 00:00:00")))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(rev.cast(DecimalType(28, 4))).cast("double").as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    },

    // TPC-H Q17-style: correlated aggregate subquery against the fact
    // table itself — revenue from "small-quantity" lineitems, where the
    // quantity cutoff is 20% of that part's own average quantity.
    // Catalyst decorrelates the per-part average into a separate
    // aggregate + join on l_partkey (no per-row re-aggregation, no
    // cartesian — PlanAuditSpec pins this). The avg is spelled
    // sum(DECIMAL)/count so both engines do identical arithmetic.
    Q("tpch_q17ish",
      """SELECT p.p_brand,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS low_qty_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_size <= 10
        |  AND l.l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p_brand""".stripMargin) { (s, d) =>
      // r19: the SQL form decorrelated correctly but aggregated the
      // FULL fact table for the per-part average
      // (plans/r19/tpch_q17ish_before.txt). DataFrame form: the
      // per-part average is computed only for parts that can appear in
      // the result (semi-join with the p_size filter — the correlated
      // subquery is keyed on those partkeys, so unused thresholds are
      // dead work), the ~|parts| threshold table size-gate-broadcasts
      // back into the fact side (no exchange of the fact), and the
      // main branch reads through the spread loader so the two
      // broadcast probes + brand aggregate don't fuse onto the
      // single-row-group scan task. Arithmetic is
      // expression-for-expression the SQL's: DECIMAL(18,2) sums, one
      // decimal→double cast, 0.2 * (sum/count) in doubles.
      val p10 = Tables.part(s, d).filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"))
      // threshold branch: NOT spread — the per-part partial aggregate
      // compresses 600k rows to ~4k on the scan task (the r18 revert
      // class); no fact-sized checkpoint either (the executor-pin
      // pattern r16-r18 removed everywhere else).
      val thr = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"))
        .join(broadcast(p10.select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey").as("tk"))
        .agg((lit(0.2) * (sum(col("l_quantity").cast(d2)).cast("double")
          / count(lit(1)))).as("cutoff"))
      Tables.spread(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(p10), col("l_partkey") === col("p_partkey"))
        .join(Hints.broadcastIfEstimated(thr, 20000L * 24L),
          col("l_partkey") === col("tk"))
        .filter(col("l_quantity") < col("cutoff"))
        .groupBy("p_brand")
        .agg(sum(col("l_extendedprice").cast(d2)).cast("double").as("low_qty_revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },

    // TPC-H Q20-style: nested IN over an aggregate subquery — suppliers
    // who shipped an above-average total quantity of 'red%' parts. The
    // inner HAVING threshold is itself an uncorrelated scalar aggregate
    // subquery (scale-relative, so the query stays selective at every
    // SF). Plan: the IN collapses to a semi join over the aggregated
    // fact subquery; the scalar threshold is computed once, on the
    // job that materializes the per-supplier sums.
    Q("tpch_q20ish",
      """SELECT s.s_suppkey, s.s_name, s.s_acctbal
        |FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT l.l_suppkey FROM lineitem l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY l.l_suppkey
        |  HAVING CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) > (
        |    SELECT 1.1 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |           / COUNT(DISTINCT l2.l_suppkey)
        |    FROM lineitem l2
        |    WHERE l2.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')))
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      // r19: the SQL form aggregated the red-part lineitems TWICE — once
      // per supplier (the HAVING side) and once globally (the scalar
      // threshold), two separate fact scans + aggregations (19 stages at
      // sf0.1 for ~0.7 s of executor work). The threshold is derivable
      // from the per-supplier aggregate itself: SUM over rows = sum of
      // per-supplier DECIMAL sums (decimal addition is exact, so the
      // total is bit-equal), and COUNT(DISTINCT l_suppkey) = the number
      // of groups. One fact aggregation, materialized at |suppliers|
      // rows with the threshold observed on that job, feeds the HAVING
      // filter — the tpch_q11ish pattern. Double arithmetic is
      // expression-for-expression the SQL's: (1.1 * toDouble(sum)) / n,
      // and the HAVING compare casts each supplier's decimal sum to
      // double exactly as the oracle does.
      val redParts = Tables.part(s, d).filter(col("p_name").like("red%"))
        .select("p_partkey")
      val (perSupp, thr) = Materialize(Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_partkey"), col("l_quantity"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast(d2)).as("sq")),
        ((lit(1.1) * sum(col("sq")).cast("double")) / count(lit(1))).as("cutoff"))
      val qualifying = perSupp
        .filter(col("sq").cast("double") > Materialize.lit(thr, "cutoff"))
        .select("l_suppkey")
      Tables.supplier(s, d)
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    },

    // TPC-H Q21-style: double-correlated EXISTS + NOT EXISTS against the
    // SAME fact table (the driver schema has no receipt/commit dates, so
    // the predicate is adapted: the supplier is the ONLY one with an 'R'
    // return on a multi-supplier order). Catalyst must decorrelate both
    // subqueries into one semi- and one anti-join on l_orderkey — the
    // shape PlanAuditSpec pins (no cartesian, no per-row subquery).
    Q("tpch_q21ish",
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin) { (s, d) =>
      // r19: Catalyst decorrelated the two subqueries into a semi + an
      // anti join, each shuffling the full fact table a second/third
      // time (15 stages at sf0.1 for ~0.4 s of executor work). Both
      // predicates are per-ORDER facts about the set of suppkeys on the
      // order, computable in one two-level aggregate (the khop
      // pre-group pattern — no Expand): for an l1 row with flag 'R',
      //   EXISTS(other suppkey on order)            ⇔ n_supp ≥ 2
      //   NOT EXISTS(other suppkey with 'R')        ⇔ n_r_supp = 1
      // (l1's own suppkey IS an R-supplier of the order, so "no OTHER
      // R-supplier" is exactly "the order's R-supplier set is the
      // singleton {l1.l_suppkey}"). numwait still counts l1 ROWS per
      // supplier name — the semi join keeps left multiplicity.
      val li = Tables.lineitem(s, d)
      val qualOrders = li
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_returnflag") === "R").as("isr"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("isr")).as("has_r"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          count(when(col("has_r"), true)).as("n_r_supp"))
        .filter(col("n_supp") >= 2 && col("n_r_supp") === 1)
        .select(col("l_orderkey").as("qual_orderkey"))
      li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(qualOrders, col("l_orderkey") === col("qual_orderkey"), "left_semi")
        // supplier is a base scan with real size stats — the planner
        // auto-broadcasts it under the threshold and degrades to a
        // keyed join above it (no hard broadcast pin at 100 TB)
        .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },

    // TPC-H Q18-style (large-volume customers): IN over a HAVING
    // aggregate subquery on the fact table. Spelled DataFrame-first: the
    // qualifying-order set is a partial-agg-friendly groupBy + filter,
    // attached with a LEFT SEMI join on o_orderkey — at 100 TB both
    // sides shuffle once on the order key and the semi join carries no
    // payload columns from the subquery side.
    Q("tpch_q18ish",
      """SELECT c.c_name, o.o_orderkey, o.o_totalprice,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l2.l_orderkey FROM lineitem l2
        |  GROUP BY l2.l_orderkey
        |  HAVING CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300)
        |GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      // r19: the per-order quantity sum the IN-subquery computes IS the
      // output sum_qty — the old form threw it away and recomputed it by
      // re-joining the full fact table and re-aggregating per order
      // (guide §1.2 "don't compute things you throw away"). Keeping the
      // sum from the qualifying-order aggregate is bit-identical (same
      // DECIMAL(18,2) sum over the same rows, one cast to double) and
      // drops the second lineitem shuffle + aggregation. One row per
      // qualifying order either way (o_orderkey is unique in orders and
      // c_custkey in customer), so the final groupBy is dead too. The
      // semi join becomes the inner join that carries sum_qty.
      val bigOrders = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      Tables.orders(s, d)
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q22-style (global sales opportunity; adapted — the driver
    // schema has no c_phone, so the country code becomes the nation):
    // an uncorrelated scalar aggregate threshold (computed once,
    // broadcast) plus a correlated NOT EXISTS that Catalyst turns into
    // an anti join against the filtered orders subset. The avg is
    // spelled sum(DECIMAL)/count so both engines do identical final
    // arithmetic.
    Q("tpch_q22ish",
      """SELECT n.n_name, count(*) AS numcust,
        |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE c.c_acctbal > (
        |    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |    FROM customer c2 WHERE c2.c_acctbal > 0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY n.n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.registerViews(s, d)
      s.sql("""SELECT n.n_name, count(*) AS numcust,
              |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
              |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
              |WHERE c.c_acctbal > (
              |    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
              |    FROM customer c2 WHERE c2.c_acctbal > 0)
              |  AND NOT EXISTS (
              |    SELECT 1 FROM orders o
              |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
              |GROUP BY n.n_name
              |ORDER BY n_name""".stripMargin)
    },

    // TPC-H Q5-style: full star traversal (region → nation → customer →
    // orders → lineitem ⋈ supplier with co-nation constraint), revenue
    // per nation.
    Q("tpch_q5ish",
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        |WHERE r.r_name IN ('ASIA', 'EUROPE')
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      broadcast(Tables.region(s, d).filter(col("r_name").isin("ASIA", "EUROPE")))
        .join(broadcast(Tables.nation(s, d)), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(sum(rev.cast(DecimalType(28, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q2-style: correlated scalar MIN — the (part, supplier)
    // rows achieving that part's own minimum price. Catalyst
    // decorrelates the per-part min into an aggregate + join on
    // l_partkey; no arithmetic beyond the min itself, so the compare
    // is raw stored doubles (bit-identical both engines). The part
    // filter stands in for Q2's region cut and bounds the output.
    Q("tpch_q2ish",
      """SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
        |FROM lineitem l
        |WHERE l.l_partkey < 200 AND l.l_extendedprice = (
        |  SELECT min(l2.l_extendedprice) FROM lineitem l2
        |  WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY l_partkey, l_suppkey""".stripMargin) { (s, d) =>
      Tables.registerViews(s, d)
      s.sql("""SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
              |FROM lineitem l
              |WHERE l.l_partkey < 200 AND l.l_extendedprice = (
              |  SELECT min(l2.l_extendedprice) FROM lineitem l2
              |  WHERE l2.l_partkey = l.l_partkey)
              |ORDER BY l_partkey, l_suppkey""".stripMargin)
    },

    // TPC-H Q11-style: group HAVING against a GLOBAL scalar — suppliers
    // whose lineitem value exceeds 1.05× the average supplier value.
    // The threshold is scale-FREE (relative to the average, not a fixed
    // fraction of the total as in literal Q11 — a fixed fraction goes
    // degenerate as the supplier count scales). The global scalar is
    // computed once over the |suppliers|-row aggregate, in the job that
    // materializes it; exact DECIMAL sums, one identical double formula.
    Q("tpch_q11ish",
      """WITH sv AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, round(val, 2) AS supplier_value
        |FROM sv
        |WHERE val > (SELECT 1.05 * (CAST(SUM(CAST(val AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*)) FROM sv)
        |ORDER BY supplier_value DESC, l_suppkey""".stripMargin) { (s, d) =>
      // r19: the SQL form's `sv` CTE is referenced twice (main branch +
      // the scalar threshold subquery) and Spark INLINES it — the
      // 600k-row fact aggregation ran twice per execution (2× "Scan
      // parquet lineitem → partial_sum" in plans/r19/
      // tpch_q11ish_before.txt). DataFrame form computes `sv` once
      // (Materialize: |suppliers| rows — ~1k × 16 B), observes the
      // global threshold on that same job, and filters against it as a
      // literal. Arithmetic is expression-for-expression the
      // SQL's: DECIMAL(18,2) partial sums, one decimal→double cast,
      // 1.05 * (sum/count) in doubles — hash-identical output (oracle
      // re-proven at sf0.01/sf0.1).
      val (sv, thr) = Materialize(Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(sum(col("l_extendedprice").cast(d2)).cast("double").as("val")),
        (lit(1.05) *
          (sum(col("val").cast(DecimalType(38, 2))).cast("double") / count(lit(1)))).as("thr"))
      sv.filter(col("val") > Materialize.lit(thr, "thr"))
        .select(col("l_suppkey"), round(col("val"), 2).as("supplier_value"))
        .orderBy(col("supplier_value").desc, col("l_suppkey"))
    }
  )
}
