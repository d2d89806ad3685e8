package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Join layer (SURVEY.md §2b G13). The reference is a single-input job
  * with no joins (reference/WordCount.java:160 adds exactly one path);
  * this generalizes the MapReduce join idioms to Catalyst's planner:
  * reduce-side join → sort-merge, map-side join → broadcast-hash.
  *
  * 100 TB posture: dimension tables (region 5, nation 25, supplier 10,
  * customer small) get explicit `broadcast()` hints — fact-side rows
  * never shuffle for those joins. Fact⋈fact (lineitem⋈orders) is left to
  * sort-merge + AQE, which also handles skew splitting at runtime.
  */
object Joins {

  private val revD = DecimalType(28, 4)
  private val priceD = DecimalType(18, 2)

  def all: Seq[Q] = Seq(

    // G13 headline: 5-table star join — fact⋈fact sort-merge, then three
    // broadcast dim hops; revenue per region/nation.
    Q("join_star_revenue",
      """SELECT r_name, n_name,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      // r19: every join side here broadcasts (orders 2.7 MB at sf0.1
      // sits under the session threshold too), so the whole probe
      // chain + partial aggregate fused onto the single-row-group fact
      // scan task — one core did all the work (stage profile: one ~1 s
      // 1-task stage was the query). The spread loader moves the four
      // probes + aggregate onto every core; the fact columns shuffled
      // are just (l_orderkey, l_extendedprice, l_discount).
      val li = Tables.spread(s, d, "lineitem")
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(revD))
            .cast("double").as("revenue"))
        .orderBy("r_name", "n_name")
    }.copy(headline = true),

    // G13: pure broadcast chain over dimensions.
    Q("join_broadcast_dims",
      """SELECT r_name, COUNT(*) AS customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("customers"),
          sum(col("c_acctbal").cast(priceD)).cast("double").as("total_bal"))
        .orderBy("r_name")
    },

    // G13: LEFT OUTER — orders keep their row even with no matching lines.
    Q("join_left_outer",
      """SELECT o_orderkey, COUNT(l_orderkey) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // r19 (guide §2.3 "aggregate before you shuffle"): the grouped
      // left join aggregated AFTER the join, so the SMJ exchanged and
      // sorted all 600k fact rows. Aggregating lineitem per l_orderkey
      // FIRST shrinks the join's right side to |orders| rows — the
      // exchange carries 150k pre-merged rows, the outer join preserves
      // order rows with no lines (count → 0 via coalesce, qty stays
      // NULL — exactly the grouped-left-join semantics; proven
      // hash-identical by the oracle at sf0.01/0.1).
      val la = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(col("l_orderkey")).as("ln"),
          sum(col("l_quantity").cast(priceD)).cast("double").as("q"))
      Tables.orders(s, d).select("o_orderkey")
        .join(la, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("ln"), lit(0L)).as("n_lines"), col("q").as("qty"))
        .orderBy("o_orderkey")
    },

    // G13: RIGHT OUTER — the mirror of join_left_outer (every lineitem
    // keeps its row even when the filtered left side drops its order).
    Q("join_right_outer",
      """SELECT l_orderkey, l_linenumber, o_orderstatus
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
        |RIGHT JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY l_orderkey, l_linenumber, o_orderstatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "right")
        .select("l_orderkey", "l_linenumber", "o_orderstatus")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus").asc_nulls_first)
    },

    // G13: LEFT SEMI (EXISTS) — customers that placed at least one order.
    Q("join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // G13: LEFT ANTI (NOT EXISTS) — customers with no 1995 order (every
    // customer has *some* order in the synthetic data, so the plain anti
    // join would be vacuously empty; the filtered right side keeps the
    // check meaningful: 326 rows at sf0.01).
    Q("join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(year(col("o_orderdate")) === 1995),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // G13: FULL OUTER over the distinct nation keys of two tables.
    Q("join_full_outer",
      """SELECT coalesce(cn, sn) AS nkey,
        |  (cn IS NOT NULL) AS has_customer, (sn IS NOT NULL) AS has_supplier
        |FROM (SELECT DISTINCT c_nationkey AS cn FROM customer) a
        |FULL OUTER JOIN (SELECT DISTINCT s_nationkey AS sn FROM supplier) b
        |ON cn = sn
        |ORDER BY nkey""".stripMargin) { (s, d) =>
      val cn = Tables.customer(s, d).select(col("c_nationkey").as("cn")).distinct()
      val sn = Tables.supplier(s, d).select(col("s_nationkey").as("sn")).distinct()
      cn.join(sn, col("cn") === col("sn"), "full_outer")
        .select(coalesce(col("cn"), col("sn")).as("nkey"),
          col("cn").isNotNull.as("has_customer"),
          col("sn").isNotNull.as("has_supplier"))
        .orderBy("nkey")
    },

    // G13: equi join + theta (range) residual — ship date strictly after
    // order date, grouped monthly.
    Q("join_theta_range",
      """SELECT date_trunc('month', o_orderdate) AS om, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        |GROUP BY om ORDER BY om""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("om"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(revD))
            .cast("double").as("revenue"))
        .orderBy("om")
    },

    // G13: CROSS JOIN (tiny × tiny only — a guard rail, not a scale op).
    Q("join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    },

    // G13/custom: AS-OF join — for each event, the most recent purchase
    // (inclusive) by the same user. Composed via union + window (one
    // shuffle on user_id; see AsOfJoin scaladoc). The oracle states the
    // same semantics as a correlated subquery.
    Q("join_asof",
      """SELECT e.event_id,
        |  (SELECT max(p.ts) FROM events p
        |   WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |     AND p.ts <= e.ts) AS asof_ts
        |FROM events e ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      AsOfJoin.lastTimestamp(
        ev, ev.filter(col("event_type") === "purchase"),
        key = "user_id", leftTs = "ts", rightTs = "ts")
        .select("event_id", "asof_ts")
        .orderBy("event_id")
    },

    // G13 as-of with PAYLOAD carry: each event gets the value of the
    // most recent prior purchase (ties at equal ts broken by the
    // (ts, value) struct order — mirrored by the oracle's ORDER BY).
    Q("join_asof_payload",
      """SELECT e.event_id,
        |  (SELECT p.value FROM events p
        |   WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |     AND p.ts <= e.ts
        |   ORDER BY p.ts DESC, p.value DESC LIMIT 1) AS asof_value
        |FROM events e ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      AsOfJoin.join(
        ev, ev.filter(col("event_type") === "purchase").select("user_id", "ts", "value"),
        key = "user_id", leftTs = "ts", rightTs = "ts", payload = Seq("value"))
        .select(col("event_id"), col("asof_value"))
        .orderBy("event_id")
    },

    // X16 forward direction: for each event, the EARLIEST purchase at
    // or after it by the same user (the look-ahead mirror of
    // join_asof — "next conversion after this touch"). Same
    // one-shuffle union+window composition, frame reversed.
    Q("join_asof_forward",
      """SELECT e.event_id,
        |  (SELECT min(p.ts) FROM events p
        |   WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |     AND p.ts >= e.ts) AS next_ts
        |FROM events e ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      AsOfJoin.firstTimestamp(
        ev, ev.filter(col("event_type") === "purchase"),
        key = "user_id", leftTs = "ts", rightTs = "ts")
        .select("event_id", "next_ts")
        .orderBy("event_id")
    },

    // X16 with a TOLERANCE bound (pandas merge_asof tolerance): the
    // match must lie within 6 hours of the probe or it is discarded.
    // Post-filtering the unbounded as-of is EXACT, not approximate: if
    // the most recent prior purchase is older than the cutoff, every
    // other candidate is older still, so the bounded window is empty —
    // one when() on top of the same one-shuffle union+window plan.
    Q("join_asof_tolerance",
      """SELECT e.event_id,
        |  (SELECT max(p.ts) FROM events p
        |   WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |     AND p.ts <= e.ts AND p.ts >= e.ts - INTERVAL 6 HOUR) AS asof_ts
        |FROM events e ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      AsOfJoin.lastTimestamp(
        ev, ev.filter(col("event_type") === "purchase"),
        key = "user_id", leftTs = "ts", rightTs = "ts")
        .select(col("event_id"),
          when(col("asof_ts") >= col("ts") - expr("INTERVAL 6 HOURS"), col("asof_ts"))
            .as("asof_ts"))
        .orderBy("event_id")
    },

    // G13 as-of, bucketed scale form (same oracle: results must be
    // identical to join_asof; user_id is exactly the ~tens-cardinality
    // key the bucketed variant exists for).
    Q("join_asof_bucketed",
      """SELECT e.event_id,
        |  (SELECT max(p.ts) FROM events p
        |   WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |     AND p.ts <= e.ts) AS asof_ts
        |FROM events e ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      AsOfJoin.lastTimestampBucketed(
        ev, ev.filter(col("event_type") === "purchase"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        bucketSeconds = 6 * 3600L) // 6h buckets over ~days of data
        .select("event_id", "asof_ts")
        .orderBy("event_id")
    },

    // X7 skew posture: skew-GATED salted join must produce exactly the
    // plain join's result — the oracle IS the unsalted join. The gate
    // (VERDICT r08 task 3) measures rows-per-key first and salts only
    // above-threshold keys; on this near-uniform orderkey (≤7 lineitems
    // per order at every sf) it takes the plain-join branch, so the
    // bench cost tracks join_star_revenue instead of paying the
    // unconditional-salt ~5x tax. The salting branches are pinned on a
    // genuinely skewed fixture in SkewSpec/PlanAuditSpec.
    Q("join_skew_salted",
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Skew.saltedJoinGated(
        Tables.lineitem(s, d), Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey"),
        key = "l_orderkey", saltBuckets = 8,
        saltSource = Seq("l_partkey", "l_suppkey", "l_linenumber"),
        hotKeyRowThreshold = 10000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(priceD)).cast("double").as("qty"))
        .orderBy("o_orderstatus")
    }
  )
}
