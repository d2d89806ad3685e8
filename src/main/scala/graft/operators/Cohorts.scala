package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Cohort / longitudinal event analytics: retention matrices and
  * per-entity exponentially-weighted running statistics.
  *
  * Determinism: cohort bucketing is calendar arithmetic (Monday-start
  * `date_trunc('week')` in both engines); the EWMA is a sequential fold
  * in (ts, event_id) order — multiply-add only, so both engines execute
  * the IDENTICAL IEEE operation sequence (same trick as token_entropy's
  * sequential-fold oracle parity).
  *
  * 100 TB posture: retention is two hash aggregations and one keyed
  * join, all on user_id or (cohort, week) — no windows, no collect. The
  * EWMA folds inside ONE per-user aggregation (collect_list bounded by
  * per-user event counts — event streams per entity are small; a
  * pathological entity would hit the same bound any per-key sequential
  * statistic does, and gets capped upstream by sampling, not here).
  */
object Cohorts {

  def all: Seq[Q] = Seq(

    // Weekly retention cohorts: users bucketed by first-seen week, then
    // distinct (cohort, activity-week) user counts — the triangle
    // matrix in long form.
    Q("retention_cohorts",
      """WITH e AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT c.cohort_week, a.wk AS activity_week,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY c.cohort_week, a.wk
        |ORDER BY cohort_week, activity_week""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val cohort = e.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      val act = e.distinct()
      act.join(cohort, "user_id")
        .groupBy(col("cohort_week"), col("wk").as("activity_week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "activity_week")
    },

    // Per-user EWMA of event values (α = 0.25), seeded with the user's
    // first value: ewma_i = 0.25·x_i + 0.75·ewma_{i-1} folded in
    // (ts, event_id) order. Spark folds via the `aggregate` HOF over the
    // sorted struct array; DuckDB's list_reduce seeds from the first
    // element with the same left fold — identical operation order, so
    // the doubles match bit-for-bit (rounded once for display).
    Q("ewma_user_value",
      """WITH ord AS (
        |  SELECT user_id,
        |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, len(xs) AS n_events,
        |  round(list_reduce(xs,
        |    (acc, x) -> acc * CAST(0.75 AS DOUBLE) + x * CAST(0.25 AS DOUBLE)), 9) AS ewma
        |FROM ord ORDER BY user_id""".stripMargin) { (s, d) =>
      val sorted = array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value").cast("double").as("v"))))
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(transform(sorted, e => e.getField("v")).as("xs"))
        .select(col("user_id"), size(col("xs")).cast("long").as("n_events"),
          round(aggregate(
            slice(col("xs"), lit(2), size(col("xs")) - 1),
            element_at(col("xs"), 1),
            (acc, x) => acc * lit(0.75) + x * lit(0.25)), 9).as("ewma"))
        .orderBy("user_id")
    },

    // X38b: RFM customer segmentation — recency / frequency / monetary
    // quintile scores + a rule-based segment label, the classic
    // behavioral-segmentation composite. Recency anchors on a FIXED
    // literal date (no "now()" — determinism is a registry invariant);
    // every ntile orders with a c_custkey tiebreak so the quintile
    // boundaries are engine-deterministic (SQL-standard ntile
    // remainder-to-front semantics, [[Physical.ntile]] over the ranks
    // [[Physical.globalRanks]] gives). Monetary sums as DECIMAL then
    // casts once. One customer-keyed aggregation + three global orders
    // over its |customers| rows: hash-shaped, no per-order windows.
    Q("customer_rfm",
      """WITH base AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(o_orderdate), TIMESTAMP '2001-09-01 00:00:00') AS recency_days,
        |    count(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS m_score
        |  FROM base)
        |SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
        |  frequency, monetary, r_score, f_score, m_score,
        |  CASE
        |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
        |    WHEN f_score >= 4 THEN 'loyal'
        |    WHEN m_score >= 4 THEN 'big_spender'
        |    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |    WHEN r_score <= 2 THEN 'dormant'
        |    ELSE 'regular' END AS segment
        |FROM scored ORDER BY o_custkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val base = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(
          datediff(lit("2001-09-01").cast("timestamp"), max(col("o_orderdate")))
            .cast("long").as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast(DecimalType(38, 4))).cast("double").as("monetary"))
      val scores = Seq("r_score" -> col("recency_days").desc,
        "f_score" -> col("frequency").asc, "m_score" -> col("monetary").asc)
      val scored = Physical.globalRanks(base, scores.map { case (s, by) => s -> Seq(by, col("o_custkey")) }: _*)
        .select(base.columns.map(col) ++ scores.map { case (s, _) =>
          Physical.ntile(5, col(s), col("n")).as(s) }: _*)
      scored.select(
        col("o_custkey"), col("recency_days"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("f_score") >= 4, "loyal")
          .when(col("m_score") >= 4, "big_spender")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2, "dormant")
          .otherwise("regular").as("segment"))
        .orderBy("o_custkey")
    },

    // X38c: ABC / Pareto revenue classification of parts — rank parts
    // by discounted lineitem revenue and class them A (cumulative share
    // ≤70%), B (≤90%), C (rest). The cumulative sum runs over EXACT
    // DECIMAL revenue in a fully-determined order (revenue DESC,
    // partkey), and the 70/90 thresholds compare 10·cum against
    // 7·total / 9·total in decimal arithmetic — no float boundary can
    // reclassify a part between engines. One part-keyed hash agg + one
    // [[Physical.globalOrder]] over its |parts| rows.
    Q("abc_pareto_parts",
      """WITH rev AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS r
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT SUM(r) AS total FROM rev),
        |ranked AS (
        |  SELECT l_partkey, r,
        |    SUM(r) OVER (ORDER BY r DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    row_number() OVER (ORDER BY r DESC, l_partkey) AS rk
        |  FROM rev)
        |SELECT l_partkey, CAST(r AS DOUBLE) AS revenue, rk AS rev_rank,
        |  CASE WHEN cum * 10 <= t.total * 7 THEN 'A'
        |       WHEN cum * 10 <= t.total * 9 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM ranked, tot t ORDER BY l_partkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val rev = Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(28, 4))).as("r"))
      Physical.globalOrder(rev, Seq(col("r").desc, col("l_partkey")), "r")
        .select(col("l_partkey"), col("r").cast("double").as("revenue"),
          col("rank").as("rev_rank"),
          when(col("cum_r") * 10 <= col("tot_r") * 7, "A")
            .when(col("cum_r") * 10 <= col("tot_r") * 9, "B")
            .otherwise("C").as("abc_class"))
        .orderBy("l_partkey")
    }
  )
}
