package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Experimentation & distribution-monitoring analytics:
  *
  *   - `ab_test_welch`: a deterministic hash-bucketed A/B assignment of
  *     users (the same md5 discipline as X20's dataset split — a user's
  *     variant never depends on other rows, runs, or cluster size)
  *     followed by the two-sample Welch t statistic over purchase
  *     values — the read-out every experimentation platform computes.
  *   - `lang_drift_js`: Jensen–Shannon divergence terms between the
  *     language distributions of two corpus halves — the drift monitor
  *     run between a new crawl snapshot and the corpus it extends
  *     (alarm before a skewed snapshot pollutes the training mix).
  *
  * 100 TB posture: both are single-scan conditional aggregations — the
  * variant / half label is a scan-local expression, the agg is one
  * map-side-partial hash aggregation to a handful of rows, and the
  * final statistic is computed on that tiny output (broadcast where a
  * join-back is needed). No windows, no fact-table joins.
  *
  * Cross-engine float discipline (stat_aggregates conventions): moments
  * come from exact DECIMAL power sums — order-independent under shuffle
  * — cast to double once; the t / divergence formulas are then written
  * with the SAME literals and promotion points in both engines, and
  * outputs round once for display.
  */
object Experiments {

  private val d2 = DecimalType(18, 2)
  private val d4 = DecimalType(38, 4)

  def all: Seq[Q] = Seq(

    // Two-sample Welch t over purchase values, variant = md5 half-split
    // of user_id (first hex digit < '8' ≈ 50/50). One row out: counts,
    // means, sample variances, and t — all from one conditional agg.
    Q("ab_test_welch",
      """WITH e AS (
        |  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 1) < '8'
        |              THEN 'A' ELSE 'B' END AS variant,
        |         value
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT
        |    count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 'A' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s_a,
        |    CAST(SUM(CASE WHEN variant = 'B' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s_b,
        |    CAST(SUM(CASE WHEN variant = 'A' THEN CAST(value * value AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_a,
        |    CAST(SUM(CASE WHEN variant = 'B' THEN CAST(value * value AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_b
        |  FROM e)
        |SELECT n_a, n_b,
        |  round(s_a / n_a, 6) AS mean_a,
        |  round(s_b / n_b, 6) AS mean_b,
        |  round((ss_a - s_a * s_a / n_a) / (n_a - 1), 6) AS var_a,
        |  round((ss_b - s_b * s_b / n_b) / (n_b - 1), 6) AS var_b,
        |  round((s_a / n_a - s_b / n_b)
        |    / sqrt(((ss_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
        |         + ((ss_b - s_b * s_b / n_b) / (n_b - 1)) / n_b), 6) AS t_welch
        |FROM s""".stripMargin) { (s, d) =>
      val variant = when(
        substring(md5(concat(col("user_id").cast("string"), lit(":ab"))), 1, 1) < "8", "A")
        .otherwise("B")
      val v = col("value")
      val e = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(variant.as("variant"), v.as("value"))
      val isA = col("variant") === "A"
      val isB = col("variant") === "B"
      val st = e.agg(
        count(when(isA, lit(1))).as("n_a"),
        count(when(isB, lit(1))).as("n_b"),
        sum(when(isA, col("value").cast(d2))).cast("double").as("s_a"),
        sum(when(isB, col("value").cast(d2))).cast("double").as("s_b"),
        sum(when(isA, (col("value") * col("value")).cast(d4))).cast("double").as("ss_a"),
        sum(when(isB, (col("value") * col("value")).cast(d4))).cast("double").as("ss_b"))
      val varA = (col("ss_a") - col("s_a") * col("s_a") / col("n_a")) / (col("n_a") - 1)
      val varB = (col("ss_b") - col("s_b") * col("s_b") / col("n_b")) / (col("n_b") - 1)
      st.select(col("n_a"), col("n_b"),
        round(col("s_a") / col("n_a"), 6).as("mean_a"),
        round(col("s_b") / col("n_b"), 6).as("mean_b"),
        round(varA, 6).as("var_a"),
        round(varB, 6).as("var_b"),
        round((col("s_a") / col("n_a") - col("s_b") / col("n_b"))
          / sqrt(varA / col("n_a") + varB / col("n_b")), 6).as("t_welch"))
    },

    // Per-language JS divergence terms between the even- and odd-source
    // halves of the corpus. Each output row is a pure per-row formula
    // over exact integer counts (no cross-row double sum — summing the
    // handful of terms is left to the reader so no engine-ordering of
    // double addition enters the result). 0·ln(0) terms are defined as
    // 0 via the p > 0 guards, the standard JS convention.
    Q("lang_drift_js",
      """WITH h AS (
        |  SELECT lang, CAST(substring(source, 4) AS INT) % 2 AS half FROM documents),
        |c AS (
        |  SELECT lang,
        |    count(CASE WHEN half = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN half = 1 THEN 1 END) AS n_b
        |  FROM h GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b FROM c)
        |SELECT lang, n_a, n_b,
        |  round(CAST(n_a AS DOUBLE) / t_a, 9) AS p,
        |  round(CAST(n_b AS DOUBLE) / t_b, 9) AS q,
        |  round(
        |    0.5 * (CASE WHEN n_a > 0 THEN (CAST(n_a AS DOUBLE) / t_a)
        |        * ln((CAST(n_a AS DOUBLE) / t_a)
        |            / (0.5 * (CAST(n_a AS DOUBLE) / t_a + CAST(n_b AS DOUBLE) / t_b))) ELSE 0.0 END)
        |  + 0.5 * (CASE WHEN n_b > 0 THEN (CAST(n_b AS DOUBLE) / t_b)
        |        * ln((CAST(n_b AS DOUBLE) / t_b)
        |            / (0.5 * (CAST(n_a AS DOUBLE) / t_a + CAST(n_b AS DOUBLE) / t_b))) ELSE 0.0 END),
        |    9) AS js_term
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin) { (s, d) =>
      val half = pmod(substring(col("source"), 4, 10).cast("int"), lit(2))
      val c = Tables.documents(s, d)
        .select(col("lang"), half.as("half"))
        .groupBy("lang")
        .agg(count(when(col("half") === 0, lit(1))).as("n_a"),
          count(when(col("half") === 1, lit(1))).as("n_b"))
      val t = c.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
      val p = col("n_a").cast("double") / col("t_a")
      val q = col("n_b").cast("double") / col("t_b")
      val m = lit(0.5) * (p + q)
      c.crossJoin(broadcast(t))
        .select(col("lang"), col("n_a"), col("n_b"),
          round(p, 9).as("p"),
          round(q, 9).as("q"),
          round(lit(0.5) * when(col("n_a") > 0, p * log(p / m)).otherwise(lit(0.0))
            + lit(0.5) * when(col("n_b") > 0, q * log(q / m)).otherwise(lit(0.0)), 9)
            .as("js_term"))
        .orderBy("lang")
    },

    // X86: two-sample Kolmogorov–Smirnov statistic between the A/B
    // halves' purchase-value distributions — the NON-parametric
    // companion to ab_test_welch (Welch compares means; KS flags ANY
    // distributional shift: variance, shape, tails — the check a
    // guardrail metric or a feature-drift monitor actually wants).
    // D = max over observed values of |F_A(x) − F_B(x)|, with both
    // empirical CDFs stepped at every distinct value of EITHER sample
    // (the textbook two-sample definition; ties collapse into one step).
    //
    // 100 TB posture: one conditional count per distinct value (hash
    // agg with map-side partials), then the running CDF sums through
    // [[Physical.globalOrder]] — with `value` a continuous double,
    // |distinct| ≈ |purchase rows| at scale, so a bare `ORDER BY value`
    // window would sort the table in one task. Each |F_A−F_B| comes from
    // exact integer cumulative counts with one division per side, and
    // the final max is order-independent, so no float-accumulation
    // order enters the result. Degenerate guard: if either variant has
    // zero purchases the CDF ratio is undefined — both engines emit ZERO
    // rows (WHERE n_a > 0 AND n_b > 0) rather than a silent NULL d_ks.
    Q("ks_test_purchase",
      """WITH e AS (
        |  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 1) < '8'
        |              THEN 'A' ELSE 'B' END AS variant,
        |         value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT value,
        |    count(CASE WHEN variant = 'A' THEN 1 END) AS ca,
        |    count(CASE WHEN variant = 'B' THEN 1 END) AS cb
        |  FROM e GROUP BY value),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM c),
        |r AS (
        |  SELECT
        |    CAST(SUM(ca) OVER (ORDER BY value) AS DOUBLE) AS cum_a,
        |    CAST(SUM(cb) OVER (ORDER BY value) AS DOUBLE) AS cum_b
        |  FROM c)
        |SELECT n_a, n_b,
        |  round(max(abs(cum_a / n_a - cum_b / n_b)), 6) AS d_ks
        |FROM r CROSS JOIN t
        |WHERE n_a > 0 AND n_b > 0
        |GROUP BY n_a, n_b""".stripMargin) { (s, d) =>
      val variant = when(
        substring(md5(concat(col("user_id").cast("string"), lit(":ab"))), 1, 1) < "8", "A")
        .otherwise("B")
      val c = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(variant.as("variant"), col("value"))
        .groupBy("value")
        .agg(count(when(col("variant") === "A", lit(1))).as("ca"),
          count(when(col("variant") === "B", lit(1))).as("cb"))
      Physical.globalOrder(c, Seq(col("value")), "ca", "cb")
        .select(col("cum_ca").cast("double").as("cum_a"), col("cum_cb").cast("double").as("cum_b"),
          col("tot_ca").as("n_a"), col("tot_cb").as("n_b"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .groupBy("n_a", "n_b")
        .agg(round(max(abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b"))), 6)
          .as("d_ks"))
        .select(col("n_a"), col("n_b"), col("d_ks"))
    }
  )
}
