package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers (SURVEY.md §4.4, X7).
  *
  * Hot keys (the reference's own partitioner concedes the hotspot at
  * reference/WordCount.java:55-59 — "the", "of the" dominate any n-gram
  * distribution) overload a single shuffle partition at scale. AQE's
  * skew-join splitting handles sort-merge joins; for cases it can't see
  * (e.g. aggregations, or forced shuffle-hash joins) the classic fix is
  * salting: widen the hot key by a deterministic salt, join/aggregate on
  * (key, salt), then combine.
  */
object Skew {

  /** Salted equi-join: `big ⋈ small` on `key`, with the big side salted
    * by a deterministic per-row hash and the small side exploded across
    * all `saltBuckets` salts. Produces exactly the rows of the plain
    * join, but spreads each hot key over `saltBuckets` shuffle
    * partitions. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBuckets: Int, saltSource: Seq[String]): DataFrame = {
    val b = big.withColumn("__salt",
      pmod(hash(saltSource.map(col): _*), lit(saltBuckets)))
    val sm = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    b.join(sm, Seq(key, "__salt")).drop("__salt")
  }

  /** X7+X76: skew-GATED salted equi-join — measure first, salt only what
    * the measurement says is hot (VERDICT r08 task 3; the unconditional
    * [[saltedJoin]] pays the explode+widened-shuffle tax ~5x even on a
    * uniform key distribution).
    *
    * The gate is the X76 skew diagnostic folded into the operator: one
    * hash-aggregation of the big side to rows-per-key (|keys| rows, the
    * same map-side-combined agg `skew_diagnostic` runs), filtered to keys
    * above `hotKeyRowThreshold`. Decisions are scalar counts over that
    * (small) table — never a collect of data rows:
    *
    *   - no hot keys        → plain equi-join; AQE's skew-split already
    *                          covers residual sort-merge skew at runtime.
    *   - ≤ `maxHotKeys` hot → hybrid: broadcast the hot-key set, split
    *                          the big side, salt ONLY the hot rows, plain
    *                          join the cold rest, union. The small side's
    *                          explode is limited to its hot-key rows.
    *   - >  `maxHotKeys`    → the "hot" set is really a uniformly heavy
    *                          distribution; broadcasting it would not be
    *                          bounded, so salt everything (old behavior).
    *
    * Cost of measuring: one extra scan+agg of the big side, pruned to the
    * key column — at 100 TB that is exactly the diagnostic a straggling
    * job forces you to run anyway, paid up front instead of at 3 a.m.
    * Result set is identical to the plain join on `key` in all branches
    * (SkewSpec/PlanAuditSpec pin both the equality and the branch
    * switching). */
  def saltedJoinGated(big: DataFrame, small: DataFrame, key: String,
                      saltBuckets: Int, saltSource: Seq[String],
                      hotKeyRowThreshold: Long,
                      maxHotKeys: Int = 10000): DataFrame = {
    val hotKeys = big.groupBy(col(key))
      .agg(count(lit(1)).as("__rows_per_key"))
      .filter(col("__rows_per_key") > hotKeyRowThreshold)
      .select(col(key))
    // scalar-count decision on the capped aggregate (no data collect).
    // r19: the probe is a PLAN decision, not a result — memoized under
    // the graft.Memo rule on `big`'s input files and analyzed plan (two
    // gated joins over the SAME file but a different derived key
    // expression, the SkewSpec hot vs uniform fixtures, never adopt each
    // other's probe), so repeated runs pay the rows-per-key aggregation
    // job once per input version.
    val nHot: Long = graft.Memo.of(big, "hotKeys", key, hotKeyRowThreshold, maxHotKeys) {
      hotKeys.limit(maxHotKeys + 1).count()
    }
    if (nHot == 0L) {
      big.join(small, Seq(key))
    } else if (nHot > maxHotKeys) {
      saltedJoin(big, small, key, saltBuckets, saltSource)
    } else {
      val hot = broadcast(hotKeys.withColumn("__hot", lit(true)))
      val tagged = big.join(hot, Seq(key), "left")
      val hotRows = tagged.filter(col("__hot")).drop("__hot")
      val coldRows = tagged.filter(col("__hot").isNull).drop("__hot")
      // small side: only its hot-key rows pay the explode
      val smallHot = small.join(hot, Seq(key), "left")
      saltedJoin(hotRows, smallHot.filter(col("__hot")).drop("__hot"),
          key, saltBuckets, saltSource)
        .unionByName(coldRows.join(smallHot.filter(col("__hot").isNull).drop("__hot"), Seq(key)))
    }
  }

  /** Two-phase (salted) aggregation: partial aggregate on (key, salt),
    * then final aggregate on key. Spark's partial/final HashAggregate
    * already does this for algebraic aggregates; this form is for
    * explicitly forcing an extra fan-out stage on a known-hot key. */
  def saltedCount(df: DataFrame, key: String, saltBuckets: Int,
                  saltSource: Seq[String]): DataFrame = {
    df.withColumn("__salt", pmod(hash(saltSource.map(col): _*), lit(saltBuckets)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("cnt"))
  }
}
