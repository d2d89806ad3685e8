package graft.operators

import graft.Q
import graft.functions.{FirstCharPartitioner, InterleaveBitsEval, TextFns}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout layer (SURVEY.md §2b G18–G19): the reference's exact
  * physical pattern — partition by key range, sort within partitions, so
  * concatenated partition outputs are globally sorted
  * (reference/report.md:139-145).
  *
  * Spark expresses it two ways:
  *   - `repartitionByRange(n, key).sortWithinPartitions(key)` — Spark
  *     samples the real key distribution for balanced ranges (strictly
  *     better than the reference's fixed 26-letter math at scale);
  *   - `repartition(n, first_char_partition(key))` — bit-exact fidelity
  *     to the reference's WCPartitioner buckets via the custom Catalyst
  *     expression [[graft.functions.FirstCharPartitionExpr]].
  */
object Physical {

  /** Distinct normalized words of `documents` (the reference's n=1 keys). */
  private def words(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .distinct()

  /** `repartition(n, expr)` is HASH partitioning — physical partition is
    * `pmod(murmur3(expr), n)`, not the expression value. To place bucket
    * `i` in physical partition `i` exactly (the reference's contract:
    * reducer i writes range i, so concatenating part files in order is
    * globally sorted), map each bucket id to a sentinel int whose
    * Murmur3(seed=42) hash ≡ i (mod n). Pure DataFrame API, no RDDs.
    *
    * NOTE: this bakes in Spark's internal HashPartitioning formula
    * (Murmur3_x86_32.hashInt, seed 42, pmod). A Spark upgrade changing
    * either would silently break the placement guarantee — PhysicalSpec's
    * `p == expected_pid` assertion is the canary; re-run it on upgrade.
    */
  private def bucketSentinel(bucket: Int, n: Int): Int = {
    var k = 0
    while (true) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42)
      if (((h % n) + n) % n == bucket) return k
      k += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Column mapping a bucket-id column to its sentinel (see above). */
  private def sentinelOf(bucketCol: org.apache.spark.sql.Column, n: Int) =
    (0 until n).foldLeft(lit(bucketSentinel(0, n))) { (acc, i) =>
      when(bucketCol === i, lit(bucketSentinel(i, n))).otherwise(acc)
    }

  /** Public form of the reference's WCPartitioner placement: pass to
    * `repartition(n, referencePlacement(key, n))` to land first-char
    * bucket i in physical partition i exactly — part files then
    * concatenate to a global sort (the reference's output contract).
    * Used by the layout query below and the [[graft.WordCount]] CLI. */
  def referencePlacement(keyCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    sentinelOf(FirstCharPartitioner(keyCol, n), n)

  /** `df` plus `rank` (1-based, long) in `order`, which must be total,
    * the row count `n`, and for each integral or decimal column `s` of
    * `sums` its running sum `cum_s` (nulls count as 0) and total `tot_s`
    * (null only if every `s` is).
    *
    * An input [[oneTask]] admits is ordered by one window in one task,
    * its totals frames of that window (not a second window or scan).
    * Any other is never held by one task (the distributed zipWithIndex;
    * the reference's WCPartitioner, PAPER.md §0): range partitions
    * tagged with their id, one [[Materialize]] whose job also carries
    * `n` and the totals, per-partition ranks and running sums, and
    * per-partition offsets prefix-summed over one row per partition and
    * broadcast back. Materializing keeps one set of boundaries: each
    * range exchange samples its own, so two readers of one
    * `repartitionByRange` agree only while the engine reuses it (with
    * reuse off most `assign_dense_ids` ids came out wrong). Neither
    * path depends on where the boundaries land. */
  def globalOrder(df: DataFrame, order: Seq[Column], sums: String*): DataFrame = {
    if (oneTask(df)) {
      val w = Window.orderBy(order: _*)
      val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.select(col("*") +: row_number().over(upTo).cast("long").as("rank") +:
        count(lit(1)).over(all).as("n") +: sums.flatMap(s =>
          Seq(coalesce(sum(col(s)).over(upTo), lit(0)).as(s"cum_$s"), sum(col(s)).over(all).as(s"tot_$s"))): _*)
    } else {
      val pid = "range_pid"
      val totals = count(lit(1)).as("n") +: sums.map(s => sum(col(s)).as(s"tot_$s"))
      val (ranged, m) = Materialize(df.repartitionByRange(order: _*).withColumn(pid, spark_partition_id()),
        totals.head, totals.tail: _*)
      val local = Window.partitionBy(pid).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prior = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranged.groupBy(pid).agg(totals.head, totals.tail: _*)
        .select(col(pid) +: m.schema.fieldNames.toSeq.map(t =>
          coalesce(sum(col(t)).over(prior), lit(0)).as(s"off_$t")): _*)
      ranged.join(broadcast(offsets), pid).select(df.columns.map(col) ++
        Seq((col("off_n") + row_number().over(local)).as("rank"), Materialize.lit(m, "n").as("n")) ++
        sums.flatMap(s => Seq(
          (col(s"off_tot_$s") + coalesce(sum(col(s)).over(local), lit(0)))
            .cast(m.schema(s"tot_$s").dataType).as(s"cum_$s"),
          Materialize.lit(m, s"tot_$s").as(s"tot_$s"))): _*)
    }
  }

  /** [[globalOrder]]'s `rank` in each of `orders`, named beside it,
    * plus `n`: one select in one task, where a `globalOrder` per order
    * made `customer_rfm` about 1.5× slower in `graft.Bench` at sf0.001. */
  def globalRanks(df: DataFrame, orders: (String, Seq[Column])*): DataFrame =
    if (oneTask(df)) df.select(col("*") +: orders.map { case (r, order) =>
      row_number().over(Window.orderBy(order: _*)).cast("long").as(r) } :+ count(lit(1)).over(
      Window.orderBy(orders.head._2: _*).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"): _*)
    else orders.foldLeft(df) { case (acc, (r, order)) =>
      globalOrder(acc.drop("n"), order).withColumnRenamed("rank", r) }

  /** One task orders `df` while broadcasts are on (-1: nothing may be
    * gathered in one place) and its estimate is at most 512 MB: on 4
    * cores the distributed path lost at every size measured, up to
    * 295 MB (`abc_pareto_parts`, 100× sf0.1: 40.9 s against 29.1 s). */
  private def oneTask(df: DataFrame): Boolean =
    Hints.broadcastThresholdBytes(df.sparkSession) > 0 &&
      df.queryExecution.analyzed.stats.sizeInBytes <= (512L << 20)

  /** SQL `ntile(k)` of the row with 1-based `rank` among `n` rows: the
    * first `n % k` tiles hold one row more than the rest. */
  def ntile(k: Int, rank: Column, n: Column): Column = {
    val div = (a: Column, b: Column) => call_function("div", a, b)
    val q = div(n, lit(k))
    val big = (q + 1) * (n % k) // rows in the larger tiles
    val i = rank - 1
    (when(i < big, div(i, q + 1)).otherwise(n % k + div(i - big, q)) + 1).cast("int")
  }

  /** G18+: write `df` as a bucketed, per-bucket-sorted parquet table —
    * the persisted form of a co-located join side. Two tables bucketed
    * by the same key into the same bucket count join WITHOUT any
    * Exchange (PhysicalSpec asserts the plan): at 100 TB that turns the
    * recurring fact⋈fact shuffle into a one-time layout cost paid at
    * ingest. Buckets are also the unit the ANN/near-dup postings tables
    * would persist as. */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
                    key: String, buckets: Int): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Multi-key form (the [[graft.Indexes]] artifact writer): bucket by
    * all keys, sort each bucket by the first — equal composite keys
    * land in one bucket, so a join on a superset of the bucket keys
    * reads co-partitioned buckets. */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
                    keys: Seq[String], buckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*).sortBy(keys.head)
      .mode("overwrite").saveAsTable(table)

  /** X27: z-order (Morton) clustering of events by (user_id, value).
    * Both dimensions are quantized to 16-bit positions against global
    * min/max (a 1-row broadcast), interleaved by the native
    * [[InterleaveBitsEval]] expression, then range-partitioned and
    * sorted by the z-value. Files written from this layout are
    * clustered in BOTH dimensions, so parquet footer min/max prunes
    * 2-D box queries — 1-D sorting can only ever prune one of them.
    * Quantization only affects placement, never results. */
  /** The quantize+interleave half of [[zorderEvents]], exposed so the
    * morton key itself is oracle-able as a scalar (VERDICT r08 task 8):
    * 16-bit quantization of both dimensions against global min/max,
    * then [[InterleaveBitsEval]]. Pure integer/IEEE math — DuckDB
    * reproduces it bit-for-bit (trunc-toward-zero casts, the same
    * magic-mask spread cascade). */
  def zorderQuantize(events: DataFrame): DataFrame = {
    val g = events.agg(
      min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val uSpan = greatest(col("umax") - col("umin"), lit(1L)).cast("double")
    val vSpan = greatest(col("vmax") - col("vmin"), lit(1e-9))
    events.crossJoin(broadcast(g))
      .withColumn("ub",
        ((col("user_id") - col("umin")).cast("double") * 65535.0 / uSpan).cast("long"))
      .withColumn("vb", ((col("value") - col("vmin")) * 65535.0 / vSpan).cast("long"))
      .withColumn("z", InterleaveBitsEval(col("ub"), col("vb")))
  }

  def zorderEvents(events: DataFrame, nParts: Int): DataFrame =
    zorderQuantize(events)
      .repartitionByRange(nParts, col("z"))
      .sortWithinPartitions("z")

  def all: Seq[Q] = Seq(

    // G19 (oracled): the partitioner math as a scalar expression, over
    // the reference's own key domain. boundary = 26/7 = 3 (integer div).
    Q("partition_ids",
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0) AS t
        |  FROM documents),
        |words AS (SELECT DISTINCT u.w AS word FROM toks, unnest(t) AS u(w))
        |SELECT word,
        |  CAST(CASE WHEN substring(word, 1, 1) BETWEEN '0' AND '9' THEN 0
        |       ELSE least(greatest((ascii(substring(word, 1, 1)) - 97) // 3, 0), 6)
        |       END AS INTEGER) AS pid
        |FROM words ORDER BY word""".stripMargin) { (s, d) =>
      words(s, d)
        .select(col("word"), FirstCharPartitioner(col("word"), 7).as("pid"))
        .orderBy("word")
    },

    // G18 (rows-only): range partition + in-partition sort. Verified
    // structurally in PhysicalSpec (disjoint ordered ranges).
    Q.noOracle("range_partition_layout") { (s, d) =>
      TextPipeline.ngramCount(Tables.documents(s, d), "text", 3)
        .repartitionByRange(8, col("ngram"))
        .sortWithinPartitions("ngram")
        .select(spark_partition_id().as("pid"), col("ngram"), col("cnt"))
    },

    // X27 (oracled, VERDICT r08 task 8): the morton key itself as a
    // scalar — 16-bit quantization of (user_id, value) against global
    // min/max, then the parallel bit-spread interleave. DuckDB rebuilds
    // the identical integer cascade (inputs are ≤16 bits, so the spread
    // needs three mask steps fewer than the expression's 32-bit form —
    // same result on this domain); CAST(trunc() AS BIGINT) mirrors
    // Spark's truncate-toward-zero double→long cast. This oracles the
    // InterleaveBitsExpr codegen path end-to-end; the LAYOUT (range
    // partition + sort by z) stays pinned structurally in ZOrderSpec.
    Q("zorder_keys",
      """WITH g AS (
        |  SELECT min(user_id) AS umin, max(user_id) AS umax,
        |         min(value) AS vmin, max(value) AS vmax FROM events),
        |q AS (
        |  SELECT e.event_id,
        |    CAST(trunc(CAST(e.user_id - g.umin AS DOUBLE) * 65535.0 /
        |      greatest(CAST(g.umax - g.umin AS DOUBLE), 1.0)) AS BIGINT) AS ub,
        |    CAST(trunc((e.value - g.vmin) * 65535.0 /
        |      greatest(g.vmax - g.vmin, 1e-9)) AS BIGINT) AS vb
        |  FROM events e, g),
        |s1 AS (SELECT event_id, ub, vb,
        |    (ub | (ub << 8)) & 16711935 AS ua,
        |    (vb | (vb << 8)) & 16711935 AS va FROM q),
        |s2 AS (SELECT event_id, ub, vb,
        |    (ua | (ua << 4)) & 252645135 AS ua,
        |    (va | (va << 4)) & 252645135 AS va FROM s1),
        |s3 AS (SELECT event_id, ub, vb,
        |    (ua | (ua << 2)) & 858993459 AS ua,
        |    (va | (va << 2)) & 858993459 AS va FROM s2),
        |s4 AS (SELECT event_id, ub, vb,
        |    (ua | (ua << 1)) & 1431655765 AS ua,
        |    (va | (va << 1)) & 1431655765 AS va FROM s3)
        |SELECT event_id, ub, vb, ua | (va << 1) AS z
        |FROM s4 ORDER BY event_id""".stripMargin) { (s, d) =>
      Physical.zorderQuantize(Tables.events(s, d))
        .select("event_id", "ub", "vb", "z")
        .orderBy("event_id")
    },

    // X27 (rows-only): per-partition 2-D bounding boxes of the z-order
    // layout — each partition covers a tight box in BOTH dims (ZOrderSpec
    // asserts the file-pruning win vs an unclustered layout).
    Q.noOracle("zorder_layout") { (s, d) =>
      zorderEvents(Tables.events(s, d), 8)
        .groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"),
          min(col("ub")).as("ub_min"), max(col("ub")).as("ub_max"),
          min(col("vb")).as("vb_min"), max(col("vb")).as("vb_max"))
        .orderBy("pid")
    },

    // G18/G19 (rows-only): the reference's WCPartitioner layout exactly —
    // 7 first-char buckets, sorted within each; concatenating buckets in
    // pid order yields the reference's globally sorted output.
    Q.noOracle("reference_partition_layout") { (s, d) =>
      words(s, d)
        .repartition(7, sentinelOf(FirstCharPartitioner(col("word"), 7), 7))
        .sortWithinPartitions("word")
        .select(spark_partition_id().as("pid"), col("word"),
          FirstCharPartitioner(col("word"), 7).as("expected_pid"))
    },

    // X58: dense global ids 1..N in doc_id order, through
    // [[globalOrder]], never a single-task `row_number()` at scale.
    Q("assign_dense_ids",
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS id
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      globalOrder(Tables.documents(s, d).select(col("doc_id")), Seq(col("doc_id")))
        .select(col("doc_id"), col("rank").as("id"))
        .orderBy("doc_id")
    }
  )
}
