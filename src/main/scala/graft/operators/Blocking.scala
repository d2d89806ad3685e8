package graft.operators

import graft.functions.Sketches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The candidate-blocking kernel behind every near-dup and LSH miner
  * ([[NearDup]], [[Similarity]]). Each miner is one MapReduce job: map
  * every record to block keys, shuffle by key, reduce each block to
  * candidate pairs, then verify. The miners supply keys, payload, score
  * and threshold; the steps below are written once. The only join is an
  * equi-join on block keys, so candidate generation never goes
  * all-pairs. Blocking is kept apart from scoring as in the incremental
  * top-k similarity framework (EDBT 2020) and RanKloud (EDBT 2011). */
object Blocking {

  /** A table that several plan branches read, built once. With `idx`
    * set it is the build-once bucketed [[graft.Indexes]] artifact
    * `name`, shared across queries; otherwise a per-query
    * [[Materialize]] (specs and probes build ad-hoc corpora). Left lazy,
    * every consumer re-plans and re-runs `build`: both branches of the
    * LSH self-join re-compiling the signature subtree was ~80% of LSH
    * query time in rounds 2–3. The artifact is preferred over a
    * checkpoint for corpus-sized tables because a checkpoint pins them
    * in executor memory and erases the bucket layout the next join keys
    * on — knn_pv bucketed on its self-join keys took sf1 5.70 →
    * 4.23-4.78 s, and semdedup_best reached parity with the checkpoint
    * (1.37 → 1.45 s at sf1) with the memory pin gone. */
  def persist(idx: Option[(SparkSession, String)], name: String,
              bucketKeys: Seq[String])(build: => DataFrame): DataFrame = idx match {
    case Some((s, d)) => graft.Indexes.table(s, d, name, bucketKeys)(build)
    case None => Materialize(build)
  }

  /** Rows per block: the measurable candidate model — a kept block of
    * `bucket_n` rows contributes ≤ C(bucket_n, 2) candidate pairs. */
  def sizes(blocked: DataFrame, keys: Seq[String]): DataFrame =
    blocked.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_n"))

  /** Drop-the-bucket cap: keeps the rows of blocks holding at most `cap`
    * rows. A block of B near-identical records would cost B² pairs;
    * those records are boilerplate better handled by exact dedup. */
  def dropOver(keys: Seq[String], cap: Long)(blocked: DataFrame): DataFrame =
    blocked.join(sizes(blocked, keys).filter(col("bucket_n") <= cap), keys)

  /** Keep-the-min-id cap: the `cap` smallest `id`s per `key`, as
    * (key, id) rows. A bounded-heap [[Sketches.TopKAgg]] (score = −id)
    * selects them in one O(n·cap) streaming pass with map-side partials
    * — never a per-key window sort over the fact table. Deterministic
    * (ids, not a sample), and a no-op for keys with ≤ cap members. */
  def minIdReps(key: String, id: String, cap: Int)(df: DataFrame): DataFrame =
    df.groupBy(key)
      .agg(Sketches.topK(cap)(negate(col(id).cast("double")), col(id)).as("keep"))
      .select(col(key), explode(col("keep")).as("r"))
      .select(col(key), col("r._2").as(id))

  /** Candidate pairs within each block: a self-join on `keys` with
    * `id1 < id2`, each `payload` column riding in as `<p>1`/`<p>2`.
    * `score` (aliased) is computed where the pair is born and `keep`
    * filters on it BEFORE the pair distinct, so the dedup exchange
    * carries (id1, id2, score) survivors, not payloads for every
    * collision. A pair colliding in several blocks scores identically
    * each time, so the distinct result is unchanged. Measured: minhash
    * sf1 2.57 → 2.38 s (K-element signatures, ~0.5 KB/row, no longer
    * shuffled); simhash sf1 7.80 → 6.95 s over 23.4M collisions; LSH
    * pairs at the 100× fixture, whose planted replicas make pair volume
    * quadratic per cluster, cut shuffled bytes per pair ~40× and
    * removed a ~35 GB spill. */
  def selfPairs(blocked: DataFrame, keys: Seq[String], id: String,
                payload: Seq[String], score: Column, keep: Column): DataFrame = {
    def side(i: Int) = blocked.select(
      keys.map(col) ++ (col(id).as(s"id$i") +: payload.map(p => col(p).as(s"$p$i"))): _*)
    side(1).join(side(2), keys)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), score)
      .filter(keep)
      .distinct()
  }

  /** ppjoin prefixes: each set `s` of `sh`, keyed by `by`, ordered
    * rarest-first by one global gram frequency (gram as tiebreak —
    * prefix correctness needs a single shared total order), exploded to
    * its first |s| − ⌈θ·|s|⌉ + 1 grams as (by…, g). Two sets with
    * Jaccard ≥ θ share a prefix gram, so an equi-join on `g` has no
    * false negatives. Materialized: the prefix table feeds both sides
    * of the candidate join, and left lazy the freq-join + sort +
    * explode subtree ran once per side (~half the plan's exchanges). */
  def prefixes(sh: DataFrame, by: Seq[String], theta: Double): DataFrame = {
    val freq = sh.select(explode(col("s")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("f"))
    Materialize(sh.select(by.map(col) :+ explode(col("s")).as("g"): _*)
      .join(freq, "g")
      .groupBy(by.map(col): _*)
      .agg(array_sort(collect_list(struct(col("f"), col("g")))).as("ord"),
        count(lit(1)).as("n"))
      .select(by.map(col) :+ explode(slice(transform(col("ord"), _.getField("g")),
        lit(1), (col("n") - ceil(lit(theta) * col("n")) + 1).cast("int"))).as("g"): _*))
  }

  /** Exact Jaccard of two set arrays; null when both are empty. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    try_divide(inter, (size(a) + size(b)).cast("double") - inter)
  }
}
