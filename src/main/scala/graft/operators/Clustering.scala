package graft.operators

import graft.Q
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup CLUSTERING (X21): connected components over the
  * doc ↔ fingerprint-bucket bipartite graph, turning pairwise near-dup
  * signals into transitive duplicate clusters with one canonical keeper
  * per cluster — the step a real dedup pipeline runs after LSH banding
  * (pairs alone can't dedup: A~B and B~C must collapse to ONE keeper
  * even when A~C was never emitted as a candidate).
  *
  * Graph: docs share an edge iff they share a fingerprint band minimum
  * (the 4-band min-md5 sketch of TextAnalysis.doc_fingerprint). We never
  * materialize doc-doc edges — a hot bucket of B docs would explode into
  * B² pairs; the bipartite (doc, bucket) form keeps every shuffle linear
  * in membership rows.
  *
  * Algorithm: min-label propagation with pointer-doubling path
  * compression (the hash-to-min family — Rastogi et al., "Finding
  * Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13):
  *   A. bucket-min: bc(bucket) = min component over members;
  *      doc-min:    nc(doc)    = min bc over the doc's buckets
  *   B. compress: labels form a parent-pointer forest (every label is a
  *      doc_id), so component ← label(component) self-joins halve pointer
  *      depth until every doc points at its root.
  * Step A merges adjacent labels (2 hops); step B's doubling makes the
  * whole merged region adopt the root label in O(log depth) joins —
  * convergence in O(log n) outer rounds instead of O(diameter). Labels
  * are monotone non-increasing and bounded by the true component min, so
  * the fixpoint (no label changes) IS the answer: at fixpoint every
  * bucket is label-uniform, hence every component is.
  *
  * 100 TB posture: each round is 4 hash shuffles keyed by bucket / doc /
  * component (all high-cardinality), with [[Materialize]] truncating
  * the loop's lineage (at cluster scale: persisted table per round). The
  * per-round changed-label count, observed on that same job, is the
  * convergence test — a scalar per round, not a data collect.
  */
object Clustering {

  /** (doc_id, bucket) membership: bucket = band ':' band-min shingle md5 —
    * identical band arithmetic to `doc_fingerprint` (TextAnalysis). */
  def fingerprintBuckets(docs: DataFrame): DataFrame = {
    val h = md5(col("shingle"))
    docs.select(col("doc_id"), explode(TextFns.ngrams(col("text"), 3)).as("shingle"))
      .select(col("doc_id"), h.as("h"),
        pmod(ascii(substring(h, 1, 1)), lit(4)).as("band"))
      .groupBy("doc_id", "band").agg(min(col("h")).as("b"))
      .select(col("doc_id"),
        concat(col("band").cast("string"), lit(":"), col("b")).as("bucket"))
  }

  /** Full path compression by pointer doubling: every label is itself a
    * doc_id (labels only ever take existing-label values), so `lab` is a
    * parent-pointer forest; repeatedly rewriting component ← label(component)
    * halves pointer depth per join until every doc points at its root.
    * ≤ log₂(n) self-join rounds, each one hash shuffle on doc_id.
    * (A fixed-snapshot linear-hop variant was tried and rejected: it
    * needs depth−1 hops, and on the adversarial chain graph the
    * ever-deepening join plan OOMs the planner before settling — log
    * rounds against the UPDATED relation is the load-bearing property.)
    *
    * Iteration-state hygiene (both matter; each alone hangs the loop):
    *  - the self-join doubles the logical TREE per jump, so every jump
    *    must truncate lineage ([[Materialize]]) or planning goes
    *    exponential;
    *  - Spark 4's localCheckpoint copies the ORIGIN plan's stats onto
    *    the LogicalRDD, and a self-join SQUARES sizeInBytes — checkpoint
    *    after un-measured checkpoint the BigInt bit-length doubles and
    *    the size-only stats visitor ends up multiplying megabit integers
    *    (minutes of planner CPU by round ~20). Materializing a cache
    *    FIRST makes the checkpoint read its stats from the
    *    InMemoryRelation's real byte size, which re-grounds the estimate
    *    every jump instead of compounding it. */
  private def compress(lab0: DataFrame, maxJumps: Int): DataFrame = {
    var cur = lab0
    var changed = 1L
    var jumps = 0
    while (changed > 0 && jumps < maxJumps) {
      val c = cur.as("x")
        .join(cur.as("y"), col("x.component") === col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id"),
          least(col("x.component"), col("y.component")).as("component"),
          (col("y.component") < col("x.component")).as("moved"))
        .cache()
      // ONE action per jump (VERDICT r04 task 4): it counts the moved
      // labels, cuts lineage, and populates the cache the checkpoint's
      // stats re-ground on (the Spark 4 hazard above).
      val (next, m) = Materialize(c, count(when(col("moved"), 1)).as("n"))
      cur = next.drop("moved")
      changed = m.getLong(0)
      c.unpersist(false)
      jumps += 1
    }
    require(changed == 0L, s"compress: pointer chase not settled after $maxJumps jumps")
    cur
  }

  /** Min-label connected components over a bipartite (doc_id, bucket)
    * membership. `docs` supplies the universe (isolated docs — no
    * buckets — stay singleton components). Returns (doc_id, component).
    *
    * ACTIVE-SUBGRAPH CONTRACTION (the load-bearing scale choice): a
    * bucket with one member contributes no cross-doc edge, so the loop
    * runs only over docs that share a bucket with someone — in a real
    * corpus the overwhelming majority of fingerprint buckets are
    * singletons (most documents are not near-dups), so this shrinks
    * every per-round shuffle from |corpus| to |suspected-dup subgraph|
    * (measured: 20k → ~3k membership rows at sf0.1). Everything pruned
    * here is provably a self-labeled singleton, re-attached by one
    * left join after the fixpoint — the iterative part no longer pays
    * for the clean 95% of the corpus.
    *
    * Per-round state is checkpoint-truncated; at cluster scale the
    * equivalent is a persisted table per round. */
  /** Guards the scoped shuffle-partitions override below: two
    * concurrent loops racing set/restore could strand the session at
    * the loop's tiny partition count. Other queries planned on the same
    * session DURING a loop still see the scoped value — acceptable
    * under the driver contract (queries run sequentially); a shared
    * multi-tenant session would want the loop state on its own
    * session/conf instead. */
  private val loopConfLock = new Object

  def connectedComponents(docs: DataFrame, memb0: DataFrame, maxRounds: Int = 30): DataFrame = loopConfLock.synchronized {
    // shared-bucket filter: one hash shuffle on bucket (window count);
    // tasks bounded by bucket membership, which LSH banding already caps
    val shared = memb0
      .withColumn("m", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
      .filter(col("m") > 1).drop("m")
    val memb = shared.cache()
    val spark = docs.sparkSession
    val outerParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val (lab0, m0) = Materialize(memb.select(col("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("component")), count(lit(1)).as("n"))
      var lab = lab0
      val activeDocs = m0.getLong(0)
      // Size the LOOP's shuffles to the active subgraph, not the scan:
      // ~22 small jobs run below, and per-job cost at this state size is
      // task-scheduling overhead × partition count (measured: the same
      // loop is ~2× slower at 32 shuffle partitions than at 4 on a
      // few-thousand-row active set). One partition per ~50k active
      // docs, floored at 4 — a billion-doc dup subgraph still gets
      // 20k-way parallelism; the conf is restored before the final
      // corpus-wide re-attach join, which scales with the scan again.
      val loopParts = math.max(4L, math.min(outerParts.toLong,
        activeDocs / 50000L)).toString
      graft.Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> loopParts) {
        var changed = 1L
        var round = 0
        while (changed > 0 && round < maxRounds) {
          val bmin = memb.join(lab, "doc_id")
            .groupBy("bucket").agg(min(col("component")).as("bc"))
          val dmin = memb.join(bmin, "bucket")
            .groupBy("doc_id").agg(min(col("bc")).as("nc"))
          // Region-min contraction: nc is each doc's neighborhood min; the
          // whole CURRENT region (docs sharing a root label) then adopts
          // the min nc any member found — one extra groupBy + join keyed
          // on the old component. Without it the global min crawls one
          // region-hop per round and rounds grow with the component
          // graph's diameter (measured: 17 rounds on sf0.001, a ~15-round
          // tail moving <20 docs each); with it, every region merges with
          // its min neighbor each round (local minima absorb neighbors,
          // monotone chains collapse inside compress), so the region count
          // contracts geometrically — O(log) rounds. rm is a min over
          // labels, so labels still only take existing-label values (the
          // parent-forest property compress relies on).
          val cand0 = lab.join(dmin, Seq("doc_id"), "left")
            .select(col("doc_id"), col("component"),
              least(col("component"), coalesce(col("nc"), col("component"))).as("nc"))
          val rm = cand0.groupBy("component").agg(min(col("nc")).as("rm"))
          val cand = cand0.join(rm, "component")
            .select(col("doc_id"),
              least(col("nc"), col("rm")).as("component"),
              (least(col("nc"), col("rm")) < col("component")).as("moved"))
            .cache()
          // step A moved nothing ⇒ global fixpoint (compress only chases
          // pointers step A created). ONE action serves as convergence
          // test, cache materializer, AND lineage cut (VERDICT r04 task 4).
          val (candCk, m) = Materialize(cand, count(when(col("moved"), 1)).as("n"))
          changed = m.getLong(0)
          if (changed > 0) lab = compress(candCk.drop("moved"), maxJumps = 40)
          cand.unpersist(false)
          round += 1
        }
        require(changed == 0L, s"connectedComponents: no fixpoint after $maxRounds rounds")
      }
      // re-attach the pruned singletons: any doc outside the active
      // subgraph is its own component by construction (planned lazily,
      // AFTER withConf restores the scan-scale partition count)
      docs.select(col("doc_id"))
        .join(lab.withColumnRenamed("component", "c"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("component"))
    } finally memb.unpersist(false)
  }

  /** The persisted dedup-cluster label table (doc_id, component): the
    * fixpoint loop runs ONCE per (session, scale factor) and lands as
    * a bucketed [[graft.Indexes]] artifact — the build-once shape of a
    * production dedup pass, where the cluster assignment is written at
    * ingest and every downstream query (per-doc labels, cluster
    * rollups, keeper joins) reads the saved table. */
  private def componentLabels(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Indexes.table(s, d, "cc_labels", Seq("doc_id")) {
      val docs = Tables.documents(s, d)
      connectedComponents(docs, fingerprintBuckets(docs))
    }

  /** Shared oracle scaffolding over the same bucket graph the Spark
    * side clusters. Through r12 this was a recursive-CTE reachability
    * CLOSURE — it materializes every (src, reachable) pair, so heavy
    * planted-dup clusters at the 10x fixture made it intractable and
    * the whole cc family sat on the 10x exclude list (r12 verdict
    * task 2). Replaced by [[ccRounds]] unrolled rounds of the SAME
    * region-min contraction the Spark side runs: per round, bucket-min
    * of member labels, doc-min over its buckets, REGION min (every doc
    * sharing an old label adopts the best min any member found), then
    * two pointer jumps. Each round is linear in |memberships| — no
    * doc-doc edge list is ever built — and the region step makes the
    * region count contract geometrically exactly as in
    * [[connectedComponents]]: measured convergence is 4-5 rounds at
    * every fixture incl. 10x (vs 17 one-hop rounds), so 8 rounds carry
    * ~2x margin. Every CTE is MATERIALIZED — DuckDB otherwise inlines
    * the self-joined round CTEs and the plan doubles per round. The
    * final CTE re-propagates once more and POISONS every label
    * (+10^12) if anything would still move: a non-converged oracle
    * hash-mismatches loudly instead of silently blessing a wrong
    * label table. */
  private val ccRounds = 8

  private def ccSql(select: String): String = {
    val iter = (0 until ccRounds).map { t =>
      s"""b$t AS MATERIALIZED (SELECT m.bucket, min(l.c) AS bc FROM memb m JOIN l$t l USING (doc_id) GROUP BY m.bucket),
         |n$t AS MATERIALIZED (SELECT m.doc_id, min(b.bc) AS nc FROM memb m JOIN b$t b USING (bucket) GROUP BY m.doc_id),
         |a$t AS MATERIALIZED (SELECT l.doc_id, l.c AS oc, least(l.c, coalesce(n.nc, l.c)) AS nc FROM l$t l LEFT JOIN n$t n USING (doc_id)),
         |r$t AS MATERIALIZED (SELECT oc, min(nc) AS rm FROM a$t GROUP BY oc),
         |d$t AS MATERIALIZED (SELECT a.doc_id, least(a.nc, r.rm) AS c FROM a$t a JOIN r$t r USING (oc)),
         |j$t AS MATERIALIZED (SELECT x.doc_id, y.c AS c FROM d$t x JOIN d$t y ON x.c = y.doc_id),
         |l${t + 1} AS MATERIALIZED (SELECT x.doc_id, y.c AS c FROM j$t x JOIN j$t y ON x.c = y.doc_id),""".stripMargin
    }.mkString("\n")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]+', '', 'g')), '\\s+'), t -> len(t) > 0) AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, md5(array_to_string(t[u.i:u.i+2], ' ')) AS h
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 3),
       |fp AS (
       |  SELECT doc_id, ascii(substring(h, 1, 1)) % 4 AS band, min(h) AS b
       |  FROM sh GROUP BY doc_id, band),
       |memb AS MATERIALIZED (SELECT doc_id, CAST(band AS VARCHAR) || ':' || b AS bucket FROM fp),
       |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS c FROM documents),
       |$iter
       |bf AS MATERIALIZED (SELECT m.bucket, min(l.c) AS bc FROM memb m JOIN l$ccRounds l USING (doc_id) GROUP BY m.bucket),
       |nf AS MATERIALIZED (SELECT m.doc_id, min(b.bc) AS nc FROM memb m JOIN bf b USING (bucket) GROUP BY m.doc_id),
       |chk AS MATERIALIZED (SELECT count(*) AS n FROM l$ccRounds l JOIN nf USING (doc_id) WHERE nf.nc < l.c),
       |cc AS MATERIALIZED (SELECT doc_id,
       |  c + CASE WHEN (SELECT n FROM chk) > 0 THEN 1000000000000 ELSE 0 END AS component
       |  FROM l$ccRounds)
       |$select""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // X21a: per-doc component label (component id = min doc_id reachable).
    Q("cc_components",
      ccSql("SELECT doc_id, component FROM cc ORDER BY doc_id")) { (s, d) =>
      componentLabels(s, d).orderBy("doc_id")
    },

    // X21b: the dedup decision — one keeper per cluster + cluster size
    // (keeper = component id = min member, same min-id convention as X1).
    Q("cc_clusters",
      ccSql(
        """SELECT component, component AS keeper_id,
          |  count(*) AS n_members FROM cc
          |GROUP BY component ORDER BY component""".stripMargin)) { (s, d) =>
      componentLabels(s, d)
        .groupBy("component").agg(count(lit(1)).as("n_members"))
        .select(col("component"), col("component").as("keeper_id"), col("n_members"))
        .orderBy("component")
    },

    // X21c: QUALITY-keeper selection — production near-dup passes keep
    // the BEST member of each cluster, not the smallest id. Keeper =
    // argmax by (distinct-token count, token count, min doc_id): a
    // lexical-richness proxy on EXACT integers, so the argmax can never
    // tip on a float rounding boundary between engines. The argmax is a
    // mergeable max-of-struct aggregation (the attribution_last_touch
    // discipline — no per-cluster window over member lists), so a
    // million-member pathological cluster costs one combiner slot, not
    // a sort.
    Q("cc_keep_best",
      ccSql(
        """, q AS (SELECT cc.component, cc.doc_id,
          |  CAST(len(list_distinct(t.t)) AS BIGINT) AS nuniq,
          |  CAST(len(t.t) AS BIGINT) AS ntok
          |  FROM cc JOIN toks t USING (doc_id))
          |SELECT component, doc_id AS keeper_id, nuniq AS keeper_nuniq,
          |  n_members FROM (
          |  SELECT component, doc_id, nuniq,
          |    row_number() OVER (PARTITION BY component
          |      ORDER BY nuniq DESC, ntok DESC, doc_id) AS rn,
          |    count(*) OVER (PARTITION BY component) AS n_members
          |  FROM q) WHERE rn = 1 ORDER BY component""".stripMargin)) { (s, d) =>
      val richness = Tables.documents(s, d).select(
        col("doc_id"),
        size(array_distinct(TextFns.tokens(col("text")))).cast("long").as("nuniq"),
        size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
      componentLabels(s, d)
        .join(richness, "doc_id")
        .groupBy("component")
        .agg(
          max(struct(col("nuniq"), col("ntok"), (-col("doc_id")).as("nid"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(col("component"), (-col("best.nid")).as("keeper_id"),
          col("best.nuniq").as("keeper_nuniq"), col("n_members"))
        .orderBy("component")
    },

    // X21d: the APPLY step — the deduplicated corpus itself: every
    // cluster collapses to its quality keeper, all other members drop.
    // |keepers| = |clusters| ≪ |docs| after heavy duplication, so the
    // keeper set attaches as a broadcast-friendly semi join; output is
    // scan-shaped (doc rows pass through untouched).
    Q("dedup_apply_keep_best",
      ccSql(
        """, q AS (SELECT cc.component, cc.doc_id,
          |  CAST(len(list_distinct(t.t)) AS BIGINT) AS nuniq,
          |  CAST(len(t.t) AS BIGINT) AS ntok
          |  FROM cc JOIN toks t USING (doc_id)),
          |keep AS (SELECT component, doc_id FROM (
          |  SELECT component, doc_id,
          |    row_number() OVER (PARTITION BY component
          |      ORDER BY nuniq DESC, ntok DESC, doc_id) AS rn
          |  FROM q) WHERE rn = 1)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |JOIN keep k ON k.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin)) { (s, d) =>
      val richness = Tables.documents(s, d).select(
        col("doc_id"),
        size(array_distinct(TextFns.tokens(col("text")))).cast("long").as("nuniq"),
        size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
      val keepers = componentLabels(s, d)
        .join(richness, "doc_id")
        .groupBy("component")
        .agg(max(struct(col("nuniq"), col("ntok"), (-col("doc_id")).as("nid"))).as("best"))
        .select((-col("best.nid")).as("doc_id"))
      Tables.documents(s, d)
        .join(keepers, Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }
  )
}
