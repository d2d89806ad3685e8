package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph centrality (X44): PageRank over the supplier↔customer
  * interaction graph (an edge where a supplier's lineitem sits in a
  * customer's order), symmetrized — "which participants sit at the
  * center of trade". Complements X21's connected components: cc answers
  * reachability, PageRank ranks within the reached.
  *
  * Fixed-iteration form (3 rounds, d = 0.85) rather than
  * converge-to-epsilon: the result is a deterministic function of the
  * input — oracle-able as three chained SQL CTEs — and at 100 TB a
  * fixed small round count IS the production shape (each round = one
  * join + one hash agg on high-cardinality node keys; rank state is
  * 2 columns/node).
  *
  * Cross-engine float discipline: per-edge contribution r/deg is a
  * single IEEE division (exact-rounded, no libm), accumulated as
  * DECIMAL(38,18) so the shuffle-order of addition cannot change the
  * sum; the damping step is two IEEE ops on identical inputs. The
  * symmetric graph has no dangling nodes (every node has outdeg ≥ 1),
  * so no leaked-mass correction term is needed. Output is rank
  * NORMALIZED to uniform (r·N — 1.0 = average), rounded to 6 dp.
  *
  * The static edge/degree tables feed all three unrolled rounds of one
  * plan, so they are persisted ONCE as bucketed [[graft.Indexes]]
  * artifacts — leaving them lazy re-runs the fact-join scan per round
  * (measured 3× the cost at sf0.1).
  */
object Graph {

  /** Damping and teleport constants as the LITERALS the oracle SQL also
    * writes (0.85 / 0.15) — computing `1.0 - 0.85` instead yields
    * 0.15000000000000002, one ulp above double("0.15"), and that ulp
    * would enter every node's rank every round on the Spark side only. */
  private val Damping = 0.85
  private val Teleport = 0.15
  private val Rounds = 3

  /** X85 synchronous LPA rounds. COUPLED to the oracle: the DuckDB SQL
    * hand-unrolls exactly this many rounds (c1/l1 .. c3/l3 CTEs) because
    * plain SQL has no loop — changing this constant without extending
    * the unrolled CTE chain desyncs implementation from oracle (the
    * differential gate catches it, but loudly; same coupling as
    * pagerank's `Rounds`). */
  private val LpaRounds = 3

  /** One PageRank step: rank' = (1−d)/N + d·Σ_in rank(src)/deg(src).
    * The rank×deg side is |nodes| rows. When it fits the session's
    * `autoBroadcastJoinThreshold` (~32 bytes/node: three numeric
    * columns + row overhead), broadcast it into the edge table (which
    * stays partitioned where its checkpoint put it) — a round is then
    * one map-side join + one partial/final agg, and only the
    * |nodes|-sized aggregate output shuffles. Above the threshold (a
    * million-node graph does NOT fit an executor broadcast), fall back
    * to a keyed shuffle join on src/node — both sides hash-partition on
    * the node id, the standard Pregel-shape round (VERDICT r08 task 5).
    * `nn`, the node count, is a literal in both paths. */
  private def step(rank: DataFrame, sym: DataFrame, deg: DataFrame, nn: Column,
                   broadcastRanks: Boolean): DataFrame = {
    // r19: r/deg and its DECIMAL(38,18) cast are pure functions of the
    // |nodes|-row side — computed per NODE here, they were previously
    // evaluated per EDGE row after the join (|E| IEEE divisions plus
    // |E| Decimal allocations per round; the division result is
    // identical wherever it is computed, so the sum is bit-unchanged).
    val rd = rank.join(deg, "node")
      .select(col("node"),
        (col("r") / col("deg")).cast(DecimalType(38, 18)).as("c"))
    val joined =
      if (broadcastRanks) sym.join(broadcast(rd), col("src") === col("node"))
      else sym.join(rd.hint("shuffle_hash"), col("src") === col("node"))
    joined
      .select(col("dst"), col("c"))
      .groupBy("dst").agg(sum(col("c")).as("s"))
      .select(col("dst").as("node"),
        (lit(Teleport) / nn +
          lit(Damping) * col("s").cast("double")).as("r"))
  }

  /** Estimated broadcast bytes per node-rank row (node, r, deg longs/
    * doubles + unsafe-row overhead). */
  private val RankRowBytes = 32L

  /** Part co-order edge set: the X47 pair table (Associations — one
    * shared definition of the pair generator, persisted through
    * [[graft.Indexes]]) at support ≥ MinSupport, canonicalized
    * pa < pb. The multiple join branches in the triangle queries each
    * scan the bucketed artifact — no per-query rebuild, no checkpoint
    * copy. */
  private def coorderEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Associations.pairSupport(s, d)
      .filter(col("support") >= Associations.MinSupport)
      .select(col("part_a").as("pa"), col("part_b").as("pb"))

  /** Node degrees over the undirected edge set. */
  private def nodeDegrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("pa"), col("pb"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** Degree-orient edges src → dst toward the higher (degree, id)
    * endpoint; `ddeg` (dst degree) rides along so wedge endpoints order
    * by the same (deg, id) key. Orientation bounds out-degree
    * O(√|E|) on any graph — the hub-safe wedge bound. Takes the degree
    * table so callers that also need degrees compute it once. */
  private def orientEdges(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg.select(col("v").as("pa"), col("deg").as("dega")), "pa")
      .join(deg.select(col("v").as("pb"), col("deg").as("degb")), "pb")
      .select(
        when(struct(col("dega"), col("pa")) < struct(col("degb"), col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst"),
            col("degb").as("ddeg")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"),
            col("dega").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg"))

  /** The oriented edge table as a persisted [[graft.Indexes]] artifact,
    * bucketed on the wedge-join key: built once per (session, scale
    * factor), read by triangle_count AND clustering_coefficient (three
    * join branches each). */
  private def orientedEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Indexes.table(s, d, "coorder_oriented", Seq("src")) {
      val e = coorderEdges(s, d)
      orientEdges(e, nodeDegrees(e))
    }

  /** Each triangle exactly once as (u, v, w): wedge at center u over
    * (deg, id)-ordered out-neighbors, closed by an oriented v → w edge. */
  private def triangles(o: DataFrame): DataFrame =
    o.as("x")
      .join(o.as("y"),
        col("x.src") === col("y.src") &&
          struct(col("x.ddeg"), col("x.dst")) < struct(col("y.ddeg"), col("y.dst")))
      .select(col("x.src").as("u"), col("x.dst").as("v"), col("y.dst").as("w"))
      .join(o.as("z"), col("v") === col("z.src") && col("w") === col("z.dst"))
      .select(col("u"), col("v"), col("w"))

  def all: Seq[Q] = Seq(

    Q("pagerank_trade",
      """WITH e0 AS (
        |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM deg),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn AS r FROM deg, n),
        |r1 AS (
        |  SELECT s.dst AS node,
        |    CAST(0.15 AS DOUBLE) / nn + 0.85 * CAST(SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS r
        |  FROM r0 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
        |  GROUP BY s.dst, nn),
        |r2 AS (
        |  SELECT s.dst AS node,
        |    CAST(0.15 AS DOUBLE) / nn + 0.85 * CAST(SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS r
        |  FROM r1 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
        |  GROUP BY s.dst, nn),
        |r3 AS (
        |  SELECT s.dst AS node,
        |    CAST(0.15 AS DOUBLE) / nn + 0.85 * CAST(SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS r
        |  FROM r2 r JOIN deg d ON d.node = r.node JOIN sym s ON s.src = r.node, n
        |  GROUP BY s.dst, nn)
        |SELECT CASE WHEN r3.node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
        |  r3.node // 2 AS node_key, round(r3.r * n.nn, 6) AS pr
        |FROM r3, n ORDER BY kind, node_key""".stripMargin) { (s, d) =>
      // node id = key·2 (+1 for customers): the namespace tag lives in
      // the low bit so edges shuffle as longs, not concatenated strings
      // (measured: string node ids double the per-round shuffle cost)
      // the symmetrized edge and degree tables are persisted Indexes
      // artifacts (the "persisted edge table" the scaladoc promises):
      // the fact⋈orders scan + distinct runs once per (session, scale
      // factor); all three unrolled rounds — and every bench re-run —
      // read the bucketed tables
      val sym = graft.Indexes.table(s, d, "trade_sym_edges", Seq("src")) {
        val e0 = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
          .distinct()
        // namespaces are disjoint (low bit), so the reversed edges can
        // never collide with the forward ones — plain union, no dedup
        e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      }
      // NO Materialize on sym/deg (r16, measured): both are
      // bucketed Indexes catalog tables, so each round's consumer is a
      // parquet re-scan, not a recompute — and re-scanning beat the
      // checkpoint's write-then-read materialization (sf1, noop sink,
      // 6.02 → 5.55 s warm) while keeping the bucket layout visible to
      // the planner (localCheckpoint erases it into an ExistingRDD).
      val deg = graft.Indexes.table(s, d, "trade_degrees", Seq("node")) {
        sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      }
      // the node count, read once per input version (graft.Memo: warm
      // runs start no job), enters every round as a literal
      val nNodes = graft.Memo.of(deg, "nodes")(deg.count())
      // floored at 1: an empty graph has no row, and a folded 1.0/0 raises
      val nn = lit(math.max(nNodes, 1L))
      // gate the per-round rank-table broadcast on the session's own
      // autoBroadcastJoinThreshold (the same knob every other join
      // honors): nodes × ~32 B vs threshold
      val threshold = Hints.broadcastThresholdBytes(s)
      val broadcastRanks = threshold > 0 && nNodes * RankRowBytes <= threshold
      val r0 = deg.select(col("node"), (lit(1.0) / nn).as("r"))
      val r3 = (1 to Rounds).foldLeft(r0)((r, _) =>
        step(r, sym, deg, nn, broadcastRanks))
      r3.select(
        when(col("node") % 2 === 0, "supplier").otherwise("customer").as("kind"),
        (col("node") / 2).cast("long").as("node_key"),
        round(col("r") * nn, 6).as("pr"))
        .orderBy("kind", "node_key")
    },

    // X51: per-node triangle counts over the part co-order graph (edges
    // = part pairs co-ordered with support >= 2, the X47 pair table) —
    // the clustering-coefficient numerator, the standard
    // community-density signal.
    //
    // 100 TB posture: the Spark side counts each triangle once via
    // DEGREE-ORIENTED wedges (orient every edge toward the higher
    // (degree, id) endpoint; wedge-join the out-edges at their center;
    // close against an oriented edge). Orientation bounds each node's
    // out-degree by O(sqrt(|E|)) on any graph, so the wedge join never
    // quadratically explodes at a hub the way the naive a<b<c
    // enumeration does when low ids happen to be hubs. The oracle uses
    // the naive form — the triangle SET is orientation-invariant, so
    // results match while the plans differ (the point of an oracle).
    // The edge table feeds three join branches and is checkpointed
    // once, the pagerank_trade convention.
    // X51b: local clustering coefficient — 2·T(v) / (deg(v)·(deg(v)−1))
    // for nodes with deg ≥ 2; how close each part's co-order
    // neighborhood is to a clique. Integer deg/triangle products are
    // exact; ONE double division per node, identical both engines.
    // Same edge/wedge pipeline as triangle_count (checkpointed once).
    Q("clustering_coefficient",
      """WITH e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT part, count(*) AS deg FROM (
        |    SELECT unnest([pa, pb]) AS part FROM e) GROUP BY part),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1 JOIN e e2 ON e2.pa = e1.pb
        |    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |tc AS (
        |  SELECT part, count(*) AS n_triangles FROM (
        |    SELECT unnest([a, b, c]) AS part FROM tri) GROUP BY part)
        |SELECT d.part, d.deg,
        |  coalesce(tc.n_triangles, 0) AS n_triangles,
        |  round(CAST(2 * coalesce(tc.n_triangles, 0) AS DOUBLE)
        |    / CAST(d.deg * (d.deg - 1) AS DOUBLE), 9) AS coeff
        |FROM deg d LEFT JOIN tc ON tc.part = d.part
        |WHERE d.deg >= 2
        |ORDER BY coeff DESC, d.part""".stripMargin) { (s, d) =>
      val deg = nodeDegrees(coorderEdges(s, d))
      val tc = triangles(orientedEdges(s, d))
        .select(explode(array(col("u"), col("v"), col("w"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_triangles"))
      deg.select(col("v").as("part"), col("deg")).join(tc, Seq("part"), "left")
        .filter(col("deg") >= 2)
        .select(col("part"), col("deg"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          round((lit(2) * coalesce(col("n_triangles"), lit(0L))).cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double"), 9).as("coeff"))
        .orderBy(col("coeff").desc, col("part"))
    },

    Q("triangle_count",
      """WITH e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1 JOIN e e2 ON e2.pa = e1.pb
        |    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |nodes AS (SELECT unnest([a, b, c]) AS part FROM tri)
        |SELECT part, count(*) AS n_triangles
        |FROM nodes GROUP BY part
        |ORDER BY n_triangles DESC, part""".stripMargin) { (s, d) =>
      triangles(orientedEdges(s, d))
        .select(explode(array(col("u"), col("v"), col("w"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("part"))
    },

    // X68: k-hop neighborhood size (k = 2) — per node, the count of
    // distinct nodes reachable in one hop and within two hops over the
    // co-order graph. The "how connected is this entity's vicinity"
    // feature (fraud rings, recommendation candidate pools) between
    // 1-hop degree and X21's full reachability.
    //
    // 100 TB posture: the 2-hop expansion is one self-join of the
    // symmetrized edge list keyed on the middle node, then a distinct
    // count keyed on the origin — fan-out is Σ deg², the irreducible
    // cost of EXACT 2-hop sets; the edge set here is support-pruned
    // (co-order ≥ 2), which is the production mitigation (prune or
    // sketch with HLL beyond that — `approx_count_distinct` drops in
    // for `countDistinct` unchanged when exactness can be traded).
    // r18: the two exact distincts are computed by PRE-GROUPING on
    // (node, dst) — max(direct) marks pairs with a direct edge — then
    // plain counts per node, instead of countDistinct×2 (which plans
    // an Expand that DOUBLES the Σdeg² fan-out before aggregating, and
    // whose partial state keys on (node, dst) anyway). Same exact
    // counts, half the rows into the first aggregate, one distinct
    // channel instead of two; map-side partials still compress the
    // fan-out. Plan: 2 Expand → 0 (plans/r18/khop_2_reach_*.txt).
    Q("khop_2_reach",
      khopSql) { (s, d) =>
      khopTagged(khopSym(coorderEdges(s, d)))
        .groupBy(col("src").as("node"), col("dst"))
        .agg(max(col("direct")).as("dir"))
        .groupBy("node")
        .agg(count(when(col("dir"), true)).as("n_1hop"),
          count(lit(1)).as("n_2hop"))
        .orderBy("node")
    },

    // X68 scale valve, proven rather than promised: the same support-
    // pruned expansion with the exact distinct counts swapped for HLL
    // sketches (`approx_count_distinct`, rsd 4%). The Σdeg² fan-out
    // rows still flow, but the aggregation state per node drops from a
    // distinct-set (unbounded, spills at hub nodes) to a fixed few-KB
    // sketch, and partial sketches merge map-side — the form that
    // survives nodes with millions of 2-hop neighbors. KhopApproxSpec
    // bounds the error vs the exact query at sf0.1. No SQL oracle:
    // estimates are engine-specific by construction.
    Q.noOracle("khop_2_reach_approx") { (s, d) =>
      khopTagged(khopSym(coorderEdges(s, d)))
        .groupBy(col("src").as("node"))
        .agg(approx_count_distinct(when(col("direct"), col("dst")), 0.04).as("n_1hop"),
          approx_count_distinct(col("dst"), 0.04).as("n_2hop"))
        .orderBy("node")
    },

    // X68 (oracled, r11): the HLL valve's error BOUND as a
    // driver-checked query, mirroring minhash_calibration_bound —
    // every node whose sketched 2-hop count deviates from the exact
    // distinct count by more than the cutoff. Expected result: ZERO
    // rows; per-node estimates are engine-specific (the `_approx`
    // query stays no-oracle), but "no node violates the bound" is
    // exact and deterministic (HLL++ is seed-fixed). Both counts come
    // out of ONE aggregation over ONE khop expansion — the sketch
    // rides beside the exact distinct, so the bound costs no second
    // fan-out. The cutoff bounds the MAX over all nodes, not a
    // per-node quantile (the minhash_calibration_bound lesson): with
    // n nodes the expected max of n ~σ-bounded relative errors grows
    // like σ·√(2·ln n), so rel cutoff = max(0.25, 0.04·√(2·ln n) +
    // 0.10). The bound is on ABSOLUTE error, floored at 4: HLL's
    // sparse path stores truncated hashes, so a tiny set can read one
    // short of exact on a hash collision (measured at sf0.1: exact 2 →
    // estimate 1, a 0.5 RELATIVE error on an absolute error of 1) —
    // a pure relative form would flag healthy sketches on low-degree
    // nodes forever. abs_err > max(rel_cutoff·exact, 4) keeps the
    // relative check binding exactly where sketches matter (hubs) and
    // tolerant of ±few on degree-2 nodes (measured abs err ≤ 1).
    Q("khop_2_reach_approx_bound",
      """SELECT CAST(NULL AS BIGINT) AS node, CAST(NULL AS BIGINT) AS abs_err
        |WHERE false""".stripMargin) { (s, d) =>
      val symN @ (sym, _) = khopSym(coorderEdges(s, d))
      // r18: dedup (node, dst) FIRST, then count + sketch the deduped
      // stream — exact count is unchanged by definition, and the HLL
      // sketch is duplicate-idempotent (same value → same register),
      // so approx_2hop is bit-identical too. Removes the Expand the
      // mixed exact+approx aggregation otherwise plans; this query
      // already pays exact-distinct (pair-level) state by design, so
      // unlike khop_2_reach_approx the regroup costs no extra state.
      val both = khopTagged(symN)
        .select(col("src").as("node"), col("dst")).distinct()
        .groupBy("node")
        .agg(count(lit(1)).as("exact_2hop"),
          approx_count_distinct(col("dst"), 0.04).as("approx_2hop"))
      // n_nodes for the adaptive cutoff = |distinct khop origins| =
      // |distinct endpoints of the pruned edge set| = |distinct src of
      // the symmetrized list| (the 2-hop join introduces no new
      // origins), so it comes off the checkpointed sym blocks —
      // counting `both` instead would re-run the whole Σdeg² expansion
      // just to size a scalar (plan-pinned in PlanAuditSpec: exactly
      // one 2-hop join in this plan).
      val nNodes = sym.agg(countDistinct(col("src")).as("n_nodes"))
      val relCutoff = greatest(lit(0.25),
        lit(0.04) * sqrt(lit(2.0) * log(col("n_nodes").cast("double"))) + lit(0.10))
      both
        .select(col("node"), col("exact_2hop"),
          abs(col("approx_2hop") - col("exact_2hop")).as("abs_err"))
        .crossJoin(broadcast(nNodes))
        .filter(col("abs_err").cast("double") >
          greatest(relCutoff * col("exact_2hop").cast("double"), lit(4.0)))
        .select(col("node"), col("abs_err"))
        .orderBy("node")
    },

    // X85: label-propagation community detection (Raghavan et al. 2007,
    // "Near linear time algorithm to detect community structures") over
    // the co-order part graph — the community read-out between X21's
    // connected components (too coarse: one giant component) and X51's
    // triangles (too local). Synchronous fixed-round form: every node
    // starts as its own label; each round it adopts the MODE of its
    // neighbors' labels, ties broken toward the smallest label — a
    // deterministic function of the input (the async/random variant is
    // not), oracle-able as unrolled SQL rounds like pagerank_trade.
    //
    // 100 TB posture: a round is one shuffle join of the edge list with
    // the |V|-row label table keyed on the node id, one (node, label)
    // hash count with map-side partials, and a MERGEABLE max-of-struct
    // argmax per node — the repo's X53/X57-established convention, NOT a
    // window top-1 (VERDICT r13 task 5): `max(struct(c, -label))`
    // encodes the (c DESC, label ASC) tie-break as plain struct
    // ordering, so the per-round winner gets MAP-SIDE PARTIAL MERGE —
    // each task ships at most one candidate per node into the shuffle,
    // where the window form shuffled every (node, label, c) row and
    // then sorted each node partition by (c, label). (The struct-typed
    // buffer plans as SortAggregate — a sort on the grouping key only —
    // the shuffle-volume reduction is the win, and no Window appears
    // in any round.) Label state is 2 columns/node and never collects.
    // The static symmetrized edge table feeds all rounds of one plan, so
    // it is materialized once: left lazy, every round re-scans the pair
    // artifact (measured sf0.1/4 cores, 5 pairs: 2.03 → 3.60 s median,
    // 245 → 1,185 tasks).
    Q("label_propagation",
      """WITH e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT pa AS src, pb AS dst FROM e
        |  UNION ALL SELECT pb, pa FROM e),
        |l0 AS (SELECT DISTINCT src AS v, src AS label FROM sym),
        |c1 AS (SELECT s.dst AS v, l.label, count(*) AS c
        |  FROM sym s JOIN l0 l ON s.src = l.v GROUP BY 1, 2),
        |l1 AS (SELECT v, label FROM (
        |  SELECT v, label, row_number() OVER (
        |    PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT s.dst AS v, l.label, count(*) AS c
        |  FROM sym s JOIN l1 l ON s.src = l.v GROUP BY 1, 2),
        |l2 AS (SELECT v, label FROM (
        |  SELECT v, label, row_number() OVER (
        |    PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT s.dst AS v, l.label, count(*) AS c
        |  FROM sym s JOIN l2 l ON s.src = l.v GROUP BY 1, 2),
        |l3 AS (SELECT v, label FROM (
        |  SELECT v, label, row_number() OVER (
        |    PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c3) WHERE rn = 1)
        |SELECT v AS part, label AS community FROM l3 ORDER BY part""".stripMargin) { (s, d) =>
      val e = coorderEdges(s, d)
      val sym = Materialize(e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst"))))
      var lbl = sym.select(col("src").as("v")).distinct()
        .withColumn("label", col("v"))
      for (_ <- 1 to LpaRounds) {
        // argmax by (c DESC, label ASC) as a mergeable max-of-struct:
        // labels are positive part keys, so max of (c, -label) picks
        // the highest count, then the SMALLEST label on ties.
        // (r19, measured and reverted: gating a per-round BROADCAST of
        // the label table — the pagerank rank convention — read 2.42 s
        // vs this form's 1.4 s at sf0.1/32c: each round's broadcast
        // build is a serial barrier job, while the SMJ rounds pipeline.)
        lbl = sym.join(lbl.withColumnRenamed("v", "src"), "src")
          .groupBy(col("dst").as("v"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy("v")
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("v"), (-col("m.nl")).as("label"))
      }
      lbl.select(col("v").as("part"), col("label").as("community"))
        .orderBy("part")
    }
  )

  /** Symmetrized support-pruned edge list and its row count, materialized
    * ONCE per query (the count rides the [[Materialize]] job). The lazy
    * form planned the pair-artifact scan + filter SIX times per khop
    * query (both union branches × the expansion's three consumers) —
    * 6×32 bucket-scan tasks of overhead for a few-MB table. Estimated
    * bytes per edge row: 2 longs + unsafe-row overhead. */
  private val EdgeRowBytes = 24L

  private def khopSym(e: DataFrame): (DataFrame, Long) = {
    val (sym, m) = Materialize(e.select(col("pa").as("src"), col("pb").as("dst"))
      .union(e.select(col("pb").as("src"), col("pa").as("dst"))), count(lit(1)).as("n"))
    (sym, m.getLong(0))
  }

  /** Shared X68 expansion: symmetrized support-pruned edges, unioned
    * with the 2-hop self-join, each row tagged `direct` so 1-hop and
    * ≤2-hop counts come out of ONE origin-keyed aggregation. A
    * checkpoint has no catalog statistics, so the 2-hop self-join's
    * build side is re-hinted through the size gate from [[khopSym]]'s
    * row count (above the threshold the join degrades to the keyed
    * shuffle, the standard Pregel round shape). */
  private def khopTagged(symN: (DataFrame, Long)): DataFrame = {
    val (sym, n) = symN
    val build = Hints.broadcastIfEstimated(sym, n * EdgeRowBytes)
    val two = sym.as("e1").join(build.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
    sym.select(col("src"), col("dst"), lit(true).as("direct"))
      .union(two.select(col("src"), col("dst"), lit(false).as("direct")))
      .filter(col("dst") =!= col("src"))
  }

  private val khopSql =
      """WITH e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT pa AS src, pb AS dst FROM e
        |  UNION ALL SELECT pb, pa FROM e),
        |two AS (SELECT e1.src AS src, e2.dst AS dst
        |  FROM sym e1 JOIN sym e2 ON e1.dst = e2.src),
        |reach AS (SELECT src, dst FROM sym UNION ALL SELECT src, dst FROM two)
        |SELECT s.src AS node,
        |  CAST(count(DISTINCT s.dst) AS BIGINT) AS n_1hop,
        |  CAST(r.n2 AS BIGINT) AS n_2hop
        |FROM sym s JOIN (
        |  SELECT src, count(DISTINCT dst) AS n2 FROM reach WHERE dst <> src GROUP BY src) r
        |  ON r.src = s.src
        |GROUP BY s.src, r.n2
        |ORDER BY node""".stripMargin
}
