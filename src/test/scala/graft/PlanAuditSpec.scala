package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests (SURVEY.md §4.2 / X7): the 100 TB
  * posture is a property of the PHYSICAL PLAN, not the row counts —
  * these assertions pin the plan features each operator relies on, so a
  * refactor that silently drops a pushdown, a broadcast, or the
  * two-phase top-k fails here rather than at scale. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SparkTestSession.sf001)
      .queryExecution.executedPlan.toString

  /** `name`'s plan on [[graft.operators.Physical.globalOrder]]'s
    * distributed path, which broadcast off (-1) always takes. */
  private def distributedPlan(name: String): String =
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(plan(name))

  /** A globalOrder plan: every window partitioned by the range partition
    * id, except the offsets' prefix sum over one row per partition, the
    * only `SinglePartition` exchange; offsets broadcast back. */
  private def assertGlobalOrder(p: String, name: String): Unit = {
    val specs = "windowspecdefinition\\(([^,]*),".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.startsWith("range_pid#")),
      s"$name: every window must be keyed on the range partition id, saw ${specs.distinct}")
    val offsets = "windowspecdefinition\\(range_pid#\\d+ ASC NULLS FIRST, specifiedwindowframe\\(RowFrame, unboundedpreceding\\$\\(\\), -1\\)\\)".r
    val offsetWindows = p.linesIterator.count(l => l.contains("Window [") && offsets.findFirstIn(l).isDefined)
    val partitioned = p.linesIterator.count(l => l.contains("Window [") && "\\], \\[range_pid#\\d+\\], \\[".r.findFirstIn(l).isDefined)
    assert(partitioned >= 1, s"$name: the data-sized rank must be a window partitioned by the range partition id")
    assert("Exchange SinglePartition".r.findAllIn(p).size == offsetWindows,
      s"$name: the only single-partition exchanges must feed the per-partition offsets")
    assert(p.contains("hashpartitioning(range_pid"), s"$name: rows must be ranked per range partition")
    assert(p.contains("BroadcastHashJoin [range_pid"), s"$name: offsets must broadcast back, not reshuffle the data")
  }

  test("ngram flagship: column-pruned scan, generate, partial+final agg, range sort") {
    val p = plan("ngram_count")
    assert(p.contains("ReadSchema: struct<text:string>"), "scan must read ONLY text")
    assert(p.contains("Generate explode(ngrams("), "native ngrams generator")
    assert(p.contains("partial_count"), "map-side combine (the reference's combiner)")
    assert(p.contains("rangepartitioning(ngram"), "parallel global sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("filter_predicates: predicates reach the parquet scan") {
    val p = plan("filter_predicates")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "filters must push into the scan")
  }

  test("star join: dimension hops broadcast, no shuffle of the small sides") {
    assert(plan("join_star_revenue").contains("BroadcastHashJoin"))
    assert(plan("join_broadcast_dims").contains("BroadcastHashJoin"))
  }

  test("cosine top-k: broadcast query side (no cartesian), group-limited windows") {
    val p = plan("cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), "query set must broadcast")
    assert(!p.contains("CartesianProduct"), "never a shuffled cartesian")
    assert(p.contains("WindowGroupLimit"), "top-k must group-limit before full sort")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)"), "candidate filter pushed")
  }

  test("multimodal join: per-doc feature side broadcasts into the event stream") {
    val p = plan("multimodal_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("tfidf: shuffle joins on term, single-row doc count broadcast, no cartesian blowup") {
    val p = plan("tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("Q17/Q20 decorrelation: aggregate+join shape, no cartesian, no per-row re-agg") {
    val q17 = plan("tpch_q17ish")
    assert(!q17.contains("CartesianProduct") && !q17.contains("BroadcastNestedLoopJoin"),
      "correlated avg must decorrelate to an equi-join on l_partkey")
    assert(q17.contains("partial_sum") || q17.contains("partial_avg"),
      "per-part average must be a map-side-combined aggregate")
    val q20 = plan("tpch_q20ish")
    assert(!q20.contains("CartesianProduct"),
      "nested IN must become semi joins, never a cartesian")
    val q2 = plan("tpch_q2ish")
    assert(!q2.contains("CartesianProduct") && !q2.contains("BroadcastNestedLoopJoin"),
      "correlated MIN must decorrelate to an equi-join on l_partkey")
    assert(q2.contains("partial_min"),
      "per-part min must be a map-side-combined aggregate")
    assert(q20.contains("LeftSemi"), "IN list must plan as a semi join")
    val q21 = plan("tpch_q21ish")
    assert(!q21.contains("CartesianProduct") && !q21.contains("BroadcastNestedLoopJoin"),
      "double-correlated EXISTS must stay keyed joins/aggregates")
    // r19: both EXISTS predicates fold into ONE per-order two-level
    // aggregate (n_supp / n_r_supp) attached as a semi join — the fact
    // table is aggregated once, not semi- and anti-joined against
    // itself (three fact shuffles -> two).
    assert(q21.contains("LeftSemi"),
      "qualifying-order set must attach as a semi join on l_orderkey")
    assert(!q21.contains("Expand"),
      "n_supp/n_r_supp must come from the (orderkey, suppkey) pre-group, " +
        "not a multi-countDistinct Expand")
  }

  test("Q12/Q13/Q15: keyed joins only, outer join survives, scalar max broadcasts") {
    val q12 = plan("tpch_q12ish")
    assert(!q12.contains("CartesianProduct") && !q12.contains("BroadcastNestedLoopJoin"),
      "the ship-lateness predicate is a post-join filter on an EQUI join; " +
        "it must never degrade the order-key join to a loop join")
    assert(q12.contains("partial_count"),
      "both CASE counts must map-side combine in one aggregation pass")
    val q13 = plan("tpch_q13ish")
    assert(q13.contains("LeftOuter"),
      "zero-order customers must survive — the priority filter lives in the " +
        "join condition, and nothing downstream may rewrite the outer join away")
    assert(!q13.contains("CartesianProduct"))
    val q15 = plan("tpch_q15ish")
    assert(q15.contains("BroadcastHashJoin") || q15.contains("BroadcastNestedLoopJoin"),
      "the scalar max(total_revenue) is one row and must broadcast, not shuffle")
    assert(!q15.contains("CartesianProduct"))
  }

  test("forward as-of / temperature mix: one keyed shuffle, broadcast quotas, no loops") {
    val fwd = plan("join_asof_forward")
    assert(!fwd.contains("CartesianProduct") && !fwd.contains("BroadcastNestedLoopJoin"),
      "forward as-of is union+window — the correlated min must never plan as a loop join")
    assert(fwd.contains("Window"), "the look-ahead carry is a window, not a join")
    val mixT = plan("corpus_mix_temperature")
    assert(mixT.contains("BroadcastHashJoin"),
      "the ~5-row quota table must broadcast into the ranked scan")
    assert(!mixT.contains("CartesianProduct"),
      "the one-row weight-sum attach must broadcast (BNLJ on 1 row is fine), never shuffle-cartesian")
  }

  test("Q18/Q22 decorrelation: semi join for HAVING-IN, anti join for NOT EXISTS") {
    val q18 = plan("tpch_q18ish")
    assert(!q18.contains("CartesianProduct") && !q18.contains("BroadcastNestedLoopJoin"),
      "HAVING-IN must attach as a keyed join, never a loop join")
    // r19: the qualifying-order aggregate now CARRIES its sum into an
    // inner join (the semi-join form recomputed the same sum from a
    // second fact shuffle); exactly one lineitem scan may remain.
    assert("Scan parquet [^\\n]*lineitem".r.findAllIn(q18).size == 1,
      "the per-order sum must be computed once — one lineitem scan")
    assert(q18.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT 100 must plan as top-k, not a full global sort")
    val q22 = plan("tpch_q22ish")
    assert(!q22.contains("CartesianProduct"),
      "scalar threshold is a one-row subquery; correlation must not loop-join")
    assert(q22.contains("LeftAnti"),
      "NOT EXISTS over filtered orders must plan as an anti join on o_custkey")
  }

  test("profile_columns: one scan, Expand-based multi-distinct, pruned read") {
    val p = plan("profile_columns")
    assert("FileScan parquet".r.findAllIn(p).size == 1
      || "Scan parquet".r.findAllIn(p).size == 1,
      "all 4 column profiles must ride ONE pass over lineitem, not 4 scans")
    assert(p.contains("Expand"),
      "multiple exact count(DISTINCT) must plan via Expand (one shuffle), " +
        "not separate aggregations")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_tax:double>")
      || p.contains("l_discount"), "scan must prune to the 4 profiled columns")
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    assert(plan("top_k_orders").contains("TakeOrderedAndProject"))
  }

  test("window_ranking partitions by a scaling key, never a single partition") {
    val p = plan("window_ranking")
    assert(p.contains("hashpartitioning(l_orderkey"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("dup_spans: count-based dup detection on keyed joins, islands window partitioned by doc") {
    val p = plan("dup_spans")
    // cross-doc duplication is a gram-keyed COUNT + join-back — never a
    // doc-pair comparison, so no nested-loop/cartesian may appear…
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span detection must not compare document pairs:\n$p")
    // …and the gaps-and-islands merge shuffles on doc_id (scaling key),
    // never a single partition
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("dedup is aggregation-shaped (partial+final), not a row_number window") {
    val p = plan("dedup_first_per_key")
    assert(p.contains("partial_min") || p.contains("partial_first") || p.contains("HashAggregate")
      || p.contains("SortAggregate"), p)
    assert(!p.contains("Window ["), "keyed dedup must not be a window over user_id")
  }

  test("binned range join: interval match is an equi-join on bin, not a nested loop") {
    val p = plan("range_join_binned")
    // the probe⋈interval match must hash/merge on the bin key…
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      "BroadcastHashJoin.*\\[bin".r.findFirstIn(p).isDefined,
      s"bin match must be an equi-join:\n$p")
    // …and the only nested-loop joins allowed are the single-row global
    // stats broadcasts (their build side is an Aggregate of 1 row).
    assert(!p.contains("CartesianProduct"), "no cartesian")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"only the two 1-row stats broadcasts may nest-loop, saw $bnlj")
  }

  test("LSH pair miners: verification folds below the dedup exchange") {
    // r16: est_jaccard/hamming are pure functions of the two
    // signatures, so they are computed IN the bucket join (the filter
    // lives in the join condition) and the pair-dedup exchange keys on
    // the verified metric — it carries ~24 B survivors, never the
    // signature payloads for every bucket collision. The exchange term
    // is what grows with bucket densification at 100×, so this shape
    // IS the scale guarantee.
    val ph = plan("simhash_near_dup_pairs")
    val pm = plan("minhash_near_dup_pairs")
    // r19 (persisted signature artifact): when the planner can satisfy
    // the dedup's distribution without a new shuffle, NO dedup exchange
    // appears at all — strictly stronger than keying it right, so the
    // pin accepts either shape. The invariant that matters (next
    // assert) is that signature payloads never ride a pair-keyed
    // exchange.
    assert(ph.matches("(?s).*hashpartitioning\\(id1#\\d+L?, id2#\\d+L?, hamming.*") ||
      ph.matches("(?s).*HashAggregate\\(keys=\\[id1#\\d+L?, id2#\\d+L?, hamming.*"),
      s"simhash dedup must key on (id1, id2, hamming):\n$ph")
    // the payload alias must be in the plan, or the next pin is vacuous
    assert(ph.contains("sig1#") && pm.contains("sig1#"), s"no sig1 payload alias in:\n$ph")
    assert(!ph.matches("(?s).*hashpartitioning\\([^)]*sig1#.*"),
      "simhash signature payloads must not cross the dedup exchange")
    // the double key rides inside knownfloatingpointnormalized(...) in
    // the agg/exchange keys — match it anywhere in the third key slot
    assert(pm.matches("(?s).*HashAggregate\\(keys=\\[id1#\\d+L, id2#\\d+L, [^\\]]*est_jaccard.*"),
      s"minhash dedup must key on (id1, id2, est_jaccard):\n$pm")
    assert(!pm.matches("(?s).*hashpartitioning\\([^)]*sig1#.*"),
      "minhash signature arrays must not cross the dedup exchange")
  }

  test("semdedup: assignment materialized once, screen and verdict are keyed joins") {
    val p = plan("semdedup_keep")
    // the N×L centroid fan-out + argmax is materialized ONCE before its
    // three consumers — the final plan must read the materialized
    // assignment (no nested-loop join may survive into it; an
    // un-materialized `best` showed up as THREE BroadcastNestedLoopJoin
    // subtrees, recomputing the assignment per consumer)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"assignment fan-out leaked into the final plan:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian")
    // the within-cell screen (on centroid) and the keep/drop verdict
    // (on vec_id) are keyed equi-joins over the materialized assignment
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"screen must be an equi-join:\n$p")
    // r17 (r16 VERDICT task 3, the knn_pv lesson): the assignment is a
    // persisted bucketed-on-centroid Indexes artifact, not a
    // localCheckpoint — a checkpoint pinned a corpus-sized vector table
    // in executor memory and erased the layout the reps groupBy keys on
    assert(p.contains("semdedup_best"),
      s"screen must ride the persisted bucketed assignment artifact:\n$p")
    // r16 (the r15 verdict's last superlinear emitter): the screen's
    // a-side is the cell's cap smallest-vec_id representatives — the
    // bounded heap must keep MAP-SIDE partials (partial_topkagg before
    // the centroid exchange, the embeddingNearDupByLabel guarantee),
    // and at this fixture scale the representative vectors BROADCAST
    // into the screen join (per-vector work ≤ cap cosines; the fact
    // table is never shuffled for the screen). The hint is SIZE-GATED
    // (r16 VERDICT task 1) — the shuffled fallback branch is pinned
    // hash-exact in NearDupSpec under a floor threshold.
    assert(p.contains("partial_topkagg"),
      s"representative heap must fold map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"capped screen must broadcast the representatives at fixture scale:\n$p")
  }

  test("semdedup assignment: centroid broadcast is size-gated, fallback is a partitioned cartesian") {
    // r17 VERDICT task 4: the N×L quantizer fan-out hard-broadcast the
    // centroid table; the hint is now size-gated. Pin BOTH physical
    // strategies on the PRE-materialization assignment plan (the
    // registry plan hides the build behind the Indexes artifact):
    // default threshold → the centroid side broadcasts (BNLJ); floor
    // threshold → hint withheld, the same cross join plans as a
    // CartesianProduct instead of a forced broadcast. Row-identity of
    // the two branches is asserted end-to-end in NearDupSpec.
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, SparkTestSession.sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
    val pBc = graft.operators.NearDup.semAssignment(emb)
      .queryExecution.executedPlan.toString
    assert(pBc.contains("BroadcastNestedLoopJoin"),
      s"default threshold: the quantizer must broadcast:\n$pBc")
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "64") {
      val pCart = graft.operators.NearDup.semAssignment(emb)
        .queryExecution.executedPlan.toString
      assert(!pCart.contains("BroadcastNestedLoopJoin"),
        s"floor threshold: the hint must be withheld:\n$pCart")
      assert(pCart.contains("CartesianProduct"),
        s"floor threshold: the assignment degrades to a partitioned cartesian:\n$pCart")
    }
  }

  test("whole-stage codegen covers the scalar hot paths") {
    // AQE wraps the plan and reports 0 codegen subtrees pre-execution —
    // inspect with AQE off (codegen behavior is identical underneath).
    def codegen(name: String): String =
      SparkEntry.queries(name)(spark, SparkTestSession.sf001)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      for (q <- Seq("project_arithmetic", "math_functions")) {
        val s = codegen(q)
        assert(s.contains("WholeStageCodegen") && !s.startsWith("Found 0"), q)
      }
      // the native ngrams expression must fuse too, not fall to interpreted
      val ng = codegen("ngram_count")
      assert(!ng.startsWith("Found 0"))
      assert(ng.contains("NGramsEval.eval"), "ngrams must emit its static-call codegen")
    }
  }

  test("runtime bloom-filter pruning injects on a selective fact join") {
    // At 100 TB the win is row-level pruning of the probe side before
    // the shuffle; at sf0.001 the size thresholds would never trip, so
    // they are lowered to force the decision path. The assertion is
    // that OUR plans are eligible (no custom expression or shape blocks
    // the InjectRuntimeFilter rule), not a size measurement.
    Sessions.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions._
      val li = sources.Tables.lineitem(spark, SparkTestSession.sf0001)
      val o = sources.Tables.orders(spark, SparkTestSession.sf0001)
        .filter(col("o_orderpriority") === "1-URGENT") // selective creation side
        .withColumnRenamed("o_orderkey", "l_orderkey")
      val j = li.join(o, "l_orderkey").groupBy("o_orderstatus").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") || opt.contains("BloomFilterMightContain"),
        s"runtime bloom filter was not injected:\n$opt")
    }
  }

  test("G31 metadata-only stats: COUNT/MIN/MAX push into the v2 parquet footer read") {
    import org.apache.spark.sql.functions._
    def stats() = sources.Tables.lineitem(spark, SparkTestSession.sf001)
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
    val v1Rows = stats().collect().toSeq // default v1 path: full scan
    Sessions.withConf(spark,
      "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text",
      "spark.sql.parquet.aggregatePushdown" -> "true") {
      val pushed = stats()
      val p = pushed.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate did not push into the scan:\n${p.take(3000)}")
      // footer-derived values must equal the full-scan values exactly
      assert(pushed.collect().toSeq == v1Rows)
    }
    // and the registry query (scoped conf flip + eager checkpoint) agrees
    val reg = SparkEntry.queries("agg_pushdown_stats")(spark, SparkTestSession.sf001)
    assert(reg.collect().toSeq == v1Rows)
    assert(spark.conf.get("spark.sql.sources.useV1SourceList").contains("parquet"),
      "registry fn must restore the v1 source list")
  }

  test("cooccur_parts: basket-keyed equi-join, map-side combine, heap top-k") {
    val p = plan("cooccur_parts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must be an equi-join on the basket id")
    // since r5 the pair table is a persisted Indexes artifact: the
    // query plan is a scan of the bucketed table (the map-side combine
    // lives in the build plan, asserted equivalent in IndexesSpec)
    assert(p.contains("graft_idx"),
      "support counts must come from the persisted co-order pair artifact")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be per-partition heaps, not a global sort")
  }

  test("rrf_fusion: truncated lists via heap top-k, no corpus-wide loop join") {
    val p = plan("rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      "per-system top-K must plan as TakeOrderedAndProject")
    assert(!p.contains("CartesianProduct"),
      "only the single broadcast query row may cross the candidates")
  }

  test("triangle_count: wedge closure is equi-joined, never a loop join") {
    val p = plan("triangle_count")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedge + closure must plan as keyed joins")
  }

  test("khop_2_reach: expansion is a keyed self-join, never a loop join") {
    val p = plan("khop_2_reach")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "2-hop expansion must plan as an equi-join on the middle node")
  }

  test("vocab_oov: membership probe is a broadcast join against the constant-size vocab") {
    val p = plan("vocab_oov")
    assert(p.contains("BroadcastHashJoin"),
      "the token->vocab probe must broadcast the top-V side")
    assert(p.contains("TakeOrderedAndProject"),
      "vocab cut must be a bounded top-V, not a global sort")
  }

  test("association mining: basket-keyed joins, heap top-k, never a cartesian") {
    Seq("pmi_parts", "frequent_triples").foreach { q =>
      val p = plan(q)
      // the one-row corpus-stats broadcast rides a BNLJ by design
      // (tfidf convention); only a shuffled cartesian is a bug
      assert(!p.contains("CartesianProduct"),
        s"$q: pair/triple expansion must stay an equi-join on the basket id")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
        s"$q: the basket self-join must be a keyed join")
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: top-k must be per-partition heaps, not a global sort")
    }
  }

  test("incremental_agg_merge: both sides partial-agg map-side, no cartesian") {
    val p = plan("incremental_agg_merge")
    assert(p.contains("partial_count"), "history/delta aggs must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("hll_rolling_users: sketch aggs are real partial/final aggregations") {
    val p = plan("hll_rolling_users")
    assert(p.contains("ObjectHashAggregate"),
      "HLL sketch agg must run as an aggregation, not a window/collect")
    assert(!p.contains("CartesianProduct"))
  }

  test("assign_dense_ids: data ranked per range-partition, offsets broadcast") {
    val p = distributedPlan("assign_dense_ids")
    assertGlobalOrder(p, "assign_dense_ids")
    assert(p.contains("Scan ExistingRDD[doc_id"),
      "ranks and offsets must both read the one materialized range partitioning")
  }

  test("anomaly_rolling_z: one customer-keyed window, never a single partition") {
    val p = plan("anomaly_rolling_z")
    assert(p.contains("hashpartitioning(o_custkey"),
      "window must partition by the scaling key")
    assert(!p.contains("SinglePartition"), "no global window funnel")
  }

  test("doc_bigram_surprise: doc-gram shuffle built once (AQE ReusedExchange)") {
    // The r06 rewrite relies on an up-front isNotNull filter making the
    // two bgd consumers (window branch + join-back branch) canonically
    // identical, so AQE materializes the explode→partial-agg map stage
    // ONCE. Reuse only appears in the FINAL adaptive plan, so execute
    // first; a refactor that breaks canonical equality doubles the most
    // expensive stage and fails here.
    val df = SparkEntry.queries("doc_bigram_surprise")(spark, SparkTestSession.sf001)
    df.collect() // finalize the adaptive plan (sf0.01: a few thousand rows)
    // AdaptiveSparkPlanExec.toString prints BOTH the final and the
    // pre-execution initial plan; only the final section reflects what ran
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      "doc-gram shuffle must be reused across the window and join-back branches")
    // exactly one bigram-builder subtree survives: the transform(sequence(...))
    // generator appears once in the final plan (vocab explodes raw tokens,
    // matched separately, so it doesn't count here)
    val gens = "transform\\(sequence\\(1,".r.findAllIn(p).size
    assert(gens == 1, s"expected 1 live bigram explode subtree, saw $gens")
    // r15: the join-back must build its hash relation on the
    // DISTINCT-gram scored table (1,210 rows at sf1), never on the
    // doc-gram bgd side (2.6M rows at sf1) — the planner's unhinted
    // BuildLeft choice broadcast the 2.6M-row side and made this the
    // slowest corpus query (8.0 s -> 2.2 s at sf1 after the flip)
    val joinLine = p.linesIterator
      .find(l => l.contains("BroadcastHashJoin [w1") || l.contains("BroadcastHashJoin [w2"))
    assert(joinLine.exists(_.contains("BuildRight")),
      s"gram join must build on the scored (distinct-gram) side: $joinLine")
  }

  test("khop bound: ONE Sigma-deg^2 expansion; scalar n_nodes reads edges only") {
    // Both counts (exact distinct + HLL sketch) must ride ONE khop
    // expansion — the 2-hop self-join (a BroadcastHashJoin carrying the
    // dst != src residual) appears exactly once — and the adaptive
    // cutoff's n_nodes scalar must come off the pruned EDGE table
    // (distinct endpoints), never a second expansion: counting the
    // aggregated expansion instead re-runs the most expensive join in
    // the plan to size one number.
    val p = plan("khop_2_reach_approx_bound")
    val twoHop = "BroadcastHashJoin \\[dst#\\d+L\\], \\[src#\\d+L\\]".r.findAllIn(p).size
    assert(twoHop == 1, s"expected exactly 1 two-hop self-join, saw $twoHop")
    // r18: both counts ride ONE (node, dst) pre-dedup of the expansion
    // (exact = count over the deduped stream; the HLL sketch is
    // duplicate-idempotent so it reads the same stream bit-identically)
    // — no Expand-based distinct rewrite may reappear and double the
    // Sigma-deg^2 rows, and the sketch still merges partial/final.
    // Scoped to the khop aggregation subtree (everything under the
    // first node/dst HashAggregate — tree prints root-first, so the
    // expansion is below the anchor) rather than the whole plan, so an
    // unrelated future multi-distinct elsewhere cannot fail this with
    // a misleading "shared dedup" message (r18 ADVICE).
    val khopAgg = "HashAggregate\\(keys=\\[node#\\d+L, dst#\\d+L\\]".r
      .findFirstMatchIn(p).map(m => p.substring(m.start))
      .getOrElse(fail("expected the (node, dst) dedup HashAggregate in the plan"))
    assert(!khopAgg.contains("Expand"),
      "the exact+approx pair must share the (node,dst) dedup, not an Expand rewrite")
    assert(p.contains("partial_approx_count_distinct"),
      "HLL sketch must aggregate partial/final beside the exact count")
    assert(p.contains("IdentityBroadcastMode"),
      "the n_nodes scalar must broadcast, not shuffle against the nodes")
  }

  test("approx_quantiles_bound: probes broadcast onto one ranking scan") {
    // The 12 (group, p, v) probe rows broadcast back onto the fact
    // table — the rank check costs one extra scan and no extra
    // shuffle beyond the group-keyed rank aggregation.
    val p = plan("approx_quantiles_bound")
    assert(p.contains("BroadcastHashJoin [l_returnflag"),
      "probe rows must broadcast onto the fact scan")
    assert(p.contains("partial_percentile_approx"),
      "the sketch itself must aggregate partial/final")
    assert(!p.contains("CartesianProduct"), "no cartesian")
  }

  test("ks_test_purchase: CDF is two-phase per deterministic bucket, never a global window") {
    // VERDICT r13 task 3: `value` is a continuous double, so at scale
    // |distinct values| ≈ |purchase rows| and a bare ORDER BY value
    // window is a single-task sort of the table. Correctness must not
    // rest on exchange reuse: GlobalOrderSpec runs it with reuse off.
    val p = distributedPlan("ks_test_purchase")
    assertGlobalOrder(p, "ks_test_purchase")
    assert(p.contains("windowspecdefinition(range_pid#") && p.contains("sum(ca#"),
      "the CDF running sums must be windowed per range partition")
  }

  test("customer_rfm: quintiles ranked per range-partition, never over every customer in one task") {
    val p = distributedPlan("customer_rfm")
    assertGlobalOrder(p, "customer_rfm")
    assert(p.contains(" div "), "the quintile must come from the rank and the row count")
    assert(!p.contains("ntile("), "no ntile window over every customer")
  }

  test("abc_pareto_parts: revenue rank and running share per range-partition, total a literal") {
    val p = distributedPlan("abc_pareto_parts")
    assertGlobalOrder(p, "abc_pareto_parts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the revenue total must ride the materialization, not a cross join")
  }

  test("embedding_near_dup_by_label: pair stream folds through map-side bounded heaps") {
    // r14 VERDICT task 1: the raw within-label pair emission was the
    // repo's one output-superlinear query at 100x. The bounded form
    // must fold candidate pairs into <=k partial heaps IN the join
    // stage (partial_topkpairagg before the label exchange), so the
    // exchange and the output carry O(labels*k) rows, and the pair
    // sample is exploded only AFTER the final aggregation.
    val p = plan("embedding_near_dup_by_label")
    assert(p.contains("partial_topkpairagg"),
      "bounded heap must keep map-side partials — the partial fold is the scale guarantee")
    assert(p.contains("partial_count"),
      "pair_count must aggregate partial/final, never re-scan")
    assert(p.contains("posexplode"),
      "the capped sample must be exploded from the aggregated heap")
    assert(!p.contains("CartesianProduct"), "pairing stays label-blocked")
    assert(!p.contains("Window"), "no window ranking over the raw pair stream")
  }

  test("label_propagation: rounds are mergeable aggregations, no Window at all") {
    // VERDICT r13 task 5: the per-round argmax is max(struct(c,-label))
    // — partial/final mergeable aggregation with map-side combine —
    // not a row_number window (which adds a shuffle-side sort within
    // every node partition, three times per query).
    val p = plan("label_propagation")
    assert(!p.contains("Window"), "no window argmax in any LPA round")
    assert(!p.contains("row_number"), "winner is an aggregation, not a rank")
    assert(p.contains("partial_max(struct(c"),
      "argmax must be the mergeable max-of-struct with map-side partials")
    assert(!p.contains("CartesianProduct"), "rounds are keyed joins only")
  }

  test("bm25_rank: corpus tokenized once, stats ride back as a broadcast row") {
    // r14: the r12-era shape tokenized the corpus twice (dl and tf
    // branches) and shuffled three times; the wide conditional-tf
    // aggregation makes the whole scorer one tokenize + one per-doc
    // exchange (AQE-reused by the stats branch) plus a single-row
    // broadcast join. Reuse only appears in the FINAL adaptive plan,
    // so execute first (the doc_bigram_surprise pattern).
    val df = SparkEntry.queries("bm25_rank")(spark, SparkTestSession.sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange") || "FileScan".r.findAllIn(p).length == 1,
      "the per-doc tf/dl exchange must be built once and reused by the stats branch")
    assert(p.contains("BroadcastNestedLoopJoin"), "corpus stats must broadcast back")
    assert(!p.contains("SortMergeJoin"), "no shuffle join anywhere in the scorer")
    assert(p.contains("partial_sum(CASE WHEN"),
      "per-doc conditional tf must keep map-side partials")
  }

  test("bpe_pair_counts: pair counting runs over the vocab, top-50 is a bounded heap") {
    val p = plan("bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be per-partition heaps, never a global sort of the pair table")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "pair aggregation must keep map-side partials")
    assert(!p.contains("CartesianProduct"))
  }
}
