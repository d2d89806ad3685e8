package graft

/** Pre-builds the persisted [[Indexes]] artifacts the registry's
  * index-backed queries read, attributing the once-per-fixture build
  * cost SEPARATELY from steady-state query cost (r16 VERDICT task 4:
  * SCALE100_r16's knn_graph_lsh number conflated the ~2.5 GB pv
  * artifact write with the query it feeds, so its per-row ratio meant
  * two things at once).
  *
  * For each query it runs the plan twice through the same noop-sink
  * materialization Bench times, printing one JSON line per query:
  *
  *   {"query":"knn_graph_lsh","first_sec":92.1,"steady_sec":3.9}
  *
  * first ≫ steady attributes the artifact build; first ≈ steady means
  * the artifact was already on disk (adopted, nothing to attribute).
  * round_final.sh runs this against the 100× fixture BEFORE the reps=1
  * stress bench and keeps the output as SCALE100_BUILD_r{N}.txt, so
  * the stress bench itself measures steady state only.
  *
  * Args: query names; default = every registry query whose plan builds
  * or adopts an Indexes artifact (kept in lockstep with the
  * `Indexes.table` call sites — a missing name is harmless: that
  * query's build lands in the bench's untimed warm-up run instead).
  */
object IndexWarm {

  /** Derived from the PLANS, not a hand audit: IndexWarmSpec constructs
    * every registry query at sf0.001 and asserts this list equals
    * exactly the set whose physical plan reads a `graft_idx_` table —
    * the r17 hand-written first draft missed 12 (including
    * minhash_calibration, the very query the in-shard knn_pv rebuild
    * then contaminated). */
  val IndexBacked: Seq[String] = Seq(
    "ann_ivf_topk", "ann_lsh_topk", "ann_pq_topk", "ann_recall_bounds",
    "best_match_fuzzy", "best_match_fuzzy_bound",
    "cc_clusters", "cc_components", "cc_keep_best",
    "clustering_coefficient", "cooccur_parts", "dedup_apply_keep_best",
    "dedup_incremental", "dedup_passages", "dedup_passages_scrub",
    "embedding_near_dup_lsh", "frequent_triples", "khop_2_reach",
    "khop_2_reach_approx", "khop_2_reach_approx_bound",
    "knn_graph_bound", "knn_graph_lsh", "label_propagation",
    "minhash_calibration", "minhash_calibration_bound",
    "minhash_near_dup_pairs", "neardup_recall_bounds", "pagerank_trade",
    "pmi_parts", "semdedup_keep", "simhash_near_dup_pairs",
    "source_overlap", "triangle_count")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else IndexBacked
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local(Sessions.cpus)
    def run(name: String): Double = Trace(spark) {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }._2.seconds
    names.foreach { n =>
      val (first, steady) =
        try (run(n), run(n))
        catch { case e: Throwable =>
          System.err.println(s"[indexwarm] $n failed: ${e.getMessage}")
          (-1.0, -1.0)
        }
      def r3(x: Double) = math.rint(x * 1000) / 1000
      println(s"""{"query":"$n","first_sec":${r3(first)},"steady_sec":${r3(steady)}}""")
    }
    spark.stop()
  }
}
