package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[IndexWarm.IndexBacked]] in lockstep with reality: the list
  * drives the pre-warm step that runs before every bench leg
  * (tools/round_final.sh), and a query whose plan reads a persisted
  * [[Indexes]] artifact but is missing from the list would build that
  * artifact inside a timed shard JVM — the exact contamination the r17
  * sf1 guard flags traced to (minhash_calibration 7.6× hot right after
  * an in-shard knn_pv rebuild). Membership is derived from the PLANS,
  * not a hand-audit: every registry query is constructed at sf0.001 and
  * scanned for a `graft_idx_` table read. */
class IndexWarmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("IndexBacked == the registry queries whose plans read a persisted index artifact") {
    val withIdx = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      // two detection paths: an artifact scan in the final plan, OR an
      // Indexes.table call during CONSTRUCTION (some queries — e.g.
      // embedding_near_dup_lsh — build the artifact and then
      // materialize the derived table through operators.Materialize, so
      // the plan string never shows the scan)
      Indexes.resetTouched()
      val plan = SparkEntry.queries(n)(spark, SparkTestSession.sf0001)
        .queryExecution.executedPlan.toString
      plan.contains("graft_idx_") || Indexes.anyTouched
    }
    val declared = IndexWarm.IndexBacked.sorted
    assert(withIdx == declared,
      s"""IndexWarm.IndexBacked is out of sync with the plans.
         |plans reading an artifact but NOT pre-warmed: ${withIdx.diff(declared).mkString(", ")}
         |pre-warmed but no artifact in plan:           ${declared.diff(withIdx).mkString(", ")}""".stripMargin)
  }
}
