package graft

import graft.operators.{Dedup, NearDup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X1/X2 property tests (SURVEY.md §5.2(4)): exact dedup, MinHash
  * estimator quality on constructed overlap sets, SimHash behavior,
  * and LSH recall of planted near-dups. */
class NearDupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Construct docs with a known token overlap: doc B keeps `keep` of
    * A's 100 distinct tokens and replaces the rest. True 3-shingle
    * Jaccard is computable exactly via Dedup's jaccard machinery. */
  private def overlapDocs(keep: Int): Seq[(Long, String)] = {
    val base = (0 until 100).map(i => s"tok$i")
    val b = base.take(keep) ++ (keep until 100).map(i => s"other$i")
    Seq((0L, base.mkString(" ")), (1L, b.mkString(" ")))
  }

  private def trueJaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exact dedup: identical texts collapse to one keeper with min id") {
    val docs = Seq((10L, "a b c"), (3L, "a b c"), (7L, "x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.exactByContent(docs)
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).toSet
    assert(got == Set((3L, 2L), (7L, 1L)))
  }

  test("minhash: identical docs get identical signatures; estimate = 1") {
    val docs = Seq((0L, "w1 w2 w3 w4 w5 w6"), (1L, "w1 w2 w3 w4 w5 w6"))
      .toDF("doc_id", "text")
    val sigs = NearDup.minhashSignatures(docs)
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(0L) == sigs(1L))
    val pairs = NearDup.minhashPairs(docs, 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("minhash estimate within ε of true Jaccard on constructed overlap sets") {
    for (keep <- Seq(90, 70, 50)) {
      val docs = overlapDocs(keep).toDF("doc_id", "text")
      val Seq((a, b)) = Seq(overlapDocs(keep).map(_._2)).map(s => (s(0), s(1)))
      val truth = trueJaccard(a, b)
      val est = NearDup.minhashPairs(docs, 0.0)
        .as[(Long, Long, Double)].collect()
      // banding must surface the pair at these similarity levels
      assert(est.nonEmpty, s"keep=$keep: pair not found by LSH banding")
      // k=32 permutations → stderr ≈ sqrt(J(1-J)/32) ≈ 0.09; allow 3σ
      assert(math.abs(est.head._3 - truth) < 0.27,
        s"keep=$keep: est=${est.head._3} truth=$truth")
    }
  }

  test("simhash: identical docs identical sigs; small perturbation stays within hamming 16") {
    val base = (0 until 200).map(i => s"tok$i").mkString(" ")
    val perturbed = (0 until 200).map(i => if (i % 20 == 0) s"chg$i" else s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, perturbed)).toDF("doc_id", "text")
    val sigs = NearDup.simhashSignatures(docs).as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) <= 16)
  }

  test("LSH banding recall: every planted 80%-truncation pair is found at threshold 0.5") {
    val docs = sources.Tables.documents(spark, SparkTestSession.sf0001)
    val pairs = NearDup.minhashPairs(NearDup.withPlantedDups(docs), 0.5)
      .as[(Long, Long, Double)].collect()
    val planted = pairs.filter(p => p._2 == p._1 + 100000).map(_._1).toSet
    // an 80% prefix copy shares ≥ ~75% of shingles → est ≥ 0.5 comfortably
    assert(planted.size >= 45, s"only ${planted.size}/50 planted pairs found")
  }

  test("embedding LSH near-dup: planted perturbed copies are recovered") {
    val emb = sources.Tables.embeddings(spark, SparkTestSession.sf0001)
    val pairs = NearDup.embeddingNearDupLsh(NearDup.withPlantedEmbeddingDups(emb), 0.8)
      .as[(Long, Long, Double)].collect()
    val planted = pairs.filter(p => p._2 == p._1 + 100000)
    assert(planted.length >= 36, s"only ${planted.length}/40 planted embedding dups found")
    planted.foreach { case (_, _, c) => assert(c >= 0.8 && c <= 1.0) }
    // and nothing from the random tail sneaks past the 0.8 verify
    assert(pairs.forall(_._3 >= 0.8))
  }

  test("LSH bucket cap drops degenerate buckets, not normal ones") {
    // 200 identical docs → one bucket of 200 > maxBucket(64) → no pairs
    val degenerate = (0L until 200L).map(i => (i, "same text for every doc here"))
      .toDF("doc_id", "text")
    assert(NearDup.minhashPairs(degenerate, 0.0).count() == 0)
  }

  test("X75 calibration: estimator errors sit inside K=32 MinHash theory") {
    val r = SparkEntry.queries("minhash_calibration")(spark, SparkTestSession.sf001)
      .collect().head
    assert(r.getAs[Long]("n_pairs") > 0, "no candidates — calibration is vacuous")
    // unbiased estimator: the signed mean error must hover near 0
    assert(math.abs(r.getAs[Double]("mean_err")) <= 0.05,
      s"mean signed error ${r.getAs[Double]("mean_err")} — estimator is biased")
    // σ = √(J(1−J)/32) ≤ 0.089; mean |err| ≈ 0.8σ, max a few σ
    assert(r.getAs[Double]("mean_abs_err") <= 0.1)
    assert(r.getAs[Double]("max_abs_err") <= 0.5)
  }

  test("X75 candidate bound: calibration candidates stay under the cap-guaranteed linear model") {
    // r14 VERDICT task 6: the calibration's cost driver is |candidates|
    // (each gets an exact-Jaccard verify), and its 10x growth comes from
    // the copies fixture densifying buckets. The cap makes the worst
    // case LINEAR: each kept bucket holds <= maxBucket docs, so a doc
    // meets <= Bands*(maxBucket-1) partners, i.e. candidates <=
    // n*Bands*(maxBucket-1)/2, and distinct pairs can never exceed the
    // summed per-bucket pair slots. CalibProbe prints the same counts
    // per fixture as a round record.
    val docs = NearDup.withPlantedDups(
      sources.Tables.documents(spark, SparkTestSession.sf001))
    val sigs = NearDup.minhashSignatures(docs).localCheckpoint()
    val n = sigs.count()
    val slots = NearDup.minhashBandStats(sigs)
      .filter(col("bucket_n") <= NearDup.maxBucket)
      .agg(sum((col("bucket_n") * (col("bucket_n") - 1) / 2).cast("long")))
      .head().getLong(0)
    val cand = NearDup.minhashPairs(docs, 0.0).count()
    assert(cand <= slots, s"$cand candidates exceed $slots per-bucket pair slots")
    assert(cand <= n * NearDup.Bands * (NearDup.maxBucket - 1) / 2,
      s"$cand candidates exceed the linear-in-n cap bound")
  }
  test("X8 candidate bound: simhash pair volume stays under the adaptive-cap linear model") {
    // r15 VERDICT task 4a: simhash_near_dup_pairs' 100x growth (1.59x
    // per-row) is the adaptive cap's designed growth phase — capEff =
    // clamp(n/16, [64, 4096]) — and must stay under the same two-level
    // model minhash is pinned to: distinct pairs can never exceed the
    // kept buckets' summed pair slots, and per doc a kept bucket
    // contributes <= capEff-1 partners across 4 chunks. CalibProbe
    // prints the same counts per fixture as the round record.
    val docs = NearDup.withPlantedDups(
      sources.Tables.documents(spark, SparkTestSession.sf001))
    val sigs = NearDup.simhashSignatures(docs).localCheckpoint()
    val n = sigs.count()
    val capEff = NearDup.simhashCapEff(n)
    val slots = NearDup.simhashChunkStats(sigs)
      .filter(col("bucket_n") <= capEff)
      .agg(sum((col("bucket_n") * (col("bucket_n") - 1) / 2).cast("long")))
      .head().getLong(0)
    // maxHamming=64 keeps all candidates — the join volume IS the cost
    val cand = NearDup.simhashPairs(docs, 64).count()
    assert(cand <= slots, s"$cand candidates exceed $slots per-bucket pair slots")
    assert(cand <= n * 4 * (capEff - 1) / 2,
      s"$cand candidates exceed the linear-in-n capEff bound")
    // r16 VERDICT task 5, the bound REGIME: capEff = clamp(n/16,
    // [64, 4096]) — past n = 65536 the ceiling binds, the per-doc
    // bound 4*(capEff-1)/2 stops growing with n, and total candidate
    // growth returns to linear. Pinned here as the pure-function fact
    // (ceiling flat from 2^16 up through corpus scale); the MEASURED
    // past-ceiling point (1M-doc fixture vs the 500k one, per-doc
    // candidates flat) is the paired CALIB_r17 record.
    assert(NearDup.simhashCapEff(65536) == 4096)
    assert(NearDup.simhashCapEff(500000) == 4096 &&
      NearDup.simhashCapEff(1000000) == 4096 &&
      NearDup.simhashCapEff(100000000L) == 4096,
      "capEff must stay at the ceiling past 65k docs — the linear-regime guarantee")
  }
  test("X53 candidate bound: best-match scored rows equal the band-block join volume") {
    // r15 VERDICT task 4b: best_match_fuzzy's cost driver is the
    // bucket-join row count, which by construction is exactly
    // sum over buckets of |odd members| * |even members| — the
    // measurable band-block model CalibProbe records per fixture. If
    // the operator ever scored more rows than the blocks allow (e.g. a
    // join-key regression widening to all-pairs), this breaks.
    val docs = sources.Tables.documents(spark, SparkTestSession.sf001)
    val memb = operators.Clustering.fingerprintBuckets(docs).localCheckpoint()
    val blockVolume = memb
      .groupBy("bucket")
      .agg(sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("odd"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("even"))
      .agg(sum(col("odd") * col("even")))
      .head().getLong(0)
    val scored = memb.filter(col("doc_id") % 2 === 1)
      .select(col("bucket"), col("doc_id").as("bdoc"))
      .join(memb.filter(col("doc_id") % 2 === 0)
        .select(col("bucket"), col("doc_id").as("cdoc")), "bucket")
      .count()
    assert(scored == blockVolume,
      s"scored $scored rows but the band blocks only allow $blockVolume")
    // r17: the operator scores ONE representative per (content, parity)
    // — its actual join volume is the rep-block volume, which the full
    // band-block volume bounds from above (equality iff no two docs of
    // one parity share a distinct-trigram set, as on this pristine
    // fixture; on copy-densified fixtures rep volume is strictly less).
    val sets = docs.select(col("doc_id"),
        array_distinct(functions.TextFns.ngrams(col("text"), 3)).as("s"))
      .filter(size(col("s")) > 0)
    val keys = sets.select(col("doc_id"),
      sha2(array_join(array_sort(col("s")), "\u0001"), 256).as("ck"))
    val repIds = keys.groupBy(col("ck"), pmod(col("doc_id"), lit(2)).as("par"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val membR = operators.Clustering.fingerprintBuckets(
      docs.join(repIds, Seq("doc_id"), "left_semi")).localCheckpoint()
    val repVolume = membR
      .groupBy("bucket")
      .agg(sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("odd"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("even"))
      .agg(sum(col("odd") * col("even")))
      .head().getLong(0)
    val scoredR = membR.filter(col("doc_id") % 2 === 1)
      .select(col("bucket"), col("doc_id").as("bdoc"))
      .join(membR.filter(col("doc_id") % 2 === 0)
        .select(col("bucket"), col("doc_id").as("cdoc")), "bucket")
      .count()
    assert(scoredR == repVolume,
      s"rep-scored $scoredR rows but the rep blocks only allow $repVolume")
    assert(repVolume <= blockVolume,
      s"rep volume $repVolume exceeds the full band-block volume $blockVolume")
  }
  test("X53 bucket cap: no-op at fixture scale, exact channel immune to forced eviction") {
    // r17 VERDICT task 1. Part 1 — the cap is a provable NO-OP wherever
    // bucket occupancy stays under it (every oracle fixture: CALIB
    // max_bucket 6/19/190 vs cap 256): the registered cap and an
    // effectively-uncapped run must be row-identical on the pristine
    // fixture, which is what lets the UNCHANGED brute-bucket oracle
    // keep proving the operator at the driver gates.
    val fixture = sources.Tables.documents(spark, SparkTestSession.sf0001)
      .select(col("doc_id"), col("text"))
    val registered = NearDup.bestMatchFuzzy(fixture)
      .orderBy("doc_id").collect().toSeq
    val uncapped = NearDup.bestMatchFuzzy(fixture, cap = 1000000)
      .orderBy("doc_id").collect().toSeq
    assert(registered == uncapped,
      "cap must be a no-op at fixture bucket sizes")

    // Part 2 — cap = 1 forces maximal eviction (each bucket keeps ONE
    // min-id corpus rep). Identical-content matches must STILL resolve
    // at Jaccard exactly 1.0 to the min even id with that content (the
    // content-key channel never touches buckets); every odd doc with a
    // nonempty shingle set still gets exactly one verdict (the cap
    // never empties a nonempty bucket).
    val base = (0 until 20).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$base extraB"),  // batch: identical content to even 4
      (3L, s"$base extraC"),  // batch: distinct content, near both evens
      (2L, s"$base extraA"),  // corpus: the min-id rep evictions favor
      (4L, s"$base extraB")   // corpus: doc 1's exact twin
    ).toDF("doc_id", "text")
    val got = NearDup.bestMatchFuzzy(corpus, cap = 1)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 3L), "one verdict per batch doc")
    assert(got.head == ((1L, 4L, 1.0)),
      s"exact-content match must survive cap=1 eviction: $got")
    val near = got(1)
    assert(near._2 % 2 == 0 && near._3 > 0.0 && near._3 < 1.0,
      s"capped bucket channel must still yield a corpus match: $near")
  }

  test("X53 bound: planted identical twins resolve at 1.0 — expected-empty at the fixture") {
    assert(SparkEntry.queries("best_match_fuzzy_bound")(
      spark, SparkTestSession.sf0001).count() == 0L,
      "no planted origin may miss its Jaccard-1.0 twin")
  }

  test("by-label profile: representative cap binds deterministically to the smallest vec_ids") {
    // One label, 6 identical vectors → uncapped profile scores C(6,2)=15
    // qualifying pairs. cap=3 must profile EXACTLY vec_ids {1,2,3}
    // (smallest ids — deterministic, not a sample): C(3,2)=3 pairs.
    // A cap at the group size must be a no-op (the sf0.01/sf0.1 gate
    // relies on this: max label size 218 < the registered cap 256).
    val emb = (1L to 6L).map(i => (i, "L0", Array(1.0f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
    val full = NearDup.embeddingNearDupByLabel(emb, 0.5, 8, 6)
      .select("pair_count", "id1", "id2").as[(Long, Long, Long)].collect()
    assert(full.forall(_._1 == 15L) && full.length == 8)
    val capped = NearDup.embeddingNearDupByLabel(emb, 0.5, 8, 3)
      .select("pair_count", "id1", "id2").as[(Long, Long, Long)].collect()
    assert(capped.forall(_._1 == 3L) && capped.length == 3)
    assert(capped.flatMap(p => Seq(p._2, p._3)).toSet == Set(1L, 2L, 3L))
  }
  test("semdedup screen cap: verdicts for the first cap ids are exact, the tail is screened against representatives only") {
    // One cell, 6 vectors: 1≡2 (e1), 3=e2, 4=e3, 5≡6 (e5) — pairwise
    // orthogonal across groups, so at τ=0.5 the uncapped screen drops
    // exactly {2, 6} (each has an identical smaller-id neighbor).
    // cap=3 → representatives {1,2,3} (smallest ids, deterministic):
    //  - ids ≤ cap keep their EXACT uncapped verdicts (any smaller id
    //    is itself a representative): 2 still drops against 1;
    //  - the tail is screened against representatives only: 6's dup 5
    //    is not a representative, so 6 survives under the cap.
    // cap ≥ cell size must be a no-op — the sf0.01/sf0.1 oracle gate
    // relies on this (cells there sit far under the registered cap).
    def e(i: Int): Array[Float] = {
      val a = Array.fill(6)(0.0f); a(i) = 1.0f; a
    }
    val emb = Seq((1L, e(0)), (2L, e(0)), (3L, e(1)), (4L, e(2)),
        (5L, e(4)), (6L, e(4)))
      .map { case (id, v) => (id, "0", v) } // label int-castable: the centroid id
      .toDF("vec_id", "label", "embedding")
    def kept(cap: Int): Set[Long] =
      NearDup.semDedupKeep(emb, 0.5, cap).filter(col("kept"))
        .select("vec_id").as[Long].collect().toSet
    assert(kept(6) == Set(1L, 3L, 4L, 5L), "uncapped: drop {2,6}")
    assert(kept(3) == Set(1L, 3L, 4L, 5L, 6L),
      "cap=3: 2 (a representative with a smaller-id rep dup) still drops; 6's dup 5 is past the cap, so 6 survives")
  }

  test("broadcast gates: rep-side hints are withheld under a floor threshold, both branches hash-exact") {
    // r16 VERDICT task 1: semDedupKeep/embeddingNearDupByLabel hard-
    // broadcast a representative side that grows as cells·cap — the
    // hint is now size-gated on autoBroadcastJoinThreshold (the
    // pagerank convention). Exercise BOTH branches (the SkewSpec
    // branch-switch pattern): default threshold → the screen
    // broadcasts; a 64-byte floor → every rep estimate exceeds it, the
    // hint is withheld, the planner runs the identical shuffled
    // equi-join, and the output is row-identical.
    def e(i: Int): Array[Float] = { val a = Array.fill(6)(0.0f); a(i) = 1.0f; a }
    val emb = Seq((1L, "0", e(0)), (2L, "0", e(0)), (3L, "0", e(1)),
        (4L, "1", e(2)), (5L, "1", e(4)), (6L, "1", e(4)))
      .toDF("vec_id", "label", "embedding")
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val semBc = NearDup.semDedupKeep(emb, 0.5, 3)
    assert(plan(semBc).contains("BroadcastHashJoin"),
      "default threshold: the capped screen broadcasts the representatives")
    val semRows = semBc.orderBy("vec_id").collect().toSeq
    val byBc = NearDup.embeddingNearDupByLabel(emb, 0.5, 8, 3)
    assert(plan(byBc).contains("BroadcastHashJoin"))
    val byRows = byBc.orderBy("label", "rnk").collect().toSeq
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "64") {
      // under the floor the centroid-assignment gate (r17 VERDICT task
      // 4) is ALSO withheld — the build behind the checkpoint runs as a
      // cartesian (strategy pinned in PlanAuditSpec) and this
      // end-to-end row-identity covers that branch too
      val sem = NearDup.semDedupKeep(emb, 0.5, 3)
      val p = plan(sem)
      assert(!p.contains("BroadcastHashJoin"),
        s"floor threshold: no hash-broadcast may survive:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"the screen must degrade to a shuffled equi-join:\n$p")
      assert(sem.orderBy("vec_id").collect().toSeq == semRows,
        "semdedup fallback branch must be row-identical")
      val by = NearDup.embeddingNearDupByLabel(emb, 0.5, 8, 3)
      val pb = plan(by)
      assert(!pb.contains("BroadcastHashJoin"), pb)
      assert(by.orderBy("label", "rnk").collect().toSeq == byRows,
        "by-label fallback branch must be row-identical")
    }
  }

  test("incremental near-dup screen: planted twins screened out, novel batch docs survive") {
    // dedup_incremental_simjoin is oracled in the driver gate; this
    // pins the SEMANTIC shape in-repo at sf0.001: every 80%-truncated
    // twin (ids 100000+) is a near-dup of its corpus original at
    // theta=0.6 and must be screened; the re-keyed src2 docs
    // (ids 200000+) are novel against the src1 corpus here and must
    // ALL survive, in order.
    val got = SparkEntry.queries("dedup_incremental_simjoin")(
      spark, SparkTestSession.sf0001).as[Long].collect().toSeq
    assert(got.nonEmpty, "novel batch docs must survive the screen")
    assert(got.forall(_ >= 200000L),
      s"a planted twin survived the near-dup screen: ${got.filter(_ < 200000L)}")
    val src2 = sources.Tables.documents(spark, SparkTestSession.sf0001)
      .filter(col("source") === "src2").select("doc_id")
      .as[Long].collect().toSeq.map(_ + 200000L).sorted
    assert(got == src2, "every novel src2 doc survives, ordered by id")
  }

  test("X80 dup_spans: a shared token run yields one merged maximal span per doc; unique text yields none") {
    // doc 0 carries the 10-token run s1..s10 at token offset 3, doc 1
    // at offset 2; every other token is unique, so the duplicated
    // 8-grams are exactly the 3 windows inside the run → they merge to
    // ONE span covering tokens [3,12] / [2,11] (10 tokens). Doc 2
    // shares nothing and must emit nothing.
    // the registered (documents-table, DuckDB-oracled) form keeps its shape
    assert(SparkEntry.queries("dup_spans")(spark, SparkTestSession.sf0001)
      .columns.toSeq == Seq("doc_id", "span_start", "span_end", "span_tokens"))
    val run = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"u1 u2 u3 $run u4 u5"),
      (1L, s"v1 v2 $run v3"),
      (2L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.dupSpans(docs, 8)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 12L, 10L), (1L, 2L, 11L, 10L)))
  }

  test("X80 property: random planted shared runs produce exactly their maximal spans") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Each sample plants several doc PAIRS sharing a unique L-token run
    // (L >= 8) at independent random offsets, padded by per-doc unique
    // tokens. The exact expected output is derivable: the dup grams are
    // precisely the windows inside the run, which merge to ONE span
    // [offset, offset+L-1] of L tokens per doc — nothing more, nothing
    // less. Few samples, one Spark job each (each sample builds one
    // corpus and runs the operator once).
    val genCases = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, for {
      runLen <- Gen.choose(8, 20)
      p1 <- Gen.choose(0, 10); s1 <- Gen.choose(0, 10)
      p2 <- Gen.choose(0, 10); s2 <- Gen.choose(0, 10)
    } yield (runLen, p1, s1, p2, s2)))
    val prop = Prop.forAll(genCases) { cases =>
      def uniq(d: Long, tag: String, n: Int) =
        (0 until n).map(i => s"u$d$tag$i").mkString(" ")
      val docs = cases.zipWithIndex.flatMap { case ((l, p1, s1, p2, s2), k) =>
        val run = (0 until l).map(i => s"r${k}x$i").mkString(" ")
        Seq((2L * k, Seq(uniq(2L * k, "a", p1), run, uniq(2L * k, "b", s1))),
            (2L * k + 1, Seq(uniq(2L * k + 1, "a", p2), run, uniq(2L * k + 1, "b", s2))))
          .map { case (id, parts) => (id, parts.filter(_.nonEmpty).mkString(" ")) }
      }
      val expected = cases.zipWithIndex.flatMap { case ((l, p1, _, p2, _), k) =>
        Seq((2L * k, p1.toLong, (p1 + l - 1).toLong, l.toLong),
            (2L * k + 1, p2.toLong, (p2 + l - 1).toLong, l.toLong))
      }.sortBy(x => (x._1, x._2))
      val got = Dedup.dupSpans(docs.toDF("doc_id", "text"), 8)
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      got == expected
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop).passed)
  }

  test("X82 dup_spans_scrub: keep-first keeper stays intact, later occurrences cut, within-doc repeats cut") {
    // doc 0 (minimal id) holds the 10-token run first -> keeper, fully
    // intact. doc 1 repeats it -> its copy [2,11] is cut. doc 2 is all
    // unique -> untouched. doc 3 repeats ITS OWN 8-gram run twice ->
    // the second occurrence is cut (within-doc dedup, cnt>=2 not
    // distinct-docs>=2). Normalization: text_scrubbed is over S1
    // tokens (lowercased).
    assert(SparkEntry.queries("dup_spans_scrub")(spark, SparkTestSession.sf0001)
      .columns.toSeq == Seq("doc_id", "n_tokens", "n_cut", "text_scrubbed"))
    val run = (1 to 10).map(i => s"s$i").mkString(" ")
    val own = (1 to 8).map(i => s"o$i").mkString(" ")
    val docs = Seq(
      (0L, s"u1 u2 u3 $run u4 u5"),
      (1L, s"v1 v2 $run v3"),
      (2L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (3L, s"$own x1 $own x2")).toDF("doc_id", "text")
    val got = Dedup.dupSpansScrub(docs, 8).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 15L, 0L, s"u1 u2 u3 $run u4 u5"),
      (1L, 13L, 10L, "v1 v2 v3"),
      (2L, 20L, 0L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (3L, 18L, 8L, s"$own x1 x2")))
  }

  test("X79 semdedup: keep/drop partitions the corpus, cluster-min ids are kept, co-clustered planted copies drop") {
    import org.apache.spark.sql.expressions.Window
    val emb = sources.Tables.embeddings(spark, SparkTestSession.sf0001)
    val nEmb = emb.count()
    // the registered (raw-corpus, DuckDB-oracled) form keeps its contract shape
    assert(SparkEntry.queries("semdedup_keep")(spark, SparkTestSession.sf0001)
      .columns.toSeq == Seq("vec_id", "centroid", "kept"))
    val res = NearDup.semDedupKeep(NearDup.withPlantedEmbeddingDups(emb), 0.3).cache()
    try {
      // every vector appears exactly once with a cluster and a verdict
      assert(res.count() == nEmb + 40)
      assert(res.select("vec_id").distinct().count() == nEmb + 40)
      // keepers are the id-minimal elements: the smallest id in every
      // cluster has no smaller-id neighbor, so it can never be dropped
      val clusterMin = res.withColumn("rn",
          row_number().over(Window.partitionBy("centroid").orderBy("vec_id")))
        .filter(col("rn") === 1)
      assert(clusterMin.filter(!col("kept")).count() == 0,
        "a cluster's id-minimal vector was dropped")
      // planted copies (cos ≈ 0.93 to their original, larger id): when
      // assignment puts copy and original in the same cluster, the copy
      // has a smaller-id ≥τ neighbor and MUST be dropped
      val orig = res.filter(col("vec_id") < 40)
        .select(col("vec_id").as("o"), col("centroid").as("c_orig"))
      val copies = res.filter(col("vec_id") >= 100000L)
        .select((col("vec_id") - 100000L).as("o"),
          col("centroid").as("c_copy"), col("kept"))
      val coClustered = orig.join(copies, "o")
        .filter(col("c_orig") === col("c_copy")).cache()
      // measured 35/40 at sf0.001 (the perturbation can move a vector
      // that sat near a cell boundary); floor pinned with margin
      assert(coClustered.count() >= 32,
        s"only ${coClustered.count()}/40 planted copies co-clustered")
      assert(coClustered.filter(col("kept")).count() == 0,
        "a co-clustered planted copy survived the screen")
    } finally res.unpersist()
  }

}
