package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** X3 similarity-search tests: exact top-k sanity and ANN recall vs
  * the brute-force baseline (the standard ANN quality metric). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = sources.Tables.embeddings(spark, SparkTestSession.sf0001)

  test("exact cosine top-k: k rows per query, rank 1..k, cos non-increasing") {
    val rows = Similarity.cosineTopK(emb, nQ = 8, k = 10)
      .as[(Long, Int, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1 to 10))
      val cos = g.sortBy(_._2).map(_._4)
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(cos.forall(c => c >= -1.0000001 && c <= 1.0000001))
    }
  }

  private def meanRecall(nPlanes: Int, nTables: Int): Double = {
    val exact = Similarity.cosineTopK(emb, nQ = 8, k = 10)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val ann = Similarity.annTopK(emb, nQ = 8, k = 10, nPlanes, nTables)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      ann.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    recalls.sum / recalls.size
  }

  test("ANN LSH top-k: mean recall vs brute force >= 0.5 at the defaults") {
    // Defaults (6 planes × 24 tables) picked by a recall sweep: mean
    // top-10 recall 0.66–0.70 across hyperplane seeds at sf0.001, so
    // the 0.5 bound binds with margin but without seed-flakiness.
    val mean = meanRecall(6, 24)
    assert(mean >= 0.5, s"mean recall $mean — LSH buckets are not grouping neighbors")
    // and ANN scores must match exact scores for the ids both agree on
    val exactScores = Similarity.cosineTopK(emb, 8, 10)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    Similarity.annTopK(emb, 8, 10).as[(Long, Int, Long, Double)].collect()
      .foreach { case (q, _, id, c) =>
        exactScores.get((q, id)).foreach(e => assert(math.abs(e - c) < 1e-9))
      }
  }

  test("ANN recall bound binds: a single un-amplified table fails it") {
    // Negative control for the >= 0.5 assertion above: with OR
    // amplification stripped (nTables = 1) the same metric collapses
    // (measured 0.03–0.11), so the bound genuinely discriminates a
    // working multi-table index from a broken one — it is not satisfied
    // by any bucketing whatsoever.
    val mean = meanRecall(6, 1)
    assert(mean < 0.5, s"single-table recall $mean — bound would not bind")
  }

  test("hyperplanes are deterministic across invocations") {
    assert(Similarity.hyperplanes(4, 8) == Similarity.hyperplanes(4, 8))
  }

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap

  test("IVF top-k: full probe width degenerates to exact search") {
    // nProbe = nClusters means every posting list is scanned, so the
    // candidate set is the whole corpus and the (identically rounded,
    // identically tie-broken) result must EQUAL brute force row-for-row
    // — pins assignment/probing bookkeeping, not just recall.
    val exact = Similarity.cosineTopK(emb, nQ = 8, k = 10)
      .as[(Long, Int, Long, Double)].collect().toSet
    val full = Similarity.ivfTopK(emb, nQ = 8, k = 10, nClusters = 8, nProbe = 8)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == exact, "full-probe IVF differs from brute force")
  }

  test("SQ8: reconstruction error is bounded by step/2 per element") {
    import org.apache.spark.sql.functions._
    // the defining property of affine round-to-nearest quantization;
    // checked distributed (max over every element of every vector)
    val viol = operators.Similarity.quantizeSq8(emb)
      .select(col("vec_id"), col("lo"), col("step"),
        zip_with(col("v"), col("codes"), (x, c) =>
          abs(col("lo") + (c.cast("double") + lit(128d)) * col("step") - x)
            > col("step") / 2 * 1.0000001).as("bad"))
      .filter(exists(col("bad"), b => b))
      .count()
    assert(viol == 0L, s"$viol vectors violate the step/2 reconstruction bound")
  }

  test("SQ8 top-k: mean recall vs exact >= 0.9 (4x-compressed scan)") {
    val exact = topkSets(Similarity.cosineTopK(emb, nQ = 8, k = 10))
    val sq8 = topkSets(Similarity.sq8TopK(emb, nQ = 8, k = 10))
    val recalls = exact.map { case (q, ids) =>
      sq8.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean SQ8 recall $mean — int8 should barely perturb ranks")
  }

  test("X83 PQ encode: planted exact duplicates carry identical codes") {
    import org.apache.spark.sql.functions._
    // exact duplicates must land in the same cell of every subspace —
    // the defining property of a deterministic quantizer (and the
    // reason PQ codes can drive near-dup blocking)
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    val dups = emb.filter(col("vec_id") < 32)
      .select((col("vec_id") + maxId + 1).as("vec_id"), col("embedding"), col("label"))
    val q = SparkEntry.queries("pq_quantize")
    assert(q(spark, SparkTestSession.sf0001).columns.toSeq ==
      Seq("vec_id", "c0", "c1", "c2", "c3"))
    val v = emb.unionByName(dups)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val codes = Similarity.pqEncode(
        Similarity.subvecs(v, 4, 16),
        Similarity.pqSeeds(v, 4, 16, 16))
      .groupBy("vec_id").agg(sort_array(collect_list(struct(col("sub"), col("code")))).as("cs"))
    val byId = codes.as[(Long, Seq[(Int, Int)])].collect().toMap
    (0L until 32L).foreach { i =>
      assert(byId(i) == byId(i + maxId + 1),
        s"duplicate of vec $i encoded differently: ${byId(i)} vs ${byId(i + maxId + 1)}")
    }
  }

  test("X83 PQ ADC top-k: mean recall >= 0.6 at m=16/k=16, and a collapsed codebook does worse") {
    val exact = topkSets(Similarity.cosineTopK(emb, nQ = 8, k = 10))
    val pq = topkSets(Similarity.pqTopK(emb, nQ = 8, k = 10))
    val recalls = exact.map { case (q, ids) =>
      pq.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean PQ recall $mean — ADC ranking has collapsed")
    // negative control: 2 codes per subspace (16 cells total) cannot
    // separate neighbors — proves the bound reflects codebook capacity
    val tiny = topkSets(Similarity.pqTopK(emb, nQ = 8, k = 10, kCodes = 2))
    val tinyMean = exact.map { case (q, ids) =>
      tiny.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
      .sum / recalls.size
    assert(tinyMean < mean,
      s"kCodes=2 recall $tinyMean !< kCodes=16 recall $mean — codebook capacity is inert")
  }

  test("X84 kNN graph: planted duplicate is its copy's mutual top neighbor; probe bound gate empty") {
    import org.apache.spark.sql.functions._
    // identical vectors share every LSH bucket in every table, so the
    // edge is always a candidate; cos = 1.0 beats every other neighbor
    // -> rank 1 in BOTH directions (kNN is directed; a true duplicate
    // must be mutual)
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    val dup = emb.filter(col("vec_id") === 100)
      .select(lit(maxId + 1).as("vec_id"), col("embedding"), col("label"))
    val g = Similarity.knnGraph(emb.unionByName(dup), k = 5).cache()
    assert(g.columns.toSeq == Seq("src", "rank", "dst", "cos"))
    assert(g.filter(col("src") === maxId + 1 && col("rank") === 1)
      .select("dst").as[Long].head() == 100L)
    assert(g.filter(col("src") === 100L && col("rank") === 1)
      .select("dst").as[Long].head() == maxId + 1)
    g.unpersist()
    // the driver-gated probe-recall bound holds at this fixture
    assert(SparkEntry.queries("knn_graph_bound")(spark, SparkTestSession.sf0001).count() == 0L,
      "knn_graph_bound emitted a row — probe recall fell under the 0.45 floor")
  }

  test("X84 kNN graph: a warm build of knn_graph_lsh starts no Spark job") {
    // the corpus size is read once per input version (graft.Memo) and
    // the posting and vector tables are adopted index artifacts
    def build() = SparkEntry.queries("knn_graph_lsh")(spark, SparkTestSession.sf0001)
    build()
    assert(Trace(spark)(build())._2.jobs === 0, "a warm knn_graph_lsh build started a job")
  }

  test("X84 adaptive planes: base fixtures keep the 6-plane floor; scale fixtures widen the key space") {
    // expected occupancy stays in (occTarget/2, occTarget]
    assert(Similarity.knnPlanesFor(500L) == 6)     // sf0.001/sf0.01
    assert(Similarity.knnPlanesFor(2000L) == 6)    // sf0.1 (floor boundary)
    assert(Similarity.knnPlanesFor(4096L) == 7)
    assert(Similarity.knnPlanesFor(20000L) == 10)  // 10x fixture
    assert(Similarity.knnPlanesFor(200000L) == 13) // 100x fixture
    assert(Similarity.knnPlanesFor(20000000L) == 20)
  }

  test("X84 occupancy cap: a hot bucket is downsampled (bounded candidates) but the planted pair edge survives") {
    import org.apache.spark.sql.functions._
    // 1500 IDENTICAL filler vectors land in ONE bucket per table (a
    // maximally skewed space: every hyperplane sees the same sign), so
    // with bucketCap 256 every table's dst side is ~256 of 1502 and an
    // uncapped self-join's 1502^2 pairs/table fall to ~1502x256. The
    // planted pair (ids 2000/2001, the filler direction rotated 0.05
    // into coord 1) shares the hot bucket in most tables (sign-flip
    // odds per plane ~ atan(.05)*2/pi) but has mutual cos 1.0 > 0.9988
    // vs any filler — it must out-rank the ~1500 capped fillers even
    // though each table keeps only a ~17% sample of the bucket. Misses
    // re-draw per table (the sample salt includes lsh_t), so the pair
    // survives somewhere; seed-fixed either way.
    val filler = transform(sequence(lit(0), lit(63)),
      j => when(j === 0, lit(1.0)).otherwise(lit(0.001)))
    val rotated = transform(sequence(lit(0), lit(63)),
      j => when(j === 0, lit(1.0)).when(j === 1, lit(0.05)).otherwise(lit(0.001)))
    val skewed = spark.range(1500)
      .select(col("id").as("vec_id"), filler.as("embedding"), lit(0L).as("label"))
      .unionByName(spark.range(2000, 2002)
        .select(col("id").as("vec_id"), rotated.as("embedding"), lit(0L).as("label")))
    val g = Similarity.knnGraph(skewed, k = 1, bucketCap = 256).cache()
    // every node got a neighbor despite capping (src side is uncapped)
    assert(g.count() == 1502L, "capping starved some nodes of candidates")
    assert(g.filter(col("src") === 2000L).select("dst").as[Long].head() == 2001L)
    assert(g.filter(col("src") === 2001L).select("dst").as[Long].head() == 2000L)
    // determinism: the hash-mod sample is seed-fixed, not rand()
    val g2 = Similarity.knnGraph(skewed, k = 1, bucketCap = 256)
    assert(g.exceptAll(g2).isEmpty && g2.exceptAll(g).isEmpty,
      "capped kNN graph is not deterministic across runs")
    g.unpersist()
  }

  test("IVF top-k: mean recall >= 0.5 at the default operating point, and probing fraction is partial") {
    val exact = topkSets(Similarity.cosineTopK(emb, nQ = 8, k = 10))
    val ivf = topkSets(Similarity.ivfTopK(emb, nQ = 8, k = 10))
    val recalls = exact.map { case (q, ids) =>
      ivf.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean IVF recall $mean — clusters are not grouping neighbors")
    // negative control: a single probed cluster must do measurably worse
    // than the default 4/12 — proves the bound reflects probe width, not
    // some trivial always-pass candidate set
    val narrow = topkSets(Similarity.ivfTopK(emb, nQ = 8, k = 10, nProbe = 1))
    val narrowMean = exact.map { case (q, ids) =>
      narrow.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
      .sum / recalls.size
    assert(narrowMean < mean,
      s"nProbe=1 recall $narrowMean !< nProbe=4 recall $mean — probing is inert")
  }

  test("recall CI pins at sf0.1: LSH/IVF floors + SQ8 rank-error bound") {
    // VERDICT r04 task 5: the LSH and ivfTopK recall sweep findings promoted to
    // asserted thresholds at the BENCH scale, so a silent config
    // regression (plane/table count, probe width, quantizer damage)
    // red-lines here. Measured on this corpus (mean top-10 recall
    // against cosineTopK, and SQ8 rank displacement over shared ids):
    // lsh 0.700, ivf 0.563, sq8 0.988 / max rank displacement 1 — the
    // floors leave margin for ulp-level k-means tie flips, nothing more.
    val d = SparkTestSession.sf01
    val emb01 = sources.Tables.embeddings(spark, d)
    def lists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Int)]] =
      df.as[(Long, Int, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._2)).toSeq).toMap
    val exact = lists(Similarity.cosineTopK(emb01, 8, 10))
    def recall(m: Map[Long, Seq[(Long, Int)]]): Double =
      exact.map { case (q, ids) =>
        m.getOrElse(q, Seq.empty).map(_._1).toSet
          .intersect(ids.map(_._1).toSet).size.toDouble / ids.size }.sum / exact.size
    // through the persisted-index path — the form the registry queries run
    val lsh = recall(lists(Similarity.annTopK(emb01, 8, 10, idx = Some((spark, d)))))
    assert(lsh >= 0.6, f"sf0.1 LSH recall@10 $lsh%.3f under the 0.60 pin (was 0.700)")
    val ivf = recall(lists(Similarity.ivfTopK(emb01, 8, 10, idx = Some((spark, d)))))
    assert(ivf >= 0.5, f"sf0.1 IVF recall@10 $ivf%.3f under the 0.50 pin (was 0.563)")
    val sq8 = lists(Similarity.sq8TopK(emb01, 8, 10))
    assert(recall(sq8) >= 0.95,
      f"sf0.1 SQ8 recall@10 ${recall(sq8)}%.3f under the 0.95 pin (was 0.988)")
    // rank-error bound: any id in both lists may shift at most 2 ranks
    val disp = for {
      (q, ex) <- exact.toSeq
      exRank = ex.toMap
      (id, r8) <- sq8.getOrElse(q, Seq.empty)
      re <- exRank.get(id)
    } yield math.abs(re - r8)
    assert(disp.nonEmpty && disp.max <= 2,
      s"SQ8 rank displacement max ${disp.max} exceeds 2 (was 1)")
  }

  test("X70 retrieval_eval: metric laws — bounds, consistency, perfect-retrieval fixpoint") {
    val rows = SparkEntry.queries("retrieval_eval")(spark, SparkTestSession.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = r.getAs[Long]("hits10")
      val mrr = r.getAs[Double]("mrr10")
      val ndcg = r.getAs[Double]("ndcg10")
      assert(hits >= 0 && hits <= 10)
      assert(mrr >= 0.0 && mrr <= 1.0)
      assert(ndcg >= -1e-9 && ndcg <= 1.0 + 1e-9, s"ndcg $ndcg out of [0,1]")
      assert((hits > 0) == (mrr > 0.0), "MRR must be positive iff any hit")
      assert((hits > 0) == (ndcg > 0.0), "nDCG must be positive iff any hit")
      // a full-house top-10 against >= 10 relevant is the DCG=IDCG fixpoint
      if (hits == 10L && r.getAs[Long]("n_rel") >= 10L)
        assert(math.abs(ndcg - 1.0) < 1e-6, s"all-hits ndcg $ndcg != 1")
    }
    // the metric must DISCRIMINATE on this corpus (labels cluster)
    assert(rows.exists(_.getAs[Double]("ndcg10") > 0.0), "all-zero nDCG — eval is vacuous")
  }
}
