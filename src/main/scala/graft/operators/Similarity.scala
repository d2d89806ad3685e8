package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings.embedding` (SURVEY.md §2b X3).
  *
  * Two paths, per the ANN ladder:
  *   - [[cosineTopK]]: brute-force exact top-k — the query set rides as
  *     a BROADCAST (never a shuffled cartesian product), so the plan is
  *     one scan of the candidate side regardless of corpus size; cost
  *     is |corpus| × |queries| dot products, the right baseline when
  *     queries are few.
  *   - [[annTopK]]: LSH-bucketed approximate top-k — random-hyperplane
  *     signatures shrink the candidate set to same-bucket vectors, the
  *     scale path when the query side is itself large. Hyperplanes are
  *     deterministic (fixed-seed) literals baked into the plan.
  *
  * Top-k extraction is TWO-PHASE: per-(query, salt) local top-k first,
  * then exact top-k over the ≤ salts×k survivors — no low-cardinality
  * single-task window sort at any point (the VERDICT r01 scale rule).
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns — same
    * accumulation order as DuckDB's list_inner_product, so results are
    * bit-comparable before rounding. Native expression (primitive loop,
    * one line of generated Java) — the HOF form it replaces is kept
    * bit-identical by VecDotSpec. */
  def dot(a: Column, b: Column): Column = graft.functions.VecDotEval(a, b)

  /** Squared L2 norm (= v·v; same fold order as the HOF `a + x*x`). */
  def norm2(v: Column): Column = graft.functions.VecDotEval(v, v)

  /** Two-phase exact top-k per query: local winners per (q, salt) then
    * global winners per q. `ord` must be deterministic (ties broken). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val salt = pmod(col("vec_id"), lit(16))
    val local = Window.partitionBy(col("q_id"), salt)
      .orderBy(col("cos").desc, col("vec_id"))
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("r_local", row_number().over(local))
      .filter(col("r_local") <= k)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** X3 baseline: exact cosine top-k of every corpus vector against a
    * small query set (vec_id < nQ), queries broadcast. Ranking happens
    * on the ROUNDED similarity (+vec_id tiebreak) so rank order is
    * reproducible across engines and runs. */
  def cosineTopK(emb: DataFrame, nQ: Int, k: Int): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", norm2(col("v")))
    val q = v.select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
      .filter(col("q_id") < nQ)
    val scored = v.filter(col("vec_id") >= nQ)
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
    topKPerQuery(scored, k).orderBy("q_id", "rank")
  }

  /** Deterministic random hyperplanes: nPlanes × dim, fixed seed —
    * the LSH family for cosine (sign of the projection). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Norm-annotated double vectors + (id, table, bucket) LSH postings —
    * shared by [[annTopK]] and [[lshCandidatePairs]]. The postings are
    * built once ([[Blocking.persist]], keyed by the LSH config and
    * bucketed on the candidate-join keys) and reused by every LSH query
    * at that config. */
  private[operators] def vectorsAndPostings(emb: DataFrame, nPlanes: Int, nTables: Int,
                                            seed: Long = 42L,
                                            idx: Option[(org.apache.spark.sql.SparkSession, String)] = None,
                                            corpusTag: String = "emb"): (DataFrame, DataFrame) = {
    // All nTables signatures come from ONE native expression call
    // (graft.functions.LshSigsExpr): a single pass over the vector with
    // primitive-array loops, and ~10 lines of generated Java regardless
    // of plane count. Two earlier forms both lost: fully-unrolled
    // per-plane column dots made Janino compile time linear in
    // nPlanes × nTables (~80% of query wall time in rounds 2–3), and a
    // nested-HOF "matrix" form kept the plan small but evaluated
    // lambda-in-lambda per row, ~10× slower. The native expression is
    // both small-plan AND tight-loop, which also frees the config to
    // use more tables for recall (defaults tuned by a recall sweep over
    // plane/table counts and seeds at sf0.001: see SimilaritySpec).
    val flatPlanes = hyperplanes(nPlanes * nTables, 64, seed).flatten.toArray
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", norm2(col("v")))
    val rawPostings = v.select(col("vec_id"),
        explode(graft.functions.LshSigsEval(col("v"), flatPlanes, nPlanes, nTables)).as("b"))
      .select(col("vec_id"), col("b.t").as("lsh_t"), col("b.sig").as("lsh_sig"))
    val postings = Blocking.persist(idx,
      s"lsh_${corpusTag}_p${nPlanes}_t${nTables}_s$seed", Seq("lsh_t", "lsh_sig"))(rawPostings)
    (v, postings)
  }

  /** All-corpus candidate pairs from the multi-table LSH postings, with
    * exact cosine attached (the verify step), paired and scored
    * bucket-locally by [[Blocking.selfPairs]] — a pair's dot is
    * recomputed once per colliding table (≤ nTables, a bounded CPU
    * trade). `minCos` pushes the caller's verify threshold below the
    * distinct, so at near-dup operating points the distinct sees only
    * true positives. */
  def lshCandidatePairs(emb: DataFrame, nPlanes: Int = 8, nTables: Int = 8,
                        idx: Option[(org.apache.spark.sql.SparkSession, String)] = None,
                        corpusTag: String = "emb",
                        minCos: Option[Double] = None): DataFrame = {
    // Near-dup defaults differ from annTopK's (6×24): pair mining only
    // has to catch HIGH-cosine pairs (≈0.93 planted dups → per-plane
    // sign agreement ≈0.88, per-table 0.88⁸≈0.36, miss over 8 tables
    // 0.64⁸≈3%), so more planes + fewer tables shrink buckets (2⁸ per
    // table) and cut candidate-pair volume ~10× vs the top-k config,
    // whose 0.5-recall target on mid-cosine neighbors needs the wider
    // 6-bit buckets and heavier OR amplification.
    val (v, postings) = vectorsAndPostings(emb, nPlanes, nTables, idx = idx, corpusTag = corpusTag)
    // materialized once: both self-join branches scan the same blocks
    // instead of re-running the postings⋈vector join per branch
    val pv = Materialize(postings.join(v, "vec_id"))
    Blocking.selfPairs(pv, Seq("lsh_t", "lsh_sig"), "vec_id", Seq("v", "n2"),
      round(dot(col("v1"), col("v2")) / (sqrt(col("n21")) * sqrt(col("n22"))), 6).as("cos"),
      minCos.fold(lit(true))(col("cos") >= _))
  }

  /** X84: all-corpus k-NN GRAPH — every vector's approximate top-k
    * cosine neighbors, the primitive under graph-based dedup
    * (SemDeDup variants), connected-component clustering over learned
    * space, and label propagation. Candidates come from the same
    * multi-table LSH postings as [[lshCandidatePairs]] and are scored
    * BUCKET-LOCALLY (the r12 100x lesson: vectors ride into the
    * (table, bucket) self-join; only (src, dst, cos) triples cross
    * later exchanges). Unlike the pair miner this keeps BOTH
    * directions (kNN is a directed relation), dedups multi-table
    * collisions, and extracts per-node top-k with the two-phase
    * salted pattern — never a per-node global sort.
    *
    * Candidate volume is bounded two ways (the r12 verdict's one weak
    * spot — this was the registry's only superlinear query, 1.98x
    * per-row at 10x, because 6 planes = 64 buckets/table makes bucket
    * occupancy, and so the self-join, grow linearly with the corpus):
    *
    *   1. ADAPTIVE PLANE COUNT. `nPlanes` is a floor; the effective
    *      count is `max(nPlanes, ceil(log2(n / occTarget)))`, so the
    *      per-table key space grows with the corpus and EXPECTED bucket
    *      occupancy stays in (occTarget/2, occTarget]. Base fixtures
    *      (n ≤ 2048 at occTarget 32) keep 6 planes exactly — every
    *      spec pin, the sf0.01 bound gate, and sf0.1 behavior are
    *      unchanged. Self-join work per table is n × occupancy — linear
    *      in expectation (occupied-bucket CONCENTRATION pushes the
    *      realized mean ~2-3x above the uniform target; the cap below
    *      is the hard ceiling). Finer buckets lower per-table collision
    *      odds for a true neighbor, which the fixed 24-table OR
    *      amplification must absorb; mean recall@5 stays driver-gated
    *      (`knn_graph_bound`, floor 0.45) and measured per round.
    *      Operating-point sweep (r13): occTarget 64 → 158.5 s
    *      at the 100x fixture (1.93x per-row vs 10x); occTarget 16 →
    *      65.1 s but the sf0.1 bound margin thins to 0.475; occTarget
    *      32 → 13.9 s at 10x / 131.2 s at 100x = 0.94x per-row,
    *      SUB-linear, recall@5 = 1.0 at both scales and 0.725 at sf0.1
    *      — the committed default. Re-measured r14 with the committed
    *      artifact KNN100_r14.txt: warm 13.4 s / 163.3 s (the naive
    *      1.22x per-row IS the 24.4/19.5 occupancy phase ratio of the
    *      integer-plane sawtooth, r13 caught the opposite phase), and
    *      the two warm 100x points (163.3 s at occ 24.4 vs 86.4 s at
    *      occ 12.2) confirm cost = fixed floor + c·n·occ·tables,
    *      occupancy-proportional and linear in n; recall@5 = 1.0 at
    *      every measured point.
    *   2. HARD OCCUPANCY CAP (`bucketCap`, the SimHash be8f570
    *      pattern). Adaptive planes bound the EXPECTED occupancy;
    *      a skewed embedding space (mass concentrated on one side of
    *      every hyperplane) can still overfill single buckets. Buckets
    *      over the cap are deterministically DOWNSAMPLED to ~cap on
    *      the dst side only — hash-mod on (vec_id, table-seeded salt),
    *      so every node still queries (src side uncapped), each table
    *      samples a DIFFERENT subset of a hot bucket (misses are
    *      re-drawn nTables times), and re-runs are identical. Worst-
    *      case per-bucket work falls from n_b² to n_b × cap. */
  /** Effective plane count for [[knnGraph]]: smallest power-of-two key
    * space keeping expected occupancy ≤ occTarget, floored at `floor`.
    * n ≤ floor-keyspace × occTarget (4096 at defaults) → floor exactly. */
  private[graft] def knnPlanesFor(n: Long, floor: Int = 6, occTarget: Int = 32): Int =
    math.max(floor,
      math.ceil(math.log(math.max(1.0, n.toDouble / occTarget)) / math.log(2.0)).toInt)

  def knnGraph(emb: DataFrame, k: Int,
               nPlanes: Int = 6, nTables: Int = 24, seed: Long = 42L,
               idx: Option[(org.apache.spark.sql.SparkSession, String)] = None,
               occTarget: Int = 32, bucketCap: Int = 1024,
               corpusTag: String = "emb"): DataFrame = {
    val nPlanesEff = knnPlanesFor(graft.Memo.of(emb, "rows")(emb.count()), nPlanes, occTarget)
    val (v, postings) =
      vectorsAndPostings(emb, nPlanesEff, nTables, seed, idx, corpusTag)
    // The joined (posting, vector) table, bucketed on the self-join keys
    // and shared with knn_graph_bound, which audits the same graph. Size
    // is |corpus|·nTables vector rows on disk — the standard price of a
    // posting-with-payload ANN index. corpusTag rides in the name: the
    // config triple alone would let two different corpora sharing
    // (planes, tables, seed) adopt each other's cached join.
    val pv = Blocking.persist(idx,
      s"knn_pv_${corpusTag}_p${nPlanesEff}_t${nTables}_s$seed", Seq("lsh_t", "lsh_sig")) {
      postings.join(v, "vec_id")
    }
    // ≤ 2^planes × nTables rows — always broadcastable; the cap filter
    // is a broadcast join + a hash-mod, never a per-bucket sort.
    val sizes = Blocking.sizes(pv, Seq("lsh_t", "lsh_sig"))
    val a = pv.select(col("lsh_t"), col("lsh_sig"),
      col("vec_id").as("src"), col("v").as("v1"), col("n2").as("n21"))
    val b = pv.join(broadcast(sizes), Seq("lsh_t", "lsh_sig"))
      .filter(col("bucket_n") <= bucketCap ||
        pmod(xxhash64(col("vec_id"), col("lsh_t") + lit(seed)), col("bucket_n")) < bucketCap)
      .select(col("lsh_t"), col("lsh_sig"),
        col("vec_id").as("dst"), col("v").as("v2"), col("n2").as("n22"))
    val scored = a.join(b, Seq("lsh_t", "lsh_sig"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(dot(col("v1"), col("v2")) / (sqrt(col("n21")) * sqrt(col("n22"))), 6).as("cos"))
      .distinct()
    // two-phase top-k with src as the query key
    topKPerQuery(scored.withColumnRenamed("src", "q_id")
        .withColumnRenamed("dst", "vec_id"), k)
      .select(col("q_id").as("src"), col("rank"), col("vec_id").as("dst"), col("cos"))
  }

  /** X3 scale path: multi-table LSH approximate top-k (OR
    * amplification: `nTables` independent hash tables of `nPlanes` sign
    * bits each; a corpus vector is a candidate if it shares a bucket
    * with the query in ANY table). Candidate generation is an equi-join
    * on (table, bucket) + a distinct — never all-pairs; per-query cost
    * drops from |corpus| to the matched-bucket union. Recall vs
    * [[cosineTopK]] is asserted in SimilaritySpec. */
  def annTopK(emb: DataFrame, nQ: Int, k: Int,
              nPlanes: Int = 6, nTables: Int = 24, seed: Long = 42L,
              idx: Option[(org.apache.spark.sql.SparkSession, String)] = None): DataFrame = {
    val (v, postings) = vectorsAndPostings(emb, nPlanes, nTables, seed, idx)
    val qPost = postings.filter(col("vec_id") < nQ)
      .withColumnRenamed("vec_id", "q_id")
    val cand = postings.filter(col("vec_id") >= nQ)
      .join(qPost, Seq("lsh_t", "lsh_sig"))
      .select("q_id", "vec_id").distinct()
    // re-attach vectors to the surviving candidates only, then score
    val q = v.select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = cand
      .join(v, "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
    topKPerQuery(scored, k).orderBy("q_id", "rank")
  }

  /** Nearest centroid per vector: min squared L2 distance with
    * centroid-id tiebreak. Centroids ride as a BROADCAST (they are at
    * most `nClusters` rows), so assignment is one scan of the vector
    * side — the shape that holds at any corpus size. */
  private def assignClusters(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct((col("n2") + col("cn2") - lit(2) * dot(col("v"), col("c"))).as("d2"),
          col("cluster")).as("dc"))
      .groupBy("vec_id").agg(min(col("dc")).as("dc"))
      .select(col("vec_id"), col("dc.cluster").as("cluster"))

  /** IVF coarse quantizer: k-means centroids from `iters` Lloyd rounds,
    * entirely as DataFrame ops — assignment is the broadcast join above,
    * the update a per-dimension mean via posexplode (64× row blowup on a
    * one-off training pass; at cluster scale training runs on a
    * deterministic sample, not the full corpus). No driver collect
    * anywhere: the new centroid table is materialized each round,
    * which both truncates the iterative lineage and keeps the broadcast
    * input computed-once (the persisted-table equivalent of a saved
    * index). Clusters that lose all members drop out (k may shrink) —
    * harmless for ANN probing. Init is the first k corpus vectors. */
  private[graft] def kmeansCentroids(v: DataFrame, k: Int, iters: Int): DataFrame = {
    // seed with the k SMALLEST vec_ids — a bare limit(k) would take k
    // rows in physical partition order, making centroids (and thus ANN
    // results) depend on thread count / file splits
    var cents = Materialize(v.orderBy(col("vec_id")).limit(k)
      .select(row_number().over(Window.orderBy(col("vec_id"))).as("cluster"), // bounded: k seeds
        col("v").as("c"), col("n2").as("cn2")))
    for (_ <- 1 to iters) {
      cents = Materialize(assignClusters(v, cents)
        .join(v, "vec_id")
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos")).agg(avg(col("col")).as("x"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("px"))
        .select(col("cluster"),
          transform(col("px"), p => p.getField("x")).as("c"))
        .withColumn("cn2", norm2(col("c"))))
    }
    cents
  }

  /** X3 scale path #2: IVF (inverted-file) approximate top-k — the
    * k-means counterpart to [[annTopK]]'s LSH. Corpus vectors are
    * bucketed by nearest coarse centroid (the postings list, a persisted
    * table at scale); each query probes its `nProbe` nearest clusters
    * and rescores exactly inside them. Candidate generation is an
    * equi-join on `cluster` — per-query cost falls from |corpus| to the
    * probed clusters' population (~nProbe/nClusters of the corpus).
    * `nProbe = nClusters` degenerates to exact search — SimilaritySpec
    * uses that as a correctness control, plus a recall bound at the
    * default operating point. */
  def ivfTopK(emb: DataFrame, nQ: Int, k: Int, nClusters: Int = 12,
              nProbe: Int = 4, iters: Int = 3,
              idx: Option[(org.apache.spark.sql.SparkSession, String)] = None,
              corpusTag: String = "emb"): DataFrame = {
    // 12/4 default picked by an r04 sweep: mean top-10 recall 0.65 at a 1/3
    // probe fraction (16/4 sat at 0.49; wider probes buy recall roughly
    // linearly in candidates scanned).
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", norm2(col("v")))
    val corpus = v.filter(col("vec_id") >= nQ)
    // with `idx`, the trained coarse quantizer and its postings list
    // persist as Indexes artifacts — k-means runs once per
    // (scale factor, config), every later probe reads the saved index
    // corpusTag disambiguates artifacts when two callers share a
    // config but index DIFFERENT corpora (the lsh/minhash convention —
    // without it a planted-dup caller would silently read centroids
    // trained on the raw embeddings)
    val cfg = s"${corpusTag}_k${nClusters}_i${iters}_q$nQ"
    val cents = idx match {
      case Some((s, d)) =>
        graft.Indexes.table(s, d, s"ivf_cents_$cfg", Nil) {
          kmeansCentroids(corpus, nClusters, iters)
        }
      case None => kmeansCentroids(corpus, nClusters, iters)
    }
    val postings = idx match {
      case Some((s, d)) =>
        graft.Indexes.table(s, d, s"ivf_post_$cfg", Seq("cluster")) {
          assignClusters(corpus, cents)
        }
      case None => assignClusters(corpus, cents)
    }
    // nProbe nearest centroids per query: |queries| × k rows, tiny
    val probes = v.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", col("qn2") + col("cn2") - lit(2) * dot(col("qv"), col("c")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cluster"))))
      .filter(col("pr") <= nProbe)
      .select("q_id", "cluster")
    val q = v.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = probes.join(postings, "cluster")
      .select("q_id", "vec_id")
      .join(v, "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
    topKPerQuery(scored, k).orderBy("q_id", "rank")
  }

  /** X31: per-vector affine int8 quantization of the embedding column —
    * the memory/IO scale path for brute-force scans: 64 float32 (256 B)
    * become 64 tinyint codes (64 B in Tungsten and in parquet) plus two
    * doubles, a 4× cut in the bytes every scan-side task reads and
    * caches. code = clamp(floor((x − lo)/step + ½), 0..255) − 128 with
    * lo = min(v), step = (max(v) − lo)/255; floor keeps the arithmetic
    * bit-portable across engines (no round-half tie semantics), so the
    * codes themselves are oracle-comparable. step = 0 (constant vector)
    * degenerates to all-zero codes. */
  def quantizeSq8(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("lo", array_min(col("v")))
      .withColumn("step", (array_max(col("v")) - col("lo")) / lit(255d))
      .withColumn("codes",
        when(col("step") === 0d,
          transform(col("v"), _ => lit(-128).cast("byte")))
          .otherwise(transform(col("v"), x =>
            (least(floor((x - col("lo")) / col("step") + lit(0.5d)), lit(255d))
              .cast("int") - lit(128)).cast("byte"))))

  /** X31 search: brute-force cosine top-k over the QUANTIZED corpus —
    * dequantize x̂ = lo + (code+128)·step on the fly, score against exact
    * query vectors, same two-phase top-k as [[cosineTopK]]. At scale the
    * quantized table is the thing that lives in cache/storage; the
    * reconstruction error is bounded by step/2 per element (asserted in
    * SimilaritySpec), so recall@10 stays ≈1 while the scan reads ¼ the
    * bytes. */
  def sq8TopK(emb: DataFrame, nQ: Int, k: Int): DataFrame = {
    val vhat = transform(col("codes"), c =>
      col("lo") + (c.cast("double") + lit(128d)) * col("step"))
    val corpus = quantizeSq8(emb).filter(col("vec_id") >= nQ)
      .select(col("vec_id"), vhat.as("v"))
      .withColumn("n2", norm2(col("v")))
    val q = emb.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn2", norm2(col("qv")))
      .filter(col("q_id") < nQ)
    val scored = corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
    topKPerQuery(scored, k).orderBy("q_id", "rank")
  }

  // ---- X83: product quantization (Jégou et al., TPAMI 2011) ----------
  //
  // The codebook-compression rung below SQ8 on the ANN ladder: the D=64
  // vector splits into `m` subspaces of D/m dims, each subvector
  // quantized to the nearest of `kCodes` per-subspace centroids — a
  // 256-byte float32 vector becomes m code bytes (vs SQ8's 64) plus ONE
  // shared codebook of m*kCodes subvectors, broadcast-sized at any
  // corpus scale. Search never reconstructs: ADC (asymmetric distance
  // computation) joins the corpus code stream against a tiny per-query
  // (sub, code) -> partial-distance table.
  //
  // Encoding distances run on the 1/512 grid: floor(x*512) of a
  // float32-origin double is EXACT integer math in every engine, so the
  // nearest-centroid argmin cannot flip at a double-ulp boundary (the
  // 10x-compare lesson applied proactively — a round(x, 9)
  // pre-quantization would disagree cross-engine at ~1e-7 per value).
  // The oracled `pq_quantize` uses the deterministic SEED codebook (the
  // kCodes smallest vec_ids' subvectors, kmeansCentroids' own init);
  // Lloyd refinement is double-avg math covered by spec + the recall
  // floor in ann_recall_bounds — exactly the IVF precedent.

  /** Subvector long form: one (vec_id, sub, sv) row per subspace. */
  private[graft] def subvecs(v: DataFrame, m: Int, subDim: Int): DataFrame =
    v.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("v"), i * lit(subDim) + 1, lit(subDim)))))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("sv"))

  /** 1/512-grid integerization — exact on float32 inputs. */
  private def q512(a: Column): Column =
    transform(a, x => floor(x * lit(512d)).cast("long"))

  /** Exact squared L2 between two integer-grid arrays (long math). */
  private def d2Grid(a: Column, b: Column): Column =
    aggregate(zip_with(q512(a), q512(b), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Seed codebook: per subspace, the subvectors of the `kCodes`
    * smallest vec_ids; code = 0-based rank by vec_id (deterministic —
    * a bare limit(k) would depend on physical partition order). */
  private[graft] def pqSeeds(v: DataFrame, m: Int, subDim: Int, kCodes: Int): DataFrame =
    subvecs(v.orderBy(col("vec_id")).limit(kCodes), m, subDim)
      .select(col("sub"),
        (row_number().over(Window.partitionBy(col("sub"))
          .orderBy(col("vec_id"))) - 1).as("code"),
        col("sv").as("cv"))

  /** Long-form PQ codes (vec_id, sub, code): nearest codebook entry per
    * subspace, integer-grid distances, code-id tiebreak. The codebook
    * side is m*kCodes rows — always broadcast. */
  private[graft] def pqEncode(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "sub")
      .select(col("vec_id"), col("sub"),
        struct(d2Grid(col("sv"), col("cv")).as("d2"), col("code")).as("dc"))
      .groupBy("vec_id", "sub").agg(min(col("dc")).as("dc"))
      .select(col("vec_id"), col("sub"), col("dc.code").as("code"))

  /** Per-subspace Lloyd refinement of a PQ codebook — kmeansCentroids'
    * loop with (sub, code) as the group key; assignment reuses
    * [[pqEncode]]'s integer-grid argmin, updates are per-dimension
    * means, each round materialized (lineage truncation + the
    * broadcast input computed once). Codes that lose all members drop
    * out — harmless for ADC. */
  private[graft] def pqCodebooks(subs: DataFrame, seeds: DataFrame,
                                 iters: Int): DataFrame = {
    var books = Materialize(seeds)
    for (_ <- 1 to iters) {
      books = Materialize(pqEncode(subs, books)
        .join(subs, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("sv")))
        .groupBy(col("sub"), col("code"), col("pos")).agg(avg(col("col")).as("x"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("px"))
        .select(col("sub"), col("code"),
          transform(col("px"), p => p.getField("x")).as("cv")))
    }
    books
  }

  /** X83 search: ADC top-k over the PQ-coded corpus. Vectors are
    * L2-normalized first so squared distance ranks like cosine
    * (d2 = 2 - 2cos on unit vectors; reported cos = 1 - d2/2). The
    * distance table (|Q| × m × kCodes rows) broadcasts; scoring is an
    * equi-join of the code stream on (sub, code) + one (q_id, vec_id)
    * partial-sum shuffle — the scan reads m bytes per vector instead
    * of 256, and no float vector ever crosses an exchange. */
  def pqTopK(emb: DataFrame, nQ: Int, k: Int, m: Int = 16, kCodes: Int = 16,
             iters: Int = 2, rerank: Int = 64,
             idx: Option[(org.apache.spark.sql.SparkSession, String)] = None): DataFrame = {
    val subDim = 64 / m
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", norm2(col("v")))
      .select(col("vec_id"),
        when(col("n2") > 0d,
          transform(col("v"), x => x / sqrt(col("n2")))).otherwise(col("v")).as("v"))
    val corpusSubs = subvecs(v.filter(col("vec_id") >= nQ), m, subDim)
    val cfg = s"pqn_m${m}_k${kCodes}_i${iters}_q$nQ"
    def seeds = pqSeeds(v.filter(col("vec_id") >= nQ), m, subDim, kCodes)
    val books = idx match {
      case Some((s, d)) => graft.Indexes.table(s, d, s"pq_books_$cfg", Nil) {
        pqCodebooks(corpusSubs, seeds, iters)
      }
      case None => pqCodebooks(corpusSubs, seeds, iters)
    }
    val codes = idx match {
      case Some((s, d)) => graft.Indexes.table(s, d, s"pq_codes_$cfg", Nil) {
        pqEncode(corpusSubs, books)
      }
      case None => pqEncode(corpusSubs, books)
    }
    val dtab = subvecs(v.filter(col("vec_id") < nQ), m, subDim)
      .select(col("vec_id").as("q_id"), col("sub"), col("sv"))
      .join(broadcast(books), "sub")
      .select(col("q_id"), col("sub"), col("code"),
        (norm2(col("sv")) + norm2(col("cv"))
          - lit(2d) * dot(col("sv"), col("cv"))).as("pd2"))
    val adc = codes.join(broadcast(dtab), Seq("sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("d2"))
      .select(col("q_id"), col("vec_id"),
        round(lit(1d) - col("d2") / 2, 6).as("cos"))
    // Exact re-rank of the ADC shortlist (the standard IVFADC tail,
    // Jégou et al. §V): only `rerank` full vectors per query are ever
    // read back — candidate generation stays code-stream-only.
    val shortlist = topKPerQuery(adc, rerank).select("q_id", "vec_id")
    val q = v.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = shortlist
      .join(v, "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
    topKPerQuery(exact, k).orderBy("q_id", "rank")
  }

  def all: Seq[Q] = Seq(

    // Per-label centroids in long form (label, dim position, mean):
    // posexplode + hash agg on (label, pos) — 64 rows per label, never a
    // per-label vector collect. Sums go through DECIMAL(38,12) so the
    // per-dimension mean is accumulation-order independent (the
    // float→double cast is lossless; double→decimal rounding is the
    // same defined operation in both engines).
    Q("embedding_centroids",
      """WITH ex AS (
        |  SELECT label, u.i - 1 AS pos,
        |    CAST(embedding[u.i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))
        |SELECT label, pos, count(*) AS n,
        |  round(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9) AS centroid
        |FROM ex GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos"),
          col("col").cast("double").cast("decimal(38,12)").as("v"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          round(sum(col("v")).cast("double") / count(lit(1)), 9).as("centroid"))
        .orderBy("label", "pos")
    },

    // X3: exact cosine top-10 for 8 query vectors (oracled — identical
    // double arithmetic both sides; rank over rounded cos + id tiebreak).
    Q("cosine_topk",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS n2
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    round(list_inner_product(qv, v) / (sqrt(n2) * sqrt(qn2)), 6) AS cos
        |  FROM v CROSS JOIN q WHERE vec_id >= 8)
        |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, vec_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, vec_id)
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      cosineTopK(Tables.embeddings(s, d), nQ = 8, k = 10)
    }.copy(headline = true),

    // X3 scale path: LSH-bucketed ANN (approximate — no SQL oracle;
    // recall vs the exact path is asserted in SimilaritySpec).
    Q.noOracle("ann_lsh_topk") { (s, d) =>
      annTopK(Tables.embeddings(s, d), nQ = 8, k = 10, idx = Some((s, d)))
    },

    // X3 scale path #2: IVF-bucketed ANN (approximate — no SQL oracle;
    // exactness at full probe width + recall at the default operating
    // point are asserted in SimilaritySpec).
    Q.noOracle("ann_ivf_topk") { (s, d) =>
      ivfTopK(Tables.embeddings(s, d), nQ = 8, k = 10, idx = Some((s, d)))
    },

    // X31: the int8 quantizer itself, oracled code-for-code — floor-based
    // code arithmetic is bit-portable, so DuckDB reproduces every code;
    // per-vector integer stats keep the compare compact. lo/step are raw
    // doubles rounded once for display.
    Q("sq8_quantize",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT vec_id, v, list_min(v) AS lo,
        |    (list_max(v) - list_min(v)) / 255 AS step
        |  FROM v),
        |c AS (
        |  SELECT vec_id, lo, step,
        |    CASE WHEN step = 0 THEN list_transform(v, x -> -128)
        |         ELSE list_transform(v, x ->
        |           CAST(least(floor((x - lo) / step + 0.5), 255) AS INT) - 128)
        |    END AS codes
        |  FROM p)
        |SELECT vec_id, round(lo, 6) AS lo_r, round(step, 9) AS step_r,
        |  len(codes) AS n_codes,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  list_min(codes) AS code_min, list_max(codes) AS code_max
        |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
      quantizeSq8(Tables.embeddings(s, d))
        .select(col("vec_id"), round(col("lo"), 6).as("lo_r"),
          round(col("step"), 9).as("step_r"),
          size(col("codes")).as("n_codes"),
          aggregate(col("codes"), lit(0L),
            (a, c) => a + c.cast("long")).as("code_sum"),
          array_min(col("codes")).cast("int").as("code_min"),
          array_max(col("codes")).cast("int").as("code_max"))
        .orderBy("vec_id")
    },

    // X31 search path: top-k over the dequantized int8 corpus (approx —
    // no SQL oracle; recall vs the exact path + the step/2 per-element
    // reconstruction bound are asserted in SimilaritySpec).
    Q.noOracle("ann_sq8_topk") { (s, d) =>
      sq8TopK(Tables.embeddings(s, d), nQ = 8, k = 10)
    },

    // X83: PQ encoding against the deterministic seed codebook — the
    // full (vec_id, c0..c3) code table hash-compared cell-exact, same
    // contract as sq8_quantize. See the PQ section scaladoc for why
    // distances run on the 1/512 integer grid (cross-engine-exact
    // argmin) and why the oracle pins the SEED codebook while Lloyd
    // training is bound-oracled.
    Q("pq_quantize",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sv AS (
        |  SELECT vec_id, CAST(u.m AS INT) AS sub,
        |    list_transform(v[u.m*16+1 : u.m*16+16],
        |      x -> CAST(floor(x * 512) AS BIGINT)) AS q
        |  FROM v, unnest(range(0, 4)) AS u(m)),
        |seeds AS (
        |  SELECT sub,
        |    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS INT) AS code,
        |    q AS cq
        |  FROM sv WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
        |el AS (
        |  SELECT s.vec_id, s.sub, c.code,
        |    SUM((s.q[u.i] - c.cq[u.i]) * (s.q[u.i] - c.cq[u.i])) AS d2
        |  FROM sv s JOIN seeds c USING (sub), unnest(range(1, 17)) AS u(i)
        |  GROUP BY s.vec_id, s.sub, c.code),
        |best AS (
        |  SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS r
        |  FROM el)
        |SELECT vec_id,
        |  max(CASE WHEN sub = 0 THEN code END) AS c0,
        |  max(CASE WHEN sub = 1 THEN code END) AS c1,
        |  max(CASE WHEN sub = 2 THEN code END) AS c2,
        |  max(CASE WHEN sub = 3 THEN code END) AS c3
        |FROM best WHERE r = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      pqEncode(subvecs(v, 4, 16), pqSeeds(v, 4, 16, 16))
        .groupBy("vec_id")
        .agg(max(when(col("sub") === 0, col("code"))).as("c0"),
          max(when(col("sub") === 1, col("code"))).as("c1"),
          max(when(col("sub") === 2, col("code"))).as("c2"),
          max(when(col("sub") === 3, col("code"))).as("c3"))
        .orderBy("vec_id")
    },

    // X83 search path: ADC top-k over the Lloyd-trained PQ codes
    // (approx — no SQL oracle; duplicate-ranks-first + recall vs the
    // exact path asserted in SimilaritySpec, floor driver-gated in
    // ann_recall_bounds below).
    Q.noOracle("ann_pq_topk") { (s, d) =>
      pqTopK(Tables.embeddings(s, d), nQ = 8, k = 10, idx = Some((s, d)))
    },

    // X84: the k-NN graph itself (approx — no SQL oracle; per-edge
    // scores are exact cosines, graph quality driver-gated by
    // knn_graph_bound below, planted-duplicate edge + mutuality pinned
    // in SimilaritySpec).
    Q.noOracle("knn_graph_lsh") { (s, d) =>
      knnGraph(Tables.embeddings(s, d), k = 5, idx = Some((s, d)))
        .orderBy("src", "rank")
    },

    // X84 quality gate: mean recall@5 of the graph's edges for 8 probe
    // nodes vs the exact per-node scan — expected-empty bound, the
    // ann_recall_bounds pattern. Floor 0.45 (the LSH operating point's
    // floor; a kNN edge is a top-k query whose query set is the
    // corpus). The exact side is LINEAR (8 probes × corpus), so the
    // gate is cheap at any scale while the graph it audits is not
    // recomputed — it reads the same persisted postings index.
    Q("knn_graph_bound",
      """SELECT CAST(NULL AS VARCHAR) AS method,
        |  CAST(NULL AS DOUBLE) AS mean_recall, CAST(NULL AS DOUBLE) AS floor
        |WHERE false""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val graph = knnGraph(emb, k = 5, idx = Some((s, d)))
        .filter(col("src") < 8).select(col("src"), col("dst"))
      val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("n2", norm2(col("v")))
      val probes = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
      val exact = topKPerQuery(
        v.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            round(dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos")),
        5).select(col("q_id").as("src"), col("vec_id").as("dst"))
      exact
        .join(graph.withColumn("hit", lit(1)), Seq("src", "dst"), "left")
        .groupBy("src")
        .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
        .agg(round(avg(col("recall")), 6).as("mean_recall"))
        .select(lit("knn_lsh").as("method"), col("mean_recall"),
          lit(0.45).as("floor"))
        .filter(col("mean_recall") < col("floor"))
        .orderBy("method")
    },

    // X14/X18/X31 (oracled, r11): the ANN recall FLOORS as one
    // driver-checked query, mirroring minhash_calibration_bound —
    // every approximate index whose mean top-10 recall against the
    // exact cosine scan falls below its floor. Expected result: ZERO
    // rows, and that emptiness IS the oracle-able claim — the
    // individual top-k lists are engine-specific (hence the three
    // `_topk` queries stay no-oracle), but "no index has collapsed
    // below its floor" is exact and deterministic (hyperplanes,
    // k-means seeding, and SQ8 codes are all seed-fixed). A hashing,
    // probing, or quantization bug now surfaces as a row-count
    // mismatch in the driver gate, not just in SimilaritySpec.
    //
    // Floors are set below the measured operating points with margin
    // (SimilaritySpec negative control: a broken index measures
    // 0.03–0.11, far under any floor): LSH 0.45 (measured 0.66–0.70 at
    // sf0.001), IVF 0.40 (r04 sweep: 0.65 at the 12/4 default), SQ8
    // 0.85 (measured ≥0.95 — 8-bit codes barely perturb ranking), PQ
    // 0.60 (r13: the r12 default m=8 measured 0.4625 at sf0.1 — its
    // 0.30 floor only caught catastrophe; an m/k/rerank grid moved the
    // default to m=16/k=16/rerank=64, measured 0.9125/0.9000/0.8250
    // at the three SFs and 0.975 at 10x, so 0.60 = worst-case −0.22
    // margin. Sub-vector width, not shortlist size, was the recall
    // lever: 4-dim sub-quantizers halve per-subspace distortion while
    // the shortlist stays 64 and the scan stays code-stream-only).
    Q("ann_recall_bounds",
      """SELECT CAST(NULL AS VARCHAR) AS method,
        |  CAST(NULL AS DOUBLE) AS mean_recall, CAST(NULL AS DOUBLE) AS floor
        |WHERE false""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val exact = cosineTopK(emb, nQ = 8, k = 10).select("q_id", "vec_id")
      // (r19, measured and reverted: folding the four branches into one
      // method-tagged union with a single join→agg chain measured
      // 2.8–4.0 s vs this form's 2.6–3.0 at sf0.1/32c — the recall
      // arithmetic is ≤80 rows per branch and its stages overlap with
      // the four index-probe pipelines, which are the real cost. Same
      // round: per-src bounded-heap top-k inside knnGraph — 2.4× fewer
      // shuffled bytes but equal-or-worse walls; the two-phase window
      // form stays.)
      def meanRecall(method: String, approx: DataFrame, floor: Double): DataFrame =
        exact
          .join(approx.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
            Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
          .agg(round(avg(col("recall")), 6).as("mean_recall"))
          .select(lit(method).as("method"), col("mean_recall"),
            lit(floor).as("floor"))
      meanRecall("lsh", annTopK(emb, 8, 10, idx = Some((s, d))), 0.45)
        .unionAll(meanRecall("ivf", ivfTopK(emb, 8, 10, idx = Some((s, d))), 0.40))
        .unionAll(meanRecall("sq8", sq8TopK(emb, 8, 10), 0.85))
        .unionAll(meanRecall("pq", pqTopK(emb, 8, 10, idx = Some((s, d))), 0.60))
        .filter(col("mean_recall") < col("floor"))
        .orderBy("method")
    }
  )
}
