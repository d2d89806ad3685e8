package graft.operators

import graft.Q
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** BM25 relevance ranking (X45) — the IR scoring step past X4's TF-IDF:
  * score every document against a query term set with the
  * length-normalized saturating tf weight production search uses.
  *
  * Plan shape (all broadcast sides are tiny by construction): ONE
  * tokenize pass, ONE wide per-doc aggregation producing the doc length
  * AND a conditional tf column per query term (the query term set is a
  * compile-time constant, so tf pivots into |terms| wide columns with
  * map-side partials instead of a second (doc,term)-keyed shuffle over a
  * re-tokenized corpus), then corpus stats (N, Σdl, per-term df) as ONE
  * broadcast row and a pure projection for the score — never a collect.
  * The r12-era shape tokenized the corpus twice (dl and tf branches) and
  * shuffled three times (dl, tf, df); this is the same numbers from one
  * scan + one exchange, and the DuckDB oracle is deliberately left in
  * the tf-rows form to keep the comparison differential.
  *
  * Cross-engine float discipline (same contract as pagerank_trade):
  * every constant is written as the SAME literal on both sides rather
  * than derived at runtime — derivations are safe only when exact in
  * binary (1.2+1.0 happens to equal double("2.2"), but 1.0−0.85 is one
  * ulp OFF double("0.15")), so literals-only is the rule that never
  * needs a per-constant proof. Every int→double promotion is explicit, and
  * the only libm call is one ln per (doc, term). Per-term scores are
  * accumulated as DECIMAL(38,12) so the 3-row per-doc sum cannot depend
  * on aggregation order; output rounds to 6 dp.
  */
object Ranking {

  /** Query terms — mid-frequency corpus vocabulary so scores spread. */
  private val Terms = Seq("hash", "join", "window")

  /** rrf_fusion: per-system truncated-list length / fused output size. */
  private val FuseK = 200
  private val TopN = 50

  def all: Seq[Q] = Seq(

    Q("bm25_rank",
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT count(*) AS nd, CAST(SUM(dl) AS BIGINT) AS sumdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('hash', 'join', 'window') GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id, count(*) AS n_terms,
        |  round(CAST(SUM(CAST(
        |    ln(1.0 + (CAST(nd - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * ((CAST(tf AS DOUBLE) * 2.2)
        |         / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl * nd AS DOUBLE) / CAST(sumdl AS DOUBLE)))))
        |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
        |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val tfCols = Terms.map(t =>
        sum(when(col("term") === t, lit(1L)).otherwise(lit(0L))).as(s"tf_$t"))
      val perDoc = toks.groupBy("doc_id")
        .agg(count(lit(1)).as("dl"), tfCols: _*)
      val stats = perDoc.agg(
        count(lit(1)).as("nd"),
        (sum(col("dl")).as("sumdl") +:
          Terms.map(t => sum(when(col(s"tf_$t") > 0, lit(1L)).otherwise(lit(0L))).as(s"df_$t"))): _*)
      val rdl = (col("dl") * col("nd")).cast("double") / col("sumdl").cast("double")
      def termScore(t: String) = {
        val tf = col(s"tf_$t").cast("double")
        val df = col(s"df_$t")
        val idf = log(lit(1.0) +
          ((col("nd") - df).cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5)))
        val c = idf * ((tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * rdl)))
        // DECIMAL(20,12), NOT (38,12): Spark's add widens precision by
        // one per step, and past 38 it keeps the integer digits by
        // SHRINKING SCALE — (38,12)+(38,12) comes out (38,11), a silent
        // HALF_UP round at the 11th decimal that flipped 9 scores at the
        // 6dp boundary in the 10x oracle (r14). At (20,12) the 3-term
        // chain tops out at (22,12): every add exact, so the fold equals
        // the oracle's scale-12 SUM bit-for-bit. |per-term| < 10^8
        // always (ln(nd) × bounded tf saturation), so 8 int digits fit.
        when(col(s"tf_$t") > 0, c.cast(DecimalType(20, 12)))
          .otherwise(lit(null).cast(DecimalType(20, 12)))
      }
      // fixed-order decimal fold over the |terms| wide columns — exact
      // addition, so it equals the oracle's unordered SUM over tf rows
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(20, 12))
      val total = Terms.map(t => coalesce(termScore(t), zero)).reduce(_ + _)
      val nTerms = Terms.map(t => when(col(s"tf_$t") > 0, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
      perDoc.crossJoin(broadcast(stats))
        .withColumn("n_terms", nTerms)
        .filter(col("n_terms") > 0)
        .select(col("doc_id"), col("n_terms"),
          round(total.cast("double"), 6).as("score"))
        .orderBy("doc_id")
    },

    // X46: reciprocal-rank fusion — merge a lexical and a semantic
    // retrieval ranking of the same corpus into one list, the standard
    // hybrid-search combiner (score = Σ 1/(60 + rank), k=60 from the
    // Cormack/Clarke/Buettcher RRF paper). Lexical rank = query-term
    // hit count (integer — no float discipline needed); semantic rank =
    // cosine vs the query vector (vec 0), rounded to 6 dp BEFORE
    // ranking so rank ties break identically across engines; both
    // tiebreak on id.
    //
    // 100 TB posture: RRF fuses TRUNCATED lists by definition — each
    // system contributes its top-K via `TakeOrderedAndProject`
    // (per-partition heaps, no global sort of the corpus), and the
    // rank-assigning window runs on K = 200 rows, a constant. A doc
    // absent from one list contributes 0 from that system (rank
    // sentinel 0 in the output keeps the schema int-typed — nullable
    // ints round-trip as floats through pandas and would break the
    // exact compare).
    Q("rrf_fusion",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]+', '', 'g')), '\\s+'), t -> len(t) > 0)) AS term
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id, count(*) AS h FROM toks
         |  WHERE term IN ('hash', 'join', 'window') GROUP BY doc_id),
         |lexr AS (
         |  SELECT d.doc_id,
         |    CAST(row_number() OVER (ORDER BY coalesce(h.h, 0) DESC, d.doc_id) AS INT) AS r_lex
         |  FROM documents d LEFT JOIN hits h USING (doc_id)
         |  WHERE d.doc_id <> 0
         |  QUALIFY r_lex <= $FuseK),
         |v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS n2
         |  FROM embeddings),
         |q AS (SELECT v AS qv, n2 AS qn2 FROM v WHERE vec_id = 0),
         |semr AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (
         |      ORDER BY round(list_inner_product(qv, v) / (sqrt(n2) * sqrt(qn2)), 6) DESC,
         |               vec_id) AS INT) AS r_sem
         |  FROM v CROSS JOIN q WHERE vec_id <> 0
         |  QUALIFY r_sem <= $FuseK)
         |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         |  coalesce(l.r_lex, 0) AS r_lex, coalesce(s.r_sem, 0) AS r_sem,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.r_lex), CAST(0.0 AS DOUBLE))
         |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.r_sem), CAST(0.0 AS DOUBLE)), 9) AS rrf
         |FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT $TopN""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val hits = toks.filter(col("term").isInCollection(Terms))
        .groupBy("doc_id").agg(count(lit(1)).as("h"))
      // top-K by (hits, id) is TakeOrderedAndProject; the rank window
      // then runs over K rows only (single tiny partition, bounded)
      val lexr = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("h"), lit(0L)).as("h"))
        .orderBy(col("h").desc, col("doc_id")).limit(FuseK)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("h").desc, col("doc_id"))).as("r_lex")) // bounded: FuseK rows
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("n2", Similarity.norm2(col("v")))
      val q = v.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val semr = v.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(Similarity.dot(col("qv"), col("v")) / (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(FuseK)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))).as("r_sem")) // bounded: FuseK rows
      lexr.join(semr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0)).as("r_lex"),
          coalesce(col("r_sem"), lit(0)).as("r_sem"),
          round(coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(TopN)
    },

    // X70: retrieval quality evaluation — hits@10, MRR@10, nDCG@10 of
    // the exact cosine ranking against label-match relevance (query and
    // candidate share an embeddings.label). The eval loop every
    // search/RAG stack runs before swapping a retriever.
    //
    // Cross-engine float discipline, taken one step further than BM25:
    // rank is in 1..10, so every DCG weight 1/log2(rank+1) — and every
    // possible IDCG prefix sum — is one of a handful of constants.
    // They are computed ONCE in Scala and embedded as the SAME double
    // literals in both engines (shortest-roundtrip toString), so NO
    // libm call exists anywhere in the query; per-hit weights
    // accumulate as DECIMAL(38,12) (order-independent), and MRR is a
    // MAX (order-free) of exact single divisions.
    //
    // 100 TB posture: rides X3's broadcast-query two-phase top-k; all
    // metric math happens on the k·|queries| ranked rows.
    Q("retrieval_eval", {
      // CAST every literal: a bare decimal literal is DECIMAL in DuckDB
      // (and DECIMAL arithmetic would diverge from Spark's double path)
      val wCase = (1 to 10).map(r =>
        s"WHEN $r THEN CAST(${Ranking.dcgW(r)} AS DOUBLE)").mkString(" ")
      val idcgCase = (1 to 10).map(m =>
        s"WHEN $m THEN CAST(${Ranking.idcgTable(m)} AS DOUBLE)").mkString(" ")
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |    list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS n2
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, n2 AS qn2
         |      FROM v WHERE vec_id < 8),
         |scored AS (
         |  SELECT q_id, q_label, vec_id, label,
         |    round(list_inner_product(qv, v) / (sqrt(n2) * sqrt(qn2)), 6) AS cos
         |  FROM v CROSS JOIN q WHERE vec_id >= 8),
         |ranked AS (
         |  SELECT q_id, q_label, label, CAST(row_number() OVER w AS INT) AS rank
         |  FROM scored
         |  WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, vec_id)
         |  QUALIFY rank <= 10),
         |rel AS (SELECT label, count(*) AS n_rel FROM v WHERE vec_id >= 8 GROUP BY label),
         |m AS (
         |  SELECT q_id, q_label,
         |    CAST(count(CASE WHEN label = q_label THEN 1 END) AS BIGINT) AS hits10,
         |    round(coalesce(max(CASE WHEN label = q_label THEN CAST(1.0 AS DOUBLE) / rank END), CAST(0.0 AS DOUBLE)), 6) AS mrr10,
         |    CAST(SUM(CAST(CASE WHEN label = q_label
         |      THEN (CASE rank $wCase END) ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(38,12))) AS DOUBLE) AS dcg
         |  FROM ranked GROUP BY q_id, q_label)
         |SELECT q_id, q_label, n_rel,
         |  hits10, mrr10,
         |  round(dcg / nullif(CASE least(n_rel, 10) $idcgCase ELSE CAST(0.0 AS DOUBLE) END, CAST(0.0 AS DOUBLE)), 6) AS ndcg10
         |FROM m JOIN rel ON rel.label = m.q_label
         |ORDER BY q_id""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val ranked = Similarity.cosineTopK(emb, nQ = 8, k = 10)
      val labels = emb.select(col("vec_id"), col("label"))
      val qLabels = labels.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))
      val rel = labels.filter(col("vec_id") >= 8)
        .groupBy("label").agg(count(lit(1)).as("n_rel"))
      val hit = col("label") === col("q_label")
      val wOfRank = (1 to 10).foldLeft(lit(0.0)) { (acc, r) =>
        when(col("rank") === r, lit(Ranking.dcgW(r))).otherwise(acc)
      }
      val idcgOf = (1 to 10).foldLeft(lit(0.0)) { (acc, m) =>
        when(least(col("n_rel"), lit(10)) === m, lit(Ranking.idcgTable(m))).otherwise(acc)
      }
      val m = ranked
        .join(broadcast(qLabels), "q_id")
        .join(labels, "vec_id")
        .groupBy("q_id", "q_label")
        .agg(
          count(when(hit, lit(1))).as("hits10"),
          round(coalesce(max(when(hit, lit(1.0) / col("rank"))), lit(0.0)), 6).as("mrr10"),
          sum(when(hit, wOfRank).otherwise(lit(0.0)).cast(DecimalType(38, 12)))
            .cast("double").as("dcg"))
      m.join(broadcast(rel), col("label") === col("q_label"))
        .select(col("q_id"), col("q_label"), col("n_rel"),
          col("hits10"), col("mrr10"),
          round(col("dcg") / nullif(idcgOf, lit(0.0)), 6).as("ndcg10"))
        .orderBy("q_id")
    }
  )

  /** DCG weight 1/log2(r+1) and IDCG prefix sums, computed once and
    * embedded as identical double literals in BOTH engines (the
    * toString is the shortest round-trip form, so DuckDB parses back
    * the exact same double) — see retrieval_eval's scaladoc. */
  private[operators] val dcgW: Map[Int, Double] =
    (1 to 10).map(r => r -> 1.0 / (math.log(r + 1.0) / math.log(2.0))).toMap
  private[operators] val idcgTable: Map[Int, Double] =
    (1 to 10).map(m => m -> (1 to m).map(dcgW).sum).toMap
}
