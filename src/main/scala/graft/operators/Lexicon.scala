package graft.operators

import graft.Q
import graft.functions.{Sketches, TextFns}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Lexicon operators — the vocabulary artifacts a tokenizer/retrieval
  * pipeline derives from a corpus before training or serving:
  *
  *   - `vocab_oov`: build the top-V frequency vocabulary, then score
  *     every document's out-of-vocabulary rate against it — the
  *     coverage check run before committing to a tokenizer vocab (a
  *     corpus slice with high OOV under the proposed vocab means the
  *     vocab was fit on the wrong distribution).
  *   - `inverted_index`: term → (df, total tf, capped posting sample) —
  *     the retrieval index artifact behind X45's BM25 scoring.
  *
  * 100 TB posture: the vocabulary is CONSTANT-SIZE by construction
  * (top-V of a term-count aggregation, taken with a bounded
  * `TakeOrderedAndProject`), so the OOV probe is a broadcast hash join
  * against the token scan — the token stream itself never shuffles for
  * membership, only the two hash aggregations (term counts; per-doc
  * counts) move data, both map-side-partial. The inverted index caps
  * postings with the mergeable bounded-heap aggregator (X29's
  * [[Sketches.TopKAgg]]) rather than `collect_list` — a stopword term
  * appearing in every document costs O(k) state in every partial
  * buffer, never an |docs|-sized array on one reducer.
  */
object Lexicon {

  /** Tiny on purpose: the synthetic corpus draws from a ~31-word
    * vocabulary, so V=10 leaves a real OOV tail to measure. */
  private val VocabSize = 10

  private val MinDf = 5
  private val PostingCap = 20

  /** Shared DuckDB fragment (parity with [[TextFns.tokens]]). */
  private val duckToks =
    """list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0)"""

  def all: Seq[Q] = Seq(

    // Vocabulary coverage / OOV rate. Vocab ties break (count DESC,
    // term ASC) so the cut is engine-deterministic; docs with zero
    // tokens stay on the spine with a NULL rate (0/0) in both engines.
    Q("vocab_oov",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
         |vocab AS (
         |  SELECT term AS v_term FROM cnt ORDER BY c DESC, term LIMIT $VocabSize),
         |pd AS (
         |  SELECT t.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(CASE WHEN v.v_term IS NULL THEN 1 END) AS BIGINT) AS n_oov
         |  FROM toks t LEFT JOIN vocab v ON t.term = v.v_term
         |  GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  coalesce(n_tokens, 0) AS n_tokens,
         |  coalesce(n_oov, 0) AS n_oov,
         |  round(CAST(coalesce(n_oov, 0) AS DOUBLE)
         |    / nullif(CAST(coalesce(n_tokens, 0) AS DOUBLE), 0.0), 9) AS oov_rate
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // DELIBERATE double-tokenize (r14 ScanAudit finding, measured and
      // kept): routing both consumers through one (doc,term) aggregation
      // (the tfidf shape) halves the tokenize but ships the full
      // doc-term table across the exchange — measured 0.49s → 0.85s at
      // sf0.1. Here BOTH branches collapse under map-side partials (the
      // term-count branch ships ~|vocab| partial rows per task, the
      // per-doc branch per-doc partials), so the token stream never
      // crosses the network and recompute beats shuffle.
      val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(VocabSize)
        .select(col("term").as("v_term"))
      val perDoc = toks
        .join(broadcast(vocab), col("term") === col("v_term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("v_term").isNull, lit(1))).as("n_oov"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          round(try_divide(coalesce(col("n_oov"), lit(0L)).cast("double"),
            nullif(coalesce(col("n_tokens"), lit(0L)).cast("double"), lit(0.0))), 9)
            .as("oov_rate"))
        .orderBy("doc_id")
    },

    // X62b: per-language vocabulary NUCLEUS — the smallest
    // frequency-ranked token set covering ≥90% of that language's token
    // mass (the tokenizer-design statistic: how head-heavy is each
    // language's distribution). Ranking ties break (count DESC, term
    // ASC) like vocab_oov; the 90% threshold compares 10·cumsum ≥
    // 9·total in EXACT integer arithmetic, so the cut index can never
    // tip on a float boundary between engines. Shuffles: one (lang,
    // term) hash agg, a |langs|-sized window spine, one final count —
    // all linear in distinct terms, never in tokens.
    Q("vocab_nucleus",
      s"""WITH toks AS (
         |  SELECT d.lang, unnest($duckToks) AS term FROM documents d),
         |cnt AS (SELECT lang, term, count(*) AS c FROM toks GROUP BY lang, term),
         |tot AS (SELECT lang, sum(c) AS total, count(*) AS n_terms FROM cnt GROUP BY lang),
         |run AS (
         |  SELECT lang, term, c,
         |    sum(c) OVER (PARTITION BY lang ORDER BY c DESC, term
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt),
         |nuc AS (
         |  SELECT r.lang, count(*) AS nucleus_size
         |  FROM run r JOIN tot t USING (lang)
         |  WHERE (r.cum - r.c) * 10 < t.total * 9
         |  GROUP BY r.lang)
         |SELECT t.lang, t.n_terms, nuc.nucleus_size,
         |  round(CAST(nuc.nucleus_size AS DOUBLE) / CAST(t.n_terms AS DOUBLE), 9) AS nucleus_frac
         |FROM tot t JOIN nuc USING (lang) ORDER BY t.lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // Materialize: cnt feeds THREE consumers (tot, the running
      // window, and via tot the final join), each column-pruned to a
      // different shape Catalyst canonicalizes differently — left lazy
      // the corpus is tokenized once per consumer (r14 ScanAudit found
      // 3 scans). cnt is |lang × vocab| rows, sub-linear in corpus size,
      // so the materialize-once convention (pagerank/LPA/KS) applies.
      val cnt = Materialize(Tables.documents(s, d)
        .select(col("lang"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c")))
      val tot = cnt.groupBy("lang")
        .agg(sum(col("c")).as("total"), count(lit(1)).as("n_terms"))
      val w = Window.partitionBy("lang").orderBy(col("c").desc, col("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // a term is IN the nucleus iff the mass BEFORE it is still short
      // of 90% — the first rank at-or-past the threshold is included,
      // everything after excluded (same rule both engines, exact ints)
      val nuc = cnt
        .withColumn("cum", sum(col("c")).over(w))
        .join(broadcast(tot), "lang")
        .filter((col("cum") - col("c")) * 10 < col("total") * 9)
        .groupBy("lang").agg(count(lit(1)).as("nucleus_size"))
      tot.join(nuc, "lang")
        .select(col("lang"), col("n_terms"), col("nucleus_size"),
          round(col("nucleus_size").cast("double") / col("n_terms").cast("double"), 9)
            .as("nucleus_frac"))
        .orderBy("lang")
    },

    // Inverted index: per term, document frequency, total term
    // frequency, and the first PostingCap doc ids (ascending) as a
    // comma-joined sample. The posting cap is a bounded heap keyed on
    // -doc_id (score DESC == id ASC), so the agg is mergeable and the
    // per-term state is O(cap) regardless of df.
    Q("inverted_index",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id)
         |SELECT term,
         |  CAST(count(*) AS BIGINT) AS df,
         |  CAST(SUM(tf) AS BIGINT) AS tf_total,
         |  array_to_string(
         |    list_transform(list_sort(list(doc_id))[1:$PostingCap],
         |                   x -> CAST(x AS VARCHAR)), ',') AS postings
         |FROM tf GROUP BY term HAVING count(*) >= $MinDf
         |ORDER BY term""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      tf.groupBy("term")
        .agg(count(lit(1)).as("df"),
          sum("tf").as("tf_total"),
          Sketches.topK(PostingCap)(-col("doc_id").cast("double"), col("doc_id")).as("post"))
        .filter(col("df") >= MinDf)
        .select(col("term"), col("df"), col("tf_total"),
          concat_ws(",", transform(col("post"), x => x.getField("_2").cast("string")))
            .as("postings"))
        .orderBy("term")
    },

    // X63b: phrase matching over POSITIONAL postings — the index-side
    // mechanism behind exact phrase search ("table hash" as adjacent
    // tokens), as a retrieval system runs it: per-term position lists
    // intersected with a +1 offset, never a substring rescan of the
    // corpus. Only the two phrase terms' postings are materialized
    // (scan-local filter BEFORE the join — the shuffle carries term
    // hits, not the token stream), joined on doc_id with the adjacency
    // offset in the join condition. Positions are 0-based Spark-side
    // and 1-based in DuckDB; the join compares DELTAS, so the base
    // cancels in both engines.
    Q("phrase_match_positional",
      s"""WITH pd AS (SELECT doc_id, $duckToks AS t FROM documents),
         |toks AS (
         |  SELECT doc_id, t[u.i] AS term, u.i AS pos
         |  FROM pd, unnest(range(1, len(t) + 1)) AS u(i)),
         |a AS (SELECT doc_id, pos FROM toks WHERE term = 'table'),
         |b AS (SELECT doc_id, pos FROM toks WHERE term = 'hash')
         |SELECT a.doc_id, count(*) AS n_occurrences
         |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.spread(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "term")))
      val a = toks.filter(col("term") === "table")
        .select(col("doc_id"), col("pos").as("pos_a"))
      val b = toks.filter(col("term") === "hash")
        .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"))
      a.join(b, col("doc_id") === col("doc_b") && col("pos_b") === col("pos_a") + 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
        .orderBy("doc_id")
    },

    // X87: BPE merge-pair counting — ONE round of byte-pair-encoding
    // tokenizer training (Sennrich et al. 2016): the frequency of every
    // adjacent symbol pair over the corpus, weighted by word frequency,
    // whose argmax is the next merge a BPE trainer commits. The scale
    // trick IS the operator: pairs are enumerated over the DISTINCT
    // VOCABULARY (|V| rows, sub-linear in corpus size by Heaps' law)
    // carrying each word's corpus frequency as a weight — never over
    // the raw token stream — so one trainer round costs a token-count
    // aggregation (map-side partials) plus O(|V|·avg_len) pair rows.
    // Within-word repeats (e.g. "aaa" → "aa" twice) each count, exactly
    // as a BPE trainer tallies occurrences; n_words counts words once.
    // Top-50 cut is a bounded TakeOrderedAndProject with a pair-lexical
    // tiebreak, deterministic across engines.
    Q("bpe_pair_counts",
      s"""WITH toks AS (SELECT unnest($duckToks) AS term FROM documents),
         |vocab AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
         |pairs AS (
         |  SELECT substr(v.term, CAST(u.i AS INT), 2) AS pair, v.term, v.freq
         |  FROM vocab v, unnest(range(1, len(v.term))) AS u(i)
         |  WHERE len(v.term) >= 2)
         |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
         |  CAST(count(DISTINCT term) AS BIGINT) AS n_words
         |FROM pairs GROUP BY pair
         |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("freq"))
      val pairs = vocab.filter(length(col("term")) >= 2)
        .select(col("term"), col("freq"),
          explode(sequence(lit(1), length(col("term")) - 1)).as("i"))
        .select(col("term"), col("freq"),
          col("term").substr(col("i"), lit(2)).as("pair"))
      pairs.groupBy("pair")
        .agg(sum(col("freq")).as("pair_count"),
          countDistinct(col("term")).as("n_words"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(50)
    },

    // X89: Zipf-slope corpus fit — the log-log rank/frequency regression
    // slope per language (natural text ≈ −1; a slope far off it flags
    // synthetic, templated, or boilerplate-heavy slices — a cheap
    // corpus-health probe next to the Gopher gates). Rank is assigned
    // over the per-lang vocabulary (count DESC, term tiebreak — the
    // engine-deterministic cut every vocab op here uses), capped at the
    // top 200 terms so the regression width is constant. The OLS slope
    // is computed from EXACT decimal moment sums (each ln / ln·ln term
    // cast to DECIMAL(38,12) before SUM, so accumulation order cannot
    // matter) and only the final closed-form division runs in double,
    // rounded to 6 dp — the same float discipline as the BM25 scorer.
    // Scale: only (lang, term) count rows reach the rank window, |V|
    // per lang, sub-linear in corpus size; moments are map-side-partial.
    Q("zipf_fit",
      s"""WITH toks AS (SELECT lang, unnest($duckToks) AS term FROM documents),
         |cnt AS (SELECT lang, term, count(*) AS c FROM toks GROUP BY lang, term),
         |ranked AS (
         |  SELECT lang, c,
         |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, term) AS r
         |  FROM cnt),
         |sums AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(38,12))) AS sx,
         |    SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12))) AS sy,
         |    SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12))) AS sxy,
         |    SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) AS DECIMAL(38,12))) AS sxx
         |  FROM ranked WHERE r <= 200 GROUP BY lang
         |  HAVING count(*) >= 2)
         |SELECT lang, n AS n_terms,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
         |FROM sums ORDER BY lang""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(TextFns.tokens(col("text"))).as("term"))
      val cnt = toks.groupBy("lang", "term").agg(count(lit(1)).as("c"))
      val ranked = cnt.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("lang").orderBy(col("c").desc, col("term"))))
        .filter(col("r") <= 200)
      val x = log(col("r").cast("double"))
      val y = log(col("c").cast("double"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 12)
      val sums = ranked.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum(x.cast(dec)).as("sx"),
        sum(y.cast(dec)).as("sy"),
        sum((x * y).cast(dec)).as("sxy"),
        sum((x * x).cast(dec)).as("sxx"))
        // n = 1 makes the denominator exactly 0 (single ranked term):
        // Spark's double 0/0 is NaN while DuckDB's is version-dependent
        // (NULL vs NaN) — filter the degenerate fit identically on both
        // engines (HAVING count(*) >= 2 in the oracle) instead of
        // hashing an engine-specific 0/0 artifact (r14 ADVICE)
        .filter(col("n") >= 2)
      sums.select(col("lang"), col("n").as("n_terms"),
        round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6).as("slope"))
        .orderBy("lang")
    }
  )
}
