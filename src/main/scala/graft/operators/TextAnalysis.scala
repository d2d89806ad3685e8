package graft.operators

import graft.Q
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis layer (SURVEY.md §2b X4–X5 + the training-data-pipeline
  * mandate): TF-IDF, per-language corpus stats, heuristic language ID,
  * document quality scoring, tokenizer-style token counting, and
  * min-hash document fingerprinting. All pure column-function / groupBy
  * composition over the native [[TextFns.tokens]]/[[TextFns.ngrams]]
  * expression — every op is a keyed shuffle, no driver-side state, so
  * the plans scale by partition count alone.
  */
object TextAnalysis {

  /** Shared DuckDB fragment: normalized token list of `text`
    * (parity with [[TextFns.tokens]], see TextPipeline.ngramCountSql). */
  private val duckToks =
    """list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0)"""

  /** X4: TF-IDF per (doc, term). tf = term count in doc; idf = ln(N/df).
    * Plan: explode → two hash aggs (doc,term) and (term) → shuffle join
    * tf⋈df on term → broadcast of the single-row doc count. The N-row
    * side never leaves the executors (no collect): it rides in as a
    * broadcast cross join of one row. */
  def tfidf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // the tf>0 filter is vacuous (count >= 1 by construction) but keeps
    // the count column REFERENCED in this branch — without it Catalyst
    // prunes the inner aggregate to a bare distinct, the two tf subtrees
    // stop being canonically equal, and AQE cannot reuse the tokenize
    // stage: the corpus would be exploded twice (the doc_bigram_surprise
    // pattern; r14 ScanAudit caught tfidf re-tokenizing)
    val dfreq = tf.filter(col("tf") > 0).groupBy("term").agg(count(lit(1)).as("df"))
    // n_docs stays a direct count over documents: it is a zero-column
    // metadata-only scan (free at any scale), and deriving it from tf
    // would drop zero-token docs the oracle's COUNT(*) includes
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** Per-language stopword profiles for the language-ID heuristic.
    * Tiny fixed lists — they broadcast as literals inside the plan. */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un"),
    "es" -> Seq("el", "la", "los", "de", "y", "un"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu"))

  private def hitRatio(toks: Column, words: Seq[String]): Column =
    round(try_divide(
      size(filter(toks, t => t.isInCollection(words))).cast("double"),
      size(toks).cast("double")), 9)

  private def duckHitRatio(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"round(CAST(len(list_filter(t, x -> list_contains($lst, x))) AS DOUBLE) / nullif(CAST(len(t) AS DOUBLE), 0.0), 9)"
  }

  def all: Seq[Q] = Seq(

    // X11+: unigram language-model scoring — each doc's mean token
    // log-probability under the corpus's own unigram LM, the classic
    // cheap perplexity proxy (rare-token soup scores low; template
    // text scores high). Joins the token stream to its frequency table
    // (high-cardinality key) with the corpus total as a broadcast row.
    //
    // Cross-engine float discipline: each ln term is one libm call on
    // the IDENTICAL double (exact int→double casts + one IEEE
    // division), rounded to 9 dp and accumulated as DECIMAL(28,9) so
    // the per-doc sum is addition-order independent; ONE final
    // division + round.
    //
    // The oracle's final round goes VARCHAR→DECIMAL→round (10x-compare
    // lesson): Spark's round(double, 6) rounds the double's SHORTEST
    // DECIMAL REPR half-up (BigDecimal.valueOf), while DuckDB's
    // round(double, 6) multiplies by 1e6 first — whose one-ULP slop
    // flips doubles sitting within ~5e-16 of a 1e-6 boundary (one doc's
    // avg at 10x, replicated once per fixture copy). Stringifying in
    // DuckDB (shortest round-trip repr), parsing as DECIMAL, and
    // rounding EXACTLY reproduces Spark's algorithm, so the two engines
    // agree at boundaries instead of probabilistically.
    Q("doc_unigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0) AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, u.tok FROM toks, unnest(t) AS u(tok)),
        |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |n AS (SELECT count(*) AS nn FROM tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(round(CAST(CAST(
        |      CAST(SUM(CAST(round(ln(CAST(c AS DOUBLE) / nn), 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*)
        |    AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS avg_logprob
        |FROM tok JOIN cnt USING (tok) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // DELIBERATE triple-tokenize (r14 ScanAudit finding, measured and
      // kept): the one-pass variant — per-(doc,term) multiplicities m,
      // counts as Σm, Σ_terms m·x for the decimal sum — tokenizes once
      // but ships the doc-term table across its exchange, and measured
      // 0.64s → 0.91s at sf0.1. Here every branch collapses under
      // map-side partials (cnt ships ~|vocab| partial rows per task, the
      // final per-doc agg per-doc partials, n one row) and cnt broadcasts
      // back, so the token stream never crosses the network and
      // recompute beats shuffle.
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      val cnt = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      val n = tok.agg(count(lit(1)).as("nn"))
      tok.join(cnt, "tok").crossJoin(broadcast(n))
        .select(col("doc_id"),
          round(log(col("c").cast("double") / col("nn")), 9)
            .cast(org.apache.spark.sql.types.DecimalType(28, 9)).as("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(col("term")).cast("double") / count(lit(1)), 6).as("avg_logprob"))
        .orderBy("doc_id")
    },

    // X11++: add-one-smoothed BIGRAM surprise — mean ln P(w_i | w_{i-1})
    // per doc under the corpus bigram LM, the next rung of the
    // perplexity-proxy ladder above doc_unigram_logprob (catches
    // shuffled-token text that unigram stats cannot). Same float
    // discipline: counts exact, one IEEE division per term, ln rounded
    // to 9 dp, DECIMAL order-free accumulation.
    //
    // Scale shape (VERDICT r05 item 3): never join the per-OCCURRENCE
    // bigram stream on skewed gram keys ("of the"-class hot keys — the
    // reference's own partitioner concession, WordCount.java:55-59).
    // Instead (1) pre-aggregate occurrences to (doc_id, w1, w2, cnt)
    // — ONE groupBy whose shuffle is map-side-combined to distinct
    // doc-grams; (2) derive the corpus bigram table c2 from that
    // compact frame and its left-context total n1 as a WINDOW over c2
    // (partitionBy(w1), unbounded frame — no self-join, no duplicated
    // subtree); (3) score the DISTINCT bigram table (|c2| rows) and
    // join doc-gram counts back on (w1,w2). Every post-explode shuffle
    // carries distinct-gram-scale rows, not occurrence-scale.
    //
    // The explicit isNotNull filter on (w1,w2) is semantically a no-op
    // (array elements are never null) but load-bearing for AQE stage
    // reuse: the join infers isnotnull on BOTH keys into the join-back
    // branch, while through the Window only the partition key w1's
    // filter pushes — leaving the two bgd subtrees canonically
    // different, so the explode+partial-agg map stage ran TWICE.
    // Filtering up front makes both branches identical; the doc-gram
    // shuffle is built once and reused (ReusedExchange, pinned in
    // PlanAuditSpec).
    // Exactness: sum over occurrences of a 9-dp DECIMAL term ==
    // sum(cnt × term) over distinct doc-grams — integer multiples of
    // an exact decimal — so the oracle (which sums per occurrence)
    // hashes identically. term as DECIMAL(20,9) × cnt DECIMAL(10,0)
    // → DECIMAL(31,9) product, exact, no precision-loss truncation.
    Q("doc_bigram_surprise",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0) AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, t[u.i] AS w1, t[u.i+1] AS w2
        |       FROM toks, unnest(range(1, len(t))) AS u(i)
        |       WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY w1),
        |v AS (SELECT count(DISTINCT u.tok) AS nv FROM toks, unnest(t) AS u(tok))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(CAST(round(ln((CAST(n2 AS DOUBLE) + 1) / (n1 + nv)), 9) AS DECIMAL(28,9))) AS DOUBLE)
        |    / count(*), 6) AS avg_logprob
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.spread(s, d, "documents")
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      val bg = toks
        .select(col("doc_id"), explode(
          when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => struct(element_at(col("t"), i).as("w1"),
                element_at(col("t"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1").isNotNull && col("w2").isNotNull)
      val bgd = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
      val c2 = bgd.groupBy("w1", "w2").agg(sum(col("cnt")).as("n2"))
      // Vocabulary from the token stream, not from c2's endpoints: a
      // c2-derived distinct lets Catalyst drop the doc_id grouping
      // from that branch (distinct-only consumer), which would forge a
      // THIRD non-shareable explode subtree. Map-side partial distinct
      // bounds this shuffle at vocabulary-scale per partition.
      val v = toks.select(explode(col("t")).as("tok"))
        .agg(countDistinct(col("tok")).as("nv"))
      val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
      val scored = c2.withColumn("n1", sum(col("n2")).over(byW1))
        .crossJoin(broadcast(v))
        .select(col("w1"), col("w2"),
          round(log((col("n2").cast("double") + lit(1)) / (col("n1") + col("nv"))), 9)
            .cast(org.apache.spark.sql.types.DecimalType(20, 9)).as("term"))
      // Explicit build side (r15, measured at sf1): scored is the
      // DISTINCT-gram LM table (1,210 rows at sf1) while bgd is the
      // doc-gram table (2.6M rows); left to itself the planner built
      // the hash relation on BGD — a 2.6M-entry broadcast — making
      // this the slowest corpus query (8.0 s at sf1).
      // Broadcasting the gram-scale side streams bgd straight off its
      // reused exchange into the per-doc partial agg. At 100 TB a
      // web-scale gram table outgrows broadcast — drop the hint and
      // the same plan becomes a shuffled join on (w1,w2), with bgd
      // paying one doc-gram-scale exchange (the declared cost).
      bgd.join(broadcast(scored), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_bigrams"),
          round(sum(col("term") * col("cnt").cast(org.apache.spark.sql.types.DecimalType(10, 0)))
            .cast("double") / sum(col("cnt")), 6).as("avg_logprob"))
        .orderBy("doc_id")
    },

    // X4: TF-IDF (SURVEY.md §2b X4) — pure SQL-oracle-able.
    Q("tfidf",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.term, tf.tf,
         |  round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      tfidf(Tables.spread(s, d, "documents"))
    }.copy(headline = true),

    // X5: per-language corpus stats (lang breakdown). Exact integer
    // sums; averages are one double division at the end in both engines.
    Q("text_stats",
      s"""WITH pd AS (
         |  SELECT lang, n_chars, len($duckToks) AS ntok FROM documents)
         |SELECT lang,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
         |  round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
         |  round(avg(CAST(ntok AS DOUBLE)), 4) AS avg_tokens,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          sum("ntok").as("total_tokens"),
          round(avg(col("n_chars").cast("double")), 4).as("avg_chars"),
          round(avg(col("ntok").cast("double")), 4).as("avg_tokens"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")
    },

    // Language-ID heuristic: stopword-profile hit ratios, argmax with a
    // fixed tie-break order (en > fr > es > de > unknown). On synthetic
    // data this is a determinism exercise; the operator shape (per-row
    // scoring against broadcast profiles) is the real thing.
    Q("lang_id_heuristic",
      s"""WITH pd AS (SELECT doc_id, $duckToks AS t FROM documents),
         |scored AS (
         |  SELECT doc_id,
         |    ${duckHitRatio(stopwords(0)._2)} AS s_en,
         |    ${duckHitRatio(stopwords(1)._2)} AS s_fr,
         |    ${duckHitRatio(stopwords(2)._2)} AS s_es,
         |    ${duckHitRatio(stopwords(3)._2)} AS s_de
         |  FROM pd)
         |SELECT doc_id, s_en, s_fr, s_es, s_de,
         |  CASE
         |    WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         |    WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         |    WHEN s_es > 0 AND s_es >= s_de THEN 'es'
         |    WHEN s_de > 0 THEN 'de'
         |    ELSE 'unknown' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = TextFns.tokens(col("text"))
      val scored = Tables.spread(s, d, "documents").select(
        col("doc_id"),
        hitRatio(t, stopwords(0)._2).as("s_en"),
        hitRatio(t, stopwords(1)._2).as("s_fr"),
        hitRatio(t, stopwords(2)._2).as("s_es"),
        hitRatio(t, stopwords(3)._2).as("s_de"))
      scored.select(col("doc_id"), col("s_en"), col("s_fr"), col("s_es"), col("s_de"),
        when(col("s_en") > 0 && col("s_en") >= col("s_fr")
          && col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_fr") > 0 && col("s_fr") >= col("s_es") && col("s_fr") >= col("s_de"), "fr")
          .when(col("s_es") > 0 && col("s_es") >= col("s_de"), "es")
          .when(col("s_de") > 0, "de")
          .otherwise("unknown").as("lang_pred"))
        .orderBy("doc_id")
    },

    // X10b: language-ID CONFUSION MATRIX — the heuristic's predictions
    // cross-tabulated against the labeled `lang` column (the eval step
    // before trusting a classifier to route a corpus: which languages
    // bleed into which). Same scored CTE as lang_id_heuristic, then one
    // (label, prediction) hash agg with per-label recall as an exact
    // count ratio rounded once. ~|langs|² output rows.
    Q("lang_id_confusion",
      s"""WITH pd AS (SELECT doc_id, lang, $duckToks AS t FROM documents),
         |scored AS (
         |  SELECT doc_id, lang,
         |    ${duckHitRatio(stopwords(0)._2)} AS s_en,
         |    ${duckHitRatio(stopwords(1)._2)} AS s_fr,
         |    ${duckHitRatio(stopwords(2)._2)} AS s_es,
         |    ${duckHitRatio(stopwords(3)._2)} AS s_de
         |  FROM pd),
         |pred AS (
         |  SELECT lang,
         |    CASE
         |      WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         |      WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         |      WHEN s_es > 0 AND s_es >= s_de THEN 'es'
         |      WHEN s_de > 0 THEN 'de'
         |      ELSE 'unknown' END AS lang_pred
         |  FROM scored),
         |cm AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred),
         |tot AS (SELECT lang, sum(n) AS lang_total FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.lang_pred, cm.n,
         |  round(CAST(cm.n AS DOUBLE) / CAST(t.lang_total AS DOUBLE), 9) AS frac_of_label
         |FROM cm JOIN tot t USING (lang)
         |ORDER BY cm.lang, cm.lang_pred""".stripMargin) { (s, d) =>
      val t = TextFns.tokens(col("text"))
      val scored = Tables.spread(s, d, "documents").select(
        col("lang"),
        hitRatio(t, stopwords(0)._2).as("s_en"),
        hitRatio(t, stopwords(1)._2).as("s_fr"),
        hitRatio(t, stopwords(2)._2).as("s_es"),
        hitRatio(t, stopwords(3)._2).as("s_de"))
      val pred = scored.select(col("lang"),
        when(col("s_en") > 0 && col("s_en") >= col("s_fr")
          && col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_fr") > 0 && col("s_fr") >= col("s_es") && col("s_fr") >= col("s_de"), "fr")
          .when(col("s_es") > 0 && col("s_es") >= col("s_de"), "es")
          .when(col("s_de") > 0, "de")
          .otherwise("unknown").as("lang_pred"))
      val cm = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      val tot = cm.groupBy("lang").agg(sum(col("n")).as("lang_total"))
      cm.join(broadcast(tot), "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          round(col("n").cast("double") / col("lang_total").cast("double"), 9)
            .as("frac_of_label"))
        .orderBy("lang", "lang_pred")
    },

    // Quality scoring: length / punctuation / stopword / repetition
    // signals composed into one score — the standard pre-training
    // corpus-filter shape (each signal is a cheap scan-local expression).
    Q("doc_quality",
      s"""WITH pd AS (
         |  SELECT doc_id, n_chars, $duckToks AS t,
         |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, n_chars, n_punct,
         |    CAST(len(t) AS BIGINT) AS ntok,
         |    CAST(len(list_distinct(t)) AS BIGINT) AS nuniq,
         |    CAST(len(list_filter(t, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x))) AS DOUBLE)
         |      / nullif(CAST(len(t) AS DOUBLE), 0.0) AS stop_raw,
         |    CAST(n_punct AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0.0) AS punct_raw,
         |    CAST(len(list_distinct(t)) AS DOUBLE) / nullif(CAST(len(t) AS DOUBLE), 0.0) AS uniq_raw
         |  FROM pd)
         |SELECT doc_id, ntok, nuniq,
         |  round(punct_raw, 9) AS punct_ratio,
         |  round(stop_raw, 9) AS stop_ratio,
         |  round(uniq_raw, 9) AS uniq_ratio,
         |  round(0.4 * uniq_raw + 0.3 * least(CAST(ntok AS DOUBLE) / 100.0, 1.0)
         |      + 0.2 * (1.0 - punct_raw) + 0.1 * least(stop_raw * 5.0, 1.0), 9) AS quality
         |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Composite scores from the RAW ratios, rounding only for display:
      // building on pre-rounded 9dp decimals puts the composite exactly
      // on rounding midpoints where the engines' round() tip differently.
      val t = TextFns.tokens(col("text"))
      val f = Tables.documents(s, d).select(
        col("doc_id"), col("n_chars"),
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("long").as("n_punct"),
        size(t).cast("long").as("ntok"),
        size(array_distinct(t)).cast("long").as("nuniq"),
        try_divide(size(filter(t, x => x.isInCollection(stopwords(0)._2))).cast("double"),
          size(t).cast("double")).as("stop_raw"))
        .withColumn("punct_raw", try_divide(col("n_punct").cast("double"), col("n_chars").cast("double")))
        .withColumn("uniq_raw", try_divide(col("nuniq").cast("double"), col("ntok").cast("double")))
      f.select(col("doc_id"), col("ntok"), col("nuniq"),
        round(col("punct_raw"), 9).as("punct_ratio"),
        round(col("stop_raw"), 9).as("stop_ratio"),
        round(col("uniq_raw"), 9).as("uniq_ratio"),
        round(lit(0.4) * col("uniq_raw")
          + lit(0.3) * least(col("ntok").cast("double") / 100.0, lit(1.0))
          + lit(0.2) * (lit(1.0) - col("punct_raw"))
          + lit(0.1) * least(col("stop_raw") * 5.0, lit(1.0)), 9).as("quality"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens vs a BPE-style pre-tokenizer
    // regex (word runs | single digits | punctuation runs — the
    // GPT-2-ish split, lookahead-free so Java regex and RE2 agree) vs
    // the chars/4 rule of thumb.
    Q("token_count_bpe",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+')) AS BIGINT) AS bpe_tokens,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS ws_tokens,
        |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_chars4
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.spread(s, d, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+"), lit(0))).cast("long").as("bpe_tokens"),
        size(TextFns.rawTokens(col("text"))).cast("long").as("ws_tokens"),
        ceil(col("n_chars").cast("double") / 4.0).cast("long").as("est_chars4"))
        .orderBy("doc_id")
    },

    // Document fingerprinting: 4-band min-hash over 3-token shingles
    // (winnowing-style sketch). md5 hex strings order-compare
    // identically in both engines; band = first hex char mod 4. Docs
    // with <3 tokens have no shingles and drop out (both sides).
    Q("doc_fingerprint",
      s"""WITH sh AS (
         |  SELECT doc_id, md5(array_to_string(t[u.i:u.i+2], ' ')) AS h
         |  FROM (SELECT doc_id, $duckToks AS t FROM documents),
         |       unnest(range(1, len(t) - 1)) AS u(i)
         |  WHERE len(t) >= 3)
         |SELECT doc_id,
         |  min(CASE WHEN ascii(substring(h, 1, 1)) % 4 = 0 THEN h END) AS f0,
         |  min(CASE WHEN ascii(substring(h, 1, 1)) % 4 = 1 THEN h END) AS f1,
         |  min(CASE WHEN ascii(substring(h, 1, 1)) % 4 = 2 THEN h END) AS f2,
         |  min(CASE WHEN ascii(substring(h, 1, 1)) % 4 = 3 THEN h END) AS f3,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_shingles
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val h = md5(col("shingle"))
      val band = pmod(ascii(substring(h, 1, 1)), lit(4))
      Tables.spread(s, d, "documents")
        .select(col("doc_id"), explode(TextFns.ngrams(col("text"), 3)).as("shingle"))
        .select(col("doc_id"), h.as("h"), band.as("band"))
        .groupBy("doc_id")
        .agg(
          min(when(col("band") === 0, col("h"))).as("f0"),
          min(when(col("band") === 1, col("h"))).as("f1"),
          min(when(col("band") === 2, col("h"))).as("f2"),
          min(when(col("band") === 3, col("h"))).as("f3"),
          countDistinct(col("h")).as("n_shingles"))
        .orderBy("doc_id")
    }
  )
}
