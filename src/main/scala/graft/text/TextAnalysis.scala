package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.word_shingles

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, token counting, fingerprinting, language ID.
  *
  * Scale notes: every operator here is a narrow, codegen'd per-row
  * map over the documents scan — zero shuffles; at 100 TB these run
  * at scan speed. All array work uses Spark's higher-order functions
  * (transform/filter/aggregate), not Scala UDFs, so whole-stage
  * codegen stays intact.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
  private def stopwordSqlList: String = stopwords.map(w => s"'$w'").mkString(", ")

  /** Whitespace tokens. */
  def tokens(c: Column): Column = split(c, "\\s+")

  /** Quality features + composite score (t1): length, punctuation
    * ratio, stopword ratio, mean word length. The composite mirrors
    * common pretraining-data quality heuristics (length-normalized,
    * stopword-bearing text scores higher).
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // Raw counts come from ONE pass over the text (custom expression;
    // a split()+lambda pipeline would re-evaluate the text expression
    // per array element after project collapse — see SURVEY §6b).
    // Ratios are cheap scalar math on the struct fields.
    docs
      .withColumn("__ts", graft.functions.GraftFunctions.text_stats(col(textCol), stopwords))
      .withColumn("len_chars", col("__ts.len_chars"))
      .withColumn("n_tokens", col("__ts.n_tokens"))
      // guards: an empty/whitespace-only doc has len_chars/n_tokens 0,
      // and under ANSI mode (Spark 4 default) a bare division would
      // throw DIVIDE_BY_ZERO and kill the whole job on one bad doc.
      // Null ratios (DuckDB's own x/0 result) make quality_score null,
      // which every downstream >= gate treats as reject.
      .withColumn("punct_ratio",
        round(when(col("len_chars") > 0,
          col("__ts.punct_count").cast("double") / col("len_chars")), 6))
      .withColumn("stopword_ratio",
        round(when(col("n_tokens") > 0,
          col("__ts.stopword_count").cast("double") / col("n_tokens")), 6))
      .withColumn("mean_word_len",
        round(when(col("n_tokens") > 0,
          col("__ts.token_len_sum").cast("double") / col("n_tokens")), 6))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens") / lit(100.0)) * lit(0.5)
          + col("stopword_ratio") * lit(0.3)
          + (lit(1.0) - col("punct_ratio")) * lit(0.2), 6))
      .drop("__ts")
  }

  /** Token counting (t2): whitespace tokens plus a BPE-ish regex
    * segmentation (letter runs / single digits / single symbols) as a
    * cheap proxy for subword token counts.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("ws_tokens", size(tokens(t)).cast("long"))
      .withColumn("bpe_ish_tokens", regexp_count(t, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long"))
  }

  /** Document fingerprint (t3): order-insensitive content fingerprint
    * — md5 over the sorted distinct lowercase token set. Survives
    * token reordering; the cheap canonical form behind "fuzzy exact"
    * dedup.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint",
      md5(array_join(array_sort(array_distinct(tokens(lower(col(textCol))))), " ")))

  /** Language ID (t4): stopword-profile n-gram heuristic — scores the
    * text against small per-language marker-word profiles and picks
    * the argmax (with 'und' when nothing matches). Real LID models
    * plug in the same shape (per-row map → argmax).
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      struct(
        expr(s"size(filter(__lid_toks, x -> x IN ($list)))").as("hits"),
        lit(lang).as("lang"))
    }
    docs.withColumn("__lid_toks", toks)
      .withColumn("__best", sort_array(array(scored: _*), asc = false).getItem(0))
      .withColumn("lang_pred",
        when(col("__best.hits") > 0, col("__best.lang")).otherwise(lit("und")))
      .withColumn("lang_score", col("__best.hits"))
      .drop("__lid_toks", "__best")
  }

  // ---- Verified entry points ----

  def t1Quality(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.documents(spark, dir))
      .select("doc_id", "len_chars", "n_tokens", "punct_ratio",
        "stopword_ratio", "mean_word_len", "quality_score")
      .orderBy("doc_id")

  def t2Tokens(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.documents(spark, dir))
      .select("doc_id", "ws_tokens", "bpe_ish_tokens")
      .orderBy("doc_id")

  def t3Fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(Tables.documents(spark, dir))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  def t4LangId(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir))
      .select("doc_id", "lang_pred", "lang_score")
      .orderBy("doc_id")

  /** Corpus vocabulary: token → frequency, top-k — the
    * vocabulary-building / corpus-statistics pass. One explode + one
    * count shuffle; partial (map-side) aggregation makes the shuffle
    * carry distinct-tokens-per-partition, not token occurrences, so
    * the shape holds when the corpus is 100 TB and the vocab is
    * millions.
    */
  def topTokens(docs: DataFrame, k: Int = 100): DataFrame =
    docs
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  def t5TopTokens(spark: SparkSession, dir: String): DataFrame =
    topTokens(Tables.documents(spark, dir))

  /** t6: intra-document repetition signals — the Gopher-style
    * repetition filters a pretraining pipeline gates on (cf. the
    * published "repetitious text" heuristics: fraction of duplicated
    * n-grams, dominance of the single most frequent token). Entirely
    * narrow per-row compute:
    *  - `dup_3gram_frac` = 1 − distinct/total word-3-grams (distinct
    *    count from the one-pass [[graft.functions.WordShingles]]);
    *  - `top_token_count` via sort + linear run-length fold
    *    (O(n log n) per doc — never the O(n²) per-token recount).
    */
  def repetitionScore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"),
        size(word_shingles(lower(col("text")), 3)).as("distinct_grams"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_grams", greatest(lit(0), col("n_tokens") - 2))
      .withColumn("top_token_count", expr(
        """aggregate(sort_array(toks),
          |  named_struct('prev', cast(null as string), 'run', 0, 'best', 0),
          |  (s, t) -> named_struct(
          |    'prev', t,
          |    'run', IF(t <=> s.prev, s.run + 1, 1),
          |    'best', greatest(s.best, IF(t <=> s.prev, s.run + 1, 1))),
          |  s -> s.best)""".stripMargin))
      .select(
        col("doc_id"), col("n_tokens"),
        round(when(col("n_grams") > 0,
          (col("n_grams") - col("distinct_grams")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)), 6).as("dup_3gram_frac"),
        col("top_token_count"),
        round(col("top_token_count").cast("double") / col("n_tokens"), 6)
          .as("top_token_frac"))

  def t6Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionScore(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** t7: corpus-LM surprisal — per-doc mean −ln p(token) under the
    * corpus's own unigram distribution, the shape of the published
    * LM-based quality filters (score against a reference LM, gate on
    * perplexity). Two stages, both scale-clean:
    *  1. the unigram table is a map-side-combined token count — the
    *     same single shuffle as t5;
    *  2. scoring joins the exploded tokens back to the vocab on the
    *     token key (the vocab is corpus-distinct-tokens sized — let
    *     AQE broadcast it when it fits) and averages per doc.
    * The 1-row total rides a broadcast cross join, never a driver
    * collect.
    */
  def lmSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    // vocab is distinct-token bounded and feeds the total aggregate
    // AND the scoring join — both read its one token exchange (reused
    // within the plan), so the corpus is tokenized twice (vocab build
    // + scoring), not once more per vocab consumer
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    toks.join(vocab, "token")
      .crossJoin(broadcast(total))
      .withColumn("nll", -log(col("cnt").cast("double") / col("total")))
      .groupBy(col("doc_id"))
      .agg(round(avg(col("nll")), 4).as("avg_surprisal"),
        count(lit(1)).as("n_scored"))
  }

  def t7LmSurprisal(spark: SparkSession, dir: String): DataFrame =
    lmSurprisal(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Vocabulary-richness features: type count, type-token ratio, and
    * hapax-legomenon fraction — the lexical-diversity quality signals
    * (template/boilerplate text has low TTR; spam keyword-stuffing
    * has low hapax share).
    *
    * Zero-shuffle shape: the obvious spelling (explode tokens →
    * groupBy (doc, token) → groupBy doc) shuffles every token
    * occurrence twice; instead the per-doc counts fold over the
    * SORTED token array in one narrow pass — equal tokens are
    * adjacent after sort_array, so type/hapax counting is run-length
    * counting, O(n log n) per doc inside the scan stage (the same
    * per-doc-bounded argument as t6's repetition fold). Integer
    * outputs, so the oracle's group-by replay matches exactly
    * whatever the fold order.
    */
  def typeTokenStats(docs: DataFrame): DataFrame = {
    val toks = sort_array(filter(
      split(col("text"), "\\s+"), t => t =!= lit("")))
    // fold state: (prev token, current run length, types, hapax)
    val init = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("types"), lit(0L).as("hapax"))
    def step(st: Column, t: Column): Column = {
      val samePrev = st.getField("prev").isNotNull && st.getField("prev") === t
      struct(
        t.as("prev"),
        when(samePrev, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
        when(samePrev, st.getField("types")).otherwise(st.getField("types") + 1L).as("types"),
        // closing a run of length 1 mints a hapax
        when(!samePrev && st.getField("prev").isNotNull && st.getField("run") === 1L,
          st.getField("hapax") + 1L).otherwise(st.getField("hapax")).as("hapax"))
    }
    def finish(st: Column): Column = struct(
      st.getField("types").as("types"),
      when(st.getField("prev").isNotNull && st.getField("run") === 1L,
        st.getField("hapax") + 1L).otherwise(st.getField("hapax")).as("hapax"))
    docs
      .withColumn("__toks", toks)
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("__tt", aggregate(col("__toks"), init, step, finish))
      .withColumn("n_types", col("__tt").getField("types"))
      .withColumn("hapax", col("__tt").getField("hapax"))
      .withColumn("ttr",
        when(col("n_tokens") > 0L,
          round(col("n_types").cast("double") / col("n_tokens"), 6)))
      .withColumn("hapax_frac",
        when(col("n_types") > 0L,
          round(col("hapax").cast("double") / col("n_types"), 6)))
      .drop("__toks", "__tt")
  }

  def t8TypeToken(spark: SparkSession, dir: String): DataFrame =
    typeTokenStats(Tables.documents(spark, dir))
      .select("doc_id", "n_tokens", "n_types", "hapax", "ttr", "hapax_frac")
      .orderBy("doc_id")

  /** t10: unigram token entropy per document — the information-
    * density quality signal (templated/keyword-stuffed text has low
    * entropy for its length; natural prose sits near the corpus
    * band). Emits Shannon entropy H = ln n − (Σ c·ln c)/n over the
    * doc's token frequencies plus the length-normalized efficiency
    * H/ln(n) ∈ [0,1] (null when n ≤ 1).
    *
    * Same zero-shuffle shape as t8: Σ c·ln c folds over the SORTED
    * token array (equal tokens adjacent → run-length counting), so
    * the whole feature is a narrow per-row pass — never the
    * explode → two-shuffle frequency-table spelling. The fold's
    * float order is fixed (sorted runs), and the oracle's group-by
    * replay agrees to well past the 4dp round (≤ ~1e-12 relative
    * error on ≤100k-token docs).
    */
  def tokenEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = sort_array(filter(split(col(textCol), "\\s+"), t => t =!= lit("")))
    // fold state: (prev token, current run length, sum of c*ln(c))
    val init = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0.0).as("clnc"))
    def step(st: Column, t: Column): Column = {
      val samePrev = st.getField("prev").isNotNull && st.getField("prev") === t
      struct(
        t.as("prev"),
        when(samePrev, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
        // closing a run of length c contributes c*ln(c)
        when(!samePrev && st.getField("prev").isNotNull,
          st.getField("clnc") + st.getField("run").cast("double")
            * log(st.getField("run").cast("double")))
          .otherwise(st.getField("clnc")).as("clnc"))
    }
    def finish(st: Column): Column =
      when(st.getField("prev").isNotNull,
        st.getField("clnc") + st.getField("run").cast("double")
          * log(st.getField("run").cast("double")))
        .otherwise(st.getField("clnc"))
    docs
      .withColumn("__toks", toks)
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("__clnc", aggregate(col("__toks"), init, step, finish))
      .withColumn("entropy",
        when(col("n_tokens") > 0L,
          round(log(col("n_tokens").cast("double"))
            - col("__clnc") / col("n_tokens"), 4)))
      .withColumn("entropy_efficiency",
        when(col("n_tokens") > 1L,
          round((log(col("n_tokens").cast("double")) - col("__clnc") / col("n_tokens"))
            / log(col("n_tokens").cast("double")), 4)))
      .drop("__toks", "__clnc")
  }

  def t10TokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables.documents(spark, dir))
      .select("doc_id", "n_tokens", "entropy", "entropy_efficiency")
      .orderBy("doc_id")

  /** t9: rule-based document gating in the style of the published
    * Gopher/MassiveText quality rules — the hard structural filters a
    * pretraining pipeline applies BEFORE model-based scoring: word
    * count window, mean word length window, symbol-to-word ratio,
    * bullet-line and ellipsis-line ratios, alpha-word ratio, and
    * required-stopword presence. Emits every rule's measured value
    * plus the per-rule verdicts folded into one `keep` flag, so a
    * pipeline can both gate and audit WHY a document was dropped.
    *
    * Entirely narrow per-row compute (split + higher-order
    * functions, no UDFs) — runs at scan speed at any corpus size,
    * same contract as t1-t8.
    */
  val requiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
                  minStopwords: Int = 2): DataFrame = {
    val t = col(textCol)
    val stopList = requiredStopwords.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("__toks", filter(split(t, "\\s+"), x => x =!= lit("")))
      .withColumn("__lines", split(t, "\n"))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("mean_word_len",
        round(when(col("n_words") > 0,
          expr("aggregate(__toks, 0L, (acc, x) -> acc + length(x))").cast("double")
            / col("n_words")), 6))
      .withColumn("symbol_ratio",
        round(when(col("n_words") > 0,
          (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\.|…"))).cast("double")
            / col("n_words")), 6))
      .withColumn("bullet_ratio",
        round(expr("size(filter(__lines, l -> l rlike '^\\\\s*[-*•]'))").cast("double")
          / size(col("__lines")), 6))
      .withColumn("ellipsis_ratio",
        round(expr("size(filter(__lines, l -> l rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$'))").cast("double")
          / size(col("__lines")), 6))
      .withColumn("alpha_ratio",
        round(when(col("n_words") > 0,
          expr("size(filter(__toks, x -> x rlike '[A-Za-z]'))").cast("double")
            / col("n_words")), 6))
      .withColumn("n_req_stopwords",
        expr(s"size(array_intersect(transform(__toks, x -> lower(x)), array($stopList)))").cast("long"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        (col("symbol_ratio") <= maxSymbolRatio) &&
        (col("bullet_ratio") <= maxBulletRatio) &&
        (col("ellipsis_ratio") <= maxEllipsisRatio) &&
        (col("alpha_ratio") >= minAlphaRatio) &&
        (col("n_req_stopwords") >= minStopwords))
      .drop("__toks", "__lines")
  }

  def t9GopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir))
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_ratio", "ellipsis_ratio", "alpha_ratio",
        "n_req_stopwords", "keep")
      .orderBy("doc_id")

  /** Per-source distribution drift: KL(source ‖ corpus) over the
    * unigram token distribution — the mixture-monitoring signal of a
    * training-data pipeline (a source whose token distribution drifts
    * from the corpus mix flags a scraper change, an injected spam
    * campaign, or a mislabeled domain; the same statistic ranks
    * sources for mixture reweighting, DoReMi-style).
    *
    * Scale shape: ONE token-explode shuffle to (source, token) counts
    * — partial-aggregated map-side, so the wire carries per-partition
    * distinct (source, token) pairs, not token occurrences; corpus
    * marginals REUSE those counts (a second vocab-keyed agg over the
    * already-tiny count frame, never the raw tokens); per-source
    * totals are sources-bounded and broadcast; the 1-row grand total
    * rides a broadcast cross join (t7's pattern — no driver collect).
    * Every per-term double (p, q, ln) is computed identically by the
    * oracle; only the final sum's order differs, absorbed by round 4.
    */
  def sourceKlDivergence(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    // the count frame feeds FOUR consumers (the term join, ct, ns, n);
    // materialize it once so the token explode runs once, not per
    // branch (localCheckpoint: eager, lineage-free, blocks GC'd with
    // the frame — the in-library pattern for single-call reuse)
    val st = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val ct = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val n = ct.agg(sum(col("c_t")).as("n"))
    val p = col("c_st").cast("double") / col("n_s").cast("double")
    val q = col("c_t").cast("double") / col("n").cast("double")
    st.join(ct, "token")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      .withColumn("term", p * log(p / q))
      .groupBy(col("source"), col("n_s"))
      .agg(count(lit(1)).as("n_types"),
        round(sum(col("term")), 4).as("kl"))
      .withColumnRenamed("n_s", "n_tokens")
  }

  def t11SourceKl(spark: SparkSession, dir: String): DataFrame =
    sourceKlDivergence(Tables.documents(spark, dir))
      .select("source", "n_tokens", "n_types", "kl")
      .orderBy("source")

  /** Novelty scoring (t12): the fraction of a document's distinct
    * word-3-gram shingles that appear in NO earlier document (earlier
    * = smaller doc_id, the ingest order) — the "novel n-gram rate"
    * that ranks a crawl's marginal value and orders curriculum
    * sampling: a doc of recycled shingles scores ~0 even when no
    * single pair clears a dedup threshold (the diffuse-duplication
    * blind spot of d4/d2).
    *
    * Scale shape: one shingle pass (the d4 expression, already
    * distinct per doc), a map-side-combined min(doc_id) per shingle
    * (linear, no df cap needed — min is not a pair explosion), and
    * one posting-keyed equi-join back; both shuffles key on the
    * shingle, never on the corpus row. Shingle-less docs (<3 tokens)
    * keep a row with n_shingles = 0 and null novelty.
    */
  def noveltyScores(docs: DataFrame, n: Int = 3): DataFrame = {
    val posts = docs
      .select(col("doc_id"), explode(word_shingles(col("text"), n)).as("s"))
    val firstSeen = posts.groupBy(col("s")).agg(min(col("doc_id")).as("first_id"))
    val per = posts.join(firstSeen, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6).as("novelty"))
  }

  def t12Novelty(spark: SparkSession, dir: String): DataFrame =
    noveltyScores(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Zipf slope per source (t13): α from the OLS fit of ln(freq) on
    * ln(rank) over each source's top-`topV` tokens — the
    * rank-frequency exponent natural text holds near 1; spammy or
    * templated sources flatten (α ↓) and keyword-stuffed ones steepen.
    * With t10's per-doc entropy this is the corpus-level half of the
    * repetition-structure report.
    *
    * Scale shape: ONE map-side-combined token-explode shuffle to
    * (source, token) counts (t11's pass), the rank window over the
    * per-source COUNT frame (vocabulary-sized, never the corpus), a
    * top-V cut, and a per-source fold of the five regression sums.
    * The fit itself is closed-form — no iteration, no driver math.
    */
  def zipfAlpha(docs: DataFrame, topV: Int = 100): DataFrame = {
    val counts = docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("token"))
    val pts = counts
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= topV)
      .select(col("source"),
        log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        round(-(count(lit(1)) * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))) /
          (count(lit(1)) * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))), 4)
          .as("zipf_alpha"))
  }

  /** Verified entry (t13). Sort is oracle-determinism only. */
  /** Vocabulary coverage curve (t14): the share of total token mass
    * the top-k types hold, for a ladder of k — the
    * tokenizer-vocabulary planning stat ("how big must the vocab be
    * to cover 95% of the stream") and the compressibility companion
    * to t13's Zipf fit. One token-count shuffle (t5's pass) feeding
    * two bounded consumers off that one exchange (reused, not
    * persisted): a
    * TakeOrdered top-max(ks) cut (t5's orderBy+limit spelling — the
    * old global rank window serialized the whole vocabulary through
    * one single-partition WindowExec, VERDICT r12 item 2) and the
    * 1-row totals aggregate. The ladder then folds over the
    * ladder-bounded top frame as ONE sorted array (collect_list +
    * array_sort + per-k slice sums — ≤ max(ks) structs in a single
    * row, a constant independent of corpus AND vocabulary size), so
    * no rank window survives anywhere in the plan; still no join of
    * a ranked frame against the k list (a theta join would plan a
    * nested loop). Order ties (count DESC, token ASC), so every cut
    * is deterministic on both engines.
    */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    val counts = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val kmax = ks.max
    val top = counts.orderBy(col("n").desc, col("token")).limit(kmax)
    val sorted = top
      .agg(collect_list(struct(col("n"), col("token"))).as("__arr"))
      .select(array_sort(col("__arr"), (l, r) =>
        when(l.getField("n") > r.getField("n"), -1)
          .when(l.getField("n") < r.getField("n"), 1)
          .when(l.getField("token") < r.getField("token"), -1)
          .when(l.getField("token") > r.getField("token"), 1)
          .otherwise(0)).as("__arr"))
    // per-k prefix masses as slice sums over the one sorted array;
    // NULL (not 0) when the corpus is empty — the old conditional-sum
    // agg's law, which the degenerate rungs pin
    val masses = sorted.select(ks.map(k =>
      when(size(col("__arr")) === 0, lit(null).cast("long"))
        .otherwise(aggregate(slice(col("__arr"), 1, k), lit(0L),
          (acc, x) => acc + x.getField("n"))).as(s"m_$k")): _*)
    val totals = counts.agg(sum(col("n")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val stackExpr = s"stack(${ks.length}, " +
      ks.map(k => s"CAST($k AS BIGINT), m_$k").mkString(", ") + ") AS (k, topk_mass)"
    masses.crossJoin(totals) // 1 row × 1 row
      .selectExpr(stackExpr, "total_tokens", "vocab_size")
      .select(col("k"),
        least(col("k"), col("vocab_size")).as("n_types"),
        col("topk_mass"), col("total_tokens"),
        round(col("topk_mass").cast("double") / col("total_tokens"), 6).as("coverage"))
  }

  /** Verified entry (t14). Sort is oracle-determinism only. */
  def t14VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir)).orderBy(col("k"))

  /** Language confusion matrix (t15): t4's predicted language
    * against the DECLARED lang column — the label-noise audit run
    * before trusting `lang` for stratified sampling (x5), per-lang
    * budgets (x9) or lang-keyed dedup blocking. Off-diagonal mass =
    * either classifier blind spots (zh has no profile → 'und' row)
    * or genuinely mislabeled upstream data; `declared_share`
    * normalizes per declared language so a small language's noise
    * isn't drowned by the big ones. One narrow t4 map, one tiny
    * (declared, predicted) agg, share via a window over the
    * ≤(langs²)-row confusion frame.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("declared"))
    langId(docs)
      .select(col("lang").as("declared"), col("lang_pred"))
      .groupBy(col("declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("declared_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6))
  }

  /** Verified entry (t15). Sort is oracle-determinism only. */
  def t15LangConfusion(spark: SparkSession, dir: String): DataFrame =
    langConfusion(Tables.documents(spark, dir))
      .orderBy(col("declared"), col("lang_pred"))

  def t13ZipfAlpha(spark: SparkSession, dir: String): DataFrame =
    zipfAlpha(Tables.documents(spark, dir)).orderBy(col("source"))

  /** t16: bigram-LM perplexity (the CCNet/KenLM-style quality
    * filter, on a corpus-trained LM instead of a pretrained one):
    * each doc scored by a bigram model with stupid-backoff — the
    * canonical "does this read like the corpus" gate used to bucket
    * pretraining data into head/middle/tail.
    *
    * Model law (engine-portable, fully replayable):
    *  - LM = the top-`lmSize` bigrams by (count DESC, w1, w2) with
    *    conditional prob p(w2|w1) = c12/c1 (exact-count division);
    *  - a bigram occurrence outside the LM backs off to
    *    0.4 · (c(w2)+1)/(T+V) (stupid backoff, add-1 unigram);
    *  - each doc's FIRST token scores (c(w)+1)/(T+V);
    *  - ppl = exp(avg nll), exp taken of the ROUNDED avg so both
    *    engines exponentiate the same double.
    *
    * Scale shape: token/bigram streams are narrow array transforms
    * (no posexplode self-joins); counts are two map-side-combined
    * shuffles (vocab- and bigram-cardinality, not corpus). The LM
    * cut is a top-M over the bigram-count frame — bounded by
    * lmSize; at extreme vocab the x10 banded two-phase rank
    * replaces the single-partition window (doc'd, same law). The
    * trained LM is lmSize rows → BROADCAST into the scoring pass
    * (the CCNet shape: model ships to the data); the one scoring
    * shuffle is the occurrences⋈vocab join on the word key that the
    * unigram backoff needs (t7's join), and the per-doc agg. The
    * corpus text is scanned exactly twice (count pass + score pass).
    */
  /** The unified scoring stream: the doc's first token as a
    * (w1 = null, w2) row plus every real bigram, from ONE explode —
    * the corpus is tokenized once per pass, and every token
    * occurrence appears EXACTLY once as w2 (t0 from the first-row,
    * t1..tn from the bigrams), which is what lets the unigram vocab
    * derive from [[bigramCounts]] instead of its own corpus scan.
    */
  private def occurrenceStream(docs: DataFrame): DataFrame = {
    val toksCol = filter(split(lower(col("text")), "\\s+"), t => t =!= lit(""))
    val based = docs.select(col("doc_id"), toksCol.as("__toks"))
    // sequence(0, -1) would DESCEND; guard short docs to empty
    val biList = when(size(col("__toks")) >= 2,
      expr("transform(sequence(0, size(__toks)-2), i -> struct(__toks[i] AS w1, __toks[i+1] AS w2))"))
      .otherwise(expr("array()").cast("array<struct<w1:string,w2:string>>"))
    val occList = when(size(col("__toks")) >= 1,
      concat(array(struct(lit(null).cast("string").as("w1"),
        col("__toks").getItem(0).as("w2"))), biList))
      .otherwise(expr("array()").cast("array<struct<w1:string,w2:string>>"))
    based
      .select(col("doc_id"), explode(occList).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  /** The (w1, w2, c12) model frame every bounded piece of the bigram
    * LM derives from; its one (w1, w2) exchange is computed once and
    * reused by every piece within the plan. Its SIZE is the corpus's distinct
    * (prefix, token) diversity — duplication-invariant (copies only
    * raise c12), never corpus positions; spec-pinned on a duplicated
    * fixture.
    */
  private[graft] def bigramCounts(docs: DataFrame): DataFrame =
    occurrenceStream(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))

  def bigramPerplexity(docs: DataFrame, lmSize: Int = 2000): DataFrame = {
    def occurrences = occurrenceStream(docs)
    // the ONLY shared model frame is bounded by distinct-bigram (plus
    // first-token) cardinality, never corpus positions — the round-11
    // rewrite: the old spelling re-scanned the corpus for the vocab
    // build, the bigram counts, AND the firsts union (10 parquet
    // scans in the final adaptive plan); everything model-sized now
    // derives from this one frame and the corpus is scanned exactly
    // twice (count pass + score pass), as the contract above states
    val counts = bigramCounts(docs)
    val vocab = counts.groupBy(col("w2")).agg(sum(col("c12")).as("c"))
      .select(col("w2").as("token"), col("c"))
    val totals = vocab.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    // the lmSize cut is a TakeOrdered (orderBy + limit — t5's
    // spelling), never a global rank window: a row_number over the
    // unpartitioned model frame plans a single-partition WindowExec
    // that serializes the whole distinct-bigram frame through one
    // task (VERDICT r12 item 2); TakeOrderedAndProject keeps the
    // top-lmSize selection map-side-partial and merge-bounded
    // no explicit w1 filter: the inner join drops the null-w1 first
    // tokens (vocab tokens are never null), and a filter on the
    // grouping key would be pushed below the counts aggregate, giving
    // this branch its own exchange and a third corpus scan
    val lm = counts
      .join(vocab.select(col("token").as("w1"), col("c").as("c1")), Seq("w1"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(lmSize)
      .select(col("w1"), col("w2"), (col("c12").cast("double") / col("c1")).as("p12"))

    occurrences
      .join(vocab.select(col("token").as("w2"), col("c").as("c2")), Seq("w2"))
      .join(broadcast(lm), Seq("w1", "w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__p",
        when(col("p12").isNotNull, col("p12"))
          .otherwise(
            (when(col("w1").isNull, lit(1.0)).otherwise(lit(0.4))) *
              (col("c2").cast("double") + 1.0) /
              (col("t").cast("double") + col("v").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        round(avg(-log(col("__p"))), 4).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 4))
  }

  /** Verified entry (t16). Sort is oracle-determinism only. */
  def t16BigramPpl(spark: SparkSession, dir: String): DataFrame =
    bigramPerplexity(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Readability scores (t17): Flesch reading ease + Flesch-Kincaid
    * grade per document — the audience-level quality signal used to
    * stratify pretraining mixes (children's text vs academic prose)
    * and to gate instruction-data difficulty. Syllables use the
    * standard cheap proxy — vowel-run count per word ([aeiouy]+
    * groups over the lowercased text) — which is what production
    * corpus pipelines ship (exact syllabification needs a dictionary;
    * the proxy is monotone with it and fully engine-replayable).
    * Sentences = [.!?]+ runs, floored at 1 so a fragment still
    * scores. Both formulas are fixed per-row double expressions
    * (two divisions, one round) — no aggregation, so no fp-order
    * drift between engines.
    *
    * Scale shape: pure narrow map, zero shuffles — three regexp
    * counts per row, all inside whole-stage codegen.
    */
  def readability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_words", size(tokens(t)).cast("long"))
      .withColumn("n_sentences",
        greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long"))
      .withColumn("n_syllables",
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
      .withColumn("fk_grade",
        round(lit(0.39) * (col("n_words").cast("double") / col("n_sentences"))
          + lit(11.8) * (col("n_syllables").cast("double") / col("n_words"))
          - lit(15.59), 4))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch"), col("fk_grade"))
  }

  /** Verified entry (t17). Sort is oracle-determinism only. */
  def t17Readability(spark: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Perplexity partition (t19): the CCNet head/middle/tail split —
    * every doc bucketed by its t16 bigram-LM perplexity against the
    * corpus tercile thresholds, reported per bucket (docs, scored
    * events, min/max/mean ppl). The canonical LM-quality mixing
    * knob: head trains, middle is kept at reduced weight, tail is
    * dropped or audited.
    *
    * Scale shape: the tercile CUT POINTS come from a 1-row
    * percentile aggregate that broadcasts back — never an
    * ntile/global rank of the corpus-sized ppl frame (the
    * threshold-vs-rank trade: identical buckets, no corpus sort;
    * x10's banded rank would be the spelling if exact per-doc ranks
    * were the product). Bucket compares use the 4dp-rounded ppl
    * against the interpolated threshold (a8's parity law), and the
    * per-bucket mean folds as exact 1e-4 integer units (d18's law)
    * so no summation-order drift can move a reported mean.
    */
  def pplPartition(docs: DataFrame, lmSize: Int = 2000): DataFrame = {
    // the scored frame feeds BOTH the tercile aggregate and the
    // bucketing join below, and the LM build behind it (two explodes,
    // a global top-lmSize cut, three joins) is the entry's whole
    // cost; the two branches plan the same exchanges, which Spark
    // computes once and reuses, so the build runs once per call
    val ppl = bigramPerplexity(docs, lmSize)
      .select(col("doc_id"), col("n_scored"), col("ppl"))
    val th = ppl.agg(percentile(col("ppl"), lit(1.0 / 3)).as("__q33"),
      percentile(col("ppl"), lit(2.0 / 3)).as("__q67"))
    ppl.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("ppl") <= col("__q33"), "head")
          .when(col("ppl") <= col("__q67"), "middle")
          .otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_scored")).as("n_scored_total"),
        round(min(col("ppl")), 4).as("min_ppl"),
        round(max(col("ppl")), 4).as("max_ppl"),
        round(sum(round(col("ppl") * 10000.0, 0).cast("long")).cast("double")
          / 10000.0 / count(lit(1)), 4).as("mean_ppl"))
  }

  /** Verified entry (t19). Sort is oracle-determinism only. */
  def t19PplPartition(spark: SparkSession, dir: String): DataFrame =
    pplPartition(Tables.documents(spark, dir)).orderBy(col("bucket"))

  /** Blocklist/safety gate (t20): per-doc blocklist hits — total
    * occurrences, distinct terms hit, token-normalized hit rate, and
    * the keep verdict — the C4/WebText-style badwords filter every
    * public-corpus pipeline runs (this demo list uses corpus
    * vocabulary; a deployment swaps in its curated list, the plan
    * does not change). Rate-normalized rather than any-hit: a single
    * incidental term in a long document survives, a saturated one
    * doesn't — and the verdict's inputs ship alongside it (t9's
    * auditable-gate pattern). Empty docs have no evidence and keep.
    *
    * Scale shape: ONE TermFrequencies walk per row (s6's expression
    * — O(tokens), not O(tokens × terms)), pure narrow map, zero
    * shuffles; the threshold compares the ROUNDED rate.
    */
  def blocklistGate(docs: DataFrame,
                    terms: Seq[String] = Seq("drop", "slow", "filter", "merge"),
                    maxHitRate: Double = 0.02,
                    textCol: String = "text"): DataFrame = {
    docs
      .withColumn("__tf",
        graft.functions.GraftFunctions.term_frequencies(lower(col(textCol)), terms))
      .select(col("doc_id"),
        col("__tf.dl").as("n_tokens"),
        aggregate(col("__tf.tfs"), lit(0L), _ + _).as("n_hits"),
        size(filter(col("__tf.tfs"), c => c > 0)).cast("long").as("n_terms_hit"))
      .withColumn("hit_rate", round(when(col("n_tokens") > 0,
        col("n_hits").cast("double") / col("n_tokens")), 6))
      .withColumn("keep", coalesce(col("hit_rate") <= maxHitRate, lit(true)))
  }

  /** Verified entry (t20). Sort is oracle-determinism only. */
  def t20BlocklistGate(spark: SparkSession, dir: String): DataFrame =
    blocklistGate(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Code-likeness gate (t18): structural indicators that separate
    * source code / markup from prose — code-fence and symbol density
    * ([{};()=<>] per char), indented-line ratio, camelCase boundary
    * rate — with per-rule measured values AND the folded verdict
    * (t9's auditable-gate pattern). Pretraining mixes weight code
    * and prose differently; this is the router. Thresholds compare
    * ROUNDED ratios (round-before-compare, t9's law) so the verdict
    * can never split between engines on fp dust.
    *
    * Scale shape: pure narrow map — three regexp counts and a line
    * count per row, zero shuffles, all inside codegen.
    */
  def codeDetect(docs: DataFrame, textCol: String = "text",
                 symbolThresh: Double = 0.03,
                 indentThresh: Double = 0.2): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("len_chars", length(t).cast("long"))
      .withColumn("n_lines", (regexp_count(t, lit("\n")) + 1).cast("long"))
      .withColumn("symbol_ratio",
        round(when(col("len_chars") > 0,
          regexp_count(t, lit("[{};()=<>\\[\\]]")).cast("double") / col("len_chars")), 6))
      .withColumn("indent_ratio",
        round(regexp_count(t, lit("(?m)^(  |\t)")).cast("double") / col("n_lines"), 6))
      .withColumn("camel_rate",
        round(when(col("len_chars") > 0,
          regexp_count(t, lit("[a-z][A-Z]")).cast("double") / col("len_chars")), 6))
      .withColumn("is_code",
        coalesce(col("symbol_ratio") > symbolThresh, lit(false)) ||
          col("indent_ratio") > indentThresh)
      .select(col("doc_id"), col("n_lines"), col("symbol_ratio"),
        col("indent_ratio"), col("camel_rate"), col("is_code"))
  }

  /** Verified entry (t18). Sort is oracle-determinism only. */
  def t18CodeDetect(spark: SparkSession, dir: String): DataFrame =
    codeDetect(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Hashed-feature linear quality classifier (t21): the fastText /
    * hashing-trick scoring shape every production quality filter runs
    * — token → hash bucket → weight lookup → mean → sigmoid — with a
    * DETERMINISTIC weight table (weight_milli(b) = (b·2654435761 mod
    * 2003) − 1001 ∈ [−1001, 1001]) standing in for trained weights: a
    * real model swaps the weight formula for a broadcast array and
    * NOTHING else changes. Bucketing uses the d3 token-hash law
    * (FNV-1a 64 over UTF-16 units, splitmix64-finalized twice via
    * ShingleHashes n=1), mask-mod into a power-of-two bucket space, so
    * the whole feature step is one array expression per row.
    *
    * Exactness: score_milli accumulates EXACT integer milli-weights
    * (no per-token FP), and the logit is rounded to µ-units IN
    * INTEGER ARITHMETIC (half-away: (2·|s|·1000 + n) div 2n, signed)
    * — rounding a double score/(1000n) instead lands exactly on
    * half-way grid points (e.g. −10067/80000 = −0.1258375) where
    * engines' FP tie-breaks legitimately disagree. The only FP ops
    * are the exact µ→double scaling, one exp, one final round (t16's
    * engine-portability idiom). Scale shape: entirely narrow — no
    * shuffle, no weight join (the table is a formula; a trained table
    * ≤ a few MB broadcasts). Token-less docs (all-whitespace) are
    * dropped — the Spark side filters on the token array itself, the
    * oracle spells the equivalent `regexp_matches(text, '\S')` (NOT
    * trim(): SQL trim strips only spaces, so a tab-padded doc passes
    * trim yet tokenizes to nothing).
    */
  def hashedQualityClassifier(docs: DataFrame, buckets: Int = 1024,
                              textCol: String = "text"): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets=$buckets must be a power of two (unsigned mod = mask)")
    val mask = (buckets - 1).toLong
    docs
      .withColumn("__hs",
        graft.functions.GraftFunctions.shingle_hashes(col(textCol), 1, distinct = false))
      .filter(size(col("__hs")) > 0)
      .withColumn("n_tokens", size(col("__hs")).cast("long"))
      .withColumn("score_milli", aggregate(col("__hs"), lit(0L),
        (acc, h) => acc +
          (h.bitwiseAND(lit(mask)) * lit(2654435761L)) % lit(2003L) - lit(1001L)))
      .withColumn("__absq",
        expr("(abs(score_milli) * 2000 + n_tokens) div (2 * n_tokens)"))
      .withColumn("logit_micro",
        when(col("score_milli") < 0, -col("__absq")).otherwise(col("__absq")))
      .withColumn("prob", round(lit(1.0) /
        (lit(1.0) + exp(-col("logit_micro").cast("double") / 1000000.0)), 6))
      .withColumn("label", when(col("prob") >= 0.5, lit("keep")).otherwise(lit("drop")))
      .select(col("doc_id"), col("n_tokens"), col("score_milli"),
        col("logit_micro"), col("prob"), col("label"))
  }

  /** Verified entry (t21). Sort is oracle-determinism only. */
  def t21QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    hashedQualityClassifier(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** t22: per-document TF-IDF keywords — the labeling/topic-surrogate
    * pass a curation pipeline runs to route documents (dedup anchors,
    * cluster names, mixture diagnostics) without a model: top-k
    * tokens per doc by tf·ln(N/df). Scoring rides the classic
    * natural-log idf (a token in every doc scores exactly 0 — it can
    * only surface when a doc has fewer than k scored tokens);
    * ranking happens on the 4dp-ROUNDED score with a
    * token-asc tiebreak, so the cross-engine contract is t10/t11's —
    * agreement at 4dp, never a raw-double ordering race.
    *
    * Scale shape: ONE corpus tokenize into the (doc, token) tf agg
    * (map-combined — the shuffle carries distinct (doc, token) pairs,
    * not occurrences); df is a token-partitioned count window over
    * that tf frame (a separate df aggregate joined back would prune
    * the tf aggregate to its keys and tokenize the corpus a second
    * time). N rides a 1-row broadcast (t7's corpus-stat pattern);
    * top-k is a doc-keyed row_number window bounded by each doc's own
    * distinct-token count. The corpus is tokenized once, shuffled on
    * keys only, and nothing is persisted.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("__n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("__n_docs").cast("double") / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("token"),
        col("tf"), col("df"), col("score"))
  }

  /** Verified entry (t22). Sort is oracle-determinism only. */
  def t22Keywords(spark: SparkSession, dir: String): DataFrame =
    tfidfKeywords(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("rank"))
}
