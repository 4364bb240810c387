package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Hashing._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All operators are narrow (per-row, no shuffle): a 100 TB corpus is
  * processed one input split at a time with zero data movement, and the
  * expressions are plain Catalyst built-ins so column pruning reaches the
  * scan (only `idCol` and `textCol` are read).
  */
object TextAnalysis {

  /** Stopword marker sets per language (tiny on purpose: these are
    * discriminative function words, not full stopword lists). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  private def stopScore(tk: Column, words: Seq[String]): Column =
    size(filter(tk, t => t.isin(words: _*))).cast("long")

  /** N-gram-free heuristic language ID: count language-marker stopword
    * hits per language, argmax with a fixed tie-break order (de, en, es,
    * fr), 'und' when nothing matches. */
  def languageId(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    val scored = docs.select(
      col(idCol) +: stopwords.map { case (l, ws) => stopScore(tk, ws).as(s"s_$l") }: _*)
    val m = greatest(stopwords.map(l => col(s"s_${l._1}")): _*)
    scored.withColumn("pred_lang",
      // m.isNull (null text): every branch below would be NULL-skipped
      // and the row would fall through to "fr" — unknown, not French
      when(m.isNull || m === 0, "und")
        .when(col("s_de") === m, "de")
        .when(col("s_en") === m, "en")
        .when(col("s_es") === m, "es")
        .otherwise("fr"))
  }

  /** Quality scoring: document length, word count, punctuation ratio,
    * stopword ratio, mean word length, and a bounded composite score. */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(tk).cast("long").as("n_words"),
      length(regexp_replace(col(textCol), "[^.,;:!?]", "")).cast("long").as("n_punct"),
      stopScore(tk, stopwords.head._2).as("n_stop"),
      aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x)
        .cast("long").as("sum_tok"))
      .select(
        col(idCol), col("n_chars"), col("n_words"),
        Exact.round(col("n_punct") / col("n_chars").cast("double"), 6).as("punct_ratio"),
        Exact.round(col("n_stop") / col("n_words").cast("double"), 6).as("stop_ratio"),
        Exact.round(col("sum_tok") / col("n_words").cast("double"), 6).as("mean_word_len"),
        Exact.round(
          lit(0.4) * least(col("n_words") / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("n_punct") / col("n_chars").cast("double")) +
          lit(0.3) * least(lit(5.0) * col("n_stop") / col("n_words").cast("double"), lit(1.0)),
          6).as("quality"))
  }

  /** Token counting: whitespace tokens and BPE-ish regex tokens (letter
    * runs, digit runs, single punctuation marks). */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      size(tokens(col(textCol))).cast("long").as("ws_tokens"),
      regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
        .cast("long").as("re_tokens"),
      Exact.round(length(col(textCol)) / size(tokens(col(textCol))).cast("double"), 6)
        .as("chars_per_token"))

  /** Repetition signals (Gopher-style quality rules): fraction of
    * distinct tokens, most-frequent-token share, and duplicate-bigram
    * fraction. High repetition flags boilerplate / degenerate text for
    * training-data filtering.
    *
    * Implemented as explode → two-level aggregation (per-(doc,gram)
    * counts, then per-doc stats): both levels get map-side partial
    * aggregation and stay in whole-stage codegen, so the shape scales to
    * arbitrarily long documents — unlike a per-row nested
    * higher-order-function formulation, whose O(distinct·n) interpreted
    * lambda would dominate on long docs (see SURVEY §4 on HOF hot loops).
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // tokenize into an attribute FIRST (one regex split per doc), and
    // keep the bigram path HOF-free: explode the POSITIONS, then pair
    // tokens in a plain codegen projection. A transform() lambda here is
    // CodegenFallback and measured 30× slower at sf0.1 (SURVEY §4).
    val tk = col("tk")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("tk"))
    val uni = base.select(col(idCol), explode(tk).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").as("n_words"), count(lit(1)).as("n_distinct"), max("c").as("top_c"))
    val big = base
      .select(col(idCol), tk,
        explode(when(size(tk) >= 2, sequence(lit(1), size(tk) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col(idCol),
        concat_ws(" ", element_at(tk, col("i")),
          element_at(tk, col("i") + 1)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").as("n_bigrams"), count(lit(1)).as("n_distinct_bg"))
    // LEFT join: a one-token doc has no bigram group at all — an inner
    // join would drop the doc and its unigram signals with it; its
    // duplicate-bigram fraction is 0 by convention (no bigrams to dup)
    uni.join(big, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_words").cast("long").as("n_words"),
        Exact.round(col("n_distinct") / col("n_words").cast("double"), 6).as("distinct_frac"),
        Exact.round(col("top_c") / col("n_words").cast("double"), 6).as("top_token_frac"),
        coalesce(
          Exact.round(lit(1.0) - col("n_distinct_bg") / col("n_bigrams").cast("double"), 6),
          lit(0.0)).as("dup_bigram_frac"))
  }

  /** Benchmark-contamination check: for every corpus document, the
    * fraction of its distinct 3-word shingles that also appear in a
    * benchmark document set (here a deterministic hash-selected subset —
    * in production the eval benchmarks themselves). Standard
    * decontamination gate before training.
    *
    * The benchmark gram set is broadcast (benchmarks are tiny relative
    * to a 100 TB corpus); the corpus side streams through a broadcast
    * left join + per-doc aggregate — no corpus-sized shuffle.
    */
  def contamination(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", benchMod: Int = 10): DataFrame = {
    val withG = docs.select(
      col(idCol), shingles3(tokens(col(textCol))).as("s"),
      (hash60(concat(lit("bench:"), col(idCol).cast("string"))) % benchMod === 0)
        .as("is_bench"))
    val benchGrams = withG.filter(col("is_bench"))
      .select(explode(col("s")).as("g")).distinct()
      .withColumn("hit", lit(1L))
    withG.filter(!col("is_bench"))
      .select(col(idCol), explode(col("s")).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).cast("long").as("n_grams"),
        coalesce(sum("hit"), lit(0L)).cast("long").as("n_hits"))
      .withColumn("contamination",
        Exact.round(col("n_hits") / col("n_grams").cast("double"), 6))
  }

  /** Top-k characteristic terms per document by TF-IDF, with a RATIONAL
    * idf (tf·N/df instead of tf·log(N/df)): scoring is pure integer
    * arithmetic plus one IEEE division, so ranks are reproducible across
    * engines and hardware — `log` is not correctly-rounded in either
    * engine and can flip near-tie ranks. Monotone in the same variables,
    * so the per-doc ORDER is log-TF-IDF's whenever no exact rational tie
    * says otherwise.
    *
    * Two aggregations (both map-side combined: (doc,term) then term) and
    * one broadcast of the corpus size; the per-doc top-k window sorts
    * only each doc's own vocabulary.
    */
  def topTerms(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("score"))
  }

  /** Unigram-surprisal quality signal — the engine-portable stand-in
    * for a unigram-LM perplexity score: each token instance gets an
    * INTEGER surprisal bucket floor(log₂(N/tf)) (corpus token count N
    * over the token's corpus frequency tf — rare tokens land in high
    * buckets), computed exactly as `length(bin(N div tf)) - 1` so no
    * `log`/`pow` call (neither is correctly-rounded, and a float SUM
    * over shuffled rows is fold-order-dependent anyway) ever enters the
    * aggregate; the only float op is one rounded division for the
    * per-doc mean. High mean = rare-token-dense text (jargon, noise,
    * other-language); low mean = common-word text — both tails are
    * curation signals.
    *
    * Scale shape: per-(doc,term) counts first (map-side combined), so
    * the tf join moves distinct pairs, not token instances; the corpus
    * frequency table is vocabulary-sized. The join key is the term —
    * stopwords make it skew-heavy at corpus scale, which is exactly the
    * shape AQE skew-join splits (see the PlanAudit skew spec). */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = docs.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    val tf = pairs.groupBy("t").agg(sum(col("c")).as("tf"))
    val n = tf.agg(sum(col("tf")).as("n_total"))
    pairs.join(tf, "t").crossJoin(broadcast(n))
      .withColumn("bucket",
        (length(bin(expr("n_total div tf"))) - 1).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        sum(col("bucket") * col("c")).cast("long").as("sum_surprisal"),
        max(col("bucket")).as("max_surprisal"))
      .withColumn("mean_surprisal",
        Exact.round(col("sum_surprisal") / col("n_tokens").cast("double"), 6))
  }

  /** Bigram conditional surprisal (the LM-quality step above
    * [[unigramSurprisal]]): per token-pair surprisal of `t` given its
    * predecessor under add-one smoothing, P(t|prev) = (bf+1)/(cf+V),
    * folded per doc. A doc of individually-common words in improbable
    * ORDER (shuffled/garbled text, n-gram spam) scores high where the
    * unigram signal sees nothing wrong.
    *
    * Determinism discipline as the unigram op: surprisal is the integer
    * log₂ bucket `len(bin((cf+V) div (bf+1))) − 1` — every aggregate
    * folds integers, the one float op is the rounded per-doc mean.
    *
    * Scale shape: bigram extraction is a narrow native map (one
    * [[graft.functions.Bigrams2]] call per row); per-(doc, bigram)
    * counts map-side combine before the join, so the frequency join
    * moves distinct pairs, not token instances; the bigram table is
    * bigram-vocabulary-sized, its context table folds off it (never
    * re-scanning the corpus), and V rides a 1-row broadcast. Stopword
    * contexts skew the join key exactly like the unigram tf join — the
    * AQE skew-join shape. */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.functions.Hashing.bigrams2
    val tok = docs.select(col(idCol), tokens(col(textCol)).as("tk"))
    val pairs = tok
      .select(col(idCol), explode(bigrams2(col("tk"))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
    val bf = pairs.groupBy("bg").agg(sum(col("c")).as("bf"))
    val cf = bf.groupBy(substring_index(col("bg"), " ", 1).as("ctx"))
      .agg(sum(col("bf")).as("cf"))
    val v = tok.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    pairs.join(bf, "bg")
      .join(cf, substring_index(col("bg"), " ", 1) === col("ctx"))
      .crossJoin(broadcast(v))
      .withColumn("bucket",
        (length(bin(expr("(cf + v) div (bf + 1)"))) - 1).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("long").as("n_bigrams"),
        sum(col("bucket") * col("c")).cast("long").as("sum_surprisal"),
        max(col("bucket")).as("max_surprisal"))
      .withColumn("mean_surprisal",
        Exact.round(col("sum_surprisal") / col("n_bigrams").cast("double"), 6))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995,
    * the standard n-gram LM smoothing; the estimation rung above
    * [[bigramSurprisal]]'s add-one): for every bigram (v, w) with
    * count ≥ minCount,
    *
    *   P(w|v) = max(c(vw) − d, 0)/c(v) + d·N₁₊(v·)/c(v) · N₁₊(·w)/N₁₊(··)
    *
    * with the classic discount d = 3/4 — chosen RATIONAL so the whole
    * probability is one exact integer fraction: over the common
    * denominator 4·c(v)·N₁₊(··),
    *
    *   num = (4·c(vw) − 3)·N₁₊(··) + 3·N₁₊(v·)·N₁₊(·w),  den = 4·c(v)·N₁₊(··)
    *
    * (max-clause folded in: c ≥ 1 ⇒ 4c − 3 ≥ 1 > 0). Both published
    * exact, plus their ONE IEEE division rounded at the edge — the
    * project-wide no-log rule again: the continuation weighting is
    * what KN is FOR (a word seen in many contexts gets mass a merely
    * frequent-after-one-context word doesn't — the spec plants the
    * "San Francisco" trap where raw MLE and KN disagree about the
    * backoff), and none of it needs a logarithm.
    *
    * Scale: one map-side-combined bigram count; c(v), N₁₊(v·) fold off
    * it grouped by context and N₁₊(·w) grouped by continuation (never
    * re-scanning the corpus); N₁₊(··) rides a 1-row broadcast; two
    * hash joins back onto the bigram table (AQE handles stopword-
    * context skew). The exact num/den columns are gate receipts — at
    * corpora where 4·c(v)·N₁₊(··) would exceed 64 bits, a caller keeps
    * `p_kn` (whose double evaluation never overflows) and drops the
    * integer pair. */
  def knBigram(docs: DataFrame, minCount: Long = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.Hashing.bigrams2
    val bg = docs
      .select(explode(bigrams2(tokens(col(textCol)))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_vw"))
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .withColumn("w", substring_index(col("bg"), " ", -1))
    val ctx = bg.groupBy("v")
      .agg(sum(col("c_vw")).as("c_v"), count(lit(1)).as("n1p_v"))
    val cont = bg.groupBy("w").agg(count(lit(1)).as("n1p_w"))
    val tot = bg.agg(count(lit(1)).as("n1p_all"))
    bg.filter(col("c_vw") >= minCount)
      .join(ctx, "v").join(cont, "w")
      .crossJoin(broadcast(tot))
      .select(col("v"), col("w"),
        col("c_vw").cast("long").as("c_vw"),
        col("c_v").cast("long").as("c_v"),
        col("n1p_v").cast("long").as("n1p_v"),
        col("n1p_w").cast("long").as("n1p_w"),
        col("n1p_all").cast("long").as("n1p_all"),
        ((lit(4L) * col("c_vw") - 3L) * col("n1p_all") +
          lit(3L) * col("n1p_v") * col("n1p_w")).cast("long").as("p_num"),
        (lit(4L) * col("c_v") * col("n1p_all")).cast("long").as("p_den"))
      // p_kn evaluates in DOUBLE space (counts enter as doubles, the
      // same left-associated expression both engines) so it stays
      // correct where the integer receipts would overflow
      .withColumn("p_kn", Exact.round(
        ((lit(4.0) * col("c_vw") - 3.0) * col("n1p_all") +
          lit(3.0) * col("n1p_v") * col("n1p_w")) /
          (lit(4.0) * col("c_v") * col("n1p_all")), 6))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer of a corpus search / RAG-retrieval lane.
    *
    * Engine-portable by construction: the idf is the RATIONAL
    * (N − df + 0.5)/(df + 0.5) (Robertson's idf without the log — log
    * is not correctly-rounded in either engine; the rational form is
    * monotone in the same variable, so ranking order is preserved), and
    * the per-doc score folds the per-term contributions in WRITTEN
    * order over fixed pivoted columns — never a float SUM over shuffled
    * rows. The whole scorer is one narrow pass over the corpus plus a
    * 1-row broadcast of (N, Σdl, df₀..dfₖ): per-term tf comes from a
    * codegen'd array filter on the token array, so no explode, no
    * (doc,term) shuffle — the 100 TB shape is scan + broadcast.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "fixed small query-term set")
    val tk = tokens(col(textCol))
    val base = docs.select(
      col(idCol) +: size(tk).cast("long").as("dl") +:
        terms.indices.map(i =>
          size(filter(tk, t => t === lit(terms(i)))).cast("long").as(s"tf$i")): _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    def term(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val idf = (col("n_docs") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5))
      idf * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("sum_dl") / col("n_docs").cast("double"))))
    }
    base.crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"),
        Exact.round(terms.indices.map(term).reduce(_ + _), 6).as("bm25"))
  }

  /** Inverted index build: term → document frequency + the first
    * `maxPostings` doc ids (by id order) as a canonical comma-joined
    * postings string. The per-term posting cap is applied BEFORE the
    * aggregation buffer (row_number over the term partition), so no
    * executor ever holds an unbounded postings list — a stopword's
    * group at corpus scale costs a window over its partition, not an
    * OOM; df still counts the full group. */
  def invertedIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxPostings: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("term"))
    val rn = row_number().over(Window.partitionBy("term").orderBy(col(idCol)))
    pairs.withColumn("__rn", rn)
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"),
        concat_ws(",", sort_array(collect_list(
          when(col("__rn") <= maxPostings, col(idCol))))
          .cast("array<string>")).as("postings"))
  }

  /** Top-k adjacent-token merge candidates — the counting step of one
    * BPE/WordPiece tokenizer-induction round over the corpus: every
    * adjacent token pair, corpus-wide counts, highest-count pairs win
    * (deterministic (t1, t2) tie-break). Positions explode through the
    * same codegen'd element_at pairing as [[repetitionSignals]] (no
    * interpreted HOF), the pair count is map-side combined, and the
    * global top-k is a bounded heap (TakeOrdered), never a full sort —
    * the shuffled state is (distinct pairs, count), vocabulary²-bounded
    * in theory, Zipf-tiny in practice. */
  def bpeMerges(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 20): DataFrame = {
    val tk = col("tk")
    docs.select(tokens(col(textCol)).as("tk"))
      .select(tk, explode(when(size(tk) >= 2, sequence(lit(1), size(tk) - 1))
        .otherwise(array().cast("array<int>"))).as("i"))
      .select(element_at(tk, col("i")).as("t1"),
        element_at(tk, col("i") + 1).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2"))
      .limit(k)
  }

  /** Apply a learned merge table to every document — the ENCODE side of
    * the [[bpeMerges]] tokenizer-induction story, and the missing piece
    * between "count merge candidates" and "how many tokens does this
    * corpus cost after tokenization". Standard BPE semantics via the
    * native [[graft.functions.BpeApply]] loop (sequential priority
    * order, left-to-right non-overlapping, merged tokens chainable);
    * per-doc before/after token counts and the compression ratio (one
    * IEEE division rounded at the edge). The merge table is a bounded
    * driver-side list (k merges — tokenizer-sized, not data-sized),
    * shipped with the plan like a broadcast literal; the scan stays a
    * narrow single pass, no shuffle at all. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val applied = column(graft.functions.BpeApply(
      expression(tokens(col(textCol))), merges))
    docs.select(col(idCol), tokens(col(textCol)).as("tk"),
        applied.as("enc"))
      .select(col(idCol), size(col("tk")).cast("long").as("n_tokens"),
        size(col("enc")).cast("long").as("n_bpe_tokens"))
      .withColumn("n_merged", col("n_tokens") - col("n_bpe_tokens"))
      .withColumn("ratio",
        Exact.round(col("n_bpe_tokens") /
          when(col("n_tokens") === 0, 1L).otherwise(col("n_tokens"))
            .cast("double"), 6))
  }

  /** Document fingerprint: bottom-k sketch of the 60-bit hashes of the
    * document's 3-word shingles (a winnowing-style content signature —
    * two documents sharing most shingles share most of the sketch).
    * `fp` is the sketch itself; `fp_str` is its canonical comma-joined
    * form — a scalar equality key for the sketch (joins, oracle
    * compares, change detection) where array columns don't sort. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8): DataFrame =
    docs.select(
      col(idCol),
      slice(array_sort(array_distinct(
        transform(shingles3(tokens(col(textCol))), g => hash60(g)))), 1, k).as("fp"))
      .withColumn("fp_str", concat_ws(",", col("fp").cast("array<string>")))

  /** PII redaction pass: mask emails, SSN-shaped ids, and long digit
    * runs with typed placeholders; per-doc match counts (on the
    * ORIGINAL text) alongside the masked text. Patterns stay in the
    * RE2-compatible subset (no lookarounds/backrefs) so the same
    * regexes run identically on Java regex (Spark codegen'd
    * `regexp_replace`/`regexp_count` — narrow, no shuffle) and any
    * RE2-based engine. Masking order is fixed (email → id → number):
    * each rule sees the previous rule's output, so an SSN inside an
    * email is ONE `<EMAIL>`, not nested placeholders. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiId = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val piiNumber = "[0-9]{7,}"

  def maskPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      regexp_count(col(textCol), lit(piiEmail)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(piiId)).cast("long").as("n_ids"),
      regexp_count(col(textCol), lit(piiNumber)).cast("long").as("n_numbers"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), piiEmail, "<EMAIL>"),
          piiId, "<ID>"),
        piiNumber, "<NUM>").as("masked"))

  /** Unicode/whitespace normalization pipeline (C4/CCNet-style cleanup):
    * curly quotes → ASCII quotes, en/em dashes → '-', NBSP → space,
    * control characters stripped, whitespace runs collapsed, trimmed.
    *
    * Every pattern is RE2-compatible (`\x{...}` escapes — `\uXXXX` is
    * Java-only) so the exact same regex pipeline runs in any RE2-based
    * engine; narrow per-row work, no shuffle. */
  def cleanText(text: Column): Column = {
    val quotes  = regexp_replace(text, "[\\x{2018}\\x{2019}]", "'")
    val dquotes = regexp_replace(quotes, "[\\x{201C}\\x{201D}]", "\"")
    val dashes  = regexp_replace(dquotes, "[\\x{2013}\\x{2014}]", "-")
    val nbsp    = regexp_replace(dashes, "\\x{00A0}", " ")
    val ctrl    = regexp_replace(nbsp,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    trim(regexp_replace(ctrl, "\\s+", " "))
  }

  /** [[cleanText]] over a corpus: cleaned text plus before/after sizes
    * (the removed-byte fraction is the curation signal). */
  def clean(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_raw"),
      cleanText(col(textCol)).as("clean_text"))
      .withColumn("n_clean", length(col("clean_text")).cast("long"))

  /** Exact substring (repeated-span) detection: every `w`-word span
    * that occurs in MORE THAN ONE document, with its occurrence counts
    * and canonical first occurrence — the exact-substring flavor of
    * training-data dedup (reference: puhrezAgain/meteo-etl has only
    * whole-payload dedup; this is the span-level generalization a
    * text corpus needs, cf. dedup_paragraph).
    *
    * Emits one row per repeated span: (span_hash, n_docs, n_occ,
    * first_doc, first_pos), span_hash = the 60-bit content hash of the
    * space-joined span.
    *
    * Scale shape: a document of t tokens emits t−w+1 spans (constant
    * per input token), each reduced by ONE map-side-combined
    * aggregation keyed on the span text — no pair join anywhere, so
    * unlike similarity dedup there is no hot-key quadratic to cap: a
    * span shared by a million documents is still one output row. The
    * span STRING is the shuffle key (needed for exactness — 60-bit
    * hashes are for the output, not the grouping, so hash collisions
    * can't merge distinct spans); w bounds the key bytes. Cross-doc
    * only (`n_docs >= 2`): within-doc repetition is
    * [[repetitionSignals]]' job. */
  def repeatedSpans(docs: DataFrame, w: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    val tk = col("__tk")
    docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), tk,
        posexplode(when(size(tk) >= w, sequence(lit(1), size(tk) - (w - 1)))
          .otherwise(array().cast("array<int>"))).as(Seq("__junk", "pos")))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(tk, col("pos"), lit(w))).as("__span"))
      .groupBy(col("__span"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col(idCol), col("pos"))).as("__first"))
      .filter(col("n_docs") >= 2)
      .select(hash60(col("__span")).as("span_hash"),
        col("n_docs"), col("n_occ"),
        col("__first").getField(idCol).as("first_doc"),
        col("__first").getField("pos").cast("long").as("first_pos"))
  }

  /** Exact substring dedup, EXCISION step: rewrite every document with
    * its non-canonical repeated spans removed (the corpus-editing half
    * of [[repeatedSpans]], cf. Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" — remove every duplicated passage,
    * keep one canonical copy).
    *
    * Semantics (word-token granularity, fully deterministic):
    *  - a span = `w` consecutive whitespace tokens; repeated ⇔ it
    *    occurs in ≥ 2 documents; canonical occurrence = the
    *    `min(doc, pos)` one.
    *  - a token position is REMOVED iff some non-canonical repeated
    *    occurrence covers it and NO canonical occurrence does
    *    (canonical preservation wins on overlap, so the kept copy of a
    *    passage is never chewed up by overlapping duplicates of its
    *    neighbors).
    *  - surviving tokens are re-joined by single spaces in position
    *    order.
    *
    * Output: one row per document — (id, n_tokens, n_removed,
    * text_dedup).
    *
    * Scale shape: NO pair join anywhere — a span shared by a million
    * documents is one aggregation row, and the rewrite never materializes
    * candidate pairs. Cost per input token is constant: t tokens emit
    * t−w+1 spans (one shuffle keyed on span text, map-side combined),
    * repeated occurrences re-expand by exactly ×w into the coverage
    * table (keyed (doc, pos) — the same key the token table shuffles
    * on, so the last two joins co-partition), and reassembly is a
    * per-document sort of that document's own kept tokens (bounded by
    * document size, the standing per-doc-op assumption). Rare-span
    * pruning happens at the FIRST aggregation: the overwhelmingly
    * common case (span seen once) never reaches the coverage join. */
  def exciseRepeatedSpans(docs: DataFrame, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    val tk = col("__tk")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
    val spans = base
      .select(col(idCol), tk,
        posexplode(when(size(tk) >= w, sequence(lit(1), size(tk) - (w - 1)))
          .otherwise(array().cast("array<int>"))).as(Seq("__junk", "pos")))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(tk, col("pos"), lit(w))).as("__span"))
    val rep = spans.groupBy(col("__span"))
      .agg(countDistinct(col(idCol)).as("__nd"),
        min(struct(col(idCol), col("pos"))).as("__first"))
      .filter(col("__nd") >= 2)
      .select(col("__span"),
        col("__first").getField(idCol).as("__fd"),
        col("__first").getField("pos").as("__fp"))
    // occurrences of repeated spans only; canonical = the min(doc,pos) one
    val occ = spans.join(rep, "__span")
      .select(col(idCol), col("pos"),
        (col(idCol) === col("__fd") && col("pos") === col("__fp"))
          .as("__canon"))
    // coverage: each occurrence covers positions pos .. pos+w-1; a
    // position's verdict is one bool — did ANY canonical occurrence
    // cover it (keep) — so overlap resolution is a max, not a pair walk
    // coverage keys renamed (__cdoc, cpos): toks and cov share lineage
    // through `base`, and a same-name equi-join across a self-derived
    // pair risks ambiguous attribute resolution
    val cov = occ
      .select(col(idCol).as("__cdoc"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("cpos"),
        col("__canon"))
      .groupBy(col("__cdoc"), col("cpos"))
      .agg(max(col("__canon")).as("__any_canon"))
    val toks = base
      .select(col(idCol), posexplode(tk).as(Seq("__p0", "__token")))
      .withColumn("pos", col("__p0") + 1)
    toks.join(cov,
        toks(idCol) === cov("__cdoc") && toks("pos") === cov("cpos"), "left")
      .select(toks(idCol), toks("pos"), col("__token"),
        (col("__any_canon").isNull || col("__any_canon")).as("__keep"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("pos"), col("__token"))))),
          s => s.getField("__token"))).as("text_dedup"))
  }

  /** Gopher-style quality FILTER battery (Rae et al. 2021, public): the
    * standard pre-training document gate as one narrow pass — word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio ('#' chars +
    * '...' runs), alphabetic-word fraction, and the ≥2-distinct-stopword
    * presence rule. Emits the raw signals, one 0/1 flag per rule, the
    * conjunction (`keep`), and the FIRST failed rule's name in the
    * battery's fixed order (`fail_reason`, 'ok' when all pass) — the
    * audit trail a curation pipeline logs per dropped doc.
    *
    * Scale: per-row expressions only (no shuffle, no UDF — everything
    * stays in whole-stage codegen); thresholds are parameters so corpora
    * can calibrate without code changes. */
  def gopherFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minWords: Long = 30, maxWords: Long = 80,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): DataFrame = {
    val tk = col("__tk")
    val base = docs.select(col(idCol), col(textCol).as("__text"),
      tokens(lower(col(textCol))).as("__tk"))
    val en = stopwords.head._2
    val sig = base.select(
      col(idCol),
      size(tk).cast("long").as("n_words"),
      Exact.round(aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x)
        / size(tk).cast("double"), 6).as("mean_word_len"),
      Exact.round((length(regexp_replace(col("__text"), "[^#]", ""))
        + regexp_count(col("__text"), lit("\\.\\.\\."))).cast("double")
        / size(tk), 6).as("symbol_ratio"),
      Exact.round(size(filter(tk, t => t.rlike("[a-z]"))) / size(tk).cast("double"), 6)
        .as("alpha_frac"),
      size(array_intersect(array_distinct(tk),
        array(en.map(lit): _*))).cast("long").as("stop_distinct"))
    val rules: Seq[(String, Column)] = Seq(
      "words" -> (col("n_words") >= minWords && col("n_words") <= maxWords),
      "word_len" -> (col("mean_word_len") >= minMeanLen &&
        col("mean_word_len") <= maxMeanLen),
      "symbols" -> (col("symbol_ratio") <= maxSymbolRatio),
      "alpha" -> (col("alpha_frac") >= minAlphaFrac),
      "stopwords" -> (col("stop_distinct") >= minStopHits))
    val flagged = sig.select(
      (col(idCol) +: col("n_words") +: col("mean_word_len") +:
        col("symbol_ratio") +: col("alpha_frac") +: col("stop_distinct") +:
        rules.map { case (n, c) => c.cast("long").as(s"pass_$n") }): _*)
    flagged.select(
      (flagged.columns.map(col).toSeq :+
        rules.map(r => col(s"pass_${r._1}") === 1L).reduce(_ && _)
          .cast("long").as("keep") :+
        rules.foldRight(lit("ok"): Column) { case ((n, _), acc) =>
          when(col(s"pass_$n") === 0L, n).otherwise(acc)
        }.as("fail_reason")): _*)
  }

  /** Character-level Shannon entropy per document — the degenerate-text
    * detector that catches what token-level repetition misses (single-
    * character floods, base64 blobs, binary spill). Characters are
    * enumerated positionally (explode over `sequence(1, len)` —
    * codegen'd, identical to the oracle's `range` form), counted in a
    * two-level map-side-combined aggregate, and the entropy sum is made
    * ORDER-INDEPENDENT the same way the stats battery is: each
    * c·log₂(c) term is rounded to 6 decimals and summed as
    * DECIMAL(28,6) — double addition never reorders across partitions,
    * so the result is bit-stable at any parallelism (SURVEY §5).
    * H = log₂(n) − Σ round(c·log₂c, 6) / n. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), col(textCol).as("__t"))
      .select(col(idCol),
        // guard: Spark's sequence(1, 0) counts DOWN ([1,0]) — an empty
        // text must yield no char rows (DuckDB range(1,1) semantics)
        explode(when(length(col("__t")) > 0,
          sequence(lit(1), length(col("__t"))))
          .otherwise(array().cast("array<int>"))).as("__i"), col("__t"))
      .select(col(idCol), col("__t").substr(col("__i"), lit(1)).as("ch"))
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).cast("long").as("n_chars"),
        count(lit(1)).cast("long").as("n_distinct_chars"),
        sum(Exact.round(col("c") * log(2.0, col("c")), 6).cast("decimal(28,6)"))
          .as("__clogc"))
      .select(col(idCol), col("n_chars"), col("n_distinct_chars"),
        Exact.round(log(2.0, col("n_chars")) -
          col("__clogc").cast("double") / col("n_chars"), 6).as("entropy"))

  /** PMI-style bigram collocations (phrase mining): the top-`k` bigrams
    * by association LIFT — `P(xy) / (P(x)·P(y))` = the exp₂ of
    * pointwise mutual information, published as the RATIONAL lift
    * rather than the log (the BM25 rule: log is not correctly-rounded
    * in either engine; lift is monotone in PMI so the ranking is
    * PMI's). Bigrams below `minCount` occurrences are noise-gated out
    * (counts still enter the totals).
    *
    * Float discipline: the ratio is ONE left-associated chain of IEEE
    * double multiplications and a division — correctly-rounded ops in a
    * fixed written order, engine-exact, and overflow-safe at any corpus
    * size (counts enter as doubles, never as multiplied integers).
    *
    * Scale shape: two map-side-combined counts (bigrams, unigrams), two
    * un-hinted hash joins onto the vocabulary (corpus-growing — AQE
    * decides the side), a 1-row broadcast of (N tokens, M bigrams), and
    * a TakeOrdered top-k. Nothing corpus-sized sorts. */
  def pmiBigrams(docs: DataFrame, minCount: Int = 3, k: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.Hashing.bigrams2
    val tok = docs.select(col(idCol), tokens(col(textCol)).as("tk"))
    val bi = tok.select(explode(bigrams2(col("tk"))).as("bg"))
    val bcAll = bi.groupBy("bg").agg(count(lit(1)).as("c_xy"))
    val u = tok.select(explode(col("tk")).as("t"))
    val uc = u.groupBy("t").agg(count(lit(1)).as("c"))
    val totals = u.agg(count(lit(1)).as("n"))
      .crossJoin(bcAll.agg(sum(col("c_xy")).as("m")))
    bcAll.filter(col("c_xy") >= minCount)
      .join(uc.select(col("t").as("__x"), col("c").as("c_x")),
        substring_index(col("bg"), " ", 1) === col("__x"))
      .join(uc.select(col("t").as("__y"), col("c").as("c_y")),
        substring_index(col("bg"), " ", -1) === col("__y"))
      .crossJoin(broadcast(totals))
      .select(col("bg").as("bigram"), col("c_xy"), col("c_x"), col("c_y"),
        Exact.round(col("c_xy").cast("double") * col("n") * col("n") /
          (col("m").cast("double") * col("c_x") * col("c_y")), 6)
          .as("pmi_lift"))
      .orderBy(col("pmi_lift").desc, col("bigram"))
      .limit(k)
  }
}
