package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-training-data pipeline
  * (SURVEY.md §2.C): language ID, quality scoring, token counting,
  * document fingerprinting. All regex/arith Column compositions —
  * codegen'd, shuffle-free, and reproducible bit-for-bit in the
  * DuckDB oracle. */
object TextFunctions {

  /** Marker-word counts per language (n-gram heuristic: tiny public
    * stopword marker sets; CJK detection would add a codepoint-class
    * count — the testdata corpus is Latin-script so it scores 0 and
    * is omitted from the tie order). */
  val markers: Map[String, String] = Map(
    "en" -> "\\b(the|and|of|to|in)\\b",
    "de" -> "\\b(der|die|und|das|ist)\\b",
    "es" -> "\\b(el|la|los|de|que)\\b",
    "fr" -> "\\b(le|la|les|et|des)\\b")

  def markerScore(text: Column, lang: String): Column =
    regexp_count(text, lit(markers(lang)))

  /** argmax over marker scores with fixed tie order en>de>es>fr. */
  def langId(text: Column): Column = {
    val en = markerScore(text, "en"); val de = markerScore(text, "de")
    val es = markerScore(text, "es"); val fr = markerScore(text, "fr")
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Canonical cleaning pass (LLM-corpus normalization): lowercase,
    * non-alphanumerics → space, whitespace runs collapsed, trimmed.
    * ASCII-class regexes only, so the semantics are engine-portable
    * (DuckDB: same pattern with the 'g' flag). */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  def wsTokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish pre-tokenizer piece count: letter runs, single digits,
    * single punctuation (GPT-2-style pre-tokenization shape). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"))

  def punctCount(text: Column): Column = regexp_count(text, lit("[.!?,;:]"))

  def stopwordCount(text: Column): Column =
    regexp_count(text, lit("\\b(the|a|an|and|or|of|to|in|is|are)\\b"))

  def alphaCount(text: Column): Column = regexp_count(text, lit("[A-Za-z]"))

  /** Composite quality score in [0,1]: length saturation + stopword
    * density + alphabetic purity (the usual cheap pre-filter before
    * expensive model-based scoring). */
  def qualityScore(text: Column): Column = {
    val nTok = wsTokenCount(text).cast("double")
    val lenSat = least(lit(1.0d), nTok / 100.0d)
    val stopRatio = stopwordCount(text) / nTok
    val alphaRatio = alphaCount(text) / length(text).cast("double")
    round(lenSat * 0.3d + stopRatio * 0.3d + alphaRatio * 0.4d, 6)
  }

  /** Normalized-content fingerprint: hash of the sorted distinct
    * lowercase token set (OpenRefine-style key collapsing; robust to
    * word order and duplication). */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(split(lower(text), " "))), " "))

  /** Native one-call repetition kernel (graft.plans.RepetitionStats):
    * struct(top_cnt, top_gram, dup_covered) for the most frequent
    * kTop-gram and the duplicate-kDup-gram interval coverage. Use
    * this in hot paths; [[topNgram]] / [[dupNgramCoverage]] are the
    * builtin-HOF formulations kept as the semantic cross-check. */
  def repetitionStats(toks: Column, kTop: Int, kDup: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.RepetitionStats(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks),
        kTop, kDup))

  /** Native 64-bit SimHash of a token array (graft.plans.SimHash64). */
  def simhash64(toks: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.SimHash64(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks)))

  /** Token n-gram array (space-joined windows of `k` tokens). Empty
    * when the doc has fewer than `k` tokens — the sequence() guard
    * matters because sequence(0, -1) would count DOWN. */
  def tokenNgrams(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Most frequent within-doc n-gram as struct(cnt, gram); ties break
    * to the lexicographically SMALLEST gram. Row-local: sort the gram
    * array, then one fold tracks the longest equal-run — O(L log L)
    * per doc with NO shuffle, vs. the groupBy(doc, gram) shape that
    * shuffles the whole token stream. The repetition filters run over
    * every document of a 100-TB corpus, so map-only matters. */
  def topNgram(toks: Column, k: Int): Column = {
    val sorted = array_sort(tokenNgrams(toks, k))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("cnt"), lit("").as("gram"))
    val folded = aggregate(sorted, zero, (st, x) => {
      val run = when(st.getField("prev") === x, st.getField("run") + 1L)
        .otherwise(lit(1L))
      val better = run > st.getField("cnt")
      struct(x.as("prev"), run.as("run"),
        when(better, run).otherwise(st.getField("cnt")).as("cnt"),
        when(better, x).otherwise(st.getField("gram")).as("gram"))
    })
    struct(folded.getField("cnt").as("cnt"), folded.getField("gram").as("gram"))
  }

  /** Count of token positions covered by any within-doc DUPLICATE
    * n-gram (every occurrence counts — the Gopher "fraction of tokens
    * inside duplicated n-grams" filter). Row-local like [[topNgram]]:
    * sort struct(gram, pos), fold runs collecting start positions of
    * grams seen >= 2 times, expand each start to its k-token interval
    * and count the distinct union. */
  def dupNgramCoverage(toks: Column, k: Int): Column = {
    val grams = when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k), i =>
        struct(concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*)
          .as("g"), i.as("p"))))
      .otherwise(array().cast("array<struct<g:string,p:int>>"))
    val sorted = array_sort(grams)
    val zero = struct(lit("").as("prev"),
      array().cast("array<int>").as("runp"),
      array().cast("array<int>").as("cov"))
    val flush = (st: Column) =>
      when(size(st.getField("runp")) >= 2,
        concat(st.getField("cov"), st.getField("runp")))
        .otherwise(st.getField("cov"))
    val starts = aggregate(sorted, zero, (st, x) => {
      val same = st.getField("prev") === x.getField("g")
      struct(x.getField("g").as("prev"),
        when(same, concat(st.getField("runp"), array(x.getField("p"))))
          .otherwise(array(x.getField("p"))).as("runp"),
        when(same, st.getField("cov")).otherwise(flush(st)).as("cov"))
    }, flush)
    size(array_distinct(flatten(
      transform(starts, p => sequence(p, p + (k - 1))))))
  }

  /** Deterministic classifier weights (LCG-seeded, engine-portable
    * literals — the hyperplanes/minhashCoeffs discipline): `d` dyadic
    * rationals in [-1, 1], every one an exact multiple of 2⁻¹⁰. Every
    * partial sum of n of them is a multiple of 2⁻¹⁰ with magnitude
    * ≤ n, representable exactly while n·2¹⁰ < 2⁵³ — i.e. for any
    * document under ~8×10¹² tokens — so the hashed-feature sum below
    * is EXACT in double at ANY summation order —
    * Spark's sequential array fold and DuckDB's hash-agg SUM agree
    * bit-for-bit, which is what makes the classifier hash-gateable. */
  def classifierWeights(d: Int, seed: Long = 11L): Seq[Double] = {
    var state = seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state >>> 33
    }
    Seq.fill(d)(((next() % 2049L) - 1024L) / 1024.0d)
  }

  /** Engine-portable token feature bucket: the same 60-bit md5-prefix
    * hash the shingle family uses (Dedup.shingleHash), reduced mod the
    * feature dimension. */
  def featureBucket(tok: Column, d: Int): Column =
    pmod(conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), lit(d.toLong))

  /** Unigram + bigram feature stream for the quality classifier: the
    * normalized tokens followed by their adjacent pairs joined with a
    * single space (the shingle convention — engine-portable through
    * the same md5 [[featureBucket]]; a space cannot appear inside a
    * normalized token, so bigram strings never collide with
    * unigrams). fastText's own recipe (Joulin'16 "Bag of Tricks" §2.1
    * n-gram features via the hashing trick): word order enters the
    * model at the cost of a wider hash table, not a new architecture.
    * Feed the result to [[classifierLogit]] in place of the token
    * array — the fold, the /n_features normalization, and the
    * exactness story are unchanged. Row-local; 2n−1 features per
    * n-token doc. */
  def classifierFeatures(textCol: Column): Column = {
    val toks = split(normalize(textCol), " ")
    concat(toks,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** fastText-style linear classifier margin over hashed unigram
    * features (the hashing trick): logit = (Σ w[h(tok) mod D]) /
    * n_tok + bias. One row-local fold per doc — no explode, no
    * shuffle; at 100 TB the model-based quality filter is a pure
    * projection. The Σ term is exact (see [[classifierWeights]]), the
    * /n_tok and +bias are two IEEE-deterministic roundings, so the
    * margin — and hence any keep = (logit ≥ 0) decision — is
    * bit-identical across engines. */
  def classifierLogit(toks: Column, weights: Seq[Double], bias: Double): Column = {
    // Shape chosen by measurement (500k docs):
    // 1. the weight lookup rides a unary transform() — element_at
    //    (literal) inside the BINARY aggregate lambda evaluates ~25×
    //    slower (76 s vs 3 s over the corpus; the md5 bucket itself
    //    is noise);
    // 2. `toks` is referenced exactly ONCE — HOFs are interpreted
    //    (no codegen subexpression elimination), so every extra
    //    reference re-runs the normalize+split pipeline (~37 s per
    //    reference over the corpus); the token count comes from a
    //    struct accumulator in the same fold, and the division moves
    //    into the finish lambda.
    // Same algebra, same exact dyadic sum — the oracle is unchanged.
    val w = typedlit(weights)
    val contribs = transform(toks, t =>
      element_at(w, (featureBucket(t, weights.length) + 1L).cast("int")))
    aggregate(contribs,
      struct(lit(0.0d).as("s"), lit(0L).as("n")),
      (acc, x) => struct((acc.getField("s") + x).as("s"),
        (acc.getField("n") + 1L).as("n")),
      acc => when(acc.getField("n") > 0L,
        acc.getField("s") / acc.getField("n").cast("double") + lit(bias))
        .otherwise(lit(bias)))
  }

  /** The PRODUCTION scoring path: the FULLY-fused native kernel
    * (graft.plans.ClassifierMargin, string child) — normalize +
    * tokenize + unigram+bigram hash → weight lookup → exact dyadic
    * sum → /n_features + bias in ONE byte scan per row (the regex
    * normalize alone cost more than the whole fused kernel, as
    * measured over 500k docs). Bit-identical to
    * [[classifierLogit]]([[classifierFeatures]](text)) (spec-pinned
    * parity — same md5-prefix bucket, same exact sum, same two IEEE
    * roundings), ~15× faster on the same measurement: the HOF formulation
    * stays as the semantic cross-check and the oracle's algebra. */
  def classifierMargin(textCol: Column, weights: Seq[Double], bias: Double,
                       bigrams: Boolean = true): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ClassifierMargin(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol),
        weights.toIndexedSeq, bias, bigrams))

  /** Calibrated score in (0,1). exp() is the one libm call in the
    * classifier — cross-engine it can differ by an ulp, which the
    * 6-dp round absorbs (boundary-straddle odds ~2e-10 per doc);
    * decisions should come from the exact [[classifierLogit]] sign,
    * never from a threshold on the rounded score. */
  def sigmoid6(logit: Column): Column =
    round(lit(1.0d) / (lit(1.0d) + exp(-logit)), 6)
}
