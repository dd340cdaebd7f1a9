package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY §2.11):
  * token counting, quality scoring, language ID, fingerprinting. All
  * pure column expressions (codegen'd, no UDF, no shuffle at all — these
  * are map-only and scale linearly). */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => length(t) > 0))

  /** BPE-ish subword count: words + digits + punctuation runs, the usual
    * pre-tokenizer regex family. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=\\W)|(?=\\W)"), t => length(trim(t)) > 0))

  /** Quality metrics: length, tokens, mean word length, punctuation
    * ratio, alpha ratio, stopword ratio (tiny embedded English list),
    * uppercase ratio. */
  def qualityMetrics(df0: DataFrame, textCol: String): DataFrame = {
    val df = Par.ensure(df0)
    val t = col(textCol)
    // materialize the token array once; the metrics below reference it
    // repeatedly and must not re-run the regex split per reference
    val toks = col("__toks")
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as", "at", "by")
    df.withColumn("__toks", filter(split(lower(t), "\\W+"), x => length(x) > 0))
      .withColumn("n_chars_calc", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("mean_word_len",
        when(size(toks) > 0,
          aggregate(transform(toks, x => length(x).cast("double")), lit(0.0d), _ + _) / size(toks))
          .otherwise(lit(0.0d)))
      .withColumn("punct_ratio",
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double") /
          greatest(length(t), lit(1)))
      .withColumn("alpha_ratio",
        length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") /
          greatest(length(t), lit(1)))
      .withColumn("stopword_ratio",
        size(filter(toks, x => x.isin(stop.map(lit): _*))).cast("double") /
          greatest(size(toks), lit(1)))
      .withColumn("upper_ratio",
        length(regexp_replace(t, "[^A-Z]", "")).cast("double") /
          greatest(length(t), lit(1)))
      .drop("__toks")
  }

  /** Composite quality score in [0,1] — the usual "keep if score > x"
    * pipeline gate. Weights are arbitrary but fixed. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualityMetrics(df, textCol).withColumn("quality_score",
      least(greatest(
        lit(0.3) * least(col("n_tokens") / lit(50.0), lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("punct_ratio") * 4) +
          lit(0.2) * col("alpha_ratio") +
          lit(0.2) * least(col("stopword_ratio") * 3, lit(1.0)),
        lit(0.0)), lit(1.0)))

  /** One vocabulary for kernel and HOF: the equality oracle is only
    * meaningful if both score against the same lists. */
  private def stopwords: Map[String, Seq[String]] = TextLangUtil.stopwords

  /** N-gram/stopword-heuristic language ID: CJK-ratio shortcut for zh,
    * else argmax of per-language stopword hits; "und" (undetermined)
    * when nothing matches. Computed by the native codegen kernel
    * (LangIdExpr): tokenize once, all languages scored in ONE token
    * walk — the HOF formulation below re-walks the array per language
    * and re-runs the CJK regexp, which made x3 a top-3 decade-scaler. */
  def langId(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      LangIdExpr(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** The HOF reference formulation of [[langId]] — kept as the equality
    * oracle for the kernel (pinned in OpsSpec). */
  private[graft] def langIdHof(text: Column): Column = {
    val toks = filter(split(lower(text), "[^\\p{L}]+"), x => length(x) > 0)
    val cjkRatio = (length(text) -
      length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))).cast("double") /
      greatest(length(text), lit(1))
    val scores = stopwords.map { case (lang, words) =>
      lang -> size(filter(toks, x => x.isin(words.map(lit): _*)))
    }
    val best = scores.toSeq.sortBy(_._1).map { case (lang, s) =>
      struct(s.as("score"), lit(lang).as("lang"))
    }
    val top = greatest(best: _*)
    when(cjkRatio > 0.05, lit("zh"))
      .when(top.getField("score") > 0, top.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Language-ID evaluation against a labeled column. */
  def langIdEval(df: DataFrame, textCol: String, labelCol: String): DataFrame =
    Par.ensure(df).withColumn("predicted", langId(col(textCol)))
      .groupBy(col(labelCol).as("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Rolling-hash document fingerprint (winnowing-style): min xxhash64
    * over token 4-grams (robust to small edits; equal fingerprints =>
    * likely shared content). Computed by the native codegen kernel
    * (FingerprintExpr): one joined buffer per document, grams hashed as
    * byte slices — the HOF formulation below materialized a string per
    * gram, which made x4 the suite's worst decade-scaler (GC-bound). */
  def fingerprint(text: Column, gram: Int = 4): Column =
    TextExprs.fingerprint(text, gram)

  /** The HOF reference formulation of [[fingerprint]] — kept as the
    * equality oracle for the kernel (pinned in OpsSpec). */
  private[graft] def fingerprintOfTokens(toks: Column, fallback: Column, gram: Int = 4): Column = {
    val grams = filter(
      transform(sequence(lit(0), greatest(size(toks) - gram, lit(0))),
        i => array_join(slice(toks, i + lit(1), lit(gram)), " ")),
      s => length(s) > 0)
    when(size(grams) > 0,
      array_min(transform(grams, g => xxhash64(g)))).otherwise(xxhash64(fallback))
  }

  /** DataFrame-level fingerprinting: map-only, one kernel call per row. */
  def fingerprintDF(df: DataFrame, textCol: String, idCol: String,
      gram: Int = 4): DataFrame =
    Par.ensure(df).select(col(idCol),
      fingerprint(col(textCol), gram).as("fingerprint"))

  /** Benchmark decontamination — the n-gram-overlap scan every training
    * pipeline runs before a model ships: a corpus document is
    * contaminated if it shares ANY complete word n-gram (the public
    * GPT-3/PaLM recipe uses 8-13 grams) with an evaluation/benchmark
    * document. Returns one row per contaminated corpus doc with its
    * count of distinct matching benchmark grams — the evidence a
    * filtering decision needs.
    *
    * Scale shape: the benchmark n-gram set is inherently small (eval
    * suites are MBs, the corpus is TBs), so it is deduplicated once and
    * BROADCAST — the corpus side is a map-only explode + broadcast hash
    * join, and the only corpus-sized shuffle is the per-doc count of
    * matches, which after map-side combine carries only the (rare)
    * contaminated grams. Nothing in the plan grows super-linearly in
    * corpus size.
    *
    * Both sides run in 64-BIT HASH space (the window-hash kernel — one
    * compiled pass per row, no gram strings built, 8-byte broadcast
    * keys): a collision between a corpus gram and a DIFFERENT benchmark
    * gram would take a specific 2^-64 event to miscount one doc —
    * the d2/d12 recall-bound argument; full-window-only semantics
    * (docs shorter than n contribute nothing) are the kernel's. */
  def decontaminate(corpus0: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val corpus = Par.ensure(corpus0)
    val benchGrams = benchmark
      .select(explode(TextExprs.windowHashes(col(textCol), n)).as("__g"))
      .distinct()
    corpus
      .select(col(idCol),
        explode(array_distinct(TextExprs.windowHashes(col(textCol), n))).as("__g"))
      .join(broadcast(benchGrams), "__g")
      // per-doc grams are already distinct, so count(*) is the distinct
      // benchmark-gram hit count
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_ngrams"))
  }

  /** Corpus vocabulary: the topN tokens by total occurrence count
    * (ties broken by token, so the selected SET is deterministic).
    * Tokenization matches the dedup family (lowercase, non-word split).
    * Classic two-phase aggregation: explode is map-side, the groupBy
    * count combines partially before its one shuffle (keys = distinct
    * tokens, not corpus size), and the final ordered topN is a TakeOrdered
    * over the token counts — at 100 TB the shuffle volume is the
    * vocabulary, not the text. */
  def vocabulary(df: DataFrame, textCol: String, topN: Int): DataFrame =
    Par.ensure(df)
      .select(explode(Dedup.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topN)

  /** Gopher-style repetition metrics (the public MassiveText filter
    * family): per-doc duplicate-token ratio and most-frequent-bigram
    * fraction, plus a keep verdict at fixed thresholds. Both shuffles
    * are keyed by the document id ((id, bigram) then (id)) — no
    * cross-document state, so the plan is linear in corpus size and
    * partitions by document at any scale. */
  def repetitionMetrics(df0: DataFrame, idCol: String, textCol: String,
      maxDupTokenRatio: Double = 0.55,
      maxTopBigramFrac: Double = 0.05): DataFrame =
    // MAP-ONLY: the whole stat triple is per-document, so one compiled
    // kernel pass replaces the per-doc bigram explode + two doc-keyed
    // shuffles (17 s of shuffle at sf30 for a per-row computation)
    Par.ensure(df0)
      .select(col(idCol),
        TextExprs.repetitionStats(col(textCol)).as("__r"))
      .select(col(idCol),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.dup_token_ratio").as("dup_token_ratio"),
        col("__r.top_bigram_frac").as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_token_ratio") <= maxDupTokenRatio &&
          col("top_bigram_frac") <= maxTopBigramFrac)

  /** Corpus-unigram negative log-likelihood — the cheap, engine-native
    * stand-in for the LM-perplexity filter (the CCNet-style gate): each
    * doc scores the mean -ln p(token) against the corpus unigram
    * distribution. One explode, one vocabulary-keyed aggregation, one
    * doc-keyed aggregation — linear in corpus size.
    *
    * The join table is FREQUENCY-FLOORED: tokens with count <=
    * `broadcastMinCount` never enter it, and an unmatched token scores
    * as count = broadcastMinCount. At the default floor of 1 this is
    * EXACT (a count-1 token scores as count 1 either way — pinned in
    * OpsSpec) while excluding the hapax tail, which at web scale is
    * billions of one-off URLs/typos/numbers — the bulk of the distinct-
    * token set. The floored table is broadcast only while it stays under
    * `maxBroadcastVocab` rows; a genuinely huge retained vocabulary
    * falls back to a shuffle join instead of blowing up the driver. */
  def unigramNll(df0: DataFrame, idCol: String, textCol: String,
      broadcastMinCount: Long = 1L,
      maxBroadcastVocab: Long = 8000000L): DataFrame = {
    // ensureBy(id): the per-doc scoring aggregate groups by id, so the
    // parallelism guard's exchange doubles as the aggregation's when it
    // fires (the broadcast join preserves the partitioning)
    val df = Par.ensureBy(df0, col(idCol))
    // per-doc (token, in-doc count) via the compiled kernel
    // (TextExprs.tokenCounts, the r18 rewrite): a doc's repeated tokens
    // collapse BEFORE the explode, so the corpus-sized explode, the
    // vocabulary aggregation's input and the scoring join's probe count
    // all shrink from token OCCURRENCES to distinct (doc, token) pairs
    // (guide §2.3 "aggregate before you shuffle"). The per-doc score
    // becomes the count-weighted mean sum(c·-ln p)/sum(c) — the same
    // multiset of addends as the per-occurrence avg, associated
    // differently, so the double can differ in final ulps; the operator
    // contract (and every consumer) rounds to 6dp, where the forms
    // agree — occurrence-avg parity is pinned in OpsSpec and the
    // replayed oracles are unchanged at every correctness SF.
    val tok = df.select(col(idCol),
        explode(TextExprs.tokenCounts(col(textCol))).as("__tc"))
      .select(col(idCol), col("__tc.t").as("__t"), col("__tc.c").as("__n"))
    // persist: vocabulary-sized — consumed by BOTH the sizing aggregate
    // below (an action) and the scoring join; without it the corpus
    // explode + groupBy runs twice per query (mirrors bigramNll)
    val counts = Caches.track(tok.groupBy("__t").agg(sum(col("__n")).as("__c")))
    // one vocabulary-sized pass: the exact total (ALL tokens, floored or
    // not — p(token) denominators must not change) plus the retained
    // table's size for the broadcast decision
    val stats = counts.agg(sum(col("__c")).as("__total"),
      count(when(col("__c") > broadcastMinCount, lit(1))).as("__nkept")).head
    val total = stats.getLong(0)
    val common = counts.filter(col("__c") > broadcastMinCount)
    val joinTable = if (stats.getLong(1) <= maxBroadcastVocab)
      broadcast(common) else common
    tok.join(joinTable, Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_tokens"),
        (sum(col("__n").cast("double") *
          -log(coalesce(col("__c"), lit(broadcastMinCount)).cast("double") /
            lit(total.toDouble))) / sum(col("__n").cast("double"))).as("nll"))
  }

  /** Corpus-bigram conditional NLL — one LM order up from
    * [[unigramNll]]: each doc scores the mean -ln p(w_i | w_{i-1}) with
    * p(b | a) = c(a b) / c(a ·) over corpus bigram / left-context
    * counts. Closer to the KenLM-style perplexity gate real pipelines
    * run than the unigram proxy, still fully engine-native: two
    * explodes, two count aggregations, two joins — linear in corpus
    * tokens.
    *
    * Same heavy-tail discipline as [[unigramNll]]: both join tables are
    * FREQUENCY-FLOORED (entries with count <= `broadcastMinCount` never
    * enter; an unmatched probe scores the floor), which is EXACT at the
    * default floor of 1 — a count-1 bigram or context scores 1 either
    * way — while keeping the hapax tail (at web scale, most of the
    * distinct bigram set) out of the tables. Broadcast only under
    * `maxBroadcastVocab` rows, shuffle join beyond. */
  def bigramNll(df0: DataFrame, idCol: String, textCol: String,
      broadcastMinCount: Long = 1L,
      maxBroadcastVocab: Long = 8000000L): DataFrame = {
    // ensureBy(id): the per-doc scoring aggregate groups by id (see
    // unigramNll) — shared exchange when the guard fires
    val df = Par.ensureBy(df0, col(idCol))
    // bigram construction via the compiled kernel (TextExprs.bigrams):
    // one pass per row emitting (left token, joined bigram) structs —
    // the zip_with(slice, slice, concat_ws) HOF chain this replaces
    // evaluates INTERPRETED per element and runs twice per query (the
    // count aggregation and the scoring join both consume `bg`). Same
    // rows in the same order (string-equal keys; r18 rewrite, parity
    // pinned in OpsSpec); docs under two tokens yield an empty array,
    // matching the previous __n >= 2 filter.
    val bg = df.select(col(idCol),
        explode(TextExprs.bigrams(col(textCol))).as("__p"))
      .select(col(idCol), col("__p.a").as("__a"), col("__p.b").as("__b"))
    // ONE corpus-sized aggregation: bigram counts, with context counts
    // DERIVED from them (c(a .) = sum_b c(a b)) — the naive formulation
    // re-explodes the corpus a second time for an identical total
    // persist: vocabulary-sized (distinct bigrams), consumed by both
    // floor decisions and the scoring join — without it each action
    // re-runs the corpus explode. Tracked in Caches (harness-released).
    val pairCounts = Caches.track(bg.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__cab")))
    def floored(counts0: DataFrame, key: String): DataFrame = {
      val counts = counts0.filter(col(s"__c$key") > broadcastMinCount)
      if (counts.count() <= maxBroadcastVocab) broadcast(counts) else counts
    }
    val cb = floored(pairCounts.select(col("__b"), col("__cab").as("__c__b")), "__b")
    val ca = floored(pairCounts.groupBy(col("__a"))
      .agg(sum(col("__cab")).as("__c__a")), "__a")
    val nllTerm = -log(
      coalesce(col("__c__b"), lit(broadcastMinCount)).cast("double") /
        coalesce(col("__c__a"), lit(broadcastMinCount)).cast("double"))
    // fused zero-row recovery (guide §1.2, remove a full pass): the
    // scoring side explodes OUTER, so an under-two-token doc (empty
    // bigram array) survives as one all-null row; count(__a) and the
    // null-guarded avg turn it into the same (0, 0.0) score a back-join
    // against the id column would produce, without that third corpus
    // scan or the final doc-keyed join. Identical per doc while ids are
    // unique (they are, for every caller in this engine) — pinned vs the
    // back-join reference form in OpsSpec, including zero-bigram and
    // null-text docs.
    val bgOuter = df.select(col(idCol),
        explode_outer(TextExprs.bigrams(col(textCol))).as("__p"))
      .select(col(idCol), col("__p.a").as("__a"), col("__p.b").as("__b"))
    bgOuter
      .join(cb, Seq("__b"), "left")
      .join(ca, Seq("__a"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__a")).as("n_bigrams"),
        avg(when(col("__a").isNotNull, nllTerm)).as("bigram_nll"))
      .na.fill(0.0, Seq("bigram_nll"))
  }

  /** PII redaction — the scrub step a training corpus runs before
    * anything else sees the text: emails and long digit runs (phone /
    * account numbers) are replaced with typed placeholder tags, and the
    * match counts surface per document so the pipeline can route
    * high-PII documents to quarantine instead of just masking them.
    * Pure codegen'd column expressions (regexp_count + regexp_replace),
    * map-only, zero shuffle. The regex subset used (character classes,
    * bounded quantifiers) behaves identically in Java and RE2-family
    * engines, so an external auditor recomputes the same redaction. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitPattern = "[0-9]{7,}"
  def redactPii(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = Par.ensure(df0)
    val t = col(textCol)
    // phones are counted on the EMAIL-REDACTED intermediate so a 7+
    // digit run inside an email local part (masked as <EMAIL>) is not
    // also counted as a phone — n_phones equals the number of <PHONE>
    // tags actually emitted in `redacted`.
    // the email replace is materialized ONCE in a nested projection —
    // referencing it from both n_phones and redacted in a single select
    // would leave two regex passes per row unless subexpression
    // elimination happens to fire (CollapseProject keeps the split
    // because regexp_replace is not a cheap expression)
    df.select(col(idCol),
        regexp_count(t, lit(EmailPattern)).as("n_emails"),
        regexp_replace(t, EmailPattern, "<EMAIL>").as("__after_email"))
      .select(col(idCol), col("n_emails"),
        regexp_count(col("__after_email"), lit(LongDigitPattern)).as("n_phones"),
        regexp_replace(col("__after_email"), LongDigitPattern, "<PHONE>")
          .as("redacted"))
  }

  /** Per-document top-k terms by TF-IDF — the keyword-extraction /
    * relevance-weighting primitive (salient terms for indexing, topic
    * labeling, near-dup triage). tf = in-doc occurrences; idf is the
    * smoothed ln((N+1)/(df+1)) so corpus-universal terms score ~0 and
    * the ratio is defined even for df = N.
    *
    * Plan shape: one explode, a (doc, term)-keyed count (linear,
    * map-side combined), a VOCABULARY-sized document-frequency
    * aggregate, and the tf⋈df join — broadcast while the vocabulary
    * stays under `maxBroadcastVocab` rows, shuffle join beyond (the
    * same heavy-tail guard as [[unigramNll]]: web-scale distinct-token
    * sets do not fit a driver). The final top-k runs per document
    * (rows per window = the doc's distinct terms, bounded by doc
    * length) — no corpus-wide sort anywhere. */
  def tfidf(df0: DataFrame, idCol: String, textCol: String, k: Int = 5,
      maxBroadcastVocab: Long = 8000000L): DataFrame = {
    // ensureBy(id): the per-doc top-k window partitions by id, so the
    // parallelism guard's exchange doubles as the window's when it fires
    val df = Par.ensureBy(df0, col(idCol))
    val nDocs = df.count()
    // per-doc term frequencies via the compiled kernel
    // (TextExprs.tokenCounts): in-doc counts are a per-row computation,
    // so the previous explode + groupBy(doc, term) shuffled every token
    // OCCURRENCE for counts the map side already knew (the r18 rewrite;
    // exact-integer parity with the groupBy form pinned in OpsSpec —
    // the corpus-sized exchange on (doc, term) is gone from the plan)
    val tf = df.select(col(idCol),
        explode(TextExprs.tokenCounts(col(textCol))).as("__tc"))
      .select(col(idCol), col("__tc.t").as("__t"), col("__tc.c").as("tf"))
    // persist: vocabulary-sized — the broadcast-sizing count() below is
    // an action, and an uncached dfreq re-ran the corpus explode + two
    // groupBys for the scoring join (mirrors bigramNll's pairCounts)
    val dfreq = Caches.track(
      tf.groupBy(col("__t")).agg(count(lit(1)).as("__df")))
    val joinTable =
      if (dfreq.count() <= maxBroadcastVocab) broadcast(dfreq) else dfreq
    val score = col("tf") *
      log((lit(nDocs.toDouble) + 1.0) / (col("__df").cast("double") + 1.0))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("__t"))
    tf.join(joinTable, Seq("__t"))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("__t").as("term"), col("rnk"), col("tf"),
        col("score"))
  }

  /** Deterministic stratified sample: the k rows per stratum with the
    * smallest [[Corpus.mixKey]] of the id — reproducible across engines
    * and runs (no RNG), which is what a training-data pipeline needs
    * from "sample k docs per language". Runs through the threshold-cut
    * selection, so a dominant stratum is pre-filtered map-only to
    * ~slack x k candidates before its exact rank window — no reducer
    * ever sorts a whole stratum. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      k: Int, slack: Double = 4.0): DataFrame = {
    val quotas = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__quota", lit(k.toLong))
    Corpus.takeSmallestByMixKey(df, stratumCol, idCol, quotas, slack)
  }
}
