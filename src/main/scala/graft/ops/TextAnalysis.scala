package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, n-gram language ID, and document
  * fingerprinting (north-star surface, SURVEY.md §7.1 `ops/`).
  *
  * Everything here is built from `org.apache.spark.sql.functions` higher-
  * order array functions — no UDFs — so the whole pipeline stays inside
  * whole-stage codegen and scales to 100 TB as a single narrow
  * (shuffle-free) projection pass over the corpus.
  */
object TextAnalysis {

  /** Whitespace tokenizer. `split` on a regex; empty trailing strings are
    * dropped by filter so blank documents count 0 tokens, not 1. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words plus intra-word boundaries at
    * case/digit/punctuation transitions — a deterministic stand-in for a
    * real tokenizer's token count (the usual ~1.3×words heuristic made
    * explicit and auditable). */
  def subwordCountEstimate(text: Column): Column = {
    val pieces = split(text,
      "\\s+|(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=\\d)|(?<=\\d)(?=[A-Za-z])|(?=[^\\sA-Za-z0-9])")
    size(filter(pieces, t => length(t) > 0))
  }

  /** Character-class ratios used by the quality score. Ratios of counts,
    * computed by regex strip — all codegen'd string ops. */
  def digitRatio(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", "")) / greatest(length(text), lit(1))
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\p{Punct}]", "")) / greatest(length(text), lit(1))

  /** Interpreted-HOF let binding: evaluate `v` ONCE per row and hand the
    * bound value to `body` as a lambda variable (a slot read). A Column
    * is a TREE — every reference re-evaluates it, and inside
    * higher-order-function lambdas (which run interpreted, beyond
    * codegen CSE) a repeated tokenizer tree re-runs per ELEMENT,
    * turning linear per-row ops quadratic in document length. The
    * 1-element transform is the cheapest expressible let. */
  private def bind(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  def meanWordLength(text: Column): Column = bind(tokens(text)) { ts =>
    aggregate(ts, lit(0L), (acc, t) => acc + length(t)) /
      greatest(size(ts), lit(1)).cast("double")
  }

  /** English stopword coverage — fraction of tokens in a small built-in
    * stopword set. A strong single-feature quality/language signal. */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "from")

  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    bind(tokens(lower(text))) { ts =>
      size(filter(ts, t => t.isInCollection(stopwords))) /
        greatest(size(ts), lit(1)).cast("double")
    }

  /** Composite document quality score in [0,1] — the Gopher/C4-style
    * heuristic family: penalize too-short/too-long docs, excessive
    * digits/punctuation, missing stopwords. Weights are fixed and
    * documented, so the score is reproducible across engine versions. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthOk = when(nTok.between(10, 100000), lit(1.0))
      .when(nTok < 10, nTok / 10.0)
      .otherwise(lit(0.5))
    val digitOk = lit(1.0) - least(digitRatio(text) * 5.0, lit(1.0))
    val punctOk = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val wordLen = meanWordLength(text)
    val wordLenOk = when(wordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.3))
    val stopOk = least(stopwordRatio(text) * 4.0, lit(1.0))
    round(lengthOk * 0.3 + digitOk * 0.2 + punctOk * 0.2 +
      wordLenOk * 0.15 + stopOk * 0.15, 6)
  }

  /** Gopher's required stop-word set (Rae et al. 2021, Appendix A1.1):
    * a document must contain at least 2 of these to pass the battery's
    * stop-word rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule battery (Rae et al. 2021, Appendix A1.1;
    * the same family C4/RefinedWeb filter with) as a struct of per-rule
    * FAIL flags plus a combined `pass`. Every threshold is evaluated in
    * INTEGER arithmetic (ratios cross-multiplied: `sym/words > 0.1`
    * becomes `10*sym > words`), so the battery is bit-reproducible
    * across engines — no float accumulation anywhere. One narrow
    * projection per document: no shuffle, codegen-friendly HOFs, the
    * token/line arrays bound once per row.
    *
    * Rules (fail = true): word count outside [minWords, maxWords];
    * mean word length outside [3, 10]; symbol-to-word ratio ('#' chars
    * + '...' runs) > 0.1; > 90 % of lines bullet-led (-, •, *);
    * > 30 % of lines ellipsis-terminated; < 80 % of words containing
    * an alphabetic character; fewer than 2 distinct
    * [[GopherStopwords]] present. */
  def gopherFlags(text: Column, minWords: Int = 20,
      maxWords: Int = 100000): Column =
    bind(text) { t =>
      bind(tokens(t)) { ws =>
        bind(split(t, "\n")) { ls =>
          val n = size(ws).cast("long")
          val nl = size(ls).cast("long")
          val sumLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
          // 3 * (#hash + #ellipsis): the '...' count arrives ×3 from the
          // replace-length diff, so the hash count is scaled to match —
          // keeps the 10·sym > words comparison integral
          val sym3 =
            (length(t) - length(replace(t, lit("#"), lit("")))) * 3 +
              (length(t) - length(replace(t, lit("..."), lit(""))))
          val bulletLines = size(filter(ls, l => ltrim(l).rlike("^[-•*]")))
          val ellLines = size(filter(ls, l => rtrim(l).endsWith("...")))
          val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]")))
          val stopHits = bind(transform(ws, w => lower(w))) { lws =>
            GopherStopwords.map(s =>
              when(array_contains(lws, s), 1L).otherwise(0L))
              .reduce(_ + _)
          }
          struct(
            n.as("n_words"),
            (n < minWords || n > maxWords).as("fail_word_count"),
            (sumLen < n * 3 || sumLen > n * 10).as("fail_mean_word_len"),
            (sym3.cast("long") * 10 > n * 3).as("fail_symbol_ratio"),
            (bulletLines.cast("long") * 10 > nl * 9).as("fail_bullet_lines"),
            (ellLines.cast("long") * 10 > nl * 3).as("fail_ellipsis_lines"),
            (alphaWords.cast("long") * 5 < n * 4).as("fail_alpha_words"),
            (stopHits < 2).as("fail_stopwords"))
        }
      }
    }

  /** C4's line-level cleaner (Raffel et al. 2020, §2.2): keep only
    * lines with at least `minLineWords` words that end — after
    * trailing-space trim — in terminal punctuation (. ! ? " '), and
    * rejoin with newlines. This is the REPAIR complement to the
    * [[gopherFlags]] drop battery: boilerplate lines (nav stubs,
    * "click here", cookie banners) vanish while prose survives. One
    * narrow projection, no shuffle; the kept-array shape makes the
    * kept/total line accounting free for telemetry. */
  def cleanLinesKept(text: Column, minLineWords: Int = 3): Column =
    bind(split(text, "\n")) { ls =>
      filter(ls, l =>
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minLineWords &&
          rtrim(l).rlike("[.!?\"']$"))
    }

  def cleanLines(text: Column, minLineWords: Int = 3): Column =
    array_join(cleanLinesKept(text, minLineWords), "\n")

  /** Codegen twin of [[gopherFlags]]: the nine battery counters come
    * from [[graft.functions.GopherStatsExpr]]'s single fused character
    * walk (the HOF twin materializes token + line arrays and four
    * interpreted lambda filters per document), and the SAME integer
    * threshold arithmetic runs as plain codegen column math on top.
    * Value-identical to [[gopherFlags]] field-for-field (asserted in
    * ExtensionsSpec over the injected corpus + edge shapes); this is
    * the form the q142 telemetry ships with — at 100 TB the battery is
    * a pure scan problem and the kernel keeps it one pass. */
  def gopherFlagsCompiled(text: Column, minWords: Int = 20,
      maxWords: Int = 100000): Column =
    bind(graft.functions.GopherExpressions.gopherStats(text)) { st =>
      val n = st.getField("n_words")
      val sumLen = st.getField("sum_word_len")
      val sym3 = (st.getField("hash_chars") + st.getField("ellipsis_runs")) * 3
      val nl = st.getField("n_lines")
      struct(
        n.as("n_words"),
        (n < minWords || n > maxWords).as("fail_word_count"),
        (sumLen < n * 3 || sumLen > n * 10).as("fail_mean_word_len"),
        (sym3 * 10 > n * 3).as("fail_symbol_ratio"),
        (st.getField("bullet_lines") * 10 > nl * 9).as("fail_bullet_lines"),
        (st.getField("ellipsis_lines") * 10 > nl * 3).as("fail_ellipsis_lines"),
        (st.getField("alpha_words") * 5 < n * 4).as("fail_alpha_words"),
        (st.getField("stop_hits") < 2).as("fail_stopwords"))
    }

  /** Tiny per-language marker-word profiles for n-gram/stopword language
    * ID. Deliberately small: language ID at corpus scale is a scoring
    * pass, and precision comes from the margin between profiles. */
  val LanguageProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "une", "dans", "que"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "他", "这", "中"))

  /** Language ID: score = marker-token hit ratio per language; argmax with
    * a deterministic tie-break on language code. Returns "und" when no
    * profile scores above zero. One narrow projection — no shuffle. */
  def langId(text: Column): Column = bind(tokens(lower(text))) { ts =>
    val denom = greatest(size(ts), lit(1)).cast("double")
    // (score, pref, lang) structs compared lexicographically by
    // greatest(): max score wins; on equal score the higher `pref` wins,
    // and pref is the REVERSED alphabetic rank — so ties break toward the
    // lowest language code (en before es before fr …).
    val langs = LanguageProfiles.toSeq.sortBy(_._1)
    val scored = langs.zipWithIndex.map { case ((lang, words), idx) =>
      struct((size(filter(ts, t => t.isInCollection(words))) / denom).as("score"),
        lit(langs.size - 1 - idx).as("pref"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Winnowing-style document fingerprint: hash every k-token shingle,
    * keep the minimum — robust to small edits anywhere but the minimal
    * shingle. 64-bit, collision-safe at corpus scale. */
  def fingerprint(text: Column, k: Int = 3): Column =
    coalesce(array_min(shingleSet(text, k)), lit(0L))

  /** Ordered k-gram hash SEQUENCE (1-based positions) via the built-in
    * multi-arg xxhash64 — bit-identical to ShingleHashesExpr's chained
    * XXH64 fold (same seed-42 running-hash over per-token xxhash64
    * longs) but keeping POSITION, which the set-shaped codegen
    * expression deliberately drops. Defined only for docs with ≥ k
    * tokens (shorter docs have no complete gram → empty array). This
    * independent formulation exists so the winnowing contract row
    * (q29b) can pin the custom expression's hash chain against Spark's
    * own builtin through the oracle gate. */
  def gramHashSeq(ts: Column, k: Int = 3): Column =
    bind(transform(ts, t => xxhash64(t))) { hs =>
      when(size(hs) >= k,
        transform(sequence(lit(1), size(hs) - (k - 1)),
          i => xxhash64((0 until k).map(j => element_at(hs, i + j)): _*)))
        .otherwise(array().cast("array<bigint>"))
    }

  /** Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    * scheme): slide a w-gram window over the ordered k-gram hashes and
    * keep the LEFTMOST minimum of each window; the distinct selected
    * (h, pos) pairs are the document's fingerprint set. Guarantee —
    * every window of w consecutive grams contributes ≥ 1 fingerprint —
    * is what makes the set sufficient for substring matching of length
    * ≥ w+k−1, and is pinned every round by q29b's empty-violations
    * oracle. [[fingerprint]] is the degenerate w = ∞ case (one global
    * minimum). Backed by the codegen deque expression
    * (graft.functions.WinnowFingerprintsExpr): one O(grams) pass, a
    * narrow projection with no shuffle — the HOF twin below re-scans
    * every window interpreted (O(grams × w) lambda steps, the dominant
    * cost of the winnowed span/edge paths before round 15). Expected
    * density ≈ 2/(w+1) of grams selected. Docs with < k tokens → empty
    * set; docs with fewer than w grams winnow their whole gram
    * sequence as one short window. */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    graft.functions.SketchExpressions.winnowFingerprints(
      transform(tokens(text), t => xxhash64(t)), k, w)

  /** The HOF formulation of [[winnowFingerprints]] — kept as the
    * independent spec twin (DedupSpec asserts whole-fixture value
    * parity against the codegen expression, the gram_strings/q134
    * pattern). Not called from any query path. */
  private[graft] def winnowFingerprintsHof(text: Column, k: Int = 3,
      w: Int = 4): Column =
    bind(gramHashSeq(tokens(text), k)) { g =>
      val m = size(g)
      // seeded with the window's FIRST element, not a Long.MaxValue
      // sentinel: a sentinel survives when the true window minimum
      // equals Long.MaxValue exactly (~2^-64 per window) and would emit
      // pos=0, which downstream 1-based element_at errors on. The
      // first fold step compares g[lo] against itself (strict <, so
      // acc keeps the leftmost) — same result, no sentinel.
      def leftmostMin(lo: Column, hi: Column): Column =
        aggregate(sequence(lo, hi),
          struct(element_at(g, lo).as("h"), lo.as("pos")),
          (acc, p) => when(element_at(g, p) < acc.getField("h"),
            struct(element_at(g, p).as("h"), p.as("pos"))).otherwise(acc))
      when(m === 0, array().cast("array<struct<h:bigint,pos:int>>"))
        .when(m < w, array_distinct(array(leftmostMin(lit(1), m))))
        .otherwise(array_distinct(transform(sequence(lit(1), m - (w - 1)),
          j => leftmostMin(j, j + (w - 1)))))
    }

  /** Distinct hashed k-token shingles — the set representation behind
    * MinHash and exact n-gram Jaccard (see Dedup). Backed by a custom
    * codegen Expression (graft.functions.ShingleHashesExpr): the HOF
    * formulation (transform over sequence + concat_ws + slice) builds a
    * window STRING per shingle in interpreted eval, which was the
    * dominant remaining cost of the near-dup pipeline; the expression
    * chains the token hashes instead — same set semantics, no strings. */
  def shingleSet(text: Column, k: Int = 3): Column =
    graft.functions.SketchExpressions.shingleHashes(
      transform(tokens(text), t => xxhash64(t)), k)

  /** Token bigrams as strings; empty array below 2 tokens (sequence()
    * would count DOWN for stop < start, so the guard is mandatory).
    *
    * PERF: pass a MATERIALIZED token-array column (an attribute bound
    * by an earlier projection), not `tokens(text)` directly — HOF
    * lambdas evaluate interpreted, so an embedded tokenizer tree
    * re-runs once per element and turns the builder quadratic in
    * document length (measured 14 µs/bigram vs sub-µs with a bound
    * array; the q108 profile). [[bigrams]] keeps the convenient
    * text-typed signature for per-row consumers that fold the result
    * immediately (topBigramFraction's single aggregate). */
  def bigramsOf(ts: Column): Column =
    when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1),
        i => concat(element_at(ts, i), lit(" "), element_at(ts, i + 1))))
      .otherwise(array().cast("array<string>"))

  def bigrams(text: Column): Column = bigramsOf(tokens(text))

  /** Add-k-smoothed bigram language model perplexity per document —
    * the CCNet-style statistical quality signal one level up from the
    * unigram scorer (q89): P(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V)
    * with c(w1·) the bigram-PREFIX count and V the corpus vocabulary;
    * ppl = exp(−mean ln P) over the document's bigrams. Fluent text
    * rides the corpus's own transition statistics; shuffled or
    * gibberish text pays the smoothing penalty on every unseen
    * transition.
    *
    * Scale shape: one explode to (doc, bigram) rows, two
    * vocabulary-bounded groupBys (bigram counts, prefix counts), then
    * shuffle joins back on the bigram / prefix keys and one per-doc
    * aggregate — all linear in corpus tokens, no window, no driver
    * state; V and the smoothing constant ride in-plan as a broadcast
    * 1-row aggregate. Deterministic arithmetic end to end, which is
    * what lets q108 carry an exact DuckDB oracle.
    *
    * Returns (id, n_bigrams, ppl) for documents with ≥ 1 bigram;
    * sub-2-token documents carry no transition evidence and are
    * excluded (callers treat them with the length filters, q26). */
  def bigramPerplexity(
      docs: DataFrame, textCol: String, idCol: String,
      addK: Double = 0.5): DataFrame = {
    // (id, bigram, n) computed ONCE and snapshotted: three consumers
    // (model counts, prefix counts, the scoring join) would otherwise
    // each re-run the explode — the bigram construction is the only
    // interpreted-lambda step in the pipeline and dominates when
    // recomputed. The groupBy also shrinks the scoring join to one row
    // per (doc, distinct bigram) with a weight, instead of one per
    // instance. At cluster scale the snapshot is a checkpoint to
    // reliable storage; the relation is corpus-linear either way.
    val bgDoc = docs
      .select(col(idCol).as("id"),
        explode(bind(tokens(col(textCol)))(bigramsOf)).as("bg"))
      .groupBy(col("id"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .localCheckpoint(eager = false)
    val cb = bgDoc.groupBy(col("bg")).agg(sum(col("n")).as("cb"))
    val c1 = bgDoc.groupBy(col("w1")).agg(sum(col("n")).as("c1"))
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("vsz"))
    bgDoc.join(cb, Seq("bg"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        log((col("cb") + lit(addK)) / (col("c1") + lit(addK) * col("vsz"))))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("n_bigrams"),
        exp(-(sum(col("n") * col("logp")) / sum(col("n")))).as("ppl"))
  }

  /** Gopher-style repetition signal: fraction of tokens that are repeats
    * of an earlier token in the same document. */
  def duplicateTokenFraction(text: Column): Column = bind(tokens(text)) { ts =>
    when(size(ts) > 0,
      lit(1.0) - size(array_distinct(ts)).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Gopher-style repetition signal: share of all bigrams taken by the
    * single most frequent bigram. Computed WITHOUT a shuffle: sort the
    * per-document bigram array, then one linear fold finds the longest
    * equal run — per-row compute only, so at 100 TB this stays a narrow
    * projection (the explode + double-groupBy alternative shuffles
    * corpus × bigram rows twice). */
  def topBigramFraction(text: Column): Column =
    bind(tokens(text)) { ts =>
      bind(array_sort(bigramsOf(ts))) { bgs =>
        val best = aggregate(bgs,
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
              .otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best"))
        when(size(bgs) > 0, best.cast("double") / size(bgs)).otherwise(lit(0.0))
      }
    }

  /** PII regexes kept deliberately RE2-compatible (no lookarounds) so the
    * same patterns run in Spark (Java regex) and any RE2-based engine. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction: emails then phone numbers to typed placeholders —
    * one codegen'd regexp pass each, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Per-document TF-IDF term weights: (id, token, w) with
    * w = tf · ln(N/df). Two linear shuffles — term counts per doc, then
    * document frequency per term joined back — the standard inverted-
    * index build, linear in corpus size. `N` rides along in-plan (1-row
    * aggregate broadcast), so no driver-side count. */
  def tfidfWeights(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val terms = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val docFreq = terms.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("df_count"))
    val n = df.agg(count(lit(1)).cast("double").as("n_docs"))
    terms.join(docFreq, Seq("tok")).crossJoin(broadcast(n))
      .select(col("id"), col("tok"),
        (col("tf") * log(col("n_docs") / col("df_count"))).as("w"))
  }

  /** TF-IDF cosine for an explicit candidate-pair relation (u, v): the
    * rerank stage of a block-then-score pipeline. Scoring joins weights
    * through the pair list on the term — work is |pairs| × shared terms,
    * never all-pairs. */
  def tfidfCosine(pairs: DataFrame, weights: DataFrame): DataFrame = {
    val norms = weights.groupBy(col("id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val wa = weights.select(col("id").as("u"), col("tok"), col("w").as("wa"))
    val wb = weights.select(col("id").as("v"), col("tok"), col("w").as("wb"))
    pairs.join(wa, Seq("u")).join(wb, Seq("v", "tok"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("id").as("u"), col("norm").as("na")), Seq("u"))
      .join(norms.select(col("id").as("v"), col("norm").as("nb")), Seq("v"))
      .select(col("u"), col("v"),
        (col("dot") / (col("na") * col("nb"))).as("tfidf_cos"))
  }

  /** TF-IDF query scoring: per-document Σ of the document's weights for
    * the (distinct) query terms — the keyword leg of a hybrid retrieval
    * stack. The query-term set broadcasts (a query is a handful of
    * tokens), so scoring is a semi-join over the posting rows of just
    * those terms — O(query-term postings), never a corpus scan of the
    * weight relation's full vocabulary. Scores round to 4 decimals so
    * downstream RANKS are stable across engines (the oracle recomputes
    * ln/θ in a different libm; rank flips at the 1e-7 level would be
    * noise, not signal). */
  def keywordScores(
      df: DataFrame, textCol: String, idCol: String,
      queryTerms: DataFrame): DataFrame =
    tfidfWeights(df, textCol, idCol)
      .join(broadcast(queryTerms.select(col("tok")).distinct()), Seq("tok"))
      .groupBy(col("id"))
      .agg(round(sum(col("w")), 4).as("score"))

  /** Okapi BM25 query scoring (Robertson/Sparck Jones; the parameter
    * form every production keyword engine ships): per document,
    * Σ_t∈q idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with the
    * Lucene-style always-positive idf = ln((N−df+0.5)/(df+0.5)+1).
    * Same shape as [[keywordScores]] — the query-term set broadcasts
    * and scoring touches only those terms' postings — plus one O(n)
    * doc-length relation and a 1-row avgdl broadcast. Scores round to
    * 4 decimals for engine-stable ranking, as in [[keywordScores]]. */
  def bm25Scores(
      df: DataFrame, textCol: String, idCol: String,
      queryTerms: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val matched = terms
      .join(broadcast(queryTerms.select(col("tok")).distinct()), Seq("tok"))
    val docFreq = matched.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("dfc"))
    val dl = df.select(col(idCol).as("id"),
      size(tokens(col(textCol))).cast("double").as("dl"))
    val stats = df.agg(count(lit(1)).cast("double").as("n_docs"))
      .crossJoin(dl.agg(avg(col("dl")).as("avgdl")))
    matched
      .join(broadcast(docFreq), Seq("tok"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("dfc") + lit(0.5)) / (col("dfc") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(round(sum(col("contrib")), 4).as("score"))
  }

  /** Scale-safe top-k ranking of a scored relation: the k rows with the
    * highest `score` (ties broken by ascending `id`) as an (id, rank)
    * leg for [[rrfFuse]]. The naive formulation — `row_number` over a
    * global un-partitioned window, then `filter(rank <= k)` — forces
    * the FULL scored relation (the entire corpus on a retrieval leg)
    * through a single-partition sort: the textbook scale-killer. This
    * instead takes the top k via `orderBy(...).limit(k)`, which Spark
    * plans as `TakeOrderedAndProject` (per-partition bounded heap +
    * driver-side merge, exchanging at most k rows per partition), and
    * only then materializes rank values with a window over the k-row
    * result — that window's single-partition sort is bounded by k,
    * not by corpus size. The (score desc, id asc) total order and the
    * boundary tie-break are identical to the naive plan, so the output
    * matches it row for row. */
  def rankTopK(scored: DataFrame, score: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .orderBy(score.desc, col("id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(score.desc, col("id"))))
      .select(col("id"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of
    * ranked id lists: rrf(d) = Σ_legs 1/(rrfK + rank_leg(d)), missing
    * legs contributing 0. Each leg is a (id, rank) relation — top-k per
    * leg, so the fusion join is k-bounded however large the corpora the
    * legs ranked; the fused relation never exceeds Σ leg sizes. Returns
    * (id, rrf, <name>_rank …) sorted by (rrf desc, id), cut to `topK`.
    * rrf rounds to 6 decimals: sums of 1/(60+r) for distinct small r
    * are well separated at that precision, and the rounding makes the
    * (rrf, id) output ordering engine-stable. */
  def rrfFuse(
      legs: Seq[(String, DataFrame)], rrfK: Int = 60,
      topK: Int = 10): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one ranked leg")
    val renamed = legs.map { case (name, df) =>
      name -> df.select(col("id"), col("rank").cast("long").as(s"${name}_rank"))
    }
    val joined = renamed.map(_._2).reduce { (a, b) =>
      a.join(b, Seq("id"), "full_outer")
    }
    val rrf = renamed.map { case (name, _) =>
      coalesce(lit(1.0) / (lit(rrfK) + col(s"${name}_rank")), lit(0.0))
    }.reduce(_ + _)
    joined
      .withColumn("rrf", round(rrf, 6))
      .select(col("id") +: col("rrf") +:
        renamed.map { case (n, _) => col(s"${n}_rank") }: _*)
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)
  }

  /** Iterative BPE merge TRAINING (Sennrich et al. 2016) — the step up
    * from q119's single-round pair counts: `rounds` merge rounds, each
    * picking the highest-count adjacent symbol pair (ties toward the
    * lexicographically smallest (a, b)) and applying it greedily
    * left-to-right to every word. Returns one row per round:
    * (round, merged, occurrences).
    *
    * Word state is a separator-encoded STRING — U+001F (unit separator,
    * a character that never occurs in tokens) before every symbol — so the greedy
    * merge is a plain non-overlapping left-to-right string replace of
    * SEP+a+SEP+b with SEP+ab (SEP = U+001F): exactly BPE's
    * application order, identically replayable by any engine's replace() (the
    * q119b oracle unrolls all rounds in DuckDB this way). The leading
    * separator anchors every symbol occurrence, so a symbol that is a
    * substring of another can never false-match.
    *
    * Scale shape: everything is VOCABULARY-bounded — the corpus
    * collapses to (word, count) once, each round is one pair-count
    * aggregate over symbol-split words plus one narrow replace
    * projection, and the winning pair rides as a broadcast 1-row
    * relation (orderBy+limit(1) → TakeOrderedAndProject; no driver
    * collect, no window). Lineage is truncated per round. */
  def bpeTrainMerges(words: DataFrame, wordCol: String, countCol: String,
      rounds: Int): DataFrame =
    bpeCore(words, wordCol, countCol, rounds)._2

  /** BPE ENCODE at the trained state: the weighted symbol inventory
    * after `rounds` merges — run the same training chain and count the
    * resulting subword symbols across the vocabulary (weight = word
    * frequency). This is the train→apply round trip: q119c's oracle
    * replays the full chain and the final segmentation. Returns
    * (symbol, occurrences), the post-merge vocabulary histogram a
    * tokenizer build reads off. */
  def bpeEncodeSymbols(words: DataFrame, wordCol: String, countCol: String,
      rounds: Int): DataFrame = {
    val state = bpeCore(words, wordCol, countCol, rounds)._1
      .select(col("n"), col("st"))
    state.select(col("n"),
        explode(filter(split(col("st"), "\u001f"), x => length(x) > 0))
          .as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("n")).as("occurrences"))
  }

  /** Per-word segment counts at the trained state — the doc-level
    * application surface: join a token stream on `w` to price every
    * document in trained subword units (q119d). Returns (w, n_seg). */
  def bpeWordSegments(words: DataFrame, wordCol: String, countCol: String,
      rounds: Int): DataFrame = {
    val state = bpeCore(words, wordCol, countCol, rounds)._1
    state.select(col("w"),
      size(filter(split(col("st"), "\u001f"), x => length(x) > 0))
        .cast("long").as("n_seg"))
  }

  private def bpeCore(words: DataFrame, wordCol: String, countCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    val sep = "\u001f"
    var state = words.select(col(wordCol).as("w"), col(countCol).as("n"),
      regexp_replace(col(wordCol), "(.)", sep + "$1").as("st"))
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val syms = state.select(col("n"),
        filter(split(col("st"), sep), x => length(x) > 0).as("s"))
      val pairs = syms
        .filter(size(col("s")) >= 2)
        .select(col("n"), explode(
          transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i).as("a"),
              element_at(col("s"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("c"))
      val best = pairs.orderBy(col("c").desc, col("a"), col("b")).limit(1)
      merges += best.select(lit(r).as("round"),
        concat(col("a"), col("b")).as("merged"), col("c").as("occurrences"))
      // LEFT join on a dummy key, not a crossJoin: a round with no
      // pair left to merge (fully-merged or single-char vocabulary)
      // has an EMPTY best, and a crossJoin would annihilate the state
      // — the merge must be a no-op instead (EdgeCaseSpec pins it)
      state = state.withColumn("__k", lit(1))
        .join(broadcast(best.withColumn("__k", lit(1))), Seq("__k"), "left")
        .withColumn("st", when(col("a").isNotNull, expr(
          s"replace(st, concat(char(31), a, char(31), b), concat(char(31), a, b))"))
          .otherwise(col("st")))
        .select(col("w"), col("n"), col("st"))
        .localCheckpoint(eager = false)
    }
    (state, merges.result().reduce(_ unionByName _).orderBy(col("round")))
  }

  /** Tokenizer-coverage report over a (source, token, n) COUNTS
    * relation: per-source occurrence/type OOV against the global top-V
    * vocabulary (count desc, token asc tie-break — deterministic at
    * the V boundary). Taking counts rather than a corpus is the point:
    * the same function serves the batch query (q133, counts fresh from
    * the corpus) AND the standing mergeable counts table the streaming
    * sink maintains — coverage telemetry for a 100 TB corpus at
    * O(vocabulary) cost with NO corpus rescan (StreamingSpec pins
    * streamed-counts ≡ batch equality). Scale shape: the top-V cut
    * rides TakeOrderedAndProject (V is a literal, driver-bounded) and
    * broadcasts back as the membership gate (bounded by the LITERAL V,
    * so the hint is safe by construction); everything else is
    * vocabulary-keyed aggregation. */
  def oovReport(counts: DataFrame, sourceCol: String, tokenCol: String,
      nCol: String, v: Int): DataFrame = {
    require(v >= 1, "vocabulary size must be >= 1")
    val c = counts.select(col(sourceCol).as("source"),
      col(tokenCol).as("token"), col(nCol).as("n"))
    val vocab = c.groupBy(col("token")).agg(sum(col("n")).as("c"))
      .orderBy(col("c").desc, col("token")).limit(v)
      .select(col("token"), lit(1).as("in_v"))
    c.join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("tokens"),
        sum(when(col("in_v").isNull, col("n")).otherwise(lit(0L)))
          .as("oov_tokens"),
        count(when(col("in_v").isNull, 1)).as("oov_types"))
      .withColumn("oov_rate",
        round(col("oov_tokens").cast("double") / col("tokens"), 6))
  }

  /** Full per-document text-statistics projection. */
  def withTextStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    df.withColumn("n_tokens", tokenCount(c))
      .withColumn("n_subwords_est", subwordCountEstimate(c))
      .withColumn("mean_word_len", round(meanWordLength(c), 4))
      .withColumn("digit_ratio", round(digitRatio(c), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(c), 4))
      .withColumn("quality_score", qualityScore(c))
      .withColumn("lang_pred", langId(c))
      .withColumn("fingerprint", fingerprint(c))
  }
}
