package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{GraftQuery, Tables}
import graft.ops.{Classifier, Dedup, DedupCluster, Graph, Similarity, TextAnalysis}

/** Training-data-pipeline operators wired to the driver contract:
  * text statistics, quality scoring, language ID, fingerprinting,
  * near-duplicate detection (MinHash / SimHash / n-gram Jaccard /
  * embedding cosine) and ANN search over `documents` / `embeddings`.
  *
  * SQL-expressible queries carry DuckDB oracles; the sketch-based
  * operators (MinHash/SimHash/LSH) are verified in the ScalaTest suite
  * against exact recomputation instead (driver records rows-only).
  */
object TextVectorQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embeds(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Deterministic near-duplicate corpus: every document plus a copy with
    * the first word dropped, ids offset by 1,000,000. Gives the dedup
    * operators a known ground truth (pair (id, id+1e6) per doc). */
  private[graft] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val perturbed = d
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
    // The local table is ONE small parquet file (one row group → one scan
    // partition), which would serialize the downstream shingling/minhash
    // work onto a single core. One explicit shuffle spreads the corpus
    // across the cores; the EXPLICIT count keeps AQE from coalescing it
    // back down (AQE sizes partitions by bytes, and this corpus is tiny
    // in bytes but heavy in per-row compute). A production corpus
    // arrives as many files and skips this.
    val n = s.sessionState.conf.numShufflePartitions
    d.union(perturbed).repartition(n, col("doc_id"))
  }

  /** The q51-family EXACT shared-shingle edge relation, built ONCE per
    * (session, data dir) and lazily localCheckpointed — ~10 registry
    * queries consume this exact tuple (components q51/q51b, closure
    * q100, rerank q69, split q106, pagerank q73/q156, triangle q151,
    * k-core q153, assortativity q154), and each used to re-run the
    * postings self-join whose duplicate-mass pair term is the probe
    * ledger's one super-linear cost. Verify/Bench run every query in
    * one session — the same shape as a production driver — so the
    * quadratic term is paid once per run, not once per query; every
    * later consumer replays the checkpointed edge blocks. At 100 TB
    * the same move is a reliable `checkpoint(dir)`/Delta-materialized
    * edge table shared across the analytics suite (the SCALING.md
    * localCheckpoint caveat applies — executor loss forfeits local
    * blocks, and a reliable checkpoint trades a distributed write for
    * fault tolerance). */
  // one memo shape for every per-(session, dir) shared build; lifetime
  // is the driver process BY DESIGN (Verify/Bench run once per process
  // over a fixed dir) — a long-lived multi-tenant driver would key
  // eviction on session close instead
  private def memoized[T](
      m: scala.collection.mutable.Map[(SparkSession, String), T],
      s: SparkSession, dir: String)(build: => T): T =
    m.synchronized { m.getOrElseUpdate((s, dir), build) }

  private val edgeMemo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private[graft] def exactShingleEdges(s: SparkSession,
      dir: String): DataFrame = memoized(edgeMemo, s, dir) {
    DedupCluster.sharedShingleEdges(nearDupCorpus(s, dir),
        "text", "doc_id", shingleK = 3, minShared = 10, maxDf = 1000)
      .localCheckpoint(eager = false)
  }

  /** Token counting + corpus stats per language (oracle-checked). */
  val q25TextStats = GraftQuery(
    "q25_text_stats",
    (s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("docs"),
          round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          max(TextAnalysis.tokenCount(col("text"))).as("max_tokens"))
        .orderBy(col("lang")),
    Some("""SELECT lang, count(*) AS docs,
      round(avg(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))),4) AS avg_tokens,
      round(avg(n_chars),4) AS avg_chars,
      max(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) AS max_tokens
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Quality heuristics by source (oracle-checked): mean word length and
    * short-doc share — the portable slice of the quality score. */
  val q26QualityBySource = GraftQuery(
    "q26_quality_by_source",
    (s, dir) =>
      docs(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("docs"),
          round(avg(TextAnalysis.meanWordLength(col("text"))), 4).as("avg_word_len"),
          round(count(when(col("n_chars") < 200, 1)) * 100.0 / count(lit(1)), 2)
            .as("pct_short"))
        .orderBy(col("source")),
    Some("""SELECT source, count(*) AS docs,
      round(avg(coalesce(list_sum(list_transform(
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0),
          x -> len(x))), 0) * 1.0 /
        greatest(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 1)),4)
        AS avg_word_len,
      round(count(CASE WHEN n_chars < 200 THEN 1 END) * 100.0 / count(*),2) AS pct_short
      FROM documents GROUP BY source ORDER BY source"""))

  /** DuckDB re-derivation of TextAnalysis.qualityScore per document —
    * shared by q26b and the curation-pipeline oracle (CurationQueries):
    * every term of the score (length band, digit/punct penalties, mean
    * word length band, stopword coverage) recomputed with the identical
    * weights and term order. DuckDB regexp_replace needs the explicit 'g'
    * flag to strip ALL matches like Spark does. Yields
    * (doc_id, lang, source, text, q). */
  private[queries] val qualityScoredDocsSql: String = {
    val stopList = TextAnalysis.EnglishStopwords.map(w => s"'$w'")
      .mkString("[", ", ", "]")
    s"""SELECT doc_id, lang, source, text, round(
          (CASE WHEN ntok BETWEEN 10 AND 100000 THEN 1.0
                WHEN ntok < 10 THEN ntok / 10.0 ELSE 0.5 END) * 0.3 +
          (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2 +
          (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 +
          (CASE WHEN word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.15 +
          least(stop_ratio * 4.0, 1.0) * 0.15, 6) AS q
      FROM (
        SELECT doc_id, lang, source, text,
          len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) * 1.0 AS ntok,
          len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 /
            greatest(len(text), 1) AS digit_ratio,
          len(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0 /
            greatest(len(text), 1) AS punct_ratio,
          coalesce(list_sum(list_transform(
            list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0),
            x -> len(x))), 0) * 1.0 /
            greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)), 1)
            AS word_len,
          len(list_filter(string_split_regex(lower(text), '\\s+'),
            t -> list_contains($stopList, t))) * 1.0 /
            greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)), 1)
            AS stop_ratio
        FROM documents) feat"""
  }

  /** Composite Gopher/C4-style quality score per source, oracle-checked
    * via the shared per-document re-derivation above. */
  val q26bQualityScore = GraftQuery(
    "q26b_quality_score",
    (s, dir) =>
      docs(s, dir)
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .groupBy(col("source"))
        .agg(
          round(avg(col("q")), 4).as("avg_quality"),
          round(min(col("q")), 4).as("min_quality"),
          round(max(col("q")), 4).as("max_quality"))
        .orderBy(col("source")),
    Some(s"""WITH scored AS ($qualityScoredDocsSql)
      SELECT source, round(avg(q), 4) AS avg_quality,
        round(min(q), 4) AS min_quality, round(max(q), 4) AS max_quality
      FROM scored GROUP BY source ORDER BY source"""))

  /** Vocabulary top-k via explode (generator surface, §2.10) —
    * oracle-checked against DuckDB unnest. */
  val q27TokenTopK = GraftQuery(
    "q27_token_topk",
    (s, dir) =>
      docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("occurrences"))
        .orderBy(col("occurrences").desc, col("token"))
        .limit(20),
    Some("""SELECT token, count(*) AS occurrences
      FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
              x -> len(x) > 0)) AS token FROM documents) t
      GROUP BY token ORDER BY occurrences DESC, token LIMIT 20"""))

  /** Language-ID confusion matrix, oracle-checked: the marker-ratio
    * argmax is plain arithmetic, so the oracle recomputes every score in
    * DuckDB with the same profiles and the same lowest-code tie-break
    * (the alphabetical CASE chain with >= encodes exactly that: an
    * earlier code keeps ties against every later one). */
  val q28LangId = GraftQuery(
    "q28_lang_id",
    (s, dir) =>
      docs(s, dir)
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("docs"))
        .orderBy(col("lang"), col("lang_pred")),
    Some {
      val profiles = TextAnalysis.LanguageProfiles.toSeq.sortBy(_._1)
      val scoreCols = profiles.map { case (lang, words) =>
        val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, t -> list_contains($list, t))) * 1.0 / greatest(len(toks), 1) AS s_$lang"
      }.mkString(",\n          ")
      val langs = profiles.map(_._1)
      val tieChain = langs.init.zipWithIndex.map { case (lang, i) =>
        val laterGte = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
        s"WHEN $laterGte THEN '$lang'"
      }.mkString("\n               ")
      s"""WITH scored AS (
        SELECT lang,
          $scoreCols
        FROM (SELECT lang,
                list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
              FROM documents)),
      pred AS (
        SELECT lang,
          CASE WHEN greatest(${langs.map("s_" + _).mkString(", ")}) = 0 THEN 'und'
               $tieChain
               ELSE '${langs.last}' END AS lang_pred
        FROM scored)
      SELECT lang, lang_pred, count(*) AS docs
      FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""
    })

  /** TRAINED language ID (oracle-exact): the char-3-gram multiclass
    * Naive Bayes ([[Classifier.nbCharGramFit]]) self-trained on the
    * corpus's own lang labels, confusion-matrixed against them — the
    * fastText/CLD-class model a production pipeline runs where q28's
    * marker heuristic is only a screen. The DuckDB oracle refits the
    * ENTIRE model (char grams, dense smoothed per-label weights in
    * integer micros, doc-count priors, exact integer score sums,
    * label-asc argmax tie-break) the way q112 refits the quality NB,
    * so a defect anywhere in the counting fit or the scoring join
    * hash-fails the row. On this fixture the lang labels are
    * independent of the synthetic text, so the matrix mostly reflects
    * priors — the ORACLE checks the machinery; ClassifierSpec holds
    * the learning evidence (a genuinely multilingual corpus with a
    * held-out split and an accuracy floor). Self-training keeps the
    * unseen-gram term exactly zero, so the oracle omits it; the
    * held-out path is spec-pinned. Scale shape: two vocabulary-keyed
    * shuffles to fit, one gram-keyed join to score; the dense model
    * relation is vocabulary × labels, never corpus. */
  val q28bLangIdTrained = GraftQuery(
    "q28b_lang_id_trained", { (s, dir) =>
      val d = docs(s, dir)
      val (w, li) = Classifier.nbCharGramFit(d, "text", "lang", k = 3)
      Classifier.nbCharGramPredict(w, li, d, "doc_id", "text", k = 3)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("pred").as("lang_pred_nb"))
        .agg(count(lit(1)).as("docs"))
        .select(col("lang"), col("lang_pred_nb"), col("docs"))
        .orderBy(col("lang"), col("lang_pred_nb"))
    },
    Some("""WITH base AS (
        SELECT doc_id, lang, lower(text) AS lt FROM documents),
      g AS (SELECT doc_id, lang, unnest(list_transform(
          generate_series(1, greatest(len(lt) - 2, 0)),
          i -> substr(lt, i, 3))) AS g
        FROM base),
      counts AS (SELECT g, lang, count(*) AS cnt FROM g GROUP BY g, lang),
      labs AS (SELECT lang, count(*) AS n_l FROM base GROUP BY lang),
      tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot_l
        FROM counts GROUP BY lang),
      voc AS (SELECT DISTINCT g FROM counts),
      v AS (SELECT count(*) AS v FROM voc),
      nl AS (SELECT (SELECT count(*) FROM base) AS n,
        (SELECT count(*) FROM labs) AS l),
      dense AS (SELECT voc.g, t.lang,
          CAST(round(ln((coalesce(c.cnt, 0) + 1.0) / (t.tot_l + v.v)) * 1e6)
            AS BIGINT) AS w
        FROM voc CROSS JOIN tot t
        LEFT JOIN counts c ON c.g = voc.g AND c.lang = t.lang, v),
      pri AS (SELECT labs.lang,
          CAST(round(ln((labs.n_l + 1.0) / (nl.n + nl.l)) * 1e6) AS BIGINT)
            AS p
        FROM labs, nl),
      dt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
      sc AS (SELECT dt.doc_id, d.lang, CAST(sum(dt.c * d.w) AS BIGINT) AS s
        FROM dt JOIN dense d USING (g) GROUP BY dt.doc_id, d.lang),
      allsc AS (SELECT b.doc_id, p.lang, p.p + coalesce(sc.s, 0) AS score
        FROM (SELECT DISTINCT doc_id FROM base) b
        CROSS JOIN pri p
        LEFT JOIN sc ON sc.doc_id = b.doc_id AND sc.lang = p.lang),
      pred AS (SELECT doc_id, lang AS lang_pred_nb FROM (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rk FROM allsc) r
        WHERE rk = 1)
      SELECT b.lang, p.lang_pred_nb, count(*) AS docs
      FROM base b JOIN pred p USING (doc_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Winnowing fingerprint collision audit (rows-only): identical
    * fingerprints on the doubled corpus = near-dup detection via a single
    * 8-byte key — the cheapest dedup signal that survives small edits. */
  val q29Fingerprint = GraftQuery(
    "q29_fingerprint", { (s, dir) =>
      val fp = nearDupCorpus(s, dir)
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      fp.agg(
        count(lit(1)).as("docs"),
        countDistinct(col("fp")).as("distinct_fingerprints"),
        (count(lit(1)) - countDistinct(col("fp"))).as("collisions"))
    })

  /** Winnowing-guarantee contract row (oracle-checked, q101d pattern) —
    * the sibling contract for q29's rows-only fingerprint family. Five
    * independently-formulated violation predicates over every document,
    * all of which must be false:
    *  - coverage_violation: some window of w consecutive grams
    *    contributes NO selected fingerprint (the winnowing guarantee);
    *  - phantom_fingerprint: a selected (h, pos) whose hash is not the
    *    gram hash actually at that position;
    *  - non_minimal: a selected fingerprint that is not the minimum of
    *    ANY window containing its position;
    *  - gram_hash_mismatch: the ordered builtin-xxhash64 gram sequence
    *    disagrees as a SET with the codegen ShingleHashesExpr — pins
    *    the custom expression's seed-42 hash chain against Spark's own
    *    multi-arg builtin (bit-parity, previously only spec-held);
    *  - fp_not_gram_min: q29's degenerate-winnowing claim — the scalar
    *    fingerprint must equal the gram-sequence minimum.
    * The DuckDB oracle asserts the empty relation, so every violation
    * class rides the driver's hash gate every round. Cost: O(grams × w)
    * per document, narrow projection, no shuffle. */
  val q29bWinnowContract = GraftQuery(
    "q29b_winnow_contract", { (s, dir) =>
      val k = 3; val w = 4
      val d = docs(s, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("g",
          TextAnalysis.gramHashSeq(TextAnalysis.tokens(col("text")), k))
        .withColumn("sel", TextAnalysis.winnowFingerprints(col("text"), k, w))
        .withColumn("fp", TextAnalysis.fingerprint(col("text"), k))
        .withColumn("sh", TextAnalysis.shingleSet(col("text"), k))
      val m = size(col("g"))
      val coverage = when(m >= w,
        exists(sequence(lit(1), m - (w - 1)),
          j => !exists(col("sel"),
            s0 => s0.getField("pos") >= j && s0.getField("pos") <= j + (w - 1))))
        .otherwise(m > 0 && size(col("sel")) === 0)
      val phantom = exists(col("sel"),
        s0 => element_at(col("g"), s0.getField("pos")) =!= s0.getField("h"))
      def minOfSomeWindow(s0: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column = when(m >= w,
          exists(sequence(greatest(lit(1), s0.getField("pos") - (w - 1)),
              least(s0.getField("pos"), m - (w - 1))),
            j => array_min(slice(col("g"), j, lit(w))) === s0.getField("h")))
        .otherwise(array_min(col("g")) === s0.getField("h"))
      val nonMinimal = exists(col("sel"), s0 => !minOfSomeWindow(s0))
      val gramParity = m > 0 &&
        array_sort(array_distinct(col("g"))) =!=
          array_sort(array_distinct(col("sh")))
      val fpMin = m > 0 && col("fp") =!= array_min(col("g"))
      d.select(col("doc_id"),
          coverage.as("coverage_violation"),
          phantom.as("phantom_fingerprint"),
          nonMinimal.as("non_minimal"),
          gramParity.as("gram_hash_mismatch"),
          fpMin.as("fp_not_gram_min"))
        .filter(col("coverage_violation") || col("phantom_fingerprint") ||
          col("non_minimal") || col("gram_hash_mismatch") ||
          col("fp_not_gram_min"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
      CAST(NULL AS BOOLEAN) AS coverage_violation,
      CAST(NULL AS BOOLEAN) AS phantom_fingerprint,
      CAST(NULL AS BOOLEAN) AS non_minimal,
      CAST(NULL AS BOOLEAN) AS gram_hash_mismatch,
      CAST(NULL AS BOOLEAN) AS fp_not_gram_min
      WHERE 1 = 0"""))

  /** MinHash+LSH near-dup detection on the constructed corpus (rows-only;
    * recall vs ground truth asserted in DedupSpec). */
  val q30MinhashNearDup = GraftQuery(
    "q30_minhash_neardup", { (s, dir) =>
      val pairs = Dedup.minhashNearDups(nearDupCorpus(s, dir), "text", "doc_id",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      pairs.agg(
        count(lit(1)).as("pairs_found"),
        count(when(col("id_b") === col("id_a") + 1000000L, 1)).as("true_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
    })

  /** SimHash near-dup detection on the same corpus (rows-only). */
  val q31SimhashNearDup = GraftQuery(
    "q31_simhash_neardup", { (s, dir) =>
      val pairs = Dedup.simhashNearDups(nearDupCorpus(s, dir), "text", "doc_id",
        maxHamming = 3)
      pairs.agg(
        count(lit(1)).as("pairs_found"),
        count(when(col("id_b") === col("id_a") + 1000000L, 1)).as("true_pairs"),
        round(avg(col("hamming")), 4).as("avg_hamming"))
    })

  /** Precision contract row for MinHash-LSH (oracle-checked, q101d
    * pattern): every pair q30's pipeline reports must (a) be ordered
    * id_a < id_b, (b) carry a Jaccard that an INDEPENDENT recompute
    * reproduces — explode-distinct shingles, count shared hashes, and
    * derive |A∪B| = |A|+|B|−|A∩B|, never touching array_intersect /
    * array_union — and (c) clear the declared threshold. Recall is NOT
    * contractible for MinHash (banding keeps a borderline pair only
    * probabilistically; the floor lives in DedupSpec); precision is:
    * the verify step makes every emitted pair an exact claim, and this
    * row pins the claim through the driver's hash gate. Violations are
    * the empty relation; cost is linear in reported pairs × shingles
    * (the pair relation re-joins the exploded shingle table on
    * (id, hash) — the same broadcast-friendly shape as the verify). */
  val q30bMinhashPrecisionContract = GraftQuery(
    "q30b_minhash_precision_contract", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      val shingled = corpus
        .select(col("doc_id"),
          array_distinct(TextAnalysis.shingleSet(col("text"), 3)).as("sh"))
        .filter(size(col("sh")) > 0)
      val sizes = shingled.select(col("doc_id"), size(col("sh")).as("n_sh"))
      val exploded = shingled.select(col("doc_id"), explode(col("sh")).as("g"))
      val inter = pairs.select(col("id_a"), col("id_b"))
        .join(exploded.select(col("doc_id").as("id_a"), col("g")), Seq("id_a"))
        .join(exploded.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_inter"))
      pairs
        .join(inter, Seq("id_a", "id_b"), "left_outer")
        .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
        .withColumn("j2", round(
          coalesce(col("n_inter"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))), 6))
        .filter(col("id_a") >= col("id_b") ||
          col("j2") =!= col("jaccard") || col("j2") < 0.5)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
      CAST(NULL AS BIGINT) AS id_b WHERE 1 = 0"""))

  /** EQUALITY contract row for SimHash banding (oracle-checked): the
    * banded pipeline's pair set must equal the exact all-pairs
    * hamming ≤ 3 relation — both directions, as one violations query.
    * This is the rare approximate op with a DETERMINISTIC completeness
    * guarantee: 3 differing bits cannot touch all 4 of the 16-bit
    * bands (pigeonhole), so every qualifying pair shares a band and
    * survives candidate generation, and the verify filter makes
    * precision exact. The exact side is the O(n²) oracle twin
    * (q101-style, 16 bytes/row through a broadcast nested-loop) —
    * the ANCHOR, never the scale path; the banded side is what runs
    * at 100 TB. */
  val q31bSimhashEqualityContract = GraftQuery(
    "q31b_simhash_equality_contract", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val banded = Dedup.simhashNearDups(corpus, "text", "doc_id",
        maxHamming = 3)
      val sims = corpus.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("sim"))
      val exact = sims.select(col("doc_id").as("id_a"), col("sim").as("sa"))
        .join(broadcast(
          sims.select(col("doc_id").as("id_b"), col("sim").as("sb"))),
          col("id_a") < col("id_b"))
        .withColumn("hamming", Dedup.hamming64(col("sa"), col("sb")))
        .filter(col("hamming") <= 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
      symmetricDiffViolations(banded, exact,
        "banded_only", "exact_only", Seq("id_a", "id_b"))
        .orderBy(col("kind"), col("id_a"), col("id_b"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
      CAST(NULL AS BIGINT) AS id_b,
      CAST(NULL AS VARCHAR) AS kind WHERE 1 = 0"""))

  /** Exact n-gram Jaccard over the known dup pairs, oracle-checked:
    * Jaccard over hashed shingles equals Jaccard over the shingle STRINGS
    * (64-bit collisions aside), so the oracle rebuilds the string shingle
    * sets in DuckDB and recomputes every pair. */
  val q32NgramJaccard = GraftQuery(
    "q32_ngram_jaccard", { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"),
        TextAnalysis.shingleSet(col("text"), 3).as("sh_a"))
      val pert = nearDupCorpus(s, dir).filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id"),
          TextAnalysis.shingleSet(col("text"), 3).as("sh_b"))
      base.join(pert, Seq("doc_id"))
        .withColumn("jaccard", round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6))
        .agg(
          count(lit(1)).as("pairs"),
          round(avg(col("jaccard")), 4).as("avg_jaccard"),
          round(min(col("jaccard")), 4).as("min_jaccard"))
    },
    Some("""WITH sh AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM documents)),
      shp AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(
                  regexp_replace(text, '^\S+\s*', ''), '\s+'), x -> len(x) > 0) AS toks
              FROM documents)),
      pairs AS (
        SELECT round(len(list_intersect(a.s, b.s)) * 1.0 /
          greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS j
        FROM sh a JOIN shp b USING (doc_id))
      SELECT count(*) AS pairs, round(avg(j), 4) AS avg_jaccard,
        round(min(j), 4) AS min_jaccard
      FROM pairs"""))

  /** Exact brute-force ANN top-10 for 5 query vectors (oracle-checked —
    * the cosine accumulation is element-ordered double math on both
    * engines, so scores hash-match at 6 decimals). */
  val q33AnnBrute = GraftQuery(
    "q33_ann_brute", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.bruteForceTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""SELECT query_id, rnk, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
          round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
              n.vec_id) AS rnk
        FROM embeddings q, embeddings n
        WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id) t
      WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  /** The SAME exact top-k contract as q33, through the BOUNDED-shuffle
    * per-partition-heap path — the 100 TB shape: the ranking exchange
    * carries ≤ k×partitions rows per query instead of the full
    * |corpus|×|queries| score relation. Result-identical to q33
    * (asserted in SimilaritySpec), so it shares q33's oracle; this is
    * the benchmark headline for exact ANN (VERDICT r3 §wrong#2). */
  val q33bAnnBrutePartial = GraftQuery(
    "q33b_ann_brute_partial", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.bruteForceTopKPartial(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""SELECT query_id, rnk, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
          round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
              n.vec_id) AS rnk
        FROM embeddings q, embeddings n
        WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id) t
      WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  /** Sign-LSH bucketed ANN (rows-only; recall vs brute force asserted in
    * SimilaritySpec, and emitted per round in the bench JSON). BOTH
    * parameters pinned explicitly so the bench query's candidate-
    * generation cost and output are independent of library default
    * tuning (ADVICE r7: a tables default change silently doubled this
    * query's work between rounds). */
  val q34AnnLsh = GraftQuery(
    "q34_ann_lsh", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.lshTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10,
          planes = 4, tables = 16)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** IVF-style coarse-quantized ANN (rows-only; recall emitted per round
    * in the bench JSON). Switched r8 from the fixed-stride knob
    * (stride=25: recall 0.60 at sf0.001 degrading to 0.42 at sf0.1 —
    * cells ∝ n, so the same nprobe probes an ever-smaller fraction) to
    * the scale-stable cells variant, which holds recall 0.96 at both
    * fixtures; parameters pinned explicitly like q34. */
  val q35AnnIvf = GraftQuery(
    "q35_ann_ivf", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.ivfTopKCells(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, cells = 10, nprobe = 8)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** Product-quantized ANN (rows-only; recall vs brute force floor-
    * asserted in SimilaritySpec and emitted per round in the bench
    * JSON). Where q34/q35 cut WHICH vectors a query scores, PQ cuts
    * what each score COSTS: the scan carries 16 codebook positions per
    * vector instead of 64 floats (~26× compression) and scores with 16
    * table lookups, then re-ranks the top 100 candidates with exact
    * cosine. Parameters pinned explicitly like q34/q35 (r10 grid:
    * recall 1.000 at both fixtures; iters=2 because more Lloyd
    * rounds bought no recall at twice the training cost). */
  val q35bAnnPq = GraftQuery(
    "q35b_ann_pq", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.pqTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, m = 16, ksub = 32, iters = 2, rerank = 100)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** IVF-PQ ANN (rows-only; recall vs brute force floor-asserted in
    * SimilaritySpec and emitted per round in the bench JSON) — the
    * production composition: the trained coarse quantizer prunes the
    * scan to nprobe/cells of the corpus AND each surviving candidate is
    * scored from its 16 codes, so per-query work is sublinear in corpus
    * size and vector-free until the exact top-100 re-rank. Parameters
    * pinned from the r10 grid (recall 1.000 at both fixtures). */
  val q35dAnnIvfPq = GraftQuery(
    "q35d_ann_ivfpq", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.ivfPqTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, cells = 10, nprobe = 8, m = 16, ksub = 32, iters = 2,
          rerank = 100)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** PQ ANN served from a PERSISTED index (rows-only; answers are
    * IDENTICAL to q35b by construction — ADC scores depend only on
    * (codes, codebooks), both of which persist losslessly; asserted
    * through a parquet round-trip in SimilaritySpec). The
    * build-once/query-many split a serving deployment runs: codebooks
    * and the encoded corpus are published as catalog tables via
    * TableStore, and the query side then scans ONLY those tables —
    * (id, 16 codes) per corpus row, no vector payload — plus the raw
    * vectors for the bounded top-100 re-rank join. At 100 TB the
    * index build is the one-time cost and THIS is the per-query plan. */
  val q35cAnnPqIndex = GraftQuery(
    "q35c_ann_pq_index", { (s, dir) =>
      val e = embeds(s, dir)
      val books = Similarity.pqCodebooks(e, "embedding", "vec_id",
        m = 16, ksub = 32, iters = 2)
      val encoded = Similarity.pqEncode(e, "vec_id", "embedding", books, 16)
      // overwrite per call: the tables are derived state keyed to this
      // sf dir — rebuilding keeps Verify (sf0.01) and ad-hoc runs at
      // other scales from serving a stale index for the wrong corpus
      graft.core.TableStore.overwriteTable(s, "default.pq_books", books)
      graft.core.TableStore.overwriteTable(s, "default.pq_codes", encoded)
      Similarity.pqTopKEncoded(
          s.table("default.pq_codes"), s.table("default.pq_books"),
          e, e.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", "vec_id", "embedding",
          k = 10, rerank = 100)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** ANN served from an INCREMENTALLY MAINTAINED IVF-PQ index
    * (rows-only; every layer is exact-equality-anchored in
    * SimilaritySpec: fold-in ≡ direct full encode against the frozen
    * model, untouched cells byte-identical, moved ids leave no stale
    * row). The index lifecycle a standing 100 TB corpus actually runs:
    * seed once on the base corpus (training + full encode — the
    * expensive event), then each ingest batch folds in by encoding
    * against the frozen model and rewriting ONLY its touched cell
    * partitions — never the standing index. Here the corpus's 1-in-5
    * holdout arrives as the ingest batch after seeding on the rest. */
  val q35eAnnIvfPqUpsert = GraftQuery(
    "q35e_ann_ivfpq_upsert", { (s, dir) =>
      val e = embeds(s, dir)
      // unique name per call: Verify and the bench may interleave runs
      // at different sf dirs in one session
      val table =
        s"ivfpq_serve_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      try {
        Similarity.ivfPqSeedIndex(s, table,
          e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding")
        Similarity.ivfPqUpsertIndex(s, table,
          e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
          assumeNewIds = true)
        Similarity.ivfPqServeIndexed(s, table,
            e, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", "vec_id", "embedding", k = 10)
          .orderBy(col("query_id"), col("rnk"))
          .localCheckpoint(eager = true)
      } finally Seq(table, s"${table}__centroids", s"${table}__codebooks")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    })

  /** Violations relation for an ANN result against the exact ranking —
    * the q101d subset-contract pattern generalized to top-k search, so
    * the approximate family's guarantees ride the driver's hash gate
    * (empty relation vs a `WHERE 1=0` oracle) every round instead of
    * living only in SimilaritySpec. Checks, each tagged by `kind`:
    *
    *  - `self_match`   — a query returned itself (always a bug)
    *  - `dup_neighbor` — the same neighbor twice for one query
    *  - `rank_shape`   — ranks not dense 1..n, n > k, or reported
    *                     cosine increasing with rank (rounding is
    *                     monotone, so non-increasing survives round-6)
    *  - `cosine_floor` — a returned neighbor's TRUE cosine (every ANN
    *                     variant here reports candidates re-scored with
    *                     exact cosine) below the query's k-th exact
    *                     brute-force cosine minus `eps`: the neighbor is
    *                     not just missing from the exact top-k, it is
    *                     WORSE than everything in it by more than the
    *                     tolerance — a quality cliff recall floors
    *                     alone cannot see.
    *
    * The first three are invariants of the top-k contract (true on any
    * input); only the floor is empirical, with `eps` pinned per variant
    * from the measured worst-case gap across the three driver fixtures
    * (see each query's doc). The k-th-exact side is the bounded brute
    * leg: |queries|=5 × corpus — the same work q33 already times. */
  private def annContractViolations(
      s: SparkSession, dir: String, ann: DataFrame, k: Int,
      eps: Double): DataFrame = {
    val e = embeds(s, dir)
    val kth = Similarity.bruteForceTopK(
        e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", "embedding", k)
      .groupBy(col("query_id")).agg(min(col("cosine")).as("kth_exact"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
    val shaped = ann
      .withColumn("dense", row_number().over(w))
      .withColumn("prev_cos", lag(col("cosine"), 1).over(w))
    val selfM = shaped.filter(col("neighbor_id") === col("query_id"))
      .select(col("query_id"), col("neighbor_id"), lit("self_match").as("kind"))
    val dups = shaped.groupBy(col("query_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("query_id"), col("neighbor_id"), lit("dup_neighbor").as("kind"))
    val shape = shaped
      .filter(col("rnk") =!= col("dense") || col("rnk") > k ||
        (col("prev_cos").isNotNull && col("cosine") > col("prev_cos")))
      .select(col("query_id"), col("neighbor_id"), lit("rank_shape").as("kind"))
    val floor = shaped.join(kth, Seq("query_id"))
      .filter(col("cosine") < col("kth_exact") - lit(eps))
      .select(col("query_id"), col("neighbor_id"), lit("cosine_floor").as("kind"))
    selfM.unionAll(dups).unionAll(shape).unionAll(floor)
      .orderBy(col("kind"), col("query_id"), col("neighbor_id"))
  }

  private val annContractOracle =
    """SELECT CAST(NULL AS BIGINT) AS query_id,
      CAST(NULL AS BIGINT) AS neighbor_id,
      CAST(NULL AS VARCHAR) AS kind WHERE 1 = 0"""

  /** Symmetric multiset difference as a violations relation, via
    * per-row counts and one full-outer join. NOT
    * `a.exceptAll(b) UNION ALL b.exceptAll(a)`: that plan shape
    * mis-evaluates on Spark 4.1.2 when both branches reuse the same
    * non-trivial child plans (observed on the PQ serving legs: each
    * branch alone counts 0, the union of the two reports every row of
    * one side; reproduced deterministically, gone under this
    * formulation — see q35h's doc). The groupBy-count join evaluates
    * each leg exactly once, carries only (row, count) through the
    * shuffle, and is the formulation that scales anyway. */
  private[graft] def symmetricDiffViolations(
      a: DataFrame, b: DataFrame, aOnly: String, bOnly: String,
      out: Seq[String]): DataFrame = {
    val cols = a.columns.toSeq
    val ga = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__ca"))
    val gb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cb"))
    ga.join(gb, cols, "full_outer")
      .filter(coalesce(col("__ca"), lit(0L)) =!= coalesce(col("__cb"), lit(0L)))
      .withColumn("kind",
        when(coalesce(col("__ca"), lit(0L)) > coalesce(col("__cb"), lit(0L)),
          lit(aOnly)).otherwise(lit(bOnly)))
      .select(out.map(col) :+ col("kind"): _*)
  }

  /** Sign-LSH ANN contract row (oracle-checked, q101d pattern): the
    * structural top-k invariants plus the cosine floor at eps = 0.10 —
    * LSH is the recall-loosest variant here (floor 0.88), and its
    * returned-but-not-top-k neighbors are still bucket-collision
    * near-misses, not arbitrary vectors. Measured worst gap below the
    * k-th exact cosine across the three r12 fixtures: 0.018 / 0.020 /
    * 0.025 (sf0.001/0.01/0.1) — 4× headroom under the floor. */
  val q34bAnnLshContract = GraftQuery(
    "q34b_ann_lsh_contract", { (s, dir) =>
      val e = embeds(s, dir)
      annContractViolations(s, dir,
        Similarity.lshTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10,
          planes = 4, tables = 16),
        k = 10, eps = 0.10)
    },
    Some(annContractOracle))

  /** IVF ANN contract row (oracle-checked): recall holds 0.96 at both
    * fixtures, and probed-cell misses are cell-boundary neighbors —
    * eps = 0.05. Measured worst gap across the three r12 fixtures:
    * 0.016 / 0.008 / 0.001 — 3× headroom, tightening with scale. */
  val q35fAnnIvfContract = GraftQuery(
    "q35f_ann_ivf_contract", { (s, dir) =>
      val e = embeds(s, dir)
      annContractViolations(s, dir,
        Similarity.ivfTopKCells(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, cells = 10, nprobe = 8),
        k = 10, eps = 0.05)
    },
    Some(annContractOracle))

  /** IVF-PQ ANN contract row (oracle-checked): the production
    * composition re-ranks its top-100 ADC candidates with exact cosine
    * and holds recall 1.000 at both fixtures — eps = 0.05 covers the
    * coarse-probe miss case without ever tolerating a quality cliff
    * (measured worst gap ≤ 0.0013 across the three r12 fixtures). */
  val q35gAnnIvfPqContract = GraftQuery(
    "q35g_ann_ivfpq_contract", { (s, dir) =>
      val e = embeds(s, dir)
      annContractViolations(s, dir,
        Similarity.ivfPqTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, cells = 10, nprobe = 8, m = 16, ksub = 32, iters = 2,
          rerank = 100),
        k = 10, eps = 0.05)
    },
    Some(annContractOracle))

  /** Served-PQ equality contract row (oracle-checked): serving from the
    * CATALOG-published index must answer IDENTICALLY to querying the
    * same index in memory — ADC scores depend only on (codes,
    * codebooks), both persisted losslessly, so the TableStore boundary
    * is exact, not an empirical floor. The one deliberately-pinned
    * subtlety: the index is built ONCE and eagerly checkpointed before
    * it is both published and queried. Comparing two independently
    * TRAINED indexes instead would not be a storage contract at all —
    * Lloyd's float averages merge partial aggregates in task-completion
    * order, so re-evaluating the training subplan inside each
    * `exceptAll` branch yields low-bit-different codebooks and
    * boundary-flipped candidate sets (observed: 50/50 rows flagged on a
    * plan that retrains per branch). The checkpoint pins one index; the
    * violations then gate exactly what a deployment needs: the
    * published bytes answer like the in-memory ones. SimilaritySpec
    * asserts the same through a parquet round-trip; this row pins it
    * through the driver's hash gate every round. (The symmetric diff is
    * the count-join formulation — the union-of-exceptAll shape was the
    * second pinned subtlety: with both branches reusing these exact
    * child plans it reported all 50 in-memory rows as missing while
    * each branch alone counted zero. See symmetricDiffViolations.) */
  val q35hAnnPqServedEquality = GraftQuery(
    "q35h_ann_pq_served_equality", { (s, dir) =>
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
      val books = Similarity.pqCodebooks(e, "embedding", "vec_id",
        m = 16, ksub = 32, iters = 2).localCheckpoint(eager = true)
      val encoded = Similarity.pqEncode(e, "vec_id", "embedding", books, 16)
        .localCheckpoint(eager = true)
      graft.core.TableStore.overwriteTable(s, "default.pq_books_c", books)
      graft.core.TableStore.overwriteTable(s, "default.pq_codes_c", encoded)
      val inMem = Similarity.pqTopKEncoded(
        encoded, books,
        e, q, "vec_id", "vec_id", "embedding", "vec_id", "embedding",
        k = 10, rerank = 100)
      val served = Similarity.pqTopKEncoded(
        s.table("default.pq_codes_c"), s.table("default.pq_books_c"),
        e, q, "vec_id", "vec_id", "embedding", "vec_id", "embedding",
        k = 10, rerank = 100)
      symmetricDiffViolations(served, inMem, "served_only", "inmem_only",
          Seq("query_id", "neighbor_id"))
        .orderBy(col("kind"), col("query_id"), col("neighbor_id"))
    },
    Some(annContractOracle))

  /** Incremental-index equality contract row (oracle-checked): serving
    * from the SEEDED-then-UPSERTED IVF-PQ index must answer identically
    * to serving from a DIRECT full encode of the same corpus against
    * the same frozen model — the q35e lifecycle's core guarantee
    * (fold-in loses nothing, rewrites only touched cells), promoted
    * from SimilaritySpec to the driver's hash gate. Both legs read the
    * seed-trained centroid/codebook tables published once by
    * ivfPqSeedIndex, so the comparison is deterministic: same model,
    * same ADC arithmetic, same exact re-rank — any surviving diff means
    * the upsert path dropped, duplicated, or mis-celled a vector. */
  val q35iUpsertEqualityContract = GraftQuery(
    "q35i_upsert_equality_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 5)
      val table =
        s"ivfpq_ctr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      try {
        Similarity.ivfPqSeedIndex(s, table,
          e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding")
        Similarity.ivfPqUpsertIndex(s, table,
          e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
          assumeNewIds = true)
        val upserted = Similarity.ivfPqServeIndexed(s, table,
          e, q, "vec_id", "embedding", "vec_id", "embedding", k = 10)
        val direct = Similarity.ivfPqTopKEncoded(
          Similarity.ivfPqIndex(e, "vec_id", "embedding",
            s.table(s"${table}__centroids"), s.table(s"${table}__codebooks")),
          s.table(s"${table}__codebooks"), s.table(s"${table}__centroids"),
          e, q, "vec_id", "vec_id", "embedding", "vec_id", "embedding",
          k = 10)
        symmetricDiffViolations(upserted, direct,
            "upserted_only", "direct_only", Seq("query_id", "neighbor_id"))
          .orderBy(col("kind"), col("query_id"), col("neighbor_id"))
          .localCheckpoint(eager = true)
      } finally Seq(table, s"${table}__centroids", s"${table}__codebooks")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    },
    Some(annContractOracle))

  /** Exact embedding near-dup pairs above a cosine threshold
    * (oracle-checked). Exact all-pairs is the small-sf ORACLE variant
    * only — it is deliberately NOT in the benchmark headline; the benched
    * scale path is q36b below. Vectors are unit-normalized ONCE per row
    * before the pair join, so each pair costs a single dot product
    * instead of recomputing both norms n² times. */
  val q36EmbedNearDup = GraftQuery(
    "q36_embed_neardup", { (s, dir) =>
      def normalized(idAlias: String, vecAlias: String) =
        embeds(s, dir)
          .select(col("vec_id").as(idAlias),
            transform(col("embedding"), x => x.cast("double")).as("vd"))
          .withColumn("norm",
            sqrt(graft.functions.SketchExpressions.dotProduct(col("vd"), col("vd"))))
          .select(col(idAlias), transform(col("vd"), x => x / col("norm")).as(vecAlias))
      normalized("id_a", "vn_a").crossJoin(normalized("id_b", "vn_b"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine",
          round(Similarity.dotProduct(col("vn_a"), col("vn_b")), 6))
        .filter(col("cosine") >= 0.45)
        .select(col("id_a"), col("id_b"), col("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),6) AS cosine
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),6) >= 0.45
      ORDER BY id_a, id_b"""))

  /** Deterministic embedding near-dup corpus: every vector plus a copy
    * perturbed per-element by factors {0.96..1.04} (cyclic in the dim
    * index — multiplicative AND index-dependent, so the copy is not a
    * trivial rescale; cosine(original, copy) ≈ 0.9996). Ground truth:
    * pair (id, id+1e6) per vector. */
  private[graft] def embedNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).select(col("vec_id"), col("embedding"))
    val perturbed = e.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.02) * (pmod(i, lit(5)) - lit(2)))).cast("float"))
        .as("embedding"))
    // same single-file parallelism fix as nearDupCorpus
    e.union(perturbed)
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
  }

  /** Multi-table sign-LSH embedding near-dup on the doubled corpus — the
    * 100 TB-shaped twin of q36 and the benchmark headline for the family
    * (rows-only; pair-set equality vs the exact path asserted in
    * DedupSpec). At 8 planes × 8 tables the expected miss rate for
    * cosine ≥ 0.98 pairs is < 1e-9 — effectively exact, at ~n²/256 of the
    * pair work per table. */
  val q36bEmbedNearDupLsh = GraftQuery(
    "q36b_embed_neardup_lsh", { (s, dir) =>
      val pairs = SemanticBlocking.NearDupLsh.pairs(embedNearDupCorpus(s, dir))
      pairs.agg(
        count(lit(1)).as("pairs_found"),
        count(when(col("id_b") === col("id_a") + 1000000L, 1)).as("true_pairs"),
        round(avg(col("cosine")), 4).as("avg_cosine"))
    })

  /** Lower-threshold (0.8) twin of q36b, exercising the LSH recall
    * formula's threshold sensitivity: per-plane collision probability is
    * p = 1 − arccos(cos)/π, so at the 0.98 operating point p ≈ 0.936 and
    * 8 planes × 8 tables is effectively exact — but at a 0.8 threshold
    * boundary p drops to ≈ 0.795 and the SAME geometry would miss ~25 %
    * of boundary pairs (1−(1−p⁸)⁸ ≈ 0.76). The plane/table budget must
    * move with the threshold: 6 planes × 16 tables restores
    * 1−(1−p⁶)¹⁶ ≈ 0.99 at the boundary while still pruning ~n²/2⁶ of the
    * pair work per table. Rows-only here; recall vs the exact all-pairs
    * result at this threshold is asserted in DedupSpec. */
  val q36cEmbedNearDupLsh08 = GraftQuery(
    "q36c_embed_neardup_lsh08", { (s, dir) =>
      val pairs = SemanticBlocking.NearDupLsh08.pairs(embedNearDupCorpus(s, dir))
      pairs.agg(
        count(lit(1)).as("pairs_found"),
        count(when(col("id_b") === col("id_a") + 1000000L, 1)).as("true_pairs"),
        round(avg(col("cosine")), 4).as("avg_cosine"))
    })

  /** LSH-pair subset contract row (oracle-checked, q101d pattern):
    * every pair the bucketed sign-LSH path emits must appear in the
    * exact all-pairs relation at the same threshold, with the same
    * rounded cosine — LSH has one-sided error by construction (bucket
    * collision only PRUNES candidates; survivors are verified with the
    * exact kernel), so the violations relation is empty. What this pins
    * beyond DedupSpec's recall floor: both paths normalize, score, and
    * round identically — a drift in either implementation (a changed
    * rounding, a skipped normalization) surfaces as a hash failure in
    * the driver's gate, not just a slightly-off recall number. */
  val q36dLshSubsetContract = GraftQuery(
    "q36d_lsh_subset_contract", { (s, dir) =>
      val corpus = embedNearDupCorpus(s, dir)
      val lsh = SemanticBlocking.NearDupLsh.pairs(corpus)
      val exact = Dedup.exactEmbeddingPairs(corpus,
        "embedding", "vec_id", SemanticBlocking.NearDupLsh.threshold)
      lsh.join(exact, Seq("id_a", "id_b", "cosine"), "left_anti")
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
      CAST(NULL AS BIGINT) AS id_b WHERE 1 = 0"""))

  /** SemDeDup semantic dedup, exact variant (oracle-checked): per-doc
    * (id, kept) under the deterministic min-id-representative rule — a
    * document is pruned iff some LOWER id anywhere in the corpus has
    * cosine ≥ 0.45 with it. The DuckDB oracle replays the rule with
    * list_cosine_similarity at the same 6-decimal rounding. O(n²) by
    * construction — the ORACLE twin; q101b below is the blocked scale
    * path. */
  val q101SemanticDedup = GraftQuery(
    "q101_semantic_dedup", { (s, dir) =>
      Dedup.semanticDedup(embeds(s, dir), "embedding", "vec_id", 0.45)
        .orderBy(col("id"))
    },
    Some("""SELECT a.vec_id AS id,
        NOT EXISTS (
          SELECT 1 FROM embeddings b
          WHERE b.vec_id < a.vec_id
            AND round(list_cosine_similarity(
              a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
        ) AS kept
      FROM embeddings a ORDER BY id"""))

  /** Blocked SemDeDup (rows-only): the same pruning rule scoped to
    * trained k-means cells, so pair work is Σ|cell|² instead of n² —
    * the 100 TB path — with 2-probe assignment buying back
    * cell-boundary pairs (the synthetic embeddings are near-uniform on
    * the sphere, so single-probe blocking misses most threshold-level
    * pairs; real paraphrase clusters sit well inside cells). One-sided
    * error (pruned ⊆ exact pruned), cells=1 ≡ exact, probes=k ≡ exact,
    * and probe-monotonicity are the DedupSpec contracts; the bench
    * emits the pruned-set recall per round. */
  val q101bSemanticDedupBlocked = GraftQuery(
    "q101b_semantic_dedup_blocked", { (s, dir) =>
      val e = embeds(s, dir)
      SemanticBlocking.dedup(e, SemanticBlocking.trainedCells(e))
        .orderBy(col("id"))
    })

  /** Blocked semantic dedup SERVED from a persisted centroid index —
    * the build/serve split the PQ family established (q35b trains
    * in-query; q35c serves from published tables). Training (2 Lloyd
    * iterations) runs at most once per corpus and is published via
    * TableStore with a corpus fingerprint; every later execution —
    * including every bench pass after the first — reads the 8-row
    * centroid table and pays only assignment + the Σ|cell|² pair join.
    * Same pruning rule, same probes, same one-sided-error contract as
    * q101b (DedupSpec asserts result equality given equal centroids);
    * this is the per-query plan a standing deployment runs. */
  val q101cSemanticDedupIndex = GraftQuery(
    "q101c_semantic_dedup_index", { (s, dir) =>
      val e = embeds(s, dir)
      SemanticBlocking.dedup(e, SemanticBlocking.servedCells(s, e))
        .orderBy(col("id"))
    })

  /** One-sided-error CONTRACT row (oracle-checked): the blocked
    * variant's pruned set must be a subset of the exact variant's —
    * blocking may MISS cross-cell near-duplicates, but every document
    * it prunes carries an exact rounded cosine ≥ threshold to a lower
    * id, so it can never prune what the exact rule keeps. This query
    * emits the violations (blocked pruned ∧ exact kept); the DuckDB
    * oracle asserts the empty relation, which pins the subset property
    * through the driver's hash gate every round instead of only in
    * DedupSpec. */
  val q101dSemanticSubsetContract = GraftQuery(
    "q101d_semantic_subset_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val blocked = SemanticBlocking.dedup(e, SemanticBlocking.trainedCells(e))
        .select(col("id"), col("kept").as("kept_blocked"))
      val exact = Dedup.semanticDedup(e, "embedding", "vec_id",
          SemanticBlocking.Threshold)
        .select(col("id"), col("kept").as("kept_exact"))
      blocked.join(exact, Seq("id"))
        .filter(!col("kept_blocked") && col("kept_exact"))
        .select(col("id"))
        .orderBy(col("id"))
    },
    Some("SELECT CAST(NULL AS BIGINT) AS id WHERE 1 = 0"))

  /** The exact rule's kept seed as (vec_id, embedding): the shared rep
    * set of q101e and q101h. */
  private def exactKeptSeed(seed: DataFrame): DataFrame =
    SemanticBlocking.keptBy(seed, Dedup.semanticDedup(seed, "embedding",
        "vec_id", SemanticBlocking.Threshold))
      .select(col("vec_id"), col("embedding"))

  /** Incremental semantic dedup, exact variant (oracle-checked): a 1/5
    * "crawl batch" (vec_id % 5 = 0) vetted against the RETAINED
    * representatives of the already-deduplicated 4/5 standing corpus —
    * the per-batch operation a standing pipeline runs instead of
    * re-deduplicating corpus+batch from scratch. Verdict rule is
    * non-recursive and deterministic (pruned iff within threshold of a
    * kept representative, or of a lower-id batch member), so DuckDB
    * replays it exactly: kept_seed via q101's min-id rule, then both
    * EXISTS legs at the same 6-decimal rounding. */
  val q101eSemanticDedupIncremental = GraftQuery(
    "q101e_semantic_dedup_incremental", { (s, dir) =>
      val (seed, inc) = SemanticBlocking.seedAndCrawl(embeds(s, dir))
      val keptRep = exactKeptSeed(seed)
      Dedup.semanticDedupIncremental(keptRep, inc, "embedding", "vec_id",
        SemanticBlocking.Threshold)
        .orderBy(col("id"))
    },
    Some("""WITH seed AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
      inc AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
      kept_seed AS (
        SELECT a.* FROM seed a
        WHERE NOT EXISTS (
          SELECT 1 FROM seed b WHERE b.vec_id < a.vec_id
            AND round(list_cosine_similarity(
              a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45))
      SELECT a.vec_id AS id,
        NOT (EXISTS (
            SELECT 1 FROM kept_seed s
            WHERE round(list_cosine_similarity(
              a.embedding::DOUBLE[], s.embedding::DOUBLE[]), 6) >= 0.45)
          OR EXISTS (
            SELECT 1 FROM inc b WHERE b.vec_id < a.vec_id
              AND round(list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45))
        AS kept
      FROM inc a ORDER BY id"""))

  /** Blocked incremental semantic dedup (rows-only): the scale path of
    * q101e — both comparison directions scoped to shared k-means cells
    * from the PERSISTED centroid index, so a crawl batch costs
    * O(batch × probed-cell members) and the standing corpus is never
    * rescanned. The corpus representatives here are the blocked
    * pipeline's own kept set (self-consistent deployment state); the
    * one-sided-error and probe-monotonicity contracts vs the exact
    * incremental rule are asserted in DedupSpec with a SHARED rep set,
    * where the subset property is well-defined. */
  val q101fSemanticDedupIncrementalBlocked = GraftQuery(
    "q101f_semantic_dedup_incr_blocked", { (s, dir) =>
      val e = embeds(s, dir)
      val (seed, inc) = SemanticBlocking.seedAndCrawl(e)
      val cents = SemanticBlocking.servedCells(s, e)
      val keptRep = SemanticBlocking.keptSeed(seed, cents)
        .select(col("vec_id"), col("embedding"))
      Dedup.semanticDedupIncrementalBlocked(keptRep, inc, "embedding",
        "vec_id", SemanticBlocking.Threshold, cents,
        probes = SemanticBlocking.Probes)
        .orderBy(col("id"))
    })

  /** One-sided-error contract row for the INCREMENTAL blocked path
    * (oracle-checked, q101d pattern): against a SHARED rep set — the
    * exact rule's kept seed, the only footing where the subset property
    * is well-defined — every id the blocked incremental rule prunes
    * must also be pruned by the exact incremental rule. Blocking may
    * MISS cross-cell near-duplicates (recall, floor-asserted in
    * DedupSpec), but a blocked prune is always a real prune: the
    * emitted violations (blocked-pruned ∧ exact-kept) are the empty
    * relation, pinned through the driver's hash gate every round. */
  val q101hIncrSubsetContract = GraftQuery(
    "q101h_incr_subset_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val (seed, inc) = SemanticBlocking.seedAndCrawl(e)
      val keptRep = exactKeptSeed(seed)
      val cents = SemanticBlocking.trainedCells(e)
      val exact = Dedup.semanticDedupIncremental(
          keptRep, inc, "embedding", "vec_id", SemanticBlocking.Threshold)
        .select(col("id"), col("kept").as("kept_exact"))
      Dedup.semanticDedupIncrementalBlocked(keptRep, inc, "embedding",
          "vec_id", SemanticBlocking.Threshold, cents,
          probes = SemanticBlocking.Probes)
        .select(col("id"), col("kept").as("kept_blocked"))
        .join(exact, Seq("id"))
        .filter(!col("kept_blocked") && col("kept_exact"))
        .select(col("id"))
        .orderBy(col("id"))
    },
    Some("SELECT CAST(NULL AS BIGINT) AS id WHERE 1 = 0"))

  /** Substring-level duplicated spans (oracle-checked row for row):
    * every maximal run of token positions whose 5-gram occurs more than
    * once in the corpus — the Lee-et-al-style span dedup that catches
    * repeated boilerplate INSIDE otherwise-unique documents. The DuckDB
    * oracle re-derives the spans from the gram STRINGS (no hashes) with
    * its own gaps-and-islands window, so the hash-count formulation is
    * cross-checked against a string-exact independent one. */
  val q104DuplicatedSpans = GraftQuery(
    "q104_duplicated_spans", { (s, dir) =>
      Dedup.duplicatedSpans(docs(s, dir), "text", "doc_id", n = 5)
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        FROM documents),
      grams AS (
        SELECT doc_id, i AS start,
          array_to_string(list_slice(t, i, i + 4), ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5),
      counts AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
      dup AS (
        SELECT doc_id, start FROM grams JOIN counts USING (g) WHERE c >= 2),
      marked AS (
        SELECT doc_id, start,
          CASE WHEN start - lag(start) OVER (PARTITION BY doc_id
            ORDER BY start) > 5 THEN 1 ELSE 0 END AS ni
        FROM dup),
      isl AS (
        SELECT doc_id, start, sum(ni) OVER (PARTITION BY doc_id
          ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
        FROM marked)
      SELECT doc_id, min(start) AS span_start, max(start) + 4 AS span_end,
        max(start) + 4 - min(start) + 1 AS span_tokens
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start"""))

  /** Hard-negative mining for contrastive training (oracle-checked):
    * for each query vector, its top-20 exact neighbors split into
    * same-label positives and different-label negatives, and the
    * HIGHEST-ranked negative — the "hard negative" a contrastive
    * objective trains against — is surfaced with its rank and cosine.
    * The DuckDB oracle replays the ranking (cos desc, id asc — the
    * q33/q114 tie discipline), the label split, and the argmin-rank
    * selection. Scale shape: the bounded-heap top-k kernel (exchange
    * ≤ k×partitions per query) + two label joins + one query-keyed
    * aggregate; the query set bounds the output. */
  val q125HardNegativeMining = GraftQuery(
    "q125_hard_negative_mining", { (s, dir) =>
      val e = embeds(s, dir)
      val knn = Similarity.bruteForceTopKPartial(
        e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", "vec_id", "embedding", k = 20)
      val lab = e.select(col("vec_id"), col("label"))
      val j = knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("q_lab")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_lab")), Seq("neighbor_id"))
      j.groupBy(col("query_id"))
        .agg(
          count(when(col("q_lab") === col("n_lab"), 1)).as("n_pos"),
          count(when(col("q_lab") =!= col("n_lab"), 1)).as("n_neg"),
          min(when(col("q_lab") =!= col("n_lab"),
            struct(col("rnk"), col("neighbor_id"), col("cosine")))).as("hn"))
        .select(col("query_id"), col("n_pos"), col("n_neg"),
          col("hn.neighbor_id").as("hard_neg_id"),
          col("hn.rnk").as("hard_neg_rank"),
          col("hn.cosine").as("hard_neg_cosine"))
        .orderBy(col("query_id"))
    },
    Some("""WITH knn AS (
        SELECT query_id, neighbor_id, rnk, cos6 FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            round(list_cosine_similarity(
              q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cos6,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(
                q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                n.vec_id) AS rnk
          FROM embeddings q, embeddings n
          WHERE q.vec_id < 50 AND n.vec_id <> q.vec_id) t
        WHERE rnk <= 20),
      lab AS (SELECT vec_id, label FROM embeddings),
      j AS (
        SELECT k.query_id, k.neighbor_id, k.rnk, k.cos6,
          ql.label AS q_lab, nl.label AS n_lab
        FROM knn k
        JOIN lab ql ON k.query_id = ql.vec_id
        JOIN lab nl ON k.neighbor_id = nl.vec_id),
      counts AS (
        SELECT query_id,
          count(CASE WHEN q_lab = n_lab THEN 1 END) AS n_pos,
          count(CASE WHEN q_lab <> n_lab THEN 1 END) AS n_neg
        FROM j GROUP BY query_id),
      hsel AS (
        SELECT query_id, neighbor_id AS hard_neg_id,
          rnk AS hard_neg_rank, cos6 AS hard_neg_cosine,
          row_number() OVER (PARTITION BY query_id ORDER BY rnk) AS rr
        FROM j WHERE q_lab <> n_lab)
      SELECT c.query_id, c.n_pos, c.n_neg, h.hard_neg_id,
        h.hard_neg_rank, h.hard_neg_cosine
      FROM counts c
      LEFT JOIN (SELECT * FROM hsel WHERE rr = 1) h USING (query_id)
      ORDER BY query_id"""))

  /** Retrieval-quality EVAL metrics (oracle-checked): MRR and
    * recall@10 of the exact cosine ranking against label relevance
    * (same label = relevant) — the evaluation harness a retrieval /
    * embedding pipeline runs on every index or model change. Per-query
    * metrics are computed in exact integer micros (round(1e6·x) per
    * query, summed as longs, divided once) so the averages are one
    * identical-operand IEEE division in both engines — the q113
    * discipline. One bounded top-k pass + a label-count broadcast. */
  val q126RetrievalMetrics = GraftQuery(
    "q126_retrieval_metrics", { (s, dir) =>
      val e = embeds(s, dir)
      val queries = e.filter(col("vec_id") < 50)
      val knn = Similarity.bruteForceTopKPartial(
        e, queries, "vec_id", "embedding", "vec_id", "embedding", k = 10)
      val lab = e.select(col("vec_id"), col("label"))
      val labTotals = lab.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
      val j = knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("q_lab")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_lab2")), Seq("neighbor_id"))
        .withColumn("rel", col("q_lab") === col("n_lab2"))
      val perQuery = j.groupBy(col("query_id"), col("q_lab"))
        .agg(
          count(when(col("rel"), 1)).as("hits"),
          min(when(col("rel"), col("rnk"))).as("first_rel_rank"))
        .join(broadcast(labTotals.withColumnRenamed("label", "q_lab")),
          Seq("q_lab"))
        // relevant pool excludes the query itself; recall denominator is
        // what COULD appear in the top-10
        .withColumn("denom", least(lit(10L), col("n_lab") - 1))
        .withColumn("rr_micro", coalesce(
          round(lit(1000000.0) / col("first_rel_rank")).cast("long"), lit(0L)))
        .withColumn("rec_micro", when(col("denom") > 0,
          round(col("hits") * lit(1000000.0) / col("denom")).cast("long"))
          .otherwise(lit(0L)))
      perQuery.agg(
        count(lit(1)).as("n_queries"),
        round(sum(col("rr_micro")) / (count(lit(1)) * lit(1e6)), 4)
          .as("mrr"),
        round(sum(col("rec_micro")) / (count(lit(1)) * lit(1e6)), 4)
          .as("recall_at_10"))
    },
    Some("""WITH knn AS (
        SELECT query_id, neighbor_id, rnk FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(
                q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                n.vec_id) AS rnk
          FROM embeddings q, embeddings n
          WHERE q.vec_id < 50 AND n.vec_id <> q.vec_id) t
        WHERE rnk <= 10),
      lab AS (SELECT vec_id, label FROM embeddings),
      tot AS (SELECT label, count(*) AS n_lab FROM lab GROUP BY label),
      j AS (
        SELECT k.query_id, k.rnk, ql.label AS q_lab,
          (ql.label = nl.label) AS rel
        FROM knn k
        JOIN lab ql ON k.query_id = ql.vec_id
        JOIN lab nl ON k.neighbor_id = nl.vec_id),
      pq AS (
        SELECT j.query_id,
          count(CASE WHEN j.rel THEN 1 END) AS hits,
          min(CASE WHEN j.rel THEN j.rnk END) AS first_rel_rank,
          least(10, first(t.n_lab) - 1) AS denom
        FROM j JOIN tot t ON j.q_lab = t.label
        GROUP BY j.query_id),
      m AS (
        SELECT query_id,
          coalesce(CAST(round(1000000.0 / first_rel_rank) AS BIGINT), 0)
            AS rr_micro,
          CASE WHEN denom > 0
            THEN CAST(round(hits * 1000000.0 / denom) AS BIGINT)
            ELSE 0 END AS rec_micro
        FROM pq)
      SELECT count(*) AS n_queries,
        round(sum(rr_micro) / (count(*) * 1e6), 4) AS mrr,
        round(sum(rec_micro) / (count(*) * 1e6), 4) AS recall_at_10
      FROM m"""))

  /** Label-noise candidates, confident-learning style (oracle-checked):
    * the documents whose trained-NB prediction most confidently
    * disagrees with their weak label — the review queue a labeling
    * pipeline surfaces for human audit. Pure composition of the q112
    * fit; deterministic order on (rounded |score| desc, doc_id). */
  val q127LabelNoiseCandidates = GraftQuery(
    "q127_label_noise_candidates", { (s, dir) =>
      import graft.ops.Classifier
      val labeled = docs(s, dir).withColumn("y",
        TextAnalysis.qualityScore(col("text")) >= 0.88)
      Classifier.nbScores(labeled, "doc_id", "text", "y")
        .filter((col("score") > 0) =!= col("y"))
        .select(col("doc_id"), col("y"),
          round(col("score"), 6).as("score_r6"),
          round(abs(col("score")), 6).as("conf_r6"))
        .orderBy(col("conf_r6").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH scored AS (${TextVectorQueries.qualityScoredDocsSql}),
      lab AS (SELECT doc_id, text, (q >= 0.88) AS y FROM scored),
      tok AS (SELECT doc_id, y,
          unnest(list_filter(string_split_regex(lower(text), '\\s+'),
            x -> len(x) > 0)) AS token
        FROM lab),
      tc AS (SELECT token,
          count(CASE WHEN y THEN 1 END) AS hi,
          count(CASE WHEN NOT y THEN 1 END) AS lo
        FROM tok GROUP BY token),
      nbtot AS (SELECT sum(hi) AS tot_hi, sum(lo) AS tot_lo, count(*) AS vv
        FROM tc),
      wt AS (SELECT token,
          ln((hi + 1.0) / (tot_hi + vv)) - ln((lo + 1.0) / (tot_lo + vv)) AS w
        FROM tc, nbtot),
      pri AS (SELECT
          ln((count(CASE WHEN y THEN 1 END) + 1.0) / (count(*) + 2.0)) -
          ln((count(CASE WHEN NOT y THEN 1 END) + 1.0) / (count(*) + 2.0))
            AS bias
        FROM lab),
      dt AS (SELECT doc_id, token, count(*) AS c
        FROM tok GROUP BY doc_id, token),
      ds AS (SELECT doc_id, sum(c * w) AS s
        FROM dt JOIN wt USING (token) GROUP BY doc_id),
      sc AS (SELECT l.doc_id, l.y, coalesce(ds.s, 0) + pri.bias AS score
        FROM lab l LEFT JOIN ds ON l.doc_id = ds.doc_id, pri)
      SELECT doc_id, y, round(score, 6) AS score_r6,
        round(abs(score), 6) AS conf_r6
      FROM sc WHERE (score > 0) <> y
      ORDER BY conf_r6 DESC, doc_id LIMIT 20"""))

  /** Semantic decontamination, exact variant (oracle-checked): every
    * corpus vector within cosine 0.45 of ANY benchmark vector (the
    * vec_id % 20 slice stands in for an eval set) is flagged, with its
    * hit count — the paraphrase-level extension of the n-gram
    * decontamination family (q93/q98/q99). DuckDB replays the full
    * cross scoring at the same 6-decimal rounding. The corpus never
    * shuffles: bench broadcasts, hits aggregate on id. */
  val q124SemanticDecontaminate = GraftQuery(
    "q124_semantic_decontaminate", { (s, dir) =>
      val e = embeds(s, dir)
      Dedup.semanticDecontaminate(
          e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0),
          "embedding", "vec_id", 0.45)
        .orderBy(col("id"))
    },
    Some("""WITH bench AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
      corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
      hits AS (
        SELECT c.vec_id AS id, count(*) AS n_hits
        FROM corp c JOIN bench b
          ON round(list_cosine_similarity(
            c.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
        GROUP BY c.vec_id)
      SELECT c.vec_id AS id, coalesce(h.n_hits, 0) AS n_hits,
        coalesce(h.n_hits, 0) > 0 AS contaminated
      FROM corp c LEFT JOIN hits h ON c.vec_id = h.id
      ORDER BY id"""))

  /** Blocked semantic decontamination (rows-only): corpus vectors
    * probe 2 cells and compare only against benchmark vectors assigned
    * there — corpus × bench pair work cut to the probed-cell overlap.
    * q124c pins the one-sided contract. */
  val q124bSemanticDecontaminateBlocked = GraftQuery(
    "q124b_semantic_decontaminate_blocked", { (s, dir) =>
      val e = embeds(s, dir)
      val cents = SemanticBlocking.trainedCells(e)
      Dedup.semanticDecontaminateBlocked(
          e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0),
          "embedding", "vec_id", SemanticBlocking.Threshold, cents,
          probes = SemanticBlocking.Probes)
        .orderBy(col("id"))
    })

  /** One-sided-error contract for blocked decontamination
    * (oracle-checked, q101d pattern): every doc the blocked pass flags
    * must be flagged by the exact pass, and its probed-cell hit count
    * can never exceed the exact hit count. Violations are the empty
    * relation. */
  val q124cDecontaminateSubsetContract = GraftQuery(
    "q124c_decontaminate_subset_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val corpus = e.filter(col("vec_id") % 20 =!= 0)
      val bench = e.filter(col("vec_id") % 20 === 0)
      val blocked = Dedup.semanticDecontaminateBlocked(corpus, bench,
          "embedding", "vec_id", SemanticBlocking.Threshold,
          SemanticBlocking.trainedCells(e), probes = SemanticBlocking.Probes)
        .select(col("id"), col("n_hits").as("nh_blocked"),
          col("contaminated").as("c_blocked"))
      val exact = Dedup.semanticDecontaminate(
          corpus, bench, "embedding", "vec_id", SemanticBlocking.Threshold)
        .select(col("id"), col("n_hits").as("nh_exact"),
          col("contaminated").as("c_exact"))
      blocked.join(exact, Seq("id"))
        .filter((col("c_blocked") && !col("c_exact")) ||
          col("nh_blocked") > col("nh_exact"))
        .select(col("id"))
        .orderBy(col("id"))
    },
    Some("SELECT CAST(NULL AS BIGINT) AS id WHERE 1 = 0"))

  /** Vector-family END-TO-END composition (oracle-checked, the q122
    * pattern for the embedding wave): semantic dedup of the working
    * corpus (q101's exact min-id rule) → semantic decontamination of
    * the survivors against the benchmark slice (q124) → retrieval-
    * quality eval on the CLEAN corpus (q126's MRR/recall@10 in integer
    * micros). One row carries the funnel counts and the final metrics;
    * the DuckDB oracle replays the whole chain — both EXISTS screens
    * at the family's 6-decimal rounding, then the ranking and metric
    * arithmetic — so the operators are verified COMPOSED, not just
    * alone. */
  val q129VectorPipeline = GraftQuery(
    "q129_vector_pipeline", { (s, dir) =>
      val e = embeds(s, dir)
      val bench = e.filter(col("vec_id") % 20 === 0)
      val work = e.filter(col("vec_id") % 20 =!= 0)
      // the q122 lesson applied: `kept` feeds the clean chain AND the
      // funnel count — snapshot it once or the O(n²) dedup re-executes
      // per consumer
      val kept = work.join(
        Dedup.semanticDedup(work, "embedding", "vec_id", 0.45)
          .filter(col("kept")).select(col("id")),
        work("vec_id") === col("id"))
        .select(work.columns.map(work(_)).toIndexedSeq: _*)
        .localCheckpoint(eager = true)
      val cleanIds = Dedup.semanticDecontaminate(
          kept, bench, "embedding", "vec_id", 0.45)
        .filter(!col("contaminated")).select(col("id"))
      val clean = kept
        .join(cleanIds, kept("vec_id") === cleanIds("id"), "left_semi")
        .localCheckpoint(eager = true)
      val knn = Similarity.bruteForceTopKPartial(
        clean, clean.filter(col("vec_id") < 100),
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
      val lab = clean.select(col("vec_id"), col("label"))
      val labTotals = lab.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
      val j = knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("q_lab")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_lab2")), Seq("neighbor_id"))
        .withColumn("rel", col("q_lab") === col("n_lab2"))
      val perQuery = j.groupBy(col("query_id"), col("q_lab"))
        .agg(count(when(col("rel"), 1)).as("hits"),
          min(when(col("rel"), col("rnk"))).as("first_rel_rank"))
        .join(broadcast(labTotals.withColumnRenamed("label", "q_lab")),
          Seq("q_lab"))
        .withColumn("denom", least(lit(10L), col("n_lab") - 1))
        .withColumn("rr_micro", coalesce(
          round(lit(1000000.0) / col("first_rel_rank")).cast("long"),
          lit(0L)))
        .withColumn("rec_micro", when(col("denom") > 0,
          round(col("hits") * lit(1000000.0) / col("denom")).cast("long"))
          .otherwise(lit(0L)))
      val metrics = perQuery.agg(
        count(lit(1)).as("n_queries"),
        round(sum(col("rr_micro")) / (count(lit(1)) * lit(1e6)), 4)
          .as("mrr"),
        round(sum(col("rec_micro")) / (count(lit(1)) * lit(1e6)), 4)
          .as("recall_at_10"))
      metrics
        .crossJoin(work.agg(count(lit(1)).as("n_working")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
        .select(col("n_working"), col("n_kept"), col("n_clean"),
          col("n_queries"), col("mrr"), col("recall_at_10"))
    },
    Some("""WITH bench AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 20 = 0),
      work AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 20 <> 0),
      kept AS (
        SELECT a.* FROM work a
        WHERE NOT EXISTS (
          SELECT 1 FROM work b WHERE b.vec_id < a.vec_id
            AND round(list_cosine_similarity(
              a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45)),
      clean AS (
        SELECT k.* FROM kept k
        WHERE NOT EXISTS (
          SELECT 1 FROM bench b
          WHERE round(list_cosine_similarity(
            k.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45)),
      knn AS (SELECT query_id, neighbor_id, rnk FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(
                q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                n.vec_id) AS rnk
          FROM clean q, clean n
          WHERE q.vec_id < 100 AND n.vec_id <> q.vec_id) t
        WHERE rnk <= 10),
      tot AS (SELECT label, count(*) AS n_lab FROM clean GROUP BY label),
      j AS (
        SELECT k.query_id, k.rnk, ql.label AS q_lab,
          (ql.label = nl.label) AS rel
        FROM knn k
        JOIN clean ql ON k.query_id = ql.vec_id
        JOIN clean nl ON k.neighbor_id = nl.vec_id),
      pq AS (
        SELECT j.query_id,
          count(CASE WHEN j.rel THEN 1 END) AS hits,
          min(CASE WHEN j.rel THEN j.rnk END) AS first_rel_rank,
          least(10, first(t.n_lab) - 1) AS denom
        FROM j JOIN tot t ON j.q_lab = t.label
        GROUP BY j.query_id),
      m AS (
        SELECT query_id,
          coalesce(CAST(round(1000000.0 / first_rel_rank) AS BIGINT), 0)
            AS rr_micro,
          CASE WHEN denom > 0
            THEN CAST(round(hits * 1000000.0 / denom) AS BIGINT)
            ELSE 0 END AS rec_micro
        FROM pq)
      SELECT (SELECT count(*) FROM work) AS n_working,
        (SELECT count(*) FROM kept) AS n_kept,
        (SELECT count(*) FROM clean) AS n_clean,
        count(*) AS n_queries,
        round(sum(rr_micro) / (count(*) * 1e6), 4) AS mrr,
        round(sum(rec_micro) / (count(*) * 1e6), 4) AS recall_at_10
      FROM m"""))

  /** Winnowed duplicated-spans (rows-only): the scale path of q104 —
    * only the MOSS-selected fingerprints shuffle (≈ 2/(w+1) of gram
    * positions), with the winnowing guarantee ensuring every repeat of
    * ≥ n+w−1 tokens is still caught. Extents are fingerprint-sparse,
    * so the rows differ from q104's by design; q104c pins the
    * containment contract and DedupSpec the recall floor + the w=1
    * degeneracy (≡ the exact variant). */
  val q104bDuplicatedSpansWinnowed = GraftQuery(
    "q104b_duplicated_spans_winnowed", { (s, dir) =>
      Dedup.duplicatedSpansWinnowed(docs(s, dir), "text", "doc_id",
        n = 5, w = 4)
        .orderBy(col("doc_id"), col("span_start"))
    })

  /** Containment contract for the winnowed span path (oracle-checked,
    * q101d pattern): every winnow-selected position whose fingerprint
    * reaches corpus count ≥ 2 must be a position whose FULL n-gram —
    * hashed by the exact variant's independent string-window xxhash64,
    * not the winnowing chain — also reaches count ≥ 2. A surviving row
    * would mean the sparse path invented a duplicated position the
    * exact path denies (possible only through an ~n²/2⁶⁴ hash
    * collision, the same caveat q104 documents). Violations are the
    * empty relation. */
  val q104cWinnowSpanContract = GraftQuery(
    "q104c_winnow_span_contract", { (s, dir) =>
      val n = 5; val w = 4
      val d = docs(s, dir)
      val sel = d.select(col("doc_id"),
          explode(TextAnalysis.winnowFingerprints(col("text"), n, w)).as("fp"))
        .select(col("doc_id"), col("fp.pos").as("start"), col("fp.h").as("wh"))
      val dupW = sel.join(
        sel.groupBy(col("wh")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("wh")), Seq("wh"))
        .select(col("doc_id"), col("start"))
      val toks = d.select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("toks"))
      val grams = toks.filter(size(col("toks")) >= n)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(1), size(col("toks")) - n + 1),
            i => xxhash64(concat_ws(" ", slice(col("toks"), i, lit(n)))))))
        .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("gh"))
      val dupG = grams.join(
        grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("gh")), Seq("gh"))
        .select(col("doc_id"), col("start"))
      dupW.join(dupG, Seq("doc_id", "start"), "left_anti")
        .orderBy(col("doc_id"), col("start"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
      CAST(NULL AS INT) AS start WHERE 1 = 0"""))

  /** Normalization idempotence contract (oracle-checked, q101d
    * pattern): the text normalization behind the q20/q62 exact-dedup
    * keys must be IDEMPOTENT — normalize(normalize(x)) = normalize(x)
    * for every document — or keys drift between a raw-input pass and a
    * re-curation pass over already-normalized text, silently splitting
    * dup groups. Violations (with both hash values for drill-down) vs
    * the empty relation. One narrow projection, no shuffle. */
  val q62bNormalizeIdempotentContract = GraftQuery(
    "q62b_normalize_idempotent_contract", { (s, dir) =>
      val once = Dedup.normalizeText(col("text"))
      val twice = Dedup.normalizeText(Dedup.normalizeText(col("text")))
      docs(s, dir)
        .select(col("doc_id"), xxhash64(once).as("h_once"),
          xxhash64(twice).as("h_twice"))
        .filter(col("h_once") =!= col("h_twice"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
      CAST(NULL AS BIGINT) AS h_once, CAST(NULL AS BIGINT) AS h_twice
      WHERE 1 = 0"""))

  /** Duplicated-span BURDEN per source (oracle-checked): how much of
    * each source's token mass sits inside Lee-style duplicated spans —
    * the per-source accounting that tells a curation run WHERE the
    * boilerplate lives before any scrubbing decision. Composes q104's
    * span derivation with a doc join; the oracle replays the whole
    * chain (gram counts, islands, the join, the ratio). */
  val q104dSpanBurden = GraftQuery(
    "q104d_span_burden", { (s, dir) =>
      val d = docs(s, dir)
      val spans = Dedup.duplicatedSpans(d, "text", "doc_id", n = 5)
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(sum(col("span_tokens")).as("span_toks"),
          count(lit(1)).as("n_spans"))
      d.select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          count(col("span_toks")).as("docs_with_spans"),
          sum(col("ntok")).as("tokens"),
          coalesce(sum(col("span_toks")), lit(0L)).as("span_tokens"),
          coalesce(sum(col("n_spans")), lit(0L)).as("spans"))
        .withColumn("burden_pct", round(
          col("span_tokens") * 100.0 / greatest(col("tokens"), lit(1L)), 2))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        FROM documents),
      grams AS (
        SELECT doc_id, i AS start,
          array_to_string(list_slice(t, i, i + 4), ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5),
      counts AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
      dup AS (
        SELECT doc_id, start FROM grams JOIN counts USING (g) WHERE c >= 2),
      marked AS (
        SELECT doc_id, start,
          CASE WHEN start - lag(start) OVER (PARTITION BY doc_id
            ORDER BY start) > 5 THEN 1 ELSE 0 END AS ni
        FROM dup),
      isl AS (
        SELECT doc_id, start, sum(ni) OVER (PARTITION BY doc_id
          ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
        FROM marked),
      spans AS (
        SELECT doc_id,
          max(start) + 4 - min(start) + 1 AS span_tokens
        FROM isl GROUP BY doc_id, island),
      per_doc AS (
        SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS span_toks,
          count(*) AS n_spans
        FROM spans GROUP BY doc_id),
      base AS (
        SELECT d.source, d.doc_id, CAST(len(t.t) AS BIGINT) AS ntok,
          p.span_toks, p.n_spans
        FROM documents d JOIN toks t USING (doc_id)
        LEFT JOIN per_doc p USING (doc_id))
      SELECT source, count(*) AS docs,
        count(span_toks) AS docs_with_spans,
        CAST(sum(ntok) AS BIGINT) AS tokens,
        CAST(coalesce(sum(span_toks), 0) AS BIGINT) AS span_tokens,
        CAST(coalesce(sum(n_spans), 0) AS BIGINT) AS spans,
        round(coalesce(sum(span_toks), 0) * 100.0 /
          greatest(sum(ntok), 1), 2) AS burden_pct
      FROM base GROUP BY source ORDER BY source"""))

  /** Transitive dedup clustering over the doubled corpus, fully
    * oracle-checked: shared-shingle candidate edges (≥ 10 common 3-gram
    * shingles, stop-shingle guard at df ≤ 1000) → connected components
    * (large-star/small-star) → survivor accounting. The DuckDB oracle
    * re-derives the SAME edge relation from string shingles and computes
    * components by recursive-CTE transitive closure — an independent
    * algorithm, so the component structure itself is cross-checked, not
    * just recomputed. Survivors = total − clustered + clusters (one
    * canonical doc kept per cluster). */
  val q51DedupClusters = GraftQuery(
    "q51_dedup_clusters", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      // q51 deliberately does NOT consume exactShingleEdges: it is the
      // bench's control2 row (BASELINE.md band 2.6–3.1 s = edge build +
      // components loop), and the memo would hollow the min-of-3 out to
      // the components loop alone, silently moving the band
      val edges = DedupCluster.sharedShingleEdges(
        corpus, "text", "doc_id", shingleK = 3, minShared = 10, maxDf = 1000)
      val comp = DedupCluster.connectedComponents(edges)
      val sizes = comp.groupBy(col("root")).agg(count(lit(1)).as("n"))
      // total corpus size stays in-plan (1-row agg cross join), no
      // driver-side count
      sizes.agg(
          count(lit(1)).as("clusters"),
          sum(col("n")).as("clustered_docs"),
          max(col("n")).as("largest_cluster"))
        .crossJoin(corpus.agg(count(lit(1)).as("total")))
        .select(col("clusters"), col("clustered_docs"), col("largest_cluster"),
          (col("total") - col("clustered_docs") + col("clusters")).as("survivors"))
    },
    Some("""WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      walk(node, front) AS (
        SELECT u, u FROM sym
        UNION
        SELECT w.node, s.v FROM walk w JOIN sym s ON s.u = w.front),
      comp AS (SELECT node, min(front) AS root FROM walk GROUP BY node),
      sizes AS (SELECT root, count(*) AS n FROM comp GROUP BY root)
      SELECT count(*) AS clusters,
        CAST(sum(n) AS BIGINT) AS clustered_docs,
        max(n) AS largest_cluster,
        (SELECT count(*) FROM corpus) - CAST(sum(n) AS BIGINT) + count(*) AS survivors
      FROM sizes"""))

  /** Data-dependent recursive CTE: transitive closure of the REAL
    * shared-shingle candidate-edge relation through the SQL front door
    * (WITH RECURSIVE over a data relation — q96's calendar scaffold
    * exercises the UnionLoop engine only at trivial generated
    * cardinality). Spark 4.1's UnionLoop executes UNION ALL recursion
    * only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which cannot express
    * set-convergence on a cyclic graph — so the closure runs as
    * depth-bounded BFS: each iteration's frontier is the previous
    * step's DISTINCT (node, reached) pairs, and a step counter bounds
    * termination at depth 30 ≫ any observed component diameter
    * (largest fixture cluster: 6 docs). An insufficient bound cannot
    * pass silently — the parity check below goes false and the oracle
    * row fails. The edge relation is materialized ONCE (localCheckpoint)
    * before the loop so each UnionLoop iteration re-reads checkpoint
    * blocks, not the shingle self-join lineage.
    *
    * The result is cross-checked IN-PLAN against the iterative
    * DataFrame engine: `cc_parity` is bool_and over a full-outer join
    * of the SQL closure's (node, min-reachable) labels against
    * `DedupCluster.connectedComponents` — two independent algorithms
    * (frontier closure vs large-star/small-star) must produce identical
    * component labelings, and the DuckDB oracle recomputes the closure a
    * third way. Scale boundary, documented: the closure materializes
    * every (node, reachable) pair — O(Σ|C|²) over component sizes — so
    * the SQL front door serves moderate cluster masses; the
    * star-contraction loop (q51) IS the 100 TB path, which is exactly
    * why both must agree. */
  val q100RecursiveClosure = GraftQuery(
    "q100_recursive_closure", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val edges = exactShingleEdges(s, dir)
      edges.createOrReplaceTempView("q100_edges")
      val sqlComp = s.sql("""WITH RECURSIVE sym AS (
          SELECT u, v FROM q100_edges
          UNION SELECT v AS u, u AS v FROM q100_edges),
        walk(node, front, depth) AS (
          SELECT DISTINCT u, u, 0 FROM sym
          UNION ALL
          SELECT DISTINCT w.node, s.v, w.depth + 1
          FROM walk w JOIN sym s ON s.u = w.front
          -- depth < 30 is the SAME component-diameter assumption as
          -- DedupCluster.connectedComponents(maxIter = 30); both fail
          -- LOUDLY beyond it (parity-false here, require there) rather
          -- than silently truncating — change them together
          WHERE w.depth < 30)
        SELECT node, min(front) AS sql_root FROM walk GROUP BY node""")
      val dfComp = DedupCluster.connectedComponents(edges)
        .withColumnRenamed("root", "df_root")
      val parity = sqlComp.join(dfComp, Seq("node"), "full_outer")
        .agg(coalesce(expr("bool_and(sql_root <=> df_root)"), lit(true))
          .as("cc_parity"))
      val sizes = sqlComp.groupBy(col("sql_root")).agg(count(lit(1)).as("n"))
      sizes.agg(
          count(lit(1)).as("clusters"),
          sum(col("n")).as("clustered_docs"),
          max(col("n")).as("largest_cluster"))
        .crossJoin(corpus.agg(count(lit(1)).as("total")))
        .crossJoin(parity)
        .select(col("clusters"), col("clustered_docs"), col("largest_cluster"),
          (col("total") - col("clustered_docs") + col("clusters")).as("survivors"),
          col("cc_parity"))
    },
    Some("""WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      walk(node, front) AS (
        SELECT u, u FROM sym
        UNION
        SELECT w.node, s.v FROM walk w JOIN sym s ON s.u = w.front),
      comp AS (SELECT node, min(front) AS root FROM walk GROUP BY node),
      sizes AS (SELECT root, count(*) AS n FROM comp GROUP BY root)
      SELECT count(*) AS clusters,
        CAST(sum(n) AS BIGINT) AS clustered_docs,
        max(n) AS largest_cluster,
        (SELECT count(*) FROM corpus) - CAST(sum(n) AS BIGINT) + count(*) AS survivors,
        true AS cc_parity
      FROM sizes"""))

  /** Int8 scalar quantization of the embedding corpus, oracle-checked:
    * the oracle recomputes the identical quantize/dequantize arithmetic
    * per element AND asserts the construction guarantee (every
    * reconstruction error ≤ half a quantization step) — so both the
    * values and the contract are verified. avg_rel_err is the mean
    * relative L2 reconstruction error. */
  val q64QuantizeInt8 = GraftQuery(
    "q64_quantize_int8", { (s, dir) =>
      val q = graft.ops.Quantize.withInt8(embeds(s, dir), "embedding")
        .withColumn("vd", transform(col("embedding"), _.cast("double")))
        .withColumn("xr", graft.ops.Quantize.dequantized)
        .withColumn("st",
          zip_with(col("maxs"), col("mins"), (a, b) => (a - b) / 255.0))
      val diffSq = aggregate(
        zip_with(col("vd"), col("xr"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v)
      val normSq = aggregate(col("vd"), lit(0.0), (acc, v) => acc + v * v)
      val ok = forall(
        arrays_zip(col("vd"), col("xr"), col("st")),
        t => abs(t.getField("vd") - t.getField("xr")) <=
          t.getField("st") / 2.0 * 1.000000001)
      q.select(
          when(normSq > 0, sqrt(diffSq) / sqrt(normSq)).as("rel_err"),
          ok.as("ok"), size(col("qvec")).as("d"))
        .agg(
          count(lit(1)).as("vectors"),
          first(col("d")).as("dims"),
          round(avg(col("rel_err")), 4).as("avg_rel_err"),
          expr("bool_and(ok)").as("within_half_step"))
    },
    Some("""WITH dims AS (
        SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
          unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings),
      stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY i),
      recon AS (
        SELECT vec_id, x, (mx - mn) / 255.0 AS st,
          CASE WHEN mx > mn
            THEN mn + round((x - mn) / ((mx - mn) / 255.0)) * ((mx - mn) / 255.0)
            ELSE mn END AS xr
        FROM dims JOIN stats USING (i)),
      per_vec AS (
        SELECT vec_id,
          CASE WHEN sum(x * x) > 0
            THEN sqrt(sum((x - xr) * (x - xr))) / sqrt(sum(x * x)) END AS rel_err,
          bool_and(abs(x - xr) <= st / 2.0 * 1.000000001) AS ok,
          count(*) AS d
        FROM recon GROUP BY vec_id)
      SELECT count(*) AS vectors, first(d) AS dims,
        round(avg(rel_err), 4) AS avg_rel_err,
        bool_and(ok) AS within_half_step
      FROM per_vec"""))

  /** IVF ANN probing k-means-TRAINED centroids instead of q35's strided
    * sample (rows-only; recall floor + Lloyd-descent invariants in
    * SimilaritySpec). Trained cells tighten the inverted lists, which is
    * what keeps nprobe (and thus scan fraction) low at corpus scale. */
  val q65AnnIvfTrained = GraftQuery(
    "q65_ann_ivf_trained", { (s, dir) =>
      val e = embeds(s, dir)
      val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id",
        k = 10, iters = 4)
      Similarity.ivfTopKWithCentroids(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          cents, k = 10, nprobe = 6)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** Contract row for the TRAINED-centroid IVF (oracle-checked, q101d
    * pattern): q65's output under the same structural invariants as the
    * q34b/q35f/q35g family — no self-match, no duplicate neighbor,
    * dense monotone ranks — plus the cosine floor at eps = 0.05.
    * Trained centroids place the inverted lists better than the
    * data-point seeds, so this is the TIGHTEST floor of the IVF family:
    * measured worst gap below the k-th exact cosine across the three
    * driver fixtures is 0.0 (the trained index returns the exact
    * top-10 at every SF — DedupSpec's recall telemetry reads 1.00);
    * eps = 0.05 leaves the same relative headroom the rest of the
    * family carries. */
  val q65bIvfTrainedContract = GraftQuery(
    "q65b_ivf_trained_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val cents = Similarity.kmeansCentroids(e, "embedding", "vec_id",
        k = 10, iters = 4)
      annContractViolations(s, dir,
        Similarity.ivfTopKWithCentroids(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          cents, k = 10, nprobe = 6),
        k = 10, eps = 0.05)
    },
    Some(annContractOracle))

  /** Unigram log-probability scoring — the statistical quality filter
    * (CCNet/C4-style): each document scores the mean ln-probability of
    * its tokens under the corpus unigram distribution; gibberish and
    * rare-token-heavy documents score low and get flagged. Two linear
    * shuffles build the language model (token counts + join back), the
    * normalizer rides in-plan as a broadcast 1-row aggregate — the
    * standard perplexity-filter shape minus the n-gram backoff, fully
    * recomputable in SQL, which is why it is exactly oracle-checked. */
  val q89UnigramLogprob = GraftQuery(
    "q89_unigram_logprob", { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      val total = counts.agg(sum(col("tf")).cast("double").as("n_tokens"))
      val probs = counts.crossJoin(broadcast(total))
        .select(col("tok"), log(col("tf") / col("n_tokens")).as("logp"))
      val perDoc = tok.join(probs, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(avg(col("logp")).as("mean_logp"))
      perDoc.agg(
        count(lit(1)).as("docs"),
        round(avg(col("mean_logp")), 4).as("avg_mean_logp"),
        round(min(col("mean_logp")), 4).as("worst_mean_logp"),
        count(when(col("mean_logp") < -9.0, 1)).as("flagged_docs"))
    },
    Some("""WITH tok AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS tok
        FROM documents),
      counts AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
      total AS (SELECT CAST(sum(tf) AS DOUBLE) AS n_tokens FROM counts),
      probs AS (SELECT tok, ln(tf / n_tokens) AS logp FROM counts, total),
      per_doc AS (
        SELECT doc_id, avg(logp) AS mean_logp
        FROM tok JOIN probs USING (tok) GROUP BY doc_id)
      SELECT count(*) AS docs,
        round(avg(mean_logp), 4) AS avg_mean_logp,
        round(min(mean_logp), 4) AS worst_mean_logp,
        count(CASE WHEN mean_logp < -9.0 THEN 1 END) AS flagged_docs
      FROM per_doc"""))

  /** Exact k-nearest-neighbor GRAPH (oracle-checked): every embedding's
    * top-5 cosine neighbors over the whole corpus — the all-to-all
    * backbone of graph-based curation (dedup clustering over kNN edges,
    * label propagation, kNN-classifier quality passes). O(n²) by
    * construction — the ORACLE ANCHOR (q101's role for semantic dedup);
    * q109b is the cell-blocked scale path. The ranking exchange is
    * already the bounded-heap shape (≤ k×partitions rows per vertex). */
  val q109KnnGraph = GraftQuery(
    "q109_knn_graph", { (s, dir) =>
      val e = embeds(s, dir)
      Similarity.bruteForceTopKPartial(
          e, e, "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""SELECT query_id, rnk, neighbor_id, cosine FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
          round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
              n.vec_id) AS rnk
        FROM embeddings q, embeddings n
        WHERE n.vec_id <> q.vec_id) t
      WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** The 100 TB path of q109: pair work scoped to shared k-means cells
    * of the PERSISTED centroid index (probes·replicas·Σ|cell|² — the
    * blocked semantic-dedup budget; no broadcast of either corpus
    * side). probes = 4 / replicas = 2 because the fixture embeddings'
    * 5-NN edges align weakly with the 8 coarse cells (single-probe
    * recall ≈ 0.5); cluster-closure replication plus the wider probe
    * recovers edge recall 0.93 at every fixture SF. Rows-only —
    * blocking still loses cell-boundary neighbors (floor asserted in
    * SimilaritySpec); q109c pins the quality contract through the
    * driver's gate. */
  val q109bKnnGraphBlocked = GraftQuery(
    "q109b_knn_graph_blocked", { (s, dir) =>
      val e = embeds(s, dir)
      SemanticBlocking.knnGraph(e, SemanticBlocking.servedCells(s, e))
        .orderBy(col("query_id"), col("rnk"))
    })

  /** Contract row for the blocked kNN graph (oracle-checked, q101d
    * pattern): the q34b structural invariants — no self-edge, no
    * duplicate neighbor, dense monotone ranks — plus the cosine floor
    * against EVERY vertex's exact k-th neighbor (the per-vertex kth
    * comes from the exact graph, so the floor covers all n vertices,
    * not a sampled query set). eps = 0.12: measured worst gap below
    * the exact 5th cosine across the three driver fixtures is
    * 0.045 / 0.067 / 0.062 (KnnGapProbe, cells=8 probes=4
    * replicas=2) — ~2× headroom; a substitute edge is a probed-cell
    * near-miss, never an arbitrary vector. */
  val q109cKnnGraphContract = GraftQuery(
    "q109c_knn_graph_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val blocked = SemanticBlocking.knnGraph(e, SemanticBlocking.trainedCells(e))
      val kth = Similarity.bruteForceTopKPartial(
          e, e, "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .groupBy(col("query_id")).agg(min(col("cosine")).as("kth_exact"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
      val shaped = blocked
        .withColumn("dense", row_number().over(w))
        .withColumn("prev_cos", lag(col("cosine"), 1).over(w))
      val selfM = shaped.filter(col("neighbor_id") === col("query_id"))
        .select(col("query_id"), col("neighbor_id"), lit("self_match").as("kind"))
      val dups = shaped.groupBy(col("query_id"), col("neighbor_id"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .select(col("query_id"), col("neighbor_id"), lit("dup_neighbor").as("kind"))
      val shape = shaped
        .filter(col("rnk") =!= col("dense") || col("rnk") > 5 ||
          (col("prev_cos").isNotNull && col("cosine") > col("prev_cos")))
        .select(col("query_id"), col("neighbor_id"), lit("rank_shape").as("kind"))
      val floor = shaped.join(kth, Seq("query_id"))
        .filter(col("cosine") < col("kth_exact") - lit(0.12))
        .select(col("query_id"), col("neighbor_id"), lit("cosine_floor").as("kind"))
      selfM.unionAll(dups).unionAll(shape).unionAll(floor)
        .orderBy(col("kind"), col("query_id"), col("neighbor_id"))
    },
    Some(annContractOracle))

  /** Mergeable-sketch distinct counting (DataSketches HLL via Spark's
    * hll_sketch_agg family): per-source sketches union to the global
    * answer WITHOUT rescanning — the pre-aggregation a 100 TB pipeline
    * persists so "distinct tokens so far" is a register-merge, not a
    * corpus pass. One row, oracle-checked end to end: the exact distinct
    * count is recomputed by DuckDB, and the two sketch guarantees ride
    * as boolean columns the oracle pins to TRUE — union-of-parts must
    * EQUAL the single-pass global sketch (register max is associative),
    * and the estimate must sit within the lgK=14 error envelope. */
  val q115HllMergeable = GraftQuery(
    "q115_hll_mergeable", { (s, dir) =>
      val toks = docs(s, dir).select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val per = toks.groupBy(col("source"))
        .agg(hll_sketch_agg(col("token"), lit(14)).as("sk"))
      val u = per.agg(count(lit(1)).as("n_sources"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_u"))
      val g = toks.agg(
        hll_sketch_estimate(hll_sketch_agg(col("token"), lit(14))).as("est_g"),
        countDistinct(col("token")).as("exact_distinct"))
      u.crossJoin(g).select(
        col("n_sources"), col("exact_distinct"),
        (col("est_u") === col("est_g")).as("union_equals_global"),
        (abs(col("est_u") - col("exact_distinct")) <=
          col("exact_distinct") * 0.06).as("rel_err_within_6pct"))
    },
    Some("""WITH tok AS (
        SELECT source, unnest(list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0)) AS token
        FROM documents)
      SELECT count(DISTINCT source) AS n_sources,
        count(DISTINCT token) AS exact_distinct,
        true AS union_equals_global, true AS rel_err_within_6pct
      FROM tok"""))

  /** Incremental-refresh contract for the sketch path (q101d pattern):
    * sketch(standing corpus) ⊕ sketch(new batch) must estimate exactly
    * what a from-scratch single-pass sketch over the full corpus does —
    * the property that lets a pipeline keep distinct-count telemetry
    * current per ingest batch at O(batch) cost. Violations vs the empty
    * relation through the driver's hash gate. */
  val q115bHllIncrementalContract = GraftQuery(
    "q115b_hll_incremental_contract", { (s, dir) =>
      val toks = docs(s, dir).select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val standing = toks.filter(col("doc_id") % 10 =!= 7)
        .agg(hll_sketch_agg(col("token"), lit(14)).as("sk"))
      val batch = toks.filter(col("doc_id") % 10 === 7)
        .agg(hll_sketch_agg(col("token"), lit(14)).as("sk"))
      val merged = standing.unionAll(batch)
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val full = toks
        .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(14)))
          .as("est_full"))
      merged.crossJoin(full)
        .filter(col("est_merged") =!= col("est_full"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS est_merged,
      CAST(NULL AS BIGINT) AS est_full WHERE 1 = 0"""))

  /** Mergeable bottom-k quantile sketch (oracle-checked) — the
    * quantile sibling of q115's HLL family: per-source p50/p90 token
    * counts estimated from a k=64 KMV sample (the k rows with smallest
    * Knuth-hash per source). Fully replayable integer arithmetic, so
    * DuckDB re-derives the ENTIRE construction — prefilter threshold,
    * coverage guard, bottom-k window, percentile_disc over the sample
    * — and the row hash-matches. Scale shape: one count aggregate,
    * a narrow hash prefilter keeping ~4k rows per source, a window
    * over those survivors only (q116's discipline), and O(k) estimate
    * windows. The corpus is never sorted. */
  val q123QuantileSketch = GraftQuery(
    "q123_quantile_sketch", { (s, dir) =>
      val d = docs(s, dir).select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      val sk = graft.ops.Quantiles.bottomKSketch(
        d, "source", "doc_id", "ntok", k = 64)
      graft.ops.Quantiles.quantileEstimates(sk, Seq(0.5, 0.9))
        .select(col("g").as("source"), col("q"), col("est"),
          col("sample_n"))
        .orderBy(col("source"), col("q"))
    },
    Some("""WITH h AS (
        SELECT source AS g, doc_id AS id,
          CAST(len(list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS v,
          (((doc_id % 2147483648) * (2246822519 % 4294967296))
            % 4294967296) % 1000000 AS hkey
        FROM documents),
      n AS (SELECT g, count(*) AS ng,
          CAST(ceil(64 * 4 * 1000000.0 / count(*)) AS BIGINT) AS thr
        FROM h GROUP BY g),
      sv AS (SELECT h.g, count(*) AS cnt FROM h JOIN n USING (g)
        WHERE h.hkey < n.thr GROUP BY h.g),
      cov AS (SELECT n.g, n.thr, coalesce(sv.cnt, 0) >= least(64, n.ng) AS ok
        FROM n LEFT JOIN sv USING (g)),
      cand AS (SELECT h.g, h.hkey, h.id, h.v FROM h JOIN cov USING (g)
        WHERE h.hkey < cov.thr OR NOT cov.ok),
      sk AS (SELECT g, hkey, id, v FROM (
          SELECT g, hkey, id, v,
            row_number() OVER (PARTITION BY g ORDER BY hkey, id) AS rk
          FROM cand) t WHERE rk <= 64),
      mm AS (SELECT g, count(*) AS m FROM sk GROUP BY g),
      r AS (SELECT sk.g, sk.v, mm.m,
          row_number() OVER (PARTITION BY sk.g ORDER BY sk.v, sk.id) AS vr
        FROM sk JOIN mm USING (g))
      SELECT g AS source, q, est, sample_n FROM (
        SELECT g, CAST(0.5 AS DOUBLE) AS q, v AS est, m AS sample_n
        FROM r WHERE vr = CAST(ceil(0.5 * m) AS INT)
        UNION ALL
        SELECT g, CAST(0.9 AS DOUBLE) AS q, v AS est, m AS sample_n
        FROM r WHERE vr = CAST(ceil(0.9 * m) AS INT)) u
      ORDER BY source, q"""))

  /** Merge contract for the bottom-k sketch (q101d pattern): per-shard
    * sketches (even/odd doc_id halves) unioned and re-ranked must be
    * BIT-IDENTICAL to the from-scratch sketch of the full corpus —
    * the order-statistics identity bottom-k(A∪B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B)) that makes the sketch a
    * distributed-monitoring primitive. Any surviving row is a real
    * merge defect (integers only, so no FP excuse). */
  val q123bSketchMergeContract = GraftQuery(
    "q123b_sketch_merge_contract", { (s, dir) =>
      val d = docs(s, dir).select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      val a = graft.ops.Quantiles.bottomKSketch(
        d.filter(col("doc_id") % 2 === 0), "source", "doc_id", "ntok", 64)
      val b = graft.ops.Quantiles.bottomKSketch(
        d.filter(col("doc_id") % 2 =!= 0), "source", "doc_id", "ntok", 64)
      val merged = graft.ops.Quantiles.mergeSketches(Seq(a, b), 64)
      val full = graft.ops.Quantiles.bottomKSketch(
        d, "source", "doc_id", "ntok", 64)
      merged
        .join(full
          .select(col("g"), col("rk"), col("hkey").as("h2"),
            col("id").as("id2"), col("v").as("v2")),
          Seq("g", "rk"), "full_outer")
        .filter(!(col("hkey") <=> col("h2")) || !(col("id") <=> col("id2")) ||
          !(col("v") <=> col("v2")))
        .select(col("g").as("source"), col("rk"))
        .orderBy(col("source"), col("rk"))
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS source,
      CAST(NULL AS INT) AS rk WHERE 1 = 0"""))

  /** q34's sign-LSH ANN accelerated by the JL projection: signatures,
    * buckets and the candidate cut all run in 48-d (25 % fewer
    * hash/score dims at this fixture's 64-d; the ratio is the dial at
    * production dims), exact 64-d cosine only reranks the top
    * max(100, n/5) candidates per query. The fixture is the
    * ADVERSARIAL case for this stack — its embeddings are isotropic
    * noise with no low-dimensional structure, so the projected cut
    * must keep a constant FRACTION of the corpus (and most of the
    * dims) to hold recall as n grows; the round-14 sweep over
    * (outDim, tables, rerank) at n=2000 measured 32-d/16-tables/10 %
    * at 0.62 and this 48-d/24-tables/20 % config at 0.82 (BASELINE.md
    * records the full grid). Clustered production embeddings hold
    * recall at 16–32 d and a constant rerank COUNT — that is where the
    * projection's real 4× win lives; on isotropic noise the honest
    * price of recall ≥ 0.8 is most of the dimensionality back.
    * Rows-only like q34; ProjectionSpec floors recall vs brute force
    * and the bench recall block tracks it per round. */
  val q34cAnnLshProjected = GraftQuery(
    "q34c_ann_lsh_projected", { (s, dir) =>
      val e = embeds(s, dir)
      val rerank = math.max(100L, e.count() / 5).toInt
      graft.ops.Projection.projectedLshTopK(
          e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10,
          outDim = 48, planes = 4, tables = 24, rerank = rerank)
        .orderBy(col("query_id"), col("rnk"))
    })

  /** Pairwise source-vocabulary overlap — the corpus-similarity matrix
    * mixture design reads before weighting sources (near-identical
    * vocabularies → redundant sources; disjoint → coverage). Exact
    * Jaccard over distinct token sets: one distinct projection to
    * (source, token), a self-join on token (each token contributes
    * deg² pairs, so the relation is vocabulary-bounded × sources², not
    * corpus-bounded), per-source distinct counts broadcast back. Fully
    * oracle-checked — counts are integers, the Jaccard division is the
    * identical IEEE quotient in both engines. */
  val q118SourceOverlap = GraftQuery(
    "q118_source_overlap", { (s, dir) =>
      val st = docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = st.toDF("sa", "token")
        .join(st.toDF("sb", "token2"), col("token") === col("token2"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.toDF("sa", "na")), Seq("sa"))
        .join(broadcast(sizes.toDF("sb", "nb")), Seq("sb"))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("inter"),
          (col("na") + col("nb") - col("inter")).as("union_size"),
          round(col("inter") / (col("na") + col("nb") - col("inter")), 6)
            .as("jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""WITH st AS (
        SELECT DISTINCT source, token FROM (
          SELECT source, unnest(list_filter(
            string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
          FROM documents) u),
      sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
      inter AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter
        FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT sa AS source_a, sb AS source_b, inter,
        na.n + nb.n - inter AS union_size,
        round(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
      FROM inter
        JOIN sizes na ON na.source = sa
        JOIN sizes nb ON nb.source = sb
      ORDER BY source_a, source_b"""))

  /** BPE merge-candidate counting — the inner loop of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016): count
    * adjacent character pairs across the corpus, weighted by word
    * frequency, and surface the top merges. One explode over DISTINCT
    * words (pair work is vocabulary-bounded — the word-frequency
    * groupBy collapses the corpus first, so a 100 TB pass explodes
    * |vocab| strings, not |corpus|), then a pair-keyed aggregate.
    * Fully oracle-checked; integer counts only. */
  val q119BpePairCounts = GraftQuery(
    "q119_bpe_pair_counts", { (s, dir) =>
      val words = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      words
        // sequence(1, 0) counts DOWN in Spark (the q57 guard), so
        // 1-char words must be excluded, as the oracle's len(w) >= 2
        .filter(length(col("w")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("occurrences"))
        .orderBy(col("occurrences").desc, col("pair"))
        .limit(20)
    },
    Some("""WITH words AS (
        SELECT w, count(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> len(x) > 0)) AS w
          FROM documents) t
        GROUP BY w),
      pairs AS (
        SELECT n, unnest(list_transform(generate_series(1, len(w) - 1),
          i -> substr(w, i, 2))) AS pair
        FROM words WHERE len(w) >= 2)
      SELECT pair, CAST(sum(n) AS BIGINT) AS occurrences
      FROM pairs GROUP BY pair
      ORDER BY occurrences DESC, pair LIMIT 20"""))

  /** Iterative BPE merge TRAINING, 3 rounds (oracle-checked) — the
    * step up from q119's single-round pair counts: each round picks
    * the top adjacent symbol pair (count desc, then lexicographic
    * (a, b)) and applies it greedily left-to-right to the whole
    * vocabulary before recounting — exactly Sennrich-style BPE. The
    * DuckDB oracle unrolls all three rounds using the same
    * separator-string replace() encoding, so the ENTIRE training loop
    * — counts, tie-breaks, greedy application order — is
    * cross-engine-verified. Vocabulary-bounded end to end (the corpus
    * collapses to (word, n) first); the winning pair is a broadcast
    * 1-row relation via TakeOrderedAndProject, never a collect. */
  val q119bBpeTrainMerges = GraftQuery(
    "q119b_bpe_train_merges", { (s, dir) =>
      val words = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      TextAnalysis.bpeTrainMerges(words, "w", "n", rounds = 3)
    },
    Some("""WITH words AS (
        SELECT w, count(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> len(x) > 0)) AS w
          FROM documents) t
        GROUP BY w),
      w0 AS (SELECT regexp_replace(w, '(.)', chr(31) || '\1', 'g') AS st, n
        FROM words),
      p1 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w0) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
      w1 AS (SELECT replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w0, b1),
      p2 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w1) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
      w2 AS (SELECT replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w1, b2),
      p3 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w2) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1)
      SELECT 1 AS round, a || b AS merged,
        CAST(c AS BIGINT) AS occurrences FROM b1
      UNION ALL SELECT 2, a || b, CAST(c AS BIGINT) FROM b2
      UNION ALL SELECT 3, a || b, CAST(c AS BIGINT) FROM b3
      ORDER BY round"""))

  /** BPE ENCODE at the trained state (oracle-checked): the weighted
    * subword-symbol histogram after applying the 3 trained merges to
    * the whole vocabulary — the train→apply round trip. The oracle
    * extends q119b's unrolled chain with the third merge application
    * and the final segmentation count, so a defect anywhere in the
    * train OR apply path hash-fails. Top-20 symbols (count desc,
    * symbol asc) keeps the row bounded. */
  val q119cBpeEncode = GraftQuery(
    "q119c_bpe_encode", { (s, dir) =>
      val words = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      TextAnalysis.bpeEncodeSymbols(words, "w", "n", rounds = 3)
        .orderBy(col("occurrences").desc, col("symbol"))
        .limit(20)
    },
    Some("""WITH words AS (
        SELECT w, count(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> len(x) > 0)) AS w
          FROM documents) t
        GROUP BY w),
      w0 AS (SELECT regexp_replace(w, '(.)', chr(31) || '\1', 'g') AS st, n
        FROM words),
      p1 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w0) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
      w1 AS (SELECT replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w0, b1),
      p2 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w1) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
      w2 AS (SELECT replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w1, b2),
      p3 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w2) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1),
      w3 AS (SELECT replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w2, b3),
      syms AS (
        SELECT unnest(list_filter(string_split(st, chr(31)),
          x -> len(x) > 0)) AS symbol, n
        FROM w3)
      SELECT symbol, CAST(sum(n) AS BIGINT) AS occurrences
      FROM syms GROUP BY symbol
      ORDER BY occurrences DESC, symbol LIMIT 20"""))

  /** Doc-level BPE application (oracle-checked): price every DOCUMENT
    * in trained subword units — the token-accounting step a training
    * pipeline runs after tokenizer training, because budgets, packing
    * and billing all count subwords, not words. The per-word segment
    * counts from the trained state join the token stream (one
    * vocabulary-sized dimension join), then per-source totals and the
    * compression ratio (subwords per word, one identical-operand
    * division of exact longs). The oracle extends the q119b chain with
    * the segmentation join. */
  val q119dBpeDocPricing = GraftQuery(
    "q119d_bpe_doc_pricing", { (s, dir) =>
      val d = docs(s, dir)
      val words = d
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val seg = TextAnalysis.bpeWordSegments(words, "w", "n", rounds = 3)
      val toks = d.select(col("source"), col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      toks.join(seg, Seq("w"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("docs"),
          count(lit(1)).as("words"),
          sum(col("n_seg")).as("subwords"))
        .withColumn("subwords_per_word",
          round(col("subwords") / col("words").cast("double"), 4))
        .orderBy(col("source"))
    },
    Some("""WITH words AS (
        SELECT w, count(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> len(x) > 0)) AS w
          FROM documents) t
        GROUP BY w),
      w0 AS (SELECT w, regexp_replace(w, '(.)', chr(31) || '\1', 'g') AS st,
          n FROM words),
      p1 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w0) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
      w1 AS (SELECT w, replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w0, b1),
      p2 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w1) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
      w2 AS (SELECT w, replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st, n FROM w1, b2),
      p3 AS (SELECT s[i] AS a, s[i+1] AS b, sum(n) AS c FROM (
          SELECT list_filter(string_split(st, chr(31)), x -> len(x) > 0) AS s,
            n FROM w2) t,
          UNNEST(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY a, b),
      b3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1),
      w3 AS (SELECT w, replace(st, chr(31) || a || chr(31) || b,
          chr(31) || a || b) AS st FROM w2, b3),
      seg AS (SELECT w,
          CAST(len(list_filter(string_split(st, chr(31)),
            x -> len(x) > 0)) AS BIGINT) AS n_seg
        FROM w3),
      toks AS (
        SELECT source, doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> len(x) > 0)) AS w
        FROM documents)
      SELECT t.source, count(DISTINCT t.doc_id) AS docs,
        count(*) AS words, CAST(sum(s.n_seg) AS BIGINT) AS subwords,
        round(sum(s.n_seg) / CAST(count(*) AS DOUBLE), 4)
          AS subwords_per_word
      FROM toks t JOIN seg s USING (w)
      GROUP BY t.source ORDER BY t.source"""))

  /** Per-source token-distribution drift vs the whole corpus —
    * smoothed KL(source ‖ corpus) over the full vocabulary, the
    * distribution-shift monitor a pipeline runs per ingest batch or
    * per source before mixing (a drifting source gets inspected before
    * it tilts training). Vocabulary-bounded throughout: per-source and
    * global count relations join on token, and the zero-count mass
    * rides as one closed-form term per source instead of a
    * source × vocab dense cross join. Fully oracle-checked (ln over
    * integer-count ratios; round at the end, q108's FP posture). */
  val q120SourceDrift = GraftQuery(
    "q120_source_drift", { (s, dir) =>
      val k = 0.5
      val tok = docs(s, dir).select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val sc = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      val g = tok.groupBy(col("token")).agg(count(lit(1)).as("gc"))
      val stot = sc.groupBy(col("source")).agg(sum(col("c")).as("st"),
        count(lit(1)).as("sv"))
      val gtot = g.agg(sum(col("gc")).as("gt"), count(lit(1)).as("v"))
      // Σ_{token ∈ vocab} p ln(p/q) splits into present terms (c > 0)
      // plus the closed-form zero-count tail: tokens absent from the
      // source contribute p0·ln(p0/q) with p0 = k/(st+kV) — Σ over that
      // set = p0·[ (V−sv)·ln p0 − Σ_{absent} ln q ], and Σ_{absent} ln q
      // = Σ_all ln q − Σ_present ln q, both vocabulary-bounded.
      val withQ = sc.join(g, Seq("token"))
        .crossJoin(broadcast(gtot))
        .join(broadcast(stot), Seq("source"))
        .withColumn("p", (col("c") + k) / (col("st") + lit(k) * col("v")))
        .withColumn("q", (col("gc") + k) / (col("gt") + lit(k) * col("v")))
      val present = withQ.groupBy(col("source"))
        .agg(sum(col("p") * log(col("p") / col("q"))).as("kl_present"),
          sum(log(col("q"))).as("sum_lnq_present"))
      val lnqAll = g.crossJoin(broadcast(gtot))
        .agg(sum(log((col("gc") + k) / (col("gt") + lit(k) * col("v"))))
          .as("sum_lnq_all"))
      present
        .join(broadcast(stot), Seq("source"))
        .crossJoin(broadcast(gtot))
        .crossJoin(broadcast(lnqAll))
        .withColumn("p0", lit(k) / (col("st") + lit(k) * col("v")))
        .withColumn("kl",
          col("kl_present") + col("p0") *
            ((col("v") - col("sv")) * log(col("p0")) -
              (col("sum_lnq_all") - col("sum_lnq_present"))))
        .select(col("source"), col("st").as("tokens"),
          col("sv").as("vocab_present"), round(col("kl"), 4).as("kl_nats"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
        SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
          x -> len(x) > 0)) AS token
        FROM documents),
      sc AS (SELECT source, token, count(*) AS c FROM tok GROUP BY source, token),
      g AS (SELECT token, count(*) AS gc FROM tok GROUP BY token),
      stot AS (SELECT source, sum(c) AS st, count(*) AS sv FROM sc GROUP BY source),
      gtot AS (SELECT sum(gc) AS gt, count(*) AS v FROM g),
      withq AS (SELECT sc.source,
          (sc.c + 0.5) / (stot.st + 0.5 * gtot.v) AS p,
          (g.gc + 0.5) / (gtot.gt + 0.5 * gtot.v) AS q
        FROM sc JOIN g USING (token)
          JOIN stot ON sc.source = stot.source, gtot),
      present AS (SELECT source, sum(p * ln(p / q)) AS kl_present,
          sum(ln(q)) AS sum_lnq_present
        FROM withq GROUP BY source),
      lnqall AS (SELECT sum(ln((gc + 0.5) / (gt + 0.5 * v))) AS sum_lnq_all
        FROM g, gtot)
      SELECT p.source, CAST(stot.st AS BIGINT) AS tokens,
        stot.sv AS vocab_present,
        round(p.kl_present + (0.5 / (stot.st + 0.5 * gtot.v)) *
          ((gtot.v - stot.sv) * ln(0.5 / (stot.st + 0.5 * gtot.v)) -
            (lnqall.sum_lnq_all - p.sum_lnq_present)), 4) AS kl_nats
      FROM present p
        JOIN stot ON p.source = stot.source, gtot, lnqall
      ORDER BY p.source"""))

  /** q118's 100 TB path as a contract row: a per-source MinHash
    * signature (k = 256) estimates every pairwise vocabulary Jaccard
    * without the exact relation's token self-join — per-doc signatures
    * come from the codegen MinHash kernel, fold to per-source
    * signatures by element-wise min (min is associative, so
    * signature(⋃ docs) = element-min of doc signatures), and pairs
    * compare 256 slots instead of vocabularies. The contract pins
    * every estimate within ±0.1 of the exact Jaccard (k = 256 → σ ≤
    * 0.031 at the hardest J = 0.5). The fixtures sit in the degenerate
    * high-overlap regime — every source draws from one token pool, so
    * the 190 exact Jaccards are 0.97–1.0 and measured max |Δ| is
    * 0.003 (sf0.001/0.01) and 0 (sf0.1); SketchSpec exercises the
    * mid-range regime on a constructed two-source corpus with known
    * J = 1/3. Violations vs the empty relation. */
  val q118bSourceOverlapMinhashContract = GraftQuery(
    "q118b_source_overlap_minhash_contract", { (s, dir) =>
      val k = 256
      val sig = docs(s, dir).select(col("source"),
          posexplode(graft.functions.SketchExpressions.minhashSignature(
            transform(TextAnalysis.tokens(col("text")), t => xxhash64(t)), k)))
        .groupBy(col("source"), col("pos")).agg(min(col("col")).as("mh"))
      val est = sig.select(col("source").as("sa"), col("pos"), col("mh").as("ma"))
        .join(sig.select(col("source").as("sb"), col("pos"), col("mh").as("mb")),
          Seq("pos"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg((count(when(col("ma") === col("mb"), 1)) / k.toDouble).as("est"))
      val st = docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val exact = st.toDF("sa", "token")
        .join(st.toDF("sb", "token2"), col("token") === col("token2"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.toDF("sa", "na")), Seq("sa"))
        .join(broadcast(sizes.toDF("sb", "nb")), Seq("sb"))
        .select(col("sa"), col("sb"),
          (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      est.join(exact, Seq("sa", "sb"), "full_outer")
        .filter(col("est").isNull || col("jaccard").isNull ||
          abs(col("est") - col("jaccard")) > 0.1)
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          round(col("est"), 6).as("est"), round(col("jaccard"), 6).as("exact"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS source_a,
      CAST(NULL AS VARCHAR) AS source_b, CAST(NULL AS DOUBLE) AS est,
      CAST(NULL AS DOUBLE) AS exact WHERE 1 = 0"""))

  /** Random-projection dimensionality reduction (ops/Projection,
    * Achlioptas sign JL): 64-d embeddings → 16-d ahead of LSH/coarse
    * search. The sign matrix regenerates from an integer formula, the
    * fold is exact in double arithmetic (≤64 float-mantissa summands)
    * and the √16 scale is a power of two — so the DuckDB oracle
    * recomputes every projected coordinate of the sampled vectors
    * bit-identically. ProjectionSpec adds the JL distance-preservation
    * and formula-equality checks. */
  val q117RandomProjection = GraftQuery(
    "q117_random_projection", { (s, dir) =>
      val sub = embeds(s, dir).filter(col("vec_id") % 50 === 0)
      sub.select(col("vec_id"),
          posexplode(graft.ops.Projection.project(col("embedding"), 16)))
        .select(col("vec_id"), col("pos").as("j"),
          round(col("col"), 6).as("y"))
        .orderBy(col("vec_id"), col("j"))
    },
    Some("""WITH sub AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb
        FROM embeddings WHERE vec_id % 50 = 0)
      SELECT vec_id, j,
        round(list_sum(list_transform(generate_series(1, len(emb)),
          i -> emb[i] * (CASE WHEN ((((i - 1) * 2654435761) % 4294967296)
              * (j * 40503 + 1)) % 4294967296 % 1009 < 504
            THEN 1.0 ELSE -1.0 END))) / 4.0, 6) AS y
      FROM sub, generate_series(0, 15) t(j)
      ORDER BY vec_id, j"""))

  /** One unrolled label-propagation round for the q114 oracle: count
    * labeled out-neighbors per (node, label), take the majority with
    * min-label tie-break, clamp seeds, and fall back to the previous
    * label when no neighbor is labeled — the exact update rule of
    * Graph.labelPropagation, as three CTEs. */
  private def lpIterSql(i: Int): String = {
    val prev = if (i == 1) "l0" else s"l${i - 1}"
    s"""c$i AS (SELECT k.src, l.lab, count(*) AS c
        FROM knn k JOIN $prev l ON k.dst = l.node
        WHERE l.lab IS NOT NULL GROUP BY k.src, l.lab),
      u$i AS (SELECT src AS node, lab FROM (
          SELECT src, lab, row_number() OVER (
            PARTITION BY src ORDER BY c DESC, lab) AS rn
          FROM c$i) r
        WHERE rn = 1),
      l$i AS (SELECT n.node, CASE WHEN n.seed THEN n.truth
            ELSE coalesce(u.lab, p.lab) END AS lab
        FROM nodes n LEFT JOIN u$i u ON n.node = u.node
          LEFT JOIN $prev p ON n.node = p.node)"""
  }

  /** Semi-supervised label propagation over the exact kNN graph
    * (Graph.labelPropagation ∘ q109): a 20 % hash-chosen seed set keeps
    * its true label and three synchronous majority rounds spread labels
    * along the top-5 cosine edges. The update rule is count-and-argmax —
    * NO floating point — so the DuckDB oracle replays all three rounds
    * unrolled over the same exact edge relation and the final
    * per-label census (nodes, seeds, non-seed accuracy) hash-matches
    * exactly. q114b is the same propagation on the blocked (q109b-style)
    * graph — the 100 TB edge construction. */
  val q114LabelPropagation = GraftQuery(
    "q114_label_propagation", { (s, dir) =>
      val e = embeds(s, dir)
      val edges = Similarity.bruteForceTopKPartial(
          e, e, "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      propagationCensus(SemanticBlocking.labelNodes(e), edges)
    },
    Some(s"""WITH knn AS (
        SELECT query_id AS src, neighbor_id AS dst FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                n.embedding::DOUBLE[]) DESC, n.vec_id) AS rnk
          FROM embeddings q, embeddings n WHERE n.vec_id <> q.vec_id) t
        WHERE rnk <= 5),
      nodes AS (SELECT vec_id AS node, label AS truth,
          (vec_id % 5 = 0) AS seed FROM embeddings),
      l0 AS (SELECT node, CASE WHEN seed THEN truth END AS lab FROM nodes),
      ${lpIterSql(1)},
      ${lpIterSql(2)},
      ${lpIterSql(3)}
      SELECT coalesce(l3.lab, -1) AS label, count(*) AS nodes,
        count(CASE WHEN n.seed THEN 1 END) AS seeds,
        count(CASE WHEN NOT n.seed THEN 1 END) AS nonseed,
        count(CASE WHEN NOT n.seed AND l3.lab = n.truth THEN 1 END)
          AS correct_nonseed
      FROM l3 JOIN nodes n ON l3.node = n.node
      GROUP BY 1 ORDER BY 1"""))

  /** q114 on the BLOCKED kNN graph (cluster-closure cells, q109b's
    * scale path) — the edge set an actual 100 TB run would propagate
    * over. Rows-only: the blocked edge relation isn't SQL-replicable;
    * GraphSpec floors its non-seed accuracy against the exact-graph
    * propagation, and q109c already pins the edge quality itself. */
  val q114bLabelPropagationBlocked = GraftQuery(
    "q114b_label_propagation_blocked", { (s, dir) =>
      val (nodes, edges) = SemanticBlocking.propagationGraph(embeds(s, dir))
      propagationCensus(nodes, edges)
    })

  /** Three propagation rounds over (src, dst) `edges` from the seeds of
    * `nodes` ([[SemanticBlocking.labelNodes]]), as the per-label census
    * (nodes, seeds, non-seeds, correct non-seeds) q114 and q114b emit. */
  private def propagationCensus(nodes: DataFrame, edges: DataFrame): DataFrame =
    Graph.labelPropagation(SemanticBlocking.seedLabels(nodes), edges, iters = 3)
      .join(nodes, Seq("node"))
      .groupBy(coalesce(col("lab"), lit(-1)).as("label"))
      .agg(count(lit(1)).as("nodes"),
        count(when(col("seed"), 1)).as("seeds"),
        count(when(not(col("seed")), 1)).as("nonseed"),
        count(when(not(col("seed")) && col("lab") === col("truth"), 1))
          .as("correct_nonseed"))
      .orderBy(col("label"))

  /** Bigram-LM perplexity bucketing — the CCNet head/middle/tail split
    * one level up from q89's unigram scorer, fully oracle-checked: the
    * corpus trains its own add-k bigram model, every document scores
    * exp(−mean ln P(w2|w1)), and each language's documents split into
    * perplexity terciles (head = most fluent). The tercile here is the
    * EXACT rank split (ntile over (round(ppl,6), doc_id) — the rounding
    * collapses fp summation-order noise so DuckDB's ntile sees the same
    * ordering); the per-language sort is the oracle-anchor cost, and
    * q108b below is the threshold-based scale path that avoids it. */
  val q108BigramPerplexity = GraftQuery(
    "q108_bigram_perplexity", { (s, dir) =>
      val d = docs(s, dir)
      val ppl = TextAnalysis.bigramPerplexity(d, "text", "doc_id", 0.5)
      val w = Window.partitionBy(col("lang"))
        .orderBy(round(col("ppl"), 6), col("doc_id"))
      d.select(col("doc_id"), col("lang"))
        .join(ppl, col("doc_id") === col("id"))
        .withColumn("bucket", ntile(3).over(w))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("docs"),
          round(avg(col("ppl")), 4).as("avg_ppl"),
          round(max(col("ppl")), 4).as("max_ppl"))
        .orderBy(col("lang"), col("bucket"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        FROM documents),
      bg AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      bgd AS (SELECT doc_id, bg, w1, count(*) AS n
              FROM bg GROUP BY doc_id, bg, w1),
      cb AS (SELECT bg, sum(n) AS cb FROM bgd GROUP BY bg),
      c1 AS (SELECT w1, sum(n) AS c1 FROM bgd GROUP BY w1),
      v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz
            FROM (SELECT unnest(t) AS tok FROM toks)),
      scored AS (
        SELECT b.doc_id,
          exp(-(sum(n * ln((cb.cb + 0.5) / (c1.c1 + 0.5 * v.vsz))) / sum(n))) AS ppl
        FROM bgd b JOIN cb USING (bg) JOIN c1 USING (w1) CROSS JOIN v
        GROUP BY b.doc_id),
      bucketed AS (
        SELECT d.lang, s.ppl,
          ntile(3) OVER (PARTITION BY d.lang
            ORDER BY round(s.ppl, 6), s.doc_id) AS bucket
        FROM scored s JOIN documents d USING (doc_id))
      SELECT lang, bucket, count(*) AS docs,
        round(avg(ppl), 4) AS avg_ppl, round(max(ppl), 4) AS max_ppl
      FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket"""))

  /** Curriculum schedule: compose the perplexity terciles (q108) with a
    * per-epoch deterministic keep rule — the anneal-from-clean mixing
    * LLM training runs (epoch 1 trains mostly on the fluent head,
    * later epochs open up the middle and tail; cf. CCNet's
    * head-first consumption). Keep decisions are the split family's
    * masked hash arithmetic with an epoch-dependent multiplier, so
    * membership is reproducible run-over-run and a document's epochs
    * are independent draws. Exact terciles here (the oracle anchor —
    * DuckDB replays perplexity, ntile, the keep-rate table and the
    * hash); at scale the bucket stamp comes from q108b's broadcast
    * thresholds and the schedule is unchanged. */
  val q121CurriculumSchedule = GraftQuery(
    "q121_curriculum_schedule", { (s, dir) =>
      val d = docs(s, dir)
      val ppl = TextAnalysis.bigramPerplexity(d, "text", "doc_id", 0.5)
      val w = Window.partitionBy(col("lang"))
        .orderBy(round(col("ppl"), 6), col("doc_id"))
      val bucketed = d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
        .join(ppl, col("doc_id") === col("id"))
        .withColumn("bucket", ntile(3).over(w))
      val epochs = s.range(1, 4).select(col("id").cast("int").as("epoch"))
      val sched = bucketed.crossJoin(broadcast(epochs))
        .withColumn("keep_pct",
          when(col("bucket") === 1, lit(100))
            .when(col("bucket") === 2,
              element_at(array(lit(50), lit(80), lit(100)), col("epoch")))
            .otherwise(
              element_at(array(lit(20), lit(50), lit(100)), col("epoch"))))
        .withColumn("keep",
          ((pmod(col("doc_id"), lit(2147483648L)) *
            ((lit(2654435761L) * col("epoch")) % 4294967296L))
            % 4294967296L) % 100 < col("keep_pct"))
      sched.groupBy(col("epoch"), col("bucket"))
        .agg(
          count(when(col("keep"), 1)).as("docs_kept"),
          sum(when(col("keep"), col("ntok"))).as("tokens_kept"),
          first(col("keep_pct")).as("target_pct"),
          round(count(when(col("keep"), 1)) * 100.0 / count(lit(1)), 2)
            .as("achieved_pct"))
        .orderBy(col("epoch"), col("bucket"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        FROM documents),
      bg AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      bgd AS (SELECT doc_id, bg, w1, count(*) AS n
              FROM bg GROUP BY doc_id, bg, w1),
      cb AS (SELECT bg, sum(n) AS cb FROM bgd GROUP BY bg),
      c1 AS (SELECT w1, sum(n) AS c1 FROM bgd GROUP BY w1),
      v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz
            FROM (SELECT unnest(t) AS tok FROM toks)),
      scored AS (
        SELECT b.doc_id,
          exp(-(sum(n * ln((cb.cb + 0.5) / (c1.c1 + 0.5 * v.vsz))) / sum(n))) AS ppl
        FROM bgd b JOIN cb USING (bg) JOIN c1 USING (w1) CROSS JOIN v
        GROUP BY b.doc_id),
      bucketed AS (
        SELECT d.doc_id, len(d.t) AS ntok,
          ntile(3) OVER (PARTITION BY d.lang
            ORDER BY round(s.ppl, 6), s.doc_id) AS bucket
        FROM scored s JOIN toks d USING (doc_id)),
      sched AS (
        SELECT b.doc_id, b.ntok, b.bucket, e.epoch,
          CASE WHEN b.bucket = 1 THEN 100
               WHEN b.bucket = 2 THEN ([50, 80, 100])[e.epoch]
               ELSE ([20, 50, 100])[e.epoch] END AS keep_pct
        FROM bucketed b, (SELECT unnest([1, 2, 3]) AS epoch) e),
      kept AS (
        SELECT epoch, bucket, ntok, keep_pct,
          (((doc_id % 2147483648) * ((2654435761 * epoch) % 4294967296))
            % 4294967296) % 100 < keep_pct AS keep
        FROM sched)
      SELECT epoch, bucket,
        count(CASE WHEN keep THEN 1 END) AS docs_kept,
        CAST(sum(CASE WHEN keep THEN ntok END) AS BIGINT) AS tokens_kept,
        first(keep_pct) AS target_pct,
        round(count(CASE WHEN keep THEN 1 END) * 100.0 / count(*), 2)
          AS achieved_pct
      FROM kept GROUP BY epoch, bucket ORDER BY epoch, bucket"""))

  /** The 100 TB path of q108: per-language tercile THRESHOLDS from one
    * tiny approx-percentile aggregate (languages are bounded, so the
    * threshold relation broadcasts), then a narrow per-row bucket
    * stamp — no per-language global sort anywhere. Rows-only (the
    * sketch's split points are not DuckDB-replayable); q108c pins the
    * disagreement contract vs the exact terciles. */
  val q108bPerplexityThresholds = GraftQuery(
    "q108b_perplexity_thresholds", { (s, dir) =>
      val d = docs(s, dir)
      val ppl = TextAnalysis.bigramPerplexity(d, "text", "doc_id", 0.5)
      val scored = d.select(col("doc_id"), col("lang"))
        .join(ppl, col("doc_id") === col("id"))
        .withColumn("rp", round(col("ppl"), 6))
      val thresholds = scored.groupBy(col("lang"))
        .agg(percentile_approx(col("rp"),
          array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("ts"))
        .select(col("lang"),
          element_at(col("ts"), 1).as("t1"), element_at(col("ts"), 2).as("t2"))
      scored.join(broadcast(thresholds), Seq("lang"))
        .withColumn("bucket",
          when(col("rp") <= col("t1"), 1)
            .when(col("rp") <= col("t2"), 2).otherwise(3))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("docs"),
          round(avg(col("ppl")), 4).as("avg_ppl"))
        .orderBy(col("lang"), col("bucket"))
    })

  /** Contract row for the threshold bucketing (oracle-checked, q101d
    * pattern): a document may land in a different bucket than the exact
    * tercile split ONLY when its (rounded) perplexity lies inside the
    * band between the exact tercile boundary and the sketch's estimate
    * of it — the rank-error region where a threshold split and a rank
    * split legitimately disagree. Any disagreement OUTSIDE both
    * boundary bands means a real bucketing bug (swapped comparison,
    * per-language mixup) and surfaces as a violations row. */
  val q108cPerplexityBucketContract = GraftQuery(
    "q108c_perplexity_bucket_contract", { (s, dir) =>
      val d = docs(s, dir)
      val ppl = TextAnalysis.bigramPerplexity(d, "text", "doc_id", 0.5)
      val w = Window.partitionBy(col("lang"))
        .orderBy(round(col("ppl"), 6), col("doc_id"))
      val scored = d.select(col("doc_id"), col("lang"))
        .join(ppl, col("doc_id") === col("id"))
        .withColumn("rp", round(col("ppl"), 6))
        .withColumn("bucket_exact", ntile(3).over(w))
      val exactBounds = scored.groupBy(col("lang")).agg(
        max(when(col("bucket_exact") === 1, col("rp"))).as("t1x"),
        max(when(col("bucket_exact") === 2, col("rp"))).as("t2x"))
      val approxT = scored.groupBy(col("lang"))
        .agg(percentile_approx(col("rp"),
          array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("ts"))
        .select(col("lang"),
          element_at(col("ts"), 1).as("t1"), element_at(col("ts"), 2).as("t2"))
      scored
        .join(broadcast(approxT), Seq("lang"))
        .join(broadcast(exactBounds), Seq("lang"))
        .withColumn("bucket_approx",
          when(col("rp") <= col("t1"), 1)
            .when(col("rp") <= col("t2"), 2).otherwise(3))
        .filter(col("bucket_approx") =!= col("bucket_exact") &&
          !(col("rp").between(least(col("t1x"), col("t1")),
              greatest(col("t1x"), col("t1"))) ||
            col("rp").between(least(col("t2x"), col("t2")),
              greatest(col("t2x"), col("t2")))))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0"))

  /** TF-IDF cosine rerank of the blocked candidate pairs — the classic
    * block-then-score IR pipeline (shared-shingle blocking bounds the
    * pair count; TF-IDF weighting downranks pairs that only share
    * corpus-common terms). Fully oracle-checked: DuckDB rebuilds the
    * inverted index, the idf weights, and every pair score. */
  val q69TfidfRerank = GraftQuery(
    "q69_tfidf_rerank", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val pairs = exactShingleEdges(s, dir)
      val weights = TextAnalysis.tfidfWeights(corpus, "text", "doc_id")
      TextAnalysis.tfidfCosine(pairs, weights)
        .agg(
          count(lit(1)).as("pairs"),
          round(avg(col("tfidf_cos")), 4).as("avg_tfidf_cos"),
          round(min(col("tfidf_cos")), 4).as("min_tfidf_cos"))
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      terms AS (
        SELECT doc_id, tok, count(*) * 1.0 AS tf
        FROM (SELECT doc_id,
                unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS tok
              FROM corpus) t
        GROUP BY doc_id, tok),
      docfreq AS (SELECT tok, count(*) * 1.0 AS dfc FROM terms GROUP BY tok),
      w AS (
        SELECT doc_id, tok,
          tf * ln((SELECT count(*) * 1.0 FROM corpus) / dfc) AS w
        FROM terms JOIN docfreq USING (tok)),
      norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
      dots AS (
        SELECT e.u, e.v, sum(wa.w * wb.w) AS dot
        FROM edges e
        JOIN w wa ON wa.doc_id = e.u
        JOIN w wb ON wb.doc_id = e.v AND wb.tok = wa.tok
        GROUP BY e.u, e.v),
      scored AS (
        SELECT dot / (na.norm * nb.norm) AS c
        FROM dots
        JOIN norms na ON na.doc_id = u
        JOIN norms nb ON nb.doc_id = v)
      SELECT count(*) AS pairs, round(avg(c), 4) AS avg_tfidf_cos,
        round(min(c), 4) AS min_tfidf_cos
      FROM scored"""))

  /** Cluster-balanced diversity sample (rows-only; quota/determinism/
    * coverage contracts in SimilaritySpec): ≤ 20 documents per cell of
    * the served centroid index, hash-ordered within the cell — the
    * subset-selection pass a data-mixing pipeline runs to flatten
    * cluster imbalance before token budgeting. Returns the per-cell
    * take counts plus the total, so the Verify row pins the quota
    * arithmetic shape. */
  val q107DiversitySample = GraftQuery(
    "q107_diversity_sample", { (s, dir) =>
      val e = embeds(s, dir)
      val cents = SemanticBlocking.servedCells(s, e)
      Similarity.diversitySample(e, "embedding", "vec_id", cents,
          perCell = 20)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("taken"))
        .orderBy(col("centroid_id"))
    })

  /** Diversity-sampling contract row (oracle-checked, q101d pattern) —
    * the three invariants that make q107 a usable subset-selection
    * primitive, as a violations relation the driver hash-gates against
    * the empty oracle:
    *
    *  - `over_quota`     — a cell contributed more than perCell docs
    *  - `nondeterminism` — a second run over the same corpus/centroids
    *                       disagrees with the first (symmetric diff):
    *                       a rerun must reproduce the sample bit for bit
    *  - `bad_cell`       — a sampled row's cell id is not a centroid id
    *
    * All three are exact invariants of the operator (hash-ordered
    * row_number under a fixed quota), not empirical floors. */
  val q107bDiversityContract = GraftQuery(
    "q107b_diversity_contract", { (s, dir) =>
      val e = embeds(s, dir)
      val cents = SemanticBlocking.servedCells(s, e)
      val s1 = Similarity.diversitySample(e, "embedding", "vec_id", cents,
        perCell = 20)
      val s2 = Similarity.diversitySample(e, "embedding", "vec_id", cents,
        perCell = 20)
      val overQuota = s1.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 20)
        .select(col("centroid_id").cast("long").as("centroid_id"),
          lit(null).cast("long").as("id"), lit("over_quota").as("kind"))
      val nondet = symmetricDiffViolations(s1, s2,
          "nondeterminism", "nondeterminism", Seq("centroid_id", "id"))
        .select(col("centroid_id").cast("long"), col("id").cast("long"),
          col("kind"))
      val badCell = s1.join(cents.select(col("centroid_id")),
          Seq("centroid_id"), "left_anti")
        .select(col("centroid_id").cast("long"), col("id").cast("long"),
          lit("bad_cell").as("kind"))
      overQuota.unionAll(nondet).unionAll(badCell)
        .orderBy(col("kind"), col("centroid_id"), col("id"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS centroid_id,
      CAST(NULL AS BIGINT) AS id,
      CAST(NULL AS VARCHAR) AS kind WHERE 1 = 0"""))

  /** ORACLE-EXACT diversity sample ([[Similarity.diversitySampleMicros]],
    * k = 8, two Lloyd rounds, ≤ 20 per cell): the full hash-gated twin
    * of q107 — DuckDB REFITS the micros k-means (the q147 unrolled
    * chain), re-derives every vector's cell with the same (dist, cid)
    * argmin, replays the Knuth-hash cell order, and emits the identical
    * take rows. q107 itself stays the SERVED path (published centroid
    * index, double-cosine assignment) with its q107b invariants
    * contract: its trainer's cross-partition double averages are not
    * bit-replayable in a second engine, which is precisely why the
    * exact family exists. A defect anywhere — seeding, distance
    * algebra, tie-break, quota, hash order — hash-fails a row here. */
  val q107cDiversitySampleExact = GraftQuery(
    "q107c_diversity_sample_exact", { (s, dir) =>
      Similarity.diversitySampleMicros(embeds(s, dir), "embedding",
          "vec_id", k = 8, iters = 2, perCell = 20)
        .orderBy(col("centroid_id"), col("id"))
    },
    Some("""WITH x AS (SELECT vec_id,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
            AS xm,
          unnest(generate_series(1, len(embedding))) AS d
        FROM embeddings),
      seeds AS (SELECT vec_id,
          CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
      c0 AS (SELECT s.cid, x.d, x.xm AS cm
        FROM x JOIN seeds s USING (vec_id)),
      d1 AS (SELECT x.vec_id, c.cid,
          CAST(sum((x.xm - c.cm) * (x.xm - c.cm)) AS BIGINT) AS dist
        FROM x JOIN c0 c USING (d) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
              AS rn
          FROM d1) WHERE rn = 1),
      c1 AS (SELECT a.cid, x.d,
          CAST(round(CAST(sum(x.xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        FROM x JOIN a1 a USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT x.vec_id, c.cid,
          CAST(sum((x.xm - c.cm) * (x.xm - c.cm)) AS BIGINT) AS dist
        FROM x JOIN c1 c USING (d) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
              AS rn
          FROM d2) WHERE rn = 1),
      ord AS (SELECT cid AS centroid_id, vec_id AS id,
          row_number() OVER (PARTITION BY cid
            ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296,
              vec_id) AS rk
        FROM a2)
      SELECT centroid_id, id FROM ord WHERE rk <= 20
      ORDER BY centroid_id, id"""))

  /** Leakage-safe train/test split (oracle-checked): assign whole
    * near-duplicate CLUSTERS to splits — the component root's hash, not
    * the document's — so no near-dup pair ever straddles train/test.
    * This is the split discipline an eval-decontaminated training run
    * needs: a doc-level hash split (q55) puts ~q's fraction of every
    * multi-doc cluster's members on opposite sides, which is exactly
    * eval leakage once one side becomes a held-out set. The row carries
    * both policies' span counts: cluster-split spans MUST be 0 by
    * construction, and the doc-split span count quantifies the leakage
    * the cluster policy removed (the DuckDB oracle recomputes the
    * components recursively, both hash assignments, and both span
    * counts). Scale shape: components are q51's star-contraction, the
    * split itself is a zero-shuffle hash projection on the root. */
  val q106LeakageSafeSplit = GraftQuery(
    "q106_leakage_safe_split", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val edges = exactShingleEdges(s, dir)
      val comp = DedupCluster.connectedComponents(edges)
      val withRoot = corpus.select(col("doc_id"))
        .join(comp.select(col("node").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("root"))
      val assigned = withRoot
        .withColumn("split",
          when(CurationQueries.hashBucket(col("root"), 2654435761L) < 90,
            "train").otherwise("test"))
        .withColumn("dsplit",
          when(CurationQueries.hashBucket(col("doc_id"), 2654435761L) < 90,
            "train").otherwise("test"))
        .localCheckpoint(eager = false)
      val counts = assigned.agg(
        count(when(col("split") === "train", 1)).as("train_docs"),
        count(when(col("split") === "test", 1)).as("test_docs"))
      val spanCluster = assigned.groupBy(col("root"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(count(when(col("ns") > 1, 1))
          .as("clusters_spanning_cluster_split"))
      val spanDoc = assigned.groupBy(col("root"))
        .agg(countDistinct(col("dsplit")).as("ns"))
        .agg(count(when(col("ns") > 1, 1))
          .as("clusters_spanning_doc_split"))
      counts.crossJoin(spanCluster).crossJoin(spanDoc)
    },
    Some("""WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      walk(node, front) AS (
        SELECT u, u FROM sym
        UNION
        SELECT w.node, s.v FROM walk w JOIN sym s ON s.u = w.front),
      comp AS (SELECT node, min(front) AS root FROM walk GROUP BY node),
      withroot AS (
        SELECT d.doc_id, coalesce(c.root, d.doc_id) AS root
        FROM (SELECT doc_id FROM corpus) d
        LEFT JOIN comp c ON c.node = d.doc_id),
      assigned AS (
        SELECT doc_id, root,
          CASE WHEN (((root % 2147483648) * (2654435761 % 4294967296))
            % 4294967296) % 100 < 90 THEN 'train' ELSE 'test' END AS split,
          CASE WHEN (((doc_id % 2147483648) * (2654435761 % 4294967296))
            % 4294967296) % 100 < 90 THEN 'train' ELSE 'test' END AS dsplit
        FROM withroot)
      SELECT
        (SELECT count(*) FROM assigned WHERE split = 'train') AS train_docs,
        (SELECT count(*) FROM assigned WHERE split = 'test') AS test_docs,
        (SELECT count(*) FROM (
          SELECT root, count(DISTINCT split) AS ns FROM assigned GROUP BY root) x
          WHERE ns > 1) AS clusters_spanning_cluster_split,
        (SELECT count(*) FROM (
          SELECT root, count(DISTINCT dsplit) AS ns FROM assigned GROUP BY root) y
          WHERE ns > 1) AS clusters_spanning_doc_split"""))

  /** Hybrid retrieval with reciprocal-rank fusion (oracle-checked row
    * for row): the keyword leg scores every document by TF-IDF against
    * the query terms (first 5 distinct tokens of doc 0's text — a
    * deterministic stand-in for a user query) and the vector leg ranks
    * by exact cosine to doc 0's embedding; each leg's top 20 fuse via
    * rrf = Σ 1/(60 + rank). Both leg scores round to 4 decimals BEFORE
    * ranking and rrf to 6 after, so the (rrf desc, id) output order is
    * stable across engines — DuckDB recomputes both legs and the fusion
    * end to end. Scale shape: the keyword leg is a broadcast semi-join
    * over the query terms' postings, each leg's top-20 comes from
    * [[TextAnalysis.rankTopK]] (TakeOrderedAndProject, never a global
    * window over the corpus-sized scored relation), the fusion is
    * top-k-bounded; the
    * vector leg here is the exact brute scan (the oracle needs exact) —
    * a deployment swaps in the served ANN path (q35c/q35d) leg-for-leg,
    * which is exactly what fusing on RANKS (not scores) permits. */
  val q105HybridRrf = GraftQuery(
    "q105_hybrid_rrf", { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val emb = embeds(s, dir)
      val qterms = docs.filter(col("doc_id") === 0)
        .select(explode(slice(TextAnalysis.tokens(col("text")), 1, 5)).as("tok"))
        .distinct()
      val kwTop = TextAnalysis.rankTopK(
        TextAnalysis.keywordScores(docs, "text", "doc_id", qterms),
        col("score"), 20)
      val qv = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv")))
      val vecTop = TextAnalysis.rankTopK(
        emb.crossJoin(qv)
          .select(col("vec_id").as("id"),
            round(Similarity.cosine(col("embedding"), col("qv")), 4).as("c")),
        col("c"), 20)
      TextAnalysis.rrfFuse(
        Seq("kw" -> kwTop, "vec" -> vecTop), rrfK = 60, topK = 10)
    },
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        FROM documents),
      qterms AS (
        SELECT DISTINCT unnest(list_slice(t, 1, 5)) AS tok
        FROM toks WHERE doc_id = 0),
      tf AS (
        SELECT doc_id, tok, count(*) * 1.0 AS tf
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks) x
        GROUP BY doc_id, tok),
      dfq AS (SELECT tok, count(*) * 1.0 AS dfc FROM tf GROUP BY tok),
      w AS (
        SELECT doc_id, tok,
          tf * ln((SELECT count(*) * 1.0 FROM documents) / dfc) AS w
        FROM tf JOIN dfq USING (tok)),
      kw AS (
        SELECT doc_id, round(sum(w), 4) AS s
        FROM w JOIN qterms USING (tok) GROUP BY doc_id),
      kwtop AS (
        SELECT doc_id, rk FROM (
          SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk
          FROM kw) WHERE rk <= 20),
      vs AS (
        SELECT vec_id, round(list_cosine_similarity(
          embedding::DOUBLE[],
          (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 4) AS c
        FROM embeddings),
      vtop AS (
        SELECT vec_id, rv FROM (
          SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rv
          FROM vs) WHERE rv <= 20),
      fused AS (
        SELECT coalesce(k.doc_id, v.vec_id) AS id,
          round(coalesce(1.0 / (60 + k.rk), 0) + coalesce(1.0 / (60 + v.rv), 0), 6) AS rrf,
          k.rk AS kw_rank, v.rv AS vec_rank
        FROM kwtop k FULL OUTER JOIN vtop v ON k.doc_id = v.vec_id)
      SELECT id, rrf, kw_rank, vec_rank FROM fused
      ORDER BY rrf DESC, id LIMIT 10"""))

  /** Hybrid RRF served from the PERSISTED PQ index (rows-only; overlap
    * with q105's exact fusion floor-asserted in TextCurationSpec): the
    * leg-for-leg swap q105's design promises — the keyword leg is
    * unchanged, the vector leg ranks by ADC over the published
    * (codes, codebooks) tables with exact re-rank, and the fusion is
    * identical because RRF consumes RANKS, not scores. This is the
    * production plan: at 100 TB the brute leg is a corpus scan per
    * query; this leg reads 16 codes per row from the served index.
    * (The served leg excludes the query doc itself — standard ANN
    * serving semantics — so ranks shift by one vs the exact leg; RRF
    * absorbs that, which the overlap floor demonstrates.) */
  val q105cHybridRrfAnn = GraftQuery(
    "q105c_hybrid_rrf_ann", { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val emb = embeds(s, dir)
      val qterms = docs.filter(col("doc_id") === 0)
        .select(explode(slice(TextAnalysis.tokens(col("text")), 1, 5)).as("tok"))
        .distinct()
      val kwTop = TextAnalysis.rankTopK(
        TextAnalysis.keywordScores(docs, "text", "doc_id", qterms),
        col("score"), 20)
      val books = Similarity.pqCodebooks(emb, "embedding", "vec_id",
        m = 16, ksub = 32, iters = 2)
      val encoded = Similarity.pqEncode(emb, "vec_id", "embedding", books, 16)
      graft.core.TableStore.overwriteTable(s, "default.pq_books", books)
      graft.core.TableStore.overwriteTable(s, "default.pq_codes", encoded)
      val vecTop = Similarity.pqTopKEncoded(
          s.table("default.pq_codes"), s.table("default.pq_books"),
          emb, emb.filter(col("vec_id") === 0),
          "vec_id", "vec_id", "embedding", "vec_id", "embedding",
          k = 20, rerank = 100)
        .select(col("neighbor_id").as("id"), col("rnk").as("rank"))
      TextAnalysis.rrfFuse(
        Seq("kw" -> kwTop, "vec" -> vecTop), rrfK = 60, topK = 10)
    })

  /** Okapi BM25 keyword top-10 (oracle-checked row for row): the
    * production keyword leg — same query-term broadcast shape as
    * q105's TF-IDF leg but with the saturating tf and length
    * normalization every deployed engine uses (k1 = 1.2, b = 0.75,
    * Lucene-style positive idf). DuckDB recomputes the full formula.
    * Swappable into q105's fusion leg-for-leg since RRF fuses ranks. */
  val q105bBm25TopK = GraftQuery(
    "q105b_bm25_topk", { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val qterms = docs.filter(col("doc_id") === 0)
        .select(explode(slice(TextAnalysis.tokens(col("text")), 1, 5)).as("tok"))
        .distinct()
      TextAnalysis.bm25Scores(docs, "text", "doc_id", qterms)
        .orderBy(col("score").desc, col("id"))
        .limit(10)
    },
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        FROM documents),
      qterms AS (
        SELECT DISTINCT unnest(list_slice(t, 1, 5)) AS tok
        FROM toks WHERE doc_id = 0),
      tf AS (
        SELECT doc_id, tok, count(*) * 1.0 AS tf
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks) x
        GROUP BY doc_id, tok),
      m AS (SELECT tf.* FROM tf JOIN qterms USING (tok)),
      dfq AS (SELECT tok, count(*) * 1.0 AS dfc FROM m GROUP BY tok),
      dl AS (SELECT doc_id, len(t) * 1.0 AS dl FROM toks),
      stats AS (SELECT (SELECT count(*) * 1.0 FROM documents) AS n,
        (SELECT avg(dl) FROM dl) AS avgdl),
      sc AS (
        SELECT m.doc_id,
          round(sum(ln((s.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
            * m.tf * 2.2
            / (m.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))), 4) AS score
        FROM m JOIN dfq d USING (tok) JOIN dl l ON l.doc_id = m.doc_id, stats s
        GROUP BY m.doc_id)
      SELECT doc_id AS id, score FROM sc ORDER BY score DESC, id LIMIT 10"""))

  /** PageRank over the near-dup edge graph, oracle-checked: the oracle
    * UNROLLS the same five join+aggregate iterations as chained CTEs, so
    * the whole iterative computation — not just the final aggregate — is
    * independently recomputed. Rank mass is conserved (sum = 1) and hubs
    * are nodes holding > 1.5× the uniform share. */
  val q73PageRank = GraftQuery(
    "q73_pagerank", { (s, dir) =>
      val edges = exactShingleEdges(s, dir)
      val ranks = graft.ops.Graph.pageRank(edges, iters = 5, damping = 0.85)
      val n = ranks.count().toDouble
      ranks.agg(
        count(lit(1)).as("nodes"),
        round(sum(col("rank")), 4).as("rank_mass"),
        round(max(col("rank")), 6).as("max_rank"),
        count(when(col("rank") > 1.5 / n, 1)).as("hubs"))
    }, {
      val iterate = (1 to 5).map { k =>
        s"""r$k AS (
          SELECT n.node,
            (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT count(*) FROM nodes) +
            0.85::DOUBLE * coalesce(s.inflow, 0.0::DOUBLE) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.deg) AS inflow
            FROM sym e JOIN r${k - 1} r ON r.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON s.node = n.node)"""
      }.mkString(",\n      ")
      Some(s"""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s*', '') FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      sym AS (SELECT u AS src, v AS dst FROM edges
        UNION SELECT v, u FROM edges),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      nodes AS (SELECT src AS node FROM deg),
      r0 AS (SELECT node,
        1.0::DOUBLE / (SELECT count(*) FROM nodes) AS rank FROM nodes),
      $iterate
      SELECT count(*) AS nodes, round(sum(rank), 4) AS rank_mass,
        round(max(rank), 6) AS max_rank,
        count(CASE WHEN rank > 1.5::DOUBLE / (SELECT count(*) FROM nodes)
          THEN 1 END) AS hubs
      FROM r5""")
    })

  /** Tokenizer-coverage telemetry (oracle-exact): per-source OOV rate
    * against the corpus-global top-V vocabulary (count desc, token asc
    * tie-break — fully deterministic at the V boundary). This is the
    * coverage report a team reads before freezing a tokenizer: which
    * ingest sources would fragment into unknown tokens. Scale shape:
    * token counts are one vocabulary-keyed shuffle; the top-V cut
    * rides TakeOrderedAndProject (V literal, driver-bounded) and
    * broadcasts back as the membership gate, so the per-source pass is
    * a map-side probe — the corpus never sorts and never shuffles by
    * anything but (source, token). The broadcast is bounded by the
    * LITERAL V, not data, so the hint is safe by construction. */
  val q133OovRate = GraftQuery(
    "q133_oov_rate", { (s, dir) =>
      val counts = docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
      // the report runs off a COUNTS relation so the identical function
      // serves the streaming counts table (TextAnalysis.oovReport doc)
      TextAnalysis.oovReport(counts, "source", "token", "n", v = 16)
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
        SELECT source, unnest(list_filter(
          string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        FROM documents),
      v AS (SELECT token, 1 AS in_v FROM (
          SELECT token, count(*) AS c FROM tok GROUP BY token
          ORDER BY c DESC, token LIMIT 16)),
      ps AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
      g AS (SELECT ps.source,
          CAST(sum(ps.n) AS BIGINT) AS tokens,
          CAST(sum(CASE WHEN v.in_v IS NULL THEN ps.n ELSE 0 END) AS BIGINT)
            AS oov_tokens,
          count(CASE WHEN v.in_v IS NULL THEN 1 END) AS oov_types
        FROM ps LEFT JOIN v USING (token) GROUP BY ps.source)
      SELECT source, tokens, oov_tokens, oov_types,
        round(CAST(oov_tokens AS DOUBLE) / tokens, 6) AS oov_rate
      FROM g ORDER BY source"""))

  /** N-gram diversity / type-token ratio per source for n = 1..3
    * (oracle-exact): distinct grams over total grams — the standard
    * diversity-collapse detector (a source whose TTR craters is
    * boilerplate or template spam even when exact dedup passes).
    * Scale shape: gram construction is a narrow per-row HOF over a
    * MATERIALIZED token array (the codebase's HOF discipline — no
    * embedded tokenizer re-evaluation), and each leg is one
    * (source, gram) shuffle; nothing corpus-scale sorts. The three
    * legs union AFTER aggregation, so the union moves 3·|sources|
    * rows, not grams. */
  val q134NgramDiversity = GraftQuery(
    "q134_ngram_diversity", { (s, dir) =>
      val ts = docs(s, dir).select(col("source"),
        TextAnalysis.tokens(lower(col("text"))).as("ts"))
      def leg(n: Int): DataFrame = {
        // codegen'd gram builder — value-identical to the HOF
        // transform/slice/concat_ws form (ExtensionsSpec pins it), but
        // the window loop compiles instead of interpreting per element
        val grams = ts.select(col("source"),
          explode(graft.functions.SketchExpressions
            .gramStrings(col("ts"), n)).as("g"))
        grams.groupBy(col("source"))
          .agg(count(lit(1)).as("total_grams"),
            countDistinct(col("g")).as("distinct_grams"))
          .select(col("source"), lit(n).as("n"),
            col("total_grams"), col("distinct_grams"))
      }
      Seq(1, 2, 3).map(leg).reduce(_ unionByName _)
        .withColumn("ttr",
          round(col("distinct_grams").cast("double") / col("total_grams"), 6))
        .orderBy(col("source"), col("n"))
    },
    Some("""WITH t AS (
        SELECT source, list_filter(
          string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        FROM documents),
      g AS (
        SELECT source, 1 AS n, unnest(ts) AS g FROM t
        UNION ALL
        SELECT source, 2, unnest(CASE WHEN len(ts) >= 2 THEN
            list_transform(generate_series(1, len(ts) - 1),
              i -> array_to_string(list_slice(ts, i, i + 1), ' '))
          ELSE CAST([] AS VARCHAR[]) END) FROM t
        UNION ALL
        SELECT source, 3, unnest(CASE WHEN len(ts) >= 3 THEN
            list_transform(generate_series(1, len(ts) - 2),
              i -> array_to_string(list_slice(ts, i, i + 2), ' '))
          ELSE CAST([] AS VARCHAR[]) END) FROM t)
      SELECT source, n, count(*) AS total_grams,
        count(DISTINCT g) AS distinct_grams,
        round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS ttr
      FROM g GROUP BY source, n ORDER BY source, n"""))

  /** Zipf-slope corpus-health check per source (oracle-exact): OLS
    * slope of ln(freq) on ln(rank) over the source's token frequency
    * spectrum — natural text sits near −1; template/boilerplate
    * sources flatten toward 0 and spam steepens. Cross-engine FP
    * discipline (the q113 micros pattern, extended to regression):
    * both engines round ln(rank) and ln(freq) to integer MICROS first,
    * accumulate the OLS sums as exact integers, and perform ONE
    * identical-operand double division at the end — no order-dependent
    * float accumulation anywhere. Long-overflow headroom: micro values
    * ≤ ~2·10⁷ even at a 10⁹-type vocabulary, so Σx·y over 10⁶ types
    * stays < 2⁶³ at fixture-to-production scales this repo targets
    * (re-scale to 1e3 at extreme vocabularies). Scale shape: the
    * per-source rank window orders VOCABULARY-bounded rows (types, not
    * occurrences); everything else is map-side-combinable sums. */
  val q135ZipfSlope = GraftQuery(
    "q135_zipf_slope", { (s, dir) =>
      val counts = docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("token"))
      val xy = counts.withColumn("rk", row_number().over(w))
        .select(col("source"),
          round(log(col("rk").cast("double")) * 1e6).cast("long").as("x"),
          round(log(col("n").cast("double")) * 1e6).cast("long").as("y"))
      xy.groupBy(col("source")).agg(
          count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("source"), col("k").as("vocab"),
          round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"),
            6).as("zipf_slope"),
          // R² = cov²/(var_x·var_y): cov/var_x/var_y are exact longs,
          // but cov² would overflow 2⁶³ — so each factor casts to
          // double FIRST and the squares/products are IEEE ops on
          // identical operands in both engines (deterministic, the
          // q136 pattern)
          round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
            * (col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
            / ((col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("k") * col("syy") - col("sy") * col("sy")).cast("double")),
            6).as("fit_r2"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
        SELECT source, unnest(list_filter(
          string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        FROM documents),
      c AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
      r AS (SELECT source,
          CAST(round(ln(row_number() OVER (PARTITION BY source
            ORDER BY n DESC, token)) * 1e6) AS BIGINT) AS x,
          CAST(round(ln(n) * 1e6) AS BIGINT) AS y
        FROM c),
      a AS (SELECT source, count(*) AS k,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM r GROUP BY source)
      SELECT source, k AS vocab,
        round(CAST(k * sxy - sx * sy AS DOUBLE)
          / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        round(CAST(k * sxy - sx * sy AS DOUBLE)
            * CAST(k * sxy - sx * sy AS DOUBLE)
          / (CAST(k * sxx - sx * sx AS DOUBLE)
            * CAST(k * syy - sy * sy AS DOUBLE)), 6)
          AS fit_r2
      FROM a ORDER BY source"""))

  /** Canonical-representative selection over the q51 near-dup clusters
    * (oracle-exact): instead of q51's keep-min-id summary, each
    * cluster keeps its LONGEST member (length desc, id asc tie-break)
    * — the policy real curation pipelines use, because near-dup
    * groups usually contain one full document and N truncated scrapes
    * of it. One row per cluster: root, size, kept id, kept length.
    * The DuckDB oracle replays the ENTIRE chain a third way —
    * shingling, candidate edges, recursive-CTE components, and the
    * keep window — so the star-contraction roots must agree with the
    * closure's min-reachable labels (the q100 parity, now consumed by
    * an output row). Scale shape: q51's (components are join-rounds
    * with truncated lineage) plus one rank window PER CLUSTER —
    * bounded by cluster size, never corpus size. */
  val q51bCanonicalKeep = GraftQuery(
    "q51b_canonical_keep", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val edges = exactShingleEdges(s, dir)
      val comp = DedupCluster.connectedComponents(edges)
      val lens = corpus.select(col("doc_id").as("node"),
        length(col("text")).as("len"))
      val byRoot = Window.partitionBy(col("root"))
      comp.join(lens, Seq("node"))
        .withColumn("rk",
          row_number().over(byRoot.orderBy(col("len").desc, col("node"))))
        .withColumn("cluster_size", count(lit(1)).over(byRoot))
        .filter(col("rk") === 1)
        .select(col("root"), col("cluster_size"),
          col("node").as("keep_id"), col("len").as("keep_len"))
        .orderBy(col("root"))
    },
    Some("""WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      walk(node, front) AS (
        SELECT u, u FROM sym
        UNION
        SELECT w.node, s.v FROM walk w JOIN sym s ON s.u = w.front),
      comp AS (SELECT node, min(front) AS root FROM walk GROUP BY node),
      lens AS (SELECT doc_id AS node, len(text) AS l FROM corpus),
      j AS (SELECT comp.root, comp.node, lens.l
        FROM comp JOIN lens USING (node)),
      rkd AS (SELECT root, node, l,
          row_number() OVER (PARTITION BY root ORDER BY l DESC, node) AS rk,
          count(*) OVER (PARTITION BY root) AS n
        FROM j)
      SELECT root, n AS cluster_size, node AS keep_id, l AS keep_len
      FROM rkd WHERE rk = 1 ORDER BY root"""))

  /** Winnowed-edge transitive dedup (rows-only) — the SCALE path of
    * q51: candidate edges come from MOSS-winnowed fingerprints
    * ([[DedupCluster.winnowedShingleEdges]]) instead of every shingle,
    * so the postings self-join's pair mass — the duplicate-mass term
    * that makes q51/q51b the probe ledger's one super-linear family —
    * shrinks by the winnowing density (~2/(w+1) of gram positions
    * enter the join) while the repeat-length guarantee keeps every
    * near-dup pair whose shared span reaches the guarantee length.
    * minShared = 4 is the density-scaled twin of the exact path's 10
    * (10 · 2/(w+1) at w = 4). Rows differ from q51's by design below
    * the guarantee length (a 13-token doc's shared suffix cannot
    * promise 4 co-selected fingerprints); q51d pins both directions of
    * the agreement as an oracle-checked contract, and the 10× probe in
    * BASELINE.md records the growth-factor cut. */
  val q51cDedupClustersWinnowed = GraftQuery(
    "q51c_dedup_clusters_winnowed", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val edges = DedupCluster.winnowedShingleEdges(
        corpus, "text", "doc_id", shingleK = 3, w = 4,
        minShared = 4, maxDf = 1000)
      val comp = DedupCluster.connectedComponents(edges)
      val sizes = comp.groupBy(col("root")).agg(count(lit(1)).as("n"))
      sizes.agg(
          count(lit(1)).as("clusters"),
          sum(col("n")).as("clustered_docs"),
          max(col("n")).as("largest_cluster"))
        .crossJoin(corpus.agg(count(lit(1)).as("total")))
        .select(col("clusters"), col("clustered_docs"),
          col("largest_cluster"),
          (col("total") - col("clustered_docs") + col("clusters"))
            .as("survivors"))
    })

  /** Winnowed-cluster contract (oracle-checked, q104c pattern): both
    * directions of the q51c↔q51 agreement, violations vs the empty
    * relation.
    *
    * PRECISION leg — every winnowed edge must be a pair sharing ≥
    * minShared EXACT shingles: winnowed co-fingerprints are selected
    * from the same chained-XXH64 gram space as [[TextAnalysis
    * .shingleSet]], so the sparse path can only emit pairs the dense
    * path admits at the same threshold; a surviving row would mean the
    * gramHashSeq/ShingleHashesExpr hash chains diverged (or the
    * documented ~n²/2⁶⁴ collision fired).
    *
    * RECALL leg — the winnowing guarantee (Schleimer et al. 2003): a
    * selected position covers at most w windows, so a shared
    * contiguous run of g grams forces ≥ ⌈(g−w+1)/w⌉ distinct
    * co-selected fingerprints; g ≥ (minShared+1)·w − 1 = 19 therefore
    * forces a direct winnowed edge. The fixture's ground-truth pairs
    * (d, d+10⁶) share the perturbed doc's whole gram sequence —
    * g = ntok − 3 contiguous grams — so every ground-truth pair at or
    * above the guarantee length that the EXACT clustering co-clusters
    * must co-cluster in the winnowed components too. (Conditioning on
    * exact co-clustering keeps the two legs symmetric: both compare
    * the sparse path against q51's components, and both inherit the
    * same maxDf stop-shingle caveat. Distinct POSITIONS collapse to
    * one fingerprint only when a doc repeats an identical k-gram
    * inside one window span — the q104 repeat caveat.) */
  val q51dWinnowClusterContract = GraftQuery(
    "q51d_winnow_cluster_contract", { (s, dir) =>
      val ms = 4; val w = 4
      val corpus = nearDupCorpus(s, dir).localCheckpoint(eager = false)
      val wEdges = DedupCluster.winnowedShingleEdges(
        corpus, "text", "doc_id", shingleK = 3, w = w,
        minShared = ms, maxDf = 1000)
      // precision: winnowed edges not among >= ms-shared exact pairs
      val exactMs = DedupCluster.sharedShingleEdges(
        corpus, "text", "doc_id", shingleK = 3, minShared = ms, maxDf = 1000)
      val precViol = wEdges.join(exactMs, Seq("u", "v"), "left_anti")
        .select(lit("precision").as("kind"), col("u"), col("v"))
      // recall: guarantee-length ground-truth pairs that the exact
      // components co-cluster but the winnowed components split or drop
      val exactComp = DedupCluster.connectedComponents(
        exactShingleEdges(s, dir))
      val winComp = DedupCluster.connectedComponents(wEdges)
      val gt = corpus.filter(col("doc_id") < 1000000L)
        .select(col("doc_id").as("u"), (col("doc_id") + 1000000L).as("v"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .as("ntok"))
        .filter(col("ntok") - 3 >= (ms + 1) * w - 1)
      def lab(c: DataFrame, side: String, out: String) =
        c.select(col("node").as(side), col("root").as(out))
      val recViol = gt
        .join(lab(exactComp, "u", "re_u"), Seq("u"))
        .join(lab(exactComp, "v", "re_v"), Seq("v"))
        .filter(col("re_u") === col("re_v"))
        .join(lab(winComp, "u", "rw_u"), Seq("u"), "left")
        .join(lab(winComp, "v", "rw_v"), Seq("v"), "left")
        .filter(col("rw_u").isNull || col("rw_v").isNull ||
          col("rw_u") =!= col("rw_v"))
        .select(lit("recall").as("kind"), col("u"), col("v"))
      precViol.unionByName(recViol).orderBy(col("kind"), col("u"), col("v"))
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS u,
      CAST(NULL AS BIGINT) AS v WHERE 1 = 0"""))

  /** LSH star-linked transitive dedup (rows-only) — the LINEAR
    * clustering path: MinHash-band buckets emit member→bucket-min star
    * edges (df − 1 per bucket, never df²/2 pairs), so the edge builder
    * is linear in duplicate mass — the posture of production fuzzy
    * dedup at corpus scale, where q51's verified pair counting is the
    * precision path and THIS is what runs first at 100 TB. Membership
    * semantics are the banding threshold curve (shares ≥ 1 of 8 bands
    * over a 32-hash signature), not exact shared-shingle counts, so
    * the summary differs from q51's by design; q51f pins the star ≡
    * pair-graph component equality through the oracle gate, DedupSpec
    * holds the ground-truth recall floor, and the 10× probe in
    * BASELINE.md records the linear growth. */
  val q51eDedupClustersLsh = GraftQuery(
    "q51e_dedup_clusters_lsh", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val edges = DedupCluster.lshClusterEdges(
        corpus, "text", "doc_id", shingleK = 3, numHashes = 32, bands = 8)
      val comp = DedupCluster.connectedComponents(edges)
      val sizes = comp.groupBy(col("root")).agg(count(lit(1)).as("n"))
      sizes.agg(
          count(lit(1)).as("clusters"),
          sum(col("n")).as("clustered_docs"),
          max(col("n")).as("largest_cluster"))
        .crossJoin(corpus.agg(count(lit(1)).as("total")))
        .select(col("clusters"), col("clustered_docs"),
          col("largest_cluster"),
          (col("total") - col("clustered_docs") + col("clusters"))
            .as("survivors"))
    })

  /** Star-vs-pair component equality contract (oracle-checked, q104c
    * pattern): the components of the star-linked edge set must equal
    * the components of the FULL LSH candidate-pair graph (the
    * quadratic expansion this path exists to avoid) — u and v sharing
    * a bucket are connected through its minimum, and every star edge
    * is itself a candidate pair, so the two labelings must agree node
    * for node. The pair expansion runs only here, at verify SF, as the
    * contract's reference; a surviving row would mean star linking
    * changed the clustering, which the bucket-connectivity argument
    * says is impossible. */
  val q51fLshStarPairContract = GraftQuery(
    "q51f_lsh_star_pair_contract", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir).localCheckpoint(eager = false)
      val starComp = DedupCluster.connectedComponents(
          DedupCluster.lshClusterEdges(corpus, "text", "doc_id",
            shingleK = 3, numHashes = 32, bands = 8))
        .withColumnRenamed("root", "root_star")
      // the quadratic reference: the same banding, expanded to pairs
      val banded = corpus
        .select(col("doc_id").as("id"),
          TextAnalysis.shingleSet(col("text"), 3).as("shingles"))
        .filter(size(col("shingles")) > 0)
        .select(col("id"), explode(Dedup.bandHashes(
          Dedup.minhashSignature(col("shingles"), 32), 8, 4)).as("band"))
      val pairs = banded.select(col("band"), col("id").as("u"))
        .join(banded.select(col("band"), col("id").as("v")), Seq("band"))
        .filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
      val pairComp = DedupCluster.connectedComponents(pairs)
        .withColumnRenamed("root", "root_pair")
      starComp.join(pairComp, Seq("node"), "full_outer")
        .filter(!(col("root_star") <=> col("root_pair")))
        .select(col("node"), col("root_star"), col("root_pair"))
        .orderBy(col("node"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS node,
      CAST(NULL AS BIGINT) AS root_star, CAST(NULL AS BIGINT) AS root_pair
      WHERE 1 = 0"""))

  /** Per-label embedding-cluster coherence (oracle-EXACT — unusual for
    * an embedding row, which elsewhere verify via contracts): vector
    * count, centroid norm, mean and min cosine-to-centroid. The
    * telemetry a SemDeDup/IVF deployment reads to decide whether its
    * cell structure still matches the data. Exactness architecture
    * (the q113/q135 integer-micros discipline, extended to vector
    * math): components quantize to micro longs (one identical IEEE
    * multiply + round per value), the quantized centroid is
    * round(Σxm/n) — exact integer sum, one division — and every dot
    * product / squared norm is an exact INTEGER sum of micro products,
    * so both engines reach sqrt/division with bit-identical operands;
    * per-row cosines re-quantize before the mean (order-independent
    * exact sum), min is order-independent by definition. Overflow
    * headroom: unit-scale micro components ≤ ~2e6 → Σ over 64 dims
    * ≤ ~3e14 ≪ 2⁶³. Scale shape: one (label, dim) shuffle for the
    * centroid (labels×64 rows out), one (label, vec) re-aggregation;
    * the centroid relation joins back un-hinted (cardinality is
    * data-dependent — AQE broadcasts it when small, the Quantiles
    * no-hint rule). */
  val q136EmbeddingCoherence = GraftQuery(
    "q136_embedding_coherence", { (s, dir) =>
      val x = embeds(s, dir)
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("d", "xv")))
        .select(col("label"), col("vec_id"), col("d"),
          round(col("xv").cast("double") * 1e6).cast("long").as("xm"))
      val cent = x.groupBy(col("label"), col("d"))
        .agg(round(sum(col("xm")).cast("double") / count(lit(1)))
          .cast("long").as("cm"))
      val b = cent.groupBy(col("label"))
        .agg(sum(col("cm") * col("cm")).as("b2"))
      val perVec = x.join(cent, Seq("label", "d"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(col("xm") * col("cm")).as("num"),
          sum(col("xm") * col("xm")).as("a2"))
      val cosr = perVec.join(b, Seq("label"))
        .withColumn("cos", col("num").cast("double")
          / (sqrt(col("a2").cast("double")) * sqrt(col("b2").cast("double"))))
        .withColumn("cos_micro", round(col("cos") * 1e6).cast("long"))
      cosr.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sqrt(max(col("b2")).cast("double")) / 1e6, 6)
            .as("centroid_norm"),
          round(sum(col("cos_micro")).cast("double")
            / (count(lit(1)) * 1e6), 6).as("mean_cos"),
          round(min(col("cos")), 6).as("min_cos"))
        .orderBy(col("label"))
    },
    Some("""WITH x AS (
        SELECT label, vec_id,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xm,
          unnest(generate_series(1, len(embedding))) AS d
        FROM embeddings),
      c AS (SELECT label, d,
          CAST(round(CAST(sum(xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        FROM x GROUP BY 1, 2),
      b AS (SELECT label, CAST(sum(cm * cm) AS BIGINT) AS b2
        FROM c GROUP BY 1),
      pv AS (SELECT x.label, x.vec_id,
          CAST(sum(x.xm * c.cm) AS BIGINT) AS num,
          CAST(sum(x.xm * x.xm) AS BIGINT) AS a2
        FROM x JOIN c USING (label, d) GROUP BY 1, 2),
      cosr AS (SELECT pv.label,
          CAST(pv.num AS DOUBLE)
            / (sqrt(CAST(pv.a2 AS DOUBLE)) * sqrt(CAST(b.b2 AS DOUBLE)))
            AS cos, b.b2
        FROM pv JOIN b USING (label))
      SELECT label, count(*) AS n,
        round(sqrt(CAST(max(b2) AS DOUBLE)) / 1e6, 6) AS centroid_norm,
        round(CAST(sum(CAST(round(cos * 1e6) AS BIGINT)) AS DOUBLE)
          / (count(*) * 1e6), 6) AS mean_cos,
        round(min(cos), 6) AS min_cos
      FROM cosr GROUP BY label ORDER BY label"""))

  /** Audio-modality features through the REAL WAV path (oracle-exact):
    * the deterministic sine fixture is genuine RIFF/PCM16 bytes, so the
    * Spark side chunk-walks and decodes actual samples, and DuckDB
    * replays the SAME quantized signal analytically — s(t) =
    * round(16384·sin(2π·f·t/8000)) gives exact integer sample values in
    * both engines (identical operand-order double arithmetic before one
    * round, and the fixture quantizes HALF AWAY FROM ZERO to match
    * DuckDB round() — see syntheticWavMedia — so the only cross-engine
    * exposure is a ≤1-ulp libm sin landing within 1 ulp of a .5
    * boundary, the q135 ln() risk class — negligible and documented),
    * after which Σs² and max|s| are exact
    * integers and RMS/peak are single shared IEEE operations. A defect
    * anywhere in the container walk, the PCM16 little-endian sample
    * decode, or the energy fold hash-fails the row. Scale shape: the
    * decode is [[graft.ops.Multimodal.decodeAudioFeatures]]'s narrow
    * per-partition pass — per-blob work, no shuffle. */
  val q137AudioFeatures = GraftQuery(
    "q137_audio_features", { (s, _) =>
      graft.ops.Multimodal.decodeAudioFeatures(
          s, graft.ops.Multimodal.syntheticWavMedia(s, n = 3))
        .select(col("media_id"), col("channels"), col("sample_rate"),
          col("n_frames"),
          round(col("duration_sec"), 4).as("duration_sec"),
          round(col("rms"), 4).as("rms"),
          round(col("peak"), 4).as("peak"))
        .orderBy(col("media_id"))
    },
    Some("""WITH tones AS (SELECT unnest(generate_series(0, 2)) AS tone),
      ts AS (SELECT unnest(generate_series(0, 799)) AS t),
      s AS (SELECT tone,
          CAST(round(16384 * sin(2 * pi() * (440.0 * (tone + 1)) * t / 8000))
            AS BIGINT) AS smp
        FROM tones, ts),
      a AS (SELECT tone, CAST(sum(smp * smp) AS BIGINT) AS ss,
          CAST(max(abs(smp)) AS BIGINT) AS pk
        FROM s GROUP BY tone)
      SELECT 9500000 + tone AS media_id, 1 AS channels,
        8000 AS sample_rate, 800 AS n_frames,
        round(800.0 / 8000, 4) AS duration_sec,
        round(sqrt(CAST(ss AS DOUBLE) / 800) / 32768, 4) AS rms,
        round(CAST(pk AS DOUBLE) / 32768, 4) AS peak
      FROM a ORDER BY media_id"""))

  /** Video-path frame accounting through the REAL explode-shaped
    * transform (oracle-exact — the third modality to carry one, after
    * image q39 and audio q137): the stand-in media table's payload is
    * the document's UTF-8 bytes behind a 12-byte header, so
    * [[graft.ops.Multimodal.sampleFrames]]'s every-stride-th fixed-size
    * frame slicing is replayable arithmetic — DuckDB regenerates the
    * offsets and byte counts as exact integers. A defect in the header
    * skip, the stride arithmetic, or the tail-frame truncation
    * hash-fails. Scale shape: one narrow per-partition flatMap; frames
    * fan out without materializing all frames per row first. */
  val q139FrameSample = GraftQuery(
    "q139_frame_sample", { (s, dir) =>
      val media = graft.ops.Multimodal.syntheticMediaFromDocs(docs(s, dir))
      graft.ops.Multimodal.sampleFrames(s, media, frameBytes = 16, stride = 4)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame")).cast("long")).as("frame_bytes"),
          max(col("frame_idx")).as("last_idx"))
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
        SELECT doc_id AS media_id, octet_length(encode(text)) AS blen
        FROM documents),
      onsets AS (SELECT media_id, blen,
          unnest(generate_series(0, blen - 1, 64)) AS o
        FROM d WHERE blen > 0),
      fr AS (SELECT media_id, CAST(o // 16 AS INT) AS idx,
          least(16, blen - o) AS fb
        FROM onsets)
      SELECT media_id, count(*) AS n_frames,
        CAST(sum(fb) AS BIGINT) AS frame_bytes, max(idx) AS last_idx
      FROM fr GROUP BY media_id ORDER BY media_id"""))

  /** REAL-AVI frame accounting (oracle-exact): the video twin of the
    * audio q137 — [[graft.ops.Multimodal.syntheticAviMedia]] assembles
    * genuine RIFF/AVI containers (LIST/hdrl + avih + LIST/movi of
    * `00db` chunks) with closed-form ground truth, the engine decodes
    * dims through [[graft.ops.Multimodal.decodeMeta]]'s real chunk
    * descent and demuxes the ACTUAL movi frame chunks through
    * [[graft.ops.Multimodal.sampleFrames]], and DuckDB replays the
    * synthesis analytically (video i: (32+16i)×(24+8i), 8+4i frames,
    * frame j carrying 16+4·(j mod 3) bytes; stride-3 sampling keeps
    * j ≡ 0 mod 3). A defect in the RIFF walk, the avih field offsets,
    * the movi sub-chunk enumeration, or the stride arithmetic
    * hash-fails the row. Scale shape: both passes are narrow
    * per-partition iterators — per-blob work, no shuffle before the
    * final per-media aggregate. */
  val q139bAviFrameAccounting = GraftQuery(
    "q139b_avi_frame_accounting", { (s, _) =>
      val media = graft.ops.Multimodal.syntheticAviMedia(s, n = 3)
      val dims = graft.ops.Multimodal.decodeMeta(s, media)
        .select(col("media_id"), col("width"), col("height"))
      val frames = graft.ops.Multimodal.sampleFrames(s, media, stride = 1)
      val acct = frames.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          count(when(col("frame_idx") % 3 === 0, 1)).as("n_sampled"),
          sum(when(col("frame_idx") % 3 === 0,
            length(col("frame")).cast("long"))).as("sampled_bytes"),
          max(when(col("frame_idx") % 3 === 0, col("frame_idx")))
            .as("last_idx"))
      dims.join(acct, Seq("media_id")).orderBy(col("media_id"))
    },
    Some("""WITH v AS (SELECT unnest(generate_series(0, 2)) AS i),
      fr AS (SELECT i, unnest(generate_series(0, 8 + 4 * i - 1)) AS j
        FROM v)
      SELECT 9600000 + i AS media_id,
        CAST(32 + 16 * i AS INT) AS width,
        CAST(24 + 8 * i AS INT) AS height,
        count(*) AS n_frames,
        count(*) FILTER (WHERE j % 3 = 0) AS n_sampled,
        CAST(sum(16 + 4 * (j % 3)) FILTER (WHERE j % 3 = 0) AS BIGINT)
          AS sampled_bytes,
        CAST(max(j) FILTER (WHERE j % 3 = 0) AS INT) AS last_idx
      FROM fr GROUP BY i ORDER BY media_id"""))

  /** Frame-level video dedup (oracle-EXACT, cross-modality): demux
    * every frame of a synthetic-AVI corpus through the REAL RIFF/movi
    * chunk walk, hash the actual frame bytes (md5 over binary), and
    * report the corpus duplicate structure — distinct frames, dup
    * burden, largest group, groups spanning videos. The fixture's fill
    * bytes follow a closed-form residue scheme (len from j mod 3, byte
    * from j mod 5 and video-parity), so a DuckDB oracle regenerates
    * the IDENTICAL group structure analytically — the two sides agree
    * iff the demux recovered every frame's true bytes byte-for-byte
    * (constant-fill arrays are equal exactly when (len, byte) match,
    * so the md5-grouping and the residue-grouping are the same
    * partition). This is the production image/video near-dup screen's
    * exact-hash first stage at corpus scale: one narrow demux pass, a
    * hash shuffle on (sig, len), never frame×frame pairs. */
  val q144FrameDedup = GraftQuery(
    "q144_frame_dedup", { (s, _) =>
      val media = graft.ops.Multimodal.syntheticAviMedia(s, n = 4,
        payloadByte = (i, j) => (7 * (j % 5) + 13 * (i % 2)) % 256)
      val frames = graft.ops.Multimodal.sampleFrames(s, media, stride = 1)
      val groups = frames
        .select(md5(col("frame")).as("sig"),
          length(col("frame")).as("len"), col("media_id"))
        .groupBy(col("sig"), col("len"))
        .agg(count(lit(1)).as("df"),
          countDistinct(col("media_id")).as("videos"))
      groups.agg(
        count(lit(1)).as("distinct_frames"),
        sum(col("df")).as("total_frames"),
        coalesce(sum(when(col("df") > 1, col("df"))), lit(0L))
          .as("dup_frames"),
        max(col("df")).as("largest_group"),
        count(when(col("videos") > 1, 1)).as("cross_video_groups"))
    },
    Some("""WITH v AS (SELECT unnest(generate_series(0, 3)) AS i),
      fr AS (SELECT i, unnest(generate_series(0, 8 + 4 * i - 1)) AS j
        FROM v),
      k AS (SELECT i, 16 + 4 * (j % 3) AS len,
        (7 * (j % 5) + 13 * (i % 2)) % 256 AS b FROM fr),
      g AS (SELECT len, b, count(*) AS df, count(DISTINCT i) AS videos
        FROM k GROUP BY len, b)
      SELECT count(*) AS distinct_frames,
        CAST(sum(df) AS BIGINT) AS total_frames,
        CAST(coalesce(sum(CASE WHEN df > 1 THEN df END), 0) AS BIGINT)
          AS dup_frames,
        CAST(max(df) AS BIGINT) AS largest_group,
        count(CASE WHEN videos > 1 THEN 1 END) AS cross_video_groups
      FROM g"""))

  /** Image near-dup detection via perceptual dHash banding
    * (rows-only): the NEAR stage q144's exact hash cannot reach —
    * brightness-shifted, re-encoded copies have different bytes but
    * identical gradients. dHash runs over the REAL JPEG pixel decode,
    * candidates come from 16-bit signature bands (the SimHash trick —
    * a pair within Hamming r misses all 4 bands only if its flipped
    * bits spread across every band), and the Hamming gate runs only on
    * banded candidates: image×image pair work never materializes.
    * q145b pins recall through the oracle gate: every planted
    * ground-truth near-pair must be caught. */
  val q145ImageNearDup = GraftQuery(
    "q145_image_neardup", { (s, _) =>
      val near = imageNearDupPairs(s)
      near.agg(
        count(lit(1)).as("neardup_pairs"),
        coalesce(max(col("hamming")), lit(-1L)).as("max_hamming"),
        countDistinct(col("u")).as("left_images"))
    })

  private def imageNearDupPairs(s: SparkSession): DataFrame = {
    val media = graft.ops.Multimodal.syntheticJpegPairMedia(s, n = 3)
    val hs = graft.ops.Multimodal.dHash(s, media).filter(col("valid"))
      .localCheckpoint(eager = false)
    val bands = hs.select(col("media_id"), col("dhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("dhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
    bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("u"), col("b.media_id").as("v"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 10)
  }

  /** MP4 / ISO-BMFF container accounting, oracle-EXACT (r20): the
    * modern-container twin of q139b's RIFF walk —
    * [[graft.ops.Multimodal.syntheticMp4MediaFromDocs]] assembles
    * spec-shaped MP4s (ftyp + moov/mvhd + per-track tkhd + mdia/hdlr +
    * mdat) with closed-form parameters per doc_id, and
    * [[graft.ops.Multimodal.decodeMp4Meta]]'s box descent recovers
    * brand, timescale/duration (the mvhd v0 layout), per-kind track
    * counts (hdlr) and the video track's 16.16 fixed dims (tkhd). The
    * DuckDB oracle replays the synthesis arithmetic analytically, so a
    * defect in the box walk, the version-dependent offsets, or the
    * fixed-point shift hash-fails the row. Scale shape: synth and
    * decode are both narrow per-partition passes — per-blob work, one
    * shuffle at the final per-bucket aggregate. */
  val q171Mp4BoxWalk = GraftQuery(
    "q171_mp4_box_walk", { (s, dir) =>
      val media = graft.ops.Multimodal.syntheticMp4MediaFromDocs(s,
        docs(s, dir))
      graft.ops.Multimodal.decodeMp4Meta(s, media)
        .groupBy((col("media_id") % 5).as("bucket"))
        .agg(count(lit(1)).as("n"),
          count(when(col("valid"), 1)).as("n_valid"),
          countDistinct(col("brand")).as("brands"),
          sum((col("duration_ticks") / col("timescale")).cast("long"))
            .as("dur_s"),
          sum(col("tracks").cast("long")).as("tracks"),
          sum(col("audio_tracks").cast("long")).as("audio"),
          sum(col("width").cast("long")).as("w_sum"),
          max(col("height")).as("h_max"))
        .orderBy(col("bucket"))
    },
    Some("""WITH d AS (SELECT doc_id FROM documents),
      p AS (SELECT doc_id, doc_id % 5 AS bucket,
          16 * (doc_id % 7 + 1) AS w, 9 * (doc_id % 7 + 1) AS h,
          doc_id % 13 + 1 AS dur_s, 1 + doc_id % 3 AS tracks,
          doc_id % 3 AS audio
        FROM d)
      SELECT bucket, count(*) AS n, count(*) AS n_valid,
        CAST(1 AS BIGINT) AS brands,
        CAST(sum(dur_s) AS BIGINT) AS dur_s,
        CAST(sum(tracks) AS BIGINT) AS tracks,
        CAST(sum(audio) AS BIGINT) AS audio,
        CAST(sum(w) AS BIGINT) AS w_sum,
        CAST(max(h) AS INT) AS h_max
      FROM p GROUP BY bucket ORDER BY bucket"""))

  /** Recall contract for q145 (oracle-checked, q104c pattern): the
    * planted ground-truth near-pairs (each image and its
    * brightness-shifted re-encoded copy, ids offset by 1000) that the
    * banded dHash join FAILED to catch — must be the empty relation. A
    * surviving row names the image whose perceptual copy slipped past
    * both the banding and the Hamming gate. */
  val q145bImageNearDupRecall = GraftQuery(
    "q145b_image_neardup_recall", { (s, _) =>
      val near = imageNearDupPairs(s)
      val gt = (0 until 3).map(i => (9700000L + i, 9700000L + i + 1000L))
      import s.implicits._
      gt.toDF("u", "v")
        .join(near.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
        .orderBy(col("u"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS u, CAST(NULL AS BIGINT) AS v
      WHERE 1 = 0"""))

  /** EXACT-threshold Jaccard similarity join with AllPairs/PPJoin
    * prefix filtering ([[graft.ops.Dedup.jaccardJoinPrefix]]) — the
    * first similarity JOIN in the registry to carry a full hash oracle:
    * the result set is exact by construction (prefix filtering is a
    * lossless candidate screen, proven in the operator's scaladoc), so
    * DuckDB replays the SEMANTICS — brute-force all-pairs token-set
    * Jaccard — and the per-document rollup of every pair, scores
    * included, must hash-match. The quadratic expansion runs only on
    * the oracle side at verify SF; the engine side never leaves the
    * prefix-postings join. The row aggregates per LEFT id (the
    * synthetic corpus is deliberately token-dense — ~118k qualifying
    * pairs at t = 0.8 over 1000 docs — and dumping each would make the
    * gate's weight the fixture's density, not the operator): n_pairs
    * and max_j are order-independent, and the score mass follows the
    * q136 integer-micros discipline — each jaccard quantizes via one
    * identical IEEE multiply+round, then sums exactly as longs, so the
    * aggregate detects a single wrong pair or score anywhere. Cross-
    * engine float: jaccard = i/(nu+nv−i) is one division over exact
    * integers in both engines, and the >= 0.8 gate compares that same
    * IEEE result, so no boundary drift is possible. */
  val q146JaccardJoinPrefix = GraftQuery(
    "q146_jaccard_join_prefix", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      Dedup.jaccardJoinPrefix(corpus, "text", "doc_id", threshold = 0.8)
        .groupBy(col("u"))
        .agg(count(lit(1)).as("n_pairs"),
          round(max(col("jaccard")), 6).as("max_j"),
          sum(round(col("jaccard") * 1e6).cast("long")).as("sum_j_micro"))
        .orderBy(col("u"))
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '')
        FROM documents),
      tok AS (SELECT doc_id,
          unnest(list_distinct(list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0))) AS token
        FROM corpus),
      sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS i
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      j AS (SELECT u, v, CAST(i AS DOUBLE) / (su.n + sv.n - i) AS jac
        FROM inter JOIN sz su ON su.doc_id = u JOIN sz sv ON sv.doc_id = v)
      SELECT u, count(*) AS n_pairs, round(max(jac), 6) AS max_j,
        CAST(sum(CAST(round(jac * 1e6) AS BIGINT)) AS BIGINT) AS sum_j_micro
      FROM j WHERE jac >= 0.8 GROUP BY u ORDER BY u"""))

  /** Lloyd's k-means TRAINING, oracle-exact
    * ([[graft.ops.Similarity.kmeansTelemetryMicros]], k = 8, two full
    * iterations): per-cluster member count, scaled inertia, and final
    * centroid norm — the first row where the TRAINER itself is
    * hash-gated (the production trainer `kmeansCentroids` verifies only
    * through the q65b IVF contract downstream). The DuckDB oracle
    * refits the whole model: quantize → seed from the 8 lowest vec_ids
    * → two unrolled assign/recompute rounds with the same (dist, cid)
    * tie-break and round(Σ/n) centroid updates — every arithmetic step
    * is exact-integer or a single shared IEEE operation, so a defect in
    * seeding, distance algebra, the argmin tie-break, or the mean
    * update hash-fails the row. */
  val q147KmeansTelemetry = GraftQuery(
    "q147_kmeans_telemetry", { (s, dir) =>
      Similarity.kmeansTelemetryMicros(
          embeds(s, dir), "embedding", "vec_id", k = 8, iters = 2)
        .orderBy(col("cid"))
    },
    Some("""WITH x AS (SELECT vec_id,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
            AS xm,
          unnest(generate_series(1, len(embedding))) AS d
        FROM embeddings),
      seeds AS (SELECT vec_id,
          CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
      c0 AS (SELECT s.cid, x.d, x.xm AS cm
        FROM x JOIN seeds s USING (vec_id)),
      d1 AS (SELECT x.vec_id, c.cid,
          CAST(sum((x.xm - c.cm) * (x.xm - c.cm)) AS BIGINT) AS dist
        FROM x JOIN c0 c USING (d) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
              AS rn
          FROM d1) WHERE rn = 1),
      c1 AS (SELECT a.cid, x.d,
          CAST(round(CAST(sum(x.xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        FROM x JOIN a1 a USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT x.vec_id, c.cid,
          CAST(sum((x.xm - c.cm) * (x.xm - c.cm)) AS BIGINT) AS dist
        FROM x JOIN c1 c USING (d) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid, dist FROM (
          SELECT vec_id, cid, dist,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
              AS rn
          FROM d2) WHERE rn = 1),
      c2 AS (SELECT a.cid, x.d,
          CAST(round(CAST(sum(x.xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        FROM x JOIN a2 a USING (vec_id) GROUP BY 1, 2),
      norms AS (SELECT cid, CAST(sum(cm * cm) AS BIGINT) AS cnorm2
        FROM c2 GROUP BY cid)
      SELECT a2.cid, count(*) AS n_members,
        CAST(sum(a2.dist // 1000) AS BIGINT) AS inertia_k,
        max(norms.cnorm2) AS cnorm2
      FROM a2 JOIN norms USING (cid)
      GROUP BY a2.cid ORDER BY a2.cid"""))

  /** Incremental ≡ scratch contract for the decomposed k-means step
    * (oracle-checked, q51f pattern): one frozen-centroid assign-stats
    * pass over the FULL corpus must equal the exact-integer fold of two
    * disjoint half-corpus passes, cell for cell — the decomposition law
    * that makes [[graft.ops.Similarity.kmeansAssignStatsMicros]] a
    * streaming/mini-batch step (assignment depends only on the frozen
    * centroids, so contributions are independent and sums decompose).
    * A surviving row names the (cid, d) cell where folding diverged
    * from scratch. */
  val q147bKmeansIncrContract = GraftQuery(
    "q147b_kmeans_incr_contract", { (s, dir) =>
      val e = embeds(s, dir).localCheckpoint(eager = false)
      val cents = Similarity.kmeansSeedCentroidsMicros(
          e, "embedding", "vec_id", k = 8)
        .localCheckpoint(eager = false)
      def stats(part: org.apache.spark.sql.DataFrame) =
        Similarity.kmeansAssignStatsMicros(part, "embedding", "vec_id", cents)
      val full = stats(e)
        .select(col("cid"), col("d"),
          col("n").as("n_full"), col("sxm").as("sxm_full"))
      val folded = Similarity.mergeKmeansStats(
          stats(e.filter(col("vec_id") % 2 === 0)),
          stats(e.filter(col("vec_id") % 2 =!= 0)))
        .select(col("cid"), col("d"),
          col("n").as("n_fold"), col("sxm").as("sxm_fold"))
      full.join(folded, Seq("cid", "d"), "full_outer")
        .filter(!(col("n_full") <=> col("n_fold")) ||
          !(col("sxm_full") <=> col("sxm_fold")))
        .select(col("cid"), col("d"), col("n_full"), col("n_fold"),
          col("sxm_full"), col("sxm_fold"))
        .orderBy(col("cid"), col("d"))
    },
    Some("""SELECT CAST(NULL AS INT) AS cid, CAST(NULL AS INT) AS d,
      CAST(NULL AS BIGINT) AS n_full, CAST(NULL AS BIGINT) AS n_fold,
      CAST(NULL AS BIGINT) AS sxm_full, CAST(NULL AS BIGINT) AS sxm_fold
      WHERE 1 = 0"""))

  /** Per-node TRIANGLE census + local clustering coefficient over the
    * REAL shared-shingle near-dup edge relation (oracle-EXACT,
    * per-node): [[graft.ops.Graph.triangleCounts]] enumerates via
    * degree orientation — every triangle found once at its unique
    * two-outgoing-edges apex, pair work Σ outdeg² ≈ m·√m — while the
    * DuckDB oracle recomputes the same census the naive way (ID-ordered
    * triple self-join) over the SAME edges (the q51 oracle's CTE
    * chain), so orientation bugs (a triangle double-counted or missed
    * at the wrong apex) hash-fail on the exact per-node rows. The
    * clustering coefficient quantizes to integer micros with one
    * shared IEEE expression. The dedup/graph telemetry this feeds:
    * tightly-clustered near-dup neighborhoods (high LCC) are template
    * families; high-degree low-LCC nodes are hubs joining unrelated
    * groups — the q51-family triage signal. */
  val q151TriangleCensus = GraftQuery(
    "q151_triangle_census", { (s, dir) =>
      val edges = exactShingleEdges(s, dir)
      graft.ops.Graph.triangleCounts(edges)
        .orderBy(col("node"))
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '')
        FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      canon AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM canon e1
        JOIN canon e2 ON e2.a = e1.b
        JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
      pernode AS (SELECT node, count(*) AS triangles FROM (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
        GROUP BY node),
      deg AS (SELECT node, count(*) AS degree FROM (
          SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
        GROUP BY node)
      SELECT d.node, coalesce(p.triangles, 0) AS triangles, d.degree,
        CASE WHEN d.degree < 2 THEN 0
             ELSE CAST(round(coalesce(p.triangles, 0) * 2.0 * 1e6
               / (d.degree * (d.degree - 1))) AS BIGINT)
        END AS lcc_micro
      FROM deg d LEFT JOIN pernode p USING (node)
      ORDER BY node"""))

  // the q51-family edge relation replayed in SQL — shared by the
  // graph-telemetry oracles (q151 carries its own copy inline)
  private val shingleEdgesSql = """corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '')
        FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks)-2, 1)),
          i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
              FROM corpus)),
      keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      shf AS (SELECT doc_id, s FROM sh JOIN keep USING (s)),
      e0 AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10)"""

  /** K-CORE of the near-dup graph ([[graft.ops.Graph.kCore]], k = 2,
    * oracle-exact): the dense-region extractor — nodes that keep >= 2
    * surviving neighbors after iterative peeling; isolated pairs and
    * pendant docs peel away, template families remain. The Spark side
    * peels to a COUNT-VERIFIED fixpoint; the oracle unrolls six peel
    * rounds (≫ the fixture's convergence depth — a deeper fixture
    * hash-fails loudly rather than silently truncating, the q100
    * discipline in oracle form). */
  val q153KCore = GraftQuery(
    "q153_kcore", { (s, dir) =>
      val edges = exactShingleEdges(s, dir)
      val (core, _, converged) = graft.ops.Graph.kCore(edges, k = 2)
      require(converged, "kCore hit maxRounds without converging — " +
        "the surviving subgraph is not a k-core")
      core.agg(
        count(lit(1)).as("core_nodes"),
        (sum(col("degree")) / 2).cast("long").as("core_edges"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))
    },
    Some {
      // every peel stage MATERIALIZED: DuckDB inlines plain CTEs, and a
      // 6-round chain whose every stage references its predecessor
      // three times would otherwise expand the base scan ~3^6-fold
      // (measured: file-handle exhaustion before any row came back)
      val peels = (1 to 6).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
             SELECT a AS node FROM e${i - 1}
             UNION ALL SELECT b FROM e${i - 1}) GROUP BY node),
           k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 2),
           e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
             WHERE a IN (SELECT node FROM k$i)
               AND b IN (SELECT node FROM k$i))"""
      }.mkString(",\n      ")
      s"""WITH ${shingleEdgesSql.replaceFirst("e0 AS \\(", "e0 AS MATERIALIZED (")},
      $peels,
      fd AS (SELECT node, count(*) AS degree FROM (
          SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6)
        GROUP BY node)
      SELECT count(*) AS core_nodes,
        CAST(sum(degree) / 2 AS BIGINT) AS core_edges,
        min(degree) AS min_degree, max(degree) AS max_degree
      FROM fd"""
    })

  /** Degree ASSORTATIVITY of the near-dup graph (Newman 2002,
    * oracle-exact via all-integer sums —
    * [[graft.ops.Graph.degreeAssortativity]]): strongly positive here
    * by construction (template families link among themselves), and
    * the drift signal a curation pipeline watches — a slide toward 0
    * or negative means hub documents (boilerplate) have started
    * stitching unrelated groups. */
  val q154Assortativity = GraftQuery(
    "q154_degree_assortativity", { (s, dir) =>
      val edges = exactShingleEdges(s, dir)
      graft.ops.Graph.degreeAssortativity(edges)
    },
    Some(s"""WITH $shingleEdgesSql,
      deg AS (SELECT node, count(*) AS deg FROM (
          SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        GROUP BY node),
      pr AS (SELECT da.deg AS dx, db.deg AS dy
        FROM e0 JOIN deg da ON da.node = e0.a
        JOIN deg db ON db.node = e0.b),
      bothdir AS (SELECT dx, dy FROM pr UNION ALL SELECT dy, dx FROM pr),
      sums AS (SELECT count(*) AS m,
          CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
          CAST(sum(dx * dy) AS BIGINT) AS sxy,
          CAST(sum(dx * dx) AS BIGINT) AS sxx,
          CAST(sum(dy * dy) AS BIGINT) AS syy
        FROM bothdir)
      SELECT m,
        CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
          THEN round(CAST(m * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
            / sqrt(CAST(m * syy - sy * sy AS DOUBLE)), 6)
        END AS assortativity
      FROM sums"""))

  /** PERSONALIZED PageRank around a deterministic seed set
    * ([[graft.ops.Graph.pageRankPersonalized]], oracle-exact): rank as
    * proximity-to-seeds over the near-dup graph — the "expand from
    * known-bad documents" move of a contamination sweep. The oracle
    * unrolls the five rounds with the same seed-only teleport; beyond
    * the rounded mass aggregates, `reached` pins the EXACT zero/nonzero
    * frontier (a node's rank is identically 0.0 in both engines until
    * a walk reaches it — no float tolerance involved), so a teleport
    * leak to non-seeds or a wrong restart mass fails the row. */
  val q156PersonalizedPagerank = GraftQuery(
    "q156_personalized_pagerank", { (s, dir) =>
      val edges = exactShingleEdges(s, dir)
      val nodes = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node"))).distinct()
      val seeds = nodes.filter(col("node") % 50 === 0)
      val ranks = graft.ops.Graph.pageRankPersonalized(
        edges, seeds, iters = 5, damping = 0.85)
      ranks
        .join(seeds.withColumn("s", lit(true)), Seq("node"), "left")
        .agg(
          count(lit(1)).as("nodes"),
          count(when(col("s"), 1)).as("seeds"),
          round(sum(col("rank")), 4).as("rank_mass"),
          round(sum(when(col("s"), col("rank"))), 4).as("seed_mass"),
          round(max(col("rank")), 6).as("max_rank"),
          count(when(col("s").isNull && col("rank") > 0, 1)).as("reached"))
    }, {
      val iterate = (1 to 5).map { k =>
        s"""r$k AS (
          SELECT n.node,
            CASE WHEN sd.node IS NOT NULL
              THEN (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT count(*) FROM seeds)
              ELSE 0.0::DOUBLE END +
            0.85::DOUBLE * coalesce(s.inflow, 0.0::DOUBLE) AS rank
          FROM nodes n
          LEFT JOIN seeds sd ON sd.node = n.node
          LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.deg) AS inflow
            FROM sym e JOIN r${k - 1} r ON r.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON s.node = n.node)"""
      }.mkString(",\n      ")
      Some(s"""WITH $shingleEdgesSql,
      sym AS (SELECT a AS src, b AS dst FROM e0
        UNION SELECT b, a FROM e0),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      nodes AS (SELECT src AS node FROM deg),
      seeds AS (SELECT node FROM nodes WHERE node % 50 = 0),
      r0 AS (SELECT n.node,
          CASE WHEN sd.node IS NOT NULL
            THEN 1.0::DOUBLE / (SELECT count(*) FROM seeds)
            ELSE 0.0::DOUBLE END AS rank
        FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node),
      $iterate
      SELECT count(*) AS nodes,
        (SELECT count(*) FROM seeds) AS seeds,
        round(sum(rank), 4) AS rank_mass,
        round(sum(CASE WHEN sd.node IS NOT NULL THEN rank END), 4)
          AS seed_mass,
        round(max(rank), 6) AS max_rank,
        count(CASE WHEN sd.node IS NULL AND rank > 0 THEN 1 END) AS reached
      FROM r5 LEFT JOIN seeds sd USING (node)""")
    })

  /** The representative-COLLAPSED near-dup graph, built once per
    * (session, data dir) — the graph family's 100 TB path: LINEAR LSH
    * star edges (q51e's builder) → components → one representative per
    * duplicate cluster ([[DedupCluster.representatives]]) → exact
    * shared-shingle edges over the collapsed corpus. The duplicate
    * mass — c·(c−1)/2 intra-cluster edges and Θ(c³) clique-interior
    * triangles per c-doc template family, pure output with zero
    * signal — never materializes: the quadratic pair term now ranges
    * over SURVIVORS, whose near-dup density is what dedup just
    * removed. Cross-cluster structure (how template families relate)
    * survives collapse by construction.
    *
    * The rep relation uses minShared = 3, not the cluster relation's
    * 10 — deliberately SOFTER: any pair related at the duplicate
    * threshold is by definition inside one cluster and collapses to a
    * single node (the quotient of a graph by its own components has
    * no edges), so the question the collapsed graph answers is
    * "which distinct survivors are still topically RELATED", a weaker
    * tie. */
  private val collapsedMemo = scala.collection.mutable
    .Map.empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def collapsedGraph(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = memoized(collapsedMemo, s, dir) {
    val corpus = nearDupCorpus(s, dir)
    val starComp = DedupCluster.connectedComponents(
      DedupCluster.lshClusterEdges(corpus, "text", "doc_id",
        shingleK = 3, numHashes = 32, bands = 8))
    val reps = DedupCluster.representatives(corpus, "doc_id", starComp)
      .localCheckpoint(eager = false)
    (reps, DedupCluster.sharedShingleEdges(reps, "text", "doc_id",
        shingleK = 3, minShared = 3, maxDf = 1000)
      .localCheckpoint(eager = false))
  }
  private def collapsedRepEdges(s: SparkSession, dir: String): DataFrame =
    collapsedGraph(s, dir)._2

  /** The WINNOWED near-dup edge relation (q51c's builder), built once
    * per (session, data dir) — the graph family's second scale lever:
    * where the collapse removes duplicate structure from the OUTPUT,
    * winnowing shrinks the edge-build INPUT (≈ 2/(w+1) of gram
    * positions enter the postings self-join, so the duplicate-mass
    * pair term drops ≈ (2/(w+1))² while near-dup pairs above the
    * repeat-length guarantee stay reachable). The graph it yields
    * still contains the intra-cluster structure — the right variant
    * when the telemetry wants the dup graph itself, just built
    * cheaply. Precision/recall vs the exact relation is pinned by the
    * q51d contract; census-level containment by q151e. */
  private val winnowedEdgeMemo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private def winnowedEdges(s: SparkSession,
      dir: String): DataFrame = memoized(winnowedEdgeMemo, s, dir) {
    DedupCluster.winnowedShingleEdges(nearDupCorpus(s, dir),
        "text", "doc_id", shingleK = 3, w = 4, minShared = 4,
        maxDf = 1000)
      .localCheckpoint(eager = false)
  }

  /** Triangle census over the WINNOWED edge relation (rows-only;
    * q151's input-side scale variant, the q51c pattern): the same
    * degree-oriented enumeration, on edges whose build cost dropped by
    * the winnowing density squared. Rows differ from q151's by design
    * below the guarantee length; q151e pins subgraph monotonicity
    * (winnowed triangles/degree can never exceed the exact
    * minShared-4 graph's) through the oracle gate, and the Wave9
    * probe in BASELINE.md records the growth cut. */
  val q151dTriangleCensusWinnowed = GraftQuery(
    "q151d_triangle_census_winnowed", { (s, dir) =>
      graft.ops.Graph.triangleCounts(winnowedEdges(s, dir))
        .orderBy(col("node"))
    })

  /** Winnowed-census containment contract (oracle-checked, q51d
    * pattern): the q51d precision leg proves every winnowed edge is an
    * exact pair at ≥ 4 shared shingles, i.e. the winnowed graph is a
    * SUBGRAPH of the exact minShared-4 graph — so per node, winnowed
    * degree ≤ exact degree and winnowed triangles ≤ exact triangles
    * (a triangle of a subgraph is a triangle of the graph), and no
    * census node may be absent from the exact census. Violations vs
    * the empty relation; the exact minShared-4 build runs only here,
    * at verify SF, as the contract's reference — with the hot-shingle
    * guard DISABLED (the q151c rule): winnowed df of a hash is always
    * ≤ its exact df, so a shingle the exact build's maxDf drops can
    * survive the winnowed build's and create a true-subset edge the
    * guarded reference lacks — a false violation; against the
    * guard-free graph the containment is unconditional. */
  val q151eWinnowCensusContract = GraftQuery(
    "q151e_winnow_census_contract", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val exact4 = DedupCluster.sharedShingleEdges(corpus, "text",
        "doc_id", shingleK = 3, minShared = 4, maxDf = Int.MaxValue)
      val w = graft.ops.Graph.triangleCounts(winnowedEdges(s, dir))
        .select(col("node"), col("triangles").as("w_tri"),
          col("degree").as("w_deg"))
      val e = graft.ops.Graph.triangleCounts(exact4)
        .select(col("node"), col("triangles").as("e_tri"),
          col("degree").as("e_deg"))
      w.join(e, Seq("node"), "left")
        .filter(col("e_deg").isNull || col("w_deg") > col("e_deg") ||
          col("w_tri") > col("e_tri"))
        .select(col("node"), col("w_tri"), col("e_tri"), col("w_deg"),
          col("e_deg"))
        .orderBy(col("node"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS node,
      CAST(NULL AS BIGINT) AS w_tri, CAST(NULL AS BIGINT) AS e_tri,
      CAST(NULL AS BIGINT) AS w_deg, CAST(NULL AS BIGINT) AS e_deg
      WHERE 1 = 0"""))

  /** K-core over the winnowed edge relation (rows-only; q153's
    * input-side scale variant — the dense-region question asked of
    * the cheaply-built dup graph). Convergence required, not
    * assumed. */
  val q153cKCoreWinnowed = GraftQuery(
    "q153c_kcore_winnowed", { (s, dir) =>
      val (core, _, converged) =
        graft.ops.Graph.kCore(winnowedEdges(s, dir), k = 2)
      require(converged, "kCore hit maxRounds without converging — " +
        "the surviving subgraph is not a k-core")
      core.agg(
        count(lit(1)).as("core_nodes"),
        coalesce((sum(col("degree")) / 2).cast("long"), lit(0L))
          .as("core_edges"),
        coalesce(min(col("degree")), lit(0L)).as("min_degree"),
        coalesce(max(col("degree")), lit(0L)).as("max_degree"))
    })

  /** Degree assortativity over the winnowed edge relation (rows-only;
    * q154's input-side scale variant). */
  val q154cAssortativityWinnowed = GraftQuery(
    "q154c_assortativity_winnowed", { (s, dir) =>
      graft.ops.Graph.degreeAssortativity(winnowedEdges(s, dir))
    })

  /** Winnowed k-core CONTAINMENT contract (oracle-checked; q151e's
    * sibling for the q153c statistic): the q51d precision leg proves
    * the winnowed graph is a SUBGRAPH of the exact minShared-4 graph,
    * and the k-core of a subgraph is always contained in the graph's
    * k-core (the k-core is the maximal subgraph of min degree ≥ k and
    * contains every subgraph with that property — kcore(H) ⊆ H ⊆ G
    * has min degree ≥ k, hence kcore(H) ⊆ kcore(G)). So every node of
    * the winnowed 2-core must appear in the exact 2-core, against the
    * guard-FREE exact build (the q151c/q151e maxDf rule). Violations
    * vs the empty relation. */
  val q153eKCoreContainmentContract = GraftQuery(
    "q153e_kcore_containment_contract", { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val exact4 = DedupCluster.sharedShingleEdges(corpus, "text",
        "doc_id", shingleK = 3, minShared = 4, maxDf = Int.MaxValue)
      def coreNodes(e: DataFrame) = {
        val (core, _, converged) =
          graft.ops.Graph.kCore(e, k = 2, maxRounds = 200)
        require(converged, "kCore(k=2) hit maxRounds without " +
          "converging — the surviving subgraph is not a k-core")
        core.select(col("node"))
      }
      coreNodes(winnowedEdges(s, dir))
        .join(coreNodes(exact4), Seq("node"), "left_anti")
        .orderBy(col("node"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS node WHERE 1 = 0"""))

  /** Triangle census over the representative-collapsed graph
    * (rows-only; q151's SCALE variant, the q51c/q51e pattern): same
    * census, but clique-interior triangles of duplicate clusters —
    * the Θ(c³) output term that makes the exact family super-linear
    * in duplicate mass — are collapsed away before any wedge is
    * enumerated. Rows differ from q151's by design (intra-cluster
    * structure is gone; that is the point); q151c pins the
    * restriction property through the oracle gate and the Wave9 probe
    * in BASELINE.md records the growth-factor cut. */
  val q151bTriangleCensusCollapsed = GraftQuery(
    "q151b_triangle_census_collapsed", { (s, dir) =>
      graft.ops.Graph.triangleCounts(collapsedRepEdges(s, dir))
        .orderBy(col("node"))
    })

  /** Half-corpus GUARD-FREE collapse reference, built once per
    * (session, dir) and shared by the family's restriction contracts
    * (q151c, q153d): the doc_id % 2 = 0 half corpus (twins inherit
    * their original's parity, so clusters stay intact) collapsed to
    * representatives, yielding (sub = edges built ON the collapsed
    * corpus, restricted = full half-corpus edges restricted to
    * representative pairs). With maxDf unguarded the two relations
    * must be EQUAL — every graph statistic computed on both is a
    * restriction-equality contract. */
  private val halfCollapseMemo = scala.collection.mutable
    .Map.empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def halfCollapseRef(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    memoized(halfCollapseMemo, s, dir) {
      val half = nearDupCorpus(s, dir).filter(col("doc_id") % 2 === 0)
        .localCheckpoint(eager = false)
      val comp = DedupCluster.connectedComponents(
        DedupCluster.lshClusterEdges(half, "text", "doc_id",
          shingleK = 3, numHashes = 32, bands = 8))
      val reps = DedupCluster.representatives(half, "doc_id", comp)
        .localCheckpoint(eager = false)
      val repIds = reps.select(col("doc_id"))
      val sub = DedupCluster.sharedShingleEdges(reps, "text", "doc_id",
          shingleK = 3, minShared = 3, maxDf = Int.MaxValue)
        .localCheckpoint(eager = false)
      val restricted = DedupCluster.sharedShingleEdges(half, "text",
          "doc_id", shingleK = 3, minShared = 3, maxDf = Int.MaxValue)
        .join(repIds.withColumnRenamed("doc_id", "u"), Seq("u"), "left_semi")
        .join(repIds.withColumnRenamed("doc_id", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(eager = false)
      (sub, restricted)
    }

  /** Collapsed-graph restriction contract (oracle-checked, q51d
    * pattern) — two exact invariants of the collapse pipeline,
    * violations vs the empty relation:
    *
    * RESTRICTION leg — shared-shingle counts between two documents
    * depend only on their texts, so with the hot-shingle guard
    * disabled, building edges on the collapsed corpus must equal
    * restricting the full corpus's edges to representative pairs —
    * and therefore the two triangle censuses must agree node for
    * node. Runs on [[halfCollapseRef]]'s half-corpus guard-free
    * reference (shared with q153d — built once, verify-SF only). A
    * surviving row means the collapse changed structure it cannot
    * touch — an id-mapping or restriction bug.
    *
    * REPRESENTATIVE leg — every endpoint of the ACTUAL q151b edge
    * relation must be a representative its own collapse emitted
    * (root-or-unclustered); a violation means the rep filter and the
    * edge build disagree about the corpus. */
  val q151cCollapsedRestrictionContract = GraftQuery(
    "q151c_collapsed_restriction_contract", { (s, dir) =>
      val (sub, restricted) = halfCollapseRef(s, dir)
      def census(e: DataFrame, side: String) =
        graft.ops.Graph.triangleCounts(e).select(col("node"),
          struct(col("triangles"), col("degree"), col("lcc_micro"))
            .as(side))
      val restrict = census(sub, "sub")
        .join(census(restricted, "full"), Seq("node"), "full_outer")
        .filter(!(col("sub") <=> col("full")))
        .select(lit("restriction").as("kind"), col("node"))
      val (actualRepRows, actual) = collapsedGraph(s, dir)
      val actualReps = actualRepRows.select(col("doc_id"))
      val badEnd = actual.select(col("u").as("node"))
        .unionAll(actual.select(col("v").as("node")))
        .distinct()
        .join(actualReps.withColumnRenamed("doc_id", "node"),
          Seq("node"), "left_anti")
        .select(lit("representative").as("kind"), col("node"))
      restrict.unionByName(badEnd).orderBy(col("kind"), col("node"))
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS kind,
      CAST(NULL AS BIGINT) AS node WHERE 1 = 0"""))

  /** K-core SWEEP of the representative-collapsed graph (rows-only;
    * q153's SCALE variant): duplicate clusters are trivially dense — a
    * c-doc template family is its own (c−1)-core, which is noise, not
    * signal — so the production question ("which SURVIVORS still sit
    * in dense neighborhoods after dedup?") is asked of the collapsed
    * graph. A SWEEP over k = 1..3 rather than one fixed k: the
    * collapsed graph is sparse BY CONSTRUCTION (dedup just removed its
    * density), so a single-k row can be legitimately empty — the sweep
    * shows where the core structure cuts off, which is the telemetry
    * (an empty 2-core here means post-dedup relatedness is tree-like;
    * a sudden nonempty 3-core flags a template family the collapse
    * missed). Peel convergence is required per k, never assumed. */
  val q153bKCoreCollapsed = GraftQuery(
    "q153b_kcore_collapsed", { (s, dir) =>
      val edges = collapsedRepEdges(s, dir)
      (1 to 3).map { k =>
        val (core, _, converged) = graft.ops.Graph.kCore(edges, k = k)
        require(converged, s"kCore(k=$k) hit maxRounds without " +
          "converging — the surviving subgraph is not a k-core")
        core.agg(
            count(lit(1)).as("core_nodes"),
            coalesce((sum(col("degree")) / 2).cast("long"), lit(0L))
              .as("core_edges"),
            coalesce(max(col("degree")), lit(0L)).as("max_degree"))
          .select(lit(k).as("k"), col("core_nodes"), col("core_edges"),
            col("max_degree"))
      }.reduce(_.unionByName(_)).orderBy(col("k"))
    })

  /** Degree assortativity of the representative-collapsed graph
    * (rows-only; q154's SCALE variant): the full graph's r is
    * dominated by intra-cluster regularity (every member of a c-clique
    * has degree ≈ c — perfectly assortative by construction), which
    * swamps the drift signal; the collapsed graph measures how
    * SURVIVORS attach, which is the number a curation dashboard
    * actually watches. */
  val q154bAssortativityCollapsed = GraftQuery(
    "q154b_assortativity_collapsed", { (s, dir) =>
      graft.ops.Graph.degreeAssortativity(collapsedRepEdges(s, dir))
    })

  /** K-core + assortativity restriction contract over the collapsed
    * graph (oracle-checked; the census-shaped q151c's sibling, closing
    * the family's discipline for the OTHER two statistics the
    * collapsed/winnowed rows report): on [[halfCollapseRef]]'s
    * guard-free reference, edges-on-collapsed-corpus ≡
    * edges-restricted-to-representatives, so
    *
    *  - kcore leg: for every k in the q153b sweep's range, the k-core
    *    NODE SET computed on `sub` must equal the one computed on
    *    `restricted` (symmetric difference emitted; peel convergence
    *    required on both sides);
    *  - moments leg: [[graft.ops.Graph.degreeAssortativity]]'s
    *    pre-divide moment vector (m, Σdx, Σdxdy, Σdx²) is EXACT
    *    integer arithmetic, so the two sides must agree bit-for-bit —
    *    and then so does the one shared IEEE divide q154b reports.
    *
    * Violations vs the empty relation. */
  val q153dKCoreRestrictionContract = GraftQuery(
    "q153d_kcore_restriction_contract", { (s, dir) =>
      val (sub, restricted) = halfCollapseRef(s, dir)
      def coreNodes(e: DataFrame, k: Int) = {
        // deep peel budget: the half corpus's k=3 peel runs > 30
        // rounds at sf0.1 (long degradation chains); each round is one
        // cheap count on the shrinking half graph, and the contract
        // REQUIRES a true fixpoint — truncation would compare
        // non-cores
        val (core, _, converged) =
          graft.ops.Graph.kCore(e, k = k, maxRounds = 200)
        require(converged, s"kCore(k=$k) hit maxRounds without " +
          "converging — the surviving subgraph is not a k-core")
        core.select(col("node"))
      }
      val kcoreLeg = (1 to 3).map { k =>
        coreNodes(sub, k).withColumn("s", lit(1))
          .join(coreNodes(restricted, k).withColumn("r", lit(1)),
            Seq("node"), "full_outer")
          .filter(col("s").isNull || col("r").isNull)
          .select(lit("kcore").as("kind"), lit(k.toLong).as("k"),
            col("node"))
      }.reduce(_.unionByName(_))
      // the PRODUCTION moment pipeline itself (never a copy — a copy
      // would keep validating stale arithmetic if the statistic's
      // canonicalization ever changed)
      def moments(e: DataFrame) = graft.ops.Graph.assortativityMoments(e)
        .select(col("m"), col("sx"), col("sxy"), col("sxx"))
      val momentLeg = moments(sub).crossJoin(
          moments(restricted).select(col("m").as("m2"),
            col("sx").as("sx2"), col("sxy").as("sxy2"),
            col("sxx").as("sxx2")))
        .filter(col("m") =!= col("m2") || col("sx") =!= col("sx2") ||
          col("sxy") =!= col("sxy2") || col("sxx") =!= col("sxx2"))
        .select(lit("moments").as("kind"),
          lit(null).cast("long").as("k"), lit(null).cast("long").as("node"))
      kcoreLeg.unionByName(momentLeg).orderBy(col("kind"), col("k"),
        col("node"))
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS kind,
      CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS node
      WHERE 1 = 0"""))

  // ---- neighborhood function (q167 family) ----

  private val nfMemo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  /** EXACT neighborhood function of the near-dup graph
    * ([[graft.ops.Graph.neighborhoodFunction]], maxD = 4) with the
    * cumulative N(d) attached — memoized like the edge relation
    * itself, since both q167 and the q167c contract consume it. */
  private def neighborhoodExact(s: SparkSession, dir: String): DataFrame =
    memoized(nfMemo, s, dir) {
      val nf = Graph.neighborhoodFunction(exactShingleEdges(s, dir),
        maxD = 4)
      // 5-row window — the orderBy-without-partition warning is
      // harmless at this cardinality
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nf.withColumn("reachable_pairs", sum(col("new_pairs")).over(w))
        .localCheckpoint(eager = false)
    }

  private val ballMemo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  /** HyperBall estimates of the same neighborhood function
    * ([[graft.ops.Graph.hyperBall]], maxD = 4, lgK = 12), memoized —
    * q167b and the q167c contract both consume it. */
  private def hyperballEstimates(s: SparkSession, dir: String): DataFrame =
    memoized(ballMemo, s, dir) {
      Graph.hyperBall(exactShingleEdges(s, dir), maxD = 4, lgK = 12)
        .localCheckpoint(eager = false)
    }

  /** Exact neighborhood function N(d) + 90%-effective-diameter flags
    * (oracle-exact): one row per distance d = 0..4 with the pairs
    * first discovered at d, the cumulative reachable pairs, the
    * reach fraction in integer micros (one shared IEEE round), and
    * whether d reaches 90 % of the horizon's mass (the first true row
    * IS the effective diameter, Palmer/HyperANF's statistic). The
    * DuckDB oracle recomputes via a depth-bounded recursive walk with
    * min-distance dedup — depth 4 is the query's own horizon, the
    * same bound the Spark loop runs, not a convergence guess. */
  val q167NeighborhoodFunction = GraftQuery(
    "q167_neighborhood_function", { (s, dir) =>
      val cum = neighborhoodExact(s, dir)
      val tot = cum.agg(max(col("reachable_pairs")).as("total"))
      cum.crossJoin(tot).select(
          col("d"), col("new_pairs"), col("reachable_pairs"),
          expr("CAST(round(reachable_pairs * 1e6 / total) AS BIGINT)")
            .as("frac_micro"),
          (col("reachable_pairs") * 10 >= col("total") * 9)
            .as("reaches_90pct"))
        .orderBy(col("d"))
    },
    Some(s"""WITH RECURSIVE $shingleEdgesSql,
      sym AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
      nodes AS (SELECT DISTINCT u AS node FROM sym),
      walk(src, dst, d) AS (
        SELECT node, node, 0 FROM nodes
        UNION ALL
        SELECT DISTINCT w.src, s.v, w.d + 1
        FROM walk w JOIN sym s ON s.u = w.dst
        WHERE w.d < 4),
      dist AS (SELECT src, dst, min(d) AS d FROM walk GROUP BY 1, 2),
      nf AS (SELECT d, count(*) AS new_pairs FROM dist GROUP BY d),
      cum AS (SELECT d, new_pairs,
        sum(new_pairs) OVER (ORDER BY d) AS reachable_pairs FROM nf),
      tot AS (SELECT max(reachable_pairs) AS total FROM cum)
      SELECT d, new_pairs,
        CAST(reachable_pairs AS BIGINT) AS reachable_pairs,
        CAST(round(reachable_pairs * 1e6 / total) AS BIGINT) AS frac_micro,
        reachable_pairs * 10 >= total * 9 AS reaches_90pct
      FROM cum, tot ORDER BY d"""))

  /** HyperBall neighborhood-function estimates (rows-only; contract
    * q167c): the linear-cost scale path for graph distance telemetry —
    * per-node mergeable HLL balls, one join + one union-agg per round,
    * no pair relation ever materialized. This is how effective
    * diameter / average distance get measured on a 100 TB web-scale
    * graph where the exact BFS is unpayable. */
  val q167bNeighborhoodHyperball = GraftQuery(
    "q167b_neighborhood_hyperball", { (s, dir) =>
      // deliberately UN-memoized (unlike the q167c contract's copy):
      // this is the timed headline row, and it must time the ball
      // iteration itself — a memoized replay would time a 5-row
      // checkpoint read. Only the edge relation is shared (its cost is
      // controlled by the q51 bands).
      Graph.hyperBall(exactShingleEdges(s, dir), maxD = 4, lgK = 12)
        .orderBy(col("d"))
    },
    None)

  /** HyperBall accuracy contract (violations vs the empty relation):
    * per distance d, the sketch estimate must sit within
    * max(2, 5 % · exact) of the exact N(d). At fixture ball sizes the
    * lgK=12 sketches are still in exact coupon mode, so the tolerance
    * carries ~∞ headroom locally while staying meaningful at scales
    * where the dense-mode error envelope (~1.6 %) takes over. */
  val q167cHyperballContract = GraftQuery(
    "q167c_hyperball_contract", { (s, dir) =>
      val est = hyperballEstimates(s, dir)
      // N(d) is CUMULATIVE: past the last discovery distance the exact
      // function saturates, while HyperBall still reports every round —
      // densify the exact side as max over d' <= d (5×5 rows)
      val exact = neighborhoodExact(s, dir)
        .select(col("d").as("de"), col("reachable_pairs").as("rp"))
      val exactAt = est.select(col("d"))
        .join(exact, col("de") <= col("d"))
        .groupBy(col("d")).agg(max(col("rp")).as("reachable_pairs"))
      exactAt.join(est, Seq("d"), "full_outer")
        .filter(col("reachable_pairs").isNull || col("nf_est").isNull ||
          abs(col("nf_est") - col("reachable_pairs")) >
            greatest(lit(2.0), col("reachable_pairs") * 0.05))
        .select(col("d"), col("reachable_pairs"), col("nf_est"))
        .orderBy(col("d"))
    },
    Some("""SELECT CAST(NULL AS INT) AS d,
      CAST(NULL AS BIGINT) AS reachable_pairs,
      CAST(NULL AS BIGINT) AS nf_est WHERE 1 = 0"""))

  /** HyperBall over the representative-COLLAPSED near-dup graph
    * (rows-only; q167b's composition with the q151b collapse): the
    * corpus-relatedness telemetry a curation deployment actually wants
    * — template families collapse to one node each, so the effective
    * diameter and average distance measure genuine TOPIC distance
    * instead of the zero-distance noise of intra-cluster cliques. One
    * row per d = 0..4 with the estimated cumulative reachable pairs,
    * the reach fraction, the 90%%-effective-diameter flag (first true
    * row IS the effective diameter) and the horizon-bounded mean
    * distance (Σ d·ΔN(d) / N(4), micros). Per round the cost is ONE
    * edge join + one HLL register-union per distance over the
    * collapsed (smaller) graph — O(m_collapsed), the payable path at
    * 100 TB where the exact pair relation is quadratic in component
    * size. Deliberately UN-memoized like q167b: this is a timed
    * headline row and must time the ball iteration itself (the
    * collapse inputs are memoized and controlled by the q51/q151
    * bands). */
  val q167dHyperballCollapsed = GraftQuery(
    "q167d_hyperball_collapsed", { (s, dir) =>
      val est = Graph.hyperBall(collapsedRepEdges(s, dir),
        maxD = 4, lgK = 12)
      val w = Window.orderBy(col("d"))
      val delta = est.withColumn("new_mass",
        col("nf_est") - coalesce(lag(col("nf_est"), 1).over(w), lit(0.0)))
      val scalars = delta.agg(
        max(col("nf_est")).as("total"),
        (sum(col("d") * col("new_mass")) / max(col("nf_est")))
          .as("avg_d"))
      delta.crossJoin(scalars).select(
          col("d"),
          col("nf_est"),
          expr("CAST(round(nf_est * 1e6 / total) AS BIGINT)")
            .as("frac_micro"),
          (col("nf_est") * 10 >= col("total") * 9).as("reaches_90pct"),
          expr("CAST(round(avg_d * 1e6) AS BIGINT)")
            .as("avg_distance_micro"))
        .orderBy(col("d"))
    },
    None)

  /** Collapse-restriction contract for the NEIGHBORHOOD FUNCTION
    * (oracle-checked, the q151c/q153d discipline applied to q167d's
    * statistic): on [[halfCollapseRef]]'s guard-free reference the
    * collapsed graph is exactly the full graph restricted to
    * representative nodes, and RESTRICTION can only remove nodes and
    * lengthen paths — so the exact cumulative N(d) of the collapsed
    * side must sit at or below the full half-corpus graph's N(d) at
    * EVERY distance d = 0..4. Violations (collapsed > full, or a
    * missing grid row) emit against the empty relation. This pins the
    * q167d composition's semantics: a collapse that INVENTED
    * reachability — an id-mapping or restriction bug — cannot pass. */
  val q167eCollapsedNfContract = GraftQuery(
    "q167e_collapsed_nf_contract", { (s, dir) =>
      val (sub, _) = halfCollapseRef(s, dir)
      val fullHalf = DedupCluster.sharedShingleEdges(
        nearDupCorpus(s, dir).filter(col("doc_id") % 2 === 0),
        "text", "doc_id", shingleK = 3, minShared = 3,
        maxDf = Int.MaxValue)
      def cumAt(e: DataFrame, side: String): DataFrame = {
        val nf = Graph.neighborhoodFunction(e, maxD = 4)
        s.range(0, 5).select(col("id").cast("int").as("d"))
          .join(nf.select(col("d").as("dn"), col("new_pairs")),
            col("dn") <= col("d"), "left")
          .groupBy(col("d"))
          .agg(coalesce(sum(col("new_pairs")), lit(0L)).as(side))
      }
      cumAt(sub, "collapsed_rp")
        .join(cumAt(fullHalf, "full_rp"), Seq("d"), "full_outer")
        .filter(col("collapsed_rp").isNull || col("full_rp").isNull ||
          col("collapsed_rp") > col("full_rp"))
        .orderBy(col("d"))
    },
    Some("""SELECT CAST(NULL AS INT) AS d,
      CAST(NULL AS BIGINT) AS collapsed_rp,
      CAST(NULL AS BIGINT) AS full_rp WHERE 1 = 0"""))

  val all: Seq[GraftQuery] = Seq(
    q167NeighborhoodFunction, q167bNeighborhoodHyperball,
    q167cHyperballContract, q167dHyperballCollapsed,
    q167eCollapsedNfContract,
    q144FrameDedup, q145ImageNearDup, q145bImageNearDupRecall,
    q171Mp4BoxWalk,
    q25TextStats, q26QualityBySource, q26bQualityScore, q27TokenTopK,
    q28LangId, q28bLangIdTrained, q29Fingerprint, q29bWinnowContract,
    q30MinhashNearDup, q30bMinhashPrecisionContract, q31SimhashNearDup,
    q31bSimhashEqualityContract, q32NgramJaccard, q33AnnBrute,
    q33bAnnBrutePartial, q34AnnLsh, q34bAnnLshContract, q35AnnIvf,
    q35bAnnPq, q35cAnnPqIndex, q35dAnnIvfPq, q35eAnnIvfPqUpsert,
    q35fAnnIvfContract, q35gAnnIvfPqContract, q35hAnnPqServedEquality,
    q35iUpsertEqualityContract, q36EmbedNearDup,
    q36bEmbedNearDupLsh, q36cEmbedNearDupLsh08, q36dLshSubsetContract,
    q101SemanticDedup, q101bSemanticDedupBlocked, q101cSemanticDedupIndex,
    q101dSemanticSubsetContract, q101eSemanticDedupIncremental,
    q101fSemanticDedupIncrementalBlocked, q101hIncrSubsetContract,
    q104DuplicatedSpans, q104bDuplicatedSpansWinnowed,
    q104cWinnowSpanContract, q104dSpanBurden, q62bNormalizeIdempotentContract,
    q124SemanticDecontaminate, q124bSemanticDecontaminateBlocked,
    q124cDecontaminateSubsetContract, q125HardNegativeMining,
    q126RetrievalMetrics, q127LabelNoiseCandidates, q129VectorPipeline,
    q51DedupClusters, q64QuantizeInt8, q65AnnIvfTrained,
    q65bIvfTrainedContract, q69TfidfRerank,
    q73PageRank, q89UnigramLogprob, q100RecursiveClosure, q105HybridRrf,
    q108BigramPerplexity, q108bPerplexityThresholds,
    q121CurriculumSchedule,
    q108cPerplexityBucketContract,
    q109KnnGraph, q109bKnnGraphBlocked, q109cKnnGraphContract,
    q114LabelPropagation, q114bLabelPropagationBlocked,
    q115HllMergeable, q115bHllIncrementalContract,
    q123QuantileSketch, q123bSketchMergeContract, q117RandomProjection,
    q118SourceOverlap, q118bSourceOverlapMinhashContract,
    q119BpePairCounts, q119bBpeTrainMerges, q119cBpeEncode,
    q119dBpeDocPricing, q120SourceDrift,
    q34cAnnLshProjected,
    q105bBm25TopK, q105cHybridRrfAnn, q106LeakageSafeSplit,
    q107DiversitySample, q107bDiversityContract, q107cDiversitySampleExact,
    q133OovRate, q134NgramDiversity, q135ZipfSlope, q51bCanonicalKeep,
    q51cDedupClustersWinnowed, q51dWinnowClusterContract,
    q51eDedupClustersLsh, q51fLshStarPairContract,
    q136EmbeddingCoherence, q137AudioFeatures, q139FrameSample,
    q139bAviFrameAccounting, q147KmeansTelemetry, q147bKmeansIncrContract,
    q146JaccardJoinPrefix, q151TriangleCensus, q153KCore, q154Assortativity,
    q156PersonalizedPagerank, q151bTriangleCensusCollapsed,
    q151cCollapsedRestrictionContract, q153bKCoreCollapsed,
    q154bAssortativityCollapsed, q151dTriangleCensusWinnowed,
    q151eWinnowCensusContract, q153cKCoreWinnowed,
    q154cAssortativityWinnowed, q153dKCoreRestrictionContract,
    q153eKCoreContainmentContract)
}
