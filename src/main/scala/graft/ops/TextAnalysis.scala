package graft.ops

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (builder brief:
  * language-ID, quality scoring, token counting, document fingerprinting).
  * All are single-pass, shuffle-free narrow transforms — at 100 TB they
  * scan parquet with column pruning (only `doc_id`, `text`) and stream
  * through whole-stage codegen; the only exchange is the final presentation
  * ORDER BY, which a real pipeline would drop.
  *
  * Every expression is written to evaluate identically in Spark and DuckDB
  * (same tokenization, same integer arithmetic, same fold order) so the
  * driver's hash comparison is exact.
  */
object TextAnalysis {

  /** Tokenizer shared by all ops: corpus text is single-space separated
    * (verified in TESTDATA), so split-on-space == DuckDB string_split.
    */
  private val toks = "split(text, ' ')"

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (alpha runs / digit runs — same RE2/Java semantics).
    */
  def taTokens(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").selectExpr(
      "doc_id",
      s"size($toks) AS n_tokens",
      "size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS n_re_tokens",
      "length(text) AS n_chars_calc")
      .orderBy("doc_id")

  /** Quality scoring: stopword ratio, mean token length, composite score.
    * Ratios are exact int/int divisions rounded to 6 — identical in both
    * engines.
    */
  def taQuality(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").selectExpr(
      "doc_id",
      s"size($toks) AS n_tokens",
      s"size(filter($toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'to')) AS n_stop",
      "size(regexp_extract_all(text, '[.!?,;:]', 0)) AS n_punct", "text")
      .selectExpr(
        "doc_id", "n_tokens", "n_stop",
        "round(n_stop / n_tokens, 6) AS stop_ratio",
        "round(n_punct / length(text), 6) AS punct_ratio",
        // CAST: Spark parses the 60.0 literal as DECIMAL and a decimal
        // division would truncate the quotient; force double arithmetic
        "round((CAST(n_tokens AS DOUBLE) / 60.0) * (1 - n_stop / n_tokens), 6) AS quality")
      .orderBy("doc_id")

  /** Gopher-rule quality signals (Rae et al. 2021 §A1.1, public): mean
    * word length, type-token ratio, symbol-to-char ratio, and the
    * composite keep/drop flag (mean word length in [3,10], TTR above
    * 0.2, symbol ratio below 0.1 — the published document-level bounds).
    * All ratios are int/int divisions rounded to 6, so the DuckDB
    * compare is hash-exact; the flag compares the ROUNDED values, which
    * keeps the boolean engine-stable at the thresholds.
    *
    * Scale design: narrow single-pass projection — no shuffle but the
    * presentation ORDER BY; at 100 TB this is a map-only stage fused
    * into whatever scan feeds it.
    */
  def taGopher(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__gopher_docs")
    s.sql(
      s"""WITH m AS (
         |  SELECT doc_id,
         |         size($toks) AS n_tokens,
         |         length(replace(text, ' ', '')) AS n_word_chars,
         |         size(array_distinct($toks)) AS n_types,
         |         size(regexp_extract_all(text, '[#*&^~|]', 0)) AS n_symbols,
         |         length(text) AS n_chars
         |  FROM __gopher_docs),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |         round(n_word_chars / n_tokens, 6) AS mean_word_len,
         |         round(n_types / n_tokens, 6) AS ttr,
         |         round(n_symbols / n_chars, 6) AS symbol_ratio
         |  FROM m)
         |SELECT doc_id, n_tokens, mean_word_len, ttr, symbol_ratio,
         |       mean_word_len >= 3 AND mean_word_len <= 10
         |         AND ttr > 0.2 AND symbol_ratio < 0.1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taGopher(s: SparkSession, dir: String): DataFrame =
    taGopher(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** C4 line-level cleaning rules (Raffel et al. 2020 §2.2, public): a
    * line survives iff it ends in terminal punctuation, has at least five
    * words, and does not mention javascript; the document keep flag drops
    * pages containing "lorem ipsum" or a curly brace (code boilerplate)
    * and pages with fewer than three surviving lines. Complements
    * [[taGopher]]: Gopher scores the DOCUMENT's ratio statistics, C4
    * edits the document LINE by line.
    *
    * Scale design: the line array never leaves its row — the split,
    * per-line predicate, and rejoin all run as filter()/transform() HOFs,
    * so the corpus is never exploded; at 100 TB this is the same narrow
    * single-pass map-stage shape as the rest of the ta_ family.
    */
  def taC4Filter(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__c4_docs")
    s.sql(
      """WITH k AS (
        |  SELECT doc_id, size(split(text, chr(10))) AS n_lines,
        |         filter(split(text, chr(10)),
        |                x -> x rlike '[.!?]$'
        |                     AND size(split(x, ' ')) >= 5
        |                     AND NOT contains(lower(x), 'javascript')) AS kept,
        |         contains(lower(text), 'lorem ipsum')
        |           OR contains(text, '{') AS boiler
        |  FROM __c4_docs)
        |SELECT doc_id, n_lines, size(kept) AS n_kept,
        |       length(array_join(kept, chr(10))) AS clean_chars,
        |       NOT boiler AND size(kept) >= 3 AS keep_doc
        |FROM k ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form. The corpus has no newlines, so pseudo-lines
    * are synthesized first (the ta_derep planting pattern, identical SQL
    * in both engines): 12-token lines, a terminal period on two of every
    * three lines, plus planted boilerplate — a lorem-ipsum line on every
    * 7th doc, a javascript line on every 11th, a brace line on every
    * 13th — so each rule fires somewhere in the corpus and the oracle
    * hash proves all of them.
    */
  def taC4Filter(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__c4_raw")
    val aug = s.sql(
      s"""SELECT doc_id,
         |  concat(
         |    array_join(
         |      transform(sequence(0, (size($toks) + 11) div 12 - 1),
         |        i -> concat(
         |          array_join(slice($toks, i * 12 + 1, 12), ' '),
         |          CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END)),
         |      chr(10)),
         |    CASE WHEN doc_id % 7 = 0
         |         THEN concat(chr(10),
         |           'lorem ipsum dolor sit amet consectetur elit.')
         |         ELSE '' END,
         |    CASE WHEN doc_id % 11 = 0
         |         THEN concat(chr(10),
         |           'inline javascript snippet was detected on this page.')
         |         ELSE '' END,
         |    CASE WHEN doc_id % 13 = 0
         |         THEN concat(chr(10), 'if (x) { return y; }')
         |         ELSE '' END) AS text
         |FROM __c4_raw""".stripMargin)
    taC4Filter(aug)
  }

  /** Language ID: marker-token voting (n-gram-heuristic family). Ties
    * resolve in fixed order en > de > fr > es.
    */
  def taLangid(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").selectExpr(
      "doc_id",
      s"size(filter($toks, t -> t = 'the' OR t = 'a' OR t = 'and')) AS sc_en",
      s"size(filter($toks, t -> t = 'der' OR t = 'die' OR t = 'und')) AS sc_de",
      s"size(filter($toks, t -> t = 'le' OR t = 'les' OR t = 'et')) AS sc_fr",
      s"size(filter($toks, t -> t = 'el' OR t = 'los' OR t = 'y')) AS sc_es")
      .selectExpr("doc_id",
        """CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
          |     WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
          |     WHEN sc_fr >= sc_es THEN 'fr'
          |     ELSE 'es' END AS lang_pred""".stripMargin)
      .orderBy("doc_id")

  /** Language-ID audit: the taLangid stopword-family vote scored against
    * the corpus's DECLARED `lang` labels as a full confusion matrix —
    * (declared, predicted, count, row share, correct). A single accuracy
    * number hides exactly what this surfaces: the heuristic has no 'zh'
    * family at all, so every zh document lands in a latin bucket and the
    * matrix shows WHERE (the blind-spot row a pipeline owner reads before
    * trusting the router). Share is per declared language, so each row
    * block sums to 1.
    *
    * Engine-exactness: counts are integers; share one terminal ROUND of
    * an int/int division.
    *
    * Scale: one narrow corpus pass into a (langs × langs)-sized
    * aggregate — nothing wider than the matrix shuffles.
    */
  def taLangConf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__lc_docs")
    s.sql(
      s"""WITH p AS (
         |  SELECT lang,
         |         CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr
         |                   AND sc_en >= sc_es THEN 'en'
         |              WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
         |              WHEN sc_fr >= sc_es THEN 'fr'
         |              ELSE 'es' END AS lang_pred
         |  FROM (
         |    SELECT lang,
         |      size(filter($toks, t -> t = 'the' OR t = 'a'
         |                              OR t = 'and')) AS sc_en,
         |      size(filter($toks, t -> t = 'der' OR t = 'die'
         |                              OR t = 'und')) AS sc_de,
         |      size(filter($toks, t -> t = 'le' OR t = 'les'
         |                              OR t = 'et')) AS sc_fr,
         |      size(filter($toks, t -> t = 'el' OR t = 'los'
         |                              OR t = 'y')) AS sc_es
         |    FROM __lc_docs)),
         |m AS (
         |  SELECT lang, lang_pred, COUNT(*) AS n
         |  FROM p GROUP BY lang, lang_pred),
         |t AS (SELECT lang, SUM(n) AS tot FROM m GROUP BY lang)
         |SELECT m.lang, m.lang_pred, m.n,
         |       ROUND(CAST(m.n AS DOUBLE) / t.tot, 6) AS share,
         |       m.lang = m.lang_pred AS correct
         |FROM m JOIN t ON t.lang = m.lang
         |ORDER BY m.lang, m.lang_pred""".stripMargin)
  }
  def taLangConf(s: SparkSession, dir: String): DataFrame =
    taLangConf(Tables.load(s, dir, "documents").select("lang", "text"))

  /** Document fingerprint: position-weighted polynomial hash over tokens —
    * order-sensitive (anagram documents differ), integer-exact, and
    * fold-free so both engines compute term-by-term identically:
    * fp = Σ_i (ascii(t_i)*131 + len(t_i)) * ((i*2654435761) mod 1000003)
    *      mod 1000000007.
    */
  def taFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").selectExpr(
      "doc_id",
      s"""aggregate(
         |  transform(sequence(1, size($toks)),
         |    i -> (CAST(ascii(element_at($toks, i)) AS BIGINT) * 131
         |          + length(element_at($toks, i)))
         |         * ((CAST(i AS BIGINT) * 2654435761) % 1000003)),
         |  0L, (acc, x) -> acc + x) % 1000000007 AS fp""".stripMargin)
      .orderBy("doc_id")

  /** Document-frequency vocabulary stats: for every token appearing in at
    * least 10 % of documents, its document frequency and total term
    * frequency. The threshold is RELATIVE (df*10 >= corpus size) so the
    * result is scale-invariant: stopword-tier tokens qualify at any SF and
    * the output stays vocabulary-sized, never corpus-sized.
    *
    * Scale design: explode → two-level aggregate. `COUNT(DISTINCT doc_id)`
    * over an exploded corpus is the canonical partial-agg shuffle (Spark
    * plans it as two exchanges on token — no row ever carries more than
    * (token, doc_id)); the corpus-size scalar subquery is one count job
    * broadcast into the HAVING. Integer-exact throughout.
    */
  def taDf(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__ta_docs")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, explode($toks) AS token FROM __ta_docs)
         |SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
         |FROM tok GROUP BY token
         |HAVING COUNT(DISTINCT doc_id) * 10 >= (SELECT COUNT(*) FROM __ta_docs)
         |ORDER BY token""".stripMargin)
  }

  /** Keyword extraction: each document's top-3 tokens by df-normalized
    * term weight tf_d(t)/df(t) — same ranking as tf·idf with idf = n/df
    * (both monotone in tf/df), ties broken by token so ranks are total.
    *
    * Engine-exactness: the score is ONE double division of two exact
    * integers — IEEE 754 rounds a single division identically in any
    * engine, and no summation-order freedom exists (contrast the cosine
    * folds). The score is used only inside ORDER BY; the output carries
    * the integers and the rank.
    *
    * Scale design: per-(doc,token) counts are one explode + partial-agg
    * shuffle; the document-frequency relation is vocabulary-sized (≪
    * corpus) so its join back is broadcast-able; the per-doc top-3 is a
    * rank window that Spark pushes map-side (WindowGroupLimit, same plan
    * family PlanSpec locks for q8).
    */
  def taTfidf(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__ta_docs")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, explode($toks) AS token FROM __ta_docs),
         |tfd AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
         |dfv AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token)
         |SELECT doc_id, token, tf, df, rn FROM (
         |  SELECT t.doc_id, t.token, t.tf, d.df,
         |         ROW_NUMBER() OVER (PARTITION BY t.doc_id
         |           ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.token) AS rn
         |  FROM tfd t JOIN dfv d ON t.token = d.token)
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)
  }

  /** Repetition scoring (the Gopher/MassiveText cleaning rule): per
    * document, the fraction of duplicate 3-grams — highly repetitive
    * machine-generated text scores high and gets filtered. The corpus has
    * no natural repetition, so every 5th document gets its first 8 tokens
    * appended twice (the ta_redact synthesis discipline) — those documents
    * must then score visibly above their peers.
    *
    * Engine-exactness: two exact integer counts and ONE double division
    * rounded to 6 (the ta_tfidf discipline). The distinct count runs on
    * 8-byte xxhash64 gram keys, not the ~25-byte gram strings (the
    * dd_minhash_lsh verification-key discipline): counts agree with the
    * string-keyed oracle unless two DISTINCT grams of the SAME document
    * collide in 64 bits — ~50 grams/doc puts that around 2^-54 per doc.
    * Scale: one explode + one two-level aggregate per doc — COUNT +
    * COUNT(DISTINCT) on (doc, gramkey), partial-agg friendly, no joins.
    */
  def taDerep(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__ta_docs")
    taDerep(s.sql(
      s"""SELECT doc_id,
         |       CASE WHEN doc_id % 5 = 0
         |            THEN concat(text, ' ', rep, ' ', rep) ELSE text END AS text
         |FROM (SELECT doc_id, text,
         |             array_join(slice($toks, 1, 8), ' ') AS rep
         |      FROM __ta_docs)""".stripMargin))
  }

  /** Repetition scoring over an arbitrary (doc_id, text) corpus — the
    * production entry ("score repetition on MY corpus"); the oracle form
    * above plants its repetition and delegates here (the ddDecontam
    * parameterization pattern). Documents under 3 tokens carry no grams
    * and are absent from the output (no defined ratio).
    */
  def taDerep(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"$toks AS toks")
      .where("size(toks) >= 3")
      // toks bound as a column: the lambda's element_at must not re-split
      // the text per element (O(L^2) otherwise)
      .selectExpr("doc_id",
        """explode(transform(sequence(1, size(toks) - 2),
          |  i -> xxhash64(concat(element_at(toks, i), ' ',
          |                element_at(toks, i + 1), ' ',
          |                element_at(toks, i + 2))))) AS g""".stripMargin)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("d_grams"))
      .selectExpr("doc_id", "n_grams", "d_grams",
        "ROUND(1 - CAST(d_grams AS DOUBLE) / n_grams, 6) AS dup_ratio")
      .orderBy("doc_id")

  /** Unigram-LM cross-entropy scoring (the CCNet/Gopher "perplexity
    * filtering" staple): each document's mean negative log-likelihood under
    * the corpus's own unigram model — text whose tokens are corpus-typical
    * scores low; rare-token-heavy (or boilerplate-junk) text scores high.
    * Emits the per-doc token count, the cross-entropy in nats (`xent`) and
    * the perplexity `e^xent`.
    *
    * Engine-exactness: a transcendental (ln) enters the compare, so the
    * fold discipline matters twice. Each per-token term −ln(c/T) is rounded
    * to 9 dp and cast to DECIMAL(28,9) BEFORE summation: libm ln may differ
    * across engines in the last ulp (~1e-16 relative — absorbed by the 9 dp
    * round), and DECIMAL summation is exact and order-free where a double
    * fold would depend on partition order. The per-doc mean is then ONE
    * double division rounded to 6, and ppl is exp() of that already-rounded
    * value (identical input ⇒ ≤1 ulp output, absorbed by its round 6).
    *
    * Scale design: explode → token-count aggregate (vocabulary-sized
    * output), join back to the exploded stream on token — the count
    * relation is vocabulary-sized so Spark broadcasts it (plan-verified:
    * BroadcastHashJoin); the corpus total folds from that same relation
    * (SUM over vocabulary rows), so the corpus is exploded exactly twice,
    * never a third time. Per-doc reduce is a partial-agg-friendly
    * SUM/COUNT keyed by doc_id. No window, no per-doc sort.
    */
  def taPerplexity(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__ta_docs")
    taPerplexity(s.table("__ta_docs"))
  }

  /** Bigram conditional cross-entropy / perplexity — the next model up
    * from [[taPerplexity]]'s unigram: each transition is scored under
    * the corpus bigram model with Laplace smoothing over the next-token
    * vocabulary, p(cur|prev) = (c(prev,cur)+1)/(c(prev)+V). A repetitive
    * corpus compresses (low ppl2); high-entropy text does not — the
    * bigram/unigram ppl gap is itself a quality signal.
    *
    * Fold discipline as the unigram op: per-term round-to-9 → decimal
    * sum, so the cross-engine hash is exact on any partitioning. Scale
    * shape: ONE explode pass emits the transition stream; the bigram and
    * context count relations are MODEL-sized (≪ corpus — vocabulary²
    * bounded, Zipf-concentrated in practice) and join back broadcast
    * below the threshold, as an ordinary model-sized equality shuffle
    * above it — the standard distributed LM-scoring shape.
    */
  def taBigramPpl(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__big_docs")
    s.sql(
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS toks FROM __big_docs
         |  WHERE size($toks) >= 2),
         |big AS (
         |  SELECT doc_id, b.prev AS prev, b.cur AS cur FROM (
         |    SELECT doc_id, explode(transform(sequence(2, size(toks)),
         |      i -> named_struct('prev', element_at(toks, i - 1),
         |                        'cur', element_at(toks, i)))) AS b
         |    FROM tk)),
         |bcnt AS (SELECT prev, cur, COUNT(*) AS cb FROM big GROUP BY prev, cur),
         |ccnt AS (SELECT prev, SUM(cb) AS cp FROM bcnt GROUP BY prev),
         |voc AS (SELECT COUNT(DISTINCT cur) AS v FROM bcnt),
         |terms AS (
         |  SELECT g.doc_id,
         |         CAST(ROUND(-ln(CAST(b.cb + 1 AS DOUBLE) / (c.cp + t.v)), 9)
         |              AS DECIMAL(28,9)) AS term
         |  FROM big g
         |  JOIN bcnt b ON b.prev = g.prev AND b.cur = g.cur
         |  JOIN ccnt c ON c.prev = g.prev
         |  CROSS JOIN voc t)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |       ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent2,
         |       ROUND(exp(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6)), 6)
         |         AS ppl2
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taBigramPpl(s: SparkSession, dir: String): DataFrame =
    taBigramPpl(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Boilerplate phrase mining: the k most frequent word n-grams across
    * the corpus, with occurrence count and document frequency — the
    * "what IS the shared boilerplate" ranking that complements
    * [[graft.ops.Dedup.ddSubstring]]'s per-document flags.
    *
    * Scale design: the n-gram relation is token-stream-sized but
    * everything downstream is combinable — one partial+final COUNT per
    * gram keyed by (gram, doc) first so df and n fall out of the SAME
    * compacted relation, then the global top-k rides
    * TakeOrderedAndProject (map-side heaps, O(tasks·k) at the single
    * reduce). Ties rank by gram text so the cut is deterministic.
    */
  def taNgramTop(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ngt_docs")
    s.sql(
      s"""WITH tk AS (
         |  SELECT doc_id, $toks AS toks FROM __ngt_docs
         |  WHERE size($toks) >= $n),
         |grams AS (
         |  SELECT doc_id, explode(transform(sequence(1, size(toks) - ${n - 1}),
         |           i -> concat_ws(' ', slice(toks, i, $n)))) AS gram
         |  FROM tk),
         |per_doc AS (
         |  SELECT gram, doc_id, COUNT(*) AS nd
         |  FROM grams GROUP BY gram, doc_id)
         |SELECT gram, SUM(nd) AS n, COUNT(*) AS df
         |FROM per_doc GROUP BY gram
         |ORDER BY n DESC, gram LIMIT $k""".stripMargin)
  }

  /** The oracle-checked form: trigrams, top 20. */
  def taNgramTop(s: SparkSession, dir: String): DataFrame =
    taNgramTop(Tables.load(s, dir, "documents").select("doc_id", "text"),
      n = 3, k = 20)

  /** The parameterized production entry: any corpus with (doc_id, text). */
  def taPerplexity(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ppl_docs")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, explode($toks) AS token FROM __ppl_docs),
         |cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
         |tot AS (SELECT SUM(c) AS t FROM cnt),
         |terms AS (
         |  SELECT k.doc_id,
         |         CAST(ROUND(-ln(CAST(c.c AS DOUBLE) / t.t), 9)
         |              AS DECIMAL(28,9)) AS term
         |  FROM tok k JOIN cnt c ON c.token = k.token CROSS JOIN tot t)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |       ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent,
         |       ROUND(exp(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6)), 6)
         |         AS ppl
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Cross-entropy of `docs` under a FOREIGN reference LM corpus — the
    * real CCNet shape ("score MY crawl against the wikipedia LM"). A
    * foreign model makes out-of-vocabulary tokens possible, so the
    * estimate is Laplace-smoothed: p(t) = (c(t)+1)/(T+V+1) with c = 0
    * for OOV (V = the LM vocabulary size; the +1 in the denominator is
    * the OOV type). [[taPerplexity(docs:*]] self-scoring keeps the
    * unsmoothed estimate — no OOV is possible there and its oracle is
    * already locked.
    *
    * Same fold discipline (per-term round-to-9 → DECIMAL sum) and same
    * shape: the LM count relation is vocabulary-sized and joins
    * broadcast; LEFT join so OOV tokens survive with c = 0.
    */
  def taPerplexityAgainst(docs: DataFrame, lm: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__pplx_docs")
    lm.createOrReplaceTempView("__pplx_lm")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, explode($toks) AS token FROM __pplx_docs),
         |cnt AS (SELECT token, COUNT(*) AS c
         |        FROM (SELECT explode($toks) AS token FROM __pplx_lm)
         |        GROUP BY token),
         |tot AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM cnt),
         |terms AS (
         |  SELECT k.doc_id,
         |         CAST(ROUND(-ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
         |                        / (t.t + t.v + 1)), 9)
         |              AS DECIMAL(28,9)) AS term
         |  FROM tok k LEFT JOIN cnt c ON c.token = k.token CROSS JOIN tot t)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |       ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent,
         |       ROUND(exp(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6)), 6)
         |         AS ppl
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form of [[taPerplexityAgainst]] — previously a
    * production-only entry, now wired into the correctness gate: even
    * doc_ids form the reference LM corpus, odd doc_ids are scored against
    * it, and every 5th scored doc gets a synthetic token ('zzqx0..2')
    * guaranteed absent from the LM vocabulary — so the Laplace OOV path
    * (c = 0) is exercised and hash-proven, not just spec-tested.
    */
  def taPplForeign(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__pplf_docs")
    val scored = s.sql(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 0
        |            THEN concat(text, ' zzqx', CAST(doc_id % 3 AS STRING))
        |            ELSE text END AS text
        |FROM __pplf_docs WHERE doc_id % 2 = 1""".stripMargin)
    val lm = s.sql(
      "SELECT doc_id, text FROM __pplf_docs WHERE doc_id % 2 = 0")
    taPerplexityAgainst(scored, lm)
  }

  /** Token-distribution entropy (quality signal): the Shannon entropy of
    * each document's own unigram distribution, H = log2(n) − Σc·log2(c)/n,
    * plus the top-token mass `top_ratio` = max(c)/n. Degenerate text is
    * flagged from both ends: token-spam ("buy buy buy …") collapses H
    * toward 0 with top_ratio → 1, while natural prose at this corpus's
    * length sits near its type-count ceiling. Complements [[taDerep]]
    * (positional repeats) and [[taPerplexity]] (corpus-typicality): this
    * one is intra-document and model-free.
    *
    * Engine-exactness: same fold discipline as [[taPerplexity(docs:*]] —
    * the only transcendentals (c·log2 c per type, log2 n per doc) are
    * rounded to 9 dp first (libm ulp absorbed), the per-type terms are
    * summed as DECIMAL(28,9) (exact, order-free), and the final H is one
    * double subtraction/division rounded to 6.
    *
    * Scale design: explode → partial-agg COUNT keyed (doc_id, token) —
    * one corpus shuffle; the per-doc reduce re-keys only the per-doc type
    * counts (vocabulary-per-doc-sized, far smaller than the corpus). No
    * window, no join: unlike perplexity there is no corpus-wide model to
    * broadcast, so the whole op is two cascading aggregates.
    */
  def taEntropy(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ent_docs")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, explode($toks) AS token FROM __ent_docs),
         |cnt AS (SELECT doc_id, token, COUNT(*) AS c
         |        FROM tok GROUP BY doc_id, token),
         |terms AS (
         |  SELECT doc_id, c,
         |         CAST(ROUND(c * log2(CAST(c AS DOUBLE)), 9)
         |              AS DECIMAL(28,9)) AS term
         |  FROM cnt)
         |SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types,
         |       ROUND(ROUND(log2(CAST(SUM(c) AS DOUBLE)), 9)
         |             - CAST(SUM(term) AS DOUBLE) / SUM(c), 6) AS entropy,
         |       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_ratio
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Oracle-query form of [[taEntropy(docs:*]] over the documents table. */
  def taEntropy(s: SparkSession, dir: String): DataFrame =
    taEntropy(Tables.load(s, dir, "documents"))

  /** Flesch reading-ease scoring (Flesch 1948, public; the readability
    * band filter of classic corpus curation): per document the word count,
    * sentence count (runs of terminal punctuation, clamped to ≥ 1 so
    * punctuation-free text still scores), a vowel-group syllable heuristic
    * (runs of [aeiouy] — the standard dictionary-free estimator), and
    * flesch = 206.835 − 1.015·(W/S) − 84.6·(Syll/W).
    *
    * Engine-exactness: three exact integer counts feed ONE fixed-shape
    * double expression (two divisions, two multiplies, two subtractions,
    * evaluated left-to-right in both engines — no fold-order freedom),
    * rounded to 6; constants are cast to DOUBLE explicitly so neither
    * engine routes through DECIMAL arithmetic.
    *
    * Scale design: narrow single-pass projection like the rest of the
    * ta_ family — no shuffle but the presentation ORDER BY.
    */
  def taReadability(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__read_docs")
    s.sql(
      s"""WITH m AS (
         |  SELECT doc_id,
         |         size($toks) AS n_words,
         |         greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)
         |           AS n_sents,
         |         size(regexp_extract_all(text, '[aeiouy]+', 0)) AS n_syll
         |  FROM __read_docs)
         |SELECT doc_id, n_words, n_sents, n_syll,
         |       ROUND(CAST(206.835 AS DOUBLE)
         |             - CAST(1.015 AS DOUBLE)
         |               * (CAST(n_words AS DOUBLE) / n_sents)
         |             - CAST(84.6 AS DOUBLE)
         |               * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
         |FROM m ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form. The corpus has no sentence punctuation, so
    * sentences are synthesized first (the ta_c4filter planting
    * discipline): tokens group into (8 + doc_id % 5)-word sentences — the
    * length VARIES per document so the W/S term is exercised, not constant
    * — terminated by '.' or (every third sentence) '!'.
    */
  def taReadability(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__read_raw")
    // toks bound as a column: a lambda that re-split the text per
    // sentence would be O(L^2) per doc (the ta_derep trap — measured
    // 100.9 s -> 3 s at 500k docs)
    val aug = s.sql(
      s"""SELECT doc_id,
         |  array_join(
         |    transform(sequence(0, (size(toks) + k - 1) div k - 1),
         |      i -> concat(
         |        array_join(slice(toks, i * k + 1, k), ' '),
         |        CASE WHEN (doc_id + i) % 3 = 0 THEN '!' ELSE '.' END)),
         |    ' ') AS text
         |FROM (SELECT doc_id, $toks AS toks, 8 + CAST(doc_id % 5 AS INT) AS k
         |      FROM __read_raw)""".stripMargin)
    taReadability(aug)
  }

  /** Feature-hashed document vectors (the hashing trick, Weinberger et
    * al. 2009, public): each token maps to one of 256 features via its
    * first two md5 hex digits (the dsMix draw idiom applied to the TOKEN
    * — model-free, vocabulary-free), and the document's vector is the
    * sparse (doc_id, feat, n) count relation — the cheap embedding that
    * feeds cosine near-dup or clustering without a model, at a fixed
    * 256-dim budget no matter the vocabulary. Emitted SPARSE (rows only
    * for present features) so the relation is ≤ min(distinct tokens,
    * 256) rows per document and the oracle checks every cell.
    *
    * Scale design: one explode + one (doc_id, feat) partial+final count
    * — the ta_df shape; the per-doc output is 256-bounded regardless of
    * document length. Downstream cosine composes via graft_dot after a
    * dense pivot, or directly on the sparse rows via a (feat) equi-join.
    */
  def taHashEmbed(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__he_docs")
    s.sql(
      s"""WITH tk AS (
         |  SELECT doc_id, explode(split(text, ' ')) AS tok FROM __he_docs)
         |SELECT doc_id,
         |       CAST((instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1)
         |            * 16
         |            + instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1
         |            AS BIGINT) AS feat,
         |       COUNT(*) AS n
         |FROM tk GROUP BY doc_id, 2
         |ORDER BY doc_id, feat""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taHashEmbed(s: SparkSession, dir: String): DataFrame =
    taHashEmbed(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Hashed linear quality classifier — the fastText/CCNet-style scoring
    * pass a curation pipeline runs before its keep/drop gate: score(doc)
    * = σ(Σ_f w_f · ln(1 + count_f)) over the [[taHashEmbed]] 256-bucket
    * feature space, with the weight vector a MODEL RELATION (feat, w) —
    * the artifact a trained classifier exports — joined back broadcast.
    * `keep` thresholds the 6-dp-rounded logit at 0 (σ is monotone, so
    * z ≥ 0 ⟺ score ≥ 0.5) — thresholding the ROUNDED value keeps the
    * flag engine-stable.
    *
    * Engine-exactness: each feature's contribution w·ln(1+n) is
    * 9-dp-rounded and summed as DECIMAL (exact, order-free — the ta_bm25
    * discipline); one terminal sigmoid on the cast double, ROUND 6.
    *
    * Scale design: one token explode + one (doc, feat) count (output
    * 256-bounded per doc), one broadcast join against the model-sized
    * weight relation, one doc rollup. Corpus-linear, no windows. The
    * weight relation is expected to cover the full bucket space (the
    * exported-model shape); with a partial model, a doc whose features
    * are all unweighted has no score and is absent from the output.
    */
  def taClassify(docs: DataFrame, weights: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__tc_docs")
    weights.createOrReplaceTempView("__tc_w")
    s.sql(
      """WITH tk AS (
        |  SELECT doc_id, explode(split(text, ' ')) AS tok FROM __tc_docs),
        |emb AS (
        |  SELECT doc_id,
        |         CAST((instr('0123456789abcdef', substring(md5(tok), 1, 1))
        |               - 1) * 16
        |              + instr('0123456789abcdef', substring(md5(tok), 2, 1))
        |              - 1 AS BIGINT) AS feat,
        |         COUNT(*) AS n
        |  FROM tk GROUP BY doc_id, 2),
        |sc AS (
        |  SELECT e.doc_id, COUNT(*) AS n_feats,
        |         SUM(CAST(ROUND(w.w * ln(1 + e.n), 9) AS DECIMAL(28,9)))
        |           AS z
        |  FROM emb e JOIN __tc_w w ON w.feat = e.feat
        |  GROUP BY e.doc_id)
        |SELECT doc_id, n_feats,
        |       ROUND(CAST(z AS DOUBLE), 6) AS z,
        |       ROUND(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 6) AS score,
        |       ROUND(CAST(z AS DOUBLE), 6) >= 0.0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: a planted deterministic 256-weight model
    * (w_f = ((f·37) mod 21 − 10)/10 ∈ [−1, 1], integer-derived so both
    * engines build the identical relation).
    */
  def taClassify(s: SparkSession, dir: String): DataFrame =
    taClassify(
      Tables.load(s, dir, "documents").select("doc_id", "text"),
      s.sql("SELECT id AS feat, ((id * 37) % 21 - 10) / 10.0 AS w " +
        "FROM range(256)"))

  /** Zipf's-law conformance table: the corpus's top-20 tokens by total
    * term frequency with their rank, tf, the rank·tf product (Zipf
    * predicts it near-constant), and the product normalized by the rank-1
    * frequency. The classic corpus-health check: a natural corpus decays
    * ~1/rank (rel ≈ 1 down the table); boilerplate-flooded or
    * deduplication-damaged corpora bend visibly. The statistic is kept
    * log-free on purpose — ln() differs by ±1 ulp between libm
    * implementations, so a log-log regression slope could not be
    * hash-compared across engines; rank·tf is integer-exact and `rel` is
    * ONE double division (the ta_tfidf discipline).
    *
    * Scale design: one explode + ONE (token) partial+final count — the
    * ta_df shape — then `ORDER BY tf DESC LIMIT 20`, which Spark runs as
    * TakeOrderedAndProject (map-side partial top-k; the vocabulary is
    * never globally sorted), and the rank / rank-1-frequency windows run
    * over the 20 surviving rows only. The first cut of this query put the
    * rank window on the FULL vocabulary and took the rank-1 frequency as
    * a scalar subquery on the tf CTE — Spark inlines CTEs, so that
    * re-ran the corpus-sized aggregation twice (72 s at 500k docs vs
    * 12 s for this shape on the same corpus, PERF.md r7, addendum15).
    */
  def taZipf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__zipf_docs")
    s.sql(
      s"""WITH tf AS (
         |  SELECT tok, COUNT(*) AS tf
         |  FROM (SELECT explode(split(text, ' ')) AS tok FROM __zipf_docs)
         |  GROUP BY tok),
         |top AS (SELECT tok, tf FROM tf ORDER BY tf DESC, tok LIMIT 20),
         |ranked AS (
         |  SELECT tok, tf,
         |         CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS BIGINT)
         |           AS rank,
         |         MAX(tf) OVER () AS tf1
         |  FROM top)
         |SELECT rank, tok, tf, rank * tf AS zipf_c,
         |       ROUND(CAST(rank * tf AS DOUBLE) / tf1, 6) AS rel
         |FROM ranked ORDER BY rank""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taZipf(s: SparkSession, dir: String): DataFrame =
    taZipf(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Vocabulary coverage / OOV profiling: learn the top-`vocabSize`
    * corpus tokens (by total tf, ties by token — the ta_zipf cut), then
    * score every document's out-of-vocabulary token count and rate. The
    * tokenizer-budget question every training pipeline asks: how much of
    * the corpus does a K-entry vocabulary actually cover, and which
    * documents are OOV-heavy (code, foreign text, mojibake) and should
    * route to ta_langid / ta_quality scrutiny.
    *
    * Engine-exactness: integer counts; the rate is ONE double division
    * rounded to 6, zero-guarded for empty documents (CASE, not NaN).
    *
    * Scale design: the vocabulary pass is the ta_zipf shape (one
    * partial+final count, TakeOrdered cut — never a vocabulary sort) and
    * its output is vocabSize rows, so the coverage join BROADCASTS the
    * vocab to the exploded corpus (left-join + per-doc count: one
    * corpus-keyed shuffle total). Nothing corpus-sized crosses the wire
    * twice.
    */
  def taVocabCoverage(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__vc_docs")
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, explode(split(text, ' ')) AS tok FROM __vc_docs),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok
         |    ORDER BY tf DESC, tok LIMIT $vocabSize)),
         |cov AS (
         |  SELECT t.doc_id,
         |         COUNT(*) AS n_tokens,
         |         COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov
         |  FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
         |  GROUP BY t.doc_id)
         |SELECT doc_id, n_tokens, n_oov,
         |       CASE WHEN n_tokens = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 6)
         |       END AS oov_rate
         |FROM cov ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: a 16-entry vocabulary over the testdata
    * corpus (its full vocabulary is 31 tokens at every SF, so 16 leaves
    * real OOV mass for the rate to measure).
    */
  def taVocabCoverage(s: SparkSession, dir: String): DataFrame =
    taVocabCoverage(
      Tables.load(s, dir, "documents").select("doc_id", "text"), 16)

  /** Collocation mining (the log-free PMI variant): adjacent token pairs
    * whose observed corpus frequency exceeds the independence expectation
    * by ≥ `minLift`, with a `minPair` support floor. lift =
    * P(w1,w2) / (P(w1)·P(w2)) = c_pair·T² / (B·c_w1·c_w2) — the exact
    * exp(PMI), emitted as the ratio instead of the log because ln()
    * differs by ±1 ulp between libm implementations (the ta_zipf
    * discipline). The phrase-discovery staple: "aurora borealis" collocate;
    * uniform fillers don't.
    *
    * Engine-exactness: all counts are integers; the lift is computed as
    * (c::DOUBLE·T·T) / (B::DOUBLE·c1·c2) — the same left-associated IEEE
    * sequence in both engines, one final ROUND.
    *
    * Scale design: unigram and bigram counts are partial+final aggregates
    * over one corpus pass each (the bigram explode is position-bounded);
    * both count relations are VOCABULARY-sized (≤V and ≤V² keys), so the
    * two enrichment joins broadcast and the T/B scalars ride along as
    * single-row cross joins. Nothing corpus-sized is joined or sorted.
    */
  def taColloc(docs: DataFrame, minPair: Long = 5,
               minLift: Double = 2.0): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__col_docs")
    s.sql(
      s"""WITH tok AS (SELECT split(text, ' ') AS toks FROM __col_docs),
         |uni AS (
         |  SELECT w, COUNT(*) AS c FROM (
         |    SELECT explode(toks) AS w FROM tok) GROUP BY w),
         |tt AS (SELECT SUM(c) AS t FROM uni),
         |big AS (
         |  SELECT w1, w2, COUNT(*) AS c FROM (
         |    SELECT element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2
         |    FROM tok
         |    LATERAL VIEW explode(CASE WHEN size(toks) >= 2
         |      THEN sequence(1, size(toks) - 1) ELSE array() END) AS i)
         |  GROUP BY w1, w2),
         |bt AS (SELECT SUM(c) AS b FROM big)
         |SELECT g.w1, g.w2, g.c AS c_pair, a.c AS c_w1, z.c AS c_w2,
         |       ROUND(CAST(g.c AS DOUBLE) * tt.t * tt.t /
         |             (CAST(bt.b AS DOUBLE) * a.c * z.c), 6) AS lift
         |FROM big g CROSS JOIN tt CROSS JOIN bt
         |JOIN uni a ON a.w = g.w1 JOIN uni z ON z.w = g.w2
         |WHERE g.c >= $minPair
         |  AND CAST(g.c AS DOUBLE) * tt.t * tt.t /
         |      (CAST(bt.b AS DOUBLE) * a.c * z.c) >= ${minLift}D
         |ORDER BY g.w1, g.w2""".stripMargin)
  }

  /** The oracle-checked form: the testdata corpus is near-uniform over a
    * 31-token vocabulary (every adjacent pair's lift ≈ 1), so every 5th
    * document gets ' aurora borealis aurora borealis' appended — a planted
    * collocation whose member tokens only ever co-occur with each other,
    * which the lift ≥ 2 cut must surface (and only it plus its reversal;
    * natural pairs stay under the cut at every SF).
    */
  def taColloc(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    taColloc(s.sql(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 0
        |            THEN concat(text, ' aurora borealis aurora borealis')
        |            ELSE text END AS text
        |FROM __docs""".stripMargin))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS algorithm): hash every `k`-token gram, slide a `w`-gram window,
    * and in each window select the RIGHTMOST gram achieving the window
    * minimum; the distinct selected (position, hash) pairs are the
    * document's fingerprint set. The guarantee the paper proves: any
    * shared substring of ≥ k+w−1 tokens produces at least one shared
    * fingerprint, while the fingerprint density stays ~2/(w+1) — the
    * local-similarity sibling of the whole-document minhash family
    * (ta_fingerprint is the per-doc rolling hash; this is the selectable
    * span index plagiarism/overlap detectors build).
    *
    * Engine-exactness: the gram hash is the md5 hex digest (the minhash
    * discipline — lexicographic string MIN is a valid selection order and
    * identical in both engines); selection is integer window algebra.
    *
    * Scale design: grams are one narrow explode; the window MIN and the
    * per-doc gram count share ONE doc_id-partitioned window stage; the
    * selection join fans each gram into ≤ w windows (equality on doc_id +
    * a w-bounded BETWEEN), so candidate volume is w·grams — linear in the
    * corpus, never quadratic. Output is ~2·grams/(w+1) rows.
    */
  def taWinnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be >= 1")
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__win_docs")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, split(text, ' ') AS toks FROM __win_docs),
         |g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         md5(array_join(slice(toks, i, $k), ' ')) AS h
         |  FROM tok
         |  LATERAL VIEW explode(CASE WHEN size(toks) >= $k
         |    THEN sequence(1, size(toks) - ${k - 1}) ELSE array() END) AS i),
         |win AS (
         |  SELECT doc_id, pos AS i,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
         |           AS wmin,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS ng
         |  FROM g),
         |sel AS (
         |  SELECT wn.doc_id, wn.wmin AS fp, MAX(g.pos) AS pos
         |  FROM (SELECT doc_id, i, wmin FROM win WHERE i <= ng - ${w - 1}) wn
         |  JOIN g ON g.doc_id = wn.doc_id
         |    AND g.pos BETWEEN wn.i AND wn.i + ${w - 1} AND g.h = wn.wmin
         |  GROUP BY wn.doc_id, wn.i, wn.wmin)
         |SELECT DISTINCT doc_id, pos, fp
         |FROM sel ORDER BY doc_id, pos""".stripMargin)
  }

  /** The oracle-checked form: k=3-token grams, w=4 windows over the
    * testdata corpus.
    */
  def taWinnow(s: SparkSession, dir: String): DataFrame =
    taWinnow(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Per-source distribution drift: Jensen-Shannon divergence (in bits)
    * between each source's unigram distribution and the whole corpus's —
    * the domain-shift monitor a training pipeline runs per ingest source
    * (a source whose token distribution bends away from the mix gets
    * routed to language-ID / quality scrutiny). JSD is the symmetric,
    * bounded ([0,1] bits) alternative to raw KL.
    *
    * Engine-exactness: every log2 argument is an EXACT-INTEGER double
    * (p/m and q/m are rewritten as integer ratios — p/m = 2·c_sw·T /
    * (c_sw·T + c_w·T_s) — so log2(ratio) becomes log2(int) − log2(int),
    * the ta_entropy discipline that keeps libm differences out); each
    * term is rounded to 9 and summed as DECIMAL(28,9).
    *
    * Scale design: one corpus pass feeds a (source, token) partial+final
    * count; everything after is vocabulary × sources sized (the grid is
    * tiny — broadcast joins), so the divergence table costs one shuffle
    * regardless of corpus size.
    */
  def taJsd(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // the (source, token) count is referenced FOUR times downstream (per-
    // source totals, corpus totals, grand total, grid) — Spark inlines SQL
    // CTEs, so as a CTE the corpus-sized explode+aggregate would run four
    // times (measured 78 s vs 8 s at 500k docs, PERF.md r7,
    // addendum18). Materialize it once; it is vocabulary × sources sized.
    Caches.pin(docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c")))
      .createOrReplaceTempView("__jsd_sw")
    s.sql(
      """WITH sw AS (SELECT source, w, c FROM __jsd_sw),
        |st AS (SELECT source, SUM(c) AS tsrc FROM sw GROUP BY source),
        |cw AS (SELECT w, SUM(c) AS cg FROM sw GROUP BY w),
        |tt AS (SELECT SUM(c) AS t FROM sw),
        |grid AS (
        |  SELECT st.source, cw.w, COALESCE(sw.c, 0) AS csw,
        |         st.tsrc, cw.cg, tt.t
        |  FROM st CROSS JOIN cw CROSS JOIN tt
        |  LEFT JOIN sw ON sw.source = st.source AND sw.w = cw.w),
        |terms AS (
        |  SELECT source, tsrc,
        |         CAST(ROUND(CASE WHEN csw = 0 THEN CAST(0 AS DOUBLE) ELSE
        |           (CAST(csw AS DOUBLE) / tsrc) *
        |           (log2(CAST(2 * csw AS DOUBLE) * t) -
        |            log2(CAST(csw AS DOUBLE) * t + CAST(cg AS DOUBLE) * tsrc))
        |           END, 9) AS DECIMAL(28,9)) AS pterm,
        |         CAST(ROUND(
        |           (CAST(cg AS DOUBLE) / t) *
        |           (log2(CAST(2 * cg AS DOUBLE) * tsrc) -
        |            log2(CAST(csw AS DOUBLE) * t + CAST(cg AS DOUBLE) * tsrc)),
        |           9) AS DECIMAL(28,9)) AS qterm
        |  FROM grid)
        |SELECT source, MAX(tsrc) AS n_tokens,
        |       ROUND(CAST(SUM(pterm) + SUM(qterm) AS DOUBLE) / 2, 6) AS jsd
        |FROM terms GROUP BY source ORDER BY source""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus's `source` column. */
  def taJsd(s: SparkSession, dir: String): DataFrame =
    taJsd(Tables.load(s, dir, "documents").select("doc_id", "text", "source"))

  /** Token burstiness (Church & Gale's "Poisson mixtures" diagnostic):
    * for the corpus's top-20 tokens by total frequency, the Fano factor
    * of the per-document count distribution — variance-to-mean over ALL
    * documents (absences count as zero). A Poisson (function) word sits
    * at fano ≈ 1; a topical/bursty word clumps into few documents and
    * scores ≫ 1 — the signal keyword extractors and stopword-list
    * builders split on.
    *
    * Engine-exactness: fano = (N·Σc² − (Σc)²) / (N·Σc) computed as ONE
    * double expression over integer aggregates — same IEEE sequence both
    * engines, one final ROUND (the ta_colloc discipline).
    *
    * Scale design: one (doc, token) partial+final count, one token-level
    * rollup carrying Σc and Σc² (vocabulary-sized), the ta_zipf
    * TakeOrdered top-20 cut, and a single-row N cross join. Nothing
    * corpus-sized is sorted or joined.
    */
  def taBurstiness(docs: DataFrame, topK: Int = 20): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__bu_docs")
    s.sql(
      s"""WITH nd AS (SELECT COUNT(*) AS n FROM __bu_docs),
         |dc AS (
         |  SELECT tok, COUNT(*) AS c FROM (
         |    SELECT doc_id, explode(split(text, ' ')) AS tok FROM __bu_docs)
         |  GROUP BY doc_id, tok),
         |tok AS (
         |  SELECT tok, SUM(c) AS tf, COUNT(*) AS df,
         |         SUM(c * c) AS sc2
         |  FROM dc GROUP BY tok
         |  ORDER BY tf DESC, tok LIMIT $topK)
         |SELECT tok, tf, df,
         |       ROUND((CAST(nd.n AS DOUBLE) * sc2 - CAST(tf AS DOUBLE) * tf)
         |             / (CAST(nd.n AS DOUBLE) * tf), 6) AS fano
         |FROM tok CROSS JOIN nd
         |ORDER BY tf DESC, tok""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taBurstiness(s: SparkSession, dir: String): DataFrame =
    taBurstiness(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Heaps'-law vocabulary growth: cumulative docs / tokens / distinct
    * vocabulary at ten ingest checkpoints (doc-id-range deciles — exact
    * ingest-order deciles when ids are dense, the testdata/generator
    * case). A natural corpus grows V(n) ~ K·n^β, β ≈ 0.5-0.7; a flat
    * curve exposes a capped template vocabulary, a linear one exposes
    * id-bearing junk tokens — the corpus-health curve next to ta_zipf's.
    *
    * Engine-exactness: all integers; the decile of a doc is
    * ((doc_id − lo)·10) div (hi − lo) from two scalar bounds — no global
    * sort, no corpus-sized window.
    *
    * Scale design: one (token) MIN-aggregate for first appearances
    * (vocabulary-sized), one per-doc token count (partial+final), both
    * bucketed to 10 rows; the cumulative window runs over those 10 rows
    * only. The bounds relation is a single broadcast row.
    */
  def taHeaps(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__hp_docs")
    s.sql(
      """WITH tok AS (
        |  SELECT doc_id, explode(split(text, ' ')) AS tok FROM __hp_docs),
        |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM __hp_docs),
        |td AS (SELECT doc_id, COUNT(*) AS nt FROM tok GROUP BY doc_id),
        |dd AS (
        |  SELECT ((doc_id - lo) * 10) div (hi - lo) AS decile,
        |         COUNT(*) AS docs, SUM(nt) AS toks
        |  FROM td CROSS JOIN b GROUP BY 1),
        |firsts AS (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok),
        |fv AS (
        |  SELECT ((fd - lo) * 10) div (hi - lo) AS decile, COUNT(*) AS vnew
        |  FROM firsts CROSS JOIN b GROUP BY 1)
        |SELECT d.decile,
        |       SUM(d.docs) OVER w AS docs_cum,
        |       SUM(d.toks) OVER w AS tokens_cum,
        |       SUM(COALESCE(fv.vnew, 0)) OVER w AS vocab_cum
        |FROM dd d LEFT JOIN fv ON fv.decile = d.decile
        |WINDOW w AS (ORDER BY d.decile)
        |ORDER BY d.decile""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taHeaps(s: SparkSession, dir: String): DataFrame =
    taHeaps(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Ingest-order n-gram novelty: for every document, the fraction of its
    * 3-gram positions whose gram ALREADY APPEARED in an earlier document
    * (first occurrence strictly before, by doc_id = ingest order). A
    * template flood shows up as a run of seen_frac ≈ 1 documents the
    * moment the template repeats — the streaming-shaped cousin of
    * [[graft.ops.Dedup.ddSubstring]]'s symmetric df signal.
    *
    * Scale design: grams travel as 8-byte xxhash64 keys (the ddSubstring
    * discipline — the oracle joins the gram strings instead, an
    * internal-key choice each engine makes independently); first
    * occurrences are ONE gram-keyed MIN aggregate; the join back is the
    * corpus-sized gram relation against the vocabulary-sized firsts.
    */
  def taNovelty(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__nv_docs")
    s.sql(
      """WITH g AS (
        |  SELECT doc_id,
        |         xxhash64(array_join(slice(toks, i, 3), ' ')) AS gh
        |  FROM (SELECT doc_id, split(text, ' ') AS toks FROM __nv_docs)
        |  LATERAL VIEW explode(CASE WHEN size(toks) >= 3
        |    THEN sequence(1, size(toks) - 2) ELSE array() END) AS i),
        |firsts AS (SELECT gh, MIN(doc_id) AS fd FROM g GROUP BY gh)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |       COUNT(CASE WHEN f.fd < g.doc_id THEN 1 END) AS n_seen,
        |       ROUND(CAST(COUNT(CASE WHEN f.fd < g.doc_id THEN 1 END)
        |             AS DOUBLE) / COUNT(*), 6) AS seen_frac
        |FROM g JOIN firsts f ON f.gh = g.gh
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taNovelty(s: SparkSession, dir: String): DataFrame =
    taNovelty(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Corpus manifest checksum: per source, the document count, token
    * total, and an ORDER-FREE content checksum (the sum of each text's
    * leading-6-hex-digit md5 value) — the cheap "did anything change
    * between snapshot A and B" fingerprint a pipeline stores next to
    * every materialized corpus. Sum-of-hashes is insertion-order- and
    * partitioning-independent by construction, so two runs (or two
    * engines) agree byte-for-byte.
    *
    * Scale design: one narrow pass, one source-keyed partial+final
    * aggregate; output is sources-sized.
    */
  def taChecksum(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ck_docs")
    val digit = (k: Int) =>
      s"(instr('0123456789abcdef', substring(md5(text), $k, 1)) - 1)"
    val hex6 = (1 to 6).map(k =>
      s"CAST(${digit(k)} AS BIGINT) * ${1L << (4 * (6 - k))}L").mkString(" + ")
    s.sql(
      s"""SELECT source, COUNT(*) AS n_docs,
         |       SUM(size(split(text, ' '))) AS n_tokens,
         |       SUM($hex6) AS checksum
         |FROM __ck_docs GROUP BY source ORDER BY source""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taChecksum(s: SparkSession, dir: String): DataFrame =
    taChecksum(Tables.load(s, dir, "documents").select("text", "source"))

  /** Bigram conditional entropy per source: H(w₂|w₁) in bits — how
    * predictable the next token is given the current one. A templated /
    * machine-generated source reads near 0 (deterministic transitions);
    * organic text sits well above. Computed as H(pair) − H(first) =
    * (Σ c_a·log2 c_a − Σ c_ab·log2 c_ab) / B — every log2 argument an
    * integer count (the ta_jsd libm-safe rewrite), terms summed as
    * ROUND(·,9) decimals.
    *
    * Scale design: one (source, bigram) partial+final count; the
    * marginal and both term sums roll up from that vocabulary²-bounded
    * relation — nothing corpus-sized past the first aggregate.
    */
  def taCondEntropy(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ce_docs")
    s.sql(
      """WITH big AS (
        |  SELECT source, w1, w2, COUNT(*) AS c FROM (
        |    SELECT source, element_at(toks, i) AS w1,
        |           element_at(toks, i + 1) AS w2
        |    FROM (SELECT source, split(text, ' ') AS toks FROM __ce_docs)
        |    LATERAL VIEW explode(CASE WHEN size(toks) >= 2
        |      THEN sequence(1, size(toks) - 1) ELSE array() END) AS i)
        |  GROUP BY source, w1, w2),
        |firsts AS (SELECT source, w1, SUM(c) AS c FROM big GROUP BY source, w1),
        |bt AS (SELECT source, SUM(c) AS b FROM big GROUP BY source),
        |ps AS (
        |  SELECT source, SUM(CAST(ROUND(CAST(c AS DOUBLE)
        |           * log2(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s2
        |  FROM big GROUP BY source),
        |fs AS (
        |  SELECT source, SUM(CAST(ROUND(CAST(c AS DOUBLE)
        |           * log2(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s1
        |  FROM firsts GROUP BY source)
        |SELECT bt.source, bt.b AS n_bigrams,
        |       ROUND(CAST(fs.s1 - ps.s2 AS DOUBLE) / bt.b, 6) AS cond_entropy
        |FROM bt JOIN ps ON ps.source = bt.source
        |JOIN fs ON fs.source = bt.source
        |ORDER BY bt.source""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taCondEntropy(s: SparkSession, dir: String): DataFrame =
    taCondEntropy(Tables.load(s, dir, "documents").select("text", "source"))

  /** Document rarity: the mean IDF of a document's token POSITIONS —
    * log2(N/df) per token, averaged. Jargon/noise-heavy documents score
    * high (rare vocabulary); boilerplate scores near 0. IDF splits into
    * log2(N) − log2(df) so every log2 argument is an integer count (the
    * ta_jsd libm-safe rewrite); per-position terms sum as ROUND(·,9)
    * decimals.
    *
    * Scale design: document frequencies are ONE (token) distinct-doc
    * aggregate (vocabulary-sized output, broadcastable); the join back is
    * the corpus token relation against that vocabulary.
    */
  def taRarity(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ra_docs")
    s.sql(
      """WITH tok AS (
        |  SELECT doc_id, explode(split(text, ' ')) AS w FROM __ra_docs),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
        |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |       ROUND(CAST(SUM(CAST(ROUND(log2(CAST(nd.n AS DOUBLE))
        |               - log2(CAST(df.df AS DOUBLE)), 9) AS DECIMAL(28,9)))
        |             AS DOUBLE) / COUNT(*), 6) AS rarity
        |FROM tok t CROSS JOIN nd JOIN df ON df.w = t.w
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taRarity(s: SparkSession, dir: String): DataFrame =
    taRarity(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Code-likeness per source: a document is code-like when it carries
    * at least two programming keywords as whitespace tokens OR its
    * code-symbol density ({}();=<>) exceeds 5 % of characters — the
    * routing signal a mixed crawl needs before prose-tuned filters
    * (taGopher's TTR and taReadability both misread source code as
    * garbage prose and would throw it away). The 5 % cut is the
    * integer-exact predicate sym·20 > chars; keyword hits count via a
    * token-set filter, no regex backtracking anywhere.
    *
    * Scale design: narrow single-pass per-doc signals, one partial-agg
    * rollup to sources-sized output.
    */
  def taCodeFrac(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__cf_docs")
    s.sql(
      """WITH d AS (
        |  SELECT source,
        |         size(filter(split(text, ' '),
        |           t -> t IN ('def', 'return', 'class', 'import',
        |                      'void', 'int'))) AS kw,
        |         length(text) AS nc,
        |         length(text) - length(regexp_replace(text,
        |           '[{}();=<>]', '')) AS sym
        |  FROM __cf_docs)
        |SELECT source, COUNT(*) AS n_docs,
        |       SUM(CASE WHEN kw >= 2 OR sym * 20 > nc
        |           THEN 1 ELSE 0 END) AS n_code,
        |       ROUND(CAST(SUM(CASE WHEN kw >= 2 OR sym * 20 > nc
        |                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
        |         AS code_frac
        |FROM d GROUP BY source ORDER BY source""".stripMargin)
  }

  /** Oracle-query form: the natural corpus has no code (symbol-free
    * random words), so every 9th document gets a code line APPENDED —
    * two keywords + symbols — and the per-source fraction must read the
    * planting rate (the dd_stats planting discipline).
    */
  def taCodeFrac(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__cf_raw")
    taCodeFrac(s.sql(
      """SELECT source,
        |       CASE WHEN doc_id % 9 = 0
        |            THEN concat(text, ' def run(x); return {x};')
        |            ELSE text END AS text
        |FROM __cf_raw""".stripMargin))
  }

  /** Source-vocabulary overlap map: pairwise Jaccard of the DISTINCT
    * token sets of every source pair — the corpus-redundancy counterpart
    * to ev_overlap's audience matrix, read before source-mixture
    * decisions (two sources with near-1 vocabulary Jaccard add diversity
    * only through composition, not vocabulary). Integer set algebra,
    * one final division.
    *
    * Scale design: the vocabulary relation is (source × vocab)-sized;
    * the pair join runs on the token key, so fan-in per token is the
    * number of sources carrying it (≤ |sources|), never corpus-sized.
    * Output is C(|sources|, 2) rows.
    */
  def taVocabJaccard(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__vj_docs")
    s.sql(
      """WITH v AS (
        |  SELECT DISTINCT source, explode(split(text, ' ')) AS w
        |  FROM __vj_docs),
        |sz AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |  FROM v a JOIN v b ON b.w = a.w AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT i.src_a, i.src_b, i.inter,
        |       za.n + zb.n - i.inter AS uni,
        |       ROUND(CAST(i.inter AS DOUBLE)
        |             / (za.n + zb.n - i.inter), 6) AS jaccard
        |FROM inter i
        |JOIN sz za ON za.source = i.src_a
        |JOIN sz zb ON zb.source = i.src_b
        |ORDER BY i.src_a, i.src_b""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def taVocabJaccard(s: SparkSession, dir: String): DataFrame =
    taVocabJaccard(Tables.load(s, dir, "documents").select("source", "text"))

  /** Non-ASCII profile per source: documents carrying any multi-byte
    * character and the UTF-8 byte overhead — the first-look encoding-QA
    * table that flags mojibake floods and double-encoded crawls before
    * language filters misroute them. No regex at all: a character is
    * multi-byte exactly when octet_length > length contributes, so both
    * signals are pure integer arithmetic on two built-in lengths.
    *
    * Scale design: narrow single-pass over (source, two lengths), one
    * partial-agg rollup to sources-sized output.
    */
  def taNonAscii(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__na_docs")
    s.sql(
      """WITH d AS (
        |  SELECT source, length(text) AS nchar, octet_length(text) AS nbyte
        |  FROM __na_docs)
        |SELECT source, COUNT(*) AS n_docs,
        |       SUM(CASE WHEN nbyte > nchar THEN 1 ELSE 0 END)
        |         AS n_nonascii,
        |       SUM(nbyte - nchar) AS extra_bytes,
        |       ROUND(CAST(SUM(nbyte - nchar) AS DOUBLE) / SUM(nbyte), 6)
        |         AS byte_overhead
        |FROM d GROUP BY source ORDER BY source""".stripMargin)
  }

  /** Oracle-query form: the natural corpus is pure ASCII (measured), so
    * every 11th document gets an accented suffix APPENDED and the
    * per-source counts must read exactly the planting rate.
    */
  def taNonAscii(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__na_raw")
    taNonAscii(s.sql(
      """SELECT source,
        |       CASE WHEN doc_id % 11 = 0
        |            THEN concat(text, ' café naïve résumé')
        |            ELSE text END AS text
        |FROM __na_raw""".stripMargin))
  }

  /** Per-source distinctive vocabulary by z-scored log-odds ratio with an
    * INFORMATIVE Dirichlet prior (Monroe, Colaresi & Quinn 2008
    * "Fightin' Words", public; α_w = 0.01·g_w — prior mass 1 % of the
    * corpus, apportioned by global frequency, the paper's own
    * prescription): for every source, the top-5 tokens whose usage rate
    * most exceeds the REST of the corpus, scored δ/σ so rare-word noise
    * is variance-damped — the corpus-curation view that answers "what is
    * this source actually about" where [[taTfidf]] answers it per
    * document and [[taVocabJaccard]] only says how much vocabularies
    * overlap. The frequency prior matters at scale: a FLAT tiny α caps
    * an out-of-corpus token's z at δ·√α (σ² ≈ 1/α however much evidence
    * accumulates), so a 50k-occurrence source-exclusive token LOSES to
    * 18M-token sampling noise — found by the planted-token leg of
    * PERF.md r7, addendum26; with α ∝ g_w the z grows with √evidence
    * as it should.
    *
    * Engine-exactness: all inputs to the score are integer counts plus
    * decimal literals, so the two ln's, the sqrt and the division are ONE
    * fixed-shape double expression rounded to 6; ranking is (z DESC,
    * token) — total order, engine-identical.
    *
    * Scale design: the exploded token stream is consumed by EXACTLY ONE
    * (source, token) partial+final aggregate — the global-token,
    * per-source and grand totals all derive from that vocabulary-bounded
    * relation (four consumers of the raw explode would each recompute it
    * under InlineCTE, the dd_resolve lesson); the scalar total
    * broadcasts; the final top-5 ranks inside a per-source window over
    * vocabulary-sized rows (sources × V, never corpus-sized).
    */
  def taLogOdds(docs: DataFrame, k: Int = 5): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__lo_docs")
    // one corpus pass; the vocabulary-sized (source, token) counts feed
    // four consumers below, so materialize them (lazy checkpoint) rather
    // than let InlineCTE re-run the explode+aggregate per consumer
    Caches.pin(s.sql(
      """SELECT source, t.token AS token, COUNT(*) AS y FROM __lo_docs
        |LATERAL VIEW explode(split(text, ' ')) t AS token
        |GROUP BY source, t.token""".stripMargin))
      .createOrReplaceTempView("__lo_y")
    s.sql(
      s"""WITH g AS (SELECT token, SUM(y) AS g FROM __lo_y GROUP BY token),
         |ni AS (SELECT source, SUM(y) AS n FROM __lo_y GROUP BY source),
         |tot AS (SELECT SUM(y) AS nn FROM __lo_y),
         |m AS (
         |  SELECT y.source, y.token, y.y, g.g, g.g - y.y AS yr, ni.n,
         |         tot.nn - ni.n AS nr, tot.nn
         |  FROM __lo_y y JOIN g ON g.token = y.token
         |  JOIN ni ON ni.source = y.source CROSS JOIN tot),
         |sc AS (
         |  SELECT source, token, y,
         |         ROUND((ln((y + 0.01 * g)
         |                   / (n + 0.01 * nn - y - 0.01 * g))
         |              - ln((yr + 0.01 * g)
         |                   / (nr + 0.01 * nn - yr - 0.01 * g)))
         |             / sqrt(1.0 / (y + 0.01 * g)
         |                    + 1.0 / (yr + 0.01 * g)), 6) AS z
         |  FROM m)
         |SELECT source, token, y AS n_tok, z, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |            ORDER BY z DESC, token) AS rnk FROM sc)
         |WHERE rnk <= $k
         |ORDER BY source, rnk""".stripMargin)
  }

  /** The oracle-checked form over the testdata documents. */
  def taLogOdds(s: SparkSession, dir: String): DataFrame =
    taLogOdds(Tables.load(s, dir, "documents").select("source", "text"))

  /** Okapi BM25 retrieval: score every corpus document against each query
    * text and keep the top-k per query. The missing classic next to
    * taTfidf (corpus keywords) and ssHybrid (whose lexical leg is bigram
    * Jaccard): BM25 is the lexical ranking function a real retrieval /
    * hard-negative-mining pipeline actually serves. Lucene's idf form
    * ln(1 + (N - df + ½)/(df + ½)) keeps every term weight positive;
    * k1 = 1.2, b = 0.75 are the textbook defaults.
    *
    * Engine-exactness: each (query, doc, term) contribution is rounded to
    * 9 dp and summed as DECIMAL(28,9), so the per-pair score — and the
    * rank order derived from it — is bit-identical across engines; ties
    * break on neighbor_id.
    *
    * Scale design: the corpus pass is one explode+count into a (doc,
    * term, tf) relation, materialized once (localCheckpoint — the
    * InlineCTE multi-consumer lesson: dl, df, and the postings join all
    * read it). Query terms are a tiny relation (|queries| · vocab-of-
    * query); the scoring join is postings-bounded — each query term pulls
    * only the documents containing it, never a cross join — and the
    * top-k is a per-query window over candidates. At 100 TB the (doc,
    * term) relation shuffles once on term, exactly like the production
    * inverted-index build it mirrors; stop-term df ceilings (drop terms
    * with df > α·N) bound the postings skew the same way the minhash
    * family bounds candidate fan-in.
    */
  def taBm25(docs: DataFrame, queryDocs: DataFrame, k: Int = 10,
             excludeSelf: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__bm_docs")
    queryDocs.createOrReplaceTempView("__bm_qdocs")
    // one corpus pass; (doc, term, tf) feeds dl, df AND the postings join
    Caches.pin(s.sql(
      """SELECT doc_id, t.w AS w, COUNT(*) AS tf FROM __bm_docs
        |LATERAL VIEW explode(split(text, ' ')) t AS w
        |GROUP BY doc_id, t.w""".stripMargin))
      .createOrReplaceTempView("__bm_tf")
    val selfGuard = if (excludeSelf) "AND t.doc_id <> q.query_id" else ""
    // dl feeds BOTH the avgdl scalar and the per-doc scoring join; as an
    // inline CTE Spark re-aggregated __bm_tf per mention (the r13
    // before-plan shows the doc_id HashAggregate twice) — materialized
    // once, doc-sized and narrow (guide §7.2 duplicated subtrees)
    Caches.pin(s.sql("SELECT doc_id, SUM(tf) AS dl FROM __bm_tf GROUP BY doc_id"))
      .createOrReplaceTempView("__bm_dl")
    s.sql(
      s"""WITH dl AS (SELECT doc_id, dl FROM __bm_dl),
         |st AS (SELECT COUNT(*) AS n,
         |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
         |       FROM dl),
         |df AS (SELECT w, COUNT(*) AS df FROM __bm_tf GROUP BY w),
         |qt AS (SELECT DISTINCT query_id, t.w AS w FROM
         |       (SELECT query_id, text FROM __bm_qdocs)
         |       LATERAL VIEW explode(split(text, ' ')) t AS w),
         |sc AS (
         |  SELECT q.query_id, t.doc_id AS neighbor_id,
         |         COUNT(*) AS n_terms,
         |         SUM(CAST(ROUND(
         |             ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
         |             * (t.tf * 2.2)
         |             / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)),
         |           9) AS DECIMAL(28,9))) AS score
         |  FROM qt q JOIN __bm_tf t ON t.w = q.w $selfGuard
         |  JOIN df ON df.w = t.w JOIN dl ON dl.doc_id = t.doc_id
         |  CROSS JOIN st
         |  GROUP BY q.query_id, t.doc_id)
         |SELECT query_id, neighbor_id, n_terms,
         |       ROUND(CAST(score AS DOUBLE), 6) AS score, rnk
         |FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
         |      FROM sc)
         |WHERE rnk <= $k
         |ORDER BY query_id, rnk""".stripMargin)
  }

  /** The oracle-checked form: the first five corpus documents act as the
    * query set (the ssHybrid discipline), self-hits excluded.
    */
  def taBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
    taBm25(docs,
      docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text")),
      excludeSelf = true)
  }

  /** Stopwords delimiting RAKE candidate phrases — a declared parameter
    * of the ta_rake oracle form (production callers pass their own).
    */
  private[ops] val RakeStops: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "on", "for",
    "with", "as", "by", "at", "or")

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; each word scores deg/freq (deg =
    * summed lengths of the phrases it appears in — co-occurrence mass;
    * freq = its occurrence count), and a phrase scores the sum of its
    * words' scores. The classic unsupervised keyword miner next to
    * taTfidf (which needs the corpus-wide df relation) — RAKE's signal
    * is phrase-internal co-occurrence, so it surfaces multi-word terms
    * ("label propagation") that unigram tf-idf fragments.
    *
    * Engine-exactness: deg and freq are integers; word scores are
    * 9-dp-rounded rationals summed as DECIMAL per phrase, ranked on the
    * decimal (exact compare), one terminal ROUND for display. Ties
    * break on phrase text.
    *
    * Candidate phrases are capped at `maxPhraseLen` words (RAKE's own
    * published convention is 3-4): an over-long stopword-free run —
    * code, tables, non-English text — is dropped entirely (phrase AND
    * word-stat contribution). The cap is also the scale guard: the
    * phrase→word explode carries the full phrase text on every word row,
    * so an unbounded island costs O(len²) bytes — measured 68 s at 500k
    * docs on stopword-poor synthetic text before the cap.
    *
    * Scale: one token explode with a per-(doc, island) window builds the
    * phrase relation (corpus-sized, one doc_id exchange); word stats and
    * phrase scores are vocabulary-sized; the top-k is a TakeOrdered.
    */
  def taRake(docs: DataFrame, k: Int = 20,
      stops: Seq[String] = RakeStops, maxPhraseLen: Int = 4): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__rk_docs")
    // escape backslashes then quotes — caller-supplied stopwords
    // ("don't", "a\\") must not break (or rewrite) the NOT IN predicate
    val stopList = stops.map(w =>
      s"'${w.replace("\\", "\\\\").replace("'", "''")}'").mkString(", ")
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, p.pos AS pos, p.w AS w
         |  FROM __rk_docs
         |  LATERAL VIEW posexplode(split(text, ' ')) p AS pos, w),
         |cw AS (
         |  SELECT doc_id, pos, w,
         |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id
         |                                  ORDER BY pos) AS grp
         |  FROM tok WHERE w NOT IN ($stopList) AND w <> ''),
         |cw2 AS (
         |  SELECT doc_id, pos, w, grp,
         |         COUNT(*) OVER (PARTITION BY doc_id, grp) AS len
         |  FROM cw),
         |cw3 AS (SELECT * FROM cw2 WHERE len <= $maxPhraseLen),
         |ph AS (
         |  SELECT doc_id, grp,
         |         concat_ws(' ', transform(
         |           array_sort(collect_list(struct(pos, w))),
         |           t -> t.w)) AS phrase
         |  FROM cw3 GROUP BY doc_id, grp),
         |wstat AS (
         |  SELECT w, COUNT(*) AS freq, SUM(len) AS deg
         |  FROM cw3 GROUP BY w),
         |occ AS (SELECT phrase, COUNT(*) AS n_occ FROM ph GROUP BY phrase),
         |pw AS (
         |  SELECT o.phrase, t.w
         |  FROM occ o LATERAL VIEW explode(split(phrase, ' ')) t AS w),
         |sc AS (
         |  SELECT pw.phrase,
         |         SUM(CAST(ROUND(CAST(ws.deg AS DOUBLE) / ws.freq, 9)
         |                  AS DECIMAL(28,9))) AS s
         |  FROM pw JOIN wstat ws ON ws.w = pw.w
         |  GROUP BY pw.phrase),
         |top AS (
         |  -- distributed TakeOrdered of the phrase vocabulary; the
         |  -- unpartitioned rank below then sorts only k rows (the
         |  -- cand0 seeding discipline)
         |  SELECT sc.phrase, o.n_occ, sc.s
         |  FROM sc JOIN occ o ON o.phrase = sc.phrase
         |  ORDER BY sc.s DESC, sc.phrase LIMIT $k)
         |SELECT phrase, n_occ, size(split(phrase, ' ')) AS n_words,
         |       ROUND(CAST(s AS DOUBLE), 6) AS score,
         |       CAST(ROW_NUMBER() OVER (ORDER BY s DESC, phrase)
         |            AS BIGINT) AS rnk
         |FROM top ORDER BY rnk""".stripMargin)
  }
  def taRake(s: SparkSession, dir: String): DataFrame =
    taRake(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Watermark detection (Kirchenbauer et al., "A Watermark for Large
    * Language Models", ICML 2023 — public): a green-list watermark
    * seeds a PRF with the PREVIOUS token and biases generation toward
    * the γ-fraction "green" vocabulary partition; the detector needs no
    * model — score each bigram position green iff
    * PRF(prev, tok) < γ, then test the green count against the
    * Binomial(T, γ) null:  z = (g − γT) / √(Tγ(1−γ)).  Natural text
    * sits near z = 0; watermarked (or green-list-replayed synthetic)
    * text drifts to large positive z — the filter a training pipeline
    * runs to keep model-generated text out of the corpus.
    *
    * PRF here: the md5 digest-draw family (engine-portable,
    * reproducible) — position scored green iff the first-15-hex draw of
    * md5('wm:' ‖ prev ‖ '¦' ‖ tok) mod 10⁶ < γ·10⁶ (integer-exact
    * threshold). `flagged` compares the 6-dp-rounded z against
    * `zThresh` so the boundary is engine-stable. Docs with < 2 tokens
    * have no scored positions and report z = 0, unflagged.
    *
    * Scale design: one explode over bigram positions into a per-doc
    * partial+final count — corpus-linear, map-side combinable, no
    * windows, no joins; the presentation ORDER BY is the only exchange
    * beyond the count's.
    */
  def taWatermark(docs: DataFrame, gammaPpm: Int = 250000,
      zThresh: Double = 4.0): DataFrame = {
    require(gammaPpm >= 1 && gammaPpm <= 999999,
      s"taWatermark: gammaPpm in [1, 999999], got $gammaPpm")
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__wm_docs")
    val g = gammaPpm / 1e6
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, split(text, ' ') AS toks FROM __wm_docs),
         |pos AS (
         |  SELECT doc_id, size(toks) AS n_tokens,
         |         explode(CASE WHEN size(toks) >= 2
         |           THEN transform(sequence(1, size(toks) - 1),
         |             i -> CASE WHEN pmod(CAST(conv(substring(md5(
         |                    concat('wm:', element_at(toks, i), '¦',
         |                           element_at(toks, i + 1))), 1, 15),
         |                    16, 10) AS BIGINT), 1000000L) < $gammaPpm
         |                  THEN 1 ELSE 0 END)
         |           ELSE array() END) AS green
         |  FROM tok),
         |agg AS (
         |  SELECT doc_id, MAX(n_tokens) AS n_tokens,
         |         COUNT(*) AS n_scored, SUM(green) AS n_green
         |  FROM pos GROUP BY doc_id),
         |full AS (
         |  SELECT t.doc_id, size(t.toks) AS n_tokens,
         |         COALESCE(a.n_scored, 0L) AS n_scored,
         |         COALESCE(a.n_green, 0L) AS n_green
         |  FROM tok t LEFT JOIN agg a ON a.doc_id = t.doc_id)
         |SELECT doc_id, n_tokens, n_scored, n_green,
         |       CASE WHEN n_scored = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE ROUND(CAST(n_green AS DOUBLE) / n_scored, 6)
         |       END AS green_frac,
         |       CASE WHEN n_scored = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE ROUND((n_green - $g * n_scored)
         |                       / sqrt(n_scored * $g * (1 - $g)), 6)
         |       END AS z,
         |       CASE WHEN n_scored = 0 THEN false
         |            ELSE ROUND((n_green - $g * n_scored)
         |                       / sqrt(n_scored * $g * (1 - $g)), 6)
         |                 >= ${zThresh}D END AS flagged
         |FROM full ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: every 9th document is REWRITTEN with a
    * green-list replay at ALTERNATE positions — each even-position token
    * is replaced by the first of its 8 deterministic variants (t, t_1 …
    * t_7, fallback t_7) whose bigram with the ORIGINAL previous token is
    * green. Seeding on the unmodified neighbor keeps the plant
    * closed-form (no sequential fold — the same comprehension runs in
    * DuckDB), and half-green + γ-random-other-half still drives z far
    * past the threshold on these document lengths; real watermarked
    * generation is sequential, but the DETECTOR above is identical
    * either way. Planted docs must flag; natural docs must not.
    */
  def taWatermark(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__wm_raw")
    val aug = s.sql(
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 9 = 0 THEN
         |    array_join(transform(split(text, ' '),
         |      (t, i) -> CASE WHEN (i + 1) % 2 = 0 THEN
         |        element_at(filter(concat(array(t),
         |          transform(sequence(1, 7),
         |            j -> concat(t, '_', CAST(j AS STRING)))),
         |          c -> pmod(CAST(conv(substring(md5(concat('wm:',
         |                 element_at(split(text, ' '), i), '¦', c)), 1, 15),
         |                 16, 10) AS BIGINT), 1000000L) < 250000
         |               OR c = concat(t, '_7')), 1)
         |      ELSE t END), ' ')
         |  ELSE text END AS text
         |FROM __wm_raw""".stripMargin)
    taWatermark(aug)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 —
    * public): rank tokens by PageRank over the corpus-wide word
    * co-occurrence graph (undirected edge between ADJACENT tokens,
    * distinct pairs) — the graph-centrality counterpart to [[taRake]]'s
    * degree/frequency scoring: a word is a keyword because important
    * words co-occur with it, recursively.
    *
    * Engine-exactness is the q33_pagerank discipline verbatim: SCALE =
    * 10^12 fixed-point integers, pr/outdeg integer division, damping as
    * (15·pr0) div 100 + (85·inflow) div 100, exactly 3 statically
    * unrolled iterations — every intermediate a BIGINT, so the DuckDB
    * oracle replays it bit-for-bit on STRING node keys (no word→id
    * hashing to collide or to diverge between engines).
    *
    * Scale design: ONE corpus pass builds the adjacent-pair relation
    * (explode + distinct); everything after runs on the VOCABULARY-sized
    * graph (edges ≤ distinct adjacent pairs), so the three iterations
    * are joins between vocabulary-sized relations — at 100 TB the
    * corpus pass dominates and the rank loop is noise. The top-k rides
    * the rank-window-limit family; the final ORDER BY is presentation.
    */
  def taTextRank(docs: DataFrame, k: Int = 30): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__tr_docs")
    val iter = (i: Int) =>
      s"""i$i AS (SELECT e.dst AS w, SUM(p.pr div p.outdeg) AS inflow
         |        FROM pr${i - 1} p JOIN edges e ON e.src = p.w
         |        GROUP BY e.dst),
         |pr$i AS (SELECT i.w, d.outdeg,
         |                CAST((SELECT (15 * (1000000000000L div n)) div 100
         |                      FROM nn)
         |                     + (85 * i.inflow) div 100 AS BIGINT) AS pr
         |         FROM i$i i JOIN deg d ON d.src = i.w)""".stripMargin
    // the corpus pass (pair explode + DISTINCT) feeds each of the three
    // unrolled iterations' edge joins — persisted so it runs once (the
    // ds_dsir inlined-CTE lesson; measured 21.7 s → 13.2 s at 500k docs).
    // Tracked: library callers release via Caches.releaseAll after
    // consuming the returned ranks; the harness does it per-query.
    // short-doc guard INSIDE the generator (the taWatermark idiom):
    // a bare `WHERE size(toks) >= 2` above the LATERAL VIEW only works
    // because Catalyst pushes the filter below Generate — semantics must
    // not depend on that, since sequence(1, size-1) on a short doc is a
    // DESCENDING [1, 0] and element_at(toks, 0) throws at eval
    Caches.track(s.sql(
      """SELECT DISTINCT least(p.a, p.b) AS u, greatest(p.a, p.b) AS v
        |FROM (SELECT split(text, ' ') AS toks FROM __tr_docs)
        |LATERAL VIEW explode(CASE WHEN size(toks) >= 2
        |  THEN transform(sequence(1, size(toks) - 1),
        |    i -> struct(element_at(toks, i) AS a,
        |                element_at(toks, i + 1) AS b))
        |  ELSE array() END) pt AS p
        |WHERE p.a <> p.b""".stripMargin))
      .createOrReplaceTempView("__tr_adj")
    s.sql(
      s"""WITH adj AS (SELECT * FROM __tr_adj),
         |edges AS (SELECT u AS src, v AS dst FROM adj
         |          UNION ALL SELECT v, u FROM adj),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |pr0 AS (SELECT src AS w, outdeg,
         |               (SELECT 1000000000000L div n FROM nn) AS pr
         |        FROM deg),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |top AS (SELECT w, pr FROM pr3 ORDER BY pr DESC, w LIMIT $k)
         |SELECT w AS word, pr,
         |       CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, w) AS BIGINT)
         |         AS rnk
         |FROM top ORDER BY rnk""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus, k = 30. */
  def taTextRank(s: SparkSession, dir: String): DataFrame =
    taTextRank(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** First-k BPE merge rounds (Sennrich et al. 2016) — the tokenizer-
    * training inner loop: count adjacent symbol pairs over the word-
    * frequency table, merge the most frequent pair corpus-wide, repeat.
    * Returns the merge table (round, lhs, rhs, weighted pair count, new
    * symbol) — the artifact a BPE tokenizer persists.
    *
    * The merge application is the CANONICAL greedy left-to-right pass,
    * as a fold over the symbol array (Spark `aggregate` HOF / DuckDB
    * `list_reduce`): merging consumes both symbols, so "a a a a" under
    * pair (a,a) yields [aa, aa] — a flat string replace() would consume
    * the separator and under-merge runs of repeats (measured: "aa a a").
    * Ties on pair count break lexicographically, so the table is
    * deterministic across engines.
    *
    * Scale design: the ONLY corpus pass is the word-count aggregate —
    * BPE trains on the frequency table, so every merge round runs on the
    * vocabulary-sized relation (pairs explode ~avg_word_len × vocab, agg
    * back to pair vocab; the 1-row argmax broadcasts into the rewrite).
    * Each round's encoding is materialized once (InlineCTE multi-
    * consumer lesson: round r's encoding feeds both the pair count and
    * round r+1's rewrite).
    */
  def taBpe(docs: DataFrame, merges: Int = 3): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__bpe_docs")
    Caches.pin(s.sql(
      """SELECT trim(regexp_replace(word, '(.)', '$1 ')) AS sym, n
        |FROM (SELECT t.w AS word, COUNT(*) AS n FROM __bpe_docs
        |      LATERAL VIEW explode(split(text, ' ')) t AS w
        |      GROUP BY t.w)""".stripMargin))
      .createOrReplaceTempView("__bpe_enc0")
    val merged = (1 to merges).map { r =>
      Caches.pin(s.sql(
        s"""SELECT element_at(split(pair, ' '), 1) AS lhs,
           |       element_at(split(pair, ' '), 2) AS rhs, cnt
           |FROM (
           |  SELECT p.pair, SUM(n) AS cnt FROM (
           |    SELECT split(sym, ' ') AS st, n FROM __bpe_enc${r - 1}
           |    WHERE size(split(sym, ' ')) >= 2)
           |  LATERAL VIEW explode(transform(sequence(1, size(st) - 1),
           |    i -> concat(element_at(st, i), ' ',
           |                element_at(st, i + 1)))) p AS pair
           |  GROUP BY p.pair)
           |ORDER BY cnt DESC, concat(lhs, ' ', rhs) LIMIT 1""".stripMargin))
        .createOrReplaceTempView(s"__bpe_top$r")
      Caches.pin(s.sql(
        s"""SELECT aggregate(split(e.sym, ' '), '', (acc, c) -> CASE
           |    WHEN acc = '' THEN c
           |    WHEN endswith(concat(' ', acc), concat(' ', t.lhs))
           |         AND c = t.rhs
           |    THEN concat(substr(acc, 1, length(acc) - length(t.lhs)),
           |                t.lhs, t.rhs)
           |    ELSE concat(acc, ' ', c) END) AS sym, e.n
           |FROM __bpe_enc${r - 1} e CROSS JOIN __bpe_top$r t""".stripMargin))
        .createOrReplaceTempView(s"__bpe_enc$r")
      s.sql(
        s"""SELECT $r AS merge_round, lhs, rhs, cnt AS pair_count,
           |       concat(lhs, rhs) AS new_symbol
           |FROM __bpe_top$r""".stripMargin)
    }
    merged.reduce(_ unionAll _).orderBy("merge_round")
  }
  def taBpe(s: SparkSession, dir: String): DataFrame =
    taBpe(Tables.load(s, dir, "documents").select("text"))

  /** Apply a LEARNED BPE merge table to the corpus, emitting each
    * document's token sequence — the encode step every training-data
    * pipeline runs between [[taChunk]] and ds_pack, consuming the
    * artifact [[taBpe]] trains. Merge rules apply in merge_round order;
    * each application is the same canonical greedy left-to-right pass as
    * training (merging consumes both symbols — see [[taBpe]]), so
    * train-then-encode round-trips exactly.
    *
    * Scale design: the corpus pays ONE explode + ONE doc_id reassembly
    * exchange; the merge loop itself runs on the DISTINCT-WORD relation
    * (vocabulary-sized, the taBpe discipline) with the merge table
    * carried as a broadcast 1-row ordered array (rules × word-length
    * fold work per vocab entry, never per corpus row). No driver-side
    * data: the merge table stays a relation.
    *
    * @param docs   (doc_id, text)
    * @param merges (merge_round, lhs, rhs, ...) — taBpe's output shape;
    *               rules apply in ascending merge_round order
    * @return (doc_id, n_tokens, tokens) — tokens space-joined, one row
    *         per document that has at least one word
    */
  def taBpeEncode(docs: DataFrame, merges: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__bpee_docs")
    merges.createOrReplaceTempView("__bpee_merges")
    s.sql(
      """WITH mt AS (
        |  SELECT array_sort(collect_list(struct(merge_round, lhs, rhs)))
        |         AS ms
        |  FROM __bpee_merges),
        |voc AS (
        |  SELECT DISTINCT t.w AS word FROM __bpee_docs
        |  LATERAL VIEW explode(split(text, ' ')) t AS w
        |  WHERE t.w <> ''),
        |enc AS (
        |  SELECT word,
        |    aggregate(ms, trim(regexp_replace(word, '(.)', '$1 ')),
        |      (acc0, m) -> aggregate(split(acc0, ' '), '', (acc, c) -> CASE
        |        WHEN acc = '' THEN c
        |        WHEN endswith(concat(' ', acc), concat(' ', m.lhs))
        |             AND c = m.rhs
        |        THEN concat(substr(acc, 1, length(acc) - length(m.lhs)),
        |                    m.lhs, m.rhs)
        |        ELSE concat(acc, ' ', c) END)) AS sym
        |  FROM voc CROSS JOIN mt),
        |tok AS (
        |  SELECT doc_id, p.pos AS pos, p.w AS w FROM __bpee_docs
        |  LATERAL VIEW posexplode(split(text, ' ')) p AS pos, w
        |  WHERE p.w <> ''),
        |d AS (
        |  SELECT doc_id,
        |         concat_ws(' ', transform(
        |           array_sort(collect_list(struct(pos, sym))),
        |           t -> t.sym)) AS tokens
        |  FROM tok JOIN enc ON enc.word = tok.w
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |       CAST(size(split(tokens, ' ')) AS BIGINT) AS n_tokens,
        |       tokens
        |FROM d ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: a PLANTED 3-rule merge table over the
    * testdata alphabet — (t,a), (ta,b), (l,e) — so the DuckDB oracle can
    * unroll the same rules as literal chained folds (the taBpe pattern).
    * The train-then-encode composition is spec-locked separately
    * (taBpe's learned table fed straight in).
    */
  def taBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = s.sql(
      """SELECT * FROM VALUES (1, 't', 'a'), (2, 'ta', 'b'), (3, 'l', 'e')
        |AS t(merge_round, lhs, rhs)""".stripMargin)
    taBpeEncode(
      Tables.load(s, dir, "documents").select("doc_id", "text"), merges)
  }

  /** OCR/mojibake garble detection — the "garbled text" filter class of
    * the C4/RefinedWeb cleaning pipelines (distinct from the fluency
    * heuristics in [[taQuality]]/[[taGopher]]): scans for the artifacts
    * BROKEN extraction produces rather than low-quality prose. Signals
    * per document: U+FFFD replacement characters (charset decode
    * failure), lowercase→uppercase transitions inside a word (OCR case
    * noise — near-zero in real prose), the longest consonant run
    * (keyboard mash / binary-as-text), and the alphanumeric+space
    * fraction. `garbled` fires on repl_chars > 0 OR midcap_runs >= 3 OR
    * max_consonant_run >= 8 — each threshold far above natural text
    * (the corpus maxes at run=3, zero midcaps, zero U+FFFD).
    *
    * Scale design: a narrow per-row string transform — whole-stage
    * codegen, no join, no aggregate; the only exchange is the
    * presentation ORDER BY.
    */
  def taGarble(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__gb_docs")
    s.sql(
      """SELECT doc_id,
        |       length(text) AS n_chars,
        |       length(text) - length(replace(text, '�', ''))
        |         AS repl_chars,
        |       size(regexp_extract_all(text, '[a-z][A-Z]', 0))
        |         AS midcap_runs,
        |       COALESCE(array_max(transform(
        |         regexp_extract_all(lower(text),
        |           '[bcdfghjklmnpqrstvwxz]+', 0),
        |         x -> length(x))), 0) AS max_consonant_run,
        |       CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE)
        |            ELSE ROUND((length(text) - length(regexp_replace(text,
        |                   '[a-zA-Z0-9 ]', '')))
        |                 / CAST(length(text) AS DOUBLE), 6) END
        |         AS nonalnum_frac,
        |       length(text) - length(replace(text, '�', '')) > 0
        |         OR size(regexp_extract_all(text, '[a-z][A-Z]', 0)) >= 3
        |         OR COALESCE(array_max(transform(
        |              regexp_extract_all(lower(text),
        |                '[bcdfghjklmnpqrstvwxz]+', 0),
        |              x -> length(x))), 0) >= 8
        |         AS garbled
        |FROM __gb_docs ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: corpus ∪ corrupted twins, each twin
    * exercising ONE signal by doc_id % 3 — appended U+FFFD run (decode
    * failure), an `xXxXxXxX` case-noise word, or a 10-consonant mash.
    * The detector must flag exactly the twins (naturals are clean by
    * measurement: zero uppercase, zero U+FFFD, max consonant run 3).
    */
  def taGarble(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__gb_base")
    taGarble(s.sql(
      s"""SELECT doc_id, text FROM __gb_base
         |UNION ALL
         |SELECT doc_id + ${graft.ops.Dedup.TwinIdOffset} AS doc_id,
         |       concat(text, ' ', CASE CAST(doc_id % 3 AS INT)
         |         WHEN 0 THEN '����'
         |         WHEN 1 THEN 'xXxXxXxX'
         |         ELSE 'bcdfghjklm' END) AS text
         |FROM __gb_base""".stripMargin))
  }

  /** Sentiment lexicon shared by the Spark query and the DuckDB oracle:
    * a small hand-rolled integer-valence word list (the AFINN pattern —
    * Nielsen 2011, public — with our own entries so the corpus's actual
    * vocabulary scores). Integer valences keep every per-doc sum exact.
    */
  private val sentimentLexicon: Seq[(String, Int)] = Seq(
    "fast" -> 2, "slow" -> -2, "big" -> 1, "small" -> -1, "dup" -> -3,
    "good" -> 3, "bad" -> -3, "great" -> 3, "terrible" -> -3,
    "error" -> -2, "clean" -> 2, "broken" -> -3, "stable" -> 2,
    "crash" -> -4, "optimal" -> 3, "stale" -> -1)

  private def sentimentCase(tokVar: String): String =
    "CASE " + sentimentLexicon.map { case (w, v) =>
      s"WHEN $tokVar = '$w' THEN ${v}L"
    }.mkString(" ") + " ELSE 0L END"

  private val sentimentInList: String =
    sentimentLexicon.map(w => s"'${w._1}'").mkString(", ")

  /** Lexicon sentiment scoring (the AFINN family): per document, the
    * count of lexicon hits, their integer valence sum, the mean valence,
    * and a pos/neg/neu label — the cheapest of the classic text-quality
    * signals and the standard pre-filter before model-based raters.
    *
    * Engine-exactness: hits and valence sum are pure integers (a HOF
    * fold over the token array — no float enters until the one terminal
    * ROUND of the mean). Zero-hit docs emit (0, 0, 0.0, 'neu') by
    * declaration.
    *
    * Scale design: a narrow single-pass HOF over the token array — no
    * Generate, no join (the lexicon is compiled INTO the expression),
    * no shuffle except the presentation ORDER BY. At 100 TB this is a
    * pruned-column parquet scan inside one whole-stage-codegen span.
    */
  def taSentiment(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__sent_docs")
    s.sql(
      s"""WITH sc AS (
         |  SELECT doc_id,
         |         size(filter($toks, t -> t IN ($sentimentInList)))
         |           AS n_hits,
         |         aggregate($toks, 0L,
         |           (acc, t) -> acc + ${sentimentCase("t")}) AS sum_val
         |  FROM __sent_docs)
         |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits, sum_val,
         |       CASE WHEN n_hits = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE ROUND(CAST(sum_val AS DOUBLE) / n_hits, 6)
         |       END AS mean_val,
         |       CASE WHEN sum_val > 0 THEN 'pos'
         |            WHEN sum_val < 0 THEN 'neg'
         |            ELSE 'neu' END AS label
         |FROM sc ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata documents. */
  def taSentiment(s: SparkSession, dir: String): DataFrame =
    taSentiment(Tables.load(s, dir, "documents"))

  /** Tokenizer fertility audit per language (Rust et al. 2021; Petrov
    * et al. 2023, "tokenizer unfairness" — public): apply a LEARNED BPE
    * merge table ([[taBpe]]'s output shape, the [[taBpeEncode]] greedy
    * pass) and roll up tokens-per-word (fertility) and chars-per-token
    * per language — the number that decides which languages pay 2× the
    * context budget for the same text, read before fixing a sampling
    * mix on token counts.
    *
    * Engine-exactness: the encode fold is [[taBpeEncode]]'s verbatim;
    * counts are integers; the two ratios are one terminal ROUND each.
    *
    * Scale design: the merge fold runs on the DISTINCT-WORD relation
    * (vocabulary-sized); the corpus pays one explode joined back to the
    * vocabulary token counts (broadcast at any real vocab/corpus
    * ratio); output is languages-sized.
    */
  def taFertility(docs: DataFrame, merges: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__fert_docs")
    merges.createOrReplaceTempView("__fert_merges")
    s.sql(
      """WITH mt AS (
        |  SELECT array_sort(collect_list(struct(merge_round, lhs, rhs)))
        |         AS ms
        |  FROM __fert_merges),
        |voc AS (
        |  SELECT DISTINCT t.w AS word FROM __fert_docs
        |  LATERAL VIEW explode(split(text, ' ')) t AS w
        |  WHERE t.w <> ''),
        |enc AS (
        |  SELECT word,
        |    size(split(aggregate(ms,
        |      trim(regexp_replace(word, '(.)', '$1 ')),
        |      (acc0, m) -> aggregate(split(acc0, ' '), '', (acc, c) -> CASE
        |        WHEN acc = '' THEN c
        |        WHEN endswith(concat(' ', acc), concat(' ', m.lhs))
        |             AND c = m.rhs
        |        THEN concat(substr(acc, 1, length(acc) - length(m.lhs)),
        |                    m.lhs, m.rhs)
        |        ELSE concat(acc, ' ', c) END)), ' ')) AS nt
        |  FROM voc CROSS JOIN mt),
        |tok AS (
        |  SELECT lang, t.w AS w FROM __fert_docs
        |  LATERAL VIEW explode(split(text, ' ')) t AS w
        |  WHERE t.w <> ''),
        |j AS (
        |  SELECT tok.lang, length(tok.w) AS wc, e.nt
        |  FROM tok JOIN enc e ON e.word = tok.w)
        |SELECT lang, COUNT(*) AS n_words,
        |       CAST(SUM(wc) AS BIGINT) AS n_chars,
        |       CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |       ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS fertility,
        |       ROUND(CAST(SUM(wc) AS DOUBLE) / SUM(nt), 6)
        |         AS chars_per_token
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** The oracle-checked form: the fixed 3-rule merge table (the
    * ta_bpe_encode fixture) over the documents corpus.
    */
  def taFertility(s: SparkSession, dir: String): DataFrame = {
    val merges = s.sql(
      """SELECT * FROM VALUES (1, 't', 'a'), (2, 'ta', 'b'), (3, 'l', 'e')
        |AS t(merge_round, lhs, rhs)""".stripMargin)
    taFertility(
      Tables.load(s, dir, "documents").select("doc_id", "lang", "text"),
      merges)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_fertility" -> ((s: SparkSession, dir: String) => taFertility(s, dir)),
    "ta_sentiment" -> ((s: SparkSession, dir: String) => taSentiment(s, dir)),
    "ta_garble" -> ((s: SparkSession, dir: String) => taGarble(s, dir)),
    "ta_watermark" -> ((s: SparkSession, dir: String) => taWatermark(s, dir)),
    "ta_textrank" -> ((s: SparkSession, dir: String) => taTextRank(s, dir)),
    "ta_rake" -> ((s: SparkSession, dir: String) => taRake(s, dir)),
    "ta_langconf" -> ((s: SparkSession, dir: String) => taLangConf(s, dir)),
    "ta_bpe" -> ((s: SparkSession, dir: String) => taBpe(s, dir)),
    "ta_bpe_encode" -> ((s: SparkSession, dir: String) => taBpeEncode(s, dir)),
    "ta_bm25" -> ((s: SparkSession, dir: String) => taBm25(s, dir)),
    "ta_logodds" -> ((s: SparkSession, dir: String) => taLogOdds(s, dir)),
    "ta_nonascii" -> ((s: SparkSession, dir: String) => taNonAscii(s, dir)),
    "ta_vocabjaccard" -> ((s: SparkSession, dir: String) => taVocabJaccard(s, dir)),
    "ta_codefrac" -> ((s: SparkSession, dir: String) => taCodeFrac(s, dir)),
    "ta_rarity" -> ((s: SparkSession, dir: String) => taRarity(s, dir)),
    "ta_condent" -> ((s: SparkSession, dir: String) => taCondEntropy(s, dir)),
    "ta_checksum" -> ((s: SparkSession, dir: String) => taChecksum(s, dir)),
    "ta_novelty" -> ((s: SparkSession, dir: String) => taNovelty(s, dir)),
    "ta_heaps" -> ((s: SparkSession, dir: String) => taHeaps(s, dir)),
    "ta_burstiness" -> ((s: SparkSession, dir: String) => taBurstiness(s, dir)),
    "ta_jsd" -> ((s: SparkSession, dir: String) => taJsd(s, dir)),
    "ta_winnow" -> ((s: SparkSession, dir: String) => taWinnow(s, dir)),
    "ta_colloc" -> ((s: SparkSession, dir: String) => taColloc(s, dir)),
    "ta_vocab" -> ((s: SparkSession, dir: String) => taVocabCoverage(s, dir)),
    "ta_zipf" -> ((s: SparkSession, dir: String) => taZipf(s, dir)),
    "ta_hashembed" -> ((s: SparkSession, dir: String) => taHashEmbed(s, dir)),
    "ta_classify" -> ((s: SparkSession, dir: String) => taClassify(s, dir)),
    "ta_ngram_top" -> ((s: SparkSession, dir: String) => taNgramTop(s, dir)),
    "ta_entropy" -> ((s: SparkSession, dir: String) => taEntropy(s, dir)),
    "ta_perplexity" -> ((s: SparkSession, dir: String) => taPerplexity(s, dir)),
    "ta_tokens" -> (taTokens _),
    "ta_quality" -> (taQuality _),
    "ta_langid" -> (taLangid _),
    "ta_fingerprint" -> (taFingerprint _),
    "ta_df" -> (taDf _),
    "ta_tfidf" -> (taTfidf _),
    "ta_derep" -> ((s: SparkSession, dir: String) => taDerep(s, dir)),
    "ta_gopher" -> ((s: SparkSession, dir: String) => taGopher(s, dir)),
    "ta_c4filter" -> ((s: SparkSession, dir: String) => taC4Filter(s, dir)),
    "ta_bigram_ppl" -> ((s: SparkSession, dir: String) => taBigramPpl(s, dir)),
    "ta_readability" -> ((s: SparkSession, dir: String) => taReadability(s, dir)),
    "ta_ppl_foreign" -> ((s: SparkSession, dir: String) => taPplForeign(s, dir)))

  private val sqlToks = "string_split(text, ' ')"

  /** DuckDB twin of [[taBpe]]'s unrolled merge rounds. */
  private lazy val taBpeOracle: String = {
    val rounds = (1 to 3).map { r =>
      s"p$r AS (SELECT pair, SUM(n) AS cnt FROM (" +
        "SELECT unnest([st[i] || ' ' || st[i+1] " +
        "FOR i IN range(1, len(st))]) AS pair, n " +
        s"FROM (SELECT string_split(sym, ' ') AS st, n FROM e${r - 1})) " +
        "GROUP BY pair), " +
        s"t$r AS (SELECT string_split(pair, ' ')[1] AS lhs, " +
        "string_split(pair, ' ')[2] AS rhs, CAST(cnt AS BIGINT) AS cnt " +
        s"FROM p$r ORDER BY cnt DESC, pair LIMIT 1), " +
        s"e$r AS (SELECT list_reduce(string_split(e.sym, ' '), " +
        "(acc, c) -> CASE " +
        "WHEN ends_with(' ' || acc, ' ' || t.lhs) AND c = t.rhs " +
        "THEN substr(acc, 1, length(acc) - length(t.lhs)) " +
        "|| t.lhs || t.rhs " +
        "ELSE acc || ' ' || c END) AS sym, e.n " +
        s"FROM e${r - 1} e CROSS JOIN t$r t)"
    }.mkString(", ")
    val out = (1 to 3).map { r =>
      s"SELECT $r AS merge_round, lhs, rhs, cnt AS pair_count, " +
        s"lhs || rhs AS new_symbol FROM t$r"
    }.mkString(" UNION ALL ")
    "WITH wc AS (SELECT w AS word, COUNT(*) AS n FROM " +
      s"(SELECT unnest($sqlToks) AS w FROM documents) GROUP BY w), " +
      "e0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) " +
      "AS sym, n FROM wc), " +
      rounds + " " + out + " ORDER BY merge_round"
  }

  /** DuckDB twin of the planted-rule [[taBpeEncode]] form: the three
    * fixed rules unroll as chained list_reduce folds (the taBpe pattern;
    * DuckDB's fold seeds with the first element, so it skips Spark's
    * empty-accumulator branch — same result).
    */
  private lazy val taBpeEncodeOracle: String = {
    val rules = Seq(("t", "a"), ("ta", "b"), ("l", "e"))
    val folds = rules.zipWithIndex.map { case ((lhs, rhs), i) =>
      s"e${i + 1} AS (SELECT word, list_reduce(string_split(sym, ' '), " +
        "(acc, c) -> CASE " +
        s"WHEN ends_with(' ' || acc, ' $lhs') AND c = '$rhs' " +
        s"THEN substr(acc, 1, length(acc) - ${lhs.length}) " +
        s"|| '$lhs' || '$rhs' " +
        "ELSE acc || ' ' || c END) AS sym " +
        s"FROM e$i)"
    }.mkString(", ")
    "WITH voc AS (SELECT DISTINCT w AS word FROM " +
      s"(SELECT unnest($sqlToks) AS w FROM documents) WHERE w <> ''), " +
      "e0 AS (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) " +
      "AS sym FROM voc), " + folds + ", " +
      "tok AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM documents, " +
      s"LATERAL (SELECT unnest($sqlToks) AS w, " +
      s"generate_subscripts($sqlToks, 1) AS pos) u WHERE u.w <> ''), " +
      s"d AS (SELECT doc_id, string_agg(sym, ' ' ORDER BY pos) AS tokens " +
      s"FROM tok JOIN e${rules.size} e ON e.word = tok.w GROUP BY doc_id) " +
      "SELECT doc_id, CAST(len(string_split(tokens, ' ')) AS BIGINT) " +
      "AS n_tokens, tokens FROM d ORDER BY doc_id"
  }

  private lazy val taFertilityOracle: String = {
    val rules = Seq(("t", "a"), ("ta", "b"), ("l", "e"))
    val folds = rules.zipWithIndex.map { case ((lhs, rhs), i) =>
      s"e${i + 1} AS (SELECT word, list_reduce(string_split(sym, ' '), " +
        "(acc, c) -> CASE " +
        s"WHEN ends_with(' ' || acc, ' $lhs') AND c = '$rhs' " +
        s"THEN substr(acc, 1, length(acc) - ${lhs.length}) " +
        s"|| '$lhs' || '$rhs' " +
        "ELSE acc || ' ' || c END) AS sym " +
        s"FROM e$i)"
    }.mkString(", ")
    "WITH voc AS (SELECT DISTINCT w AS word FROM " +
      s"(SELECT unnest($sqlToks) AS w FROM documents) WHERE w <> ''), " +
      "e0 AS (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) " +
      "AS sym FROM voc), " + folds + ", " +
      s"ecnt AS (SELECT word, len(string_split(sym, ' ')) AS nt " +
      s"FROM e${rules.size}), " +
      "tok AS (SELECT lang, u.w AS w FROM documents, " +
      s"LATERAL (SELECT unnest($sqlToks) AS w) u WHERE u.w <> ''), " +
      "j AS (SELECT tok.lang, length(tok.w) AS wc, e.nt " +
      "FROM tok JOIN ecnt e ON e.word = tok.w) " +
      "SELECT lang, COUNT(*) AS n_words, " +
      "CAST(SUM(wc) AS BIGINT) AS n_chars, " +
      "CAST(SUM(nt) AS BIGINT) AS n_tokens, " +
      "ROUND(SUM(nt)::DOUBLE / COUNT(*), 6) AS fertility, " +
      "ROUND(SUM(wc)::DOUBLE / SUM(nt), 6) AS chars_per_token " +
      "FROM j GROUP BY lang ORDER BY lang"
  }

  val oracleSql: Map[String, String] = Map(
    "ta_fertility" -> taFertilityOracle,
    "ta_sentiment" -> {
      val orChain = sentimentLexicon.map(w => s"t = '${w._1}'")
        .mkString(" OR ")
      val caseExpr = "CASE " + sentimentLexicon.map { case (w, v) =>
        s"WHEN t = '$w' THEN $v"
      }.mkString(" ") + " ELSE 0 END"
      s"WITH sc AS (SELECT doc_id, " +
        s"CAST(len(list_filter($sqlToks, t -> $orChain)) AS BIGINT) " +
        "AS n_hits, " +
        s"CAST(COALESCE(list_sum(list_transform($sqlToks, " +
        s"t -> $caseExpr)), 0) AS BIGINT) AS sum_val FROM documents) " +
        "SELECT doc_id, n_hits, sum_val, " +
        "CASE WHEN n_hits = 0 THEN 0.0::DOUBLE " +
        "ELSE ROUND(sum_val::DOUBLE / n_hits, 6) END AS mean_val, " +
        "CASE WHEN sum_val > 0 THEN 'pos' WHEN sum_val < 0 THEN 'neg' " +
        "ELSE 'neu' END AS label FROM sc ORDER BY doc_id"
    },
    "ta_garble" ->
      (s"""WITH corpus AS ( """ +
        """SELECT doc_id, text FROM documents """ +
        s"""UNION ALL SELECT doc_id + ${graft.ops.Dedup.TwinIdOffset}, """ +
        """text || ' ' || CASE (doc_id % 3)::INT """ +
        """WHEN 0 THEN '����' WHEN 1 THEN 'xXxXxXxX' """ +
        """ELSE 'bcdfghjklm' END FROM documents) """ +
        """SELECT doc_id, length(text) AS n_chars, """ +
        """length(text) - length(replace(text, '�', '')) AS repl_chars, """ +
        """len(regexp_extract_all(text, '[a-z][A-Z]'))::INT """ +
        """AS midcap_runs, """ +
        """COALESCE(list_max(list_transform(regexp_extract_all(""" +
        """lower(text), '[bcdfghjklmnpqrstvwxz]+'), """ +
        """x -> length(x))), 0)::INT AS max_consonant_run, """ +
        """CASE WHEN length(text) = 0 THEN 0.0::DOUBLE """ +
        """ELSE ROUND((length(text) - length(regexp_replace(text, """ +
        """'[a-zA-Z0-9 ]', '', 'g'))) / length(text)::DOUBLE, 6) END """ +
        """AS nonalnum_frac, """ +
        """length(text) - length(replace(text, '�', '')) > 0 """ +
        """OR len(regexp_extract_all(text, '[a-z][A-Z]')) >= 3 """ +
        """OR COALESCE(list_max(list_transform(regexp_extract_all(""" +
        """lower(text), '[bcdfghjklmnpqrstvwxz]+'), """ +
        """x -> length(x))), 0) >= 8 AS garbled """ +
        """FROM corpus ORDER BY doc_id"""),
    "ta_bpe_encode" -> taBpeEncodeOracle,
    "ta_classify" ->
      ("WITH w AS (SELECT i AS feat, ((i * 37) % 21 - 10) / 10.0 AS w " +
        "FROM generate_series(0, 255) t(i)), " +
        s"tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents), " +
        "emb AS (SELECT doc_id, " +
        "(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 " +
        "+ strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS feat, " +
        "COUNT(*) AS n FROM tk GROUP BY 1, 2), " +
        "sc AS (SELECT e.doc_id, COUNT(*) AS n_feats, " +
        "SUM(CAST(ROUND(w.w * ln(1 + e.n), 9) AS DECIMAL(28,9))) AS z " +
        "FROM emb e JOIN w ON w.feat = e.feat GROUP BY e.doc_id) " +
        "SELECT doc_id, n_feats, ROUND(z::DOUBLE, 6) AS z, " +
        "ROUND(1.0 / (1.0 + exp(-(z::DOUBLE))), 6) AS score, " +
        "ROUND(z::DOUBLE, 6) >= 0.0 AS keep " +
        "FROM sc ORDER BY doc_id"),
    "ta_watermark" -> {
      def prf(prev: String, c: String) =
        s"('0x' || substr(md5('wm:' || $prev || '¦' || $c), 1, 15))::BIGINT" +
          " % 1000000 < 250000"
      s"""WITH raw AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks
         |  FROM documents),
         |aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN
         |      array_to_string([CASE WHEN p % 2 = 0 THEN
         |          COALESCE([c FOR c IN
         |            list_concat([toks[p]],
         |              [toks[p] || '_' || j::VARCHAR
         |               FOR j IN generate_series(1, 7)])
         |            IF ${prf("toks[p-1]", "c")}][1],
         |            toks[p] || '_7')
         |        ELSE toks[p] END
         |        FOR p IN generate_series(1, len(toks))], ' ')
         |    ELSE text END AS text
         |  FROM raw),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
         |sc AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |         CASE WHEN len(toks) >= 2 THEN len(toks) - 1
         |              ELSE 0 END AS n_scored,
         |         CASE WHEN len(toks) >= 2 THEN
         |           list_sum([CASE WHEN ${prf("toks[i]", "toks[i+1]")}
         |                     THEN 1 ELSE 0 END
         |                     FOR i IN generate_series(1, len(toks) - 1)])
         |         ELSE 0 END AS n_green
         |  FROM tok)
         |SELECT doc_id, n_tokens, n_scored::BIGINT AS n_scored,
         |       n_green::BIGINT AS n_green,
         |       CASE WHEN n_scored = 0 THEN 0.0::DOUBLE
         |            ELSE ROUND(n_green::DOUBLE / n_scored, 6)
         |       END AS green_frac,
         |       CASE WHEN n_scored = 0 THEN 0.0::DOUBLE
         |            ELSE ROUND((n_green - 0.25 * n_scored)
         |                       / sqrt(n_scored * 0.25 * (1 - 0.25)), 6)
         |       END AS z,
         |       CASE WHEN n_scored = 0 THEN false
         |            ELSE ROUND((n_green - 0.25 * n_scored)
         |                       / sqrt(n_scored * 0.25 * (1 - 0.25)), 6)
         |                 >= 4.0 END AS flagged
         |FROM sc ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    "ta_textrank" -> {
      val iter = (i: Int) =>
        s"""i$i AS (SELECT e.dst AS w, SUM(p.pr // p.outdeg) AS inflow
           |        FROM pr${i - 1} p JOIN edges e ON e.src = p.w
           |        GROUP BY e.dst),
           |pr$i AS (SELECT i.w, d.outdeg,
           |                ((SELECT (15 * (1000000000000 // n)) // 100
           |                  FROM nn)
           |                 + (85 * i.inflow) // 100)::BIGINT AS pr
           |         FROM i$i i JOIN deg d ON d.src = i.w)""".stripMargin
      s"""WITH tok AS (
         |  SELECT $sqlToks AS toks FROM documents),
         |adj AS (
         |  SELECT DISTINCT least(p.a, p.b) AS u, greatest(p.a, p.b) AS v
         |  FROM (SELECT unnest([{'a': toks[i], 'b': toks[i + 1]}
         |                       FOR i IN generate_series(1, len(toks) - 1)])
         |          AS p
         |        FROM tok WHERE len(toks) >= 2)
         |  WHERE p.a <> p.b),
         |edges AS (SELECT u AS src, v AS dst FROM adj
         |          UNION ALL SELECT v, u FROM adj),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |pr0 AS (SELECT src AS w, outdeg,
         |               (SELECT 1000000000000 // n FROM nn) AS pr FROM deg),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |top AS (SELECT w, pr FROM pr3 ORDER BY pr DESC, w LIMIT 30)
         |SELECT w AS word, pr,
         |       ROW_NUMBER() OVER (ORDER BY pr DESC, w) AS rnk
         |FROM top ORDER BY rnk""".stripMargin.replaceAll("\n", " ")
    },
    "ta_rake" -> {
      val stopList = RakeStops.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, u.pos AS pos, u.w AS w FROM documents,
         |  LATERAL (SELECT unnest($sqlToks) AS w,
         |           generate_subscripts($sqlToks, 1) AS pos) u),
         |cw AS (
         |  SELECT doc_id, pos, w,
         |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id
         |                                  ORDER BY pos) AS grp
         |  FROM tok WHERE w NOT IN ($stopList) AND w <> ''),
         |cw2 AS (
         |  SELECT doc_id, pos, w, grp,
         |         COUNT(*) OVER (PARTITION BY doc_id, grp) AS len
         |  FROM cw),
         |cw3 AS (SELECT * FROM cw2 WHERE len <= 4),
         |ph AS (
         |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM cw3 GROUP BY doc_id, grp),
         |wstat AS (
         |  SELECT w, COUNT(*) AS freq, SUM(len) AS deg
         |  FROM cw3 GROUP BY w),
         |occ AS (SELECT phrase, COUNT(*) AS n_occ FROM ph GROUP BY phrase),
         |pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
         |       FROM occ),
         |sc AS (
         |  SELECT pw.phrase,
         |         SUM(CAST(ROUND(ws.deg::DOUBLE / ws.freq, 9)
         |                  AS DECIMAL(28,9))) AS s
         |  FROM pw JOIN wstat ws ON ws.w = pw.w GROUP BY pw.phrase),
         |top AS (
         |  SELECT sc.phrase, o.n_occ, sc.s
         |  FROM sc JOIN occ o ON o.phrase = sc.phrase
         |  ORDER BY sc.s DESC, sc.phrase LIMIT 20)
         |SELECT phrase, n_occ,
         |       len(string_split(phrase, ' ')) AS n_words,
         |       ROUND(s::DOUBLE, 6) AS score,
         |       ROW_NUMBER() OVER (ORDER BY s DESC, phrase) AS rnk
         |FROM top ORDER BY rnk""".stripMargin.replaceAll("\n", " ")
    },
    "ta_bpe" -> taBpeOracle,
    "ta_bm25" ->
      (s"WITH tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM " +
        s"(SELECT doc_id, unnest($sqlToks) AS w FROM documents) " +
        "GROUP BY doc_id, w), " +
        "dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id), " +
        "st AS (SELECT COUNT(*) AS n, SUM(dl)::DOUBLE / COUNT(*) AS avgdl " +
        "FROM dl), " +
        "df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
        "qt AS (SELECT doc_id AS query_id, w FROM tf WHERE doc_id < 5), " +
        "sc AS (SELECT q.query_id, t.doc_id AS neighbor_id, " +
        "COUNT(*) AS n_terms, " +
        "SUM(CAST(ROUND(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) " +
        "* (t.tf * 2.2) " +
        "/ (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 9) " +
        "AS DECIMAL(28,9))) AS score " +
        "FROM qt q JOIN tf t ON t.w = q.w AND t.doc_id <> q.query_id " +
        "JOIN df ON df.w = t.w JOIN dl ON dl.doc_id = t.doc_id " +
        "CROSS JOIN st GROUP BY q.query_id, t.doc_id) " +
        "SELECT query_id, neighbor_id, n_terms, " +
        "ROUND(score::DOUBLE, 6) AS score, rnk " +
        "FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk FROM sc) " +
        "WHERE rnk <= 10 ORDER BY query_id, rnk"),
    "ta_logodds" ->
      (s"""WITH tok AS (
         |  SELECT source, unnest($sqlToks) AS token FROM documents),
         |y AS (SELECT source, token, COUNT(*) AS y
         |      FROM tok GROUP BY source, token),
         |g AS (SELECT token, COUNT(*) AS g FROM tok GROUP BY token),
         |ni AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
         |tot AS (SELECT COUNT(*) AS nn FROM tok),
         |m AS (
         |  SELECT y.source, y.token, y.y, g.g, g.g - y.y AS yr, ni.n,
         |         tot.nn - ni.n AS nr, tot.nn
         |  FROM y JOIN g ON g.token = y.token
         |  JOIN ni ON ni.source = y.source CROSS JOIN tot),
         |sc AS (
         |  SELECT source, token, y,
         |         ROUND((ln((y + 0.01 * g)
         |                   / (n + 0.01 * nn - y - 0.01 * g))
         |              - ln((yr + 0.01 * g)
         |                   / (nr + 0.01 * nn - yr - 0.01 * g)))
         |             / sqrt(1.0 / (y + 0.01 * g)
         |                    + 1.0 / (yr + 0.01 * g)), 6) AS z
         |  FROM m)
         |SELECT source, token, y AS n_tok, z, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |            ORDER BY z DESC, token) AS rnk FROM sc)
         |WHERE rnk <= 5
         |ORDER BY source, rnk""".stripMargin.replaceAll("\n", " ")),
    "ta_vocabjaccard" ->
      ("WITH v AS (SELECT DISTINCT source, " +
        "unnest(string_split(text, ' ')) AS w FROM documents), " +
        "sz AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source), " +
        "inter AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "COUNT(*) AS inter FROM v a JOIN v b " +
        "ON b.w = a.w AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT i.src_a, i.src_b, i.inter, " +
        "za.n + zb.n - i.inter AS uni, " +
        "ROUND(i.inter::DOUBLE / (za.n + zb.n - i.inter), 6) AS jaccard " +
        "FROM inter i JOIN sz za ON za.source = i.src_a " +
        "JOIN sz zb ON zb.source = i.src_b " +
        "ORDER BY i.src_a, i.src_b"),
    "ta_nonascii" ->
      ("WITH aug AS (SELECT source, CASE WHEN doc_id % 11 = 0 " +
        "THEN concat(text, ' café naïve résumé') ELSE text END " +
        "AS text FROM documents), " +
        "d AS (SELECT source, length(text) AS nchar, " +
        "strlen(text) AS nbyte FROM aug) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "SUM(CASE WHEN nbyte > nchar THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_nonascii, " +
        "SUM(nbyte - nchar)::BIGINT AS extra_bytes, " +
        "ROUND(SUM(nbyte - nchar)::DOUBLE / SUM(nbyte), 6) " +
        "AS byte_overhead " +
        "FROM d GROUP BY source ORDER BY source"),
    "ta_codefrac" ->
      ("WITH aug AS (SELECT source, CASE WHEN doc_id % 9 = 0 " +
        "THEN concat(text, ' def run(x); return {x};') ELSE text END " +
        "AS text FROM documents), " +
        "d AS (SELECT source, " +
        "len(list_filter(string_split(text, ' '), " +
        "t -> t IN ('def', 'return', 'class', 'import', 'void', 'int'))) " +
        "AS kw, " +
        "length(text) AS nc, " +
        "length(text) - length(regexp_replace(text, '[{}();=<>]', '', 'g')) " +
        "AS sym FROM aug) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "SUM(CASE WHEN kw >= 2 OR sym * 20 > nc THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_code, " +
        "ROUND(SUM(CASE WHEN kw >= 2 OR sym * 20 > nc THEN 1 ELSE 0 END)" +
        "::DOUBLE / COUNT(*), 6) AS code_frac " +
        "FROM d GROUP BY source ORDER BY source"),
    "ta_rarity" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS w FROM documents), " +
        "nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok), " +
        "df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w) " +
        "SELECT t.doc_id, COUNT(*) AS n_tokens, " +
        "ROUND(CAST(SUM(CAST(ROUND(log2(nd.n::DOUBLE) - log2(df.df::DOUBLE), 9) " +
        "AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS rarity " +
        "FROM tok t CROSS JOIN nd JOIN df ON df.w = t.w " +
        "GROUP BY t.doc_id ORDER BY t.doc_id"),
    "ta_condent" ->
      (s"WITH big AS (SELECT source, w1, w2, COUNT(*) AS c FROM " +
        s"(SELECT source, toks[i] AS w1, toks[i+1] AS w2 FROM " +
        s"(SELECT source, $sqlToks AS toks FROM documents), " +
        "LATERAL (SELECT unnest(range(1, len(toks))) AS i)) " +
        "GROUP BY source, w1, w2), " +
        "firsts AS (SELECT source, w1, SUM(c) AS c FROM big " +
        "GROUP BY source, w1), " +
        "bt AS (SELECT source, SUM(c)::BIGINT AS b FROM big GROUP BY source), " +
        "ps AS (SELECT source, SUM(CAST(ROUND(c::DOUBLE * log2(c::DOUBLE), 9) " +
        "AS DECIMAL(28,9))) AS s2 FROM big GROUP BY source), " +
        "fs AS (SELECT source, SUM(CAST(ROUND(c::DOUBLE * log2(c::DOUBLE), 9) " +
        "AS DECIMAL(28,9))) AS s1 FROM firsts GROUP BY source) " +
        "SELECT bt.source, bt.b AS n_bigrams, " +
        "ROUND(CAST(fs.s1 - ps.s2 AS DOUBLE) / bt.b, 6) AS cond_entropy " +
        "FROM bt JOIN ps ON ps.source = bt.source " +
        "JOIN fs ON fs.source = bt.source ORDER BY bt.source"),
    "ta_checksum" -> {
      val digit = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(md5(text), $k, 1)) - 1)"
      val hex6 = (1 to 6).map(k =>
        s"${digit(k)}::BIGINT * ${1L << (4 * (6 - k))}").mkString(" + ")
      s"SELECT source, COUNT(*) AS n_docs, " +
        s"SUM(len($sqlToks))::BIGINT AS n_tokens, " +
        s"SUM($hex6)::BIGINT AS checksum " +
        "FROM documents GROUP BY source ORDER BY source"
    },
    "ta_novelty" ->
      (s"WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ') " +
        "FOR i IN generate_series(1, len(toks) - 2)]) AS gh " +
        "FROM tok WHERE len(toks) >= 3), " +
        "firsts AS (SELECT gh, MIN(doc_id) AS fd FROM g GROUP BY gh) " +
        "SELECT g.doc_id, COUNT(*) AS n_grams, " +
        "COUNT(CASE WHEN f.fd < g.doc_id THEN 1 END) AS n_seen, " +
        "ROUND(COUNT(CASE WHEN f.fd < g.doc_id THEN 1 END)::DOUBLE " +
        "/ COUNT(*), 6) AS seen_frac " +
        "FROM g JOIN firsts f ON f.gh = g.gh " +
        "GROUP BY g.doc_id ORDER BY g.doc_id"),
    "ta_heaps" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents), " +
        "b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM documents), " +
        "td AS (SELECT doc_id, COUNT(*) AS nt FROM tok GROUP BY doc_id), " +
        "dd AS (SELECT ((doc_id - lo) * 10) // (hi - lo) AS decile, " +
        "COUNT(*) AS docs, SUM(nt)::BIGINT AS toks " +
        "FROM td CROSS JOIN b GROUP BY 1), " +
        "firsts AS (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok), " +
        "fv AS (SELECT ((fd - lo) * 10) // (hi - lo) AS decile, " +
        "COUNT(*) AS vnew FROM firsts CROSS JOIN b GROUP BY 1) " +
        "SELECT d.decile, " +
        "(SUM(d.docs) OVER w)::BIGINT AS docs_cum, " +
        "(SUM(d.toks) OVER w)::BIGINT AS tokens_cum, " +
        "(SUM(COALESCE(fv.vnew, 0)) OVER w)::BIGINT AS vocab_cum " +
        "FROM dd d LEFT JOIN fv ON fv.decile = d.decile " +
        "WINDOW w AS (ORDER BY d.decile) ORDER BY d.decile"),
    "ta_burstiness" ->
      (s"WITH nd AS (SELECT COUNT(*) AS n FROM documents), " +
        "dc AS (SELECT tok, COUNT(*) AS c FROM " +
        s"(SELECT doc_id, unnest($sqlToks) AS tok FROM documents) " +
        "GROUP BY doc_id, tok), " +
        "tok AS (SELECT tok, SUM(c)::BIGINT AS tf, COUNT(*) AS df, " +
        "SUM(c * c)::BIGINT AS sc2 FROM dc GROUP BY tok " +
        "ORDER BY tf DESC, tok LIMIT 20) " +
        "SELECT tok, tf, df, " +
        "ROUND((nd.n::DOUBLE * sc2 - tf::DOUBLE * tf) / (nd.n::DOUBLE * tf), 6) " +
        "AS fano FROM tok CROSS JOIN nd ORDER BY tf DESC, tok"),
    "ta_jsd" ->
      ("WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "sw AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w), " +
        "st AS (SELECT source, SUM(c)::BIGINT AS tsrc FROM sw GROUP BY source), " +
        "cw AS (SELECT w, SUM(c)::BIGINT AS cg FROM sw GROUP BY w), " +
        "tt AS (SELECT SUM(c)::BIGINT AS t FROM sw), " +
        "grid AS (SELECT st.source, cw.w, COALESCE(sw.c, 0) AS csw, " +
        "st.tsrc, cw.cg, tt.t FROM st CROSS JOIN cw CROSS JOIN tt " +
        "LEFT JOIN sw ON sw.source = st.source AND sw.w = cw.w), " +
        "terms AS (SELECT source, tsrc, " +
        "CAST(ROUND(CASE WHEN csw = 0 THEN 0.0::DOUBLE ELSE " +
        "(csw::DOUBLE / tsrc) * (log2((2 * csw)::DOUBLE * t) - " +
        "log2(csw::DOUBLE * t + cg::DOUBLE * tsrc)) END, 9) " +
        "AS DECIMAL(28,9)) AS pterm, " +
        "CAST(ROUND((cg::DOUBLE / t) * (log2((2 * cg)::DOUBLE * tsrc) - " +
        "log2(csw::DOUBLE * t + cg::DOUBLE * tsrc)), 9) " +
        "AS DECIMAL(28,9)) AS qterm FROM grid) " +
        "SELECT source, MAX(tsrc) AS n_tokens, " +
        "ROUND(CAST(SUM(pterm) + SUM(qterm) AS DOUBLE) / 2, 6) AS jsd " +
        "FROM terms GROUP BY source ORDER BY source"),
    "ta_winnow" ->
      (s"WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents), " +
        "g AS (SELECT doc_id, i::BIGINT AS pos, " +
        "md5(array_to_string(toks[i:i+2], ' ')) AS h " +
        "FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) " +
        "WHERE len(toks) >= 3), " +
        "win AS (SELECT doc_id, pos AS i, " +
        "MIN(h) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin, " +
        "COUNT(*) OVER (PARTITION BY doc_id) AS ng FROM g), " +
        "sel AS (SELECT wn.doc_id, wn.wmin AS fp, MAX(g.pos) AS pos " +
        "FROM (SELECT doc_id, i, wmin FROM win WHERE i <= ng - 3) wn " +
        "JOIN g ON g.doc_id = wn.doc_id " +
        "AND g.pos BETWEEN wn.i AND wn.i + 3 AND g.h = wn.wmin " +
        "GROUP BY wn.doc_id, wn.i, wn.wmin) " +
        "SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos"),
    "ta_colloc" ->
      ("WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
        "THEN text || ' aurora borealis aurora borealis' ELSE text END " +
        "AS text FROM documents), " +
        "tok AS (SELECT string_split(text, ' ') AS toks FROM aug), " +
        "uni AS (SELECT w, COUNT(*) AS c FROM " +
        "(SELECT unnest(toks) AS w FROM tok) GROUP BY w), " +
        "tt AS (SELECT SUM(c) AS t FROM uni), " +
        "big AS (SELECT w1, w2, COUNT(*) AS c FROM " +
        "(SELECT toks[i] AS w1, toks[i+1] AS w2 FROM tok, " +
        "LATERAL (SELECT unnest(range(1, len(toks))) AS i)) GROUP BY w1, w2), " +
        "bt AS (SELECT SUM(c) AS b FROM big) " +
        "SELECT g.w1, g.w2, g.c AS c_pair, a.c AS c_w1, z.c AS c_w2, " +
        "ROUND(g.c::DOUBLE * tt.t * tt.t / (bt.b::DOUBLE * a.c * z.c), 6) " +
        "AS lift " +
        "FROM big g CROSS JOIN tt CROSS JOIN bt " +
        "JOIN uni a ON a.w = g.w1 JOIN uni z ON z.w = g.w2 " +
        "WHERE g.c >= 5 AND g.c::DOUBLE * tt.t * tt.t / " +
        "(bt.b::DOUBLE * a.c * z.c) >= 2.0 " +
        "ORDER BY g.w1, g.w2"),
    "ta_vocab" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents), " +
        "vocab AS (SELECT tok FROM (" +
        "SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok " +
        "ORDER BY tf DESC, tok LIMIT 16)), " +
        "cov AS (SELECT t.doc_id, COUNT(*) AS n_tokens, " +
        "COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov " +
        "FROM tok t LEFT JOIN vocab v ON v.tok = t.tok " +
        "GROUP BY t.doc_id) " +
        "SELECT doc_id, n_tokens, n_oov, " +
        "CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE " +
        "ELSE ROUND(n_oov::DOUBLE / n_tokens, 6) END AS oov_rate " +
        "FROM cov ORDER BY doc_id"),
    "ta_zipf" ->
      (s"WITH tf AS (SELECT tok, COUNT(*) AS tf " +
        s"FROM (SELECT unnest($sqlToks) AS tok FROM documents) GROUP BY tok), " +
        "ranked AS (SELECT tok, tf, " +
        "ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS rank FROM tf) " +
        "SELECT rank, tok, tf, rank * tf AS zipf_c, " +
        "ROUND((rank * tf)::DOUBLE / (SELECT MAX(tf) FROM tf), 6) AS rel " +
        "FROM ranked WHERE rank <= 20 ORDER BY rank"),
    "ta_hashembed" ->
      (s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok """ +
        """FROM documents) """ +
        """SELECT doc_id, """ +
        """((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 """ +
        """+ strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)::BIGINT """ +
        """AS feat, COUNT(*) AS n """ +
        """FROM tk GROUP BY doc_id, 2 """ +
        """ORDER BY doc_id, feat"""),
    "ta_ngram_top" ->
      (s"WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents " +
        s"WHERE len($sqlToks) >= 3), " +
        "grams AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ') " +
        "FOR i IN generate_series(1, len(toks) - 2)]) AS gram FROM tk), " +
        "per_doc AS (SELECT gram, doc_id, COUNT(*) AS nd " +
        "FROM grams GROUP BY gram, doc_id) " +
        "SELECT gram, SUM(nd)::BIGINT AS n, COUNT(*) AS df " +
        "FROM per_doc GROUP BY gram " +
        "ORDER BY n DESC, gram LIMIT 20"),
    "ta_ppl_foreign" ->
      ("WITH sc AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
        "THEN text || ' zzqx' || (doc_id % 3)::VARCHAR ELSE text END AS text " +
        "FROM documents WHERE doc_id % 2 = 1), " +
        "lm AS (SELECT text FROM documents WHERE doc_id % 2 = 0), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM sc), " +
        "cnt AS (SELECT token, COUNT(*) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM lm) GROUP BY token), " +
        "tot AS (SELECT SUM(c)::BIGINT AS t, COUNT(*) AS v FROM cnt), " +
        "terms AS (SELECT k.doc_id, " +
        "CAST(ROUND(-ln((COALESCE(c.c, 0) + 1)::DOUBLE / (t.t + t.v + 1)), 9) " +
        "AS DECIMAL(28,9)) AS term " +
        "FROM tok k LEFT JOIN cnt c ON c.token = k.token CROSS JOIN tot t) " +
        "SELECT doc_id, COUNT(*) AS n_tokens, " +
        "ROUND(SUM(term)::DOUBLE / COUNT(*), 6) AS xent, " +
        "ROUND(exp(ROUND(SUM(term)::DOUBLE / COUNT(*), 6)), 6) AS ppl " +
        "FROM terms GROUP BY doc_id ORDER BY doc_id"),
    "ta_readability" ->
      (s"WITH p AS (SELECT doc_id, $sqlToks AS toks, " +
        "8 + (doc_id % 5)::INT AS k FROM documents), " +
        "aug AS (SELECT doc_id, " +
        "array_to_string([array_to_string(toks[(i*k+1):(i*k+k)], ' ') || " +
        "(CASE WHEN (doc_id + i) % 3 = 0 THEN '!' ELSE '.' END) " +
        "FOR i IN generate_series(0, (len(toks) + k - 1) // k - 1)], ' ') " +
        "AS text FROM p), " +
        "m AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words, " +
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents, " +
        "len(regexp_extract_all(text, '[aeiouy]+')) AS n_syll FROM aug) " +
        "SELECT doc_id, n_words, n_sents, n_syll, " +
        "ROUND(CAST(206.835 AS DOUBLE) " +
        "- CAST(1.015 AS DOUBLE) * (n_words::DOUBLE / n_sents) " +
        "- CAST(84.6 AS DOUBLE) * (n_syll::DOUBLE / n_words), 6) AS flesch " +
        "FROM m ORDER BY doc_id"),
    "ta_c4filter" ->
      (s"WITH aug AS (SELECT doc_id, " +
        "array_to_string([array_to_string(toks[(i*12+1):(i*12+12)], ' ') || " +
        "(CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END) " +
        "FOR i IN generate_series(0, (len(toks) + 11) // 12 - 1)], chr(10)) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN chr(10) || " +
        "'lorem ipsum dolor sit amet consectetur elit.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 11 = 0 THEN chr(10) || " +
        "'inline javascript snippet was detected on this page.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 13 = 0 THEN chr(10) || " +
        "'if (x) { return y; }' ELSE '' END) AS text " +
        s"FROM (SELECT doc_id, $sqlToks AS toks FROM documents)), " +
        "k AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines, " +
        "list_filter(string_split(text, chr(10)), " +
        "x -> regexp_matches(x, '[.!?]$') " +
        "AND len(string_split(x, ' ')) >= 5 " +
        "AND NOT contains(lower(x), 'javascript')) AS kept, " +
        "contains(lower(text), 'lorem ipsum') OR contains(text, '{') AS boiler " +
        "FROM aug) " +
        "SELECT doc_id, n_lines, len(kept) AS n_kept, " +
        // DuckDB array_to_string([]) is NULL where Spark array_join is ''
        "COALESCE(length(array_to_string(kept, chr(10))), 0) AS clean_chars, " +
        "NOT boiler AND len(kept) >= 3 AS keep_doc " +
        "FROM k ORDER BY doc_id"),
    "ta_entropy" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents), " +
        "cnt AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token), " +
        "terms AS (SELECT doc_id, c, " +
        "CAST(ROUND(c * log2(c::DOUBLE), 9) AS DECIMAL(28,9)) AS term FROM cnt) " +
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types, " +
        "ROUND(ROUND(log2(SUM(c)::DOUBLE), 9) - SUM(term)::DOUBLE / SUM(c), 6) AS entropy, " +
        "ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_ratio " +
        "FROM terms GROUP BY doc_id ORDER BY doc_id"),
    "ta_gopher" ->
      (s"WITH m AS (SELECT doc_id, len($sqlToks) AS n_tokens, " +
        "length(replace(text, ' ', '')) AS n_word_chars, " +
        s"len(list_distinct($sqlToks)) AS n_types, " +
        "len(regexp_extract_all(text, '[#*&^~|]')) AS n_symbols, " +
        "length(text) AS n_chars FROM documents), " +
        "r AS (SELECT doc_id, n_tokens, " +
        "round(n_word_chars / n_tokens, 6) AS mean_word_len, " +
        "round(n_types / n_tokens, 6) AS ttr, " +
        "round(n_symbols / n_chars, 6) AS symbol_ratio FROM m) " +
        "SELECT doc_id, n_tokens, mean_word_len, ttr, symbol_ratio, " +
        "mean_word_len >= 3 AND mean_word_len <= 10 " +
        "AND ttr > 0.2 AND symbol_ratio < 0.1 AS keep " +
        "FROM r ORDER BY doc_id"),
    "ta_bigram_ppl" ->
      (s"WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents " +
        s"WHERE len($sqlToks) >= 2), " +
        "big AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS prev, " +
        "unnest(toks[2:len(toks)]) AS cur FROM tk), " +
        "bcnt AS (SELECT prev, cur, COUNT(*) AS cb FROM big GROUP BY prev, cur), " +
        "ccnt AS (SELECT prev, SUM(cb)::BIGINT AS cp FROM bcnt GROUP BY prev), " +
        "voc AS (SELECT COUNT(DISTINCT cur) AS v FROM bcnt), " +
        "terms AS (SELECT g.doc_id, " +
        "CAST(ROUND(-ln((b.cb + 1)::DOUBLE / (c.cp + t.v)), 9) " +
        "AS DECIMAL(28,9)) AS term " +
        "FROM big g JOIN bcnt b ON b.prev = g.prev AND b.cur = g.cur " +
        "JOIN ccnt c ON c.prev = g.prev CROSS JOIN voc t) " +
        "SELECT doc_id, COUNT(*) AS n_bigrams, " +
        "ROUND(SUM(term)::DOUBLE / COUNT(*), 6) AS xent2, " +
        "ROUND(exp(ROUND(SUM(term)::DOUBLE / COUNT(*), 6)), 6) AS ppl2 " +
        "FROM terms GROUP BY doc_id ORDER BY doc_id"),
    "ta_perplexity" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents), " +
        "cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token), " +
        "tot AS (SELECT SUM(c)::BIGINT AS t FROM cnt), " +
        "terms AS (" +
        "  SELECT k.doc_id, " +
        "         CAST(ROUND(-ln(c.c::DOUBLE / t.t), 9) AS DECIMAL(28,9)) AS term " +
        "  FROM tok k JOIN cnt c ON c.token = k.token CROSS JOIN tot t) " +
        "SELECT doc_id, COUNT(*) AS n_tokens, " +
        "       ROUND(SUM(term)::DOUBLE / COUNT(*), 6) AS xent, " +
        "       ROUND(exp(ROUND(SUM(term)::DOUBLE / COUNT(*), 6)), 6) AS ppl " +
        "FROM terms GROUP BY doc_id ORDER BY doc_id"),
    "ta_derep" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN text || ' ' || rep || ' ' || rep ELSE text END AS text
        |  FROM (SELECT doc_id, text,
        |               array_to_string(string_split(text, ' ')[1:8], ' ') AS rep
        |        FROM documents)),
        |g AS (
        |  SELECT doc_id, unnest([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
        |                         FOR i IN generate_series(1, len(toks) - 2)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM aug)
        |  WHERE len(toks) >= 3)
        |SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS d_grams,
        |       ROUND(1 - COUNT(DISTINCT g)::DOUBLE / COUNT(*), 6) AS dup_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ta_tokens" ->
      (s"SELECT doc_id, len($sqlToks) AS n_tokens, " +
        "len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_re_tokens, " +
        "length(text) AS n_chars_calc FROM documents ORDER BY doc_id"),
    "ta_quality" ->
      (s"SELECT doc_id, n_tokens, n_stop, round(n_stop / n_tokens, 6) AS stop_ratio, " +
        "round(n_punct / length(text), 6) AS punct_ratio, " +
        "round((n_tokens::DOUBLE / 60.0) * (1 - n_stop / n_tokens), 6) AS quality FROM (" +
        s"SELECT doc_id, len($sqlToks) AS n_tokens, " +
        s"len(list_filter($sqlToks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'to')) AS n_stop, " +
        "len(regexp_extract_all(text, '[.!?,;:]')) AS n_punct, text " +
        "FROM documents) ORDER BY doc_id"),
    "ta_langconf" ->
      ("WITH p AS (SELECT lang, " +
        "CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es " +
        "THEN 'en' " +
        "WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de' " +
        "WHEN sc_fr >= sc_es THEN 'fr' ELSE 'es' END AS lang_pred FROM (" +
        s"SELECT lang, " +
        s"len(list_filter($sqlToks, t -> t = 'the' OR t = 'a' OR t = 'and')) AS sc_en, " +
        s"len(list_filter($sqlToks, t -> t = 'der' OR t = 'die' OR t = 'und')) AS sc_de, " +
        s"len(list_filter($sqlToks, t -> t = 'le' OR t = 'les' OR t = 'et')) AS sc_fr, " +
        s"len(list_filter($sqlToks, t -> t = 'el' OR t = 'los' OR t = 'y')) AS sc_es " +
        "FROM documents)), " +
        "m AS (SELECT lang, lang_pred, COUNT(*) AS n " +
        "FROM p GROUP BY lang, lang_pred), " +
        "t AS (SELECT lang, SUM(n) AS tot FROM m GROUP BY lang) " +
        "SELECT m.lang, m.lang_pred, m.n, " +
        "ROUND(m.n::DOUBLE / t.tot, 6) AS share, " +
        "m.lang = m.lang_pred AS correct " +
        "FROM m JOIN t ON t.lang = m.lang " +
        "ORDER BY m.lang, m.lang_pred"),
    "ta_langid" ->
      ("SELECT doc_id, CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en' " +
        "WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de' " +
        "WHEN sc_fr >= sc_es THEN 'fr' ELSE 'es' END AS lang_pred FROM (" +
        s"SELECT doc_id, " +
        s"len(list_filter($sqlToks, t -> t = 'the' OR t = 'a' OR t = 'and')) AS sc_en, " +
        s"len(list_filter($sqlToks, t -> t = 'der' OR t = 'die' OR t = 'und')) AS sc_de, " +
        s"len(list_filter($sqlToks, t -> t = 'le' OR t = 'les' OR t = 'et')) AS sc_fr, " +
        s"len(list_filter($sqlToks, t -> t = 'el' OR t = 'los' OR t = 'y')) AS sc_es " +
        "FROM documents) ORDER BY doc_id"),
    "ta_tfidf" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents), " +
        "tfd AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token), " +
        "dfv AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token) " +
        "SELECT doc_id, token, tf, df, rn FROM (" +
        "  SELECT t.doc_id, t.token, t.tf, d.df, " +
        "         ROW_NUMBER() OVER (PARTITION BY t.doc_id " +
        "           ORDER BY t.tf::DOUBLE / d.df DESC, t.token) AS rn " +
        "  FROM tfd t JOIN dfv d ON t.token = d.token) " +
        "WHERE rn <= 3 ORDER BY doc_id, rn"),
    "ta_df" ->
      (s"WITH tok AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents) " +
        "SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf " +
        "FROM tok GROUP BY token " +
        "HAVING COUNT(DISTINCT doc_id) * 10 >= (SELECT COUNT(*) FROM documents) " +
        "ORDER BY token"),
    "ta_fingerprint" ->
      ("SELECT doc_id, (COALESCE(list_sum(" +
        "[(ascii(t[i])::BIGINT * 131 + length(t[i])) * ((i::BIGINT * 2654435761) % 1000003) " +
        "FOR i IN generate_series(1, len(t))]), 0) % 1000000007)::BIGINT AS fp " +
        s"FROM (SELECT doc_id, $sqlToks AS t FROM documents) ORDER BY doc_id"))
}
