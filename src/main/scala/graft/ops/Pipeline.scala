package graft.ops

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline assembly operators — the steps that turn the primitive ops
  * (dedup pairs, token counts) into an actionable training-data pipeline:
  * near-dup CLUSTER RESOLUTION (pairs → transitive components → one
  * canonical survivor), context-window CHUNKING, PII REDACTION, and a
  * deterministic stratified TRAIN/VAL/TEST SPLIT.
  *
  * Scale design (100 TB): resolution rides the banded-LSH pair relation
  * (bucket-bounded, never all-pairs) plus label-propagation components
  * (one join + one agg per round, rounds ≤ cluster diameter — near-dup
  * clusters are shallow); chunking/redaction/split are narrow single-pass
  * transforms with only presentation ORDER BYs. All arithmetic and hash
  * families are engine-exact (md5 digests, integer division), so the
  * DuckDB oracle compare is hash-exact.
  */
object Pipeline {

  /** Near-dup cluster resolution: the transitive closure of the 64-bit
    * banded SimHash pair relation (Hamming ≤ 3, see Dedup.ddSimhashPairs),
    * with each document mapped to the minimum doc_id of its cluster — the
    * keep-first rule applied across CHAINS of near-duplicates (a≈b, b≈c ⇒
    * a,b,c share one canonical id even when a,c are not within radius).
    */
  def ddResolve(s: SparkSession, dir: String): DataFrame =
    ddResolveCounted(s, dir)._1.orderBy("doc_id")

  /** [[ddResolve]] plus the label-propagation rounds it took to converge —
    * the diagnostic the pipeline scale probe records (rounds ≤ deepest
    * near-dup chain).
    */
  private[graft] def ddResolveCounted(s: SparkSession,
                                      dir: String): (DataFrame, Int) = {
    // checkpoint before self-union: Spark's InlineCTE x DeduplicateRelations
    // throws on a self-union of a CTE-bearing plan, and the pair relation
    // is reused by both direction branches anyway. The UNORDERED pair
    // core (r13): the eager checkpoint would otherwise materialize
    // ddSimhashPairs' presentation sort — a global range exchange the
    // label propagation never needed
    val pairs = Caches.pin(Dedup.ddSimhashPairsCore(s, dir), eager = true)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val (comps, rounds) =
      graft.graph.ConnectedComponents.runCounted(s, edges, maxIter = 20)
    // UNORDERED (r13): the declared query adds its presentation sort in
    // ddResolve above; computation consumers (ds_softdedup's joins, the
    // scale probe's parquet dump) never needed the range exchange
    (comps
      .withColumnRenamed("node", "doc_id")
      .withColumnRenamed("comp", "canon_id"), rounds)
  }

  /** Near-dup cluster resolution over CALLER-SUPPLIED candidate pairs
    * (doc_a, doc_b) — e.g. [[graft.ops.Dedup.ddMinhashLshOn]] output, or
    * containment-scored pairs after a threshold — the production entry
    * completing the candidates → score → resolve composition: transitive
    * components by label propagation, each doc mapped to the minimum
    * doc_id of its cluster. Docs not in any pair are their own canon and
    * are absent from the output (join back with a coalesce to default).
    */
  def ddResolve(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // self-union of one relation (see above)
    val p = Caches.pin(pairs.select(col("doc_a"), col("doc_b")), eager = true)
    if (p.isEmpty) // the degenerate-input contract: empty in, empty out
      p.select(col("doc_a").as("doc_id"), col("doc_b").as("canon_id"))
    else {
      val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      graft.graph.ConnectedComponents.run(s, edges)
        .withColumnRenamed("node", "doc_id")
        .withColumnRenamed("comp", "canon_id")
        .orderBy("doc_id")
    }
  }

  /** Context-window chunking over an arbitrary (doc_id, text) corpus with
    * caller-set window/stride ("chunk MY corpus at MY context length") —
    * chunk count = 1 + ceil((len-window)/stride) for len > window,
    * computed with the integer identity ceil((len-w)/s) =
    * (len - w + s - 1) div s so both engines agree exactly.
    */
  def taChunk(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__chunk_docs")
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, split(text, ' ') AS toks FROM __chunk_docs),
         |chunks AS (
         |  SELECT doc_id, ck,
         |         slice(toks, 1 + ck * $stride, $window) AS ctoks
         |  FROM tok LATERAL VIEW explode(sequence(0,
         |    CASE WHEN size(toks) > $window
         |         THEN (size(toks) - ${window - stride + 1}) div $stride
         |         ELSE 0 END)) AS ck)
         |SELECT doc_id, CAST(ck AS BIGINT) AS chunk_id,
         |       size(ctoks) AS n_tokens,
         |       array_join(ctoks, ' ') AS chunk_text
         |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin)
  }

  /** The oracle-checked form: 32-token windows, stride 24. */
  def taChunk(s: SparkSession, dir: String): DataFrame =
    taChunk(Tables.load(s, dir, "documents"), window = 32, stride = 24)

  /** One redaction rule: match counts surface as column `n_<name>`, and
    * every match of `pattern` (Java regex) is replaced by `replacement`.
    */
  case class RedactRule(name: String, pattern: String, replacement: String)

  /** PII redaction over an arbitrary (doc_id, text) corpus with a
    * caller-supplied rule set — the production entry ("redact MY patterns
    * from MY corpus"). Counts are measured on the ORIGINAL text (so a
    * later rule's replacement cannot mask an earlier rule's count);
    * replacements chain in rule order. Narrow single-pass at any scale —
    * only the presentation ORDER BY exchanges.
    */
  def taRedact(docs: DataFrame, rules: Seq[RedactRule]): DataFrame = {
    val counts = rules.map(r =>
      size(regexp_extract_all(col("text"), lit(r.pattern), lit(0)))
        .as(s"n_${r.name}"))
    val redacted = rules.foldLeft(col("text")) { (c, r) =>
      regexp_replace(c, r.pattern, r.replacement)
    }
    docs.select(col("doc_id") +: counts :+ redacted.as("redacted"): _*)
      .orderBy("doc_id")
  }

  /** The oracle-checked redaction query: the synthetic corpus has no PII,
    * so every third document gets a deterministic fake contact line
    * appended, then the email/phone rule set delegates to the
    * parameterized [[taRedact(docs:*]] entry.
    */
  def taRedact(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    val aug = s.sql(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0
        |            THEN concat(text, ' contact user', CAST(doc_id AS STRING),
        |                        '@example.com or +1-555-',
        |                        substring(CAST(1000 + doc_id % 9000 AS STRING), 1, 4))
        |            ELSE text END AS text
        |FROM __docs""".stripMargin)
    taRedact(aug, Seq(
      RedactRule("emails", "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
      RedactRule("phones", "\\+1-555-[0-9]{4}", "<PHONE>")))
  }

  /** PII detection (the report-before-redact pass of corpus compliance):
    * per document the match count of each caller-supplied pattern on the
    * ORIGINAL text, their total, and a `clean` flag — the filtering
    * decision ("drop documents with any PII") without rewriting anything.
    * Complements [[taRedact(docs:*]]: redact EDITS, this MEASURES; a real
    * pipeline runs detection over the whole corpus to size the problem,
    * then redacts (or drops) the flagged shard.
    *
    * Scale design: narrow single-pass projection — the regex counters all
    * evaluate inside one codegen stage, no shuffle but the presentation
    * ORDER BY. Patterns are Java-regex/RE2-common (character classes and
    * bounded quantifiers only) so both engines count identically.
    */
  def taPiiCount(docs: DataFrame,
                 patterns: Seq[(String, String)]): DataFrame = {
    val counts = patterns.map { case (n, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).as(s"n_$n")
    }
    val total = patterns.map { case (n, _) => col(s"n_$n") }
      .reduce(_ + _)
    docs.select(col("doc_id") +: counts: _*)
      .withColumn("n_pii", total)
      .withColumn("clean", col("n_pii") === 0)
      .orderBy("doc_id")
  }

  /** The oracle-checked detection query: the corpus has no PII, so four
    * deterministic classes are planted on disjoint residues (the taRedact
    * synthesis discipline — email+phone on every 3rd doc, an SSN-shaped
    * id on every 7th, an IPv4 on every 11th), then the four-rule set
    * delegates to the parameterized entry. Docs on no residue must come
    * out `clean` — the oracle hash proves counts AND the flag.
    */
  def taPiiCount(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__pii_docs")
    val aug = s.sql(
      """SELECT doc_id,
        |  concat(text,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN concat(' contact user', CAST(doc_id AS STRING),
        |                     '@example.com or +1-555-',
        |                     substring(CAST(1000 + doc_id % 9000 AS STRING),
        |                               1, 4))
        |         ELSE '' END,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN concat(' id 987-65-',
        |                     substring(CAST(1000 + doc_id % 9000 AS STRING),
        |                               1, 4))
        |         ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0
        |         THEN concat(' from 10.0.', CAST(doc_id % 256 AS STRING),
        |                     '.', CAST((doc_id * 7) % 256 AS STRING))
        |         ELSE '' END) AS text
        |FROM __pii_docs""".stripMargin)
    taPiiCount(aug, Seq(
      "emails" -> "[a-z0-9]+@[a-z]+\\.[a-z]+",
      "phones" -> "\\+1-555-[0-9]{4}",
      "ssns" -> "[0-9]{3}-[0-9]{2}-[0-9]{4}",
      "ips" -> "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"))
  }

  /** Text canonicalization (the cleaning pass every corpus ingest runs
    * first): lowercase, strip a declared noise-character class
    * ([*#@~^]), collapse whitespace runs, trim. Emits the normalized
    * text plus before/after lengths and a `changed` flag. Narrow
    * single-pass — no shuffle but the presentation ORDER BY; regex
    * classes chosen to evaluate identically under Java regex and RE2.
    */
  def taNormalize(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "text", "length(text) AS n_chars_in",
      "trim(regexp_replace(regexp_replace(lower(text), '[*#@~^]', ''), " +
        "' +', ' ')) AS text_norm")
      .selectExpr("doc_id", "n_chars_in", "length(text_norm) AS n_chars_out",
        "text_norm <> text AS changed", "text_norm")
      .orderBy("doc_id")

  /** The oracle-checked (and SELF-CHECKING) normalization query: the
    * corpus is already clean, so deterministic noise is synthesized first
    * (every 2nd doc uppercased, every 3rd wrapped in ' ** ' markers, every
    * 5th with doubled spaces) and normalization must recover EXACTLY the
    * original text — `recovered` is part of the compared output, so the
    * oracle hash proves the roundtrip, not just engine agreement.
    */
  def taNormalize(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    val aug = s.sql(
      """SELECT doc_id, text,
        |       CASE WHEN doc_id % 5 = 0
        |            THEN replace(noisy, ' ', '  ') ELSE noisy END AS noisy
        |FROM (
        |  SELECT doc_id, text,
        |         CASE WHEN doc_id % 3 = 0 THEN concat(' ** ', up, ' ** ')
        |              ELSE up END AS noisy
        |  FROM (SELECT doc_id, text,
        |               CASE WHEN doc_id % 2 = 0 THEN upper(text)
        |                    ELSE text END AS up
        |        FROM __docs))""".stripMargin)
    aug.createOrReplaceTempView("__norm_aug")
    val s2 = aug.sparkSession
    taNormalize(aug.selectExpr("doc_id", "noisy AS text"))
      .createOrReplaceTempView("__norm_out")
    s2.sql(
      """SELECT o.doc_id, o.n_chars_in, o.n_chars_out, o.changed,
        |       o.text_norm = a.text AS recovered
        |FROM __norm_out o JOIN __norm_aug a ON a.doc_id = o.doc_id
        |ORDER BY o.doc_id""".stripMargin)
  }

  /** Deterministic stratified train/val/test split: the first hex digit of
    * md5('split:'||doc_id) buckets 75/12.5/12.5 — reproducible across
    * engines and runs, independent of row order, stratified implicitly by
    * being uniform within every (lang, source) stratum.
    */
  def dsSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    s.sql(
      """SELECT doc_id, lang, source,
        |       CASE WHEN d < 12 THEN 'train' WHEN d < 14 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang, source,
        |         instr('0123456789abcdef',
        |           substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 1))
        |           - 1 AS d
        |  FROM __docs)
        |ORDER BY doc_id""".stripMargin)
  }

  /** Deterministic k-fold assignment (cross-validation / sharded-eval
    * bookkeeping): fold = (first two hex digits of md5('fold:'||doc_id))
    * mod k — reproducible across engines, runs, and row orders, and
    * independent of the ds_split/ds_shuffle/ds_mix digest draws (distinct
    * salt). Fold f's validation set is `fold = f`; its training set is
    * everything else — the assignment column expresses all k splits at
    * once. The 256-value draw carries a ≤ ⌈256/k⌉/⌊256/k⌋ bias (≈2 % at
    * k=5) — negligible for CV and the price of an engine-portable digest;
    * callers needing exact-k balance compose [[dsBalance]] downstream.
    *
    * Scale design: narrow single-pass projection, no shuffle but the
    * presentation ORDER BY — the fold column costs one md5 per row.
    */
  def dsKfold(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__kfold_docs")
    s.sql(
      s"""SELECT doc_id, lang, source,
         |       CAST(((d1 - 1) * 16 + (d2 - 1)) % $k AS INT) AS fold
         |FROM (
         |  SELECT doc_id, lang, source,
         |         instr('0123456789abcdef', substring(h, 1, 1)) AS d1,
         |         instr('0123456789abcdef', substring(h, 2, 1)) AS d2
         |  FROM (SELECT doc_id, lang, source,
         |               md5(concat('fold:', CAST(doc_id AS STRING))) AS h
         |        FROM __kfold_docs))
         |ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: 5 folds over the documents table. */
  def dsKfold(s: SparkSession, dir: String): DataFrame =
    dsKfold(Tables.load(s, dir, "documents"), k = 5)

  /** Grouped holdout split (the sklearn GroupShuffleSplit / "split by
    * domain" discipline every contamination-aware pipeline uses): the
    * split is assigned from the md5 of the GROUP key (`source`), not
    * the document — so near-duplicate documents from the same domain
    * can never straddle train and test, the leak [[dsLeakage]] detects
    * after the fact and this op prevents by construction. Same 12/2/2
    * hex-digit ratios as [[dsSplit]], distinct salt ('gsplit:') so the
    * two draws are independent.
    *
    * The cost of grouping is size skew: a whale domain drags its whole
    * mass into one split. That is the declared trade (group integrity
    * over exact ratios) — callers needing tighter ratios split the
    * whale's GROUP KEY finer (e.g. source × shard), never the rows.
    *
    * Scale design: narrow single-pass projection (one md5 per row, no
    * join — the group key is on the row); no shuffle but the
    * presentation ORDER BY.
    */
  def dsGroupSplit(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__gsplit_docs")
    s.sql(
      s"""SELECT doc_id, $groupCol,
         |       CASE WHEN d < 12 THEN 'train' WHEN d < 14 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id, $groupCol,
         |         instr('0123456789abcdef',
         |           substring(md5(concat('gsplit:', $groupCol)), 1, 1))
         |           - 1 AS d
         |  FROM __gsplit_docs)
         |ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: group by source over the documents table. */
  def dsGroupSplit(s: SparkSession, dir: String): DataFrame =
    dsGroupSplit(Tables.load(s, dir, "documents"))

  /** Sequence packing (the training-batch assembly step): greedily pack
    * documents into fixed 256-token budgets, contiguous first-fit in
    * doc_id order within an md5 shard. pack_id = prev-cumulative-tokens
    * div budget, so a document straddling a boundary opens the next pack —
    * the standard contiguous-fill discipline.
    *
    * Scale design: packing is inherently sequential, so it is SHARDED —
    * each md5 bucket is one window partition = one task, and the digit
    * count of the bucket key is the scale knob (1 hex digit = 16 shards
    * here; at 100 TB you take 4–5 digits so each shard's sort fits a
    * task). No global sort, no driver loop: one hash exchange + per-shard
    * sort, same md5 bucket family as ds_split so the oracle shares it.
    */
  def dsPack(docs: DataFrame, budget: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__pack_docs")
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, size(split(text, ' ')) AS n_tokens,
         |         instr('0123456789abcdef',
         |           substring(md5(concat('pack:', CAST(doc_id AS STRING))), 1, 1))
         |           - 1 AS bucket
         |  FROM __pack_docs)
         |SELECT doc_id, bucket, n_tokens,
         |       ((SUM(n_tokens) OVER w) - n_tokens) div $budget AS pack_id
         |FROM tok
         |WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: 256-token pack budget ("pack MY corpus at
    * MY budget" is the DataFrame-in overload above).
    */
  def dsPack(s: SparkSession, dir: String): DataFrame =
    dsPack(Tables.load(s, dir, "documents"), budget = 256)

  /** Deterministic exact-k stratified sampling (the eval-set / ablation
    * carve-out step): within every (lang, source) stratum keep the k=5
    * documents with the smallest md5('sample:'||doc_id), rank totalized by
    * (hash, doc_id). Unlike ds_split's rate-based buckets this yields an
    * EXACT per-stratum count (≤ k), reproducible across engines, runs and
    * row orders.
    *
    * Scale design: one hash exchange on the stratum key + a rank window
    * that Spark pushes map-side (WindowGroupLimit — each task keeps only
    * its local top-k before the shuffle, so the exchange carries
    * O(strata × k), not the corpus; the q8/ta_tfidf plan family, locked
    * by PlanSpec for that family).
    */
  def dsSample(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__sample_docs")
    s.sql(
      s"""SELECT doc_id, lang, source, rk FROM (
         |  SELECT doc_id, lang, source,
         |         ROW_NUMBER() OVER (PARTITION BY lang, source
         |           ORDER BY md5(concat('sample:', CAST(doc_id AS STRING))),
         |                    doc_id) AS rk
         |  FROM __sample_docs)
         |WHERE rk <= $k ORDER BY lang, source, rk""".stripMargin)
  }

  /** The oracle-checked form: k = 5 per (lang, source) stratum. */
  def dsSample(s: SparkSession, dir: String): DataFrame =
    dsSample(Tables.load(s, dir, "documents"), k = 5)

  /** Deterministic quality-WEIGHTED sampling without replacement
    * (Efraimidis–Spirakis exponential race): document i wins a slot iff
    * its race time −ln(u_i)/w_i is among the k smallest, u_i a uniform
    * drawn from the first 15 hex digits of md5('ws:'||doc_id) — so a
    * doc with twice the weight is twice as likely per slot, and the draw
    * is reproducible across engines, runs and row orders. This is the
    * curation step between [[dsSample]] (uniform within strata) and
    * [[dsQualityFilter]] (hard percentile cut): soft preference for
    * quality that still explores the tail. Race keys are rounded to 9 dp
    * BEFORE ranking (the ta_perplexity transcendental discipline) so the
    * order both engines rank is bit-identical; w ≤ 0 docs never race.
    *
    * Scale design: the race key is a per-row map expression and the
    * global smallest-k rides TakeOrderedAndProject — each task keeps a
    * local k, the single reduce sees O(tasks × k) rows; the corpus is
    * never exchanged (the q8 top-k family, plan-locked).
    */
  def dsWeightedSample(scored: DataFrame, weightCol: String,
      k: Int): DataFrame = {
    val s = scored.sparkSession
    scored.createOrReplaceTempView("__ws_docs")
    s.sql(
      s"""SELECT doc_id, weight, race
         |FROM (
         |  SELECT doc_id, CAST($weightCol AS DOUBLE) AS weight,
         |         ROUND(-ln((CAST(conv(substring(md5(
         |                      concat('ws:', CAST(doc_id AS STRING))), 1, 15),
         |                    16, 10) AS BIGINT) + 1)
         |                   / 1152921504606846976.0D)
         |               / CAST($weightCol AS DOUBLE), 9) AS race
         |  FROM __ws_docs WHERE CAST($weightCol AS DOUBLE) > 0)
         |ORDER BY race, doc_id LIMIT $k""".stripMargin)
  }

  /** The oracle-checked form: weight = n_chars (longer docs
    * proportionally more likely), k = 100 of the corpus. */
  def dsWeightedSample(s: SparkSession, dir: String): DataFrame =
    dsWeightedSample(Tables.load(s, dir, "documents"), "n_chars", k = 100)

  /** k-anonymity release audit with a generalization ladder (Sweeney
    * 2002 / the Mondrian-style numeric coarsening, public): partition
    * the corpus into equivalence classes over the categorical
    * quasi-identifiers plus a NUMERIC quasi-identifier bucketed at
    * `baseBucket · 2^level`, and CHOOSE the minimum level at which every
    * class holds ≥ k rows — the generalization a release pipeline
    * actually applies before publishing. Per chosen-level class: size,
    * l-diversity of the sensitive column (distinct sensitive values —
    * a k-anonymous class with one sensitive value still leaks), the
    * under-k flag (true only when even the coarsest level fails, which
    * the caller must treat as suppress-or-widen), and the 1/n
    * re-identification risk bound.
    *
    * Scale design: ONE corpus pass builds the finest
    * (quasi × sensitive) count relation; every ladder level ROLLS UP
    * from it (sum for sizes, distinct-over-grouping for l-diversity —
    * exact, because the sensitive value is carried in the base
    * relation), so the 10-level sweep costs classes×levels, not
    * corpus×levels. The chosen level is a 1-row broadcast join.
    *
    * Worst-case bound: the finest (quasi × sensitive) base relation is
    * CORPUS-SIZED when the sensitive proxy is near-unique per row (every
    * (quasi, sv) class has n = 1) — the rollup then degrades from
    * classes×levels to corpus×levels of shuffled rows, and no ladder
    * level can reach k, so every output row arrives `under_k = true` at
    * the coarsest level. That is the declared contract, mirroring the
    * dd_embed_cos density-guard discipline: the op stays corpus-linear
    * (never quadratic), completes, and SIGNALS; the caller must treat a
    * fully-under_k result as suppress-or-widen — drop the near-unique
    * sensitive proxy (or hash-coarsen it) rather than publish. Locked by
    * the near-unique-sensitive degenerate row in PipelineSpec.
    */
  def dsKanon(rows: DataFrame, quasiCats: Seq[String], numCol: String,
      sensitiveCol: String, k: Int, baseBucket: Long = 250L,
      maxLevel: Int = 9): DataFrame = {
    require(k >= 2, s"dsKanon: k must be >= 2, got $k")
    require(quasiCats.nonEmpty && baseBucket >= 1 &&
      maxLevel >= 0 && maxLevel <= 30, "dsKanon: bad ladder parameters")
    val s = rows.sparkSession
    rows.createOrReplaceTempView("__ka_rows")
    val cats = quasiCats.mkString(", ")
    s.sql(
      s"""WITH base AS (
         |  SELECT $cats, CAST($numCol AS BIGINT) div $baseBucket AS b0,
         |         $sensitiveCol AS sv, COUNT(*) AS n
         |  FROM __ka_rows GROUP BY $cats, ${quasiCats.size + 1}, sv),
         |lv AS (SELECT explode(sequence(0, $maxLevel)) AS level),
         |cls AS (
         |  SELECT level, $cats, b0 div shiftleft(1, level) AS bucket,
         |         SUM(n) AS n, COUNT(DISTINCT sv) AS l_div
         |  FROM base CROSS JOIN lv
         |  GROUP BY level, $cats, ${quasiCats.size + 2}),
         |minn AS (SELECT level, MIN(n) AS mn FROM cls GROUP BY level),
         |chosen AS (
         |  SELECT COALESCE(MIN(CASE WHEN mn >= $k THEN level END),
         |                  $maxLevel) AS lv
         |  FROM minn)
         |SELECT c.level, $cats, bucket, n, l_div,
         |       n < $k AS under_k,
         |       ROUND(CAST(1 AS DOUBLE) / n, 6) AS reident_risk
         |FROM cls c JOIN chosen ch ON c.level = ch.lv
         |ORDER BY $cats, bucket""".stripMargin)
  }

  /** The oracle-checked form: quasi = (lang, source) + n_chars laddered
    * from 250-char buckets, sensitive = the document's first token (a
    * content-class proxy), k = 3.
    */
  def dsKanon(s: SparkSession, dir: String): DataFrame =
    dsKanon(Tables.load(s, dir, "documents")
        .selectExpr("lang", "source", "n_chars",
          "element_at(split(text, ' '), 1) AS first_tok"),
      Seq("lang", "source"), "n_chars", "first_tok", k = 3)

  /** DSIR-style importance resampling (Xie, Santurkar, Ma, Liang, "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023 — public): pick the k raw documents whose hashed-n-gram
    * feature distribution most resembles a TARGET corpus, by importance
    * weight plus Gumbel noise — the principled "select web data that
    * looks like my curated domain" step between hard filters and uniform
    * sampling.
    *
    *  - Features: word unigrams + bigrams, hashed into `numBuckets`
    *    buckets (the hashing trick, keyed on the first 15 md5 hex digits
    *    so both engines draw identically — the ds_wsample idiom).
    *  - Bucket models: Laplace-smoothed categorical distributions for
    *    the target and the raw corpus; each document's log importance
    *    weight is Σ_b n_db·(ln p_target(b) − ln p_raw(b)).
    *  - Resampling: Gumbel-top-k on the log weights (g_i = −ln(−ln u_i),
    *    u_i a reproducible md5 draw, 'dsir:' salt) — sampling without
    *    replacement ∝ exp(logw), the paper's sampled variant rather than
    *    a brittle deterministic top-k.
    *
    * Engine-exactness: per-bucket logs are 9-dp-rounded doubles, per-doc
    * terms n·llr are 9-dp-rounded and summed as DECIMAL (exact,
    * order-free — the ta_classify discipline); ranking is on the
    * 6-dp-rounded score with a doc_id tiebreak.
    *
    * Scale design: one gram explode + (doc, bucket) count per corpus —
    * corpus-linear, map-side-combined; the bucket model is a
    * numBuckets-row relation joined back BROADCAST; the k winners ride
    * TakeOrderedAndProject (per-task local k, no global sort). The
    * target corpus is typically tiny next to raw (a curated domain
    * sample) — its pass is the cheap one.
    */
  def dsDsir(raw: DataFrame, target: DataFrame, k: Int,
      numBuckets: Int = 256): DataFrame = {
    require(k >= 1, s"dsDsir: k must be >= 1, got $k")
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"dsDsir: numBuckets must be in [2, 2^20], got $numBuckets")
    val s = raw.sparkSession
    raw.select(col("doc_id"), col("text"))
      .createOrReplaceTempView("__dsir_raw")
    target.select(col("text")).createOrReplaceTempView("__dsir_target")
    val grams =
      """concat(toks,
        |  CASE WHEN size(toks) >= 2
        |       THEN transform(sequence(1, size(toks) - 1),
        |              i -> concat(element_at(toks, i), ' ',
        |                          element_at(toks, i + 1)))
        |       ELSE array() END)""".stripMargin
    val bucket = (g: String) =>
      s"pmod(CAST(conv(substring(md5($g), 1, 15), 16, 10) AS BIGINT), " +
        s"$numBuckets)"
    // the (doc, bucket) count is the corpus-dominant relation and feeds
    // BOTH the raw bucket model and the per-doc weights — persisted so
    // the gram explode + md5 bucketing runs ONCE over raw, not twice
    // (an inlined CTE measured 107.8 s at 500k docs; see PERF.md r9).
    // WITH-free on purpose: later SQL never matches the cache of a WITH
    // statement (PlanSpec locks the cache reads). Tracked: library
    // callers release via Caches.releaseAll after consuming the returned
    // winners; the harness does it per-query.
    Caches.track(s.sql(
      s"""SELECT doc_id, ${bucket("g")} AS b, COUNT(*) AS n
         |FROM (SELECT doc_id, explode($grams) AS g FROM (
         |  SELECT doc_id, split(text, ' ') AS toks FROM __dsir_raw))
         |GROUP BY doc_id, 2""".stripMargin))
      .createOrReplaceTempView("__dsir_docb")
    // r14 MEASURED AND REJECTED: materializing rcnt/tcnt once (lazy
    // localCheckpoint, broadcast-hinted) to kill their double derivation
    // (each is consumed by the llr join AND its scalar total) read
    // 3.89 → 5.5/5.2 s at sf0.1 — the two extra stage barriers cost more
    // than the duplicated ≤ numBuckets-row aggregations save: rcnt
    // re-reads the docb CACHE and the target side is declared tiny, so
    // the duplication is cheap by design. Inline form stays.
    s.sql(
      s"""WITH rcnt AS (SELECT b, SUM(n) AS c FROM __dsir_docb GROUP BY b),
         |tt0 AS (SELECT split(text, ' ') AS toks FROM __dsir_target),
         |tg AS (SELECT explode($grams) AS g FROM tt0),
         |tcnt AS (SELECT ${bucket("g")} AS b, COUNT(*) AS c FROM tg
         |         GROUP BY 1),
         |llr AS (
         |  SELECT ids.id AS b,
         |         ROUND(ln((COALESCE(tc.c, 0) + 1)
         |                  / CAST(tt.t + $numBuckets AS DOUBLE)), 9)
         |         - ROUND(ln((COALESCE(rc.c, 0) + 1)
         |                    / CAST(rt.t + $numBuckets AS DOUBLE)), 9) AS llr
         |  FROM range($numBuckets) ids
         |  LEFT JOIN tcnt tc ON tc.b = ids.id
         |  LEFT JOIN rcnt rc ON rc.b = ids.id
         |  CROSS JOIN (SELECT COALESCE(SUM(c), 0L) AS t FROM tcnt) tt
         |  CROSS JOIN (SELECT COALESCE(SUM(c), 0L) AS t FROM rcnt) rt),
         |z AS (
         |  SELECT d.doc_id,
         |         SUM(CAST(ROUND(d.n * l.llr, 9) AS DECIMAL(28,9))) AS z
         |  FROM __dsir_docb d JOIN llr l ON l.b = d.b
         |  GROUP BY d.doc_id)
         |SELECT doc_id,
         |       ROUND(CAST(z AS DOUBLE), 6) AS logw,
         |       gumbel,
         |       ROUND(CAST(z AS DOUBLE) + gumbel, 6) AS score
         |FROM (
         |  SELECT doc_id, z,
         |         ROUND(-ln(-ln((CAST(CAST(conv(substring(md5(
         |                      concat('dsir:', CAST(doc_id AS STRING))), 1, 15),
         |                    16, 10) AS BIGINT) AS DOUBLE) + 0.5)
         |                   / 1152921504606846976.0D)), 9) AS gumbel
         |  FROM z)
         |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin)
  }

  /** The oracle-checked form: raw = the full corpus, target = its
    * non-English slice (select raw documents resembling the non-en gram
    * distribution — the cross-lingual variant of the paper's domain
    * targeting), k = 100.
    */
  def dsDsir(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    dsDsir(docs.select("doc_id", "text"),
      docs.filter(col("lang") =!= "en").select("text"), k = 100)
  }

  /** [[dsDsir]] for the COMMON case target ⊆ raw ("select more of the
    * pool that resembles my curated subset OF the pool"): the corpus
    * carries an `is_target` flag, so ONE gram pass feeds both bucket
    * models — the target distribution is a filtered aggregate of the
    * same per-doc bucket counts, not a second corpus scan. Bit-identical
    * to `dsDsir(raw, raw WHERE is_target, k)` (spec-locked): the bucket
    * counts, smoothing, weights and draws are the same numbers; only
    * the redundant pass disappears (42.8 → 32.1 s in a same-session
    * pair at 500k docs with a 400k-doc target, PERF.md r9, addendum45).
    */
  def dsDsirWithin(raw: DataFrame, k: Int,
      numBuckets: Int = 256): DataFrame = {
    require(k >= 1, s"dsDsirWithin: k must be >= 1, got $k")
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"dsDsirWithin: numBuckets must be in [2, 2^20], got $numBuckets")
    val s = raw.sparkSession
    raw.select(col("doc_id"), col("text"), col("is_target"))
      .createOrReplaceTempView("__dsirw_raw")
    val grams =
      """concat(toks,
        |  CASE WHEN size(toks) >= 2
        |       THEN transform(sequence(1, size(toks) - 1),
        |              i -> concat(element_at(toks, i), ' ',
        |                          element_at(toks, i + 1)))
        |       ELSE array() END)""".stripMargin
    val bucket =
      s"pmod(CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT), " +
        s"$numBuckets)"
    Caches.track(s.sql(
      s"""SELECT doc_id, bool_or(is_target) AS is_target, $bucket AS b,
         |       COUNT(*) AS n
         |FROM (SELECT doc_id, is_target, explode($grams) AS g FROM (
         |  SELECT doc_id, is_target, split(text, ' ') AS toks
         |  FROM __dsirw_raw))
         |GROUP BY doc_id, 3""".stripMargin))
      .createOrReplaceTempView("__dsir_docb")
    s.sql(
      s"""WITH rcnt AS (SELECT b, SUM(n) AS c FROM __dsir_docb GROUP BY b),
         |tcnt AS (SELECT b, SUM(n) AS c FROM __dsir_docb WHERE is_target
         |         GROUP BY b),
         |llr AS (
         |  SELECT ids.id AS b,
         |         ROUND(ln((COALESCE(tc.c, 0) + 1)
         |                  / CAST(tt.t + $numBuckets AS DOUBLE)), 9)
         |         - ROUND(ln((COALESCE(rc.c, 0) + 1)
         |                    / CAST(rt.t + $numBuckets AS DOUBLE)), 9) AS llr
         |  FROM range($numBuckets) ids
         |  LEFT JOIN tcnt tc ON tc.b = ids.id
         |  LEFT JOIN rcnt rc ON rc.b = ids.id
         |  CROSS JOIN (SELECT COALESCE(SUM(c), 0L) AS t FROM tcnt) tt
         |  CROSS JOIN (SELECT COALESCE(SUM(c), 0L) AS t FROM rcnt) rt),
         |z AS (
         |  SELECT d.doc_id,
         |         SUM(CAST(ROUND(d.n * l.llr, 9) AS DECIMAL(28,9))) AS z
         |  FROM __dsir_docb d JOIN llr l ON l.b = d.b
         |  GROUP BY d.doc_id)
         |SELECT doc_id,
         |       ROUND(CAST(z AS DOUBLE), 6) AS logw,
         |       gumbel,
         |       ROUND(CAST(z AS DOUBLE) + gumbel, 6) AS score
         |FROM (
         |  SELECT doc_id, z,
         |         ROUND(-ln(-ln((CAST(CAST(conv(substring(md5(
         |                      concat('dsir:', CAST(doc_id AS STRING))), 1, 15),
         |                    16, 10) AS BIGINT) AS DOUBLE) + 0.5)
         |                   / 1152921504606846976.0D)), 9) AS gumbel
         |  FROM z)
         |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin)
  }

  /** Per-source quality-percentile filtering (the curation step that
    * drops the worst of each source rather than applying one global
    * cutoff: a uniformly weak source still keeps its best documents, a
    * strong source still sheds its worst). Keeps the top ceil(keepFrac·n)
    * rows of every source by `scoreCol` — exact rank with a doc_id
    * tiebreak, so the kept set is deterministic at any parallelism and
    * identical across engines.
    *
    * Scale design: ONE source exchange feeds both windows (the ordered
    * ROW_NUMBER and the unordered per-source COUNT share the partition
    * key); no global sort — the trailing ORDER BY is presentation-only
    * (plan-locked). Per-source ranking is inherently a per-source sort;
    * if one source dominates a 100 TB corpus, pre-split it into (source,
    * shard) cells the way ds_lenbucket shards its bands and filter per
    * cell — the fraction rule is shard-decomposable.
    */
  def dsQualityFilter(scored: DataFrame, scoreCol: String,
      keepFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
    scored
      .withColumn("__rn", row_number().over(
        w.orderBy(col(scoreCol).desc, col("doc_id"))))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__rn") <= ceil(lit(keepFrac) * col("__n")).cast("long"))
      .drop("__rn", "__n")
      .orderBy("doc_id")
  }

  /** The oracle-checked form: ta_quality's score, keep the top half of
    * every source.
    */
  def dsQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = "split(text, ' ')"
    val scored = Tables.load(s, dir, "documents").selectExpr(
      "doc_id", "source",
      s"size($toks) AS n_tokens",
      s"size(filter($toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'to')) AS n_stop")
      .selectExpr("doc_id", "source",
        "round((CAST(n_tokens AS DOUBLE) / 60.0) * (1 - n_stop / n_tokens), 6) AS quality")
    dsQualityFilter(scored, "quality", keepFrac = 0.5)
  }

  /** Class-balanced exact-k downsampling (the "equalize my sources /
    * languages / labels" step): every class keeps exactly
    * k = min(class sizes) documents, chosen by the reproducible md5-rank
    * order (the ds_shuffle/ds_split digest family — order-independent,
    * identical in both engines). Differs from [[dsSample]] in that k is
    * DATA-DRIVEN: the cap is discovered from the smallest class, not
    * passed as a literal, so the plan joins the ranked corpus against a
    * broadcast 1-row scalar instead of a WindowGroupLimit literal.
    *
    * Scale design: one hash exchange on the class key carries both the
    * rank and the class-count windows (the ds_qfilter discipline); the
    * min-k scalar is a global aggregate of the per-class counts and
    * broadcasts back. Class skew at 100 TB: the per-class sort is the
    * same per-source sort ds_qfilter documents — shard-decomposable if
    * one class dominates.
    */
  def dsBalance(docs: DataFrame, classCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(classCol))
    val ranked = docs
      .withColumn("__hx", md5(concat(lit("bal:"), col("doc_id").cast("string"))))
      .withColumn("__rk", row_number().over(
        w.orderBy(col("__hx"), col("doc_id"))))
      .withColumn("__n", count(lit(1)).over(w))
    val kDf = ranked.agg(min("__n").as("__k"))
    ranked.crossJoin(broadcast(kDf))
      .filter(col("__rk") <= col("__k"))
      .select(col("doc_id"), col(classCol).as("cls"),
        col("__rk").cast("long").as("rk"), col("__k").as("k"))
      .orderBy("cls", "rk")
  }

  /** The oracle-checked form: balance the corpus across languages. */
  def dsBalance(s: SparkSession, dir: String): DataFrame =
    dsBalance(Tables.load(s, dir, "documents").select("doc_id", "lang"),
      "lang")

  /** Inverse-frequency class weights (the class-balanced-loss companion
    * to [[dsBalance]]): weight_c = N / (K · n_c), so Σ n_c·w_c = N and a
    * uniform corpus reads 1.0 everywhere. dsBalance THROWS AWAY data to
    * equalize classes; this keeps every row and hands the trainer the
    * loss weights instead — the standard alternative when the small
    * class is too precious to subsample against. Integer counts, one
    * final division.
    *
    * Scale design: one partial-agg count by class; the (K, N) scalar
    * broadcasts back over the class-sized relation. Nothing corpus-sized
    * after the first aggregate.
    */
  def dsClassWeight(docs: DataFrame, classCol: String): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__cw_docs")
    s.sql(
      s"""WITH c AS (
         |  SELECT $classCol AS cls, COUNT(*) AS n_docs
         |  FROM __cw_docs GROUP BY $classCol),
         |t AS (SELECT COUNT(*) AS k, SUM(n_docs) AS n FROM c)
         |SELECT c.cls, c.n_docs,
         |       ROUND(CAST(t.n AS DOUBLE) / (t.k * c.n_docs), 6) AS weight
         |FROM c CROSS JOIN t ORDER BY c.cls""".stripMargin)
  }

  /** The oracle-checked form: language-class weights over the corpus. */
  def dsClassWeight(s: SparkSession, dir: String): DataFrame =
    dsClassWeight(Tables.load(s, dir, "documents").select("doc_id", "lang"),
      "lang")

  /** Context-length packing-efficiency curve: for each candidate context
    * length L, the bin count and utilization under per-document padding
    * (every doc rounded up to its own ceil(n/L) windows — what a naive
    * loader pays) against the cross-document ideal ceil(Σn/L) (what
    * ds_pack's concatenating writer approaches). The gap between
    * pad_util and ideal_util IS the business case for packing at a given
    * L — the table a team reads before fixing the context length. All
    * ceilings are integer arithmetic ((n + L − 1) div L); the two
    * utilizations are the only divisions.
    *
    * Scale design: one token-count pass; the per-L rollup is a 3-row
    * CROSS JOIN against a literal array — output is |L|-sized.
    */
  def dsPackEff(docs: DataFrame, lens: Seq[Int] = Seq(128, 256, 512))
      : DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__pe_docs")
    s.sql(
      s"""WITH t AS (SELECT size(split(text, ' ')) AS n FROM __pe_docs),
         |ls AS (SELECT explode(array(${lens.mkString(", ")})) AS len),
         |agg AS (
         |  SELECT ls.len, COUNT(*) AS n_docs, SUM(t.n) AS total_tokens,
         |         SUM((t.n + ls.len - 1) div ls.len) AS pad_bins
         |  FROM t CROSS JOIN ls GROUP BY ls.len)
         |SELECT len, n_docs, total_tokens, pad_bins,
         |       ROUND(CAST(total_tokens AS DOUBLE) / (len * pad_bins), 6)
         |         AS pad_util,
         |       (total_tokens + len - 1) div len AS ideal_bins,
         |       ROUND(CAST(total_tokens AS DOUBLE)
         |             / (len * ((total_tokens + len - 1) div len)), 6)
         |         AS ideal_util
         |FROM agg ORDER BY len""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def dsPackEff(s: SparkSession, dir: String): DataFrame =
    dsPackEff(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Split-drift audit: the exact two-sample Kolmogorov–Smirnov D
    * between the token-length distributions of a deterministic 50/50
    * hash split (the ds_kfold digit rule, seed 'drift:') — the
    * train/validation sanity check that catches a split accidentally
    * correlated with document length (a real failure when ids encode
    * crawl order and length drifts over the crawl). D stays an INTEGER
    * until the last step: max |ca·nb − cb·na| over the merged length
    * grid, divided once by na·nb — no floating ECDFs to disagree on.
    *
    * Scale design: one corpus pass to (length, split) counts; the
    * cumulative window runs on the distinct-length relation (hundreds of
    * rows at any SF — the declared small-relation global window). Output
    * is ONE row.
    */
  def dsSplitDrift(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__sd_docs")
    s.sql(
      """WITH g AS (
        |  SELECT size(split(text, ' ')) AS len,
        |         ((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
        |          + instr('0123456789abcdef', substring(h, 2, 1)) - 1) % 2
        |           AS grp
        |  FROM (SELECT text,
        |               md5(concat('drift:', CAST(doc_id AS STRING))) AS h
        |        FROM __sd_docs)),
        |c AS (
        |  SELECT len, SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a,
        |         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS b
        |  FROM g GROUP BY len),
        |t AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM c),
        |cum AS (
        |  SELECT len, SUM(a) OVER (ORDER BY len) AS ca,
        |         SUM(b) OVER (ORDER BY len) AS cb
        |  FROM c),
        |m AS (
        |  SELECT cum.len,
        |         abs(CAST(cum.ca AS DECIMAL(38,0)) * t.nb
        |             - CAST(cum.cb AS DECIMAL(38,0)) * t.na) AS num,
        |         t.na, t.nb
        |  FROM cum CROSS JOIN t),
        |mm AS (SELECT len, num, na, nb, MAX(num) OVER () AS mx FROM m)
        |SELECT na AS n_a, nb AS n_b,
        |       ROUND(CAST(mx AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
        |         AS ks_d,
        |       MIN(len) AS at_len
        |FROM mm WHERE num = mx GROUP BY na, nb, mx""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def dsSplitDrift(s: SparkSession, dir: String): DataFrame =
    dsSplitDrift(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Ingest-order bias audit: Pearson correlation between document id
    * (ingest order) and token length — the TREND companion to
    * [[dsSplitDrift]]'s split test (a crawl whose documents shrink over
    * time biases every id-prefix sample and every resume-from-middle
    * run; this one number says whether position carries signal). All
    * five sums are integers carried as DECIMAL(38,0) partial aggregates;
    * the final formula runs in double on those exact sums, identically
    * in both engines. The DECIMAL bound holds to ~10^19 total id mass
    * (id-dense corpora to ~10 B documents).
    *
    * Scale design: ONE corpus pass to a 1-row aggregate; nothing else.
    */
  def dsIngestBias(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ib_docs")
    s.sql(
      """WITH d AS (
        |  SELECT doc_id AS x,
        |         CAST(size(split(text, ' ')) AS BIGINT) AS y
        |  FROM __ib_docs),
        |s AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * x) AS qx,
        |         SUM(CAST(y AS DECIMAL(38,0)) * y) AS qy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        |  FROM d HAVING COUNT(*) > 1)
        |SELECT n,
        |       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * sy)
        |             / (sqrt(CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
        |                     - CAST(sx AS DOUBLE) * sx)
        |                * sqrt(CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
        |                       - CAST(sy AS DOUBLE) * sy)), 6) AS bias_r
        |FROM s""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def dsIngestBias(s: SparkSession, dir: String): DataFrame =
    dsIngestBias(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Deterministic epoch shuffle (the training-data writer's last step):
    * every document gets a shard (first hex digit of
    * md5('shuffle:'||doc_id) — 16 shards here) and an intra-shard
    * position (rank of the full digest within the shard), i.e. a
    * reproducible global permutation materialized as (shard, pos) — what
    * a trainer consumes as shard files read in order.
    *
    * Scale design: one hash exchange + per-shard sort — ds_pack's shape;
    * the shard-digit count is the scale knob (4-5 hex digits at 100 TB so
    * each shard's sort fits one task). No global sort anywhere: the
    * final ORDER BY is presentation-only.
    */
  def dsShuffle(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__shuf_docs")
    s.sql(
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(concat('shuffle:', CAST(doc_id AS STRING))) AS hx
        |  FROM __shuf_docs)
        |SELECT doc_id,
        |       instr('0123456789abcdef', substring(hx, 1, 1)) - 1 AS shard,
        |       ROW_NUMBER() OVER (
        |         PARTITION BY substring(hx, 1, 1) ORDER BY hx, doc_id) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def dsShuffle(s: SparkSession, dir: String): DataFrame =
    dsShuffle(Tables.load(s, dir, "documents"))

  /** Curriculum ordering (the easy-to-hard training schedule): each
    * document lands in a quality PHASE — floor(sc·phases) on a bounded
    * score, the dsTokBudget band discipline, clamped to [0, phases) — and
    * gets a reproducible within-(phase, shard) position from the
    * ds_shuffle digest draw ('cur:' salt, independent of the other
    * draws). Consuming order is (phase DESC, shard, pos): highest-quality
    * phase first, deterministically shuffled inside each phase.
    *
    * Scale design: the ds_shuffle contract — phases × 16 md5 shards keep
    * every rank window a task-sized partition (more digest digits at
    * larger SF), one hash exchange, no global sort but the presentation
    * ORDER BY; NO corpus-wide ntile (a global quantile rank would
    * single-partition the corpus — phases come from the score's own
    * bounded scale instead).
    *
    * Contract: `sc` is a bounded score in ≈[0,1] (the dsTokBudget
    * contract) — normalize first if not.
    */
  def dsCurriculum(scored: DataFrame, phases: Int): DataFrame = {
    val s = scored.sparkSession
    scored.createOrReplaceTempView("__cur_scored")
    s.sql(
      s"""WITH h AS (
         |  SELECT doc_id, sc,
         |         least($phases - 1, greatest(0,
         |           CAST(floor(sc * $phases) AS INT))) AS phase,
         |         md5(concat('cur:', CAST(doc_id AS STRING))) AS hx
         |  FROM __cur_scored)
         |SELECT doc_id, sc, phase,
         |       instr('0123456789abcdef', substring(hx, 1, 1)) - 1 AS shard,
         |       ROW_NUMBER() OVER (
         |         PARTITION BY phase, substring(hx, 1, 1)
         |         ORDER BY hx, doc_id) AS pos
         |FROM h ORDER BY phase DESC, shard, pos""".stripMargin)
  }

  /** The oracle-checked form: score = type-token ratio (the dsTokBudget
    * scorer), 4 phases.
    */
  def dsCurriculum(s: SparkSession, dir: String): DataFrame =
    dsCurriculum(
      Tables.load(s, dir, "documents").selectExpr(
        "doc_id",
        "round(size(array_distinct(split(text, ' '))) " +
          "/ size(split(text, ' ')), 6) AS sc"),
      phases = 4)

  /** Deterministic source-mixture weighting (the data-mixing step: each
    * source contributes at its configured rate, e.g. wiki oversampled,
    * crawl downsampled). A document survives iff its first two md5 hex
    * digits (a uniform 0..255 draw, keyed 'mix:'||doc_id so it is
    * independent of ds_split's and ds_sample's draws) fall under the
    * source's threshold. Rates here: src<k> keeps (k+1)/10 — every source
    * present, ratios visibly distinct, integer-exact in both engines.
    *
    * Scale design: narrow single-pass filter — no shuffle at all except
    * the presentation ORDER BY; the mixing decision is a pure function of
    * (doc_id, source), so it is reproducible shard-by-shard with no
    * coordination, at any corpus size.
    */
  /** Source repeat-factor ("epochs") assignment — the data-mixing design
    * step: given per-source token counts, integral mixture weights, a
    * total token budget and a max-epochs cap, allocate the budget
    * proportionally to weight, cap any source at maxEpochs passes over
    * its data, and redistribute the surplus among the uncapped sources —
    * the exact water-filling fixpoint, solved in CLOSED FORM: sources
    * sorted ascending by capacity-to-weight ratio E·tok/w cap as a
    * PREFIX, and row i is capped iff E·tok_i·(W−W_{i−1}) ≤
    * (T−C_{i−1})·w_i — an all-INTEGER (DECIMAL(38,0)) comparison on
    * prefix sums, so the capped set is engine-exact; only the final
    * epochs/alloc ratios are (fixed-order, 6 dp) doubles.
    *
    * Scale design: the input is the (source, tokens, weight) relation —
    * taxonomy-sized (tens of rows) at any corpus SF, so the sort window
    * is micro; the corpus-sized work (token counting) happens upstream.
    * The oracle form derives it from `documents` in one combinable agg.
    */
  def dsEpochs(srcTokens: DataFrame, budget: Long,
      maxEpochs: Int): DataFrame = {
    val s = srcTokens.sparkSession
    srcTokens.createOrReplaceTempView("__ep_src")
    val E = maxEpochs
    s.sql(
      s"""WITH tw AS (SELECT SUM(w) AS sw FROM __ep_src),
         |r AS (
         |  SELECT source, tokens, w,
         |         SUM(w) OVER (ORDER BY CAST($E AS DOUBLE) * tokens / w,
         |                      source) - w AS cumw,
         |         SUM($E * tokens) OVER (ORDER BY
         |             CAST($E AS DOUBLE) * tokens / w, source)
         |           - $E * tokens AS cumcap
         |  FROM __ep_src),
         |fl AS (
         |  SELECT r.*,
         |         CAST($E AS DECIMAL(38,0)) * tokens * (t.sw - cumw)
         |           <= CAST($budget - cumcap AS DECIMAL(38,0)) * w AS capped
         |  FROM r CROSS JOIN tw t),
         |fin AS (
         |  SELECT SUM(CASE WHEN capped THEN $E * tokens ELSE 0 END) AS ccap,
         |         SUM(CASE WHEN capped THEN 0 ELSE w END) AS uw
         |  FROM fl)
         |SELECT source, tokens, w, capped,
         |       CASE WHEN capped THEN CAST($E AS DOUBLE)
         |            ELSE ROUND(CAST($budget - f.ccap AS DOUBLE) * w
         |                       / (CAST(f.uw AS DOUBLE)
         |                          * CAST(tokens AS DOUBLE)), 6) END
         |         AS epochs,
         |       CASE WHEN capped THEN CAST($E AS DOUBLE)
         |                             * CAST(tokens AS DOUBLE)
         |            ELSE ROUND(CAST($budget - f.ccap AS DOUBLE) * w
         |                       / CAST(f.uw AS DOUBLE), 6) END
         |         AS alloc_tokens
         |FROM fl CROSS JOIN fin f
         |ORDER BY source""".stripMargin)
  }

  /** The oracle-checked form: tokens = whitespace tokens per source,
    * weights (src<k> → k%5+1), budget = half the corpus tokens, cap 3.
    * The budget scalar is ONE driver-side row (the dsMix bounded-collect
    * discipline).
    */
  def dsEpochs(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    val src = s.sql(
      """SELECT source, SUM(size(split(text, ' '))) AS tokens,
        |       CAST(substring(source, 4) AS INT) % 5 + 1 AS w
        |FROM __docs GROUP BY source,
        |     CAST(substring(source, 4) AS INT) % 5 + 1""".stripMargin)
    val budget = src.selectExpr("SUM(tokens) div 2").head().getLong(0)
    dsEpochs(src, budget, maxEpochs = 3)
  }

  /** Deterministic span-corruption masks (the T5 denoising-objective
    * prep, Raffel et al. 2020 §3.1.4, public): every document's token
    * stream is tiled into length-`spanLen` blocks, and each block masks
    * iff its md5 draw ('mask:'||doc_id||':'||start, the dsMix digest
    * idiom with an independent salt) falls under floor(rate·256) — one
    * row per masked span (doc_id, n_tokens, span_start, span_len), the
    * tail span truncated to the document edge. Block-aligned starts make
    * the mask set NON-OVERLAPPING and reproducible shard-by-shard with
    * no coordination (true T5 sampling is sequential; the block draw
    * keeps the corruption rate and mean span length while staying a
    * pure function of (doc_id, start) — engine-exact, so the oracle
    * checks every span byte-for-byte).
    *
    * Scale design: narrow single pass (sequence/filter/transform HOFs
    * over each row's own block indices — n/spanLen elements, never the
    * token array), one explode bounded by rate·n/spanLen rows per doc;
    * no shuffle but the presentation ORDER BY.
    */
  def dsSpanMask(docs: DataFrame, rate: Double, spanLen: Int): DataFrame = {
    val s = docs.sparkSession
    require(rate > 0 && rate <= 1, s"rate out of (0,1]: $rate")
    require(spanLen >= 1, s"spanLen < 1: $spanLen")
    val thr = math.floor(rate * 256).toInt
    docs.createOrReplaceTempView("__mask_docs")
    s.sql(
      s"""WITH t AS (
         |  SELECT doc_id, size(split(text, ' ')) AS n FROM __mask_docs),
         |sp AS (
         |  SELECT doc_id, n,
         |         explode(filter(
         |           transform(sequence(0, CAST((n - 1) div $spanLen AS INT)),
         |                     i -> CAST(i * $spanLen AS BIGINT)),
         |           p -> (instr('0123456789abcdef',
         |                   substring(md5(concat('mask:', CAST(doc_id AS STRING),
         |                     ':', CAST(p AS STRING))), 1, 1)) - 1) * 16
         |                + instr('0123456789abcdef',
         |                    substring(md5(concat('mask:', CAST(doc_id AS STRING),
         |                      ':', CAST(p AS STRING))), 2, 1)) - 1 < $thr))
         |           AS span_start
         |  FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, span_start,
         |       LEAST(CAST($spanLen AS BIGINT), n - span_start) AS span_len
         |FROM sp ORDER BY doc_id, span_start""".stripMargin)
  }

  /** The oracle-checked form: the published T5 defaults — 15 % corruption
    * target (thr 38/256 ≈ 14.8 %), span length 3.
    */
  def dsSpanMask(s: SparkSession, dir: String): DataFrame =
    dsSpanMask(Tables.load(s, dir, "documents").select("doc_id", "text"),
      rate = 0.15, spanLen = 3)

  /** End-to-end curation pipeline in ONE pass (the "assemble the
    * training set" showcase: a user of the standalone operators composes
    * exactly this): per document — exact-dedup canonicality (md5
    * keep-first, the ddExact rule), Gopher quality keep (the taGopher
    * bounds), source-mixture keep (the dsMix digest draw against
    * caller-supplied rates), the train/val/test split (the dsSplit
    * digest), and the conjunction `train_keep` = canonical ∧ quality ∧
    * mixed ∧ split='train' — the final training-set membership flag.
    *
    * Each rule is BYTE-IDENTICAL to its standalone entry (PipelineSpec
    * locks the agreement per column on a real corpus), so composing here
    * changes no decisions — it changes the PLAN: the standalone chain
    * costs one md5-window shuffle plus three doc_id joins to reassemble
    * the flags; this single pass costs the md5-window shuffle and
    * nothing else (every other rule is a narrow function of the row,
    * computed in the same projection; the rate map joins broadcast,
    * PlanSpec-locked). At 100 TB that is the difference between one
    * corpus shuffle and four.
    */
  def dsPipeline(docs: DataFrame, rates: Map[String, Double]): DataFrame = {
    val s = docs.sparkSession
    require(rates.values.forall(_ >= 0), "negative keep-rate")
    val thr = {
      import s.implicits._
      rates.toSeq.map { case (src, r) => (src, math.floor(r * 256).toInt) }
        .toDF("source", "thr")
    }
    docs.createOrReplaceTempView("__pipe_docs")
    broadcast(thr).createOrReplaceTempView("__pipe_rates")
    s.sql(
      """WITH flags AS (
        |  SELECT d.doc_id, d.source,
        |         ROW_NUMBER() OVER (PARTITION BY md5(d.text)
        |                            ORDER BY d.doc_id) AS rn,
        |         size(split(d.text, ' ')) AS n_tokens,
        |         length(replace(d.text, ' ', '')) AS n_word_chars,
        |         size(array_distinct(split(d.text, ' '))) AS n_types,
        |         size(regexp_extract_all(d.text, '[#*&^~|]', 0)) AS n_symbols,
        |         length(d.text) AS n_chars,
        |         (instr('0123456789abcdef',
        |            substring(md5(concat('mix:', CAST(d.doc_id AS STRING))), 1, 1)) - 1) * 16
        |         + instr('0123456789abcdef',
        |             substring(md5(concat('mix:', CAST(d.doc_id AS STRING))), 2, 1)) - 1
        |           AS draw,
        |         instr('0123456789abcdef',
        |           substring(md5(concat('split:', CAST(d.doc_id AS STRING))), 1, 1))
        |           - 1 AS sd,
        |         r.thr
        |  FROM __pipe_docs d JOIN __pipe_rates r ON r.source = d.source),
        |scored AS (
        |  SELECT doc_id, source, rn = 1 AS canonical,
        |         round(n_word_chars / n_tokens, 6) >= 3
        |           AND round(n_word_chars / n_tokens, 6) <= 10
        |           AND round(n_types / n_tokens, 6) > 0.2
        |           AND round(n_symbols / n_chars, 6) < 0.1 AS quality_keep,
        |         draw < thr AS mix_keep,
        |         CASE WHEN sd < 12 THEN 'train' WHEN sd < 14 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM flags)
        |SELECT doc_id, source, canonical, quality_keep, mix_keep, split,
        |       canonical AND quality_keep AND mix_keep AND split = 'train'
        |         AS train_keep
        |FROM scored ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: the synthetic taxonomy's rates (src<k>
    * keeps (k+1)/10 — the dsMix oracle family), derived from the DISTINCT
    * source relation (taxonomy-bounded driver collect).
    */
  def dsPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val rates = docs.select("source").distinct().collect()
      .map(_.getString(0))
      .map(n => n -> (n.stripPrefix("src").toInt + 1) / 10.0)
      .toMap
    dsPipeline(docs, rates)
  }

  /** Temperature-scaled source mixture (the multilingual-corpus staple,
    * mC4/T5-style: sample source s with probability ∝ n_s^α, α < 1
    * flattening the head so low-resource sources are boosted): per
    * source, the natural token share, the temperature weight n^α, the
    * resampling probability p = w/Σw, and the boost factor p/share.
    *
    * Engine-exactness: the oracle form fixes α = 0.5, where n^α is
    * `sqrt` — IEEE-754 requires sqrt correctly rounded, so the weight is
    * bit-identical in both engines (POWER(x, 0.5) carries no such
    * guarantee; see the production entry's contract). The weights are
    * quantized to DECIMAL(28,6) before summing, so Σw is an exact decimal
    * fold (order-free); every emitted ratio is then ONE fixed-shape
    * double expression over identical exact scalars, rounded to 6 (the
    * q36 moment discipline).
    *
    * Scale design: the input is the (source, n_docs, tokens) relation —
    * taxonomy-sized at any corpus SF, so everything after the upstream
    * combinable token count is micro; the Σ scalar is ONE cross-joined
    * row (the dsEpochs broadcast-back shape). No window, no
    * corpus-sized shuffle anywhere.
    */
  def dsTemperature(srcStats: DataFrame, alpha: Double): DataFrame = {
    val s = srcStats.sparkSession
    require(alpha > 0 && alpha <= 1, s"alpha out of (0,1]: $alpha")
    // α = 0.5 lowers to sqrt (correctly rounded by IEEE-754, so
    // engine-exact); any other α uses libm pow, whose last-ulp behaviour
    // is implementation-defined — fine in production, not oracle-gradable.
    val w =
      if (alpha == 0.5) "SQRT(CAST(tokens AS DOUBLE))"
      else s"POWER(CAST(tokens AS DOUBLE), CAST($alpha AS DOUBLE))"
    srcStats.createOrReplaceTempView("__temp_src")
    s.sql(
      s"""WITH w AS (
         |  SELECT source, n_docs, tokens,
         |         CAST(ROUND($w, 6) AS DECIMAL(28,6)) AS wq
         |  FROM __temp_src),
         |t AS (SELECT SUM(wq) AS sw, SUM(tokens) AS st FROM w)
         |SELECT source, n_docs, tokens AS n_tokens,
         |       CAST(wq AS DOUBLE) AS weight,
         |       ROUND(CAST(tokens AS DOUBLE) / CAST(t.st AS DOUBLE), 6)
         |         AS share,
         |       ROUND(CAST(wq AS DOUBLE) / CAST(t.sw AS DOUBLE), 6) AS p,
         |       ROUND((CAST(wq AS DOUBLE) / CAST(t.sw AS DOUBLE))
         |             / (CAST(tokens AS DOUBLE) / CAST(t.st AS DOUBLE)), 6)
         |         AS boost
         |FROM w CROSS JOIN t ORDER BY source""".stripMargin)
  }

  /** The oracle-checked form: per-source doc/whitespace-token counts from
    * `documents` (one combinable agg), α = 0.5 (the sqrt-exact point).
    */
  def dsTemperature(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    dsTemperature(
      s.sql(
        """SELECT source, COUNT(*) AS n_docs,
          |       SUM(size(split(text, ' '))) AS tokens
          |FROM __docs GROUP BY source""".stripMargin),
      alpha = 0.5)
  }

  def dsMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // the synthetic taxonomy's configured rates (src<k> keeps (k+1)/10),
    // derived from the DISTINCT source relation — a driver-side collect
    // bounded by source-taxonomy cardinality, never corpus size. floor of
    // rate*256 is integer-exact against the oracle's (k+1)*256 div 10 for
    // every k (the product's FP error is ~1e-13, never astride an integer).
    val rates = docs.select("source").distinct().collect()
      .map(_.getString(0))
      .map(n => n -> (n.stripPrefix("src").toInt + 1) / 10.0)
      .toMap
    dsMix(docs, rates)
  }

  /** Source-mixture weighting over an arbitrary (doc_id, source, …) corpus
    * with a caller-supplied rate map — the production entry ("mix MY
    * sources at MY rates"). `rates` maps source → keep-rate: a document of
    * source s survives iff its uniform 0..255 draw (first two md5 hex
    * digits of 'mix:'||doc_id — independent of ds_split's and ds_sample's
    * draws) falls below floor(rate*256); rates ≥ 1 keep everything, and
    * sources absent from the map are dropped (rate 0). Oversampling is
    * deliberately out of scope — repetition across epochs belongs to the
    * epoch shuffle (ds_shuffle), not the mixture filter.
    *
    * Scale design: the rate map is a broadcast join against a
    * taxonomy-sized relation, then a narrow single-pass filter — the
    * mixing decision stays a pure function of (doc_id, source), so it is
    * reproducible shard-by-shard with no coordination, at any corpus size.
    */
  def dsMix(docs: DataFrame, rates: Map[String, Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rates.values.forall(_ >= 0), "negative keep-rate")
    val thr = rates.toSeq
      .map { case (src, r) => (src, math.floor(r * 256).toInt) }
      .toDF("source", "thr")
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(thr), "source")
      .where(expr(
        """(instr('0123456789abcdef',
          |   substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 1)) - 1) * 16
          | + instr('0123456789abcdef',
          |     substring(md5(concat('mix:', CAST(doc_id AS STRING))), 2, 1)) - 1
          |""".stripMargin) < col("thr"))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Deterministic proportional source interleaving (the training-order
    * step between mixing and sharding: a reader consuming (shard, pos)
    * order sees sources woven at their configured ratios instead of in
    * blocks). Within each md5 shard, every document gets a per-source
    * digest rank r, and the shard's global order is by r/weight — the
    * classic proportional-fill key: a source of weight 2 places a
    * document at every 0.5 rank-units, weight 1 at every 1.0, so a
    * weight-2 source appears twice as often at every prefix of the
    * stream. The division is one int/int IEEE double op — bit-identical
    * in both engines — with (source, doc_id) tiebreak.
    */
  def dsInterleave(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // synthetic taxonomy weights: src<k> weighs k+1 (the ds_mix rate
    // family as integers) — driver-side distinct over the taxonomy only
    val weights = docs.select("source").distinct().collect()
      .map(_.getString(0)).map(n => n -> (n.stripPrefix("src").toInt + 1))
      .toMap
    dsInterleave(docs, weights)
  }

  /** The parameterized production entry: any (doc_id, source, …) frame
    * with integer source weights; sources absent from `weights` are
    * dropped.
    *
    * Scale design: ds_shuffle's shard discipline — the md5 shard digit
    * count is the scale knob; per shard, one (shard, source) rank window
    * and one shard-local interleave window (two hash exchanges, no
    * global sort; the final ORDER BY is presentation-only), and the
    * weight map rides a broadcast join.
    */
  def dsInterleave(docs: DataFrame, weights: Map[String, Int]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(weights.values.forall(_ > 0), "weights must be positive")
    val w = weights.toSeq.toDF("source", "w")
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(w), "source")
      .createOrReplaceTempView("__il_docs")
    s.sql(
      """WITH sharded AS (
        |  SELECT doc_id, source, w,
        |         instr('0123456789abcdef',
        |           substring(md5(concat('il:', CAST(doc_id AS STRING))), 1, 1))
        |           - 1 AS shard,
        |         md5(concat('il:', CAST(doc_id AS STRING))) AS hx
        |  FROM __il_docs),
        |ranked AS (
        |  SELECT doc_id, source, w, shard,
        |         ROW_NUMBER() OVER (PARTITION BY shard, source
        |                            ORDER BY hx, doc_id) AS r
        |  FROM sharded)
        |SELECT doc_id, source, shard,
        |       ROW_NUMBER() OVER (PARTITION BY shard
        |         ORDER BY CAST(r AS DOUBLE) / w, source, doc_id) AS pos
        |FROM ranked ORDER BY shard, pos""".stripMargin)
  }

  /** Benchmark decontamination — the parameterized production entry: flag
    * every training document sharing at least one n-token gram with the
    * eval set. `train` carries (doc_id LONG, text STRING); `eval` carries
    * (eval_id LONG, text STRING). Returns (doc_id, n_eval_hits) for
    * contaminated documents only; a doc repeating a leaked gram counts
    * each eval snippet once.
    *
    * Scale design: grams join on 8-byte xxhash64 keys (same discipline as
    * dd_minhash_lsh's verification join) after a distinct-per-doc pass,
    * so the equality join is bounded by gram frequency — never all-pairs,
    * and the shuffled key is 8 bytes regardless of gram width.
    */
  def ddDecontam(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    def gramKeys(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), split(col("text"), " ").as("toks"))
        .select(col(idCol), explode(expr(
          s"""CASE WHEN size(toks) >= $n
             |THEN transform(sequence(1, size(toks) - ${n - 1}),
             |       i -> xxhash64(array_join(slice(toks, i, $n), ' ')))
             |ELSE array() END""".stripMargin)).as("g"))
        .distinct()
    gramKeys(train, "doc_id")
      .join(gramKeys(eval, "eval_id"), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("eval_id")).as("n_eval_hits"))
      .orderBy("doc_id")
  }

  /** Twin doc_ids live in a disjoint high range — see Dedup.TwinIdOffset
    * (shared by the whole planted-twin query family).
    */
  val TwinIdOffset: Long = Dedup.TwinIdOffset

  /** The oracle-checked decontamination query. The corpus has no natural
    * contamination, so — mirroring the planted-twin discipline of the
    * dedup queries — the eval set is CARVED FROM the corpus itself:
    * documents with doc_id % 11 = 0 contribute tokens 6..26 as a 21-token
    * eval snippet, so those documents (and their 80%-prefix twins, when
    * long enough) are contaminated by construction and everything else is
    * clean. Train = documents ∪ prefix twins (ids offset by
    * [[TwinIdOffset]]); the gram work delegates to the parameterized
    * [[ddDecontam(train:*]] entry with n = 13. The DuckDB oracle hashes
    * grams with md5 instead of xxhash64, which is fine because the RESULT
    * is hash-family-independent: distinct-per-doc grams first, so any
    * injective-enough key yields the same distinct-eval-hit counts.
    */
  def ddDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
    // 80%-prefix twins; array_join∘slice∘split round-trips exactly (tokens
    // are space-free by construction of split)
    val twins = docs.select(
      (col("doc_id") + TwinIdOffset).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, " +
        "(size(split(text, ' ')) * 4) div 5), ' ')").as("text"))
    val eval = docs.filter(col("doc_id") % 11 === 0).select(
      col("doc_id").as("eval_id"),
      expr("array_join(slice(split(text, ' '), 6, 21), ' ')").as("text"))
    ddDecontam(docs.unionAll(twins), eval, n = 13)
  }

  /** Length-bucketed batch assembly (the padding-waste killer: batching
    * similar-length sequences means a batch pads to its own band's width,
    * not the corpus max). Every document lands in a token-length band
    * (`n_tokens div bandWidth`), and within each (band, md5-shard) cell
    * gets a deterministic batch id and intra-batch position by digest
    * order — a reproducible batch plan, independent of row order.
    *
    * Scale design: the window partition is (band, shard), NOT band alone —
    * token lengths are heavily concentrated, so a band-keyed window would
    * put most of the corpus in one straggler task; the md5 shard digit
    * bounds every partition at ~1/16 of a band (more digits at 100 TB, the
    * ds_pack/ds_shuffle knob). One hash exchange + per-cell sort, no
    * global sort; batches stay length-homogeneous because homogeneity is a
    * band property, not a shard property.
    */
  def dsLenBucket(docs: DataFrame, bandWidth: Int, batchSize: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__lenb_docs")
    s.sql(
      s"""WITH t AS (
         |  SELECT doc_id, size(split(text, ' ')) AS n_tokens,
         |         md5(concat('lenb:', CAST(doc_id AS STRING))) AS hx
         |  FROM __lenb_docs)
         |SELECT doc_id, n_tokens, band, shard,
         |       (rn - 1) div $batchSize AS batch_id,
         |       (rn - 1) % $batchSize AS pos
         |FROM (
         |  SELECT doc_id, n_tokens, n_tokens div $bandWidth AS band,
         |         instr('0123456789abcdef', substring(hx, 1, 1)) - 1 AS shard,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY n_tokens div $bandWidth, substring(hx, 1, 1)
         |           ORDER BY hx, doc_id) AS rn
         |  FROM t)
         |ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: 16-token bands, 32-doc batches. */
  def dsLenBucket(s: SparkSession, dir: String): DataFrame =
    dsLenBucket(Tables.load(s, dir, "documents"), bandWidth = 16,
      batchSize = 32)

  /** Token-budget data selection (the "pick the best B tokens" curriculum
    * step): documents are ranked by score (ties on doc_id), and the
    * greedy prefix whose running token total stays within the budget is
    * kept. The spec is a single global ordered prefix-sum — which is
    * exactly what must NOT run as one global window at scale — so the
    * implementation is the classic two-pass distributed prefix-sum:
    *
    *   1. coarse score band = floor(sc·16): per-band token totals
    *      (one map-side-combined agg, ≤17 rows);
    *   2. each band's offset = Σ totals of strictly-higher bands (window
    *      over the 17-row relation — the only unpartitioned window, same
    *      dispensation as the IVF candidate relation);
    *   3. per-row cum = band offset + running sum within the band
    *      (window PARTITIONED BY band — the corpus-sized window never
    *      single-partitions).
    *
    * Band order aligns with score order because floor(sc·16) is monotone
    * in sc, so the two-pass cum equals the global-window cum row for row
    * — the DuckDB oracle computes the naive global window and the hash
    * comparison proves the decomposition exact. Emits every row with its
    * kept flag (kept = cum ≤ budget) rather than filtering, so the
    * selection boundary is visible and row count is corpus-stable.
    *
    * Contract: `sc` is a BOUNDED score (a ratio/quality in ≈[0,1], as
    * every scorer in this library emits) — the band ladder has
    * ~16·range(sc) rungs, and only a bounded range keeps the offset
    * relation trivially small. Normalize (e.g. rank/percentile) before
    * feeding an unbounded score.
    */
  def dsTokBudget(scored: DataFrame, budget: Long): DataFrame = {
    val s = scored.sparkSession
    scored.createOrReplaceTempView("__tb_scored")
    s.sql(
      s"""WITH b AS (
         |  SELECT doc_id, n_tok, sc, CAST(floor(sc * 16) AS INT) AS band
         |  FROM __tb_scored),
         |btot AS (
         |  SELECT band, SUM(n_tok) AS btok FROM b GROUP BY band),
         |boff AS (
         |  SELECT band,
         |         COALESCE(SUM(btok) OVER (ORDER BY band DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0L) AS off
         |  FROM btot),
         |c AS (
         |  SELECT b.doc_id, b.n_tok, b.sc,
         |         o.off + SUM(b.n_tok) OVER (PARTITION BY b.band
         |           ORDER BY b.sc DESC, b.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM b JOIN boff o ON o.band = b.band)
         |SELECT doc_id, n_tok, sc, cum, cum <= $budget AS kept
         |FROM c ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: score = type-token ratio (rounded 6, exact
    * int/int division), budget fixed at 100k tokens (≈45 % of the sf0.01
    * corpus, so the boundary lands mid-corpus and both flag values are
    * exercised at every SF).
    */
  def dsTokBudget(s: SparkSession, dir: String): DataFrame =
    dsTokBudget(
      Tables.load(s, dir, "documents").selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS n_tok",
        "round(size(array_distinct(split(text, ' '))) / size(split(text, ' ')), 6) AS sc"),
      budget = 100000L)

  /** Duplicate-aware training weights (the SoftDeDup idea — down-weight
    * near-duplicate clusters instead of dropping members): given cluster
    * membership rows (doc_id, canon_id) — e.g. [[ddResolve]]'s output —
    * every corpus document gets weight 1/|its cluster| (1.0 when it
    * belongs to no cluster), so each near-dup GROUP contributes one
    * document's worth of gradient mass while keeping all surface variants
    * in the mix. The soft alternative to [[graft.ops.Dedup.ddKeepBest]]'s
    * hard selection.
    *
    * Engine-exactness: cluster sizes are integer counts; the weight is
    * ONE double division rounded to 6.
    *
    * Scale design: one canon_id-keyed count (cluster-cardinality output),
    * one doc_id join back to members, one left join onto the corpus —
    * members are near-dup-pair-bounded (tiny next to the corpus), so both
    * enrichment joins broadcast; the corpus itself crosses the wire once.
    */
  def dsSoftDedup(corpus: DataFrame, members: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    corpus.createOrReplaceTempView("__sd_corpus")
    members.createOrReplaceTempView("__sd_members")
    s.sql(
      """WITH sz AS (
        |  SELECT canon_id, COUNT(*) AS n FROM __sd_members GROUP BY canon_id),
        |m AS (
        |  SELECT mb.doc_id, sz.n FROM __sd_members mb
        |  JOIN sz ON sz.canon_id = mb.canon_id)
        |SELECT c.doc_id,
        |       COALESCE(m.n, CAST(1 AS BIGINT)) AS cluster_size,
        |       ROUND(CAST(1 AS DOUBLE) / COALESCE(m.n, CAST(1 AS BIGINT)), 6)
        |         AS weight
        |FROM __sd_corpus c LEFT JOIN m ON m.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin)
  }

  /** The oracle-checked form: corpus = the dd_simhash_pairs twin-planted
    * id space, members = [[ddResolve]]'s simhash near-dup clusters — every
    * planted (doc, twin) pair must land at weight 0.5 (or lower when
    * natural duplicates chain the cluster wider) and unclustered docs at
    * 1.0.
    */
  def dsSoftDedup(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    val corpus = s.sql(
      s"""SELECT doc_id FROM __docs
         |UNION ALL
         |SELECT doc_id + ${Dedup.TwinIdOffset} FROM __docs""".stripMargin)
    // unordered membership (r13): the weight join never needed
    // dd_resolve's presentation sort
    dsSoftDedup(corpus, ddResolveCounted(s, dir)._1)
  }

  /** Deterministic token-dropout augmentation (the EDA random-deletion
    * move, reproducible): token i of document d survives iff its
    * md5("drop:<d>:<i>") draw clears `rate` — the block-aligned digest
    * discipline of ds_spanmask, so the same (doc, position) always makes
    * the same call on any shard layout, any engine, any rerun. Output
    * carries the original and kept token counts plus the augmented text.
    *
    * Scale design: a pure narrow pass — the filter is a higher-order
    * function over the token array (no explode, no shuffle), one md5 per
    * position inside codegen.
    */
  def dsDropout(docs: DataFrame, rate: Double = 0.1): DataFrame = {
    require(rate >= 0 && rate < 1, s"rate out of [0,1): $rate")
    val s = docs.sparkSession
    // the draw is the first 3 hex digits of the digest (0..4095) — rate
    // quantized to /4096, the declared semantics (the md5-digit parse is
    // the dd_simhash discipline and identical in both engines)
    val cut = math.round(rate * 4096).toInt
    docs.createOrReplaceTempView("__do_docs")
    s.sql(
      s"""SELECT doc_id, size(toks) AS n_orig, size(kept) AS n_kept,
         |       array_join(kept, ' ') AS text_aug
         |FROM (
         |  SELECT doc_id, toks,
         |         filter(toks, (x, i) -> aggregate(sequence(1, 3),
         |           0, (acc, k) -> acc * 16 +
         |             instr('0123456789abcdef', substring(
         |               md5(concat('drop:', CAST(doc_id AS STRING), ':',
         |                          CAST(i + 1 AS STRING))), k, 1)) - 1)
         |           >= $cut) AS kept
         |  FROM (SELECT doc_id, split(text, ' ') AS toks FROM __do_docs))
         |ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: 10 % dropout over the testdata corpus. */
  def dsDropout(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    dsDropout(s.sql("SELECT doc_id, text FROM __docs"))
  }

  /** Split-hygiene audit: which HELD-OUT documents (val/test under the
    * ds_split digest rule) share their exact text with ANY train
    * document — the leakage check every split must pass before an eval
    * number is trusted. The testdata's natural whole-document duplicates
    * land on both sides of the random split, so the audit reads real
    * leaks. Equality is md5-of-text (the ddExact/ddCrossDedup
    * discipline).
    *
    * Scale design: digests compact both sides before the join; the train
    * digest relation is DISTINCT-compacted and semi-joins the held-out
    * side (one hash join on 128-bit keys, text never shuffles).
    */
  def dsLeakage(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__lk_docs")
    s.sql(
      """WITH tagged AS (
        |  SELECT doc_id, md5(text) AS h,
        |         CASE WHEN instr('0123456789abcdef',
        |                substring(md5(concat('split:', CAST(doc_id AS STRING))),
        |                          1, 1)) - 1 < 12
        |              THEN 'train' ELSE 'heldout' END AS side
        |  FROM __lk_docs),
        |train AS (SELECT DISTINCT h FROM tagged WHERE side = 'train')
        |SELECT t.doc_id, tr.h IS NOT NULL AS leaked
        |FROM tagged t LEFT JOIN train tr ON tr.h = t.h
        |WHERE t.side = 'heldout'
        |ORDER BY t.doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus. */
  def dsLeakage(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    dsLeakage(s.sql("SELECT doc_id, text FROM __docs"))
  }

  /** Sorted-vs-random batching padding audit: assign documents to fixed-
    * size training batches two ways — length-sorted (the sorted/bucketed
    * batching trick) and hash-random (the naive baseline) — and report
    * each strategy's padded-token overhead. Every batch pads to its own
    * max length, so `padded = Σ_b n_b·max_b`, and
    * `pad_frac = 1 − tokens/padded` is the fraction of compute spent on
    * padding. The number a pipeline owner reads to decide whether
    * length-aware batching is worth the shuffle: sorted batching puts
    * near-equal lengths together and collapses the overhead.
    *
    * Engine-exactness: everything is an integer until the one terminal
    * ROUND; shard and random order are md5 digest draws (seeded,
    * engine-identical), tie-broken on doc_id like every digest draw in
    * the ds_ family.
    *
    * Scale: batching happens WITHIN md5 shards (the ds_shuffle/ds_pack
    * discipline — a real sorted-batcher sorts per worker shard, not
    * globally), so each strategy's rank window is hash-partitioned on
    * the 16-way shard key: one exchange + per-shard sort, never a
    * single-partition global rank. Each shard sees the same length
    * distribution, so the padding verdict matches the global sort's.
    */
  def dsBatchPad(docs: DataFrame, batchSize: Int = 32): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__bp_docs")
    s.sql(
      s"""WITH lens AS (
         |  SELECT doc_id,
         |         substring(md5(concat('bp:', CAST(doc_id AS STRING))),
         |                   1, 1) AS shard,
         |         size(split(text, ' ')) AS n_tok
         |  FROM __bp_docs),
         |assigned AS (
         |  SELECT 'sorted' AS strategy, shard, n_tok,
         |         (ROW_NUMBER() OVER (PARTITION BY shard
         |            ORDER BY n_tok, doc_id) - 1)
         |           div $batchSize AS batch
         |  FROM lens
         |  UNION ALL
         |  SELECT 'random' AS strategy, shard, n_tok,
         |         (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY
         |            md5(concat('bq:', CAST(doc_id AS STRING))), doc_id)
         |          - 1) div $batchSize AS batch
         |  FROM lens),
         |b AS (
         |  SELECT strategy, shard, batch, COUNT(*) AS n,
         |         SUM(n_tok) AS toks, MAX(n_tok) AS mx
         |  FROM assigned GROUP BY strategy, shard, batch)
         |SELECT strategy, COUNT(*) AS n_batches,
         |       SUM(toks) AS total_tokens,
         |       SUM(n * mx) AS total_padded,
         |       ROUND(1 - CAST(SUM(toks) AS DOUBLE) / SUM(n * mx), 6)
         |         AS pad_frac
         |FROM b GROUP BY strategy ORDER BY strategy""".stripMargin)
  }
  def dsBatchPad(s: SparkSession, dir: String): DataFrame =
    dsBatchPad(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** CCNet perplexity-tercile selection (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020 — public): score every document under a PER-LANGUAGE
    * unigram LM (the repo's taPerplexity cross-entropy, partitioned by
    * language), rank each language's documents by that score, and split
    * into HEAD / MIDDLE / TAIL terciles — the paper keeps head+middle
    * and drops the tail as low-quality. Emits the per-doc score, the
    * tercile label, and the kept flag.
    *
    * Engine-exactness: the taPerplexity fold discipline (per-token term
    * rounded to 9 dp, DECIMAL(28,9) summation — exact and order-free),
    * then NTILE(3) over a FULLY deterministic order (xent, doc_id).
    *
    * Scale design (100 TB): the LM count relation is per-language
    * vocabulary-sized and joins back broadcast (the taPerplexity shape);
    * the per-doc reduce is partial-agg SUM/COUNT. The tercile window
    * ranks the DOC-level relation (3 columns/doc — orders of magnitude
    * below the token stream) partitioned by language; at extreme scale
    * swap NTILE for two percentile cut-points joined back broadcast —
    * the declared approximation path, same contract.
    */
  def dsCcnet(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ccn_docs")
    s.sql(
      """WITH tok AS (
        |  SELECT doc_id, lang, explode(split(text, ' ')) AS token
        |  FROM __ccn_docs),
        |cnt AS (SELECT lang, token, COUNT(*) AS c
        |        FROM tok GROUP BY lang, token),
        |tot AS (SELECT lang, SUM(c) AS t FROM cnt GROUP BY lang),
        |terms AS (
        |  SELECT k.doc_id, k.lang,
        |         CAST(ROUND(-ln(CAST(c.c AS DOUBLE) / t.t), 9)
        |              AS DECIMAL(28,9)) AS term
        |  FROM tok k
        |  JOIN cnt c ON c.lang = k.lang AND c.token = k.token
        |  JOIN tot t ON t.lang = k.lang),
        |doc AS (
        |  SELECT doc_id, lang, COUNT(*) AS n_tokens,
        |         ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent
        |  FROM terms GROUP BY doc_id, lang),
        |b AS (
        |  SELECT doc_id, lang, n_tokens, xent,
        |         NTILE(3) OVER (PARTITION BY lang
        |                        ORDER BY xent, doc_id) AS tercile
        |  FROM doc)
        |SELECT doc_id, lang, n_tokens, xent,
        |       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       tercile <= 2 AS kept
        |FROM b ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus (5 languages). */
  def dsCcnet(s: SparkSession, dir: String): DataFrame =
    dsCcnet(Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "text"))

  /** Differentially-private count release (Dwork et al. 2006 — the
    * Laplace mechanism, the standard way a data pipeline PUBLISHES
    * corpus composition stats without exposing individual membership;
    * the release-side complement of [[dsKanon]]'s suppression audit):
    * per-group counts plus Laplace(Δf/ε) noise with sensitivity Δf = 1
    * (one document moves one count by one), then clamp-to-zero and
    * integer rounding for release.
    *
    * The noise draw is the engine's deterministic md5 uniform (seeded
    * on the group key and a caller salt) pushed through the Laplace
    * inverse CDF — reproducible releases (same salt → same noise, the
    * auditable-release property) and hash-exact in DuckDB. True DP in
    * deployment means a fresh random salt per release; the mechanism,
    * sensitivity accounting, and post-processing are exactly this
    * dataflow.
    *
    * Scale design: ONE partial+final count per group, a per-group
    * scalar transform after — no joins, no second corpus pass; released
    * relation is group-sized.
    */
  def dsDpCounts(rows: DataFrame, groupCols: Seq[String], epsilon: Double,
      salt: String = "dp"): DataFrame = {
    require(epsilon > 0 && epsilon <= 100, s"dsDpCounts: bad epsilon $epsilon")
    require(groupCols.nonEmpty, "dsDpCounts: need at least one group column")
    val s = rows.sparkSession
    rows.createOrReplaceTempView("__dp_rows")
    val cats = groupCols.mkString(", ")
    val key = groupCols.map(c => s"CAST($c AS STRING)")
      .mkString(s"concat_ws('|', '$salt', ", ", ", ")")
    s.sql(
      s"""WITH cnt AS (
         |  SELECT $cats, COUNT(*) AS n FROM __dp_rows GROUP BY $cats),
         |draw AS (
         |  SELECT $cats, n,
         |         ROUND((CAST(conv(substring(md5($key), 1, 15), 16, 10)
         |                     AS BIGINT) + 0.5D)
         |               / 1152921504606846976.0D - 0.5D, 9) AS u
         |  FROM cnt)
         |SELECT $cats, scale_b, noise,
         |       GREATEST(0L, CAST(ROUND(n + noise, 0) AS BIGINT))
         |         AS released
         |FROM (
         |  -- noise is 6-dp-rounded BEFORE the release rounding: libm ln
         |  -- may differ across engines in the last ulp, and an unrounded
         |  -- noise inside ROUND(n + ., 0) could flip a .5 boundary
         |  SELECT $cats, n,
         |         ROUND(CAST(1.0D / $epsilon AS DOUBLE), 6) AS scale_b,
         |         ROUND(-(1.0D / $epsilon) * sign(u)
         |               * ln(1.0D - 2.0D * abs(u)), 6) AS noise
         |  FROM draw)
         |ORDER BY $cats""".stripMargin)
  }

  /** The oracle-checked form: (lang, source) composition at ε = 0.5 —
    * the histogram a corpus card publishes.
    */
  def dsDpCounts(s: SparkSession, dir: String): DataFrame =
    dsDpCounts(Tables.load(s, dir, "documents"), Seq("lang", "source"),
      epsilon = 0.5)

  /** D4 diversification pruning (Tirumala et al., "D4: Improving LLM
    * Pretraining via Document De-Duplication and Diversification",
    * NeurIPS 2023 — public): after near-dup removal, drop the most
    * PROTOTYPICAL quarter of every embedding cluster — the points
    * nearest their centroid carry the least marginal information, and
    * the paper shows pruning them beats random selection. Rides the
    * exact ss_ivf_ann k-means chain ([[Similarity.ivfTrainAssignCtes]]),
    * then ranks each cluster by centroid cosine and keeps
    * rank > ⌈n/4⌉. Emits (vec_id, cid, cos_c, keep).
    *
    * Scale design: the k-means chain is the audited IVF shape (centroid
    * relation nlist-sized, broadcast); scoring is one broadcast join;
    * the rank window partitions by cluster over the vector-count-sized
    * relation. Integer keep-threshold ((n+3) div 4) — no float compare
    * at the cut.
    *
    * `nlist` defaults to 0 = AUTO: nlist = max(1, round(√N)) — the
    * [[Similarity.ssIvfAnnAuto]] sizing rule, so the per-cluster rank
    * window is √N-bounded at any corpus size (a fixed nlist of 16 makes
    * each window partition N/16 rows — one task sorting ~6 % of a
    * 100 TB corpus). The one extra job is a count of `emb`; the DuckDB
    * oracle computes the same bound with a scalar subquery.
    */
  def dsD4(s: SparkSession, emb: DataFrame, nlist: Int = 0,
           pretrained: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // pretrained (an [[Similarity.ssIvfTrain]] relation) skips the
    // count job too — the codebook's row count is its nlist
    val nl =
      if (pretrained.isDefined) 0
      else if (nlist > 0) nlist
      else math.max(1L, math.round(math.sqrt(emb.count().toDouble))).toInt
    emb.createOrReplaceTempView("__emb")
    val C = s"cent${Similarity.IvfIters}"
    s.sql(
      s"""WITH ${Similarity.ivfTrainAssignCtes(s, nl, pretrained)},
         |scored AS (
         |  SELECT a.vec_id, a.cid,
         |         ROUND(graft_dot(a.v, c.cv) / (a.nrm * c.cnrm), 6) AS cos_c
         |  FROM assign a JOIN $C c ON c.cid = a.cid),
         |r AS (
         |  SELECT vec_id, cid, cos_c,
         |         ROW_NUMBER() OVER (PARTITION BY cid
         |                            ORDER BY cos_c DESC, vec_id) AS rn,
         |         COUNT(*) OVER (PARTITION BY cid) AS n
         |  FROM scored)
         |SELECT vec_id, cid, cos_c, rn > (n + 3) div 4 AS keep
         |FROM r ORDER BY vec_id""".stripMargin)
  }

  /** The oracle-checked form: the raw embeddings table at the √N
    * auto-sized cluster count (22 at the 500-vector oracle scale).
    */
  def dsD4(s: SparkSession, dir: String): DataFrame =
    dsD4(s, Tables.load(s, dir, "embeddings"))

  /** DoReMi-style domain reweighting (Xie et al. 2023, arXiv 2305.10429
    * — public): multiplicative-weights mirror descent over the corpus's
    * source domains, driven by each domain's EXCESS of a loss proxy over
    * the corpus mean — domains that look harder than average gain
    * mixture weight, capped by the step size. This offline replica uses
    * one static excess estimate (mean chars/doc as the loss proxy — the
    * published method re-estimates with a proxy model each round; the
    * REWEIGHTING loop, which is the part a data engine owns, is
    * identical) and the linearized MWU multiplier w·(1 + η·g)
    * (Arora–Hazan–Kale 2012 survey form) so every round is rational.
    *
    * Engine-exactness: all fixed-point BIGINT — loss in micro-units via
    * the overflow-safe split floor((s div n)·10⁶ + ((s mod n)·10⁶) div
    * n), gradients in ppm of the max excess, weights in ppb renormalized
    * by integer division each round, exactly `rounds` statically
    * unrolled CTE steps. No float in the output at all (weight_ppb is
    * the deliverable — parts-per-billion of the training mixture).
    *
    * Scale design: one combinable (source → count, sum chars) corpus
    * pass; the MWU loop runs entirely on the domains-sized relation
    * (windows over ≤ |domains| rows), so at 100 TB the scan dominates
    * and the 8 rounds are noise.
    */
  private def doremiSql(docsRel: String, idiv: String, rounds: Int,
      etaPpm: Long): String = {
    def microMean(sum: String, n: String): String =
      s"CAST(($sum $idiv $n) * 1000000 + (($sum % $n) * 1000000) $idiv $n AS BIGINT)"
    val stepCtes = (1 to rounds).map { r =>
      s"""w$r AS (SELECT source, n_docs, mean_micro, excess_micro, m,
         | CAST((w * m) $idiv 1000000 AS BIGINT) AS wp FROM n${r - 1}),
         |n$r AS (SELECT source, n_docs, mean_micro, excess_micro, m,
         | CAST((wp * 1000000000) $idiv (SUM(wp) OVER ()) AS BIGINT) AS w
         | FROM w$r)""".stripMargin
    }.mkString(", ")
    s"""WITH st AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS sc
       |  FROM $docsRel GROUP BY source),
       |tot AS (SELECT SUM(n_docs) AS td, SUM(sc) AS tc FROM st),
       |ex AS (
       |  SELECT s.source, s.n_docs,
       |         ${microMean("s.sc", "s.n_docs")} AS mean_micro,
       |         GREATEST(CAST(0 AS BIGINT),
       |           ${microMean("s.sc", "s.n_docs")}
       |           - ${microMean("t.tc", "t.td")}) AS excess_micro
       |  FROM st s CROSS JOIN tot t),
       |mx AS (SELECT MAX(excess_micro) AS me, COUNT(*) AS nd FROM ex),
       |n0 AS (
       |  SELECT e.source, e.n_docs, e.mean_micro, e.excess_micro,
       |         CAST(1000000000 $idiv m.nd AS BIGINT) AS w,
       |         CAST(1000000 + ($etaPpm * (CASE WHEN m.me = 0 THEN 0
       |           ELSE (e.excess_micro * 1000000) $idiv m.me END))
       |           $idiv 1000000 AS BIGINT) AS m
       |  FROM ex e CROSS JOIN mx m),
       |$stepCtes
       |SELECT source, n_docs, mean_micro AS mean_chars_micro,
       |       excess_micro, w AS weight_ppb
       |FROM n$rounds ORDER BY source""".stripMargin
  }

  /** DoReMi reweighting over an arbitrary (source, n_chars) corpus. */
  def dsDoremi(docs: DataFrame, rounds: Int = 8,
      etaPpm: Long = 250000L): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"dsDoremi: rounds in [1, 32], got $rounds")
    require(etaPpm >= 0 && etaPpm <= 1000000,
      s"dsDoremi: etaPpm in [0, 10^6], got $etaPpm")
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__doremi_docs")
    s.sql(doremiSql("__doremi_docs", "div", rounds, etaPpm))
  }

  /** The oracle-checked form over the testdata documents. */
  def dsDoremi(s: SparkSession, dir: String): DataFrame =
    dsDoremi(Tables.load(s, dir, "documents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ds_groupsplit" -> ((s: SparkSession, dir: String) => dsGroupSplit(s, dir)),
    "ds_doremi" -> ((s: SparkSession, dir: String) => dsDoremi(s, dir)),
    "ds_d4" -> ((s: SparkSession, dir: String) => dsD4(s, dir)),
    "ds_dplaplace" -> ((s: SparkSession, dir: String) => dsDpCounts(s, dir)),
    "ds_ccnet" -> ((s: SparkSession, dir: String) => dsCcnet(s, dir)),
    "ds_batchpad" -> ((s: SparkSession, dir: String) => dsBatchPad(s, dir)),
    "ds_leakage" -> ((s: SparkSession, dir: String) => dsLeakage(s, dir)),
    "ds_dropout" -> ((s: SparkSession, dir: String) => dsDropout(s, dir)),
    "ds_softdedup" -> ((s: SparkSession, dir: String) => dsSoftDedup(s, dir)),
    "ds_balance" -> ((s: SparkSession, dir: String) => dsBalance(s, dir)),
    "ds_classweight" -> ((s: SparkSession, dir: String) => dsClassWeight(s, dir)),
    "ds_packeff" -> ((s: SparkSession, dir: String) => dsPackEff(s, dir)),
    "ds_splitdrift" -> ((s: SparkSession, dir: String) => dsSplitDrift(s, dir)),
    "ds_ingestbias" -> ((s: SparkSession, dir: String) => dsIngestBias(s, dir)),
    "ds_tokbudget" -> ((s: SparkSession, dir: String) => dsTokBudget(s, dir)),
    "ds_lenbucket" -> ((s: SparkSession, dir: String) => dsLenBucket(s, dir)),
    "dd_resolve" -> (ddResolve _),
    "dd_decontam" -> ((s: SparkSession, dir: String) => ddDecontam(s, dir)),
    "ta_chunk" -> (taChunk _),
    "ta_redact" -> ((s: SparkSession, dir: String) => taRedact(s, dir)),
    "ta_pii_count" -> ((s: SparkSession, dir: String) => taPiiCount(s, dir)),
    "ds_kfold" -> ((s: SparkSession, dir: String) => dsKfold(s, dir)),
    "ds_curriculum" -> ((s: SparkSession, dir: String) => dsCurriculum(s, dir)),
    "ta_normalize" -> ((s: SparkSession, dir: String) => taNormalize(s, dir)),
    "ds_split" -> (dsSplit _),
    "ds_pack" -> (dsPack _),
    "ds_sample" -> (dsSample _),
    "ds_wsample" -> ((s: SparkSession, dir: String) => dsWeightedSample(s, dir)),
    "ds_dsir" -> ((s: SparkSession, dir: String) => dsDsir(s, dir)),
    "ds_kanon" -> ((s: SparkSession, dir: String) => dsKanon(s, dir)),
    "ds_epochs" -> ((s: SparkSession, dir: String) => dsEpochs(s, dir)),
    "ds_qfilter" -> ((s: SparkSession, dir: String) => dsQualityFilter(s, dir)),
    "ds_shuffle" -> (dsShuffle _),
    "ds_spanmask" -> ((s: SparkSession, dir: String) => dsSpanMask(s, dir)),
    "ds_pipeline" -> ((s: SparkSession, dir: String) => dsPipeline(s, dir)),
    "ds_temperature" -> ((s: SparkSession, dir: String) => dsTemperature(s, dir)),
    "ds_mix" -> ((s: SparkSession, dir: String) => dsMix(s, dir)),
    "ds_interleave" -> ((s: SparkSession, dir: String) => dsInterleave(s, dir)))

  /** dd_resolve oracle: the full simhash-pair SQL (nested as a CTE
    * subquery) + recursive min-label transitive closure.
    */
  private def ddResolveOracle: String = {
    val pairsSql = Dedup.oracleSql("dd_simhash_pairs")
      .replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |e0 AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM e0)
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e0 e ON e.u = r.v)
       |SELECT u AS doc_id, MIN(v) AS canon_id FROM reach GROUP BY u
       |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
  }

  /** ds_softdedup oracle: dd_resolve's closure + cluster sizes, left-joined
    * onto the twin-planted corpus id space with the 1/n weight.
    */
  private def dsSoftDedupOracle: String = {
    val membSql = ddResolveOracle.replace("ORDER BY doc_id", "")
    s"""WITH memb AS ($membSql),
       |sz AS (SELECT canon_id, COUNT(*) AS n FROM memb GROUP BY canon_id),
       |m AS (SELECT memb.doc_id, sz.n FROM memb
       |      JOIN sz ON sz.canon_id = memb.canon_id),
       |corpus AS (SELECT doc_id FROM documents
       |           UNION ALL
       |           SELECT doc_id + ${Dedup.TwinIdOffset} FROM documents)
       |SELECT c.doc_id, COALESCE(m.n, 1)::BIGINT AS cluster_size,
       |       ROUND(1::DOUBLE / COALESCE(m.n, 1), 6) AS weight
       |FROM corpus c LEFT JOIN m ON m.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin.replaceAll("\n", " ")
  }

  val oracleSql: Map[String, String] = Map(
    "ds_groupsplit" ->
      ("SELECT doc_id, source, " +
        "CASE WHEN d < 12 THEN 'train' WHEN d < 14 THEN 'val' " +
        "ELSE 'test' END AS split FROM (" +
        "SELECT doc_id, source, " +
        "instr('0123456789abcdef', " +
        "substring(md5('gsplit:' || source), 1, 1)) - 1 AS d " +
        "FROM documents) ORDER BY doc_id"),
    "ds_doremi" -> doremiSql("documents", "//", 8, 250000L)
      .replaceAll("\n", " "),
    "ds_d4" ->
      (s"""WITH base AS (
          |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v
          |  FROM embeddings),
          |n3 AS (
          |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
          |  FROM base),
          |cent0 AS (
          |  SELECT cid, cv, cnrm FROM (
          |    SELECT (ROW_NUMBER() OVER (
          |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
          |             - 1 AS cid,
          |           v AS cv, nrm AS cnrm
          |    FROM n3)
          |  WHERE cid < (SELECT GREATEST(1,
          |                 CAST(round(sqrt(COUNT(*))) AS INT)) FROM n3)),
          |${Similarity.ivfDuckIters},
          |assign AS (
          |  SELECT vec_id, v, nrm, cid FROM (
          |    SELECT n.vec_id, n.v, n.nrm, c.cid,
          |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
          |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
          |                        FOR i IN generate_series(1, len(n.v))])
          |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
          |    FROM n3 n CROSS JOIN cent${Similarity.IvfIters} c)
          |  WHERE rn = 1),
          |scored AS (
          |  SELECT a.vec_id, a.cid,
          |         ROUND(list_sum([a.v[i] * c.cv[i]
          |                  FOR i IN generate_series(1, len(a.v))])
          |               / (a.nrm * c.cnrm), 6) AS cos_c
          |  FROM assign a JOIN cent${Similarity.IvfIters} c
          |    ON c.cid = a.cid),
          |r AS (
          |  SELECT vec_id, cid, cos_c,
          |         ROW_NUMBER() OVER (PARTITION BY cid
          |                            ORDER BY cos_c DESC, vec_id) AS rn,
          |         COUNT(*) OVER (PARTITION BY cid) AS n
          |  FROM scored)
          |SELECT vec_id, cid, cos_c, rn > (n + 3) // 4 AS keep
          |FROM r ORDER BY vec_id""".stripMargin.replaceAll("\n", " ")),
    "ds_dplaplace" ->
      ("""WITH cnt AS (SELECT lang, source, COUNT(*) AS n """ +
        """FROM documents GROUP BY lang, source), """ +
        """draw AS (SELECT lang, source, n, """ +
        """ROUND((('0x' || substr(md5('dp' || '|' || lang || '|' || """ +
        """source), 1, 15))::BIGINT + 0.5) """ +
        """/ 1152921504606846976.0 - 0.5, 9) AS u FROM cnt) """ +
        """SELECT lang, source, scale_b, noise, """ +
        """GREATEST(0, CAST(ROUND(n + noise, 0) AS BIGINT)) AS released """ +
        """FROM (SELECT lang, source, n, """ +
        """ROUND(1.0::DOUBLE / 0.5, 6) AS scale_b, """ +
        """ROUND(-(1.0::DOUBLE / 0.5) * sign(u) """ +
        """* ln(1.0 - 2.0 * abs(u)), 6) AS noise FROM draw) """ +
        """ORDER BY lang, source"""),
    "ds_ccnet" ->
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) " +
        "AS token FROM documents), " +
        "cnt AS (SELECT lang, token, COUNT(*) AS c " +
        "FROM tok GROUP BY lang, token), " +
        "tot AS (SELECT lang, SUM(c)::BIGINT AS t FROM cnt GROUP BY lang), " +
        "terms AS (SELECT k.doc_id, k.lang, " +
        "CAST(ROUND(-ln(c.c::DOUBLE / t.t), 9) AS DECIMAL(28,9)) AS term " +
        "FROM tok k " +
        "JOIN cnt c ON c.lang = k.lang AND c.token = k.token " +
        "JOIN tot t ON t.lang = k.lang), " +
        "doc AS (SELECT doc_id, lang, COUNT(*) AS n_tokens, " +
        "ROUND(SUM(term)::DOUBLE / COUNT(*), 6) AS xent " +
        "FROM terms GROUP BY doc_id, lang), " +
        "b AS (SELECT doc_id, lang, n_tokens, xent, " +
        "NTILE(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) AS tercile " +
        "FROM doc) " +
        "SELECT doc_id, lang, n_tokens, xent, " +
        "CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
        "ELSE 'tail' END AS bucket, " +
        "tercile <= 2 AS kept " +
        "FROM b ORDER BY doc_id"),
    "ds_batchpad" ->
      ("WITH lens AS (SELECT doc_id, " +
        "substr(md5('bp:' || doc_id::VARCHAR), 1, 1) AS shard, " +
        "len(string_split(text, ' ')) AS n_tok FROM documents), " +
        "assigned AS (" +
        "SELECT 'sorted' AS strategy, shard, n_tok, " +
        "(ROW_NUMBER() OVER (PARTITION BY shard " +
        "ORDER BY n_tok, doc_id) - 1) // 32 AS batch FROM lens " +
        "UNION ALL " +
        "SELECT 'random' AS strategy, shard, n_tok, " +
        "(ROW_NUMBER() OVER (PARTITION BY shard " +
        "ORDER BY md5('bq:' || doc_id::VARCHAR), doc_id) - 1) // 32 " +
        "FROM lens), " +
        "b AS (SELECT strategy, shard, batch, COUNT(*) AS n, " +
        "SUM(n_tok) AS toks, MAX(n_tok) AS mx " +
        "FROM assigned GROUP BY 1, 2, 3) " +
        "SELECT strategy, COUNT(*) AS n_batches, " +
        "CAST(SUM(toks) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(n * mx) AS BIGINT) AS total_padded, " +
        "ROUND(1 - SUM(toks)::DOUBLE / SUM(n * mx), 6) AS pad_frac " +
        "FROM b GROUP BY strategy ORDER BY strategy"),
    "ds_spanmask" ->
      ("""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n """ +
        """FROM documents), """ +
        """sp AS (SELECT doc_id, n, unnest( """ +
        """[p FOR p IN [i * 3 FOR i IN generate_series(0, (n - 1) // 3)] """ +
        """IF (strpos('0123456789abcdef', """ +
        """substr(md5('mask:' || doc_id::VARCHAR || ':' || p::VARCHAR), """ +
        """1, 1)) - 1) * 16 """ +
        """+ strpos('0123456789abcdef', """ +
        """substr(md5('mask:' || doc_id::VARCHAR || ':' || p::VARCHAR), """ +
        """2, 1)) - 1 < 38]) AS span_start FROM t) """ +
        """SELECT doc_id, n AS n_tokens, span_start, """ +
        """LEAST(3, n - span_start) AS span_len """ +
        """FROM sp ORDER BY doc_id, span_start"""),
    "ds_pipeline" ->
      ("""WITH flags AS (SELECT d.doc_id, d.source, """ +
        """ROW_NUMBER() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) """ +
        """AS rn, """ +
        """len(string_split(d.text, ' ')) AS n_tokens, """ +
        """length(replace(d.text, ' ', '')) AS n_word_chars, """ +
        """len(list_distinct(string_split(d.text, ' '))) AS n_types, """ +
        """len(regexp_extract_all(d.text, '[#*&^~|]')) AS n_symbols, """ +
        """length(d.text) AS n_chars, """ +
        """(strpos('0123456789abcdef', """ +
        """substr(md5('mix:' || d.doc_id::VARCHAR), 1, 1)) - 1) * 16 """ +
        """+ strpos('0123456789abcdef', """ +
        """substr(md5('mix:' || d.doc_id::VARCHAR), 2, 1)) - 1 AS draw, """ +
        """strpos('0123456789abcdef', """ +
        """substr(md5('split:' || d.doc_id::VARCHAR), 1, 1)) - 1 AS sd, """ +
        """(substr(d.source, 4)::INT + 1) * 256 // 10 AS thr """ +
        """FROM documents d), """ +
        """scored AS (SELECT doc_id, source, rn = 1 AS canonical, """ +
        """round(n_word_chars / n_tokens, 6) >= 3 """ +
        """AND round(n_word_chars / n_tokens, 6) <= 10 """ +
        """AND round(n_types / n_tokens, 6) > 0.2 """ +
        """AND round(n_symbols / n_chars, 6) < 0.1 AS quality_keep, """ +
        """draw < thr AS mix_keep, """ +
        """CASE WHEN sd < 12 THEN 'train' WHEN sd < 14 THEN 'val' """ +
        """ELSE 'test' END AS split FROM flags) """ +
        """SELECT doc_id, source, canonical, quality_keep, mix_keep, split, """ +
        """canonical AND quality_keep AND mix_keep AND split = 'train' """ +
        """AS train_keep FROM scored ORDER BY doc_id"""),
    "ds_temperature" ->
      ("""WITH src AS (SELECT source, COUNT(*) AS n_docs, """ +
        """SUM(len(string_split(text, ' ')))::BIGINT AS tokens """ +
        """FROM documents GROUP BY source), """ +
        """w AS (SELECT source, n_docs, tokens, """ +
        """ROUND(SQRT(tokens::DOUBLE), 6)::DECIMAL(28,6) AS wq FROM src), """ +
        """t AS (SELECT SUM(wq) AS sw, SUM(tokens)::BIGINT AS st FROM w) """ +
        """SELECT source, n_docs, tokens AS n_tokens, """ +
        """wq::DOUBLE AS weight, """ +
        """ROUND(tokens::DOUBLE / t.st::DOUBLE, 6) AS share, """ +
        """ROUND(wq::DOUBLE / t.sw::DOUBLE, 6) AS p, """ +
        """ROUND((wq::DOUBLE / t.sw::DOUBLE) """ +
        """/ (tokens::DOUBLE / t.st::DOUBLE), 6) AS boost """ +
        """FROM w CROSS JOIN t ORDER BY source"""),
    "ds_epochs" ->
      ("""WITH src AS (SELECT source, """ +
        """SUM(len(string_split(text, ' ')))::BIGINT AS tokens, """ +
        """(substr(source, 4)::INT % 5 + 1) AS w FROM documents """ +
        """GROUP BY source, substr(source, 4)::INT % 5 + 1), """ +
        """bud AS (SELECT SUM(tokens)::BIGINT // 2 AS t FROM src), """ +
        """tw AS (SELECT SUM(w)::BIGINT AS sw FROM src), """ +
        """r AS (SELECT source, tokens, w, """ +
        """SUM(w) OVER (ORDER BY 3::DOUBLE * tokens / w, source) - w AS cumw, """ +
        """SUM(3 * tokens) OVER (ORDER BY 3::DOUBLE * tokens / w, source) """ +
        """- 3 * tokens AS cumcap FROM src), """ +
        """fl AS (SELECT r.*, b.t, """ +
        """3::DECIMAL(38,0) * tokens * (tw.sw - cumw) """ +
        """<= (b.t - cumcap)::DECIMAL(38,0) * w AS capped """ +
        """FROM r CROSS JOIN tw CROSS JOIN bud b), """ +
        """fin AS (SELECT """ +
        """SUM(CASE WHEN capped THEN 3 * tokens ELSE 0 END)::BIGINT AS ccap, """ +
        """SUM(CASE WHEN capped THEN 0 ELSE w END)::BIGINT AS uw FROM fl) """ +
        """SELECT source, tokens, w, capped, """ +
        """CASE WHEN capped THEN 3::DOUBLE """ +
        """ELSE ROUND((t - f.ccap)::DOUBLE * w / (f.uw::DOUBLE * tokens::DOUBLE), 6) """ +
        """END AS epochs, """ +
        """CASE WHEN capped THEN 3::DOUBLE * tokens::DOUBLE """ +
        """ELSE ROUND((t - f.ccap)::DOUBLE * w / f.uw::DOUBLE, 6) END """ +
        """AS alloc_tokens """ +
        """FROM fl CROSS JOIN fin f ORDER BY source"""),
    "ds_wsample" ->
      ("""SELECT doc_id, weight, race FROM ( """ +
        """SELECT doc_id, n_chars::DOUBLE AS weight, """ +
        """ROUND(-ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 15))::BIGINT + 1) """ +
        """/ 1152921504606846976.0) / n_chars::DOUBLE, 9) AS race """ +
        """FROM documents WHERE n_chars::DOUBLE > 0) """ +
        """ORDER BY race, doc_id LIMIT 100"""),
    "ds_kanon" ->
      ("""WITH base AS ( """ +
        """SELECT lang, source, n_chars // 250 AS b0, """ +
        """string_split(text, ' ')[1] AS sv, COUNT(*) AS n """ +
        """FROM documents GROUP BY lang, source, 3, sv), """ +
        """lv AS (SELECT unnest(generate_series(0, 9)) AS level), """ +
        """cls AS ( """ +
        """SELECT level, lang, source, b0 // (1 << level) AS bucket, """ +
        """SUM(n)::BIGINT AS n, COUNT(DISTINCT sv) AS l_div """ +
        """FROM base CROSS JOIN lv GROUP BY level, lang, source, 4), """ +
        """minn AS (SELECT level, MIN(n) AS mn FROM cls GROUP BY level), """ +
        """chosen AS ( """ +
        """SELECT COALESCE(MIN(CASE WHEN mn >= 3 THEN level END), 9) """ +
        """AS lv FROM minn) """ +
        """SELECT c.level, lang, source, bucket, n, l_div, """ +
        """n < 3 AS under_k, ROUND(1.0 / n, 6) AS reident_risk """ +
        """FROM cls c JOIN chosen ch ON c.level = ch.lv """ +
        """ORDER BY lang, source, bucket"""),
    "ds_dsir" ->
      ("""WITH rt AS (SELECT doc_id, string_split(text, ' ') AS toks """ +
        """FROM documents), """ +
        """rg AS (SELECT doc_id, unnest(list_concat(toks, """ +
        """CASE WHEN len(toks) >= 2 """ +
        """THEN [toks[i] || ' ' || toks[i + 1] """ +
        """FOR i IN generate_series(1, len(toks) - 1)] """ +
        """ELSE [] END)) AS g FROM rt), """ +
        """docb AS (SELECT doc_id, """ +
        """('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS b, """ +
        """COUNT(*) AS n FROM rg GROUP BY doc_id, 2), """ +
        """rcnt AS (SELECT b, SUM(n)::BIGINT AS c FROM docb GROUP BY b), """ +
        """tt0 AS (SELECT string_split(text, ' ') AS toks """ +
        """FROM documents WHERE lang <> 'en'), """ +
        """tg AS (SELECT unnest(list_concat(toks, """ +
        """CASE WHEN len(toks) >= 2 """ +
        """THEN [toks[i] || ' ' || toks[i + 1] """ +
        """FOR i IN generate_series(1, len(toks) - 1)] """ +
        """ELSE [] END)) AS g FROM tt0), """ +
        """tcnt AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 256 """ +
        """AS b, COUNT(*) AS c FROM tg GROUP BY 1), """ +
        """llr AS (SELECT ids.range AS b, """ +
        """ROUND(ln((COALESCE(tc.c, 0) + 1) / (tt.t + 256)::DOUBLE), 9) """ +
        """- ROUND(ln((COALESCE(rc.c, 0) + 1) / (rt.t + 256)::DOUBLE), 9) """ +
        """AS llr FROM range(256) ids """ +
        """LEFT JOIN tcnt tc ON tc.b = ids.range """ +
        """LEFT JOIN rcnt rc ON rc.b = ids.range """ +
        """CROSS JOIN (SELECT COALESCE(SUM(c), 0)::BIGINT AS t FROM tcnt) tt """ +
        """CROSS JOIN (SELECT COALESCE(SUM(c), 0)::BIGINT AS t FROM rcnt) rt), """ +
        """z AS (SELECT d.doc_id, """ +
        """SUM(CAST(ROUND(d.n * l.llr, 9) AS DECIMAL(28,9))) AS z """ +
        """FROM docb d JOIN llr l ON l.b = d.b GROUP BY d.doc_id) """ +
        """SELECT doc_id, ROUND(z::DOUBLE, 6) AS logw, gumbel, """ +
        """ROUND(z::DOUBLE + gumbel, 6) AS score FROM ( """ +
        """SELECT doc_id, z, """ +
        """ROUND(-ln(-ln((('0x' || substr(md5('dsir:' || doc_id::VARCHAR), """ +
        """1, 15))::BIGINT::DOUBLE + 0.5) / 1152921504606846976.0)), 9) """ +
        """AS gumbel FROM z) """ +
        """ORDER BY score DESC, doc_id LIMIT 100"""),
    "ta_pii_count" ->
      ("""WITH aug AS (SELECT doc_id, text """ +
        """|| (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR """ +
        """|| '@example.com or +1-555-' """ +
        """|| substr((1000 + doc_id % 9000)::VARCHAR, 1, 4) ELSE '' END) """ +
        """|| (CASE WHEN doc_id % 7 = 0 THEN ' id 987-65-' """ +
        """|| substr((1000 + doc_id % 9000)::VARCHAR, 1, 4) ELSE '' END) """ +
        """|| (CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' """ +
        """|| (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR """ +
        """ELSE '' END) AS text FROM documents), """ +
        """c AS (SELECT doc_id, """ +
        """len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails, """ +
        """len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS n_phones, """ +
        """len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssns, """ +
        """len(regexp_extract_all(text, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ips """ +
        """FROM aug) """ +
        """SELECT doc_id, n_emails, n_phones, n_ssns, n_ips, """ +
        """n_emails + n_phones + n_ssns + n_ips AS n_pii, """ +
        """n_emails + n_phones + n_ssns + n_ips = 0 AS clean """ +
        """FROM c ORDER BY doc_id"""),
    "ds_curriculum" ->
      ("""WITH h AS (SELECT doc_id, """ +
        """round(len(list_distinct(string_split(text, ' '))) """ +
        """/ len(string_split(text, ' ')), 6) AS sc, """ +
        """md5('cur:' || doc_id::VARCHAR) AS hx FROM documents), """ +
        """p AS (SELECT doc_id, sc, """ +
        """least(3, greatest(0, floor(sc * 4)::INT)) AS phase, hx FROM h) """ +
        """SELECT doc_id, sc, phase, """ +
        """strpos('0123456789abcdef', substr(hx, 1, 1)) - 1 AS shard, """ +
        """ROW_NUMBER() OVER (PARTITION BY phase, substr(hx, 1, 1) """ +
        """ORDER BY hx, doc_id) AS pos """ +
        """FROM p ORDER BY phase DESC, shard, pos"""),
    "ds_kfold" ->
      ("""SELECT doc_id, lang, source, """ +
        """(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 """ +
        """+ strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 5)::INT AS fold """ +
        """FROM (SELECT doc_id, lang, source, """ +
        """md5('fold:' || doc_id::VARCHAR) AS h FROM documents) """ +
        """ORDER BY doc_id"""),
    "ta_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id, text,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN replace(noisy, ' ', '  ') ELSE noisy END AS noisy
        |  FROM (
        |    SELECT doc_id, text,
        |           CASE WHEN doc_id % 3 = 0 THEN ' ** ' || up || ' ** '
        |                ELSE up END AS noisy
        |    FROM (SELECT doc_id, text,
        |                 CASE WHEN doc_id % 2 = 0 THEN upper(text)
        |                      ELSE text END AS up
        |          FROM documents))),
        |norm AS (
        |  SELECT doc_id, text, noisy, length(noisy) AS n_chars_in,
        |         trim(regexp_replace(regexp_replace(lower(noisy),
        |           '[*#@~^]', '', 'g'), ' +', ' ', 'g')) AS text_norm
        |  FROM aug)
        |SELECT doc_id, n_chars_in, length(text_norm) AS n_chars_out,
        |       text_norm <> noisy AS changed, text_norm = text AS recovered
        |FROM norm ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_ingestbias" ->
      ("WITH d AS (SELECT doc_id AS x, " +
        "len(string_split(text, ' '))::BIGINT AS y FROM documents), " +
        "s AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx, " +
        "SUM(y)::BIGINT AS sy, " +
        "SUM(CAST(x AS DECIMAL(38,0)) * x) AS qx, " +
        "SUM(CAST(y AS DECIMAL(38,0)) * y) AS qy, " +
        "SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy " +
        "FROM d HAVING COUNT(*) > 1) " +
        "SELECT n, ROUND((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy) " +
        "/ (sqrt(n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx) " +
        "* sqrt(n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy)), 6) AS bias_r " +
        "FROM s"),
    "ds_splitdrift" ->
      ("WITH g AS (SELECT len(string_split(text, ' ')) AS len, " +
        "((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 " +
        "+ instr('0123456789abcdef', substring(h, 2, 1)) - 1) % 2 AS grp " +
        "FROM (SELECT text, md5(concat('drift:', CAST(doc_id AS VARCHAR))) " +
        "AS h FROM documents)), " +
        "c AS (SELECT len, " +
        "SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS a, " +
        "SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS b " +
        "FROM g GROUP BY len), " +
        "t AS (SELECT SUM(a)::BIGINT AS na, SUM(b)::BIGINT AS nb FROM c), " +
        "cum AS (SELECT len, SUM(a) OVER (ORDER BY len)::BIGINT AS ca, " +
        "SUM(b) OVER (ORDER BY len)::BIGINT AS cb FROM c), " +
        "m AS (SELECT cum.len, " +
        "abs(CAST(cum.ca AS DECIMAL(38,0)) * t.nb " +
        "- CAST(cum.cb AS DECIMAL(38,0)) * t.na) AS num, " +
        "t.na, t.nb FROM cum CROSS JOIN t), " +
        "mm AS (SELECT len, num, na, nb, MAX(num) OVER () AS mx FROM m) " +
        "SELECT na AS n_a, nb AS n_b, " +
        "ROUND(mx::DOUBLE / (na::DOUBLE * nb), 6) AS ks_d, " +
        "MIN(len) AS at_len " +
        "FROM mm WHERE num = mx GROUP BY na, nb, mx"),
    "ds_packeff" ->
      ("WITH t AS (SELECT len(string_split(text, ' ')) AS n FROM documents), " +
        "ls AS (SELECT unnest([128, 256, 512]) AS len), " +
        "agg AS (SELECT ls.len, COUNT(*) AS n_docs, " +
        "SUM(t.n)::BIGINT AS total_tokens, " +
        "SUM((t.n + ls.len - 1) // ls.len)::BIGINT AS pad_bins " +
        "FROM t CROSS JOIN ls GROUP BY ls.len) " +
        "SELECT len, n_docs, total_tokens, pad_bins, " +
        "ROUND(total_tokens::DOUBLE / (len * pad_bins), 6) AS pad_util, " +
        "(total_tokens + len - 1) // len AS ideal_bins, " +
        "ROUND(total_tokens::DOUBLE " +
        "/ (len * ((total_tokens + len - 1) // len)), 6) AS ideal_util " +
        "FROM agg ORDER BY len"),
    "ds_classweight" ->
      ("WITH c AS (SELECT lang AS cls, COUNT(*) AS n_docs " +
        "FROM documents GROUP BY lang), " +
        "t AS (SELECT COUNT(*) AS k, SUM(n_docs)::BIGINT AS n FROM c) " +
        "SELECT c.cls, c.n_docs, " +
        "ROUND(t.n::DOUBLE / (t.k * c.n_docs), 6) AS weight " +
        "FROM c CROSS JOIN t ORDER BY c.cls"),
    "ds_balance" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS cls, md5('bal:' || doc_id) AS hx
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, cls,
        |         ROW_NUMBER() OVER (PARTITION BY cls ORDER BY hx, doc_id) AS rk,
        |         COUNT(*) OVER (PARTITION BY cls) AS n
        |  FROM t),
        |mn AS (SELECT MIN(n)::BIGINT AS k FROM r)
        |SELECT doc_id, cls, rk, mn.k AS k
        |FROM r CROSS JOIN mn WHERE rk <= mn.k
        |ORDER BY cls, rk""".stripMargin.replaceAll("\n", " "),
    "ds_tokbudget" ->
      """WITH m AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |         round(len(list_distinct(string_split(text, ' ')))
        |               / len(string_split(text, ' ')), 6) AS sc
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok, sc,
        |         SUM(n_tok) OVER (ORDER BY sc DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM m)
        |SELECT doc_id, n_tok, sc, CAST(cum AS BIGINT) AS cum,
        |       cum <= 100000 AS kept
        |FROM c ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_lenbucket" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         md5('lenb:' || doc_id) AS hx
        |  FROM documents)
        |SELECT doc_id, n_tokens, band, shard,
        |       (rn - 1) // 32 AS batch_id, (rn - 1) % 32 AS pos
        |FROM (
        |  SELECT doc_id, n_tokens, n_tokens // 16 AS band,
        |         strpos('0123456789abcdef', substring(hx, 1, 1)) - 1 AS shard,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY n_tokens // 16, substring(hx, 1, 1)
        |           ORDER BY hx, doc_id) AS rn
        |  FROM t)
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_interleave" ->
      """WITH sharded AS (
        |  SELECT doc_id, source, substr(source, 4)::INT + 1 AS w,
        |         strpos('0123456789abcdef',
        |           substr(md5('il:' || doc_id::VARCHAR), 1, 1)) - 1 AS shard,
        |         md5('il:' || doc_id::VARCHAR) AS hx
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source, w, shard,
        |         ROW_NUMBER() OVER (PARTITION BY shard, source
        |                            ORDER BY hx, doc_id) AS r
        |  FROM sharded)
        |SELECT doc_id, source, shard,
        |       ROW_NUMBER() OVER (PARTITION BY shard
        |         ORDER BY r::DOUBLE / w, source, doc_id) AS pos
        |FROM ranked ORDER BY shard, pos""".stripMargin.replaceAll("\n", " "),
    "dd_resolve" -> ddResolveOracle,
    "ds_softdedup" -> dsSoftDedupOracle,
    "ds_leakage" ->
      ("""WITH tagged AS (SELECT doc_id, md5(text) AS h, """ +
        """CASE WHEN strpos('0123456789abcdef', """ +
        """substr(md5('split:' || doc_id::VARCHAR), 1, 1)) - 1 < 12 """ +
        """THEN 'train' ELSE 'heldout' END AS side FROM documents), """ +
        """train AS (SELECT DISTINCT h FROM tagged WHERE side = 'train') """ +
        """SELECT t.doc_id, tr.h IS NOT NULL AS leaked """ +
        """FROM tagged t LEFT JOIN train tr ON tr.h = t.h """ +
        """WHERE t.side = 'heldout' ORDER BY t.doc_id"""),
    "ds_dropout" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "k AS (SELECT doc_id, toks, " +
        "[toks[i] FOR i IN generate_series(1, len(toks)) IF " +
        "(strpos('0123456789abcdef', substr(md5('drop:' || doc_id::VARCHAR " +
        "|| ':' || i::VARCHAR), 1, 1)) - 1) * 256 + " +
        "(strpos('0123456789abcdef', substr(md5('drop:' || doc_id::VARCHAR " +
        "|| ':' || i::VARCHAR), 2, 1)) - 1) * 16 + " +
        "strpos('0123456789abcdef', substr(md5('drop:' || doc_id::VARCHAR " +
        "|| ':' || i::VARCHAR), 3, 1)) - 1 >= 410] AS kept FROM tok) " +
        "SELECT doc_id, len(toks)::BIGINT AS n_orig, " +
        "len(kept)::BIGINT AS n_kept, " +
        "array_to_string(kept, ' ') AS text_aug " +
        "FROM k ORDER BY doc_id"),
    "dd_decontam" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  UNION ALL
        |  SELECT doc_id + ${TwinIdOffset} AS doc_id, toks[1:(len(toks) * 4) // 5] AS toks
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |eval AS (
        |  SELECT doc_id AS eval_id, string_split(text, ' ')[6:26] AS toks
        |  FROM documents WHERE doc_id % 11 = 0),
        |egrams AS (
        |  SELECT DISTINCT eval_id, md5(g) AS g FROM (
        |    SELECT eval_id, unnest(CASE WHEN len(toks) >= 13
        |      THEN [array_to_string(toks[i:i+12], ' ')
        |            FOR i IN generate_series(1, len(toks) - 12)]
        |      ELSE [] END) AS g
        |    FROM eval)),
        |tgrams AS (
        |  SELECT DISTINCT doc_id, md5(g) AS g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 13
        |      THEN [array_to_string(toks[i:i+12], ' ')
        |            FOR i IN generate_series(1, len(toks) - 12)]
        |      ELSE [] END) AS g
        |    FROM corpus))
        |SELECT t.doc_id, COUNT(DISTINCT e.eval_id) AS n_eval_hits
        |FROM tgrams t JOIN egrams e ON t.g = e.g
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ta_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |cks AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(0,
        |           CASE WHEN len(toks) > 32 THEN (len(toks) - 9) // 24
        |                ELSE 0 END)) AS ck
        |  FROM tok)
        |SELECT doc_id, ck AS chunk_id,
        |       len(toks[1 + ck * 24 : ck * 24 + 32]) AS n_tokens,
        |       array_to_string(toks[1 + ck * 24 : ck * 24 + 32], ' ') AS chunk_text
        |FROM cks ORDER BY doc_id, chunk_id""".stripMargin.replaceAll("\n", " "),
    "ta_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN text || ' contact user' || doc_id::VARCHAR ||
        |                   '@example.com or +1-555-' ||
        |                   substr((1000 + doc_id % 9000)::VARCHAR, 1, 4)
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
        |       len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS n_phones,
        |       regexp_replace(regexp_replace(text,
        |         '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |         '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_split" ->
      """SELECT doc_id, lang, source,
        |       CASE WHEN d < 12 THEN 'train' WHEN d < 14 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang, source,
        |         strpos('0123456789abcdef',
        |           substr(md5('split:' || doc_id::VARCHAR), 1, 1)) - 1 AS d
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_mix" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         (strpos('0123456789abcdef',
        |            substr(md5('mix:' || doc_id::VARCHAR), 1, 1)) - 1) * 16
        |         + strpos('0123456789abcdef',
        |             substr(md5('mix:' || doc_id::VARCHAR), 2, 1)) - 1 AS d,
        |         (substr(source, 4)::INT + 1) * 256 // 10 AS thr
        |  FROM documents)
        |WHERE d < thr ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_sample" ->
      """SELECT doc_id, lang, source, rk FROM (
        |  SELECT doc_id, lang, source,
        |         ROW_NUMBER() OVER (PARTITION BY lang, source
        |           ORDER BY md5('sample:' || doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY lang, source, rk""".stripMargin.replaceAll("\n", " "),
    "ds_qfilter" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |         round((n_tokens::DOUBLE / 60.0) * (1 - n_stop / n_tokens), 6) AS quality
        |  FROM (SELECT doc_id, source,
        |               len(string_split(text, ' ')) AS n_tokens,
        |               len(list_filter(string_split(text, ' '),
        |                 t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'to')) AS n_stop
        |        FROM documents)),
        |r AS (
        |  SELECT doc_id, source, quality,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY quality DESC, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM q)
        |SELECT doc_id, source, quality FROM r
        |WHERE rn <= CAST(ceil(0.5 * n) AS BIGINT)
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "ds_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, md5('shuffle:' || doc_id::VARCHAR) AS hx
        |  FROM documents)
        |SELECT doc_id,
        |       strpos('0123456789abcdef', substr(hx, 1, 1)) - 1 AS shard,
        |       ROW_NUMBER() OVER (
        |         PARTITION BY substr(hx, 1, 1) ORDER BY hx, doc_id) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin.replaceAll("\n", " "),
    "ds_pack" ->
      """WITH tok AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         strpos('0123456789abcdef',
        |           substr(md5('pack:' || doc_id::VARCHAR), 1, 1)) - 1 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket, n_tokens,
        |       CAST(((SUM(n_tokens) OVER w) - n_tokens) // 256 AS BIGINT) AS pack_id
        |FROM tok
        |WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "))
}
