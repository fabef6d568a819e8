package graft.ops

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` (builder brief:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine).
  *
  * The test corpus has no natural duplicates, so each query synthesizes a
  * *deterministic near-duplicate twin* per document (doc_id + 2^40 —
  * TwinIdOffset, collision-free at any corpus size — first
  * 80% of tokens / a perturbed first vector component) inside the query —
  * the dedup pipeline must then find exactly the twin pairs. Everything is
  * expressed so Spark and the DuckDB oracle compute bit-identical results
  * (integer Jaccard threshold tests, shared md5-based hash family,
  * deterministic tiebreaks).
  *
  * Scale design (100 TB):
  *  - exact dedup: one hash-shuffle on md5(text) — the canonical pattern.
  *  - MinHash+LSH: linear signature pass (narrow) + shuffle by (band,hash)
  *    whose fan-in is bucket-bounded; candidate verification joins only
  *    bucket-collided pairs, never the full cross product.
  *  - SimHash: narrow per-doc signature; near-dup lookup = equality join on
  *    a prefix bucket.
  *  - embedding near-dup: label-blocked pair join (blocking key keeps the
  *    pair count linear-ish per block) — the unblocked brute force is
  *    Similarity.ssCosineTopk's baseline.
  */
object Dedup {

  /** Twin doc/vec ids live in a disjoint high range: real corpora keep
    * ids < 2^40 (~10^12, far above any corpus size), so the planted twin
    * can never collide with a real id. (Defined here, aliased by
    * TwinIdOffset — Pipeline's oracle init reads Dedup, so the
    * constant must not point the other way.)
    */
  val TwinIdOffset: Long = 1L << 40

  /** Token corpus ∪ 80%-prefix twins (doc_id + TwinIdOffset), DuckDB side. */
  private val corpusSql =
    s"""corpus AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${TwinIdOffset} AS doc_id, toks[1:(len(toks) * 4) // 5] AS toks
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin

  private def docs(s: SparkSession, dir: String): Unit =
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")

  /** The full minhash→banding→verification chain as DuckDB CTEs ending in
    * `pairs(doc_a, doc_b, inter, uni)` — shared verbatim by the
    * dd_minhash_lsh and ds_nearleak oracles so the two expression trees
    * cannot drift apart.
    */
  private lazy val minhashPairsDuckCtes: String =
    s"""$corpusSql,
       |tok AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(toks) >= 3
       |         THEN [toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |               FOR i IN generate_series(1, len(toks) - 2)]
       |         ELSE [] END) AS tok
       |  FROM corpus),
       |sig AS (
       |  SELECT doc_id, g.i, MIN(md5(i::VARCHAR || ':' || tok)) AS h
       |  FROM tok CROSS JOIN generate_series(0, 7) g(i)
       |  GROUP BY doc_id, g.i),
       |band AS (
       |  SELECT doc_id, i // 2 AS band,
       |         md5(MIN(CASE WHEN i % 2 = 0 THEN h END) ||
       |             MIN(CASE WHEN i % 2 = 1 THEN h END)) AS bh
       |  FROM sig GROUP BY doc_id, i // 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id < b.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN tok ta ON ta.doc_id = c.doc_a
       |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS (
       |  SELECT i.doc_a, i.doc_b, i.inter, ca.n + cb.n - i.inter AS uni
       |  FROM inter i
       |  JOIN cnt ca ON ca.doc_id = i.doc_a
       |  JOIN cnt cb ON cb.doc_id = i.doc_b
       |  WHERE 3 * i.inter >= ca.n + cb.n)""".stripMargin

  /** Exact dedup: duplicate the corpus verbatim (twin keeps the text),
    * group by md5(text), keep the lowest doc_id of each group — the
    * canonical hash-groupBy exact dedup. Result = the original doc ids.
    */
  def ddExact(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    ddExactOn(s.sql(
      s"""SELECT doc_id, text FROM __docs
         |UNION ALL
         |SELECT doc_id + ${TwinIdOffset}, text FROM __docs""".stripMargin))
  }

  /** Exact dedup (md5 keep-first) over an arbitrary (doc_id, text) corpus
    * — the production entry; the oracle form above plants its exact twins
    * and delegates here.
    */
  def ddExactOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__exact_docs")
    s.sql(
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
        |                                    ORDER BY doc_id) AS rn
        |  FROM __exact_docs
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  }

  /** The distinct (doc, 3-shingle) relation and the (doc, band, bandhash)
    * LSH index behind [[ddMinhashLsh]] — exposed so the scale probe can
    * measure bucket-size distributions on the REAL relations the query
    * joins (not a reconstruction). `tok` comes back persisted; the caller
    * owning the run unpersists it.
    */
  private[graft] def minhashShinglesAndBands(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    docs(s, dir)
    minhashShinglesAndBandsOn(
      s.sql(s"WITH ${corpusSqlSparkified()} SELECT * FROM corpus"))
  }

  /** The same relations over an arbitrary (doc_id, toks ARRAY<STRING>)
    * corpus — the core both the oracle form (twin-planted) and the
    * production entry [[ddMinhashLshOn]] share.
    */
  private[graft] def minhashShinglesAndBandsOn(
      corpus: DataFrame,
      maxBlockRows: Int = DensityGuard.DefaultMaxBlockRows,
      onOverflow: String = "sample"): (DataFrame, DataFrame) = {
    val (tok, _, band) = minhashRelationsOn(corpus, maxBlockRows, onOverflow)
    (tok, band)
  }

  /** Shingle, signature, AND band relations — [[ddMinhashEstOn]] needs
    * the 8-column signature itself; everything else drops it.
    *
    * The returned band relation is DENSITY-GUARDED (r12 verdict item #2
    * — the one pair-generator family the r12 sweep missed): identical
    * shingle SETS hash to identical signatures, so templated documents
    * that survive exact dedup with diffs outside the shingle window —
    * or mass-duplicated boilerplate — alias a whole shard into ONE
    * (band, bandhash) bucket, and the bucket self-join goes C(B, 2) on
    * one un-AQE-splittable shuffle key (the same blow-up class as the
    * dd_embed_cos disk-fill incident, which WAS an LSH bucket). The
    * shared [[DensityGuard]] bounds every bucket at `maxBlockRows`
    * BEFORE any candidate pair materializes, with the per-(doc, band)
    * draw so a doc sampled out of one blown band keeps its other
    * bands; under-cap buckets are bit-exact, which keeps the
    * dd_minhash_lsh / dd_minhash_est / dd_crossfuzzy / ds_nearleak
    * DuckDB oracles (which replay the unguarded chain) green at the
    * test SFs. Every consumer of this helper inherits the guard.
    */
  private[graft] def minhashRelationsOn(
      corpus: DataFrame,
      maxBlockRows: Int = DensityGuard.DefaultMaxBlockRows,
      onOverflow: String = "sample",
      trackBand: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    // DataFrame API so the exploded shingle relation can be persisted:
    // SQL CTEs are inlined and `tok` (the largest intermediate) would be
    // recomputed for the signatures, the counts, and both sides of the
    // intersection join — measured 3× slower. Tracked via Caches so a
    // library caller can release it (Caches.releaseAll) after consuming
    // the returned lazy result; harness runs release between queries.
    val tok = Caches.track(corpus.selectExpr("doc_id",
        """explode(CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(1, size(toks) - 2),
          |         i -> concat(element_at(toks, i), ' ',
          |                     element_at(toks, i + 1), ' ',
          |                     element_at(toks, i + 2)))
          |  ELSE array() END) AS tok""".stripMargin)
      .distinct())
    // all 8 minhashes as parallel MIN aggregates in ONE groupBy: no 8×
    // row explosion, a single shuffle (with map-side partial MINs), md5
    // inside whole-stage codegen; bands derive narrowly from the 8 columns
    val sig = tok.groupBy("doc_id").agg(
      min(md5(concat(lit("0:"), col("tok")))).as("h0"),
      (1 to 7).map(i =>
        min(md5(concat(lit(s"$i:"), col("tok")))).as(s"h$i")): _*)
    val band = sig.select(col("doc_id"), explode(array(
        (0 to 3).map(b => struct(lit(b).as("band"),
          md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bh"))): _*))
        .as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    // the guarded band is read TWICE downstream (both sides of the
    // (band, bh) bucket self-join in minhashVerify / ddMinhashEstOn's
    // cand), and the r13 plan audit showed NO exchange reuse between the
    // sides: each re-ran the whole sig aggregation (8 md5 MINs over
    // every shingle) plus the guard window (dd_minhash_lsh executed
    // plan: 2× Exchange hashpartitioning(doc_id) into the sig agg, 2×
    // Exchange hashpartitioning(band, bh) into the window —
    // plans/r13/dd_minhash_lsh_before.txt). Persisting the narrow
    // (doc_id, band, bh) relation makes the signature pass run once
    // (guide §2.4: duplicated subtrees; A/B'd at sf0.1 in
    // OPTIMIZATION_r13.md: dd_minhash_lsh 4.36 → 3.41 s).
    // `trackBand = false` is for callers that ALREADY pin the signature
    // relation (ddMinhashEstOn): there the band sides re-derive only a
    // cheap explode over the cached sig, and pinning the 4×-exploded
    // band on top was a measured LOSS (est 5.25 → 6.16 s).
    val guarded = DensityGuard.guard(band, Seq("band", "bh"),
      DensityGuard.drawOn("mhguard:", col("doc_id"), lit(":"), col("band")),
      maxBlockRows, onOverflow, tag = "dd_minhash_band",
      remediation = "Use more bands / more rows per band (longer " +
        "signatures), raise the cap, or use onOverflow=sample.",
      onFail = Caches.release(tok))
    val gband = if (trackBand) Caches.track(guarded) else guarded
    (tok, sig, gband)
  }

  /** Signature-estimate calibration (the LSH tuning query): every LSH
    * candidate pair UNFILTERED, carrying the minhash estimate of Jaccard
    * (the fraction of the 8 signature slots that agree — granularity
    * 1/8), the EXACT shingle Jaccard, and the absolute error. This is
    * the measurement that tunes the signature-length/band trade: the
    * error column is exactly what lengthening the signature would buy,
    * and rows where est_j clears a threshold the exact value misses are
    * the band family's false positives.
    *
    * Scale design: candidates are LSH-bounded (bucket equality — never
    * all pairs); the signature side is 8 fixed columns per doc; the
    * exact leg reuses the persisted shingle relation with the 8-byte-key
    * intersection join (the [[ddMinhashLshOn]] discipline). All three
    * ratios are int/int double divisions — identical in both engines.
    */
  def ddMinhashEstOn(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // trackBand = false: sig is pinned two lines down, so the band
    // sides cost one explode over the cached sig — see minhashRelationsOn.
    // r14: the guarded band is LAZILY CHECKPOINTED instead — the r13
    // rejection measured the Caches.track (InMemoryRelation) pin losing
    // (est 5.25 → 6.16 s: columnar materialization of the 4×-exploded
    // relation), but the band derivation still ran TWICE (both cand
    // sides re-ran the explode + DensityGuard window — 2× Exchange
    // hashpartitioning(band, bh); VERDICT r13 item #3). A localCheckpoint
    // stores row-format blocks (no columnar encode), runs the derivation
    // once, and PRESERVES the guard window's (band, bh) hash layout so
    // both self-join sides consume it with no further exchange (§2.4).
    val (tok, sig0, band0) = minhashRelationsOn(corpus, trackBand = false)
    val band = Caches.pin(band0)
    // sig is read THREE times below (both signature-join sides + the
    // bands feeding cand) and each read re-runs the 8×md5 min-aggregate
    // over every shingle; persisting the doc-sized 8-column relation
    // makes that one pass (measured ~35% off the query at sf0.1).
    // cand (the distinct LSH pair set) likewise feeds both the
    // signature-estimate leg and the exact-intersection leg.
    val sig = Caches.track(sig0)
    val cand = Caches.track(
      band.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
        .join(band.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
          Seq("band", "bh"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct())
    val sigA = sig.select(col("doc_id").as("doc_a") +:
      (0 to 7).map(i => col(s"h$i").as(s"a$i")): _*)
    val sigB = sig.select(col("doc_id").as("doc_b") +:
      (0 to 7).map(i => col(s"h$i").as(s"b$i")): _*)
    val m = (0 to 7).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    val est = cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"), m.cast("long").as("m"))
    val tokh = tok.select(col("doc_id"), xxhash64(col("tok")).as("tk"))
    val cnt = tokh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(tokh.select(col("doc_id").as("doc_a"), col("tk")), Seq("doc_a"))
      .join(tokh.select(col("doc_id").as("doc_b"), col("tk")), Seq("doc_b", "tk"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("doc_a", "doc_b"))
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("m") / lit(8.0), 6).as("est_j"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6)
          .as("exact_j"),
        round(abs(col("m") / lit(8.0) -
          col("inter") / (col("na") + col("nb") - col("inter"))), 6)
          .as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** The oracle-checked form over the twin-planted corpus (the
    * dd_minhash_lsh corpus, so real near-dup candidates exist).
    */
  def ddMinhashEst(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    ddMinhashEstOn(s.sql(s"WITH ${corpusSqlSparkified()} SELECT * FROM corpus"))
  }

  /** MinHash + LSH banding near-dup detection over 3-word shingles
    * (token-level sets are degenerate on a ~30-word vocabulary — nearly
    * all pairs exceed the Jaccard threshold; shingles restore selectivity):
    * 8 minhashes h_i = min over distinct shingles of md5(i:shingle) (the
    * lexicographic min of a hex digest is a valid minhash permutation),
    * 4 bands × 2 rows; bucket-join on (band, bandhash); candidates verified
    * by exact shingle-set Jaccard ≥ 1/2 (integer test 3·|∩| ≥ |A|+|B|).
    */
  def ddMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashVerify(minhashShinglesAndBands(s, dir))

  /** MinHash+LSH near-dup pairs over an arbitrary (doc_id, text) corpus —
    * the production entry ("find near-dups in MY corpus", the ddDecontam
    * delegation pattern); same signatures, banding and exact-Jaccard
    * verification as the oracle-checked query, no twin planting.
    */
  def ddMinhashLshOn(docs: DataFrame,
      maxBlockRows: Int = DensityGuard.DefaultMaxBlockRows,
      onOverflow: String = "sample"): DataFrame =
    minhashVerify(minhashShinglesAndBandsOn(
      docs.selectExpr("doc_id", "split(text, ' ') AS toks"),
      maxBlockRows, onOverflow))

  /** Near-duplicate TRAIN/TEST leakage audit (the FineWeb-style
    * decontamination check): the cross-split contamination matrix over
    * the minhash-verified near-dup pair relation — [[dsNearLeakOn]]
    * splits by the ds_split digest rule and reports, per (split, split)
    * cell, how many near-dup pairs straddle it and how similar they are.
    * `leak = true` rows are eval answers sitting in the training set in
    * paraphrased form — the contamination [[Pipeline.ddDecontam]]'s
    * exact n-gram pass cannot see and ds_leakage's exact-hash pass
    * cannot see either; this op closes that gap with the same verified
    * Jaccard evidence dd_minhash_lsh ships.
    *
    * Engine-exactness: split digits and pair counts are integers; each
    * pair's jaccard is ONE double division rounded to 6, and the cell
    * mean sums those as DECIMAL(18,6) (order-free) before one division.
    *
    * Scale design: everything rides the minhash pipeline's bounded
    * candidate relation (fan-in measured linear at 1M docs, PERF.md
    * round-6); the split tag is one md5 per PAIR SIDE (pairs-sized, not
    * corpus-sized) and the matrix aggregate is ≤ 6 cells. At 100 TB the
    * leak verdict therefore costs nothing beyond the dedup pass a
    * pipeline already runs.
    */
  def dsNearLeakOn(docs: DataFrame): DataFrame =
    nearLeakAgg(ddMinhashLshOn(docs))

  /** The oracle-checked form: the planted-twin corpus (twins land in a
    * DIFFERENT digest split than their original with probability ~0.42,
    * so the matrix has real cross-split mass at every SF).
    */
  def dsNearLeak(s: SparkSession, dir: String): DataFrame =
    nearLeakAgg(ddMinhashLsh(s, dir))

  private def nearLeakAgg(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    pairs.createOrReplaceTempView("__nl_pairs")
    s.sql(
      """WITH sp AS (
        |  SELECT doc_a, doc_b,
        |         ROUND(CAST(inter AS DOUBLE) / uni, 6) AS j,
        |         CASE WHEN da < 12 THEN 'train' WHEN da < 14 THEN 'val'
        |              ELSE 'test' END AS sa,
        |         CASE WHEN db < 12 THEN 'train' WHEN db < 14 THEN 'val'
        |              ELSE 'test' END AS sb
        |  FROM (
        |    SELECT *,
        |           instr('0123456789abcdef', substring(md5(
        |             concat('split:', CAST(doc_a AS STRING))), 1, 1)) - 1
        |             AS da,
        |           instr('0123456789abcdef', substring(md5(
        |             concat('split:', CAST(doc_b AS STRING))), 1, 1)) - 1
        |             AS db
        |    FROM __nl_pairs))
        |SELECT split_a, split_b, split_a <> split_b AS leak,
        |       COUNT(*) AS n_pairs,
        |       ROUND(CAST(SUM(CAST(j AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_jaccard
        |FROM (SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
        |             j FROM sp)
        |GROUP BY split_a, split_b
        |ORDER BY split_a, split_b""".stripMargin)
  }

  private def minhashVerify(tokBand: (DataFrame, DataFrame)): DataFrame = {
    import org.apache.spark.sql.functions._
    val (tok, band) = tokBand
    val cand = band.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .join(band.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Verification joins on 8-byte xxhash64 shingle keys, not the ~25-byte
    // shingle strings: the intersection join ships each doc's shingle set
    // twice, so the narrow key cuts that shuffle ~3×. Counts stay exact —
    // `tok` is already distinct so row counts are hash-independent, and a
    // cross-doc key collision needs ~2^32 distinct shingles to matter.
    // The md5 signature family above is untouched (oracle-shared).
    val tokh = tok.select(col("doc_id"), xxhash64(col("tok")).as("tk"))
    val cnt = tokh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(tokh.select(col("doc_id").as("doc_a"), col("tk")), Seq("doc_a"))
      .join(tokh.select(col("doc_id").as("doc_b"), col("tk")), Seq("doc_b", "tk"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .orderBy("doc_a", "doc_b")
  }

  // Spark SQL lacks DuckDB's list-slice/`//`; inline the Spark corpus CTE.
  private def corpusSqlSparkified(): String =
    s"""corpus AS (
       |  SELECT doc_id, split(text, ' ') AS toks FROM __docs
       |  UNION ALL
       |  SELECT doc_id + ${TwinIdOffset} AS doc_id,
       |         slice(toks, 1, (size(toks) * 4) div 5) AS toks
       |  FROM (SELECT doc_id, split(text, ' ') AS toks FROM __docs))""".stripMargin

  /** 16-bit SimHash signature per document over distinct tokens; bits come
    * from md5 hex digits, the signature is the sign of the per-bit vote sum.
    */
  def ddSimhash(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    s.sql(
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, explode(split(text, ' ')) AS tok FROM __docs),
        |-- hash once per token; the 16 bit-votes slice the cached digest
        |tokh AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, k,
        |         2 * ((shiftright(instr('0123456789abcdef',
        |                    substring(h, 1 + k div 4, 1)) - 1,
        |                 k % 4)) & 1) - 1 AS vote
        |  FROM tokh LATERAL VIEW explode(sequence(0, 15)) AS k),
        |votes AS (
        |  SELECT doc_id, k, SUM(vote) AS s FROM bits GROUP BY doc_id, k)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN s > 0 THEN shiftleft(1, k) ELSE 0 END) AS BIGINT)
        |         AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** 64-bit shingle SimHash signatures over a 95%-prefix twin corpus
    * (the near-dup pair query needs twins inside the Hamming-3 radius that
    * the banded index guarantees; the 80% twins of the Jaccard-family
    * queries land at distance 9-12). Exposed for the pair query and the
    * bucket-bound spec.
    */
  private[graft] def simhash64(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    s.sql(
      s"""WITH corpus AS (
         |  SELECT doc_id, split(text, ' ') AS toks FROM __docs
         |  UNION ALL
         |  SELECT doc_id + ${TwinIdOffset} AS doc_id,
         |         slice(toks, 1, (size(toks) * 19) div 20) AS toks
         |  FROM (SELECT doc_id, split(text, ' ') AS toks FROM __docs)),
         |tok AS (
         |  SELECT DISTINCT doc_id, explode(
         |    CASE WHEN size(toks) >= 3
         |         THEN transform(sequence(1, size(toks) - 2),
         |                i -> concat(element_at(toks, i), ' ',
         |                            element_at(toks, i + 1), ' ',
         |                            element_at(toks, i + 2)))
         |         ELSE array() END) AS tok
         |  FROM corpus),
         |-- NO explode at all (r6; previously one row per hex digit): the
         |-- digest's 16 digits become 16 columns, and all 64 bit-votes run
         |-- as parallel SUMs in ONE groupBy — at 500k docs this is a 55M-row
         |-- aggregate instead of an 880M-row one. Vote arithmetic per bit
         |-- (sum of ±1 over distinct shingles, sign rule s > 0) is
         |-- unchanged, so the signature is bit-identical to the oracle's.
         |dig AS (
         |  SELECT doc_id,
         |         ${(0 to 15).map(d =>
              s"instr('0123456789abcdef', substring(h, ${1 + d}, 1)) - 1 AS nd$d")
              .mkString(", ")}
         |  FROM (SELECT doc_id, md5(tok) AS h FROM tok)),
         |votes AS (
         |  SELECT doc_id,
         |         ${(0 to 63).map { k =>
              val (d, b) = (k / 4, k % 4)
              val bit = if (b == 0) s"nd$d & 1" else s"shiftright(nd$d, $b) & 1"
              s"SUM(2 * ($bit) - 1) AS s$k"
            }.mkString(", ")}
         |  FROM dig GROUP BY doc_id)
         |SELECT doc_id,
         |       ${(0 to 63).map(k =>
              s"CASE WHEN s$k > 0 THEN shiftleft(CAST(1 AS BIGINT), $k) " +
                "ELSE CAST(0 AS BIGINT) END").mkString(" +\n         ")} AS simhash
         |FROM votes""".stripMargin)
  }

  /** SimHash near-dup PAIRS, standard banded Hamming-LSH: 64-bit shingle
    * signatures split into 4×16-bit bands; any pair within Hamming
    * distance 3 agrees exactly on ≥1 band (pigeonhole), so the candidate
    * join is an equality join on (band#, band value) over a 4×65536-key
    * space — per-bucket fan-in stays ~N/65536 per band at scale instead of
    * the N/256 of a high-byte bucket. Candidates verified by
    * bit_count(xor) ≤ 3; the result is therefore EXACTLY the all-pairs
    * Hamming-≤3 set (locked by DedupScaleSpec).
    */
  def ddSimhashPairs(s: SparkSession, dir: String): DataFrame =
    ddSimhashPairsCore(s, dir).orderBy("doc_a", "doc_b")

  /** [[ddSimhashPairs]] WITHOUT the presentation ORDER BY — for
    * consumers that feed the pairs into further computation
    * (ddResolve's eager checkpoint, which would otherwise MATERIALIZE
    * the global range-exchange + sort the downstream label propagation
    * never needed; r13 optimization round, guide §2.4 "an orderBy used
    * only to make output deterministic").
    */
  private[graft] def ddSimhashPairsCore(s: SparkSession,
                                        dir: String): DataFrame = {
    // tracked: the signature pass (64 weighted bit-sums per doc) feeds
    // the band join twice AND the guard's count pre-agg — one narrow
    // (doc_id, simhash) relation, computed once (Caches contract)
    val sig64 = Caches.track(simhash64(s, dir))
    sig64.createOrReplaceTempView("__sig64")
    val band = s.sql(
      """SELECT doc_id, simhash, bno,
        |       shiftright(simhash, 16 * bno) & 65535 AS bk
        |FROM __sig64 LATERAL VIEW explode(sequence(0, 3)) AS bno"""
        .stripMargin)
    // DENSITY GUARD (r12, shared helper): a band key shared by B docs
    // yields C(B,2) candidates on ONE shuffle key — constant-prefix
    // corpora (identical boilerplate → identical simhash) alias whole
    // shards into one band bucket. Per-(bno, doc) draw: a doc sampled
    // out of one blown band keeps its other three bands.
    // tracked: both sides of the band self-join read the guarded band —
    // without the pin each side re-ran the 64-bit-sum signature
    // aggregation AND the guard window (r13 plan audit: 2× the sig64
    // InMemoryTableScan→explode→Window chain). One narrow
    // (doc_id, simhash, bno, bk) relation, computed once.
    Caches.track(DensityGuard.guard(band, Seq("bno", "bk"),
        DensityGuard.drawOn("simguard:", col("bno"), lit(":"),
          col("doc_id")),
        tag = "dd_simhash_pairs",
        remediation = "Use more/wider bands, raise the cap, or use " +
          "onOverflow=sample.",
        onFail = Caches.release(sig64)))
      .createOrReplaceTempView("__sig64_band")
    s.sql(
      """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming
        |FROM __sig64_band a JOIN __sig64_band b
        |  ON a.bno = b.bno AND a.bk = b.bk AND a.doc_id < b.doc_id
        |WHERE bit_count(a.simhash ^ b.simhash) <= 3""".stripMargin)
  }

  /** Hamming-distance histogram of the simhash band candidates — the
    * threshold-calibration table for [[ddSimhashPairs]]'s `<= 3` cut
    * (the ss_coshist idea transposed to simhash space): cum_pairs at
    * distance t is exactly how many pairs a threshold-t dedup would
    * merge, so the elbow in this table IS the threshold decision, read
    * BEFORE committing to a destructive dedup pass. Same signatures,
    * same banding, no distance cut — the histogram sees everything the
    * bands surface.
    *
    * Scale design: identical candidate generation to ddSimhashPairs
    * (band-bounded, never all-pairs, and since r12 under the same
    * [[DensityGuard]] — a sampled blown band makes the histogram a
    * per-band-uniform ESTIMATE over that band's pairs, which is the
    * right trade for a calibration table: the elbow survives, the
    * quadratic key doesn't); the rollup is a ≤65-row histogram and the
    * cumulative window runs on that tiny relation.
    */
  def ddHammingHist(s: SparkSession, dir: String): DataFrame = {
    val sig64h = Caches.track(simhash64(s, dir))
    sig64h.createOrReplaceTempView("__sig64h")
    val band = s.sql(
      """SELECT doc_id, simhash, bno,
        |       shiftright(simhash, 16 * bno) & 65535 AS bk
        |FROM __sig64h LATERAL VIEW explode(sequence(0, 3)) AS bno"""
        .stripMargin)
    // tracked: same twice-read band self-join shape as ddSimhashPairs
    Caches.track(DensityGuard.guard(band, Seq("bno", "bk"),
        DensityGuard.drawOn("simguard:", col("bno"), lit(":"),
          col("doc_id")),
        tag = "dd_hamming_hist",
        remediation = "Use more/wider bands, raise the cap, or use " +
          "onOverflow=sample.",
        onFail = Caches.release(sig64h)))
      .createOrReplaceTempView("__sig64h_band")
    s.sql(
      """WITH cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming
        |  FROM __sig64h_band a JOIN __sig64h_band b
        |    ON a.bno = b.bno AND a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT hamming, COUNT(*) AS n_pairs,
        |       CAST(SUM(COUNT(*)) OVER (ORDER BY hamming) AS BIGINT)
        |         AS cum_pairs
        |FROM cand GROUP BY hamming ORDER BY hamming""".stripMargin)
  }

  /** Word-bigram (2-shingle) Jaccard of each document against its 80%-prefix
    * twin — the n-gram near-dup scoring primitive.
    */
  def ddNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    s.sql(
      s"""WITH ${corpusSqlSparkified()},
         |sh AS (
         |  SELECT DISTINCT doc_id, explode(
         |    CASE WHEN size(toks) >= 2
         |         THEN transform(sequence(1, size(toks) - 1),
         |                i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
         |         ELSE array() END) AS sh
         |  FROM corpus),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + ${TwinIdOffset} AND b.sh = a.sh
         |  GROUP BY a.doc_id)
         |SELECT i.doc_a, i.inter, ca.n + cb.n - i.inter AS uni,
         |       ROUND(i.inter / (ca.n + cb.n - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN cnt ca ON ca.doc_id = i.doc_a
         |JOIN cnt cb ON cb.doc_id = i.doc_a + ${TwinIdOffset}
         |ORDER BY i.doc_a""".stripMargin)
  }

  /** Word-bigram shingle CONTAINMENT against the 80%-prefix twin — the
    * asymmetric near-dup primitive symmetric Jaccard misses: a document
    * embedded inside a larger one scores containment ≈ 1.0 even when
    * Jaccard is arbitrarily low (quote inclusion, boilerplate wrapping,
    * prefix truncation). The oracle form makes the property exact: the
    * prefix twin's shingle set is a true SUBSET of the original's, so
    * c_ba (twin-in-original) is 1.0 for every pair while c_ab tracks the
    * prefix ratio. Reference analog: the same shingle relation as
    * [[ddNgramJaccard]] (run.sh pipelines score candidate pairs off one
    * shared shingle index).
    */
  def ddContainment(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    val base = s.sql("SELECT doc_id, text FROM __docs")
    val corpus = base.union(base.selectExpr(
      s"doc_id + ${TwinIdOffset} AS doc_id",
      "array_join(slice(split(text, ' '), 1, " +
        "(size(split(text, ' ')) * 4) div 5), ' ') AS text"))
    val pairs = base.selectExpr(
      "doc_id AS doc_a", s"doc_id + ${TwinIdOffset} AS doc_b")
    ddContainment(corpus, pairs)
  }

  /** The production entry: score CALLER-SUPPLIED candidate pairs (doc_a,
    * doc_b) — e.g. the output of [[ddMinhashLshOn]]'s bucket join — by
    * bigram-shingle containment in both directions over an arbitrary
    * (doc_id, text) corpus.
    *
    * Scale design: the shingle relation is built once (distinct per doc),
    * the pair join touches only docs that appear in `pairs` (the first
    * equality join is the semi-filter), and the per-pair cost is
    * Σ|shingles| over the candidate set — linear in candidates × doc
    * length, never all-pairs. Zero-shingle sides surface as n=0 with
    * NULL containment rather than dividing by zero.
    */
  def ddContainment(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |     THEN transform(sequence(1, size(toks) - 1),
          |            i -> concat(element_at(toks, i), ' ',
          |                        element_at(toks, i + 1)))
          |     ELSE array() END""".stripMargin)).as("sh"))
      .distinct()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"), "left")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        round(coalesce(col("inter"), lit(0L)) / col("n_a"), 6).as("c_ab"),
        round(coalesce(col("inter"), lit(0L)) / col("n_b"), 6).as("c_ba"))
      .orderBy("doc_a", "doc_b")
  }

  /** Signature relation for the embedding near-dup: corpus ∪ perturbed
    * twins (first component ×1.5) with per-vector norm and an 8-plane
    * hyperplane-LSH bucket (md5-parity ±1 planes, shared with
    * Similarity.ssLshAnn). Exposed for the pair query and the block-bound
    * spec.
    *
    * Engine-parity note (same discipline as the cosine folds): each bucket
    * bit is the SIGN of a plane dot product, and both engines compute that
    * dot as a sequential left-to-right double fold (graft_dot here,
    * list_sum in DuckDB) — identical summation order, so a dot at an FP
    * sign boundary buckets identically. Re-ordering either side's sum
    * would let a boundary vector change buckets and alter the pair set.
    */
  private[graft] def embedSig(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb")
    embedSigOf(s, s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, label,
         |         CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb)
         |SELECT vec_id, label, v FROM base
         |UNION ALL
         |SELECT vec_id + ${TwinIdOffset}, label,
         |       transform(v, (x, i) -> CASE WHEN i = 0 THEN x * 1.5 ELSE x END)
         |FROM base""".stripMargin))
  }

  /** The (vec_id, label, v, nrm, bucket) signature relation for an
    * arbitrary (vec_id, label, v: ARRAY&lt;DOUBLE&gt;) frame — the reusable
    * half of [[embedSig]] (which feeds it the twin-planted test corpus).
    */
  private[graft] def embedSigOf(s: SparkSession, corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val planesLit = Similarity.planesSql(8, 64)
    corpus.createOrReplaceTempView("__ecorpus")
    s.sql(
      s"""SELECT vec_id, label, v, sqrt(graft_dot(v, v)) AS nrm,
         |       aggregate(transform(sequence(0, 7), j ->
         |         CASE WHEN graft_dot(v, element_at($planesLit, j + 1)) > 0D
         |              THEN shiftleft(1, j) ELSE 0 END),
         |         0, (acc, x) -> acc + x) AS bucket
         |FROM __ecorpus""".stripMargin)
  }

  /** Default per-(label, bucket) block cap for [[ddEmbedCosOn]]: far above
    * any healthy block (the 8-plane bucket targets blocks of N/256 per
    * label and the multiprobe fan-in stays ~9 blocks per vector), low
    * enough that a degenerate corpus is caught before its pair relation
    * materializes.
    */
  val EmbedCosMaxBlockRows: Int = 4096

  /** Embedding-cosine near-dup with two-level blocking: label × 8-plane
    * LSH bucket. The pair join is an equality join on (label, bucket) with
    * distance-1 multiprobe (each vector probes its own bucket plus the 8
    * single-bit flips), so within-block all-pairs is bounded by the bucket
    * granularity instead of the label cardinality — the 100 TB-safe shape.
    * Cosine ≥ 0.9; dot/norm are sequential left-to-right folds over
    * doubles — identical in both engines. Guarded by [[ddEmbedCosOn]]'s
    * block-density cap (a no-op on healthy corpora — blocks at the test
    * SFs are orders of magnitude under the cap, so the oracle result is
    * untouched).
    */
  def ddEmbedCos(s: SparkSession, dir: String): DataFrame =
    ddEmbedCosOn(s, embedSig(s, dir))

  /** The guarded pair engine over a signature relation (from [[embedSig]]
    * / [[embedSigOf]]).
    *
    * DENSITY GUARD (the 100 TB outage the 100k-vector probe measured:
    * with tight clusters — mean intra-label cosine ~0.8 — the ≥0.9 pair
    * relation grows QUADRATICALLY in block density, and the distinct-pairs
    * shuffle of an unguarded run filled the disk): a cheap pre-aggregation
    * counts each (label, bucket) block first. Blocks over `maxBlockRows`
    * are handled per `onOverflow`:
    *  - "sample" (default): deterministic per-vector down-sampling to an
    *    expected `maxBlockRows` rows per block (keyed md5-family draw on
    *    vec_id — reproducible, order-independent), so the scored-pair
    *    volume is bounded by ~9·maxBlockRows·N/2 instead of Σ 9·n_b²;
    *    under-cap blocks are untouched, so healthy corpora are bit-exact.
    *  - "fail": abort BEFORE materializing any pair, with the offending
    *    blocks and the estimated pair volume in the diagnostic — for
    *    pipelines that would rather re-block (more planes) than sample.
    */
  def ddEmbedCosOn(s: SparkSession, sig: DataFrame,
                   maxBlockRows: Int = EmbedCosMaxBlockRows,
                   onOverflow: String = "sample"): DataFrame = {
    import org.apache.spark.sql.functions._
    // tracked: failure paths below still release eagerly; the success
    // path's pin is freed by the caller via Caches.releaseAll (the
    // harness does it between queries) — double-release is a no-op
    val sigP = Caches.track(sig)
    // the guard chain is the shared DensityGuard (factored out of this
    // op in r12 — the draw reproduces the pre-refactor 'cosguard:'
    // xxhash64 bit-for-bit, independent of the signature hash family)
    val guarded = DensityGuard.guard(sigP, Seq("label", "bucket"),
      DensityGuard.drawOn("cosguard:", col("vec_id")),
      maxBlockRows, onOverflow, tag = "dd_embed_cos",
      remediation =
        "Re-block with more planes, raise the cap, or use onOverflow=sample.",
      onFail = Caches.release(sigP)) // failure paths free pins
    guarded.createOrReplaceTempView("__esig")
    // scored pairs are persisted before the threshold filter: predicate
    // pushdown would otherwise substitute the cosine fold into the WHERE
    // clause and evaluate the 64-element aggregate twice per pair
    val scored = Caches.pin(s.sql(
      """WITH probes AS (
        |  SELECT vec_id, label, v, nrm,
        |         explode(concat(array(bucket),
        |           transform(sequence(0, 7), j -> bucket ^ shiftleft(1, j)))) AS pb
        |  FROM __esig)
        |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       ROUND(graft_dot(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |FROM probes a JOIN __esig b
        |  ON a.label = b.label AND a.pb = b.bucket AND a.vec_id < b.vec_id""".stripMargin))
    scored.filter(col("cos") >= 0.9).orderBy("vec_a", "vec_b")
  }

  /** Repeated-span detection (the exact-substring dedup signal of Lee et
    * al.'s "Deduplicating Training Data Makes Language Models Better",
    * at n-gram granularity): for every document, how many of its n-token
    * gram positions also occur in ANOTHER document. A high dup_fraction
    * marks boilerplate/mirrored spans that near-dup signatures (which
    * hash whole documents) miss.
    *
    * Scale design: grams travel as 8-byte xxhash64 keys (the
    * dd_minhash/ddDecontam discipline). The document-frequency aggregate
    * is gram-vocabulary-sized, but the join back touches ONLY the df≥2
    * subset — on a healthy corpus that relation is tiny (boilerplate
    * vocabulary, not corpus positions), so Spark broadcasts it; per-doc
    * totals are a partial-agg count. Docs under n tokens carry no grams
    * and are absent (no defined fraction).
    */
  def ddSubstring(docs: DataFrame, n: Int): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__sub_docs")
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, split(text, ' ') AS toks FROM __sub_docs),
         |g AS (
         |  SELECT doc_id,
         |         explode(transform(sequence(1, size(toks) - ${n - 1}),
         |           i -> xxhash64(array_join(slice(toks, i, $n), ' ')))) AS g
         |  FROM tok WHERE size(toks) >= $n),
         |dups AS (
         |  SELECT g FROM (
         |    SELECT g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g)
         |  WHERE df >= 2)
         |SELECT g.doc_id, COUNT(*) AS n_grams,
         |       COUNT(d.g) AS n_dup,
         |       ROUND(COUNT(d.g) / COUNT(*), 6) AS dup_fraction
         |FROM g LEFT JOIN dups d ON d.g = g.g
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)
  }

  /** The oracle-checked form: every 7th document gets a fixed 20-token
    * boilerplate phrase appended TWICE (21 pure-phrase rotation positions
    * per planted doc, all shared across the planted set); n = 20. The
    * corpus's own whole-document duplicates surface too (dup_fraction
    * 1.0) — the dual signal PipelineSpec pins.
    */
  def ddSubstring(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    val aug = s.sql(
      s"""SELECT doc_id,
         |       CASE WHEN doc_id % 7 = 0
         |            THEN concat(text, ' ', '$BoilerPhrase', ' ', '$BoilerPhrase')
         |            ELSE text END AS text
         |FROM __docs""".stripMargin)
    ddSubstring(aug, n = 20)
  }

  /** 20 tokens of deterministic boilerplate shared by the planted docs. */
  private[graft] val BoilerPhrase: String =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  /** Duplicate-span REMOVAL at sliding-window granularity — the rewrite
    * step of Lee et al.'s exact-substring dedup ("Deduplicating Training
    * Data Makes Language Models Better"), where [[ddSubstring]] only
    * scores: a token is dropped iff ANY n-token window covering it also
    * occurs in ≥ `minDf` distinct documents, and the survivors reassemble
    * in order. Unlike [[ddParagraphOn]]'s fixed segmentation this catches
    * shared spans at ARBITRARY offsets (shifted boilerplate, quoted
    * passages straddling segment boundaries); like it, removal is
    * drop-all (the C4/CCNet boilerplate semantics), not keep-first.
    *
    * Scale design: grams travel as 8-byte xxhash64 keys; the df
    * aggregate is gram-vocabulary-sized and map-side combinable; the
    * df ≥ minDf relation is boilerplate-sized, so the join back
    * broadcasts and ONLY duplicated gram positions explode into covered
    * indexes (×n on the dup subset, not the corpus). The covered-index
    * sets ride one (doc_id) aggregate and the rewrite is a per-row
    * indexed-filter HOF — no corpus re-explode for reassembly.
    */
  def ddDespanOn(docs: DataFrame, n: Int, minDf: Int = 2): DataFrame = {
    require(n >= 2, s"ddDespanOn: n must be >= 2, got $n")
    require(minDf >= 2, s"ddDespanOn: minDf must be >= 2, got $minDf")
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__dsp_docs")
    s.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, split(text, ' ') AS toks FROM __dsp_docs),
         |g AS (
         |  -- short-doc guard INSIDE the generator (taWatermark idiom):
         |  -- sequence(1, size-k) on a short doc is DESCENDING and
         |  -- slice(toks, 0, n) throws at eval, so correctness must not
         |  -- hinge on Catalyst pushing the WHERE below Generate
         |  SELECT doc_id, p.pos AS pos, p.gh AS gh
         |  FROM tok
         |  LATERAL VIEW explode(CASE WHEN size(toks) >= $n
         |    THEN transform(sequence(1, size(toks) - ${n - 1}),
         |      i -> struct(i AS pos,
         |                  xxhash64(array_join(slice(toks, i, $n), ' '))
         |                    AS gh))
         |    ELSE array() END) pt AS p),
         |dups AS (
         |  SELECT gh FROM (
         |    SELECT gh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gh)
         |  WHERE df >= $minDf),
         |cov AS (
         |  SELECT DISTINCT doc_id, idx
         |  FROM (SELECT g.doc_id,
         |               explode(sequence(g.pos, g.pos + ${n - 1})) AS idx
         |        FROM g JOIN dups d ON d.gh = g.gh)),
         |covagg AS (
         |  SELECT doc_id, collect_set(idx) AS cov FROM cov GROUP BY doc_id)
         |SELECT t.doc_id,
         |       size(t.toks) AS n_tokens,
         |       COALESCE(size(c.cov), 0) AS n_removed,
         |       array_join(
         |         filter(t.toks,
         |           (x, i) -> NOT array_contains(
         |                       COALESCE(c.cov, array(-1)), i + 1)), ' ')
         |         AS clean_text
         |FROM tok t LEFT JOIN covagg c ON c.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin)
  }

  /** The oracle-checked form: the [[ddSubstring]] planting (every 7th
    * doc gets [[BoilerPhrase]] twice, n = 20) — planted docs shed the
    * whole boilerplate tail AND any covered prefix overlap; the corpus's
    * natural whole-document duplicates empty out entirely (dup docs are
    * one giant shared span).
    */
  def ddDespan(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    val aug = s.sql(
      s"""SELECT doc_id,
         |       CASE WHEN doc_id % 7 = 0
         |            THEN concat(text, ' ', '$BoilerPhrase', ' ', '$BoilerPhrase')
         |            ELSE text END AS text
         |FROM __docs""".stripMargin)
    ddDespanOn(aug, n = 20)
  }

  /** Duplicate-paragraph REMOVAL (the CCNet/C4 cleaning staple): segment
    * every document into consecutive `segTokens`-token spans, count each
    * span's corpus-wide document frequency, DROP spans appearing in
    * ≥ `minDf` distinct documents (shared boilerplate — headers, footers,
    * license blocks), and reassemble the surviving spans in order. Unlike
    * [[ddSubstring]] (which *scores* repeated spans) this one returns the
    * cleaned corpus — a transform a training pipeline feeds downstream.
    *
    * Scale design (100 TB): the df leg travels as 8-byte xxhash64 keys
    * through a partial-agg COUNT(DISTINCT doc) — gram-vocabulary-sized
    * output, corpus-sized input but map-side combinable. The df ≥ minDf
    * relation is boilerplate-vocabulary-sized (tiny on a healthy corpus),
    * so the join back broadcasts. Reassembly is the one unavoidable
    * corpus shuffle (groupBy doc_id over span text); on a corpus bucketed
    * by doc_id it would be exchange-free.
    */
  def ddParagraphOn(docs: DataFrame, segTokens: Int = 20,
                    minDf: Int = 2): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__par_docs")
    s.sql(
      s"""WITH tok AS (SELECT doc_id, split(text, ' ') AS toks FROM __par_docs),
         |seg AS (
         |  SELECT doc_id, sg.i AS seg_idx, sg.seg
         |  FROM tok
         |  LATERAL VIEW explode(transform(
         |    sequence(1, CAST(ceil(size(toks) / ${segTokens}.0) AS INT)),
         |    i -> struct(i AS i,
         |                array_join(slice(toks, (i - 1) * $segTokens + 1,
         |                                 $segTokens), ' ') AS seg))) sgt AS sg),
         |dup AS (
         |  SELECT h FROM (
         |    SELECT xxhash64(seg) AS h, COUNT(DISTINCT doc_id) AS df
         |    FROM seg GROUP BY xxhash64(seg))
         |  WHERE df >= $minDf)
         |SELECT s2.doc_id, COUNT(*) AS n_seg, COUNT(d.h) AS n_dropped,
         |       array_join(transform(array_sort(collect_list(
         |           CASE WHEN d.h IS NULL
         |                THEN struct(s2.seg_idx AS i, s2.seg AS seg) END)),
         |         x -> x.seg), ' ') AS text_clean
         |FROM seg s2 LEFT JOIN dup d ON d.h = xxhash64(s2.seg)
         |GROUP BY s2.doc_id ORDER BY s2.doc_id""".stripMargin)
  }

  /** Oracle-query form: every 5th document gets [[BoilerPhrase]] (exactly
    * `segTokens` = 20 tokens) PREPENDED, so it occupies precisely span 1
    * and every later span realigns with the unplanted segmentation — the
    * planted boilerplate is corpus-frequent (df ≈ n/5) and must vanish,
    * while genuine spans survive untouched. The corpus's natural
    * whole-document duplicates lose all their spans (text_clean = ''),
    * the same dual signal ddSubstring pins.
    */
  def ddParagraph(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    ddParagraphOn(s.sql(
      s"""SELECT doc_id,
         |       CASE WHEN doc_id % 5 = 0
         |            THEN concat('$BoilerPhrase', ' ', text)
         |            ELSE text END AS text
         |FROM __docs""".stripMargin))
  }

  /** Cluster-representative selection (the KEEP side of near-dup dedup):
    * given cluster membership rows (cluster_id, doc_id, score), retain the
    * argmax-score document of every cluster (doc_id ascending breaks
    * ties), emitting the survivor with its score and the cluster's member
    * count. This is the step between [[graft.ops.Pipeline.ddResolve]]'s
    * component labels and the final corpus: resolve says WHICH documents
    * are the same, keep-best says WHICH COPY survives (the highest-quality
    * one — not the arbitrary first, the discipline used when near-dup
    * groups mix a clean original with truncated or boilerplated mirrors).
    *
    * Scale design: one hash exchange on cluster_id; the member count and
    * the rank share that partitioning (a single Window stage, no second
    * shuffle). Cluster cardinality is bounded by near-dup group size —
    * the upstream banding already guarantees no corpus-sized cluster.
    */
  def ddKeepBest(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    members.createOrReplaceTempView("__kb_members")
    s.sql(
      """SELECT cluster_id, doc_id, score, n_members FROM (
        |  SELECT cluster_id, doc_id, score,
        |         COUNT(1) OVER (PARTITION BY cluster_id) AS n_members,
        |         ROW_NUMBER() OVER (PARTITION BY cluster_id
        |           ORDER BY score DESC, doc_id) AS rn
        |  FROM __kb_members)
        |WHERE rn = 1 ORDER BY cluster_id""".stripMargin)
  }

  /** The oracle-checked form: every 4th document spawns a truncated twin
    * (its first-8-token prefix, id offset by TwinIdOffset — the planting
    * discipline of the dedup family), clusters are the md5 of that prefix
    * (so each planted pair lands in one cluster), and score is the text
    * length — keep-best must surface the ORIGINAL of every planted pair
    * (longer beats its own prefix) while singletons survive untouched.
    */
  def ddKeepBest(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    ddKeepBest(s.sql(
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM __docs
         |  UNION ALL
         |  SELECT doc_id + ${TwinIdOffset}L,
         |         array_join(slice(split(text, ' '), 1, 8), ' ')
         |  FROM __docs WHERE doc_id % 4 = 0)
         |SELECT md5(array_join(slice(split(text, ' '), 1, 8), ' '))
         |         AS cluster_id,
         |       doc_id, length(text) AS score
         |FROM aug""".stripMargin))
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023,
    * public): embeddings are clustered by the SAME deterministic k-means
    * quantizer as ss_ivf_ann ([[Similarity.ivfTrainAssignCtes]]), and
    * within each cluster every vector whose cosine to a LOWER-id
    * cluster-mate reaches `tau` is marked dropped (keep-first, the
    * dd_exact discipline) — near-identical meaning collapses to one
    * surviving copy even when the surface text differs entirely. Output
    * is corpus-sized: (vec_id, cid, keep).
    *
    * Scale design: training + assignment are the IVF shapes (broadcast
    * centroid relation, narrow assignment). The within-cluster pair join
    * is an equality join on cid — SemDeDup's cost contract: pairs are
    * bounded by Σ|cluster|², so `nlist` is the safety dial (nlist ≈ √N
    * keeps E|cluster| = √N and total pair work ≈ N^1.5; the
    * dd_embed_cos density lesson applies — a near-duplicate-heavy shard
    * concentrates mass in one cluster, so production corpora should
    * pre-pass [[ddEmbedCos]]'s guarded exact-twin removal first).
    */
  def ddSemDedupOn(s: SparkSession, emb: DataFrame,
                   nlist: Int, tau: Double,
                   pretrained: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    s.sql(
      s"""WITH ${Similarity.ivfTrainAssignCtes(s, nlist, pretrained)},
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ROUND(graft_dot(a.v, b.v) / (a.nrm * b.nrm), 6) >= ${tau}D)
         |SELECT a.vec_id, a.cid, d.vec_id IS NULL AS keep
         |FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin)
  }

  /** The oracle-checked form: the corpus carries no ≥0.9 pairs (measured
    * max natural cosine 0.51), so every 10th vector spawns a planted
    * semantic twin — its double-cast embedding with +0.1 on the first
    * coordinate (cosine ≈ 1, id offset by TwinIdOffset) — and SemDeDup
    * at nlist=16, tau=0.9 must drop exactly the twins that share their
    * original's cluster while every natural vector keeps.
    */
  def ddSemDedup(s: SparkSession, dir: String): DataFrame =
    ddSemDedupOn(s, semDedupAug(s, dir), nlist = 16, tau = 0.9)

  /** The planted-twin corpus the dd_semdedup oracle pair runs on. */
  private def semDedupAug(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb_raw")
    s.sql(
      s"""SELECT vec_id,
         |       CAST(embedding AS ARRAY<DOUBLE>) AS embedding
         |FROM __emb_raw
         |UNION ALL
         |SELECT vec_id + ${TwinIdOffset}L,
         |       transform(embedding, (x, i) -> CAST(x AS DOUBLE)
         |         + CASE WHEN i = 0 THEN CAST(0.1 AS DOUBLE)
         |                ELSE CAST(0 AS DOUBLE) END)
         |FROM __emb_raw WHERE vec_id % 10 = 0""".stripMargin)
  }

  /** Train-once SemDeDup (r12 verdict item #1 applied to the dedup
    * tier): the coarse codebook comes from [[Similarity.ssIvfTrain]]
    * via a parquet round trip, and clustering+within-cluster dedup run
    * against the broadcast pretrained relation — at 100 TB the
    * quantizer trains on a sample ONCE while dedup shards query it
    * many times. Row-identical to [[ddSemDedup]] (same deterministic
    * chain, bit-exact storage), so the inline DuckDB oracle replays.
    */
  def ddSemDedupPre(s: SparkSession, dir: String): DataFrame = {
    val aug = semDedupAug(s, dir)
    val cent = Similarity.parquetRoundTrip(s,
      Similarity.ssIvfTrain(s, aug, 16), "graft_dd_semdedup_pre_cent")
    ddSemDedupOn(s, aug, nlist = 16, tau = 0.9, pretrained = Some(cent))
  }

  /** Per-source duplication summary: document count, distinct-text count
    * (md5 digests — the ddExact equality), and the duplicate rate — the
    * executive table a curation run reports before and after dedup.
    * One source-keyed partial+final aggregate; COUNT(DISTINCT digest)
    * is the only expansion and it is md5-compacted first.
    */
  def ddStats(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__st_docs")
    s.sql(
      """SELECT source, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT md5(text)) AS n_distinct,
        |       ROUND(CAST(1 AS DOUBLE)
        |             - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*),
        |             6) AS dup_rate
        |FROM __st_docs GROUP BY source ORDER BY source""".stripMargin)
  }

  /** The oracle-checked form: every doc_id % 6 == 0 text is replaced by
    * its source's doc 0 text (planted within-source duplicates), so each
    * source reads a real dup_rate.
    */
  def ddStats(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__docs")
    ddStats(s.sql(
      """SELECT a.source,
        |       CASE WHEN a.doc_id % 6 = 0 THEN coalesce(b.text, a.text)
        |            ELSE a.text END AS text
        |FROM __docs a
        |LEFT JOIN (SELECT source, MIN(doc_id) AS m FROM __docs
        |           GROUP BY source) mm ON mm.source = a.source
        |LEFT JOIN __docs b ON b.doc_id = mm.m""".stripMargin))
  }

  /** Cross-corpus exact dedup: flag every corpus document whose exact text
    * already exists in a REFERENCE corpus (the "dedup the new crawl against
    * last month's snapshot" primitive — cross-SET, where [[ddExactOn]] is
    * within-set). Equality is md5-of-text, the ddExact discipline;
    * [[ddDecontam]] is the n-gram (partial-overlap) sibling.
    *
    * Scale design: one DISTINCT hash compaction of the reference, one
    * equality join on the 128-bit digest — the canonical hash anti-join.
    * The corpus side never shuffles its text, only (doc_id, digest); a
    * snapshot-sized reference relation is still tiny next to the corpus
    * and AQE broadcasts it when it fits.
    */
  def ddCrossDedup(corpus: DataFrame, ref: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    corpus.createOrReplaceTempView("__xd_corpus")
    ref.createOrReplaceTempView("__xd_ref")
    s.sql(
      """WITH rh AS (SELECT DISTINCT md5(text) AS h FROM __xd_ref)
        |SELECT c.doc_id, rh.h IS NOT NULL AS dup_in_ref
        |FROM (SELECT doc_id, md5(text) AS h FROM __xd_corpus) c
        |LEFT JOIN rh ON rh.h = c.h
        |ORDER BY c.doc_id""".stripMargin)
  }

  /** The oracle-checked form: corpus = odd docs with every doc_id%10=5
    * text replaced by its even neighbour's text (the planted cross-set
    * duplicates, the ta_ppl_foreign planting discipline); reference =
    * even docs. Delegates to the production entry.
    */
  def ddCrossDedup(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    val corpus = s.sql(
      """SELECT a.doc_id,
        |       CASE WHEN a.doc_id % 10 = 5 THEN b.text ELSE a.text END AS text
        |FROM __docs a LEFT JOIN __docs b ON b.doc_id = a.doc_id - 1
        |WHERE a.doc_id % 2 = 1""".stripMargin)
    val ref = s.sql("SELECT doc_id, text FROM __docs WHERE doc_id % 2 = 0")
    ddCrossDedup(corpus, ref)
  }

  /** Bloom-filter cross-corpus dedup: [[ddCrossDedup]]'s exact semantics
    * (flag every corpus document whose text exists verbatim in a
    * reference corpus) with the ZERO-CORPUS-SHUFFLE plan: the reference
    * is folded into a Bloom filter by ONE distributed aggregate (partial
    * filters OR-merge, so the build is combiner-shaped at any
    * parallelism — Spark's own runtime-filter machinery, surfaced via
    * graft_bloom_agg), the filter rides to every task as a literal, and
    * the corpus splits map-side into a definitely-clean leg (no false
    * negatives — flagged false with NO shuffle at all) and a candidate
    * leg (true dups + ~fpp·|corpus| false positives) that alone pays the
    * exact md5 verification join. The result is EXACT — the bloom only
    * prunes, the md5 join decides.
    *
    * At 100 TB this is the design you want when the reference is big
    * enough that broadcasting its hash set is infeasible but the DUP RATE
    * is low: [[ddCrossDedup]] shuffles the full corpus digest relation;
    * this shuffles only candidates. Filter sizing: numBits =
    * −n·ln(fpp)/ln²2 (≈1.2 MB per million refs at fpp 1 %) — the literal
    * is the broadcast cost, so fpp trades task-side bytes against
    * verification traffic. The reference count used for sizing is one
    * COUNT scalar (the dsMix bounded-collect discipline).
    */
  def ddBloomDedup(corpus: DataFrame, ref: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val s = corpus.sparkSession
    graft.functions.GraftFunctions.register(s)
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    val nRef = ref.count()
    if (nRef == 0)
      return corpus.select(col("doc_id"), lit(false).as("dup_in_ref"))
        .orderBy("doc_id")
    val numBits = math.max(64L,
      math.ceil(-nRef * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bf = ref
      .selectExpr(s"graft_bloom_agg(xxhash64(text), ${nRef}L, ${numBits}L) AS bf")
      .head().getAs[Array[Byte]](0)
    val might = call_function("graft_might_contain", lit(bf),
      expr("xxhash64(text)"))
    val base = corpus.select(col("doc_id"), col("text"))
      .withColumn("__might", might)
    // leg 1: bloom-clean — a Bloom filter has no false negatives, so
    // these rows are decided map-side, never shuffled, never joined
    val clean = base.where(!col("__might"))
      .select(col("doc_id"), lit(false).as("dup_in_ref"))
    // leg 2: candidates — exact md5 verification (the ddExact digest
    // discipline) over the pruned relation only
    val cand = base.where(col("__might"))
      .select(col("doc_id"), expr("md5(text)").as("h"))
    val refH = ref.select(expr("md5(text)").as("h")).distinct()
    val verified = cand
      .join(refH.withColumn("__m", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("__m"), lit(false)).as("dup_in_ref"))
    clean.unionByName(verified).orderBy("doc_id")
  }

  /** The oracle-checked form: reference = the doc_id%10=0 docs; corpus =
    * the rest, with every doc_id%10=7 text replaced by the (doc_id−7)
    * reference text — planted cross-set duplicates on a DIFFERENT key
    * family than dd_crossdedup's, so the two entries stay independently
    * checkable. Delegates to the production entry at fpp 1 %.
    */
  def ddBloomDedup(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    val corpus = s.sql(
      """SELECT a.doc_id,
        |       CASE WHEN a.doc_id % 10 = 7 THEN coalesce(b.text, a.text)
        |            ELSE a.text END AS text
        |FROM __docs a LEFT JOIN __docs b ON b.doc_id = a.doc_id - 7
        |WHERE a.doc_id % 10 <> 0""".stripMargin)
    val ref = s.sql("SELECT doc_id, text FROM __docs WHERE doc_id % 10 = 0")
    ddBloomDedup(corpus, ref, fpp = 0.01)
  }

  /** Fuzzy cross-corpus near-dup — the LSH sibling of [[ddCrossDedup]]
    * (exact text) and `ddDecontam` (exact n-grams): flag every corpus
    * document whose 3-shingle Jaccard with ANY reference document clears
    * 1/2, catching the paraphrased/lightly-edited benchmark leakage that
    * exact matching misses. Per corpus document: the number of verified
    * reference matches and the smallest matching reference id (−1 when
    * clean).
    *
    * Scale design: both sides go through the shared minhash pipeline
    * (ONE persisted distinct-shingle relation each, 8 parallel MIN
    * signatures in one groupBy); candidates are the CROSS bucket join on
    * (band, bandhash) — corpus×ref pairs never materialize beyond bucket
    * collisions — and only candidates pay the exact 8-byte-key
    * intersection join (the [[ddMinhashLshOn]] verification discipline,
    * same 2^-54-per-doc collision caveat vs the string-keyed oracle).
    * The rollup is a corpus-keyed LEFT join, output corpus-cardinality.
    */
  def ddCrossFuzzy(corpus: DataFrame, ref: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val (tokC, _, bandC) = minhashRelationsOn(
      corpus.selectExpr("doc_id", "split(text, ' ') AS toks"))
    val (tokR, _, bandR) = minhashRelationsOn(
      ref.selectExpr("doc_id", "split(text, ' ') AS toks"))
    val cand = bandC.select(col("doc_id").as("doc_c"), col("band"), col("bh"))
      .join(bandR.select(col("doc_id").as("doc_r"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("doc_c", "doc_r").distinct()
    val tokhC = tokC.select(col("doc_id").as("doc_c"),
      xxhash64(col("tok")).as("tk"))
    val tokhR = tokR.select(col("doc_id").as("doc_r"),
      xxhash64(col("tok")).as("tk"))
    val cntC = tokhC.groupBy("doc_c").agg(count(lit(1)).as("nc"))
    val cntR = tokhR.groupBy("doc_r").agg(count(lit(1)).as("nr"))
    val inter = cand
      .join(tokhC, Seq("doc_c")).join(tokhR, Seq("doc_r", "tk"))
      .groupBy("doc_c", "doc_r").agg(count(lit(1)).as("inter"))
    val verified = inter.join(cntC, "doc_c").join(cntR, "doc_r")
      .filter(lit(3) * col("inter") >= col("nc") + col("nr"))
    val rollup = verified.groupBy("doc_c").agg(
      count(lit(1)).as("n_matches"), min("doc_r").as("best_ref"))
    corpus.select("doc_id").distinct()
      .join(rollup.withColumnRenamed("doc_c", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_ref"), lit(-1L)).as("best_ref"))
      .orderBy("doc_id")
  }

  /** The oracle-checked form: corpus = odd docs with every doc_id%10=5
    * text replaced by its even neighbour's text plus three appended
    * tokens — a NEAR duplicate (shingle Jaccard (n−2)/(n+1), above the
    * 1/2 bar but below 1, exactly what ddCrossDedup's exact-hash check
    * cannot see); reference = even docs. Delegates to the production
    * entry.
    */
  def ddCrossFuzzy(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    val corpus = s.sql(
      """SELECT a.doc_id,
        |       CASE WHEN a.doc_id % 10 = 5
        |            THEN concat(b.text, ' zz qq ww')
        |            ELSE a.text END AS text
        |FROM __docs a LEFT JOIN __docs b ON b.doc_id = a.doc_id - 1
        |WHERE a.doc_id % 2 = 1""".stripMargin)
    val ref = s.sql("SELECT doc_id, text FROM __docs WHERE doc_id % 2 = 0")
    ddCrossFuzzy(corpus, ref)
  }

  /** Prefix-hash duplicate groups: documents sharing their first
    * `prefixTokens` tokens verbatim — the crawl artifact whole-document
    * md5 (dd_exact) structurally misses: truncated fetches, pagination
    * tails, and re-crawls that append a footer all share the head. Each
    * group reports keep-first's keeper and the token-count spread
    * (min = max is a likely exact dup; min < max is the
    * truncation/extension family this op exists to catch).
    *
    * Scale design: one narrow map (split + slice + md5 — nothing
    * corpus-quadratic), one partial-agg COUNT/MIN/MAX on the 16-byte
    * key; the HAVING > 1 cut makes the output dup-family-sized.
    */
  def ddPrefixOn(docs: DataFrame, prefixTokens: Int = 32): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__pf_docs")
    s.sql(
      s"""WITH p AS (
         |  SELECT doc_id,
         |         md5(array_join(slice(split(text, ' '), 1, $prefixTokens),
         |                        ' ')) AS prefix_md5,
         |         size(split(text, ' ')) AS n_tokens
         |  FROM __pf_docs)
         |SELECT prefix_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
         |       MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
         |FROM p GROUP BY prefix_md5 HAVING COUNT(*) > 1
         |ORDER BY prefix_md5""".stripMargin)
  }

  /** The oracle-checked form over the testdata corpus (32-token prefix). */
  def ddPrefix(s: SparkSession, dir: String): DataFrame =
    ddPrefixOn(Tables.load(s, dir, "documents").select("doc_id", "text"))

  /** Blocked edit-distance record linkage — the classical Fellegi–Sunter
    * blocking + bounded-Levenshtein pass (Christen, "Data Matching",
    * 2012) that every entity-resolution pipeline runs on short noisy
    * fields: candidate pairs come ONLY from blocks sharing (length
    * bucket, first-8-chars key), and a pair links when the Levenshtein
    * distance of the two 64-char HEAD WINDOWS is ≤ maxDist. The head
    * window is the record-linkage standard for long fields: it bounds
    * the O(w²) DP cost per pair at w=64 regardless of document length,
    * and a single-character edit anywhere in the head is still caught.
    * What this op catches that the rest of the family cannot: MinHash/
    * n-gram Jaccard need a shingle's worth of agreement (one edit
    * inside every shingle window kills them on SHORT fields), and
    * dd_exact/dd_prefix need byte equality — typo-class noise (one
    * substitution, one dropped char) is exactly the Levenshtein ≤ 2
    * regime.
    *
    * Declared blocking misses (the standard trade): an edit inside the
    * first 8 chars or one that changes the length bucket moves the
    * record to another block — multi-key blocking (add a suffix key)
    * is the production recall knob, not a bigger block.
    *
    * Scale design: the block key is an equality join (hash exchange,
    * never a cross product); per-block fan-in is the corpus's key
    * cardinality profile (≤ 3 docs/block on the testdata, ≤ 5 measured
    * at 505k diverse-head docs), and the DP runs only on surviving
    * candidate pairs over fixed 64-char windows. Output is
    * linked-pair-sized. DENSITY-GUARDED (r11 verdict: the op's actual
    * target regime — log lines, form letters, boilerplate-prefixed web
    * pages — is exactly the templated-head distribution that puts
    * millions of docs in ONE (prefix, length-bucket) block and makes
    * the DP join quadratic on a single key): the [[DensityGuard]]
    * pre-agg bounds every block at `maxBlockRows` BEFORE the self-join,
    * sample-or-fail per `onOverflow`; under-cap corpora are bit-exact,
    * so the DuckDB oracle (which replays the unguarded chain) stays
    * green at the test SFs. The cap is sized to the DP cost: C(cap,2)
    * pairs × the w² window DP is ~2¹⁹ pairs per blown block at 1024.
    */
  val EditDistMaxBlockRows: Int = 1024

  def ddEditDistOn(docs: DataFrame, maxDist: Int = 2,
      window: Int = 64, maxBlockRows: Int = EditDistMaxBlockRows,
      onOverflow: String = "sample"): DataFrame = {
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__ed_docs")
    // tracked: the narrow (id, head, lb, pk) relation feeds the guard's
    // count pre-agg AND both self-join sides — one corpus scan instead
    // of three (A/B'd at sf0.1: parity within ambient noise, 1.06 vs
    // 1.08 s; kept for the scan-once shape, which is what matters when
    // the text scan dominates at scale)
    val blocks = Caches.track(s.sql(
      s"""SELECT doc_id, substring(text, 1, $window) AS head,
         |       length(text) div 16 AS lb,
         |       substring(text, 1, 8) AS pk
         |FROM __ed_docs""".stripMargin))
    DensityGuard.guard(blocks, Seq("lb", "pk"),
        DensityGuard.drawOn("edguard:", col("doc_id")),
        maxBlockRows, onOverflow, tag = "dd_editdist",
        remediation = "Block on a longer prefix or add a secondary " +
          "blocking key, raise the cap, or use onOverflow=sample.",
        onFail = Caches.release(blocks))
      .createOrReplaceTempView("__ed_blocks")
    s.sql(
      s"""SELECT doc_a, doc_b, dist FROM (
         |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |         CAST(levenshtein(a.head, c.head) AS BIGINT) AS dist
         |  FROM __ed_blocks a JOIN __ed_blocks c
         |    ON c.lb = a.lb AND c.pk = a.pk AND a.doc_id < c.doc_id)
         |WHERE dist <= $maxDist
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** The oracle-checked form: the testdata corpus plus a PLANTED
    * typo twin for every 7th doc (one substitution at position 11 —
    * inside the head window, outside the 8-char block key, length-
    * preserving, so the blocking must admit it and the DP must score
    * it ≤ 1). The planted pairs are the op's known answers; organic
    * same-block links ride along.
    */
  def ddEditDist(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__ed_raw")
    ddEditDistOn(s.sql(
      s"""SELECT doc_id, text FROM __ed_raw
         |UNION ALL
         |SELECT doc_id + $TwinIdOffset AS doc_id,
         |       concat(substring(text, 1, 10), 'q', substring(text, 12))
         |         AS text
         |FROM __ed_raw WHERE doc_id % 7 = 0""".stripMargin))
  }

  /** URL canonicalization + keep-first dedup — the web-corpus ingestion
    * staple (CCNet / RefinedWeb drop recrawls of the same logical page
    * before any content pass): two fetch records of one page differ only
    * in scheme case, `www.`, a default port, duplicate/trailing slashes,
    * tracking parameters, query-parameter order, or a fragment. The
    * canonicalizer applies the RFC 3986 §6 normalizations plus the
    * declared policy bits (http≡https unified to `https`; `www.`
    * stripped; `utm_*`/`fbclid`/`gclid`/`ref` dropped; remaining params
    * sorted; fragment dropped), then keeps the lowest id per canonical
    * URL.
    *
    * Scale design (100 TB): canonicalization is a narrow per-row string
    * transform (whole-stage codegen, no shuffle); the dedup itself is
    * ONE hash exchange keyed by canonical URL (the dd_exact shape) with
    * map-side partial MIN/COUNT. Nothing is collected, nothing joined.
    */
  /** Content-defined chunking dedup (the Rabin/FastCDC boundary idea of
    * storage dedup applied at token granularity — passage-level
    * duplicate detection that survives insertions/deletions, where
    * fixed-width windows shift out of alignment): a rolling 4-token
    * window hash marks a CHUNK BOUNDARY wherever hash % `div` == 0, so
    * boundaries are a function of CONTENT alone — two documents sharing
    * a long passage cut it into the SAME chunks no matter where the
    * passage sits in each. Chunks are then hashed and counted across
    * documents; per doc: chunk count, cross-document duplicate chunks,
    * and the duplicated fraction.
    *
    * Engine-exactness: the window hash is the shared md5→BIGINT family
    * (15 hex digits, non-negative), the chunk signature an md5 of the
    * in-order window-hash string — every value identical in DuckDB.
    *
    * Scale design (100 TB): grams travel as 8-byte keys; the boundary
    * scan is a per-document window (partition-local sort — no global
    * exchange); the chunk aggregate is keyed (doc, chunk); the df >= 2
    * relation is duplicate-chunk-sized, so the join back broadcasts (the
    * ddSubstring discipline). Docs under 4 tokens carry no windows and
    * are absent, as ddSubstring declares.
    */
  def ddCdcOn(docs: DataFrame, div: Int = 16): DataFrame = {
    require(div >= 2, s"ddCdcOn: div must be >= 2, got $div")
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__cdc_docs")
    // the chunk relation feeds BOTH the df >= 2 set and the per-doc
    // rollup; an inlined CTE would re-run the corpus explode + window
    // for each consumer (the ds_dsir lesson) — persisted via the
    // registry, released by the caller/harness per the Caches contract,
    // and WITH-free so the consumer's SQL matches the cache (PlanSpec)
    val ch = Caches.track(s.sql(
      s"""SELECT doc_id,
         |       md5(array_join(transform(
         |         array_sort(collect_list(struct(i, gh))),
         |         x -> CAST(x.gh AS STRING)), ',')) AS sig
         |FROM (
         |  SELECT doc_id, i, gh,
         |         SUM(CASE WHEN pmod(gh, $div) = 0 THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY i
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - CASE WHEN pmod(gh, $div) = 0 THEN 1 ELSE 0 END
         |           AS chunk
         |  FROM (
         |    SELECT doc_id, p.i AS i,
         |           CAST(conv(substring(md5(p.w), 1, 15), 16, 10) AS BIGINT)
         |             AS gh
         |    FROM (SELECT doc_id, split(text, ' ') AS toks FROM __cdc_docs)
         |    LATERAL VIEW explode(CASE WHEN size(toks) >= 4
         |      THEN transform(sequence(1, size(toks) - 3),
         |        i -> struct(i AS i,
         |                    array_join(slice(toks, i, 4), ' ') AS w))
         |      ELSE array() END) pt AS p))
         |GROUP BY doc_id, chunk""".stripMargin))
    ch.createOrReplaceTempView("__cdc_ch")
    s.sql(
      s"""WITH dup AS (
         |  SELECT sig FROM (
         |    SELECT sig, COUNT(DISTINCT doc_id) AS df FROM __cdc_ch
         |    GROUP BY sig)
         |  WHERE df >= 2)
         |SELECT c.doc_id, COUNT(*) AS n_chunks,
         |       COUNT(d.sig) AS n_dup_chunks,
         |       ROUND(COUNT(d.sig) / CAST(COUNT(*) AS DOUBLE), 6)
         |         AS dup_frac
         |FROM __cdc_ch c LEFT JOIN dup d ON d.sig = c.sig
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)
  }

  /** The oracle-checked form: the standard 80%-prefix twin corpus — a
    * twin shares its original's prefix verbatim, so content-defined
    * boundaries cut identical chunks there (dup_frac high for pairs,
    * zero for unrelated naturals).
    */
  def ddCdc(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    ddCdcOn(s.sql(
      s"""SELECT doc_id, text FROM __docs
         |UNION ALL
         |SELECT doc_id + ${TwinIdOffset} AS doc_id,
         |       array_join(slice(split(text, ' '), 1,
         |         (size(split(text, ' ')) * 4) div 5), ' ') AS text
         |FROM __docs""".stripMargin))
  }

  /** Corpus-wide duplicated-LINE removal — the CCNet/RefinedWeb line
    * dedup (Wenzek et al. 2020 §3.1 dedupe "paragraphs"≡lines by hash
    * across shards; Penedo et al. 2023 run the same pass): a line that
    * appears VERBATIM in at least `minDf` DISTINCT documents is
    * boilerplate (navigation chrome, cookie banners, footers) and is
    * dropped from EVERY document; each document is then reassembled
    * from its surviving lines in order. The granularity ladder this
    * completes: dd_exact drops whole duplicate documents, dd_paragraph
    * fixed 20-token segments, dd_cdc content-defined chunks,
    * dd_substring/dd_despan sliding n-gram windows — this is the
    * newline-delimited corpus-frequency member, the one the web-scale
    * pipelines actually run first.
    *
    * Contract: lines are compared verbatim (no normalization — compose
    * with taNormalize upstream for case-folded dedup); empty lines are
    * dropped unconditionally (trivially duplicated); df counts DISTINCT
    * documents, so a line repeated only WITHIN one document survives
    * (that is ta_derep's signal, not boilerplate); documents with no
    * non-empty lines are absent (no defined output).
    *
    * Engine-exactness: the df aggregate and the drop test are integer;
    * drop_frac is one exact int/int division rounded to 6 (the
    * taQuality discipline); reassembly sorts surviving (position, line)
    * pairs — deterministic in both engines.
    *
    * Scale design (100 TB): lines travel Spark-side as 8-byte xxhash64
    * keys (the dd_minhash/ddDecontam discipline — the DuckDB oracle
    * groups raw line text, identical modulo 2⁻⁶⁴ collisions); the df
    * aggregate is line-vocabulary-sized and combinable; the join back
    * touches ONLY the df ≥ minDf boilerplate set, which is small on any
    * healthy corpus (broadcast — the ddSubstring discipline) and at
    * worst line-vocabulary-sized (hash join, still linear: no pair
    * generation anywhere, so no density guard is needed); reassembly is
    * one doc_id exchange.
    */
  def ddLinesOn(docs: DataFrame, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"ddLinesOn: minDf must be >= 2, got $minDf")
    val s = docs.sparkSession
    docs.createOrReplaceTempView("__lines_docs")
    // the line relation feeds the df aggregate AND the join back — the
    // ddCdcOn persist discipline (one corpus explode, not two)
    val ln = Caches.track(s.sql(
      """SELECT doc_id, p.i AS i, p.line AS line,
        |       xxhash64(p.line) AS k
        |FROM __lines_docs
        |LATERAL VIEW posexplode(split(text, '\n')) p AS i, line
        |WHERE length(p.line) > 0""".stripMargin))
    ln.createOrReplaceTempView("__lines_ln")
    s.sql(
      s"""WITH df AS (
         |  SELECT k FROM (
         |    SELECT k, COUNT(DISTINCT doc_id) AS df
         |    FROM __lines_ln GROUP BY k)
         |  WHERE df >= $minDf),
         |marked AS (
         |  SELECT l.doc_id, l.i, l.line, d.k IS NOT NULL AS dup
         |  FROM __lines_ln l LEFT JOIN df d ON d.k = l.k)
         |SELECT doc_id,
         |       COUNT(*) AS n_lines,
         |       SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dropped,
         |       ROUND(CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE)
         |             / COUNT(*), 6) AS drop_frac,
         |       array_join(transform(array_sort(
         |         collect_list(struct(i, line)) FILTER (WHERE NOT dup)),
         |         p -> p.line), '\n') AS text_clean
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** The oracle-checked form: the corpus has no newlines, so
    * pseudo-lines are synthesized first (the ta_c4filter discipline —
    * 12-token lines, identical SQL in both engines), then boilerplate
    * is PLANTED: every 6th document appends a shared newsletter line
    * and every 15th a shared cookie-banner line. The planted lines hit
    * df ≈ N/6 and N/15 ≫ 2 and must vanish from every carrier; full
    * 12-token organic lines are unique, while the short TAIL line (the
    * sub-12-token remainder over the corpus's small vocabulary) DOES
    * collide across documents — genuine corpus-duplicated lines the
    * rule correctly drops, riding along with the plants. The oracle
    * hash proves the df rule, the within-doc exemption, and the
    * byte-exact reassembly at once.
    */
  def ddLines(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__lines_raw")
    val toks = "split(text, ' ')"
    ddLinesOn(s.sql(
      s"""SELECT doc_id,
         |  concat(
         |    array_join(
         |      transform(sequence(0, (size($toks) + 11) div 12 - 1),
         |        i -> array_join(slice($toks, i * 12 + 1, 12), ' ')),
         |      chr(10)),
         |    CASE WHEN doc_id % 6 = 0
         |         THEN concat(chr(10),
         |           'subscribe to our newsletter for weekly updates.')
         |         ELSE '' END,
         |    CASE WHEN doc_id % 15 = 0
         |         THEN concat(chr(10),
         |           'this site uses cookies to improve your experience.')
         |         ELSE '' END) AS text
         |FROM __lines_raw""".stripMargin))
  }

  /** The canonical-URL SQL expression over column `urlCol` — shared by
    * [[ddUrlOn]] and the streaming twin
    * [[graft.streaming.UrlDedupTracker]] so the two canonical forms
    * cannot drift. Policy: scheme unified to `https`; host lowercased,
    * `www.` and default ports stripped; duplicate/trailing slashes
    * collapsed; `utm_*`/`fbclid`/`gclid`/`ref` params dropped, the rest
    * sorted; fragment dropped.
    */
  def urlCanonSql(urlCol: String): String = {
    val hostport =
      s"regexp_extract($urlCol, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)"
    val path =
      s"regexp_extract($urlCol, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    val q =
      s"""array_join(array_sort(filter(
         |  split(regexp_extract($urlCol, '\\\\?([^#]*)', 1), '&'),
         |  p -> p <> '' AND p NOT RLIKE
         |    '^(utm_[a-z0-9]+|fbclid|gclid|ref)=')), '&')""".stripMargin
    s"""concat(
       |  'https://',
       |  regexp_replace(regexp_replace(lower($hostport),
       |    ':(80|443)$$', ''), '^www\\\\.', ''),
       |  regexp_replace(regexp_replace($path, '/{2,}', '/'), '/+$$', ''),
       |  CASE WHEN $q <> '' THEN concat('?', $q) ELSE '' END)""".stripMargin
  }

  def ddUrlOn(urls: DataFrame): DataFrame = {
    val s = urls.sparkSession
    urls.createOrReplaceTempView("__url_raw")
    s.sql(
      s"""WITH canon AS (
         |  SELECT id, ${urlCanonSql("url")} AS url FROM __url_raw)
         |SELECT MIN(id) AS keep_id, url, COUNT(*) AS n_dups
         |FROM canon GROUP BY url
         |ORDER BY keep_id""".stripMargin)
  }

  /** The oracle-checked form: each document synthesizes its fetch-record
    * URL from (source, lang, doc_id), and a planted twin (id +
    * TwinIdOffset) re-fetches the SAME logical page through every mess
    * the canonicalizer must undo — uppercase scheme/host, `www.` +
    * explicit `:80`, a doubled and trailing slash, tracking params
    * (`utm_source`, `fbclid`), shuffled param order, and a fragment.
    * 500 canonical URLs × 2 members each; the canonical string itself is
    * hash-compared, so the oracle locks the full normalization, not just
    * the grouping.
    */
  def ddUrl(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
    ddUrlOn(s.sql(
      s"""SELECT doc_id AS id,
         |       concat('https://www.', source, '.example.com/', lang,
         |              '/article-', CAST(doc_id AS STRING),
         |              '?id=', CAST(doc_id AS STRING), '&sort=new') AS url
         |FROM __docs
         |UNION ALL
         |SELECT doc_id + ${TwinIdOffset} AS id,
         |       concat('HTTP://WWW.', upper(source), '.EXAMPLE.COM:80/',
         |              lang, '//article-', CAST(doc_id AS STRING),
         |              '/?utm_source=feed&sort=new&id=',
         |              CAST(doc_id AS STRING), '&fbclid=x',
         |              CAST(doc_id AS STRING), '#frag') AS url
         |FROM __docs""".stripMargin))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_url" -> ((s: SparkSession, dir: String) => ddUrl(s, dir)),
    "dd_lines" -> ((s: SparkSession, dir: String) => ddLines(s, dir)),
    "dd_cdc" -> ((s: SparkSession, dir: String) => ddCdc(s, dir)),
    "dd_prefix" -> ((s: SparkSession, dir: String) => ddPrefix(s, dir)),
    "dd_editdist" -> ((s: SparkSession, dir: String) => ddEditDist(s, dir)),
    "dd_crossfuzzy" -> ((s: SparkSession, dir: String) => ddCrossFuzzy(s, dir)),
    "dd_bloom" -> ((s: SparkSession, dir: String) => ddBloomDedup(s, dir)),
    "dd_crossdedup" -> ((s: SparkSession, dir: String) => ddCrossDedup(s, dir)),
    "dd_semdedup" -> ((s: SparkSession, dir: String) => ddSemDedup(s, dir)),
    "dd_semdedup_pre" -> ((s: SparkSession, dir: String) => ddSemDedupPre(s, dir)),
    "dd_keepbest" -> ((s: SparkSession, dir: String) => ddKeepBest(s, dir)),
    "dd_stats" -> ((s: SparkSession, dir: String) => ddStats(s, dir)),
    "dd_substring" -> ((s: SparkSession, dir: String) => ddSubstring(s, dir)),
    "dd_despan" -> ((s: SparkSession, dir: String) => ddDespan(s, dir)),
    "dd_paragraph" -> ((s: SparkSession, dir: String) => ddParagraph(s, dir)),
    "dd_exact" -> (ddExact _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "ds_nearleak" -> (dsNearLeak _),
    "dd_minhash_est" -> (ddMinhashEst _),
    "dd_simhash" -> (ddSimhash _),
    "dd_simhash_pairs" -> (ddSimhashPairs _),
    "dd_hamming_hist" -> (ddHammingHist _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_containment" -> ((s: SparkSession, dir: String) => ddContainment(s, dir)),
    "dd_embed_cos" -> (ddEmbedCos _))

  /** The full 3-shingle simhash64 + 16-bit banding DuckDB construction
    * shared by dd_simhash_pairs and dd_hamming_hist.
    */
  private val simhashPairsDuck: String =
      s"""WITH corpus AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${TwinIdOffset} AS doc_id, toks[1:(len(toks) * 19) // 20] AS toks
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |tok AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(toks) >= 3
         |         THEN [toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
         |               FOR i IN generate_series(1, len(toks) - 2)]
         |         ELSE [] END) AS tok
         |  FROM corpus),
         |bits AS (
         |  SELECT doc_id, g.k,
         |         2 * (((strpos('0123456789abcdef',
         |                  substr(md5(tok), 1 + k // 4, 1)) - 1)
         |               >> (k % 4)) & 1) - 1 AS vote
         |  FROM tok CROSS JOIN generate_series(0, 63) g(k)),
         |votes AS (SELECT doc_id, k, SUM(vote) AS sv FROM bits GROUP BY doc_id, k),
         |sig AS (
         |  SELECT doc_id,
         |         SUM(CASE WHEN sv > 0 THEN
         |               CASE WHEN k = 63 THEN (-9223372036854775807 - 1)
         |                    ELSE (1::BIGINT << k) END
         |             ELSE 0 END)::BIGINT AS simhash
         |  FROM votes GROUP BY doc_id),
         |band AS (
         |  SELECT doc_id, simhash, g.bno,
         |         (simhash >> (16 * bno)) & 65535 AS bk
         |  FROM sig CROSS JOIN generate_series(0, 3) g(bno))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM band a JOIN band b
         |  ON a.bno = b.bno AND a.bk = b.bk AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " ")

  private val oracleSqlBase: Map[String, String] = Map(
    "dd_cdc" ->
      (s"""WITH corpus AS ( """ +
        """SELECT doc_id, text FROM documents """ +
        s"""UNION ALL SELECT doc_id + ${TwinIdOffset} AS doc_id, """ +
        """array_to_string(string_split(text, ' ')""" +
        """[1:(len(string_split(text, ' ')) * 4) // 5], ' ') AS text """ +
        """FROM documents), """ +
        """tok AS (SELECT doc_id, string_split(text, ' ') AS toks """ +
        """FROM corpus), """ +
        """g0 AS (SELECT doc_id, """ +
        """unnest([{'i': i, 'w': array_to_string(toks[i:i+3], ' ')} """ +
        """FOR i IN generate_series(1, len(toks) - 3)]) AS p """ +
        """FROM tok WHERE len(toks) >= 4), """ +
        """g AS (SELECT doc_id, p.i AS i, """ +
        """('0x' || substr(md5(p.w), 1, 15))::BIGINT AS gh FROM g0), """ +
        """cid AS (SELECT doc_id, i, gh, """ +
        """SUM(CASE WHEN gh % 16 = 0 THEN 1 ELSE 0 END) """ +
        """OVER (PARTITION BY doc_id ORDER BY i """ +
        """ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) """ +
        """- CASE WHEN gh % 16 = 0 THEN 1 ELSE 0 END AS chunk FROM g), """ +
        """ch AS (SELECT doc_id, chunk, """ +
        """md5(string_agg(gh::VARCHAR, ',' ORDER BY i)) AS sig """ +
        """FROM cid GROUP BY doc_id, chunk), """ +
        """dup AS (SELECT sig FROM ( """ +
        """SELECT sig, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY sig) """ +
        """WHERE df >= 2) """ +
        """SELECT c.doc_id, COUNT(*) AS n_chunks, """ +
        """COUNT(d.sig) AS n_dup_chunks, """ +
        """ROUND(COUNT(d.sig) / COUNT(*)::DOUBLE, 6) AS dup_frac """ +
        """FROM ch c LEFT JOIN dup d ON d.sig = c.sig """ +
        """GROUP BY c.doc_id ORDER BY c.doc_id"""),
    "dd_lines" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |raw AS (
        |  SELECT doc_id,
        |    array_to_string(
        |      [array_to_string(toks[i*12+1 : i*12+12], ' ')
        |       FOR i IN generate_series(0, (len(toks) + 11) // 12 - 1)],
        |      chr(10))
        |    || CASE WHEN doc_id % 6 = 0
        |            THEN chr(10) ||
        |              'subscribe to our newsletter for weekly updates.'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 15 = 0
        |            THEN chr(10) ||
        |              'this site uses cookies to improve your experience.'
        |            ELSE '' END AS text
        |  FROM tk),
        |ln AS (
        |  SELECT doc_id, u.i, u.line FROM raw,
        |  LATERAL (SELECT unnest(string_split(text, chr(10))) AS line,
        |                  generate_subscripts(string_split(text, chr(10)), 1)
        |                    AS i) u
        |  WHERE length(u.line) > 0),
        |df AS (
        |  SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS df FROM ln GROUP BY line)
        |  WHERE df >= 2),
        |marked AS (
        |  SELECT l.doc_id, l.i, l.line, d.line IS NOT NULL AS dup
        |  FROM ln l LEFT JOIN df d ON d.line = l.line)
        |SELECT doc_id,
        |       COUNT(*) AS n_lines,
        |       (SUM(CASE WHEN dup THEN 1 ELSE 0 END))::BIGINT AS n_dropped,
        |       ROUND((SUM(CASE WHEN dup THEN 1 ELSE 0 END))::DOUBLE
        |             / COUNT(*), 6) AS drop_frac,
        |       COALESCE(array_to_string(
        |         list(line ORDER BY i) FILTER (WHERE NOT dup), chr(10)),
        |         '') AS text_clean
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
        .replaceAll("\n", " "),
    "dd_url" ->
      (s"""WITH raw AS ( """ +
        """SELECT doc_id AS id, 'https://www.' || source || """ +
        """'.example.com/' || lang || '/article-' || doc_id::VARCHAR || """ +
        """'?id=' || doc_id::VARCHAR || '&sort=new' AS url FROM documents """ +
        s"""UNION ALL SELECT doc_id + ${TwinIdOffset} AS id, """ +
        """'HTTP://WWW.' || upper(source) || '.EXAMPLE.COM:80/' || lang || """ +
        """'//article-' || doc_id::VARCHAR || """ +
        """'/?utm_source=feed&sort=new&id=' || doc_id::VARCHAR || """ +
        """'&fbclid=x' || doc_id::VARCHAR || '#frag' AS url """ +
        """FROM documents), """ +
        """parts AS (SELECT id, """ +
        """regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) """ +
        """AS hostport, """ +
        """regexp_extract(url, """ +
        """'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path, """ +
        """regexp_extract(url, '\?([^#]*)', 1) AS query FROM raw), """ +
        """canon AS (SELECT id, 'https://' || """ +
        """regexp_replace(regexp_replace(lower(hostport), ':(80|443)$', """ +
        """''), '^www\.', '') || """ +
        """regexp_replace(regexp_replace(path, '/{2,}', '/', 'g'), """ +
        """'/+$', '') || """ +
        """CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url """ +
        """FROM (SELECT id, hostport, path, """ +
        """array_to_string(list_sort(list_filter(string_split(query, '&'), """ +
        """p -> p <> '' AND NOT regexp_matches(p, """ +
        """'^(utm_[a-z0-9]+|fbclid|gclid|ref)='))), '&') AS q """ +
        """FROM parts)) """ +
        """SELECT MIN(id) AS keep_id, url, COUNT(*) AS n_dups """ +
        """FROM canon GROUP BY url ORDER BY keep_id"""),
    "dd_prefix" ->
      ("WITH p AS (SELECT doc_id, " +
        "md5(array_to_string(string_split(text, ' ')[1:32], ' ')) " +
        "AS prefix_md5, " +
        "len(string_split(text, ' '))::INT AS n_tokens FROM documents) " +
        "SELECT prefix_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keeper, " +
        "MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens " +
        "FROM p GROUP BY prefix_md5 HAVING COUNT(*) > 1 " +
        "ORDER BY prefix_md5"),
    "dd_editdist" ->
      (s"""WITH raw AS (SELECT doc_id, text FROM documents """ +
        s"""UNION ALL SELECT doc_id + $TwinIdOffset, """ +
        """substring(text, 1, 10) || 'q' || substring(text, 12) """ +
        """FROM documents WHERE doc_id % 7 = 0), """ +
        """b AS (SELECT doc_id, substring(text, 1, 64) AS head, """ +
        """length(text) // 16 AS lb, substring(text, 1, 8) AS pk """ +
        """FROM raw) """ +
        """SELECT doc_a, doc_b, dist FROM ( """ +
        """SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, """ +
        """levenshtein(a.head, c.head)::BIGINT AS dist """ +
        """FROM b a JOIN b c ON c.lb = a.lb AND c.pk = a.pk """ +
        """AND a.doc_id < c.doc_id) """ +
        """WHERE dist <= 2 ORDER BY doc_a, doc_b"""),
    "dd_stats" ->
      ("""WITH aug AS (SELECT a.source, """ +
        """CASE WHEN a.doc_id % 6 = 0 THEN coalesce(b.text, a.text) """ +
        """ELSE a.text END AS text FROM documents a """ +
        """LEFT JOIN (SELECT source, MIN(doc_id) AS m FROM documents """ +
        """GROUP BY source) mm ON mm.source = a.source """ +
        """LEFT JOIN documents b ON b.doc_id = mm.m) """ +
        """SELECT source, COUNT(*) AS n_docs, """ +
        """COUNT(DISTINCT md5(text)) AS n_distinct, """ +
        """ROUND(1::DOUBLE - COUNT(DISTINCT md5(text))::DOUBLE / COUNT(*), 6) """ +
        """AS dup_rate FROM aug GROUP BY source ORDER BY source"""),
    "dd_crossfuzzy" ->
      """WITH corpus AS (
        |  SELECT a.doc_id,
        |         CASE WHEN a.doc_id % 10 = 5
        |              THEN b.text || ' zz qq ww'
        |              ELSE a.text END AS text
        |  FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
        |  WHERE a.doc_id % 2 = 1),
        |ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |tc AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(string_split(text, ' ')) >= 3
        |         THEN [string_split(text, ' ')[i] || ' ' ||
        |               string_split(text, ' ')[i + 1] || ' ' ||
        |               string_split(text, ' ')[i + 2]
        |               FOR i IN generate_series(1,
        |                 len(string_split(text, ' ')) - 2)]
        |         ELSE [] END) AS tok
        |  FROM corpus),
        |tr AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(string_split(text, ' ')) >= 3
        |         THEN [string_split(text, ' ')[i] || ' ' ||
        |               string_split(text, ' ')[i + 1] || ' ' ||
        |               string_split(text, ' ')[i + 2]
        |               FOR i IN generate_series(1,
        |                 len(string_split(text, ' ')) - 2)]
        |         ELSE [] END) AS tok
        |  FROM ref),
        |sc AS (
        |  SELECT doc_id, g.i, MIN(md5(i::VARCHAR || ':' || tok)) AS h
        |  FROM tc CROSS JOIN generate_series(0, 7) g(i)
        |  GROUP BY doc_id, g.i),
        |sr AS (
        |  SELECT doc_id, g.i, MIN(md5(i::VARCHAR || ':' || tok)) AS h
        |  FROM tr CROSS JOIN generate_series(0, 7) g(i)
        |  GROUP BY doc_id, g.i),
        |bc AS (
        |  SELECT doc_id, i // 2 AS band,
        |         md5(MIN(CASE WHEN i % 2 = 0 THEN h END) ||
        |             MIN(CASE WHEN i % 2 = 1 THEN h END)) AS bh
        |  FROM sc GROUP BY doc_id, i // 2),
        |br AS (
        |  SELECT doc_id, i // 2 AS band,
        |         md5(MIN(CASE WHEN i % 2 = 0 THEN h END) ||
        |             MIN(CASE WHEN i % 2 = 1 THEN h END)) AS bh
        |  FROM sr GROUP BY doc_id, i // 2),
        |cand AS (
        |  SELECT DISTINCT c.doc_id AS doc_c, r.doc_id AS doc_r
        |  FROM bc c JOIN br r ON c.band = r.band AND c.bh = r.bh),
        |cc AS (SELECT doc_id, COUNT(*) AS n FROM tc GROUP BY doc_id),
        |cr AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY doc_id),
        |inter AS (
        |  SELECT c.doc_c, c.doc_r, COUNT(*) AS inter
        |  FROM cand c
        |  JOIN tc ON tc.doc_id = c.doc_c
        |  JOIN tr ON tr.doc_id = c.doc_r AND tr.tok = tc.tok
        |  GROUP BY c.doc_c, c.doc_r),
        |verified AS (
        |  SELECT i.doc_c, i.doc_r
        |  FROM inter i
        |  JOIN cc ON cc.doc_id = i.doc_c
        |  JOIN cr ON cr.doc_id = i.doc_r
        |  WHERE 3 * i.inter >= cc.n + cr.n),
        |rollup AS (
        |  SELECT doc_c, COUNT(*) AS n_matches, MIN(doc_r) AS best_ref
        |  FROM verified GROUP BY doc_c)
        |SELECT c.doc_id,
        |       COALESCE(r.n_matches, 0)::BIGINT AS n_matches,
        |       COALESCE(r.best_ref, -1)::BIGINT AS best_ref
        |FROM (SELECT DISTINCT doc_id FROM corpus) c
        |LEFT JOIN rollup r ON r.doc_c = c.doc_id
        |ORDER BY c.doc_id""".stripMargin.replaceAll("\n", " "),
    // the bloom is a pruning detail — the EXACT contract is the same
    // digest semi-join as dd_crossdedup, on the %10 planting
    "dd_bloom" ->
      ("""WITH corpus AS (SELECT a.doc_id, """ +
        """CASE WHEN a.doc_id % 10 = 7 THEN coalesce(b.text, a.text) """ +
        """ELSE a.text END AS text """ +
        """FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 7 """ +
        """WHERE a.doc_id % 10 <> 0), """ +
        """rh AS (SELECT DISTINCT md5(text) AS h FROM documents """ +
        """WHERE doc_id % 10 = 0) """ +
        """SELECT c.doc_id, rh.h IS NOT NULL AS dup_in_ref """ +
        """FROM (SELECT doc_id, md5(text) AS h FROM corpus) c """ +
        """LEFT JOIN rh ON rh.h = c.h """ +
        """ORDER BY c.doc_id"""),
    "dd_crossdedup" ->
      ("""WITH corpus AS (SELECT a.doc_id, """ +
        """CASE WHEN a.doc_id % 10 = 5 THEN b.text ELSE a.text END AS text """ +
        """FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1 """ +
        """WHERE a.doc_id % 2 = 1), """ +
        """rh AS (SELECT DISTINCT md5(text) AS h FROM documents """ +
        """WHERE doc_id % 2 = 0) """ +
        """SELECT c.doc_id, rh.h IS NOT NULL AS dup_in_ref """ +
        """FROM (SELECT doc_id, md5(text) AS h FROM corpus) c """ +
        """LEFT JOIN rh ON rh.h = c.h """ +
        """ORDER BY c.doc_id"""),
    "dd_semdedup" ->
      (s"""WITH base AS (
          |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v
          |  FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + ${TwinIdOffset},
          |         [embedding[i]::DOUBLE
          |          + (CASE WHEN i = 1 THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END)
          |          FOR i IN generate_series(1, len(embedding))]
          |  FROM embeddings WHERE vec_id % 10 = 0),
          |n3 AS (
          |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
          |  FROM base),
          |cent0 AS (
          |  SELECT cid, cv, cnrm FROM (
          |    SELECT (ROW_NUMBER() OVER (
          |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
          |             - 1 AS cid,
          |           v AS cv, nrm AS cnrm
          |    FROM n3) WHERE cid < 16),
          |${Similarity.ivfDuckIters},
          |assign AS (
          |  SELECT vec_id, v, nrm, cid FROM (
          |    SELECT n.vec_id, n.v, n.nrm, c.cid,
          |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
          |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
          |                        FOR i IN generate_series(1, len(n.v))])
          |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
          |    FROM n3 n CROSS JOIN cent${Similarity.IvfIters} c) WHERE rn = 1),
          |dropped AS (
          |  SELECT DISTINCT b.vec_id
          |  FROM assign a JOIN assign b
          |    ON a.cid = b.cid AND a.vec_id < b.vec_id
          |  WHERE ROUND(list_sum([a.v[i] * b.v[i]
          |           FOR i IN generate_series(1, len(a.v))])
          |        / (a.nrm * b.nrm), 6) >= 0.9)
          |SELECT a.vec_id, a.cid, d.vec_id IS NULL AS keep
          |FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
          |ORDER BY a.vec_id""".stripMargin.replaceAll("\n", " ")),
    "dd_keepbest" ->
      (s"""WITH aug AS (SELECT doc_id, text FROM documents """ +
        s"""UNION ALL SELECT doc_id + ${TwinIdOffset}, """ +
        """array_to_string(string_split(text, ' ')[1:8], ' ') """ +
        """FROM documents WHERE doc_id % 4 = 0), """ +
        """mem AS (SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) """ +
        """AS cluster_id, doc_id, length(text) AS score FROM aug) """ +
        """SELECT cluster_id, doc_id, score, n_members FROM ( """ +
        """SELECT cluster_id, doc_id, score, """ +
        """COUNT(*) OVER (PARTITION BY cluster_id) AS n_members, """ +
        """ROW_NUMBER() OVER (PARTITION BY cluster_id """ +
        """ORDER BY score DESC, doc_id) AS rn FROM mem) """ +
        """WHERE rn = 1 ORDER BY cluster_id"""),
    // string grams (ground truth): the result is hash-family-independent —
    // per-position df≥2 flags agree for any injective keying
    "dd_substring" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0
        |              THEN text || ' ' || '$BoilerPhrase' || ' ' || '$BoilerPhrase'
        |              ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
        |g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+19], ' ')
        |                         FOR i IN generate_series(1, len(toks) - 19)]) AS g
        |  FROM tok WHERE len(toks) >= 20),
        |dups AS (
        |  SELECT g FROM (
        |    SELECT g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g)
        |  WHERE df >= 2)
        |SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(d.g) AS n_dup,
        |       ROUND(COUNT(d.g) / COUNT(*), 6) AS dup_fraction
        |FROM g LEFT JOIN dups d ON d.g = g.g
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
        .replaceAll("\n", " "),
    "dd_despan" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0
        |              THEN text || ' ' || '$BoilerPhrase' || ' ' || '$BoilerPhrase'
        |              ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
        |g AS (
        |  SELECT doc_id,
        |         unnest([{'pos': i, 'gh': array_to_string(toks[i:i+19], ' ')}
        |                 FOR i IN generate_series(1, len(toks) - 19)]) AS p
        |  FROM tok WHERE len(toks) >= 20),
        |g2 AS (SELECT doc_id, p.pos AS pos, p.gh AS gh FROM g),
        |dups AS (
        |  SELECT gh FROM (
        |    SELECT gh, COUNT(DISTINCT doc_id) AS df FROM g2 GROUP BY gh)
        |  WHERE df >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, idx FROM (
        |    SELECT g2.doc_id, unnest(generate_series(g2.pos, g2.pos + 19))
        |             AS idx
        |    FROM g2 JOIN dups d ON d.gh = g2.gh)),
        |covagg AS (SELECT doc_id, list(idx) AS cov FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks) AS n_tokens,
        |       COALESCE(len(c.cov), 0) AS n_removed,
        |       COALESCE(array_to_string(
        |         [t.toks[i] FOR i IN generate_series(1, len(t.toks))
        |          IF NOT COALESCE(list_contains(c.cov, i), false)], ' '), '')
        |         AS clean_text
        |FROM tok t LEFT JOIN covagg c ON c.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin
        .replaceAll("\n", " "),
    "dd_paragraph" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN '$BoilerPhrase' || ' ' || text
        |              ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
        |pos AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1,
        |           CAST(ceil(len(toks) / 20.0) AS INT))) AS i
        |  FROM tok),
        |seg AS (
        |  SELECT doc_id, i AS seg_idx,
        |         array_to_string(toks[((i - 1) * 20 + 1):(i * 20)], ' ') AS seg
        |  FROM pos),
        |dup AS (
        |  SELECT seg FROM (
        |    SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
        |  WHERE df >= 2)
        |SELECT s.doc_id, COUNT(*) AS n_seg, COUNT(d.seg) AS n_dropped,
        |       COALESCE(string_agg(CASE WHEN d.seg IS NULL THEN s.seg END,
        |                           ' ' ORDER BY s.seg_idx), '') AS text_clean
        |FROM seg s LEFT JOIN dup d ON d.seg = s.seg
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin.replaceAll("\n", " "),
    "dd_exact" ->
      s"""SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
        |                                    ORDER BY doc_id) AS rn
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + ${TwinIdOffset}, text FROM documents)
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "dd_minhash_lsh" ->
      s"""WITH $minhashPairsDuckCtes
         |SELECT doc_a, doc_b, inter, uni FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " "),
    "ds_nearleak" ->
      s"""WITH $minhashPairsDuckCtes,
         |sp AS (
         |  SELECT ROUND(inter::DOUBLE / uni, 6) AS j,
         |         CASE WHEN da < 12 THEN 'train' WHEN da < 14 THEN 'val'
         |              ELSE 'test' END AS sa,
         |         CASE WHEN db < 12 THEN 'train' WHEN db < 14 THEN 'val'
         |              ELSE 'test' END AS sb
         |  FROM (
         |    SELECT *,
         |           strpos('0123456789abcdef', substr(md5(
         |             'split:' || doc_a::VARCHAR), 1, 1)) - 1 AS da,
         |           strpos('0123456789abcdef', substr(md5(
         |             'split:' || doc_b::VARCHAR), 1, 1)) - 1 AS db
         |    FROM pairs))
         |SELECT split_a, split_b, split_a <> split_b AS leak,
         |       COUNT(*) AS n_pairs,
         |       ROUND(CAST(SUM(CAST(j AS DECIMAL(18,6))) AS DOUBLE)
         |             / COUNT(*), 6) AS mean_jaccard
         |FROM (SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
         |             j FROM sp)
         |GROUP BY split_a, split_b
         |ORDER BY split_a, split_b""".stripMargin.replaceAll("\n", " "),
    "dd_minhash_est" ->
      s"""WITH $corpusSql,
         |tok AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(toks) >= 3
         |         THEN [toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
         |               FOR i IN generate_series(1, len(toks) - 2)]
         |         ELSE [] END) AS tok
         |  FROM corpus),
         |sig AS (
         |  SELECT doc_id, g.i, MIN(md5(i::VARCHAR || ':' || tok)) AS h
         |  FROM tok CROSS JOIN generate_series(0, 7) g(i)
         |  GROUP BY doc_id, g.i),
         |band AS (
         |  SELECT doc_id, i // 2 AS band,
         |         md5(MIN(CASE WHEN i % 2 = 0 THEN h END) ||
         |             MIN(CASE WHEN i % 2 = 1 THEN h END)) AS bh
         |  FROM sig GROUP BY doc_id, i // 2),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh
         |  WHERE a.doc_id < b.doc_id),
         |est AS (
         |  SELECT c.doc_a, c.doc_b,
         |         SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS m
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
         |  GROUP BY c.doc_a, c.doc_b),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN tok ta ON ta.doc_id = c.doc_a
         |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT e.doc_a, e.doc_b,
         |       ROUND(e.m / 8.0, 6) AS est_j,
         |       ROUND(i.inter / (ca.n + cb.n - i.inter), 6) AS exact_j,
         |       ROUND(abs(e.m / 8.0
         |                 - i.inter / (ca.n + cb.n - i.inter)), 6) AS abs_err
         |FROM est e
         |JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         |JOIN cnt ca ON ca.doc_id = e.doc_a
         |JOIN cnt cb ON cb.doc_id = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin.replaceAll("\n", " "),
    "dd_simhash" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, g.k,
        |         2 * (((strpos('0123456789abcdef',
        |                  substr(md5(tok), 1 + k // 4, 1)) - 1)
        |               >> (k % 4)) & 1) - 1 AS vote
        |  FROM tok CROSS JOIN generate_series(0, 15) g(k)),
        |votes AS (
        |  SELECT doc_id, k, SUM(vote) AS s FROM bits GROUP BY doc_id, k)
        |SELECT doc_id,
        |       SUM(CASE WHEN s > 0 THEN 1 << k ELSE 0 END)::BIGINT AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "dd_simhash_pairs" -> simhashPairsDuck,
    "dd_hamming_hist" -> {
      // same 64-bit signature + banding construction; histogram tail
      val cut = simhashPairsDuck.indexOf("SELECT DISTINCT a.doc_id")
      simhashPairsDuck.substring(0, cut) +
        ", cand AS (SELECT DISTINCT a.doc_id AS doc_a, " +
        "b.doc_id AS doc_b, " +
        "bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming " +
        "FROM band a JOIN band b ON a.bno = b.bno AND a.bk = b.bk " +
        "AND a.doc_id < b.doc_id) " +
        "SELECT hamming, COUNT(*) AS n_pairs, " +
        "SUM(COUNT(*)) OVER (ORDER BY hamming)::BIGINT AS cum_pairs " +
        "FROM cand GROUP BY hamming ORDER BY hamming"
    },
    "dd_ngram_jaccard" ->
      s"""WITH $corpusSql,
         |sh AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(toks) >= 2
         |         THEN [toks[i] || ' ' || toks[i + 1]
         |               FOR i IN generate_series(1, len(toks) - 1)]
         |         ELSE [] END) AS sh
         |  FROM corpus),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + ${TwinIdOffset} AND b.sh = a.sh
         |  GROUP BY a.doc_id)
         |SELECT i.doc_a, i.inter, ca.n + cb.n - i.inter AS uni,
         |       ROUND(i.inter / (ca.n + cb.n - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN cnt ca ON ca.doc_id = i.doc_a
         |JOIN cnt cb ON cb.doc_id = i.doc_a + ${TwinIdOffset}
         |ORDER BY i.doc_a""".stripMargin.replaceAll("\n", " "),
    "dd_containment" ->
      s"""WITH $corpusSql,
         |sh AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(toks) >= 2
         |         THEN [toks[i] || ' ' || toks[i + 1]
         |               FOR i IN generate_series(1, len(toks) - 1)]
         |         ELSE [] END) AS sh
         |  FROM corpus),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + ${TwinIdOffset} AND b.sh = a.sh
         |  GROUP BY a.doc_id)
         |SELECT i.doc_a, i.doc_a + ${TwinIdOffset} AS doc_b, i.inter,
         |       ca.n AS n_a, cb.n AS n_b,
         |       ROUND(i.inter / ca.n, 6) AS c_ab,
         |       ROUND(i.inter / cb.n, 6) AS c_ba
         |FROM inter i
         |JOIN cnt ca ON ca.doc_id = i.doc_a
         |JOIN cnt cb ON cb.doc_id = i.doc_a + ${TwinIdOffset}
         |ORDER BY i.doc_a""".stripMargin.replaceAll("\n", " "),
    "dd_embed_cos" ->
      s"""WITH base AS (
        |  SELECT vec_id, label,
        |         [x::DOUBLE FOR x IN embedding] AS v
        |  FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, label, v FROM base
        |  UNION ALL
        |  SELECT vec_id + ${TwinIdOffset}, label,
        |         [CASE WHEN i = 1 THEN v[i] * 1.5 ELSE v[i] END
        |          FOR i IN generate_series(1, len(v))]
        |  FROM base),
        |sig AS (
        |  SELECT vec_id, label, v,
        |         sqrt(list_sum([x * x FOR x IN v])) AS nrm,
        |         list_sum([CASE WHEN list_sum([v[i] *
        |             (CASE WHEN (strpos('0123456789abcdef',
        |                    substr(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 1)
        |                   % 2 = 0
        |                   THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)
        |             FOR i IN generate_series(1, len(v))]) > 0
        |           THEN 1 << j ELSE 0 END
        |           FOR j IN generate_series(0, 7)])::INT AS bucket
        |  FROM corpus)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       ROUND(list_sum([a.v[i] * b.v[i]
        |                       FOR i IN generate_series(1, len(a.v))])
        |             / (a.nrm * b.nrm), 6) AS cos
        |FROM sig a JOIN sig b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        | AND bit_count(xor(a.bucket::BIGINT, b.bucket::BIGINT)) <= 1
        |WHERE ROUND(list_sum([a.v[i] * b.v[i]
        |                      FOR i IN generate_series(1, len(a.v))])
        |            / (a.nrm * b.nrm), 6) >= 0.9
        |ORDER BY vec_a, vec_b""".stripMargin.replaceAll("\n", " "))

  /** dd_semdedup_pre is row-identical to dd_semdedup by construction
    * (same deterministic quantizer, parquet round trip is bit-exact),
    * so its DuckDB oracle is the inline text verbatim. */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "dd_semdedup_pre" -> oracleSqlBase("dd_semdedup"))
}
