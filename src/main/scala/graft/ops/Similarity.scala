package graft.ops

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Similarity search over the `embeddings` table (builder brief): exact
  * brute-force cosine top-k as the baseline, and two scale paths — an
  * LSH-bucketed (random-hyperplane SimHash) variant with multiprobe, and
  * an IVF variant with k-means-trained coarse centroids.
  *
  * Scale design (100 TB): brute force is a query-side broadcast against a
  * full scan — linear per query vector, the right baseline but O(Q·N).
  * The LSH variant buckets both sides by a hyperplane signature so the
  * candidate join is an equality join on `bucket` (shuffle-partitioned,
  * no cross product); queries probe their own bucket plus all distance-1
  * flips. The plane count is the recall/cost dial: it should grow with
  * log2(N / target bucket size) — 8 planes (256 buckets) suits the test
  * corpus (500–2k vectors → bucket ≈ N/256), 16–24 planes suit a 1e9+
  * vector corpus; SimilaritySpec locks the 16-plane configuration's
  * recall on planted near-duplicates. Cosine folds are sequential
  * left-to-right over doubles → bit-identical in DuckDB.
  *
  * Tie-breaking: ranking uses the 6-decimal-rounded cosine with vec_id as
  * tiebreaker, so rank order is stable across engines even at FP edges.
  */
object Similarity {

  /** Brute-force exact cosine top-10 for query vectors vec_id < 5. */
  def ssCosineTopk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __emb),
        |norms AS (
        |  SELECT vec_id, v,
        |         sqrt(graft_dot(v, v)) AS nrm
        |  FROM base),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
        |  FROM (SELECT * FROM norms WHERE vec_id < 5) q
        |  JOIN norms c ON c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos, rn FROM (
        |  SELECT query_id, neighbor_id, cos,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin)
  }

  /** Maximum-inner-product search (MIPS): per query, the k corpus
    * vectors with the largest RAW dot product — the retrieval scoring
    * for UNNORMALIZED embeddings where magnitude carries information
    * (two-tower recommenders, learned retrieval scores), where
    * [[ssCosineTopk]] answers the angle-only question. Exact brute scan:
    * |Q|·N codegen'd graft_dot scores, query set broadcast, scores
    * rounded to 6 dp before ranking (engine-exact order), per-query
    * top-k with a neighbor_id tiebreak.
    *
    * Scale path: MIPS reduces to cosine NN by norm augmentation
    * (Bachrach et al., RecSys 2014; Shrivastava & Li, NeurIPS 2014 —
    * public): x → [x; √(M²−‖x‖²)] with M = max corpus norm, q → [q; 0];
    * then cos(q̃, x̃) = (q·x)/(‖q̃‖·M) — a per-query constant divisor, so
    * the cosine ranking over augmented vectors IS the MIPS ranking and
    * the LSH/IVF/PQ entries handle MIPS at 100 TB. [[ssMipsAugmentOn]]
    * produces exactly that augmented relation; the equivalence is
    * spec-locked.
    */
  def ssMips(s: SparkSession, emb: DataFrame, queryPred: String,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_mips")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_mips),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.v, c.v), 6) AS ip
         |  FROM (SELECT * FROM base WHERE $queryPred) q
         |  JOIN base c ON c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, ip, rn FROM (
         |  SELECT query_id, neighbor_id, ip,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY ip DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin)
  }

  /** The oracle-checked form: queries vec_id < 5, k = 10 (the
    * ss_cosine_topk protocol, unnormalized scores).
    */
  def ssMips(s: SparkSession, dir: String): DataFrame =
    ssMips(s, Tables.load(s, dir, "embeddings"), "vec_id < 5", k = 10)

  /** The MIPS→cosine norm-augmentation transform (see [[ssMips]]):
    * returns (vec_id, v_aug) where v_aug = [v; √(M²−‖v‖²)], M the max
    * corpus norm (one global aggregate, broadcast back). Query vectors
    * take the companion form [q; 0] — i.e. augment the CORPUS side only
    * and zero-pad queries; cosine ranking on the augmented pair equals
    * the inner-product ranking on the originals. Feed the result to the
    * LSH/IVF entries for sublinear MIPS.
    */
  def ssMipsAugmentOn(s: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_mipsa")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __emb_mipsa),
        |mx AS (SELECT MAX(sqrt(graft_dot(v, v))) AS m FROM base)
        |SELECT vec_id,
        |       concat(v, array(sqrt(greatest(
        |         m * m - graft_dot(v, v), CAST(0 AS DOUBLE))))) AS v_aug
        |FROM base CROSS JOIN mx""".stripMargin)
  }

  /** Cosine RANGE search: every corpus vector within `tau` of each query
    * — the retrieval-filter primitive ("all candidates above the match
    * threshold") where the `ss_*_topk` family answers "the k best". Exact
    * brute scan: |Q|·N codegen'd graft_dot scores, a broadcast of the
    * (small) query set against a corpus that never shuffles — the honest
    * contract for SMALL query sets; a large query set should go through
    * the LSH/IVF entries, and a corpus-vs-itself threshold join is
    * [[graft.ops.Dedup.ddEmbedCosOn]] (density-guarded there, because
    * the pair relation grows quadratically in cluster density).
    *
    * Output is (query, neighbor, cos ≥ tau), cos rounded to 6 before the
    * threshold compare so the boundary is engine-exact.
    */
  def ssRangeSearch(s: SparkSession, emb: DataFrame, queryPred: String,
      tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_rs")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_rs),
         |norms AS (
         |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base)
         |SELECT query_id, neighbor_id, cos FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
         |  FROM (SELECT * FROM norms WHERE $queryPred) q
         |  JOIN norms c ON c.vec_id <> q.vec_id)
         |WHERE cos >= ${tau}D
         |ORDER BY query_id, cos DESC, neighbor_id""".stripMargin)
  }

  /** The oracle-checked form: queries vec_id < 5, tau = 0.2. */
  def ssRangeSearch(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb_raw_rs")
    ssRangeSearch(s, s.table("__emb_raw_rs"), "vec_id < 5", 0.2)
  }

  /** The ±1 hyperplane coefficient matrix (nPlanes × dim), derived from
    * md5 parity — computed ONCE on the driver and shipped as a literal,
    * instead of re-evaluating nPlanes·dim md5 calls per row (the DuckDB
    * oracle recomputes the same family inline; values are identical).
    */
  private[ops] def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    def coef(j: Int, i: Int): Double = {
      val hex = digest.digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val nibble = "0123456789abcdef".indexOf(hex.charAt(0))
      if (nibble % 2 == 0) 1.0 else -1.0
    }
    (0 until nPlanes).map(j => (1 to dim).map(i => coef(j, i)))
  }

  /** The plane matrix as a SQL array-of-arrays literal (shared by the LSH
    * ANN query and Dedup's bucket-blocked embedding near-dup).
    */
  private[ops] def planesSql(nPlanes: Int, dim: Int): String =
    planes(nPlanes, dim)
      .map(p => s"array(${p.map(c => s"${c}D").mkString(",")})")
      .mkString("array(", ",", ")")

  /** LSH-bucketed approximate NN with distance-1 multiprobe: 8 planes
    * (256 buckets) at the test corpus size; exact cosine top-5 among
    * probed bucket-mates of each query vector vec_id < 20.
    *
    * REGIME CONTRACT (measured at 100k vectors, PERF.md round-6/7):
    * hyperplane LSH is the NEAR-DUPLICATE tool — recall 0.986 on ≥0.9
    * cosine twins — and the WRONG tool for mid-similarity top-k, where
    * its recall@5 collapses to 0.28 (a mid-similarity neighbor flips too
    * many plane signs for a distance-1 probe to reach). For that regime
    * use [[ssIvfAnn]] (0.94 measured) / [[ssIvfAnnAuto]]; for exactness,
    * [[bruteTopkOn]]. Plane count is the bucket-size dial: it should grow
    * with log2(N / target bucket) — [[ssLshAnnOn]] exposes it.
    */
  def ssLshAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    ssLshAnnOn(s, Tables.load(s, dir, "embeddings"),
      nPlanes = 8, queryPred = "vec_id < 20", topK = 5)
  }

  /** The same LSH ANN over an arbitrary (vec_id, embedding) frame at any
    * plane count — the production entry (16–24 planes suit 1e9+ corpora;
    * the specs lock the 16-plane configuration's near-dup recall).
    *
    * DENSITY-GUARDED (r12 verdict item #2): the candidate join is an
    * equality join on the probed bucket, and a tight embedding cluster
    * (or a mass-duplicated vector) aliases a corpus-sized class into
    * ONE bucket — C(B, 2) probes·candidates on one shuffle key, the
    * exact blow-up the dd_embed_cos disk-fill measured (that incident
    * WAS an embedding-LSH bucket). The shared [[DensityGuard]] bounds
    * every bucket at `maxBlockRows` BEFORE the probe join, per-vector
    * draw, sample-or-fail per `onOverflow`; under-cap buckets are
    * bit-exact, so the fixed oracle entry (which replays the unguarded
    * chain in DuckDB) stays green at the test SFs. The signature
    * relation is persisted (Caches-tracked, WITH-free so the SQL below
    * matches the cache) so the probe side, the candidate side, and the
    * guard window all read ONE signature pass.
    */
  def ssLshAnnOn(s: SparkSession, emb: DataFrame,
                 nPlanes: Int, queryPred: String,
                 topK: Int,
                 maxBlockRows: Int = DensityGuard.DefaultMaxBlockRows,
                 onOverflow: String = "sample"): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import org.apache.spark.sql.functions.col
    emb.createOrReplaceTempView("__emb")
    val planesLit = planesSql(nPlanes, 64)
    val sig = Caches.track(s.sql(
      s"""SELECT vec_id, v,
         |       sqrt(graft_dot(v, v)) AS nrm,
         |       aggregate(transform(sequence(0, ${nPlanes - 1}), j ->
         |         CASE WHEN graft_dot(v, element_at($planesLit, j + 1)) > 0D
         |              THEN shiftleft(1, j) ELSE 0 END),
         |         0, (acc, x) -> acc + x) AS bucket
         |FROM (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |      FROM __emb)""".stripMargin))
    DensityGuard.guard(sig, Seq("bucket"),
        DensityGuard.drawOn("lshannguard:", col("vec_id")),
        maxBlockRows, onOverflow, tag = "ss_lsh_ann",
        remediation = "Use more planes (finer buckets), raise the cap, " +
          "or use onOverflow=sample.",
        onFail = Caches.release(sig))
      .createOrReplaceTempView("__lsig")
    s.sql(
      s"""WITH probes AS (
         |  SELECT vec_id, v, nrm,
         |         explode(concat(array(bucket),
         |           transform(sequence(0, ${nPlanes - 1}),
         |             j -> bucket ^ shiftleft(1, j)))) AS pb
         |  FROM __lsig WHERE $queryPred),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
         |  FROM probes q JOIN __lsig c
         |    ON q.pb = c.bucket AND c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, cos, rn FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Number of k-means refinement iterations of the IVF coarse quantizer
    * (each = assign-to-nearest + decimal-exact per-dimension mean).
    */
  private[ops] val IvfIters = 2

  /** Spark SQL for the IVF ANN over view `__emb`: seeded deterministic
    * k-means init (the `nlist` vectors with the smallest
    * md5('km42:'||vec_id) digest — a data-independent pseudo-random
    * draw), `IvfIters` assign/update rounds, then `nprobe` search for
    * `queryPred` vectors.
    *
    * The per-dimension centroid mean is computed on DECIMAL(27,12) — an
    * exact, order-independent sum, so Spark and DuckDB derive bit-equal
    * centroids — and rounded to 6 decimals (ties at the decimal cast are
    * impossible for binary-fraction inputs, so HALF_UP/HALF_EVEN agree).
    * Empty clusters drop out in both engines identically.
    */
  /** The k-means training + full-corpus assignment CTE chain over view
    * `__emb` (base → n3 → seeded cand0/cent0 → `IvfIters` refinement
    * rounds → assign), shared by [[ivfSparkSql]], the quantization
    * ladder, and the SemDeDup/D4 operators so all run the IDENTICAL
    * deterministic quantizer.
    *
    * DELIBERATELY INLINE — a measured r12 negative result: Spark
    * inlines deterministic CTEs per reference, so this text re-derives
    * base→n3 (and re-runs the train chain) for every downstream
    * mention — the executed ss_rq_topk plan holds 60 parquet scans and
    * 127 exchanges. An A/B materialized the chain once (`__n3` /
    * `__cent` / `__assign` as persisted views; a localCheckpoint
    * variant too) and LOST at every tested scale: toy sf0.1 walls
    * doubled (cache traffic + three extra materializations beat the
    * fused tiny scans) and the 100k lean full-ADC leg read 79.7 s vs
    * 71.4 s inline — whole-stage codegen re-derivation from parquet
    * outruns InMemoryTableScan of array columns even when the plan
    * re-trains the quantizer repeatedly. Values were bit-identical
    * both ways; the inline form stays because it is FASTER, not just
    * simpler. (The session `s` parameter remains from the A/B so the
    * next attempt — e.g. a columnar-cache-friendly layout — slots in
    * without re-touching eight call sites.)
    *
    * SCALE CROSSOVER (r12 verdict #1 — the resolution, r13): the
    * persist-vs-inline A/B above compares two forms of the SAME query
    * and its crossover was unprobed; but at 100 TB "re-scan the corpus
    * 60× and re-train k-means per mention" is categorically wrong by
    * construction — the production ANN pattern is train ONCE (on the
    * corpus or a sample), persist the nlist-row centroid relation, and
    * pass it into every query. That form now exists: `pretrained =
    * Some(centroids)` (from [[ssIvfTrain]], typically parquet
    * round-tripped — doubles survive parquet bit-exactly, so results
    * are identical to the inline chain) swaps the train CTEs for a
    * view read, collapsing the chain to base → n3 → one broadcast-able
    * cross join; the executed ss_ivf_pre plan holds 5 scans / 9
    * exchanges vs ss_ivf_ann's 9 scans / 25 exchanges (PERF.md r13
    * plan audit — the k-means refinement rounds and their windows
    * vanish), and the 100k probe (PERF.md r13, addendum55) measures
    * the query-path win directly: ann 21.4→3.9 s (5.6×), rq 37.4→18.5 s (2.0×),
    * training 48.8 s ONCE — amortized after ~3 queries. The
    * inline default remains the right call ONLY for the oracle-scale
    * one-shot entries (where training IS the query and the A/B shows
    * materialization losing); any repeated-query or 100×+ corpus goes
    * through the pretrained path.
    */
  private[ops] def ivfTrainAssignCtes(s: SparkSession,
                                      nlist: Int,
                                      pretrained: Option[org.apache.spark.sql.DataFrame] = None): String = {
    graft.functions.GraftFunctions.register(s)
    pretrained match {
      case Some(cent) =>
        // train-once path: the caller supplies (cid, cv, cnrm) — the
        // [[ssIvfTrain]] output, usually parquet round-tripped. The
        // CTE names (n3 / cent$IvfIters / assign) are identical to the
        // inline chain's, so every downstream tail (probes, qprobes,
        // the PQ/RQ/BQ encoders, SemDeDup's pair join, D4's ranker)
        // composes unchanged. nlist is ignored — the relation IS the
        // codebook.
        cent.createOrReplaceTempView("__cent_pre")
        return s"""base AS (
           |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
           |  FROM __emb),
           |n3 AS (
           |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
           |cent$IvfIters AS (
           |  SELECT cid, cv, cnrm FROM __cent_pre),
           |assign AS (
           |  SELECT vec_id, v, nrm, cid FROM (
           |    SELECT n.vec_id, n.v, n.nrm, c.cid,
           |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
           |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
           |                        DESC, c.cid) AS rn
           |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1)""".stripMargin
      case None => ()
    }
    val iters = (1 to IvfIters).map { k =>
      s"""a$k AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
         |                        DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent${k - 1} c) WHERE rn = 1),
         |m$k AS (
         |  SELECT cid, i,
         |         ROUND(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE)
         |               / COUNT(1), 6) AS mx
         |  FROM a$k LATERAL VIEW posexplode(v) AS i, x
         |  GROUP BY cid, i),
         |cent$k AS (
         |  SELECT cid, cv, sqrt(graft_dot(cv, cv)) AS cnrm FROM (
         |    SELECT cid,
         |           transform(array_sort(collect_list(struct(i, mx))),
         |                     p -> p.mx) AS cv
         |    FROM m$k GROUP BY cid))""".stripMargin
    }.mkString(",\n")
    val C = s"cent$IvfIters"
    s"""base AS (
       |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
       |  FROM __emb),
       |n3 AS (
       |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
       |cand0 AS (
       |  -- the nlist smallest digests as a distributed TOP-K
       |  -- (TakeOrderedAndProject), NOT a global rank of all N vectors:
       |  -- the leftover unpartitioned ROW_NUMBER below then sorts only
       |  -- nlist rows, so centroid seeding never single-partitions the
       |  -- corpus
       |  SELECT md5(concat('km42:', CAST(vec_id AS STRING))) AS h,
       |         vec_id, v AS cv, nrm AS cnrm
       |  FROM n3 ORDER BY h, vec_id LIMIT $nlist),
       |cent0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS INT) - 1
       |           AS cid,
       |         cv, cnrm
       |  FROM cand0),
       |$iters,
       |assign AS (
       |  SELECT vec_id, v, nrm, cid FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
       |                        DESC, c.cid) AS rn
       |    FROM n3 n CROSS JOIN $C c) WHERE rn = 1)""".stripMargin
  }

  /** Train the IVF coarse quantizer ONCE and return the codebook as a
    * relation: (cid INT, cv ARRAY<DOUBLE>, cnrm DOUBLE), nlist rows —
    * the exact deterministic chain every inline entry runs
    * ([[ivfTrainAssignCtes]]: seeded md5 init + `IvfIters`
    * decimal-exact refinement rounds), evaluated standalone. The
    * production ANN pattern at 100 TB is train-once / query-many:
    * persist this (parquet round-trips DOUBLE bit-exactly) and pass it
    * as `pretrained` to [[ssIvfAnnOn]] / [[ssIvfPqTopkOn]] /
    * [[ssRqTopkOn]] / [[ssBqTopkOn]] / [[graft.ops.Pipeline.dsD4]] /
    * [[graft.ops.Dedup.ddSemDedupOn]] — every query then pays one
    * corpus assignment pass against a broadcast nlist-row relation
    * instead of re-running k-means per CTE mention. Training on a
    * SAMPLE (the faiss discipline — k-means needs ~O(nlist·1000)
    * vectors, not the corpus) is the caller's one-liner:
    * `ssIvfTrain(s, emb.sample(0.001), nlist)`; determinism then keys
    * off the sample, so oracle entries train on the full fixture.
    */
  def ssIvfTrain(s: SparkSession, emb: DataFrame, nlist: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    s.sql(
      s"""WITH ${ivfTrainAssignCtes(s, nlist)}
         |SELECT cid, cv, cnrm FROM cent$IvfIters ORDER BY cid""".stripMargin)
  }

  private[ops] def ivfSparkSql(s: SparkSession, queryPred: String,
                               topK: Int, nlist: Int = 16,
                               nprobe: Int = 2,
                               pretrained: Option[DataFrame] = None): String = {
    val C = s"cent$IvfIters"
    s"""WITH ${ivfTrainAssignCtes(s, nlist, pretrained)},
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT n.vec_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
       |                        DESC, c.cid) AS rn
       |    FROM n3 n CROSS JOIN $C c WHERE $queryPred) WHERE rn <= $nprobe),
       |qv AS (
       |  SELECT n.vec_id AS qid, n.v AS qvec, n.nrm AS qnrm FROM n3 n
       |  WHERE $queryPred),
       |scored AS (
       |  SELECT p.qid, a.vec_id AS neighbor_id,
       |         ROUND(graft_dot(q.qvec, a.v) / (q.qnrm * a.nrm), 6) AS cos
       |  FROM probes p
       |  JOIN assign a ON a.cid = p.cid
       |  JOIN qv q ON q.qid = p.qid
       |  WHERE a.vec_id <> p.qid)
       |SELECT qid AS query_id, neighbor_id, cos, rn FROM (
       |  SELECT qid, neighbor_id, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
       |  FROM scored)
       |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin
  }

  /** Persist `df` to parquet under the JVM temp dir and read it back —
    * the train-once pattern's storage hop, made explicit in the
    * pretrained oracle entries so the determinism claim covers the
    * round trip (parquet stores DOUBLE as raw IEEE-754 bits, so the
    * reread codebook is bit-identical to the trained one).
    */
  private[graft] def parquetRoundTrip(s: SparkSession, df: DataFrame,
                                      name: String): DataFrame = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), name).getAbsolutePath
    df.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** Oracle entry for the TRAIN-ONCE IVF pattern (r12 verdict item #1):
    * [[ssIvfTrain]] fits the nlist=16 codebook in its own job, the
    * codebook round-trips parquet, and the ANN query runs with
    * `pretrained = Some(codebook)` — the production shape (index once,
    * query many). The result is row-identical to [[ssIvfAnn]] (same
    * deterministic chain, bit-exact storage), so the DuckDB oracle
    * replays the inline text verbatim; what changes is the PLAN: 5
    * scans / 9 exchanges (query/assign/probe legs against the
    * broadcast codebook) instead of the inline entry's 9 scans / 25
    * exchanges of re-derived train chains (PERF.md r13 plan audit).
    */
  def ssIvfPre(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cent = parquetRoundTrip(s, ssIvfTrain(s, emb, 16),
      "graft_ss_ivf_pre_cent")
    ssIvfAnnOn(s, emb, "n.vec_id BETWEEN 20 AND 24", 5,
      pretrained = Some(cent))
  }

  /** Train-once IVF-PQ with BOTH quantizers hoisted: the coarse
    * codebook from [[ssIvfTrain]] AND the PQ sub-codebooks from
    * [[ssPqTrain]], each parquet-persisted and passed as relations —
    * the complete faiss-style index-build/query split (train coarse,
    * train sub, store both, query many). Only the per-corpus encode +
    * assignment passes remain in-query. Row-identical to
    * [[ssIvfPqTopk]] (both trainers run the same deterministic chains;
    * storage is bit-exact), so the inline oracle replays verbatim.
    */
  def ssIvfPqPre(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cent = parquetRoundTrip(s, ssIvfTrain(s, emb, 16),
      "graft_ss_ivfpq_pre_cent")
    val cb = parquetRoundTrip(s, ssPqTrain(s, emb),
      "graft_ss_ivfpq_pre_cb")
    ssIvfPqTopkOn(s, emb, "vec_id < 5", 10, pretrained = Some(cent),
      pretrainedPq = Some(cb))
  }

  /** Train-once PQ: the flat ladder rung with the sub-codebooks
    * supplied pretrained — encode + ADC + rescore in-query, training
    * hoisted. Row-identical to [[ssPqTopk]].
    */
  def ssPqPre(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cb = parquetRoundTrip(s, ssPqTrain(s, emb), "graft_ss_pq_pre_cb")
    ssPqTopkOn(s, emb, "vec_id < 5", 10, pretrainedPq = Some(cb))
  }

  /** Train-once IVF-RQ: the residual rung with the PAIR hoisted —
    * coarse centroids from [[ssIvfTrain]] and the per-cell residual
    * codebooks from [[ssRqTrain]] (trained against those same
    * centroids), both parquet-persisted. Only the per-corpus residual,
    * encode, and probed-ADC passes run in-query. Row-identical to
    * [[ssIvfRqTopk]], so the inline oracle replays verbatim.
    */
  def ssIvfRqPre(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cent = parquetRoundTrip(s, ssIvfTrain(s, emb, 16),
      "graft_ss_ivfrq_pre_cent")
    val rcb = parquetRoundTrip(s,
      ssRqTrain(s, emb, 16, pretrained = Some(cent)),
      "graft_ss_ivfrq_pre_rcb")
    ssRqTopkOn(s, emb, "vec_id < 5", 10, nprobe = 2,
      pretrained = Some(cent), pretrainedRq = Some(rcb))
  }

  /** IVF-style approximate NN with a k-means-trained coarse quantizer
    * (seeded deterministic init + `IvfIters` decimal-exact refinement
    * rounds); queries (vec_id 20..24) probe their 2 nearest clusters and
    * run exact cosine only inside them. Scale story: the centroid table
    * broadcasts, assignment is a narrow pass, and the probe join touches
    * |probed clusters| of the corpus instead of all of it — the classic
    * IVF recall/cost dial (nprobe).
    *
    * REGIME CONTRACT (measured at 100k vectors, PERF.md round-6/7):
    * IVF is the MID-SIMILARITY top-k tool — recall@5 ≈ 0.94 on clustered
    * corpora where 8-plane LSH collapses to 0.28. This oracle entry is
    * pinned at nlist=16/nprobe=2 (the DuckDB mirror's configuration);
    * production corpora size the quantizer with [[ssIvfAnnAuto]]
    * (nlist ≈ √N) and dial recall with `nprobe`.
    */
  def ssIvfAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // r14 coarse-codebook hoist: assign + probes each re-ran the k-means
    // chain inline. Every ss_* codebook hoist is the same two steps: an
    // eager pin runs the SMALL (≤ nSub·nCode-row) training chain once per
    // invocation, and the broadcast hint restores the plan its parquet
    // leaf got (a LogicalRDD has no size statistics, so an unhinted
    // codebook demotes every centroid cross join to a non-broadcast
    // strategy). Corpus-sized relations stay inline: there codegen
    // re-derivation from parquet won (r12).
    val emb = Tables.load(s, dir, "embeddings")
    val cent = broadcast(Caches.pin(ssIvfTrain(s, emb, 16), eager = true))
    ssIvfAnnOn(s, emb, "n.vec_id BETWEEN 20 AND 24", 5,
      pretrained = Some(cent))
  }

  /** IVF ANN over an arbitrary (vec_id, embedding) frame at an explicit
    * quantizer configuration — the production entry behind the recall
    * locks and [[ssIvfAnnAuto]].
    */
  def ssIvfAnnOn(s: SparkSession, emb: DataFrame,
                 queryPred: String, topK: Int,
                 nlist: Int = 16, nprobe: Int = 2,
                 pretrained: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    s.sql(ivfSparkSql(s, queryPred, topK, nlist, nprobe, pretrained))
  }

  /** [[ssIvfAnnOn]] with the coarse quantizer SIZED TO THE CORPUS:
    * nlist = round(√N) (clamped to ≥ 1) — the classical IVF sizing rule
    * (per-cluster scan cost ≈ N/nlist balances the nlist-wide centroid
    * scan at √N each). 16 centroids are right at the 500-vector oracle
    * scale and wrong at 100M (clusters of ~6M vectors would make every
    * probe a near-full scan); √N keeps both sides of the cost balanced at
    * any corpus size. The one extra job is a count of `emb`. `nprobe`
    * stays the caller's recall/cost dial.
    */
  def ssIvfAnnAuto(s: SparkSession, emb: DataFrame, queryPred: String,
                   topK: Int, nprobe: Int = 2): DataFrame = {
    val nlist = math.max(1L, math.round(math.sqrt(emb.count().toDouble))).toInt
    ssIvfAnnOn(s, emb, queryPred, topK, nlist, nprobe)
  }

  /** Brute-force cosine top-k over an arbitrary frame: the EXACT baseline
    * (and the recall denominator for the ANN specs) — O(Q·N), the right
    * tool when Q is small or exactness is required.
    */
  def bruteTopkOn(s: SparkSession, emb: DataFrame,
                  queryPred: String, topK: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb),
         |norms AS (
         |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
         |  FROM (SELECT * FROM norms WHERE $queryPred) q
         |  JOIN norms c ON c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, cos, rn FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Brute-force EUCLIDEAN top-k — the metric twin of [[bruteTopkOn]]
    * for spaces where magnitude carries signal (raw feature vectors,
    * un-normalized residual embeddings): cosine ranks direction only,
    * L2 ranks the actual displacement, and the two disagree exactly
    * when norms vary — the disagreement a retrieval stack must choose
    * about, not discover in production. d² expands through the audited
    * dot kernel as |a|² + |b|² − 2·a·b (three graft_dot folds, fixed
    * parenthesization) so both engines sum identically; ROUND-6 before
    * the rank, ties on neighbor_id, ascending (closest first).
    *
    * Scale shape: identical to the cosine brute — O(Q·N) codegen'd dot
    * products, the exact baseline and recall denominator; the ANN
    * ladder composes unchanged on top (IVF/PQ assignment already ranks
    * by the same L2 expansion internally).
    */
  def ssL2TopkOn(s: SparkSession, emb: DataFrame,
                 queryPred: String, topK: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_l2")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_l2),
         |norms AS (
         |  SELECT vec_id, v, graft_dot(v, v) AS n2 FROM base),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(q.n2 + c.n2 - 2 * graft_dot(q.v, c.v), 6) AS d2
         |  FROM (SELECT * FROM norms WHERE $queryPred) q
         |  JOIN norms c ON c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, d2, rn FROM (
         |  SELECT query_id, neighbor_id, d2,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY d2 ASC, neighbor_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Oracle-query form: L2 top-10 for query vectors vec_id < 5 —
    * row-comparable with ss_cosine_topk (the rank disagreements ARE
    * the metric choice).
    */
  def ssL2Topk(s: SparkSession, dir: String): DataFrame =
    ssL2TopkOn(s, Tables.load(s, dir, "embeddings"), "vec_id < 5", 10)

  /** ANN recall audit: per-query recall@k of an approximate index against
    * the exact brute-force top-k — the measurement that turns the LSH/IVF
    * regime contract (scaladoc'd on [[ssLshAnn]]) into a CHECKED table: a
    * pipeline runs this on a sample before trusting an index
    * configuration, exactly as the reference sweeps its K/reducer
    * configurations before a production run (run:267-307). `approx` and
    * `exact` are (query_id, neighbor_id[, ...]) result relations — e.g.
    * [[ssLshAnnOn]] and [[bruteTopkOn]] at the same k.
    *
    * Scale design: both inputs are query-set-sized (|Q|·k rows), so the
    * overlap join and the per-query aggregate are metadata-scale no
    * matter how big the corpus behind them was.
    */
  def ssRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val s = approx.sparkSession
    approx.createOrReplaceTempView("__rc_approx")
    exact.createOrReplaceTempView("__rc_exact")
    s.sql(
      """WITH a AS (SELECT DISTINCT query_id, neighbor_id FROM __rc_approx),
        |e AS (SELECT DISTINCT query_id, neighbor_id FROM __rc_exact)
        |SELECT e.query_id, COUNT(*) AS n_exact,
        |       COUNT(a.neighbor_id) AS n_hit,
        |       ROUND(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 6)
        |         AS recall
        |FROM e LEFT JOIN a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)
  }

  /** The oracle-checked form: recall@5 of the 8-plane multiprobe LSH
    * (ss_lsh_ann's exact configuration) against the brute top-5 for
    * queries vec_id < 20 — the mid-similarity regime, so the table SHOWS
    * the documented LSH recall collapse per query (the honest artifact;
    * the IVF entries are the tool for this regime).
    */
  def ssRecall(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb_rc")
    val emb = s.table("__emb_rc")
    val approx = ssLshAnnOn(s, emb, nPlanes = 8, queryPred = "vec_id < 20",
      topK = 5)
    val exact = bruteTopkOn(s, emb, queryPred = "vec_id < 20", topK = 5)
    ssRecall(approx, exact)
  }

  /** Embedding norm QA per label: count, min/max, and the decimal-exact
    * mean of vector norms — the first-look sanity table before any
    * cosine work (a near-zero or wildly spread norm distribution breaks
    * every cosine threshold downstream). Mean accumulates ROUND(·,9)
    * decimals (order-free); min/max are exact on the rounded norms.
    */
  def ssNorms(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__nm_emb")
    s.sql(
      """WITH n AS (
        |  SELECT label,
        |         ROUND(sqrt(graft_dot(v, v)), 6) AS nrm,
        |         CAST(ROUND(sqrt(graft_dot(v, v)), 9) AS DECIMAL(28,9))
        |           AS nrm9
        |  FROM (SELECT label,
        |               CAST(embedding AS ARRAY<DOUBLE>) AS v
        |        FROM __nm_emb))
        |SELECT label, COUNT(*) AS n, MIN(nrm) AS min_nrm, MAX(nrm) AS max_nrm,
        |       ROUND(CAST(SUM(nrm9) AS DOUBLE) / COUNT(*), 6) AS mean_nrm
        |FROM n GROUP BY label ORDER BY label""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssNorms(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__nm_raw")
    ssNorms(s.table("__nm_raw"))
  }

  /** IVF index audit: the trained coarse-quantizer centroids with their
    * member counts and norms — the table an operator reads to SIZE the
    * index (the nlist/nprobe dial the ss_ivf_ann scaladoc documents): a
    * lopsided size distribution says re-train or raise nlist; near-zero
    * norms flag dead centroids. Same deterministic k-means chain as
    * ss_ivf_ann ([[ivfTrainAssignCtes]]), so the audit describes EXACTLY
    * the index the queries probe.
    */
  def ssCentroids(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb")
    s.sql(
      s"""WITH ${ivfTrainAssignCtes(s, 16)}
         |SELECT c.cid, COUNT(a.vec_id) AS n_members,
         |       ROUND(c.cnrm, 6) AS cnrm
         |FROM cent$IvfIters c LEFT JOIN assign a ON a.cid = c.cid
         |GROUP BY c.cid, c.cnrm ORDER BY c.cid""".stripMargin)
  }

  /** IVF cluster-quality audit: per (non-empty) coarse cell, the member
    * cohesion (mean cosine of members to their own centroid) next to the
    * separation (cosine to the NEAREST other centroid). The index-health
    * read behind nprobe sizing: cells whose nearest-centroid cosine
    * approaches their within-cohesion leak true neighbors into the
    * adjacent cell, which is exactly when nprobe=1 recall collapses —
    * ss_centroids counts members, this measures whether the geometry
    * backs the partition. Runs the IDENTICAL deterministic quantizer
    * chain as ss_ivf_ann/ss_centroids/dd_semdedup (the shared-quantizer
    * discipline), so its cells are the ones the index actually uses.
    *
    * Measured regimes (PERF.md r7, addendum28): at 500 vectors / 7 labels / 16
    * cells, cohesion > separation (the partition is real); at 100k
    * vectors the SAME 16 cells read between 0.874 vs within 0.506 —
    * ~2.3 centroids crowd each natural cluster, the "cells leak, raise
    * nprobe or cut nlist" verdict this audit exists to deliver.
    *
    * Engine-exactness: member cosines are 9-dp-rounded decimal sums (the
    * ssDrift discipline); centroid-pair cosines one terminal ROUND.
    * Empty cells (possible after refinement) are declared absent.
    *
    * Scale: one corpus pass per refinement round (inherited), then one
    * assign-sized aggregate and an nlist² centroid cross — free at any
    * corpus size; the centroid relation broadcasts.
    */
  def ssInertia(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    s.sql(
      s"""WITH ${ivfTrainAssignCtes(s, 16)},
         |wc AS (
         |  SELECT a.cid, COUNT(*) AS n,
         |         SUM(CAST(ROUND(graft_dot(a.v, c.cv)
         |                        / (a.nrm * c.cnrm), 9)
         |                  AS DECIMAL(28,9))) AS s
         |  FROM assign a JOIN cent$IvfIters c ON c.cid = a.cid
         |  GROUP BY a.cid),
         |cc AS (
         |  SELECT cid, nn_cid, between_cos FROM (
         |    SELECT a.cid, b.cid AS nn_cid,
         |           ROUND(graft_dot(a.cv, b.cv) / (a.cnrm * b.cnrm), 6)
         |             AS between_cos,
         |           ROW_NUMBER() OVER (PARTITION BY a.cid
         |             ORDER BY ROUND(graft_dot(a.cv, b.cv)
         |                            / (a.cnrm * b.cnrm), 6) DESC, b.cid)
         |             AS rn
         |    FROM cent$IvfIters a JOIN cent$IvfIters b ON b.cid <> a.cid)
         |  WHERE rn = 1)
         |SELECT w.cid, w.n AS n_members,
         |       ROUND(CAST(w.s AS DOUBLE) / w.n, 6) AS within_cos,
         |       c.nn_cid, c.between_cos
         |FROM wc w JOIN cc c ON c.cid = w.cid
         |ORDER BY w.cid""".stripMargin)
  }
  def ssInertia(s: SparkSession, dir: String): DataFrame =
    ssInertia(Tables.load(s, dir, "embeddings"))

  /** Embedding drift monitor: per label, the cosine between the centroid
    * of the EVEN-id half and the ODD-id half of the corpus (a stand-in
    * for "last month's embeddings vs this month's" — in production the
    * halves are time slices). A healthy embedding space keeps per-label
    * centroids stable (cos ≈ 1); drift below a threshold is the signal
    * to re-embed or re-train. Cosine of centroids equals cosine of
    * component SUMS (the 1/n scale cancels), so no mean division is
    * needed.
    *
    * Engine-exactness: component sums accumulate as DECIMAL(28,9) over
    * exact float→double values (order-free — the ta_entropy discipline;
    * a raw double SUM would be shuffle-order-dependent); the 64 dot-
    * product terms are ROUND(·,9) decimals summed the same way; one
    * final double division+round.
    *
    * Scale design: one (label, dim) partial+final aggregate over the
    * exploded components — 64 × labels output rows — then label-level
    * algebra on that tiny grid. Nothing corpus-sized joins.
    *
    * A label present in only one half emits no row (there is no drift to
    * measure) — callers comparing id-parity halves should make sure label
    * assignment is independent of id parity (the first corpus generated
    * for PERF.md r7, addendum19 wasn't: label = id % 10 puts even
    * labels only in the even half).
    */
  def ssDrift(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    emb.createOrReplaceTempView("__dr_emb")
    s.sql(
      """WITH comp AS (
        |  SELECT label, vec_id % 2 AS half, p.pos AS dim,
        |         CAST(p.x AS DOUBLE) AS x
        |  FROM __dr_emb LATERAL VIEW posexplode(embedding) p AS pos, x),
        |sums AS (
        |  SELECT label, half, dim,
        |         SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS sx
        |  FROM comp GROUP BY label, half, dim),
        |n AS (
        |  SELECT label, vec_id % 2 AS half, COUNT(*) AS n
        |  FROM __dr_emb GROUP BY label, vec_id % 2),
        |pairs AS (
        |  SELECT a.label, a.dim,
        |         CAST(a.sx AS DOUBLE) AS xa, CAST(b.sx AS DOUBLE) AS xb
        |  FROM (SELECT * FROM sums WHERE half = 0) a
        |  JOIN (SELECT * FROM sums WHERE half = 1) b
        |    ON b.label = a.label AND b.dim = a.dim),
        |dots AS (
        |  SELECT label,
        |         SUM(CAST(ROUND(xa * xb, 9) AS DECIMAL(38,9))) AS sab,
        |         SUM(CAST(ROUND(xa * xa, 9) AS DECIMAL(38,9))) AS saa,
        |         SUM(CAST(ROUND(xb * xb, 9) AS DECIMAL(38,9))) AS sbb
        |  FROM pairs GROUP BY label)
        |SELECT d.label, na.n AS n_a, nb.n AS n_b,
        |       ROUND(CAST(d.sab AS DOUBLE) /
        |             (sqrt(CAST(d.saa AS DOUBLE)) *
        |              sqrt(CAST(d.sbb AS DOUBLE))), 6) AS centroid_cos
        |FROM dots d
        |JOIN n na ON na.label = d.label AND na.half = 0
        |JOIN n nb ON nb.label = d.label AND nb.half = 1
        |ORDER BY d.label""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssDrift(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__dr_raw")
    ssDrift(s.table("__dr_raw"))
  }

  /** Per-dimension embedding health audit: mean, population variance, and
    * active fraction (|x| > 1e-6) for every coordinate. The index-prep
    * check that finds dead dimensions (variance ~0 — wasted index bytes,
    * candidates for ssMatryoshka-style truncation) and unbalanced ones
    * (a dimension whose |mean| dwarfs its spread drags every cosine
    * toward its sign — a centering bug upstream). Complements ssNorms
    * (per-vector) and ssDrift (per-label): this is the per-COORDINATE
    * marginal.
    *
    * Engine-exactness: float components cast to double, each term rounded
    * to 9 dp and summed as DECIMAL — means/variances derive from exact
    * decimal sums, one terminal ROUND. `dim` is 0-based in both engines.
    *
    * Scale: one posexplode pass into a (dim)-keyed partial aggregate —
    * output is dimensionality-sized (64 rows) at any corpus size; the
    * explode never materializes (it feeds straight into hash-agg
    * map-side combine).
    */
  def ssDimvar(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    emb.createOrReplaceTempView("__dv_emb")
    s.sql(
      """WITH comp AS (
        |  SELECT p.pos AS dim, CAST(p.x AS DOUBLE) AS x
        |  FROM __dv_emb LATERAL VIEW posexplode(embedding) p AS pos, x),
        |a AS (
        |  SELECT dim, COUNT(*) AS n,
        |         SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS s,
        |         SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS sq,
        |         SUM(CASE WHEN ABS(x) > 0.000001 THEN 1 ELSE 0 END)
        |           AS n_act
        |  FROM comp GROUP BY dim)
        |SELECT dim, n,
        |       ROUND(CAST(s AS DOUBLE) / n, 6) AS mean,
        |       ROUND(CAST(sq AS DOUBLE) / n
        |             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
        |             6) AS variance,
        |       ROUND(CAST(n_act AS DOUBLE) / n, 6) AS active_frac
        |FROM a ORDER BY dim""".stripMargin)
  }
  def ssDimvar(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__dv_raw")
    ssDimvar(s.table("__dv_raw"))
  }

  /** Leading principal component of the embedding covariance by fixed-
    * round power iteration — the index-prep step after ssDimvar's
    * marginals: the dominant axis is what a PCA-rotation / mean-centering
    * bug inflates, what IVF centroids stretch along, and (loading²
    * spectrum) how much of the corpus variance one direction explains.
    *
    * One corpus pass builds the Gram relation: a double posexplode fans
    * each vector into its d² coordinate products, feeding straight into a
    * map-side-combinable (i,j) aggregate — d²=4096 groups at ANY corpus
    * size, never materialized wider than the aggregate state (the
    * ssDimvar discipline squared). The covariance C = G/n − μμᵀ and the
    * `rounds` matrix-vector products then run on the 4096-row relation —
    * free at any scale. The Gram aggregate is materialized once
    * (InlineCTE re-runs multi-consumer CTEs; three rounds consume C).
    *
    * v0 = all-ones (exact; normalization happens every round, so v0 only
    * fixes the starting direction and the sign convention). Degenerate
    * zero-variance corpora read loading 0 / eigenvalue 0 via the norm
    * guard rather than a division by zero.
    *
    * Engine-exactness: Gram terms and means are 9-dp-rounded decimal
    * sums; each matvec term and squared-norm term likewise (12 dp); the
    * per-round normalization is one IEEE division + sqrt on identical
    * bits, re-rounded to 9 dp — both engines walk the same lattice, so
    * the unrolled oracle is hash-exact.
    */
  def ssPower(emb: DataFrame, rounds: Int = 3): DataFrame = {
    val s = emb.sparkSession
    emb.createOrReplaceTempView("__pw_emb")
    // the single corpus pass: (i, j) -> Gram sum + (i, j=0) -> mean sum
    Caches.pin(s.sql(
      """SELECT p.pi AS i, q.qj AS j,
        |       SUM(CAST(ROUND(CAST(p.px AS DOUBLE) * CAST(q.qx AS DOUBLE),
        |                      9) AS DECIMAL(28,9))) AS g,
        |       SUM(CASE WHEN q.qj = 0
        |                THEN CAST(ROUND(CAST(p.px AS DOUBLE), 9)
        |                          AS DECIMAL(28,9))
        |                ELSE CAST(0 AS DECIMAL(28,9)) END) AS sx,
        |       COUNT(*) AS cnt
        |FROM __pw_emb
        |LATERAL VIEW posexplode(embedding) p AS pi, px
        |LATERAL VIEW posexplode(embedding) q AS qj, qx
        |GROUP BY p.pi, q.qj""".stripMargin))
      .createOrReplaceTempView("__pw_gram")
    powerIterate(s, rounds)
  }
  /** The declared query form rides the fold Gram (spec-locked bit-
    * identical to the SQL explode): measured 15.1 s → ~2 s at the bench
    * scale — 8.2M generate+decimal-agg rows replaced by a triangle fold.
    */
  def ssPower(s: SparkSession, dir: String): DataFrame =
    ssPowerFold(Tables.load(s, dir, "embeddings"))

  /** The power-iteration tail over view `__pw_gram` (i, j, g, sx, cnt),
    * shared by both Gram builders. The Gram/mean relation is
    * DIMENSIONALITY-sized (d² ≤ 4096 rows here), so the iteration is a
    * bounded DRIVER finish (the Mst/Scc cap discipline — trivially under
    * any cap at d ≤ ~2000): one collect, then `rounds` matrix-vector
    * products in plain Scala that replay the SQL decimal lattice
    * TERM-FOR-TERM — every ROUND(x, n) is the engine's
    * `BigDecimal.valueOf(x).setScale(n, HALF_UP).doubleValue`, every
    * DECIMAL sum an exact BigDecimal fold (order-free), every
    * decimal→double a correctly-rounded `doubleValue` — so the unrolled
    * DuckDB oracle stays hash-exact. The previous all-SQL chain inlined
    * each round's CTEs into every consumer (w_t feeds both n_t and
    * v_t), re-running the tiny-join job tree ~2^rounds times: measured
    * 4.2 s → 1.1 s at the bench scale for identical output.
    */
  private def powerIterate(s: SparkSession, rounds: Int): DataFrame = {
    import s.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    def rD(x: Double, n: Int): Double =
      JBD.valueOf(x).setScale(n, RoundingMode.HALF_UP).doubleValue()
    def dec12(x: Double): JBD = // CAST(ROUND(x,12) AS DECIMAL(38,12))
      JBD.valueOf(rD(x, 12)).setScale(12, RoundingMode.HALF_UP)
    val gram = s.table("__pw_gram")
      .selectExpr("i", "j", "CAST(g AS DOUBLE) AS g",
        "CAST(sx AS DOUBLE) AS sx", "cnt").collect()
    if (gram.isEmpty)
      return Seq.empty[(Int, Double, Double)]
        .toDF("dim", "loading", "eigenvalue")
    val dims = gram.map(_.getInt(0)).distinct.sorted
    val d = dims.length
    val mu = new Array[Double](d)
    gram.foreach { r =>
      if (r.getInt(1) == 0) mu(r.getInt(0)) = r.getDouble(3) / r.getLong(4)
    }
    val cov = new Array[Double](d * d)
    gram.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      cov(i * d + j) = rD(r.getDouble(2) / r.getLong(4) - mu(i) * mu(j), 9)
    }
    var v = Array.fill(d)(1.0)
    var nrm = 0.0
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(d) { i =>
        var acc = JBD.ZERO
        var j = 0
        while (j < d) { acc = acc.add(dec12(cov(i * d + j) * v(j))); j += 1 }
        acc.doubleValue()
      }
      nrm = math.sqrt(
        w.foldLeft(JBD.ZERO)((a, x) => a.add(dec12(x * x))).doubleValue())
      v = w.map(x => if (nrm == 0) 0.0 else rD(x / nrm, 9))
    }
    dims.indices.map(k => (dims(k), rD(v(k), 6), rD(nrm, 6)))
      .toDF("dim", "loading", "eigenvalue").orderBy("dim")
  }

  /** The wide-dimension Gram path for [[ssPower]]: one per-partition
    * outer-product fold instead of the corpus×d² explode. Each partition
    * accumulates its d² rounded-decimal term sums locally and ships ONE
    * d²-row partial; the global (i, j) aggregate merges partials. Bit-
    * identical to the SQL Gram because every term is the same
    * ROUND(x·y, 9) decimal (Spark's Round-on-double semantics replayed
    * exactly) and decimal addition is associative and commutative — the
    * spec locks ssPowerFold == ssPower value-for-value. Use this entry
    * when d² per row dwarfs the row (d ≥ ~512): the explode's
    * corpus×d² aggregate-input rows become corpus×1 map work + a
    * partitions×d² shuffle.
    */
  def ssPowerFold(emb: DataFrame, rounds: Int = 3): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val Scale9 = new java.math.MathContext(38)
    def r9(x: Double): java.math.BigDecimal =
      // Spark's ROUND(double, 9): shortest-repr decimal of the double,
      // HALF_UP at scale 9, back to double; then the CAST to decimal
      // re-reads the shortest repr — replayed here term-for-term
      java.math.BigDecimal.valueOf(
        java.math.BigDecimal.valueOf(x)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue())
    // fan the fold across the full parallelism: the bench-scale corpus
    // arrives as ONE parquet split, which serialized the d²-per-row
    // decimal work through a single core (measured 3.4 → 1.3 s); the
    // repartition shuffle is corpus-row-sized and the decimal partials
    // it feeds are order-free, so the result is bit-identical
    val partials = emb.select("embedding")
      .repartition(s.sparkContext.defaultParallelism)
      .as[Array[Float]].rdd
      .mapPartitions { it =>
        var dim = -1
        var cnt = 0L
        var g: Array[java.math.BigDecimal] = null
        var sx: Array[java.math.BigDecimal] = null
        for (v <- it) {
          if (dim < 0) {
            dim = v.length
            g = Array.fill(dim * dim)(java.math.BigDecimal.ZERO)
            sx = Array.fill(dim)(java.math.BigDecimal.ZERO)
          }
          require(v.length == dim, "ragged embedding dimensions")
          cnt += 1
          var i = 0
          while (i < dim) {
            val xi = v(i).toDouble
            sx(i) = sx(i).add(r9(xi), Scale9)
            // upper triangle only: xi·xj = xj·xi term-for-term (the
            // product commutes BEFORE rounding), so the mirror cell is
            // bit-identical by construction — half the decimal work
            var j = i
            while (j < dim) {
              g(i * dim + j) =
                g(i * dim + j).add(r9(xi * v(j).toDouble), Scale9)
              j += 1
            }
            i += 1
          }
        }
        if (dim < 0) Iterator.empty
        else (for { i <- 0 until dim; j <- 0 until dim } yield
          (i, j, g(math.min(i, j) * dim + math.max(i, j)),
            if (j == 0) sx(i) else java.math.BigDecimal.ZERO,
            cnt)).iterator
      }
    Caches.pin(partials.toDF("i", "j", "g", "sx", "cnt")
      .groupBy("i", "j")
      .agg(org.apache.spark.sql.functions.expr("SUM(g)").as("g"),
        org.apache.spark.sql.functions.expr("SUM(sx)").as("sx"),
        org.apache.spark.sql.functions.expr("SUM(cnt)").as("cnt")))
      .createOrReplaceTempView("__pw_gram")
    powerIterate(s, rounds)
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein, SIGIR
    * 1998 — public): greedily pick k items maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — the diversity-aware cut a
    * retrieval pipeline runs after ANN ("relevant but not redundant":
    * RAG context assembly, diverse eval-set sampling, dedup-aware
    * recommendation). rel and sim are cosine; the empty-set max is 0, so
    * the first pick is the plain relevance argmax.
    *
    * Engine-exactness: rel, each pairwise sim, and every round's score
    * are 6-dp-rounded before comparison, ties break on vec_id — the
    * greedy trajectory is a pure function of the input, and the DuckDB
    * oracle replays all k rounds statically unrolled.
    *
    * Scale design: the candidate relation carries ONE incremental
    * max-sim column — round t joins only the single newly-picked vector
    * (a broadcast literal), never S × candidates; the argmax is a
    * TakeOrdered LIMIT 1; each round eagerly pins the updated relation
    * and releases its predecessor (the Superstep release contract), so
    * the plan stays O(1) in rounds. At 100 TB MMR runs over a
    * RETRIEVED candidate set (the ANN entries' output, thousands of
    * rows), not the raw corpus — the same loop unchanged.
    */
  def ssMmr(s: SparkSession, emb: DataFrame, queryId: Long, k: Int,
      lambda: Double): DataFrame = {
    require(k >= 1, s"ssMmr: k must be >= 1, got $k")
    require(lambda > 0 && lambda <= 1, s"ssMmr: lambda in (0,1], got $lambda")
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    import org.apache.spark.sql.functions.{array, col, expr, greatest, lit, round}
    emb.createOrReplaceTempView("__mmr_emb")
    var cand = Caches.pin(s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __mmr_emb),
         |norms AS (
         |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base)
         |SELECT c.vec_id, c.v, c.nrm,
         |       ROUND(graft_dot(c.v, q.v) / (c.nrm * q.nrm), 6) AS rel,
         |       CAST(0 AS DOUBLE) AS ms
         |FROM norms c CROSS JOIN (SELECT * FROM norms
         |                         WHERE vec_id = $queryId) q
         |WHERE c.vec_id <> $queryId""".stripMargin), eager = true)
    val out = Seq.newBuilder[(Long, Long, Double, Double)]
    var t = 1
    var done = false
    while (t <= k && !done) {
      val scored = cand.withColumn("score",
        round(lit(lambda) * col("rel") - lit(1 - lambda) * col("ms"), 6))
      val top = scored.orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val r = top.head
        val (id, v, nrm) = (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))
        out += ((t.toLong, id, r.getDouble(3), r.getDouble(5)))
        // literal array via the Column API: an SQL numeric literal would
        // type the array DECIMAL and break graft_dot's double contract
        val pv = array(v.map(lit): _*)
        val next = Caches.pin(cand.filter(col("vec_id") =!= id)
          .withColumn("ms", greatest(col("ms"),
            round(org.apache.spark.sql.functions
              .call_function("graft_dot", col("v"), pv)
              / (col("nrm") * lit(nrm)), 6))), eager = true)
        Caches.release(cand)
        cand = next
      }
      t += 1
    }
    Caches.release(cand)
    out.result().toDF("rank", "vec_id", "rel", "score").orderBy("rank")
  }

  /** The oracle-checked form: query vec_id = 0, k = 8, λ = 0.7. */
  def ssMmr(s: SparkSession, dir: String): DataFrame =
    ssMmr(s, Tables.load(s, dir, "embeddings"), queryId = 0L, k = 8,
      lambda = 0.7)

  /** k-means++ seeding (Arthur & Vassilvitskii, SODA 2007 — the O(log k)-
    * approximation initializer every practical k-means ships): the first
    * center is the corpus-uniform draw (argmin of the keyed md5 digest,
    * the cent0 seeding style), and every next center is sampled with
    * probability ∝ D²(x) — realized EXACTLY and deterministically by the
    * Gumbel-max identity: argmax of ln(D²(x)) + Gumbel(md5-draw keyed on
    * (round, vec_id)) IS a ∝-D² sample under the fixed draw family.
    * Emits (rank, vec_id, d2) — d2 the squared distance to the
    * previously-chosen set at pick time (the quantity the k-means++
    * guarantee bounds).
    *
    * Scale shape (the ss_mmr discipline): per-vector state is ONE
    * incrementally-min'd d2 column; each round broadcast-joins only the
    * newly picked center as a literal array, the argmax rides
    * TakeOrdered via `limit(1)`, and superseded checkpoint frames are
    * released per round — k rounds of corpus-linear narrow work, never
    * a k×corpus blowup.
    */
  def ssKmeansPp(s: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 256, s"ssKmeansPp: k in [2,256], got $k")
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    import org.apache.spark.sql.functions.{array, col, expr, least, lit, round}
    emb.createOrReplaceTempView("__kpp_emb")
    val firstRow = s.sql(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __kpp_emb),
        |n2 AS (SELECT vec_id, v, ROUND(graft_dot(v, v), 9) AS vv FROM base)
        |SELECT vec_id, v, vv FROM (
        |  SELECT vec_id, v, vv,
        |         md5(concat('kpp0:', CAST(vec_id AS STRING))) AS h
        |  FROM n2)
        |ORDER BY h, vec_id LIMIT 1""".stripMargin).collect()
    if (firstRow.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("rank", "vec_id", "d2")
    val f = firstRow.head
    val (fid, fv, fvv) = (f.getLong(0), f.getSeq[Double](1), f.getDouble(2))
    val out = Seq.newBuilder[(Long, Long, Double)]
    out += ((1L, fid, 0.0))
    def centerLit(v: Seq[Double]) = array(v.map(lit): _*)
    var cand = Caches.pin(s.sql(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __kpp_emb)
        |SELECT vec_id, v, ROUND(graft_dot(v, v), 9) AS vv FROM base""".stripMargin)
      .filter(col("vec_id") =!= fid)
      .withColumn("d2", round(col("vv")
        - lit(2.0) * org.apache.spark.sql.functions
            .call_function("graft_dot", col("v"), centerLit(fv))
        + lit(fvv), 9)), eager = true)
    var t = 2
    var done = false
    while (t <= k && !done) {
      val gumbel = expr(
        s"""ROUND(-ln(-ln(ROUND(
           |  (CAST(conv(substring(md5(concat('kpp$t:',
           |     CAST(vec_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
           |   + 0.5D) / 1152921504606846976.0D, 9))), 9)""".stripMargin)
      val top = cand.filter(col("d2") > 0)
        .withColumn("sc", round(expr("ln(d2)") + gumbel, 9))
        .orderBy(col("sc").desc, col("vec_id")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val r = top.head
        val (id, v, vv) = (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))
        out += ((t.toLong, id, r.getDouble(3)))
        val next = Caches.pin(cand.filter(col("vec_id") =!= id)
          .withColumn("d2", least(col("d2"), round(col("vv")
            - lit(2.0) * org.apache.spark.sql.functions
                .call_function("graft_dot", col("v"), centerLit(v))
            + lit(vv), 9))), eager = true)
        Caches.release(cand)
        cand = next
      }
      t += 1
    }
    Caches.release(cand)
    out.result().toDF("rank", "vec_id", "d2").orderBy("rank")
  }

  /** The oracle-checked form: 8 seeds over the embeddings table. */
  def ssKmeansPp(s: SparkSession, dir: String): DataFrame =
    ssKmeansPp(s, Tables.load(s, dir, "embeddings"), k = 8)

  /** Hard-negative mining (the contrastive-training prep step: for every
    * anchor, the most-similar vectors that carry a DIFFERENT label —
    * "close but wrong" examples, the ones a triplet/InfoNCE loss learns
    * most from). Exact cosine, label-filtered, top-`k` per anchor with
    * the deterministic (cos DESC, id) cut.
    *
    * Scale design: the anchor side is query-predicate-bounded (the brute
    * family's contract); at corpus scale the candidate side swaps in the
    * IVF/LSH generators with the label filter applied post-probe,
    * unchanged ranking.
    */
  def ssHardNeg(s: SparkSession, emb: DataFrame, queryPred: String,
                topK: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__hn_emb")
    s.sql(
      s"""WITH norms AS (
         |  SELECT vec_id, label, v, sqrt(graft_dot(v, v)) AS nrm FROM (
         |    SELECT vec_id, label,
         |           CAST(embedding AS ARRAY<DOUBLE>) AS v
         |    FROM __hn_emb)),
         |scored AS (
         |  SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
         |         c.vec_id AS neg_id, c.label AS neg_label,
         |         ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
         |  FROM (SELECT * FROM norms WHERE $queryPred) q
         |  JOIN norms c ON c.label <> q.label)
         |SELECT anchor_id, anchor_label, neg_id, neg_label, cos, rn FROM (
         |  SELECT anchor_id, anchor_label, neg_id, neg_label, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
         |                ORDER BY cos DESC, neg_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $topK ORDER BY anchor_id, rn""".stripMargin)
  }

  /** The oracle-checked form: top-3 hard negatives for anchors
    * vec_id < 5.
    */
  def ssHardNeg(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__hn_raw")
    ssHardNeg(s, s.table("__hn_raw"), "vec_id < 5", 3)
  }

  /** Hybrid retrieval fusion — Reciprocal Rank Fusion (Cormack/Clarke/
    * Büttcher 2009, the score-free fusion every hybrid search stack
    * ships): a LEXICAL leg (bigram-shingle Jaccard over `documents`) and
    * a SEMANTIC leg (exact cosine over `embeddings`, doc_id ≡ vec_id)
    * each rank their top-10 per query; a candidate's fused score is
    * Σ 1/(60 + rank) over the legs that retrieved it, and the fused
    * top-10 is re-ranked on that. RRF needs no score calibration between
    * legs — exactly why it is the default fusion.
    *
    * Engine-exactness: ranks are integers (rounded-cosine / integer-
    * Jaccard orderings with id tiebreaks), the fused score is two IEEE
    * divisions and one add — identical in both engines; the final
    * ordering ties (a lex-1/sem-2 vs lex-2/sem-1 pair) break by
    * neighbor_id.
    *
    * Scale design: each leg is query-set-bounded on its probe side (the
    * ssRecall discipline); the fusion join and re-rank run over ≤ 2·k
    * rows per query. At corpus scale the legs swap in their index-backed
    * variants (minhash-LSH / IVF) with the fusion unchanged.
    */
  def ssHybrid(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.load(s, dir, "documents").createOrReplaceTempView("__hy_docs")
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__hy_emb")
    s.sql(
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, explode(
        |    CASE WHEN size(toks) >= 2
        |         THEN transform(sequence(1, size(toks) - 1),
        |                i -> concat(element_at(toks, i), ' ',
        |                            element_at(toks, i + 1)))
        |         ELSE array() END) AS sh
        |  FROM (SELECT doc_id, split(text, ' ') AS toks FROM __hy_docs)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
        |         COUNT(*) AS i
        |  FROM sh a JOIN sh b ON b.sh = a.sh AND b.doc_id <> a.doc_id
        |  WHERE a.doc_id < 5 GROUP BY a.doc_id, b.doc_id),
        |lexk AS (
        |  SELECT query_id, neighbor_id, lr FROM (
        |    SELECT i.query_id, i.neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY i.query_id
        |             ORDER BY CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) DESC,
        |                      i.neighbor_id) AS BIGINT) AS lr
        |    FROM inter i JOIN cnt ca ON ca.doc_id = i.query_id
        |                 JOIN cnt cb ON cb.doc_id = i.neighbor_id)
        |  WHERE lr <= 10),
        |norms AS (
        |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM (
        |    SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |    FROM __hy_emb)),
        |sem AS (
        |  SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS sr FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                 ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
        |          FROM (SELECT * FROM norms WHERE vec_id < 5) q
        |          JOIN norms c ON c.vec_id <> q.vec_id))
        |  WHERE rn <= 10),
        |fused AS (
        |  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
        |         COALESCE(l.neighbor_id, s.neighbor_id) AS neighbor_id,
        |         l.lr, s.sr,
        |         COALESCE(CAST(1 AS DOUBLE) / (60 + l.lr), CAST(0 AS DOUBLE)) +
        |         COALESCE(CAST(1 AS DOUBLE) / (60 + s.sr), CAST(0 AS DOUBLE))
        |           AS rrf
        |  FROM lexk l FULL OUTER JOIN sem s
        |    ON s.query_id = l.query_id AND s.neighbor_id = l.neighbor_id)
        |SELECT query_id, neighbor_id, lr, sr, ROUND(rrf, 6) AS rrf, rrf_rank
        |FROM (
        |  SELECT query_id, neighbor_id, lr, sr, rrf,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rrf_rank
        |  FROM fused)
        |WHERE rrf_rank <= 10 ORDER BY query_id, rrf_rank""".stripMargin)
  }

  /** Int8 scalar-quantized top-k with exact rescoring (the FAISS "SQ8"
    * memory path): each vector is quantized per-vector-symmetrically to
    * integers in [−127,127] (q_i = round(x_i · 127 / max|x|)); candidate
    * generation ranks by the QUANTIZED cosine (the per-vector scale
    * cancels in cosine, so no dequantization is needed), keeps the top
    * `mult`·k per query, and only those are rescored with the exact
    * float cosine. Output carries both scores, so the SQ-vs-exact gap is
    * visible per row.
    *
    * Scale rationale (100 TB): int8 codes are 8× smaller than float64
    * vectors — the candidate scan streams the quantized corpus from
    * memory where the float corpus would spill, and only `mult`·k rows
    * per query ever touch the full-precision vectors (joined back by
    * vec_id — a broadcast-sized relation). Composes with [[ssIvfAnnOn]]
    * (IVF restricts WHICH vectors are scanned; SQ shrinks HOW MUCH each
    * scanned vector costs — together they are the standard IVF-SQ8).
    *
    * Exactness discipline: quantized codes are integer-valued doubles, so
    * graft_dot partials are exact and order-free; the quantized and exact
    * cosines both round to 6 with vec_id tiebreaks — candidate cut and
    * final rank are deterministic in both engines.
    */
  def ssSqTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                 topK: Int, mult: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_sq")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_sq),
         |qv AS (
         |  SELECT vec_id, v,
         |         transform(v, x -> CAST(round(x * 127 /
         |           array_max(transform(v, y -> abs(y)))) AS DOUBLE)) AS q
         |  FROM base),
         |qn AS (
         |  SELECT vec_id, v, q, sqrt(graft_dot(v, v)) AS nrm,
         |         sqrt(graft_dot(q, q)) AS qnrm
         |  FROM qv),
         |cand AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         ROUND(graft_dot(a.q, b.q) / (a.qnrm * b.qnrm), 6) AS cosq
         |  FROM (SELECT * FROM qn WHERE $queryPred) a
         |  JOIN qn b ON b.vec_id <> a.vec_id),
         |topc AS (
         |  SELECT query_id, neighbor_id, cosq FROM (
         |    SELECT query_id, neighbor_id, cosq,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cosq DESC, neighbor_id) AS rnq
         |    FROM cand)
         |  WHERE rnq <= ${mult * topK}),
         |res AS (
         |  SELECT t.query_id, t.neighbor_id, t.cosq,
         |         ROUND(graft_dot(qa.v, qb.v) / (qa.nrm * qb.nrm), 6) AS cos
         |  FROM topc t
         |  JOIN qn qa ON qa.vec_id = t.query_id
         |  JOIN qn qb ON qb.vec_id = t.neighbor_id)
         |SELECT query_id, neighbor_id, cos, cosq, rn FROM (
         |  SELECT query_id, neighbor_id, cos, cosq,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM res)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Oracle-query form: SQ8 top-10 for query vectors vec_id < 5 —
    * directly comparable against [[ssCosineTopk]]'s exact rows.
    */
  def ssSqTopk(s: SparkSession, dir: String): DataFrame =
    ssSqTopkOn(s, Tables.load(s, dir, "embeddings"), "vec_id < 5", 10)

  /** Binary-quantized top-k — sign binarization + Hamming ADC + exact
    * rescore (the "BQ" tier of modern vector stores; the rotation-free
    * base case of Gong & Lazebnik's ITQ, 2011): each dimension keeps
    * ONE bit (x > 0), so a d=64 vector compresses to exactly two
    * BIGINTs, and the approximate distance between any two vectors is
    * two XOR+popcount instructions — the cheapest scan in the ladder
    * (PQ pays nSub LUT lookups, RQ two, BQ none: the code IS the
    * operand). Candidates at the mult·topK Hamming cut rescore with
    * the exact cosine.
    *
    * Mechanism contrast inside the family: [[ssLshAnn]] uses 8 RANDOM
    * hyperplane bits to BUCKET and only compares within probed
    * buckets; BQ uses all 64 COORDINATE signs as a rankable code over
    * a full compressed scan — no recall cliff from bucket boundaries,
    * cost linear in N but over 16-byte rows. (dd_simhash is the text-
    * side cousin: feature-hashed sign codes for near-dup grouping.)
    *
    * Engine-exactness: bit packing is integer (bit i set iff x_i > 0,
    * two 32-bit halves so no sign-bit overflow in either engine's
    * BIGINT sum); Hamming is bit_count(xor) on both; the rescore is
    * the audited ROUND-6 cosine with id tie-breaks.
    *
    * REGIME CONTRACT (measured): clustered-corpus recall@5 ≥ 0.5 at
    * mult=12 (spec lock); on the 100k weak-label MID-similarity corpus
    * it reads 0.220 — matching the lean-RQ rung with zero training
    * (PERF.md r11, addendum52). `mult` is the recall dial, as for PQ.
    *
    * Scale design: one narrow codegen pass packs codes (no shuffle,
    * 16 B/vector — 16× smaller than SQ8, same as PQ with zero
    * training); the query scan is a broadcast of Q codes against the
    * code relation, never raw vectors; only rescore survivors touch
    * floats. Contract: d ≤ 64 (the embeddings schema); wider vectors
    * add halves.
    *
    * `nprobe` is the scan dial (r11 verdict item #3 — the exact
    * treatment RQ got): 0 (the default, the published BQ design) scans
    * ALL N 16-byte codes per query — the declared linear-scan regime
    * entry. Any positive value composes the IVF coarse cut
    * ([[ssIvfPqTopkOn]]'s `qprobes` discipline): codes carry their
    * coarse cell id and only the top-`nprobe` cells per query enter the
    * Hamming scan — one equality join, per-query scan ~nprobe·N/nlist
    * codes (nprobe·√N at √N nlist). [[ssIvfBqTopk]] is the probed
    * oracle entry; recall-vs-nprobe is measured at 100k in PERF.md
    * r12, addendum53.
    */
  def ssBqTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                 topK: Int, mult: Int = 3, nlist: Int = 16,
                 nprobe: Int = 0,
                 pretrained: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    def half(off: Int): String =
      s"""aggregate(transform(slice(v, $off, 32),
         |  (x, i) -> IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i),
         |               CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, y) -> a + y)""".stripMargin
    // nprobe=0: no IVF CTEs at all — base/n3 only, full compressed scan
    // (the calibration/regime entry, SQL identical to the r11 form);
    // nprobe>0: the shared k-means train/assign chain prepends, codes
    // carry cid, and the ham scan is cut by the qprobes equality join
    val C = s"cent$IvfIters"
    val head =
      if (nprobe <= 0) {
        emb.createOrReplaceTempView("__emb_bq")
        """base AS (
          |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
          |  FROM __emb_bq),
          |n3 AS (
          |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
          |code AS (
          |  SELECT vec_id, v, nrm""".stripMargin
      } else {
        emb.createOrReplaceTempView("__emb")
        s"""${ivfTrainAssignCtes(s, nlist, pretrained)},
           |qprobes AS (
           |  SELECT qid, cid FROM (
           |    SELECT n.vec_id AS qid, c.cid,
           |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
           |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
           |                        DESC, c.cid) AS rn
           |    FROM n3 n CROSS JOIN $C c WHERE $queryPred) WHERE rn <= $nprobe),
           |code AS (
           |  SELECT vec_id, v, nrm, cid""".stripMargin
      }
    val hamFrom =
      if (nprobe <= 0) "FROM qv q CROSS JOIN code c WHERE c.vec_id <> q.qid"
      else
        """FROM qv q JOIN qprobes p ON p.qid = q.qid
          |  JOIN code c ON c.cid = p.cid
          |  WHERE c.vec_id <> q.qid""".stripMargin
    val codeSrc = if (nprobe <= 0) "n3" else "assign"
    s.sql(
      s"""WITH $head,
         |         ${half(1)} AS lo,
         |         ${half(33)} AS hi
         |  FROM $codeSrc),
         |qv AS (
         |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm, lo AS qlo,
         |         hi AS qhi
         |  FROM code WHERE $queryPred),
         |ham AS (
         |  SELECT q.qid, c.vec_id AS neighbor_id,
         |         CAST(bit_count(q.qlo ^ c.lo)
         |              + bit_count(q.qhi ^ c.hi) AS BIGINT) AS ham
         |  $hamFrom),
         |topc AS (
         |  SELECT qid, neighbor_id, ham FROM (
         |    SELECT qid, neighbor_id, ham,
         |           ROW_NUMBER() OVER (PARTITION BY qid
         |             ORDER BY ham ASC, neighbor_id) AS rnq
         |    FROM ham) WHERE rnq <= ${mult * topK}),
         |resc AS (
         |  SELECT t.qid, t.neighbor_id, t.ham,
         |         ROUND(graft_dot(q.qvec, b.v) / (q.qnrm * b.nrm), 6) AS cos
         |  FROM topc t
         |  JOIN qv q ON q.qid = t.qid
         |  JOIN n3 b ON b.vec_id = t.neighbor_id)
         |SELECT qid AS query_id, neighbor_id, cos, ham, rn FROM (
         |  SELECT qid, neighbor_id, cos, ham,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM resc)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Oracle-query form: BQ top-10 for query vectors vec_id < 5 —
    * row-comparable with the exact/SQ8/PQ/RQ ladder entries.
    * Full-scan (nprobe=0): the published BQ regime; [[ssIvfBqTopk]] is
    * the probed production shape.
    */
  def ssBqTopk(s: SparkSession, dir: String): DataFrame =
    ssBqTopkOn(s, Tables.load(s, dir, "embeddings"), "vec_id < 5", 10)

  /** Oracle-query form: IVF-BQ top-10 at nlist=16/nprobe=2 — the probed
    * composition of the BQ chain (coarse cut + Hamming ADC + exact
    * rescore), row-comparable with [[ssIvfPqTopk]]/[[ssIvfRqTopk]] at
    * the same cut. This is the 100 TB shape for BQ codes: per-query
    * scan ~nprobe·N/nlist 16-byte codes instead of N.
    */
  def ssIvfBqTopk(s: SparkSession, dir: String): DataFrame = {
    // r14 coarse-codebook hoist (see [[ssIvfAnn]])
    val emb = Tables.load(s, dir, "embeddings")
    val cent = broadcast(Caches.pin(ssIvfTrain(s, emb, 16), eager = true))
    ssBqTopkOn(s, emb, "vec_id < 5", 10, nprobe = 2,
      pretrained = Some(cent))
  }

  /** Random-projection top-k — the Johnson–Lindenstrauss axis of the
    * ladder (Achlioptas 2003's database-friendly ±1 projections): the
    * quantization entries (SQ/PQ/RQ/BQ) shrink what each DIMENSION
    * costs; this one shrinks HOW MANY dimensions there are. Each of
    * the `pDim` output coordinates is a seeded ±1-signed sum of the 64
    * input coordinates (sign s(i,j) from md5('rp42:i:j') — the
    * library's deterministic-draw discipline, identical in both
    * engines), candidates rank by projected cosine, and the mult·topK
    * cut rescores exactly. JL guarantees pairwise dot products survive
    * to within ~1/√pDim; the exact rescore absorbs the distortion.
    *
    * Engine-exactness: x·(±1) is an exact sign flip; each projected
    * coordinate accumulates as DECIMAL(27,12) (the dvar discipline)
    * with one terminal ROUND-6, so the projected vectors — and
    * everything ranked from them — are bit-equal across engines.
    *
    * REGIME CONTRACT (measured): `pDim` is THE dial, and it must be
    * sized to the corpus's cosine gaps — clustered recall@5 ≥ 0.5 at
    * pDim=16 (spec lock), but on the 100k weak-label MID-similarity
    * corpus the 1/√pDim distortion is comparable to the inter-neighbor
    * gaps and pDim=16 collapses to 0.080; pDim=32 reads 0.200
    * (PERF.md r11, addendum52 — the LSH-regime honesty class). When
    * the gaps are unknown, prefer the quantization entries: they compress per-dim
    * precision, not the geometry.
    *
    * Scale design: the sign matrix is a 64·pDim-row relation built
    * from literals (broadcast, never shuffled); the projection is one
    * posexplode + partial-agg pass (O(N·d) multiply-adds, the
    * unavoidable JL cost, combinable); downstream candidate scans move
    * pDim-wide vectors instead of 64 — a 4× narrower exchange at
    * pDim=16 — and only rescore survivors touch the raw corpus.
    */
  def ssRpTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                 topK: Int, pDim: Int = 16, mult: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_rp")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_rp),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
         |sm AS (
         |  SELECT ii.i, jj.j,
         |         CASE WHEN substring(md5(concat('rp42:',
         |                     CAST(ii.i AS STRING), ':',
         |                     CAST(jj.j AS STRING))), 1, 1) < '8'
         |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
         |         END AS sg
         |  FROM (SELECT explode(sequence(0, 63)) AS i) ii
         |  CROSS JOIN (SELECT explode(sequence(0, ${pDim - 1})) AS j) jj),
         |px AS (
         |  SELECT e.vec_id, s.j,
         |         ROUND(CAST(SUM(CAST(e.x * s.sg AS DECIMAL(27,12)))
         |                    AS DOUBLE), 6) AS p
         |  FROM (SELECT vec_id, i, x
         |        FROM n3 LATERAL VIEW posexplode(v) AS i, x) e
         |  JOIN sm s ON s.i = e.i
         |  GROUP BY e.vec_id, s.j),
         |pv AS (
         |  SELECT vec_id,
         |         transform(array_sort(collect_list(struct(j, p))),
         |                   t -> t.p) AS pv
         |  FROM px GROUP BY vec_id),
         |pn AS (
         |  SELECT vec_id, pv, sqrt(graft_dot(pv, pv)) AS pnrm FROM pv),
         |qp AS (
         |  SELECT p.vec_id AS qid, p.pv AS qpv, p.pnrm AS qpnrm,
         |         n.v AS qvec, n.nrm AS qnrm
         |  FROM (SELECT * FROM pn WHERE $queryPred) p
         |  JOIN n3 n ON n.vec_id = p.vec_id),
         |cand AS (
         |  SELECT q.qid, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.qpv, c.pv) / (q.qpnrm * c.pnrm), 6)
         |           AS cosp
         |  FROM qp q CROSS JOIN pn c WHERE c.vec_id <> q.qid),
         |topc AS (
         |  SELECT qid, neighbor_id, cosp FROM (
         |    SELECT qid, neighbor_id, cosp,
         |           ROW_NUMBER() OVER (PARTITION BY qid
         |             ORDER BY cosp DESC, neighbor_id) AS rnq
         |    FROM cand) WHERE rnq <= ${mult * topK}),
         |resc AS (
         |  SELECT t.qid, t.neighbor_id, t.cosp,
         |         ROUND(graft_dot(q.qvec, b.v) / (q.qnrm * b.nrm), 6) AS cos
         |  FROM topc t
         |  JOIN qp q ON q.qid = t.qid
         |  JOIN n3 b ON b.vec_id = t.neighbor_id)
         |SELECT qid AS query_id, neighbor_id, cos, cosp, rn FROM (
         |  SELECT qid, neighbor_id, cos, cosp,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM resc)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Oracle-query form: RP top-10 (64 → 16 dims) for query vectors
    * vec_id < 5 — row-comparable with the rest of the ladder.
    */
  def ssRpTopk(s: SparkSession, dir: String): DataFrame =
    ssRpTopkOn(s, Tables.load(s, dir, "embeddings"), "vec_id < 5", 10)

  /** Spark SQL for the product-quantized top-k over view `__emb_pq`:
    * the 64-dim vector splits into `nSub` orthogonal subspaces of
    * 64/nSub dims; each subspace trains a `nCode`-codeword codebook
    * (seeded deterministic init — the nCode vectors with the smallest
    * md5('pq42:'||vec_id) digests donate their subvectors, the IVF cand0
    * discipline — plus one decimal-exact k-means refinement round);
    * every vector then encodes as nSub small codes. Query scoring is
    * ADC (asymmetric distance computation): the query's exact dot
    * against every codeword forms an (nSub × nCode) lookup table, the
    * approximate dot of a database vector is the sum of its codes'
    * table entries, and the approximate norm is the reconstruction norm
    * √Σ|c_{m,code}|² (exact because the subspaces are coordinate-
    * disjoint). The top mult·k by approximate cosine are rescored with
    * the exact float cosine.
    *
    * Engine-exactness: codeword means are DECIMAL(27,12) sums rounded
    * to 6 (the IVF discipline); the ADC fold and the reconstruction
    * norm are per-term ROUND(·,9) → DECIMAL(28,9) sums (the
    * taPerplexity discipline — order-free where a double SUM would
    * depend on partitioning); every rank key is a 6-decimal round with
    * code/vec_id tiebreaks.
    */
  /** The PQ codebook-training + corpus-encoding CTE chain over an
    * existing `n3` (vec_id, v, nrm) relation: subvector stream → seeded
    * codebook init → one decimal-exact refinement → per-vector codes
    * (`enc`) and reconstruction norms (`recn`). Shared by the standalone
    * [[pqSparkSql]] and the IVF-PQ composition (CTE names are prefixed
    * pq- where they would collide with the IVF training chain's).
    */
  private[ops] def pqTrainEncodeCtes(nSub: Int, nCode: Int,
      pretrained: Option[DataFrame] = None): String = {
    val d = 64 / nSub
    pretrained match {
      case Some(cb) =>
        // train-once path (the ssIvfTrain discipline applied to the
        // sub-codebooks): the caller supplies (m, code, cv) from
        // [[ssPqTrain]]; cb1's cn2 re-derives from cv (exact — the
        // same graft_dot the trainer ran), and the per-corpus ENCODE
        // pass (sub → enc → recn) still runs — codes are corpus-sized
        // and cheap; the k-means seed/assign/update rounds are what
        // the hoist removes.
        cb.createOrReplaceTempView("__pqcb_pre")
        return s"""sub AS (
           |  SELECT vec_id, m, slice(v, m * $d + 1, $d) AS sv
           |  FROM n3 LATERAL VIEW explode(sequence(0, ${nSub - 1})) AS m),
           |cb1 AS (
           |  SELECT m, code, cv, graft_dot(cv, cv) AS cn2
           |  FROM __pqcb_pre),
           |enc AS (
           |  SELECT vec_id, m, code FROM (
           |    SELECT u.vec_id, u.m, c.code,
           |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
           |             ORDER BY ROUND(c.cn2 - 2 * graft_dot(u.sv, c.cv), 6) ASC,
           |                      c.code) AS rn
           |    FROM sub u JOIN cb1 c ON c.m = u.m) WHERE rn = 1),
           |recn AS (
           |  SELECT e.vec_id,
           |         CAST(SUM(CAST(ROUND(c.cn2, 9) AS DECIMAL(28,9))) AS DOUBLE)
           |           AS rn2
           |  FROM enc e JOIN cb1 c ON c.m = e.m AND c.code = e.code
           |  GROUP BY e.vec_id)""".stripMargin
      case None => ()
    }
    s"""sub AS (
       |  SELECT vec_id, m, slice(v, m * $d + 1, $d) AS sv
       |  FROM n3 LATERAL VIEW explode(sequence(0, ${nSub - 1})) AS m),
       |seed AS (
       |  -- the nCode smallest digests as a distributed TOP-K
       |  -- (TakeOrderedAndProject) — the codebook draw never
       |  -- single-partitions the corpus; the leftover unpartitioned
       |  -- ROW_NUMBER ranks only nCode rows
       |  SELECT md5(concat('pq42:', CAST(vec_id AS STRING))) AS h, vec_id, v
       |  FROM n3 ORDER BY h, vec_id LIMIT $nCode),
       |cb0 AS (
       |  SELECT m, code, slice(v, m * $d + 1, $d) AS cv FROM (
       |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS INT) - 1
       |             AS code, v
       |    FROM seed) LATERAL VIEW explode(sequence(0, ${nSub - 1})) AS m),
       |pqa1 AS (
       |  SELECT vec_id, m, sv, code FROM (
       |    SELECT u.vec_id, u.m, u.sv, c.code,
       |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
       |             ORDER BY ROUND(graft_dot(c.cv, c.cv)
       |                            - 2 * graft_dot(u.sv, c.cv), 6) ASC,
       |                      c.code) AS rn
       |    FROM sub u JOIN cb0 c ON c.m = u.m) WHERE rn = 1),
       |pqm1 AS (
       |  SELECT m, code, i,
       |         ROUND(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE)
       |               / COUNT(1), 6) AS mx
       |  FROM pqa1 LATERAL VIEW posexplode(sv) AS i, x
       |  GROUP BY m, code, i),
       |cb1 AS (
       |  SELECT m, code, cv, graft_dot(cv, cv) AS cn2 FROM (
       |    SELECT m, code,
       |           transform(array_sort(collect_list(struct(i, mx))),
       |                     p -> p.mx) AS cv
       |    FROM pqm1 GROUP BY m, code)),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT u.vec_id, u.m, c.code,
       |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
       |             ORDER BY ROUND(c.cn2 - 2 * graft_dot(u.sv, c.cv), 6) ASC,
       |                      c.code) AS rn
       |    FROM sub u JOIN cb1 c ON c.m = u.m) WHERE rn = 1),
       |recn AS (
       |  SELECT e.vec_id,
       |         CAST(SUM(CAST(ROUND(c.cn2, 9) AS DECIMAL(28,9))) AS DOUBLE)
       |           AS rn2
       |  FROM enc e JOIN cb1 c ON c.m = e.m AND c.code = e.code
       |  GROUP BY e.vec_id)""".stripMargin
  }

  /** The ADC query tail shared by the standalone PQ and IVF-PQ queries:
    * query LUT → ADC fold (optionally over an externally restricted
    * candidate relation `candSrc` instead of the whole `enc`) → approx-
    * cosine cut at mult·topK → exact rescore → final top-k.
    */
  private[ops] def pqQueryTail(queryPred: String, topK: Int, nSub: Int,
                               mult: Int, candJoin: String = "",
                               lutQidCond: String = ""): String = {
    val d = 64 / nSub
    s"""qv AS (
       |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm FROM n3 WHERE $queryPred),
       |lut AS (
       |  SELECT q.qid, c.m, c.code,
       |         graft_dot(slice(q.qvec, c.m * $d + 1, $d), c.cv) AS pdot
       |  FROM qv q CROSS JOIN cb1 c),
       |adc AS (
       |  SELECT l.qid, e.vec_id AS neighbor_id,
       |         CAST(SUM(CAST(ROUND(l.pdot, 9) AS DECIMAL(28,9))) AS DOUBLE)
       |           AS adot
       |  FROM enc e
       |  $candJoin
       |  JOIN lut l ON ${lutQidCond}l.m = e.m AND l.code = e.code
       |  WHERE e.vec_id <> l.qid
       |  GROUP BY l.qid, e.vec_id),
       |cand AS (
       |  SELECT a.qid, a.neighbor_id,
       |         ROUND(a.adot / (q.qnrm * sqrt(r.rn2)), 6) AS cosq
       |  FROM adc a
       |  JOIN qv q ON q.qid = a.qid
       |  JOIN recn r ON r.vec_id = a.neighbor_id),
       |topc AS (
       |  SELECT qid, neighbor_id, cosq FROM (
       |    SELECT qid, neighbor_id, cosq,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY cosq DESC, neighbor_id) AS rnq
       |    FROM cand) WHERE rnq <= ${mult * topK}),
       |res AS (
       |  SELECT t.qid, t.neighbor_id, t.cosq,
       |         ROUND(graft_dot(q.qvec, b.v) / (q.qnrm * b.nrm), 6) AS cos
       |  FROM topc t
       |  JOIN qv q ON q.qid = t.qid
       |  JOIN n3 b ON b.vec_id = t.neighbor_id)
       |SELECT qid AS query_id, neighbor_id, cos, cosq, rn FROM (
       |  SELECT qid, neighbor_id, cos, cosq,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
       |  FROM res)
       |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin
  }

  private[ops] def pqSparkSql(queryPred: String, topK: Int,
                              nSub: Int = 8, nCode: Int = 16,
                              mult: Int = 3,
                              pretrainedPq: Option[DataFrame] = None): String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
       |  FROM __emb_pq),
       |n3 AS (
       |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
       |${pqTrainEncodeCtes(nSub, nCode, pretrainedPq)},
       |${pqQueryTail(queryPred, topK, nSub, mult)}""".stripMargin

  /** Train the PQ sub-codebooks ONCE → (m, code, cv), nSub·nCode rows —
    * [[ssIvfTrain]]'s train-once discipline applied to the second
    * quantizer of the IVF-PQ composition: the seeded draw + one
    * decimal-exact refinement round, evaluated standalone. Persist and
    * pass as `pretrainedPq` to [[ssPqTopkOn]] / [[ssIvfPqTopkOn]]; the
    * per-corpus ENCODE pass still runs in-query (codes must cover the
    * corpus being searched), but the training rounds hoist out. OPQ is
    * deliberately NOT hoistable this way: its variance-ranked
    * permutation is corpus-derived, so a portable OPQ codebook must
    * carry the permutation with it — compose [[ssOpqTopkOn]] inline or
    * snapshot the permuted corpus instead.
    */
  def ssPqTrain(s: SparkSession, emb: DataFrame, nSub: Int = 8,
                nCode: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_pq")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_pq),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
         |${pqTrainEncodeCtes(nSub, nCode)}
         |SELECT m, code, cv FROM cb1 ORDER BY m, code""".stripMargin)
  }

  /** Product-quantized approximate top-k with exact rescoring (the FAISS
    * "PQ" memory path, one tier beyond [[ssSqTopkOn]]'s SQ8): codes cost
    * nSub·log2(nCode) bits per vector — 8 bytes here against 512 for the
    * float64 vector, a 64× compression — so the ADC candidate scan
    * streams a corpus whose quantized form fits in memory three orders of
    * magnitude past where floats spill. Composes with IVF exactly as SQ
    * does (IVF restricts WHICH vectors are scanned, PQ shrinks WHAT each
    * scanned vector costs — together the standard IVF-PQ).
    *
    * Scale shape: the codebook relation is (nSub·nCode) rows — broadcast
    * everywhere it joins; encoding is one narrow pass over the subvector
    * stream; the ADC join keys on (m, code) against a Q·nSub·nCode-row
    * query LUT (broadcast for any sane Q) and reduces per (query,
    * vector) with a partial-agg-friendly SUM. Training assignment is the
    * one corpus-wide rank (vec_id, m windows) — production systems train
    * the codebook on a sample; the `trainPred`-less form here trains on
    * the full corpus because the oracle must be deterministic end-to-end.
    *
    * REGIME CONTRACT (measured, SimilaritySpec): 8-byte codes collapse
    * cluster-mates to near-identical ADC scores, so within-cluster rank
    * lives in the exact rescore — the cut depth `mult` is PQ's recall
    * dial (the nprobe analog): clustered-regime recall@5 is ~0.51 at
    * mult=3 and ≥0.7 at mult=12, monotone in between (spec-locked).
    * `nSub` is the memory/fidelity dial (codes cost nSub·log2(nCode)
    * bits); dial it up for finer quantization, down for compression.
    */
  def ssPqTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                 topK: Int, nSub: Int = 8, nCode: Int = 16,
                 mult: Int = 3,
                 pretrainedPq: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_pq")
    s.sql(pqSparkSql(queryPred, topK, nSub, nCode, mult, pretrainedPq))
  }

  /** Oracle-query form: PQ top-10 for query vectors vec_id < 5 —
    * row-comparable with [[ssCosineTopk]] (exact) and [[ssSqTopk]] (SQ8).
    */
  def ssPqTopk(s: SparkSession, dir: String): DataFrame = {
    // r14 codebook hoist (see [[ssIvfAnn]]): cb1 was re-derived per
    // mention (enc + recn + lut = 3× the whole sub-codebook training)
    val emb = Tables.load(s, dir, "embeddings")
    val cb = broadcast(Caches.pin(ssPqTrain(s, emb), eager = true))
    ssPqTopkOn(s, emb, "vec_id < 5", 10, pretrainedPq = Some(cb))
  }

  /** IVF-PQ: the canonical 100 TB ANN composition — the IVF coarse
    * quantizer restricts WHICH vectors each query scans (nprobe of nlist
    * clusters, [[ssIvfAnnOn]]'s dial), and PQ codes shrink WHAT each
    * scanned vector costs (the ADC fold over 8-byte codes instead of a
    * 512-byte float dot, [[ssPqTopkOn]]'s dial); survivors rescore
    * exactly. Both quantizers are the library's deterministic seeded
    * chains verbatim ([[ivfTrainAssignCtes]] + [[pqTrainEncodeCtes]]),
    * so the composed result is oracle-able end-to-end. This simplified
    * composition encodes RAW vectors, not per-cluster residuals — the
    * residual refinement is a fidelity upgrade the plain-SQL formulation
    * trades away for cross-engine exactness, and the `mult` rescore cut
    * absorbs most of the difference.
    *
    * Scale shape: training/encoding as the component ops; the per-query
    * candidate set is |probed clusters| of the corpus (an equality join
    * probes→assign on cid), and only that subset enters the ADC fold —
    * at nlist ≈ √N and nprobe ≪ nlist the scan is ~nprobe·√N codes per
    * query instead of N.
    */
  def ssIvfPqTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                    topK: Int, nlist: Int = 16, nprobe: Int = 2,
                    nSub: Int = 8, nCode: Int = 16,
                    mult: Int = 3,
                    pretrained: Option[DataFrame] = None,
                    pretrainedPq: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    val C = s"cent$IvfIters"
    s.sql(
      s"""WITH ${ivfTrainAssignCtes(s, nlist, pretrained)},
         |${pqTrainEncodeCtes(nSub, nCode, pretrainedPq)},
         |qprobes AS (
         |  SELECT qid, cid FROM (
         |    SELECT n.vec_id AS qid, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
         |                        DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN $C c WHERE $queryPred) WHERE rn <= $nprobe),
         |${pqQueryTail(queryPred, topK, nSub, mult,
           candJoin = "JOIN assign s2 ON s2.vec_id = e.vec_id\n" +
             "  JOIN qprobes p ON p.cid = s2.cid",
           lutQidCond = "l.qid = p.qid AND ")}""".stripMargin)
  }

  /** Oracle-query form: IVF-PQ top-10 for query vectors vec_id < 5 at
    * nlist=16/nprobe=2 — row-comparable with the exact/SQ8/PQ entries;
    * the rank differences ARE the composition's candidate truncation.
    */
  def ssIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    // r14 codebook hoist for BOTH quantizers (see [[ssIvfAnn]])
    val emb = Tables.load(s, dir, "embeddings")
    val cent = broadcast(Caches.pin(ssIvfTrain(s, emb, 16), eager = true))
    val cb = broadcast(Caches.pin(ssPqTrain(s, emb), eager = true))
    ssIvfPqTopkOn(s, emb, "vec_id < 5", 10,
      pretrained = Some(cent), pretrainedPq = Some(cb))
  }

  /** Residual quantization top-k (the IVF+RVQ refinement shape — Chen,
    * Guan & Wang 2010; faiss's IVF encode-by-residual): level 1 is the
    * library's deterministic IVF k-means ([[ivfTrainAssignCtes]] — the
    * coarse codebook), level 2 a PER-CELL full-dimension codebook
    * trained on that cell's RESIDUALS v − c(v) (seeded draw + one
    * decimal-exact refinement round, the PQ discipline on whole
    * residual vectors, partitioned by coarse cell — residuals are
    * cluster-local, so each cell's nCode codewords cover a far tighter
    * ball than any shared codebook could). Each vector compresses to
    * (cid, code): reconstruction v̂ = c_cid + r_{cid,code}, so the
    * approximate query score decomposes into TWO query-side LUTs —
    * dot(q, c_cid) + dot(q, r_{cid,code}) — and the per-vector ADC is
    * two lookups and one add (PQ pays nSub lookups; RQ pays 2 — the
    * trade the ladder documents). Survivors of the mult·topK
    * approximate cut rescore exactly.
    *
    * Engine-exactness: residual subtraction is exact IEEE (zip_with
    * x−y ≡ the DuckDB comprehension); codebook means on DECIMAL(27,12);
    * |v̂|² expands to cn2_c + 2·dot(c,r) + cn2_r with fixed
    * parenthesization; every ranking key ROUNDs to 6 before ties break
    * on id.
    *
    * Scale design: training touches the corpus twice (IVF chain +
    * residual assign), both broadcast-joined against codebook-sized
    * relations; encode output is 2 ints/vector (the most compressed
    * entry in the ladder); the query side joins the codes relation to
    * two LUTs with no corpus-width vectors moving. At 100 TB the code
    * table IS the index — 8 bytes/vector against 256 for PQ codes +
    * floats for SQ.
    *
    * `nprobe` is the scan dial: 0 (the default, [[ssRqTopk]]'s
    * exact-rescore calibration form) scans ALL N codes per query —
    * a deliberate full-ADC baseline, linear in the corpus. Any
    * positive value composes the IVF coarse cut ([[ssIvfPqTopkOn]]'s
    * `qprobes` discipline): each query ranks the nlist centroids by
    * rounded cosine and only codes in its top-`nprobe` cells enter the
    * ADC join — RQ codes are already keyed by cid, so the cut is one
    * equality join and the per-query scan drops from N to ~nprobe·N/
    * nlist (nprobe·√N at the √N auto-sized nlist). [[ssIvfRqTopk]] is
    * the probed oracle entry; recall-vs-nprobe is locked in
    * SimilaritySpec alongside the IVF-PQ ladder.
    */
  /** The per-cell residual-codebook training CTEs (rseed → rcb0 → one
    * assign/update round → rcb1) over the `rres` residual relation —
    * factored so [[ssRqTrain]] and the inline query share one text.
    */
  private def rqTrainCtes(nCode: Int): String =
    s"""rseed AS (
       |  SELECT cid, rv, rk FROM (
       |    SELECT cid, rv,
       |           ROW_NUMBER() OVER (PARTITION BY cid
       |             ORDER BY md5(concat('rq42:', CAST(vec_id AS STRING))),
       |                      vec_id) AS rk
       |    FROM rres) WHERE rk <= $nCode),
       |rcb0 AS (
       |  SELECT cid, CAST(rk AS INT) - 1 AS code,
       |         rv AS cv, graft_dot(rv, rv) AS cn2
       |  FROM rseed),
       |rq1 AS (
       |  SELECT vec_id, cid, rv, code FROM (
       |    SELECT r.vec_id, r.cid, r.rv, c.code,
       |           ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |             ORDER BY ROUND(c.cn2 - 2 * graft_dot(r.rv, c.cv), 6)
       |                        ASC, c.code) AS rn
       |    FROM rres r JOIN rcb0 c ON c.cid = r.cid) WHERE rn = 1),
       |rm1 AS (
       |  SELECT cid, code, i,
       |         ROUND(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE)
       |               / COUNT(1), 6) AS mx
       |  FROM rq1 LATERAL VIEW posexplode(rv) AS i, x
       |  GROUP BY cid, code, i),
       |rcb1 AS (
       |  SELECT cid, code, cv, graft_dot(cv, cv) AS cn2 FROM (
       |    SELECT cid, code,
       |           transform(array_sort(collect_list(struct(i, mx))),
       |                     p -> p.mx) AS cv
       |    FROM rm1 GROUP BY cid, code))""".stripMargin

  /** Train the RQ level-2 residual codebooks ONCE → (cid, code, cv) —
    * the train-once ladder's third rung (coarse [[ssIvfTrain]], PQ sub
    * [[ssPqTrain]], RQ residual here). Residual codebooks are only
    * meaningful AGAINST the coarse codebook they were trained with, so
    * the portable RQ index is the PAIR (centroids, residual codebooks):
    * pass the same `pretrained` here and to [[ssRqTopkOn]], or train
    * both inline from the same corpus. The per-corpus residual +
    * encode passes stay in-query.
    */
  def ssRqTrain(s: SparkSession, emb: DataFrame, nlist: Int = 16,
                nCode: Int = 16,
                pretrained: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    val C = s"cent$IvfIters"
    // r14: the residual relation feeds BOTH rqTrainCtes legs (rseed's
    // per-cell window + rq1's assignment rank) and each inline mention
    // re-ran the corpus assign pass — materialized once (lazy
    // localCheckpoint; corpus-sized but narrow, and the train is a
    // one-off job per invocation)
    Caches.pin(s.sql(
      s"""WITH ${ivfTrainAssignCtes(s, nlist, pretrained)}
         |SELECT a.vec_id, a.cid,
         |       zip_with(a.v, c.cv, (x, y) -> x - y) AS rv
         |FROM assign a JOIN $C c ON c.cid = a.cid""".stripMargin))
      .createOrReplaceTempView("__rres_train")
    s.sql(
      s"""WITH rres AS (SELECT vec_id, cid, rv FROM __rres_train),
         |${rqTrainCtes(nCode)}
         |SELECT cid, code, cv FROM rcb1 ORDER BY cid, code""".stripMargin)
  }

  def ssRqTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                 topK: Int, nlist: Int = 16, nCode: Int = 16,
                 mult: Int = 3, nprobe: Int = 0,
                 pretrained: Option[DataFrame] = None,
                 pretrainedRq: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb")
    val C = s"cent$IvfIters"
    // nprobe=0 ⇒ full ADC scan (no qprobes CTE, no cut join) — the
    // calibration twin; nprobe>0 ⇒ IVF coarse cut before the ADC.
    val probeCte =
      if (nprobe <= 0) ""
      else
        s"""qprobes AS (
           |  SELECT qid, cid FROM (
           |    SELECT n.vec_id AS qid, c.cid,
           |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
           |             ORDER BY ROUND(graft_dot(n.v, c.cv) / (n.nrm * c.cnrm), 6)
           |                        DESC, c.cid) AS rn
           |    FROM n3 n CROSS JOIN $C c WHERE $queryPred) WHERE rn <= $nprobe),
           |""".stripMargin
    val probeJoin =
      if (nprobe <= 0) ""
      else "\n  JOIN qprobes p ON p.qid = l1.qid AND p.cid = n.cid"
    // pretrainedRq (an [[ssRqTrain]] relation, trained against the SAME
    // coarse codebook) swaps the residual-codebook training for a
    // broadcast view read; the per-corpus rres + renc passes remain
    val rqCb = pretrainedRq match {
      case Some(cb) =>
        cb.createOrReplaceTempView("__rqcb_pre")
        """rcb1 AS (
          |  SELECT cid, code, cv, graft_dot(cv, cv) AS cn2
          |  FROM __rqcb_pre)""".stripMargin
      case None => rqTrainCtes(nCode)
    }
    s.sql(
      s"""WITH ${ivfTrainAssignCtes(s, nlist, pretrained)},
         |rres AS (
         |  SELECT a.vec_id, a.cid,
         |         zip_with(a.v, c.cv, (x, y) -> x - y) AS rv
         |  FROM assign a JOIN $C c ON c.cid = a.cid),
         |$rqCb,
         |renc AS (
         |  SELECT vec_id, cid, code FROM (
         |    SELECT r.vec_id, r.cid, c.code,
         |           ROW_NUMBER() OVER (PARTITION BY r.vec_id
         |             ORDER BY ROUND(c.cn2 - 2 * graft_dot(r.rv, c.cv), 6)
         |                        ASC, c.code) AS rn
         |    FROM rres r JOIN rcb1 c ON c.cid = r.cid) WHERE rn = 1),
         |rnorm AS (
         |  SELECT e.vec_id, e.cid, e.code,
         |         graft_dot(cc.cv, cc.cv) + 2 * graft_dot(cc.cv, rc.cv)
         |           + rc.cn2 AS vhat2
         |  FROM renc e JOIN $C cc ON cc.cid = e.cid
         |              JOIN rcb1 rc ON rc.cid = e.cid AND rc.code = e.code),
         |qv AS (
         |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm FROM n3
         |  WHERE $queryPred),
         |${probeCte}lut1 AS (
         |  SELECT q.qid, c.cid, graft_dot(q.qvec, c.cv) AS cdot
         |  FROM qv q CROSS JOIN $C c),
         |lut2 AS (
         |  SELECT q.qid, c.cid, c.code, graft_dot(q.qvec, c.cv) AS rdot
         |  FROM qv q CROSS JOIN rcb1 c),
         |adc AS (
         |  SELECT l1.qid, n.vec_id AS neighbor_id,
         |         ROUND((l1.cdot + l2.rdot) / (q.qnrm * sqrt(n.vhat2)), 6)
         |           AS cosq
         |  FROM rnorm n
         |  JOIN lut1 l1 ON l1.cid = n.cid$probeJoin
         |  JOIN lut2 l2 ON l2.qid = l1.qid AND l2.cid = n.cid
         |                AND l2.code = n.code
         |  JOIN qv q ON q.qid = l1.qid
         |  WHERE n.vec_id <> l1.qid),
         |topc AS (
         |  SELECT qid, neighbor_id, cosq FROM (
         |    SELECT qid, neighbor_id, cosq,
         |           ROW_NUMBER() OVER (PARTITION BY qid
         |             ORDER BY cosq DESC, neighbor_id) AS rnq
         |    FROM adc) WHERE rnq <= ${mult * topK}),
         |resc AS (
         |  SELECT t.qid, t.neighbor_id, t.cosq,
         |         ROUND(graft_dot(q.qvec, b.v) / (q.qnrm * b.nrm), 6) AS cos
         |  FROM topc t
         |  JOIN qv q ON q.qid = t.qid
         |  JOIN n3 b ON b.vec_id = t.neighbor_id)
         |SELECT qid AS query_id, neighbor_id, cos, cosq, rn FROM (
         |  SELECT qid, neighbor_id, cos, cosq,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
         |  FROM resc)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** Oracle-query form: RQ top-10 for query vectors vec_id < 5 —
    * row-comparable with the exact/SQ8/PQ/IVF-PQ ladder entries.
    * Full-ADC (nprobe=0): the calibration twin; [[ssIvfRqTopk]] is
    * the probed production shape.
    */
  def ssRqTopk(s: SparkSession, dir: String): DataFrame = {
    // r14: the inline form re-derived the ENTIRE coarse k-means chain
    // per CTE mention (rcb1 ×3 mentions, each holding rres ×2, each
    // holding the full train/assign chain — the executed plan held 60
    // parquet scans / 127 exchanges). Hoisting only the two SMALL
    // codebooks (16-row centroids + ≤256-row residual codebooks) into
    // in-query checkpoints collapses the plan to one train pass each +
    // the corpus encode/ADC tail; rows are oracle-verified identical
    // (the ss_ivfrq_pre twin locked the equivalence in r13).
    val emb = Tables.load(s, dir, "embeddings")
    val cent = broadcast(Caches.pin(ssIvfTrain(s, emb, 16), eager = true))
    val rcb = broadcast(Caches.pin(
      ssRqTrain(s, emb, 16, pretrained = Some(cent)), eager = true))
    ssRqTopkOn(s, emb, "vec_id < 5", 10,
      pretrained = Some(cent), pretrainedRq = Some(rcb))
  }

  /** Oracle-query form: IVF-RQ top-10 at nlist=16/nprobe=2 — the
    * probed composition of the RQ chain (coarse cut + two-LUT ADC),
    * row-comparable with [[ssIvfPqTopk]] at the same cut. This is the
    * 100 TB shape for RQ codes: per-query scan ~nprobe·N/nlist codes
    * instead of N.
    */
  def ssIvfRqTopk(s: SparkSession, dir: String): DataFrame = {
    // r14: same codebook hoist as [[ssRqTopk]] (the probed twin adds the
    // qprobes cut, which consumes the same hoisted centroids)
    val emb = Tables.load(s, dir, "embeddings")
    val cent = broadcast(Caches.pin(ssIvfTrain(s, emb, 16), eager = true))
    val rcb = broadcast(Caches.pin(
      ssRqTrain(s, emb, 16, pretrained = Some(cent)), eager = true))
    ssRqTopkOn(s, emb, "vec_id < 5", 10, nprobe = 2,
      pretrained = Some(cent), pretrainedRq = Some(rcb))
  }

  /** OPQ-P product quantization (the permutation member of Ge et al.
    * 2013's optimized PQ family — "OPQ" learns a rotation; the
    * PARAMETRIC/permutation variant balances information across
    * subspaces without one, and is the piece a SQL engine can run
    * deterministically): rank dimensions by variance, deal them to the
    * nSub subspaces in SNAKE order (1st..nSub-th highest variance seed
    * the nSub subspaces, then reverse — the balanced-allocation
    * heuristic), gather each vector through the permutation, and run
    * the library's EXACT PQ chain ([[pqTrainEncodeCtes]] +
    * [[pqQueryTail]]) on the permuted vectors. Dot products and norms
    * are permutation-invariant, so the exact rescore and the output
    * contract are IDENTICAL to [[ssPqTopkOn]] — only the codebook's
    * subspace fidelity changes. Plain PQ dies when one contiguous dim
    * block carries all the signal (its 16 codewords must explain
    * everything while 7 subspaces encode noise); the permutation
    * spreads signal dims one-per-subspace (spec-locked).
    *
    * Engine-exactness: per-dim variance is the centroid-mean decimal
    * discipline (DECIMAL(27,12) sums for E[x²] and E[x], one ROUND-9),
    * rank ties break on dim index; the snake map and the permutation
    * gather are pure integer; everything after is the audited PQ chain.
    *
    * Scale design: one extra corpus pass for the 64-row variance
    * aggregate (combinable), a 1-row permutation relation broadcast
    * into the gather — the rest is exactly ss_pq_topk's shape.
    */
  def ssOpqTopkOn(s: SparkSession, emb: DataFrame, queryPred: String,
                  topK: Int, nSub: Int = 8, nCode: Int = 16,
                  mult: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_opq")
    // the permuted (vec_id, v, nrm) relation is a plain view: later SQL
    // never matches the cache of a WITH statement, so persisting it does
    // not save the per-n3-mention variance pass + gather (ROADMAP)
    s.sql(
      s"""WITH base0 AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v0
         |  FROM __emb_opq),
         |dvar AS (
         |  SELECT i,
         |         ROUND(CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE)
         |                 / COUNT(1)
         |               - (CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE)
         |                  / COUNT(1))
         |                 * (CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE)
         |                    / COUNT(1)), 9) AS vr
         |  FROM base0 LATERAL VIEW posexplode(v0) AS i, x
         |  GROUP BY i),
         |ranked AS (
         |  SELECT i, CAST(ROW_NUMBER() OVER (ORDER BY vr DESC, i) AS INT)
         |              - 1 AS r
         |  FROM dvar),
         |mapped AS (
         |  SELECT i,
         |         CASE WHEN (r div $nSub) % 2 = 0 THEN r % $nSub
         |              ELSE $nSub - 1 - (r % $nSub) END AS grp,
         |         r div $nSub AS blk
         |  FROM ranked),
         |perm AS (
         |  SELECT transform(array_sort(collect_list(struct(grp, blk, i))),
         |                   p -> p.i) AS pm
         |  FROM mapped),
         |base AS (
         |  SELECT b.vec_id,
         |         transform(p.pm, ii -> element_at(b.v0, ii + 1)) AS v
         |  FROM base0 b CROSS JOIN perm p)
         |SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base"""
        .stripMargin)
      .createOrReplaceTempView("__opq_n3")
    // r14 codebook hoist (see [[ssIvfAnn]]): the PQ sub-codebooks
    // over the PERMUTED corpus train once per invocation instead of per
    // cb1 mention (enc + recn + lut re-ran the training chain, each over
    // the cached permuted relation). The permutation is corpus-derived,
    // so the hoist stays INSIDE the query — the portability caveat in
    // [[ssPqTrain]]'s scaladoc is about cross-corpus reuse, not this.
    val cb = broadcast(Caches.pin(s.sql(
      s"""WITH n3 AS (SELECT * FROM __opq_n3),
         |${pqTrainEncodeCtes(nSub, nCode)}
         |SELECT m, code, cv FROM cb1 ORDER BY m, code""".stripMargin), eager = true))
    s.sql(
      s"""WITH n3 AS (SELECT * FROM __opq_n3),
         |${pqTrainEncodeCtes(nSub, nCode, Some(cb))},
         |${pqQueryTail(queryPred, topK, nSub, mult)}""".stripMargin)
  }

  /** Oracle-query form: OPQ-P top-10 for query vectors vec_id < 5 —
    * row-comparable with the PQ entry (same output contract).
    */
  def ssOpqTopk(s: SparkSession, dir: String): DataFrame =
    ssOpqTopkOn(s, Tables.load(s, dir, "embeddings"), "vec_id < 5", 10)

  /** Mutual k-nearest-neighbor graph: the edge set {a,b} where b is in
    * a's cosine top-k AND a is in b's — the symmetric backbone that
    * k-NN-graph clustering (semdedup shards, spectral methods, UMAP-ish
    * layouts) builds on; mutuality prunes hub vectors that appear in
    * everyone's top-k but reciprocate none. Each edge carries the score
    * and both directed ranks.
    *
    * Exact brute contract (the ss_range discipline): all-pairs codegen'd
    * graft_dot scores, one rank window per direction; the directed top-k
    * relation is k·N rows and is MATERIALIZED once (lazy localCheckpoint,
    * the dd_resolve InlineCTE workaround) so the mutuality self-join —
    * (a,b)=(b,a) over k·N rows, never the N² score relation — does not
    * recompute the brute scan twice. At 100 TB the same shape runs with
    * the IVF/LSH candidate generators in this file replacing the
    * all-pairs scored relation; mutuality and ranks compose unchanged.
    *
    * Engine-exactness: graft_dot folds in array-index order — identical
    * IEEE sums in both engines (the ss_cosine_topk contract); ranks are
    * integer; cos rounds to 6 before ranking ties break on vec_id.
    */
  def ssKnnGraph(emb: DataFrame, k: Int = 5): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_knn")
    // cosine is symmetric: score each unordered pair ONCE (a < b — half
    // the graft_dot work of the naive a <> b cross), materialize, then
    // mirror the cheap (a, b, cos) triple for the per-direction ranking.
    // REPARTITION on the streamed side: a single-split parquet corpus
    // would otherwise serialize the whole O(N²/2) dot-product scan
    // through one task (measured 3.3 → 1.1 s at bench scale)
    val par = s.sparkContext.defaultParallelism
    val half = Caches.pin(s.sql(
      s"""WITH base AS (
        |  SELECT /*+ REPARTITION($par) */
        |         vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __emb_knn),
        |norms AS (
        |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base)
        |SELECT q.vec_id AS a, c.vec_id AS b,
        |       ROUND(graft_dot(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
        |FROM norms q JOIN norms c ON c.vec_id > q.vec_id""".stripMargin))
    half.createOrReplaceTempView("__knn_half")
    val topk = Caches.pin(s.sql(
      s"""WITH scored AS (
         |  SELECT a, b, cos FROM __knn_half
         |  UNION ALL SELECT b AS a, a AS b, cos FROM __knn_half)
         |SELECT a, b, cos, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT a, b, cos,
         |         ROW_NUMBER() OVER (PARTITION BY a
         |           ORDER BY cos DESC, b) AS rn
         |  FROM scored)
         |WHERE rn <= $k""".stripMargin))
    topk.createOrReplaceTempView("__knn_topk")
    s.sql(
      """SELECT x.a AS vec_a, x.b AS vec_b, x.cos,
        |       x.rn AS rank_ab, y.rn AS rank_ba
        |FROM __knn_topk x JOIN __knn_topk y ON y.a = x.b AND y.b = x.a
        |WHERE x.a < x.b
        |ORDER BY vec_a, vec_b""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings at k = 5. */
  def ssKnnGraph(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb_knn_src")
    ssKnnGraph(s.table("__emb_knn_src"), k = 5)
  }

  /** Late-interaction (ColBERT-style) MaxSim retrieval: each 64-dim
    * vector is treated as FOUR 16-dim token sub-vectors, and the score of
    * candidate c for query q is Σ_i max_j cos(q_i, c_j) — every query
    * token matches its best candidate token, the multi-vector relevance
    * model that beats single-vector cosine when documents are long and
    * queries touch only part of them. The testdata table is
    * single-vector, so the fixed 4-way split IS the multi-vector shape
    * (a real corpus would store the token matrix directly; the operator
    * only needs the subs array).
    *
    * Engine-exactness: each of the 16 sub-cosines is a graft_dot
    * array-order fold rounded to 6; max is order-free; the 4-term sum is
    * written as ONE fixed left-to-right expression tree in both engines
    * (never a list_sum whose iteration order is an implementation
    * detail), rounded to 6.
    *
    * Scale design: |Q|·N score pairs like ss_cosine_topk (the small
    * query-set contract), each scoring 16 codegen'd 16-dim dots — the
    * same FLOP count as a single 256-dim dot; the per-query top-10 is
    * the WindowGroupLimit rank family. At corpus scale the candidate set
    * comes from the IVF/LSH generators and MaxSim re-ranks only their
    * survivors — exactly how late-interaction systems deploy.
    */
  def ssMaxSim(emb: DataFrame, queryPred: String = "vec_id < 5",
      topK: Int = 10): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__emb_ms")
    // per-(i, j) sub-cosine expressions, fixed order
    def sub(side: String, i: Int) = s"element_at($side.subs, ${i + 1})"
    def nrm(side: String, i: Int) = s"element_at($side.nrms, ${i + 1})"
    val maxTerms = (0 to 3).map { i =>
      "GREATEST(" + (0 to 3).map { j =>
        s"ROUND(graft_dot(${sub("q", i)}, ${sub("c", j)})" +
          s" / (${nrm("q", i)} * ${nrm("c", j)}), 6)"
      }.mkString(", ") + ")"
    }
    val sumExpr = maxTerms.mkString(" + ") // fixed left-to-right tree
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
         |  FROM __emb_ms),
         |sub AS (
         |  SELECT vec_id,
         |         array(slice(v, 1, 16), slice(v, 17, 16),
         |               slice(v, 33, 16), slice(v, 49, 16)) AS subs
         |  FROM base),
         |n AS (
         |  SELECT vec_id, subs,
         |         transform(subs, t -> sqrt(graft_dot(t, t))) AS nrms
         |  FROM sub),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |         ROUND($sumExpr, 6) AS maxsim
         |  FROM (SELECT * FROM n WHERE $queryPred) q
         |  JOIN n c ON c.vec_id <> q.vec_id)
         |SELECT query_id, cand_id, maxsim, rn FROM (
         |  SELECT query_id, cand_id, maxsim,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY maxsim DESC, cand_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $topK ORDER BY query_id, rn""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssMaxSim(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings").createOrReplaceTempView("__emb_ms_src")
    ssMaxSim(s.table("__emb_ms_src"))
  }

  /** Matryoshka-prefix retrieval audit (Kusupati et al., "Matryoshka
    * Representation Learning", 2022 — public): per-query overlap between
    * the exact top-k retrieved with only the FIRST `dims` dimensions and
    * the full-dimension exact top-k. This is the measurement behind the
    * shortened-embedding serving trick (retrieve on a prefix, rerank on
    * the full vector): overlap near 1 says the prefix is safe to index
    * at 1/4 the memory; a collapsed overlap says these embeddings were
    * not matryoshka-trained and the prefix is NOT a valid index. Both
    * rankings round scores to 6 dp and tie-break by neighbor_id, so the
    * table is deterministic in both engines.
    *
    * Scale design: same shape as [[ssRecall]] — two query-set-bounded
    * brute scans (|Q|·N scored pairs, the declared exact-baseline cost),
    * then a |Q|·k overlap join; the prefix leg reads the SAME scan
    * (slice projects in-row, no second pass over the corpus).
    */
  def ssMatryoshkaOn(s: SparkSession, emb: DataFrame, dims: Int,
                     queryPred: String, topK: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__mat_emb")
    s.sql(
      s"""WITH base AS (
         |  SELECT vec_id,
         |         CAST(embedding AS ARRAY<DOUBLE>) AS v,
         |         CAST(slice(embedding, 1, $dims) AS ARRAY<DOUBLE>) AS p
         |  FROM __mat_emb),
         |norms AS (
         |  SELECT vec_id, v, p, sqrt(graft_dot(v, v)) AS nv,
         |         sqrt(graft_dot(p, p)) AS np
         |  FROM base),
         |sf AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.v, c.v) / (q.nv * c.nv), 6) AS cos
         |  FROM (SELECT * FROM norms WHERE $queryPred) q
         |  JOIN norms c ON c.vec_id <> q.vec_id),
         |sp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ROUND(graft_dot(q.p, c.p) / (q.np * c.np), 6) AS cos
         |  FROM (SELECT * FROM norms WHERE $queryPred) q
         |  JOIN norms c ON c.vec_id <> q.vec_id),
         |tf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |    FROM sf) WHERE rn <= $topK),
         |tp AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |    FROM sp) WHERE rn <= $topK)
         |SELECT f.query_id, COUNT(*) AS n_full,
         |       COUNT(p.neighbor_id) AS n_hit,
         |       ROUND(CAST(COUNT(p.neighbor_id) AS DOUBLE) / COUNT(*), 6)
         |         AS overlap
         |FROM tf f LEFT JOIN tp p
         |  ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
         |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin)
  }

  /** The oracle-checked form: 16-of-64-dim prefix top-5 overlap for
    * queries vec_id < 20 over the testdata embeddings.
    */
  def ssMatryoshka(s: SparkSession, dir: String): DataFrame =
    ssMatryoshkaOn(s, Tables.load(s, dir, "embeddings"), dims = 16,
      queryPred = "vec_id < 20", topK = 5)

  /** Cosine-similarity calibration histogram: the distribution of
    * cosines between deterministic id-lag pairs (i, i+1), (i, i+7),
    * (i, i+29) — the background-similarity table a pipeline reads BEFORE
    * picking a dedup threshold (dd_embed_cos's 0.9) or an ANN radius
    * (ss_range): a threshold below the histogram's bulk marks everything
    * a duplicate; the round-6 dd_embed_cos disk-fill (PERF.md r7,
    * scale2tight) was exactly a
    * threshold-vs-density mismatch this table makes visible up front.
    * Id-lag pairs are a deterministic, reproducible sample of the pair
    * space (no RNG, no all-pairs) — with ids assigned independently of
    * content they read as random pairs.
    *
    * Scale design: 3·N pairs via equality joins on vec_id + lag (hash
    * join, never a cross product); output is a ≤41-row histogram
    * (bucket = floor(cos·20), cos rounded to 6 dp first in both
    * engines).
    */
  def ssCosHist(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__ch_emb")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __ch_emb),
        |norms AS (
        |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
        |lagged AS (
        |  SELECT vec_id, v, nrm, explode(array(1, 7, 29)) AS lag
        |  FROM norms),
        |pairs AS (
        |  SELECT ROUND(graft_dot(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM lagged a JOIN norms b ON b.vec_id = a.vec_id + a.lag)
        |SELECT CAST(floor(cos * 20) AS INT) AS bucket, COUNT(*) AS n_pairs,
        |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
        |FROM pairs GROUP BY 1 ORDER BY bucket""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssCosHist(s: SparkSession, dir: String): DataFrame =
    ssCosHist(Tables.load(s, dir, "embeddings"))

  /** Label-outlier mining: per label, the `k` vectors FARTHEST (lowest
    * cosine) from their own label centroid — the mislabeled-sample audit
    * run before embeddings train a classifier or seed IVF centroids
    * (ss_centroids audits the INDEX; this audits the DATA). The
    * normalizing 1/n cancels inside cosine, so the centroid travels as
    * its decimal-exact component SUM (the ssDrift discipline) and no
    * mean is ever divided; ranks tie-break (cos ASC, vec_id).
    *
    * Scale design: the (label, dim) centroid relation is labels×dims
    * rows — broadcastable at any corpus size; the per-vector dot is one
    * join on that tiny relation plus a vec-sized aggregate. No pairwise
    * anything.
    */
  def ssOutliers(emb: DataFrame, topK: Int = 3): DataFrame = {
    val s = emb.sparkSession
    emb.createOrReplaceTempView("__ol_emb")
    s.sql(
      s"""WITH comp AS (
         |  SELECT vec_id, label, p.pos AS dim, CAST(p.x AS DOUBLE) AS x
         |  FROM __ol_emb LATERAL VIEW posexplode(embedding) p AS pos, x),
         |cent AS (
         |  SELECT label, dim,
         |         CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |           AS cx
         |  FROM comp GROUP BY label, dim),
         |cc AS (
         |  SELECT label, SUM(CAST(ROUND(cx * cx, 9) AS DECIMAL(38,9)))
         |           AS scc
         |  FROM cent GROUP BY label),
         |vd AS (
         |  SELECT c.vec_id, c.label,
         |         SUM(CAST(ROUND(c.x * ct.cx, 9) AS DECIMAL(38,9))) AS svc,
         |         SUM(CAST(ROUND(c.x * c.x, 9) AS DECIMAL(38,9))) AS svv
         |  FROM comp c JOIN cent ct ON ct.label = c.label AND ct.dim = c.dim
         |  GROUP BY c.vec_id, c.label),
         |scored AS (
         |  SELECT v.label, v.vec_id,
         |         ROUND(CAST(v.svc AS DOUBLE)
         |               / (sqrt(CAST(v.svv AS DOUBLE))
         |                  * sqrt(CAST(cc.scc AS DOUBLE))), 6) AS cos
         |  FROM vd v JOIN cc ON cc.label = v.label)
         |SELECT label, vec_id, cos, rn FROM (
         |  SELECT label, vec_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY label
         |           ORDER BY cos ASC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |WHERE rn <= $topK ORDER BY label, rn""".stripMargin)
  }

  /** The oracle-checked form: bottom-3 per label over the testdata. */
  def ssOutliers(s: SparkSession, dir: String): DataFrame =
    ssOutliers(Tables.load(s, dir, "embeddings"))

  /** Label-separation audit on the [[ssCosHist]] pair frame: mean cosine
    * of same-label vs cross-label id-lag pairs — the two-row
    * alignment-vs-uniformity summary (Wang & Isola 2020, public) that
    * says whether these embeddings separate their labels AT ALL before
    * anyone trains a classifier on them or trusts ss_hardneg's
    * negatives. Means accumulate ROUND(·,9) decimals (order-free); the
    * pair sample is the same deterministic 3·N lag set as the
    * calibration histogram.
    *
    * Scale design: identical to ssCosHist — equality joins, no pair
    * explosion, 2-row output.
    */
  def ssLabelSep(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__ls_emb")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __ls_emb),
        |norms AS (
        |  SELECT vec_id, label, v, sqrt(graft_dot(v, v)) AS nrm FROM base),
        |lagged AS (
        |  SELECT vec_id, label, v, nrm, explode(array(1, 7, 29)) AS lag
        |  FROM norms),
        |pairs AS (
        |  SELECT a.label = b.label AS same_label,
        |         ROUND(graft_dot(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM lagged a JOIN norms b ON b.vec_id = a.vec_id + a.lag)
        |SELECT same_label, COUNT(*) AS n_pairs,
        |       ROUND(CAST(SUM(CAST(ROUND(cos, 9) AS DECIMAL(28,9)))
        |             AS DOUBLE) / COUNT(*), 6) AS mean_cos
        |FROM pairs GROUP BY same_label ORDER BY same_label""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssLabelSep(s: SparkSession, dir: String): DataFrame =
    ssLabelSep(Tables.load(s, dir, "embeddings"))

  /** Per-label simplified silhouette (Rousseeuw 1987, the centroid
    * variant: a(i) = cosine to the OWN label centroid, b(i) = best cosine
    * to any OTHER label centroid; s(i) = (a−b)/max(1−a, 1−b) in cosine-
    * distance form) — the clustering-quality audit that says whether the
    * label structure is real BEFORE anyone trains a classifier head or
    * serves an IVF index partitioned by it. Complements [[ssLabelSep]]
    * (pair sampling along the id axis) with a per-VECTOR verdict: `n_neg`
    * counts vectors closer to a foreign centroid than their own — the
    * would-be misassignments.
    *
    * Engine-exactness: centroid components accumulate as DECIMAL(28,9)
    * over ROUND(x,9) terms (order-free, the ss_drift discipline); cosine
    * to a centroid is scale-invariant so the component SUM stands in for
    * the mean and no 1/n division enters; per-vector cosines are one
    * graft_dot expression rounded to 6; the per-label mean sums the
    * ROUND(s,6) silhouettes as DECIMAL(18,6) (exact) before ONE double
    * division.
    *
    * Scale design: the centroid grid is one (label, dim) partial+final
    * aggregate (labels × dims rows — tiny at any SF); the corpus then
    * joins the L-row centroid relation CROSS (broadcast — same shape as
    * ss_centroids' assignment pass), so per-vector cost is L dot
    * products. own/best-other fold in ONE conditional (vec_id) aggregate
    * — MAX(cos) needs no rank tiebreak because ties share the cos value
    * — so the corpus×L relation is consumed exactly once (a window +
    * self-join here would recompute it per consumer under InlineCTE, the
    * dd_resolve lesson) and the only corpus-sized exchange is that agg.
    */
  def ssSilhouette(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__sil_emb")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __sil_emb),
        |comp AS (
        |  SELECT label, p.pos AS dim, CAST(p.x AS DOUBLE) AS x
        |  FROM __sil_emb LATERAL VIEW posexplode(embedding) p AS pos, x),
        |sums AS (
        |  SELECT label, dim, SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS sx
        |  FROM comp GROUP BY label, dim),
        |cent AS (
        |  SELECT label AS clabel, cv, sqrt(graft_dot(cv, cv)) AS cnrm FROM (
        |    SELECT label,
        |           transform(array_sort(collect_list(
        |             struct(dim, CAST(sx AS DOUBLE) AS x))), e -> e.x) AS cv
        |    FROM sums GROUP BY label)),
        |scored AS (
        |  SELECT b.vec_id, b.label, c.clabel,
        |         ROUND(graft_dot(b.v, c.cv)
        |               / (sqrt(graft_dot(b.v, b.v)) * c.cnrm), 6) AS cos
        |  FROM base b CROSS JOIN cent c),
        |vecagg AS (
        |  SELECT vec_id, label,
        |         MAX(CASE WHEN clabel = label THEN cos END) AS own_cos,
        |         MAX(CASE WHEN clabel <> label THEN cos END) AS other_cos
        |  FROM scored GROUP BY vec_id, label),
        |sil AS (
        |  SELECT vec_id, label,
        |         CASE WHEN GREATEST(1 - own_cos, 1 - other_cos) = 0
        |              THEN CAST(0 AS DOUBLE)
        |              ELSE ROUND((own_cos - other_cos)
        |                         / GREATEST(1 - own_cos, 1 - other_cos), 6)
        |         END AS sil
        |  FROM vecagg WHERE other_cos IS NOT NULL)
        |SELECT label, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(sil AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_sil,
        |       SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS n_neg
        |FROM sil GROUP BY label ORDER BY label""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssSilhouette(s: SparkSession, dir: String): DataFrame =
    ssSilhouette(Tables.load(s, dir, "embeddings"))

  /** Quantization-fidelity audit for the SQ8 memory path: per label, the
    * cosine between every vector and its int8 scalar-quantized code (the
    * EXACT quantizer [[ssSqTopkOn]] ranks with — same `round(x·127/max|x|)`
    * expression, so this table IS that index's error model). `mean_cos`
    * says how much ranking signal SQ8 keeps for the label's region of
    * the space; `min_cos` is the worst single reconstruction — the
    * go/no-go check a team runs BEFORE switching the candidate scan to
    * quantized codes, analogous to [[ssRecall]] but measuring the code,
    * not the index.
    *
    * Engine-exactness: quantized codes are integer-valued doubles from
    * one fixed-shape expression; each cosine is one graft_dot expression
    * rounded to 6; the label mean sums ROUND(cos,6) as DECIMAL(18,6)
    * (order-free) before ONE double division.
    *
    * Scale design: strictly narrow — per-row quantize + self-cosine,
    * then one label-keyed partial+final aggregate; no joins, no windows,
    * nothing corpus-sized shuffles except the labels-sized aggregate.
    */
  def ssQuantErr(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    graft.functions.GraftFunctions.register(s)
    emb.createOrReplaceTempView("__qe_emb")
    s.sql(
      """WITH base AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __qe_emb),
        |qv AS (
        |  SELECT vec_id, label, v,
        |         transform(v, x -> CAST(round(x * 127 /
        |           array_max(transform(v, y -> abs(y)))) AS DOUBLE)) AS q
        |  FROM base
        |  WHERE array_max(transform(v, y -> abs(y))) > 0),
        |sc AS (
        |  SELECT vec_id, label,
        |         ROUND(graft_dot(v, q)
        |               / (sqrt(graft_dot(v, v)) * sqrt(graft_dot(q, q))), 6)
        |           AS cos
        |  FROM qv)
        |SELECT label, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_cos,
        |       MIN(cos) AS min_cos
        |FROM sc GROUP BY label ORDER BY label""".stripMargin)
  }

  /** The oracle-checked form over the testdata embeddings. */
  def ssQuantErr(s: SparkSession, dir: String): DataFrame =
    ssQuantErr(Tables.load(s, dir, "embeddings"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_kmeanspp" -> ((s: SparkSession, dir: String) => ssKmeansPp(s, dir)),
    "ss_quanterr" -> ((s: SparkSession, dir: String) => ssQuantErr(s, dir)),
    "ss_silhouette" -> ((s: SparkSession, dir: String) => ssSilhouette(s, dir)),
    "ss_labelsep" -> ((s: SparkSession, dir: String) => ssLabelSep(s, dir)),
    "ss_outliers" -> ((s: SparkSession, dir: String) => ssOutliers(s, dir)),
    "ss_coshist" -> ((s: SparkSession, dir: String) => ssCosHist(s, dir)),
    "ss_matryoshka" -> ((s: SparkSession, dir: String) => ssMatryoshka(s, dir)),
    "ss_maxsim" -> ((s: SparkSession, dir: String) => ssMaxSim(s, dir)),
    "ss_knn_graph" -> ((s: SparkSession, dir: String) => ssKnnGraph(s, dir)),
    "ss_norms" -> ((s: SparkSession, dir: String) => ssNorms(s, dir)),
    "ss_centroids" -> ((s: SparkSession, dir: String) => ssCentroids(s, dir)),
    "ss_inertia" -> ((s: SparkSession, dir: String) => ssInertia(s, dir)),
    "ss_drift" -> ((s: SparkSession, dir: String) => ssDrift(s, dir)),
    "ss_dimvar" -> ((s: SparkSession, dir: String) => ssDimvar(s, dir)),
    "ss_power" -> ((s: SparkSession, dir: String) => ssPower(s, dir)),
    "ss_hardneg" -> ((s: SparkSession, dir: String) => ssHardNeg(s, dir)),
    "ss_hybrid" -> ((s: SparkSession, dir: String) => ssHybrid(s, dir)),
    "ss_recall" -> ((s: SparkSession, dir: String) => ssRecall(s, dir)),
    "ss_cosine_topk" -> (ssCosineTopk _),
    "ss_l2_topk" -> (ssL2Topk _),
    "ss_mips" -> ((s: SparkSession, dir: String) => ssMips(s, dir)),
    "ss_mmr" -> ((s: SparkSession, dir: String) => ssMmr(s, dir)),
    "ss_range" -> ((s: SparkSession, dir: String) => ssRangeSearch(s, dir)),
    "ss_sq_topk" -> (ssSqTopk _),
    "ss_bq_topk" -> (ssBqTopk _),
    "ss_ivfbq_topk" -> (ssIvfBqTopk _),
    "ss_rp_topk" -> (ssRpTopk _),
    "ss_pq_topk" -> (ssPqTopk _),
    "ss_opq_topk" -> (ssOpqTopk _),
    "ss_rq_topk" -> (ssRqTopk _),
    "ss_ivfrq_topk" -> (ssIvfRqTopk _),
    "ss_ivfpq_topk" -> (ssIvfPqTopk _),
    "ss_lsh_ann" -> (ssLshAnn _),
    "ss_ivf_ann" -> (ssIvfAnn _),
    "ss_ivf_pre" -> (ssIvfPre _),
    "ss_ivfpq_pre" -> (ssIvfPqPre _),
    "ss_pq_pre" -> (ssPqPre _),
    "ss_ivfrq_pre" -> (ssIvfRqPre _))

  /** DuckDB mirror of the k-means iteration chain (bit-equal centroids:
    * same seeded init order, same decimal-exact means, same rounding).
    */
  private[ops] def ivfDuckIters: String = (1 to IvfIters).map { k =>
    def cos(v: String, c: String): String =
      s"ROUND(list_sum([$v[i] * $c[i] FOR i IN generate_series(1, len($v))])"
    s"""a$k AS (
       |  SELECT vec_id, v, nrm, cid FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY ${cos("n.v", "c.cv")} / (n.nrm * c.cnrm), 6)
       |                        DESC, c.cid) AS rn
       |    FROM n3 n CROSS JOIN cent${k - 1} c) WHERE rn = 1),
       |m$k AS (
       |  SELECT cid, g.i,
       |         ROUND((SUM((v[g.i])::DECIMAL(27,12)))::DOUBLE / COUNT(*), 6) AS mx
       |  FROM a$k CROSS JOIN generate_series(1, 64) g(i)
       |  GROUP BY cid, g.i),
       |cent$k AS (
       |  SELECT cid, cv,
       |         sqrt(list_sum([x * x FOR x IN cv])) AS cnrm FROM (
       |    SELECT cid, list(mx ORDER BY i) AS cv FROM m$k GROUP BY cid))""".stripMargin
  }.mkString(",\n")

  /** DuckDB mirror of the MaxSim score: the same fixed 4×4 sub-cosine
    * grid, max per query token, one left-to-right 4-term sum — built by
    * the same loop so the expression trees cannot drift apart.
    */
  private def maxSimDuck: String = {
    def dot(a: String, b: String) =
      s"list_sum([$a[i] * $b[i] FOR i IN generate_series(1, 16)])"
    val maxTerms = (0 to 3).map { i =>
      "GREATEST(" + (0 to 3).map { j =>
        s"ROUND(${dot(s"q.subs[${i + 1}]", s"c.subs[${j + 1}]")}" +
          s" / (q.nrms[${i + 1}] * c.nrms[${j + 1}]), 6)"
      }.mkString(", ") + ")"
    }
    val sumExpr = maxTerms.mkString(" + ")
    ("WITH base AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v " +
      "FROM embeddings), " +
      "sub AS (SELECT vec_id, " +
      "[v[1:16], v[17:32], v[33:48], v[49:64]] AS subs FROM base), " +
      "n AS (SELECT vec_id, subs, " +
      "[sqrt(list_sum([x * x FOR x IN t])) FOR t IN subs] AS nrms " +
      "FROM sub), " +
      "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, " +
      s"ROUND($sumExpr, 6) AS maxsim " +
      "FROM (SELECT * FROM n WHERE vec_id < 5) q " +
      "JOIN n c ON c.vec_id <> q.vec_id) " +
      "SELECT query_id, cand_id, maxsim, rn FROM ( " +
      "SELECT query_id, cand_id, maxsim, " +
      "ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY maxsim DESC, cand_id) AS rn FROM scored) " +
      "WHERE rn <= 10 ORDER BY query_id, rn")
  }

  /** DuckDB twin of [[ssPower]]'s unrolled power-iteration rounds. */
  private lazy val ssPowerOracle: String = {
    val roundCtes = (1 to 3).map { t =>
      s"w$t AS (SELECT cov.i, " +
        "CAST(SUM(CAST(ROUND(cov.c * v.v, 12) AS DECIMAL(38,12))) " +
        "AS DOUBLE) AS w " +
        s"FROM cov JOIN v${t - 1} v ON v.i = cov.j GROUP BY cov.i), " +
        s"n$t AS (SELECT sqrt(CAST(SUM(CAST(ROUND(w * w, 12) " +
        s"AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w$t), " +
        s"v$t AS (SELECT i, CASE WHEN nrm = 0 THEN CAST(0 AS DOUBLE) " +
        s"ELSE ROUND(w / nrm, 9) END AS v FROM w$t CROSS JOIN n$t)"
    }.mkString(", ")
    "WITH a AS (SELECT u.pi - 1 AS i, w.qj - 1 AS j, " +
      "SUM(CAST(ROUND(u.xi::DOUBLE * w.xj::DOUBLE, 9) " +
      "AS DECIMAL(28,9))) AS g, " +
      "SUM(CASE WHEN w.qj - 1 = 0 " +
      "THEN CAST(ROUND(u.xi::DOUBLE, 9) AS DECIMAL(28,9)) " +
      "ELSE CAST(0 AS DECIMAL(28,9)) END) AS sx, " +
      "COUNT(*) AS cnt " +
      "FROM embeddings, " +
      "LATERAL (SELECT unnest(embedding) AS xi, " +
      "generate_subscripts(embedding, 1) AS pi) u, " +
      "LATERAL (SELECT unnest(embedding) AS xj, " +
      "generate_subscripts(embedding, 1) AS qj) w " +
      "GROUP BY 1, 2), " +
      "m AS (SELECT i, sx::DOUBLE / cnt AS mu FROM a WHERE j = 0), " +
      "cov AS (SELECT a.i, a.j, " +
      "ROUND(a.g::DOUBLE / a.cnt - mi.mu * mj.mu, 9) AS c " +
      "FROM a JOIN m mi ON mi.i = a.i JOIN m mj ON mj.i = a.j), " +
      "v0 AS (SELECT i, CAST(1 AS DOUBLE) AS v FROM m), " +
      roundCtes + " " +
      "SELECT v.i AS dim, ROUND(v.v, 6) AS loading, " +
      "ROUND(n.nrm, 6) AS eigenvalue " +
      "FROM v3 v CROSS JOIN n3 n ORDER BY dim"
  }

  /** DuckDB twin of the PQ chain from `sub` onward (assumes CTEs
    * `base`/`n3` are already defined) — shared by the ss_pq_topk
    * and ss_opq_topk oracles so the two cannot drift.
    */
  private def duckPqBody: String =
    """sub AS (
        |  SELECT vec_id, g.m, v[(g.m*8+1):(g.m*8+8)] AS sv
        |  FROM n3 CROSS JOIN generate_series(0, 7) g(m)),
        |seedranked AS (
        |  SELECT (ROW_NUMBER() OVER (
        |           ORDER BY md5('pq42:' || vec_id::VARCHAR), vec_id))::INT - 1
        |           AS code, v
        |  FROM n3),
        |cb0 AS (
        |  SELECT g.m, code, v[(g.m*8+1):(g.m*8+8)] AS cv
        |  FROM seedranked CROSS JOIN generate_series(0, 7) g(m)
        |  WHERE code < 16),
        |a1 AS (
        |  SELECT vec_id, m, sv, code FROM (
        |    SELECT u.vec_id, u.m, u.sv, c.code,
        |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
        |             ORDER BY ROUND(
        |               list_sum([c.cv[i] * c.cv[i]
        |                 FOR i IN generate_series(1, len(c.cv))])
        |               - 2 * list_sum([u.sv[i] * c.cv[i]
        |                 FOR i IN generate_series(1, len(u.sv))]), 6) ASC,
        |               c.code) AS rn
        |    FROM sub u JOIN cb0 c ON c.m = u.m) WHERE rn = 1),
        |m1 AS (
        |  SELECT m, code, g.i,
        |         ROUND((SUM((sv[g.i])::DECIMAL(27,12)))::DOUBLE
        |               / COUNT(*), 6) AS mx
        |  FROM a1 CROSS JOIN generate_series(1, 8) g(i)
        |  GROUP BY m, code, g.i),
        |cb1 AS (
        |  SELECT m, code, cv, list_sum([x * x FOR x IN cv]) AS cn2 FROM (
        |    SELECT m, code, list(mx ORDER BY i) AS cv FROM m1
        |    GROUP BY m, code)),
        |enc AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT u.vec_id, u.m, c.code,
        |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
        |             ORDER BY ROUND(c.cn2
        |               - 2 * list_sum([u.sv[i] * c.cv[i]
        |                 FOR i IN generate_series(1, len(u.sv))]), 6) ASC,
        |               c.code) AS rn
        |    FROM sub u JOIN cb1 c ON c.m = u.m) WHERE rn = 1),
        |recn AS (
        |  SELECT e.vec_id,
        |         (SUM(CAST(ROUND(c.cn2, 9) AS DECIMAL(28,9))))::DOUBLE AS rn2
        |  FROM enc e JOIN cb1 c ON c.m = e.m AND c.code = e.code
        |  GROUP BY e.vec_id),
        |qv AS (
        |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm FROM n3
        |  WHERE vec_id < 5),
        |lut AS (
        |  SELECT q.qid, c.m, c.code,
        |         list_sum([q.qvec[c.m*8 + i] * c.cv[i]
        |           FOR i IN generate_series(1, len(c.cv))]) AS pdot
        |  FROM qv q CROSS JOIN cb1 c),
        |adc AS (
        |  SELECT l.qid, e.vec_id AS neighbor_id,
        |         (SUM(CAST(ROUND(l.pdot, 9) AS DECIMAL(28,9))))::DOUBLE
        |           AS adot
        |  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
        |  WHERE e.vec_id <> l.qid
        |  GROUP BY l.qid, e.vec_id),
        |cand AS (
        |  SELECT a.qid, a.neighbor_id,
        |         ROUND(a.adot / (q.qnrm * sqrt(r.rn2)), 6) AS cosq
        |  FROM adc a
        |  JOIN qv q ON q.qid = a.qid
        |  JOIN recn r ON r.vec_id = a.neighbor_id),
        |topc AS (
        |  SELECT qid, neighbor_id, cosq FROM (
        |    SELECT qid, neighbor_id, cosq,
        |           ROW_NUMBER() OVER (PARTITION BY qid
        |             ORDER BY cosq DESC, neighbor_id) AS rnq
        |    FROM cand) WHERE rnq <= 30),
        |res AS (
        |  SELECT t.qid, t.neighbor_id, t.cosq,
        |         ROUND(list_sum([q.qvec[i] * b.v[i]
        |                 FOR i IN generate_series(1, len(q.qvec))])
        |               / (q.qnrm * b.nrm), 6) AS cos
        |  FROM topc t
        |  JOIN qv q ON q.qid = t.qid
        |  JOIN n3 b ON b.vec_id = t.neighbor_id)
        |SELECT qid AS query_id, neighbor_id, cos, cosq, rn FROM (
        |  SELECT qid, neighbor_id, cos, cosq,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM res)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin


  /** DuckDB twin of the BQ chain ([[ssBqTopkOn]]) — one generator for
    * both ladder entries so they cannot drift: nprobe=0 emits the
    * full-compressed-scan form (ss_bq_topk), nprobe>0 prepends the
    * shared IVF train/assign chain and cuts the Hamming scan with the
    * same `qprobes` equality join the Spark side uses (ss_ivfbq_topk).
    */
  private def bqDuckSql(nprobe: Int): String = {
    val lo =
      """list_sum([CASE WHEN v[i] > 0 THEN 1::BIGINT << (i - 1)
        |               ELSE 0::BIGINT END
        |          FOR i IN generate_series(1, 32)])::BIGINT""".stripMargin
    val hi =
      """list_sum([CASE WHEN v[i + 32] > 0 THEN 1::BIGINT << (i - 1)
        |               ELSE 0::BIGINT END
        |          FOR i IN generate_series(1, 32)])::BIGINT""".stripMargin
    val head =
      if (nprobe <= 0)
        s"""WITH base AS (
           |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
           |n3 AS (
           |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
           |  FROM base),
           |code AS (
           |  SELECT vec_id, v, nrm, $lo AS lo, $hi AS hi
           |  FROM n3),""".stripMargin
      else
        s"""WITH base AS (
           |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
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
           |$ivfDuckIters,
           |assign AS (
           |  SELECT vec_id, v, nrm, cid FROM (
           |    SELECT n.vec_id, n.v, n.nrm, c.cid,
           |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
           |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
           |                        FOR i IN generate_series(1, len(n.v))])
           |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
           |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1),
           |qprobes AS (
           |  SELECT qid, cid FROM (
           |    SELECT n.vec_id AS qid, c.cid,
           |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
           |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
           |                        FOR i IN generate_series(1, len(n.v))])
           |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
           |    FROM n3 n CROSS JOIN cent$IvfIters c
           |    WHERE n.vec_id < 5) WHERE rn <= $nprobe),
           |code AS (
           |  SELECT vec_id, v, nrm, cid, $lo AS lo, $hi AS hi
           |  FROM assign),""".stripMargin
    val hamFrom =
      if (nprobe <= 0) "FROM qv q CROSS JOIN code c WHERE c.vec_id <> q.qid"
      else
        """FROM qv q JOIN qprobes p ON p.qid = q.qid
          |  JOIN code c ON c.cid = p.cid
          |  WHERE c.vec_id <> q.qid""".stripMargin
    (s"""$head
        |qv AS (
        |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm, lo AS qlo,
        |         hi AS qhi
        |  FROM code WHERE vec_id < 5),
        |ham AS (
        |  SELECT q.qid, c.vec_id AS neighbor_id,
        |         (bit_count(xor(q.qlo, c.lo))
        |          + bit_count(xor(q.qhi, c.hi)))::BIGINT AS ham
        |  $hamFrom),
        |topc AS (
        |  SELECT qid, neighbor_id, ham FROM (
        |    SELECT qid, neighbor_id, ham,
        |           ROW_NUMBER() OVER (PARTITION BY qid
        |             ORDER BY ham ASC, neighbor_id) AS rnq
        |    FROM ham) WHERE rnq <= 30),
        |resc AS (
        |  SELECT t.qid, t.neighbor_id, t.ham,
        |         ROUND(list_sum([q.qvec[i] * b.v[i]
        |                 FOR i IN generate_series(1, len(q.qvec))])
        |               / (q.qnrm * b.nrm), 6) AS cos
        |  FROM topc t
        |  JOIN qv q ON q.qid = t.qid
        |  JOIN n3 b ON b.vec_id = t.neighbor_id)
        |SELECT qid AS query_id, neighbor_id, cos, ham, rn FROM (
        |  SELECT qid, neighbor_id, cos, ham,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM resc)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin
      .replaceAll("\n", " "))
  }

  /** DuckDB twin of the RQ chain ([[ssRqTopkOn]]) — one generator for
    * both ladder entries so they cannot drift: nprobe=0 emits the
    * full-ADC calibration form (ss_rq_topk), nprobe>0 inserts the
    * same `qprobes` coarse cut + adc join the Spark side uses
    * (ss_ivfrq_topk).
    */
  private def rqDuckSql(nprobe: Int): String = {
    val probeCte =
      if (nprobe <= 0) ""
      else
        s"""qprobes AS (
           |  SELECT qid, cid FROM (
           |    SELECT n.vec_id AS qid, c.cid,
           |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
           |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
           |                        FOR i IN generate_series(1, len(n.v))])
           |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
           |    FROM n3 n CROSS JOIN cent$IvfIters c
           |    WHERE n.vec_id < 5) WHERE rn <= $nprobe),
           |""".stripMargin
    val probeJoin =
      if (nprobe <= 0) ""
      else "\n  JOIN qprobes p ON p.qid = l1.qid AND p.cid = n.cid"
    (s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
         |cent0 AS (
         |  SELECT cid, cv, cnrm FROM (
         |    SELECT (ROW_NUMBER() OVER (
         |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
         |             - 1 AS cid,
         |           v AS cv, nrm AS cnrm
         |    FROM n3) WHERE cid < 16),
         |$ivfDuckIters,
         |assign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1),
         |rres AS (
         |  SELECT a.vec_id, a.cid,
         |         [a.v[i] - c.cv[i]
         |           FOR i IN generate_series(1, len(a.v))] AS rv
         |  FROM assign a JOIN cent$IvfIters c ON c.cid = a.cid),
         |rcb0 AS (
         |  SELECT cid, rk::INT - 1 AS code, rv AS cv,
         |         list_sum([x * x FOR x IN rv]) AS cn2 FROM (
         |    SELECT cid, rv,
         |           ROW_NUMBER() OVER (PARTITION BY cid
         |             ORDER BY md5('rq42:' || vec_id::VARCHAR), vec_id)
         |             AS rk
         |    FROM rres) WHERE rk <= 16),
         |rq1 AS (
         |  SELECT vec_id, cid, rv, code FROM (
         |    SELECT r.vec_id, r.cid, r.rv, c.code,
         |           ROW_NUMBER() OVER (PARTITION BY r.vec_id
         |             ORDER BY ROUND(c.cn2
         |               - 2 * list_sum([r.rv[i] * c.cv[i]
         |                 FOR i IN generate_series(1, len(r.rv))]), 6) ASC,
         |               c.code) AS rn
         |    FROM rres r JOIN rcb0 c ON c.cid = r.cid) WHERE rn = 1),
         |rm1 AS (
         |  SELECT cid, code, g.i,
         |         ROUND((SUM((rv[g.i])::DECIMAL(27,12)))::DOUBLE
         |               / COUNT(*), 6) AS mx
         |  FROM rq1 CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY cid, code, g.i),
         |rcb1 AS (
         |  SELECT cid, code, cv, list_sum([x * x FOR x IN cv]) AS cn2
         |  FROM (
         |    SELECT cid, code, list(mx ORDER BY i) AS cv FROM rm1
         |    GROUP BY cid, code)),
         |renc AS (
         |  SELECT vec_id, cid, code FROM (
         |    SELECT r.vec_id, r.cid, c.code,
         |           ROW_NUMBER() OVER (PARTITION BY r.vec_id
         |             ORDER BY ROUND(c.cn2
         |               - 2 * list_sum([r.rv[i] * c.cv[i]
         |                 FOR i IN generate_series(1, len(r.rv))]), 6) ASC,
         |               c.code) AS rn
         |    FROM rres r JOIN rcb1 c ON c.cid = r.cid) WHERE rn = 1),
         |rnorm AS (
         |  SELECT e.vec_id, e.cid, e.code,
         |         list_sum([cc.cv[i] * cc.cv[i]
         |           FOR i IN generate_series(1, len(cc.cv))])
         |         + 2 * list_sum([cc.cv[i] * rc.cv[i]
         |           FOR i IN generate_series(1, len(cc.cv))])
         |         + rc.cn2 AS vhat2
         |  FROM renc e JOIN cent$IvfIters cc ON cc.cid = e.cid
         |              JOIN rcb1 rc ON rc.cid = e.cid
         |                          AND rc.code = e.code),
         |qv AS (
         |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm FROM n3
         |  WHERE vec_id < 5),
         |${probeCte}lut1 AS (
         |  SELECT q.qid, c.cid,
         |         list_sum([q.qvec[i] * c.cv[i]
         |           FOR i IN generate_series(1, len(q.qvec))]) AS cdot
         |  FROM qv q CROSS JOIN cent$IvfIters c),
         |lut2 AS (
         |  SELECT q.qid, c.cid, c.code,
         |         list_sum([q.qvec[i] * c.cv[i]
         |           FOR i IN generate_series(1, len(q.qvec))]) AS rdot
         |  FROM qv q CROSS JOIN rcb1 c),
         |adc AS (
         |  SELECT l1.qid, n.vec_id AS neighbor_id,
         |         ROUND((l1.cdot + l2.rdot) / (q.qnrm * sqrt(n.vhat2)), 6)
         |           AS cosq
         |  FROM rnorm n
         |  JOIN lut1 l1 ON l1.cid = n.cid$probeJoin
         |  JOIN lut2 l2 ON l2.qid = l1.qid AND l2.cid = n.cid
         |                AND l2.code = n.code
         |  JOIN qv q ON q.qid = l1.qid
         |  WHERE n.vec_id <> l1.qid),
         |topc AS (
         |  SELECT qid, neighbor_id, cosq FROM (
         |    SELECT qid, neighbor_id, cosq,
         |           ROW_NUMBER() OVER (PARTITION BY qid
         |             ORDER BY cosq DESC, neighbor_id) AS rnq
         |    FROM adc) WHERE rnq <= 30),
         |resc AS (
         |  SELECT t.qid, t.neighbor_id, t.cosq,
         |         ROUND(list_sum([q.qvec[i] * b.v[i]
         |                 FOR i IN generate_series(1, len(q.qvec))])
         |               / (q.qnrm * b.nrm), 6) AS cos
         |  FROM topc t
         |  JOIN qv q ON q.qid = t.qid
         |  JOIN n3 b ON b.vec_id = t.neighbor_id)
         |SELECT qid AS query_id, neighbor_id, cos, cosq, rn FROM (
         |  SELECT qid, neighbor_id, cos, cosq,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM resc)
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin
      .replaceAll("\n", " "))
  }

  private val oracleSqlBase: Map[String, String] = Map(
    "ss_power" -> ssPowerOracle,
    "ss_dimvar" ->
      ("WITH comp AS (SELECT u.pos - 1 AS dim, u.x::DOUBLE AS x " +
        "FROM embeddings, " +
        "LATERAL (SELECT unnest(embedding) AS x, " +
        "generate_subscripts(embedding, 1) AS pos) u), " +
        "a AS (SELECT dim, COUNT(*) AS n, " +
        "SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS s, " +
        "SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS sq, " +
        "SUM(CASE WHEN ABS(x) > 0.000001 THEN 1 ELSE 0 END) AS n_act " +
        "FROM comp GROUP BY dim) " +
        "SELECT dim, n, ROUND(s::DOUBLE / n, 6) AS mean, " +
        "ROUND(sq::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n), 6) " +
        "AS variance, " +
        "ROUND(n_act::DOUBLE / n, 6) AS active_frac " +
        "FROM a ORDER BY dim"),
    "ss_quanterr" ->
      """WITH base AS (
        |  SELECT vec_id, label, [x::DOUBLE FOR x IN embedding] AS v
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, label, v,
        |         [round(x * 127 / list_max([abs(y) FOR y IN v]))::DOUBLE
        |          FOR x IN v] AS q
        |  FROM base
        |  WHERE list_max([abs(y) FOR y IN v]) > 0),
        |sc AS (
        |  SELECT vec_id, label,
        |         ROUND(list_sum([v[i] * q[i]
        |                         FOR i IN generate_series(1, len(v))])
        |               / (sqrt(list_sum([x * x FOR x IN v]))
        |                  * sqrt(list_sum([x * x FOR x IN q]))), 6) AS cos
        |  FROM qv)
        |SELECT label, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_cos,
        |       MIN(cos) AS min_cos
        |FROM sc GROUP BY label ORDER BY label"""
        .stripMargin.replaceAll("\n", " "),
    "ss_silhouette" ->
      """WITH base AS (
        |  SELECT vec_id, label, [x::DOUBLE FOR x IN embedding] AS v
        |  FROM embeddings),
        |comp AS (
        |  SELECT label, u.pos AS dim, u.x::DOUBLE AS x
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(embedding) AS x,
        |                       generate_subscripts(embedding, 1) AS pos) u),
        |sums AS (
        |  SELECT label, dim, SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS sx
        |  FROM comp GROUP BY label, dim),
        |cent AS (
        |  SELECT label AS clabel, cv,
        |         sqrt(list_sum([c * c FOR c IN cv])) AS cnrm FROM (
        |    SELECT label, list(sx::DOUBLE ORDER BY dim) AS cv
        |    FROM sums GROUP BY label)),
        |scored AS (
        |  SELECT b.vec_id, b.label, c.clabel,
        |         ROUND(list_sum([b.v[i] * c.cv[i]
        |                         FOR i IN generate_series(1, len(b.v))])
        |               / (sqrt(list_sum([x * x FOR x IN b.v])) * c.cnrm), 6)
        |           AS cos
        |  FROM base b CROSS JOIN cent c),
        |own AS (
        |  SELECT vec_id, label, cos AS own_cos FROM scored
        |  WHERE clabel = label),
        |other AS (
        |  SELECT vec_id, cos AS other_cos FROM (
        |    SELECT vec_id, cos, ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY cos DESC, clabel) AS rn
        |    FROM scored WHERE clabel <> label) WHERE rn = 1),
        |sil AS (
        |  SELECT o.vec_id, o.label,
        |         CASE WHEN GREATEST(1 - own_cos, 1 - other_cos) = 0
        |              THEN CAST(0 AS DOUBLE)
        |              ELSE ROUND((own_cos - other_cos)
        |                         / GREATEST(1 - own_cos, 1 - other_cos), 6)
        |         END AS sil
        |  FROM own o JOIN other t ON t.vec_id = o.vec_id)
        |SELECT label, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(sil AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_sil,
        |       SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END)::BIGINT AS n_neg
        |FROM sil GROUP BY label ORDER BY label"""
        .stripMargin.replaceAll("\n", " "),
    "ss_labelsep" ->
      """WITH base AS (
        |  SELECT vec_id, label, [x::DOUBLE FOR x IN embedding] AS v
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, label, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
        |  FROM base),
        |lagged AS (
        |  SELECT vec_id, label, v, nrm, unnest([1, 7, 29]) AS lag
        |  FROM norms),
        |pairs AS (
        |  SELECT a.label = b.label AS same_label,
        |         ROUND(list_sum([a.v[i] * b.v[i]
        |                 FOR i IN generate_series(1, len(a.v))])
        |               / (a.nrm * b.nrm), 6) AS cos
        |  FROM lagged a JOIN norms b ON b.vec_id = a.vec_id + a.lag)
        |SELECT same_label, COUNT(*) AS n_pairs,
        |       ROUND((SUM(CAST(ROUND(cos, 9) AS DECIMAL(28,9))))::DOUBLE
        |             / COUNT(*), 6) AS mean_cos
        |FROM pairs GROUP BY same_label ORDER BY same_label""".stripMargin
        .replaceAll("\n", " "),
    "ss_outliers" ->
      """WITH comp AS (
        |  SELECT vec_id, label, u.pos AS dim, u.x::DOUBLE AS x
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(embedding) AS x,
        |                       generate_subscripts(embedding, 1) AS pos) u),
        |cent AS (
        |  SELECT label, dim,
        |         (SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))))::DOUBLE AS cx
        |  FROM comp GROUP BY label, dim),
        |cc AS (
        |  SELECT label, SUM(CAST(ROUND(cx * cx, 9) AS DECIMAL(38,9))) AS scc
        |  FROM cent GROUP BY label),
        |vd AS (
        |  SELECT c.vec_id, c.label,
        |         SUM(CAST(ROUND(c.x * ct.cx, 9) AS DECIMAL(38,9))) AS svc,
        |         SUM(CAST(ROUND(c.x * c.x, 9) AS DECIMAL(38,9))) AS svv
        |  FROM comp c JOIN cent ct ON ct.label = c.label AND ct.dim = c.dim
        |  GROUP BY c.vec_id, c.label),
        |scored AS (
        |  SELECT v.label, v.vec_id,
        |         ROUND(v.svc::DOUBLE
        |               / (sqrt(v.svv::DOUBLE) * sqrt(cc.scc::DOUBLE)), 6)
        |           AS cos
        |  FROM vd v JOIN cc ON cc.label = v.label)
        |SELECT label, vec_id, cos, rn FROM (
        |  SELECT label, vec_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY label
        |           ORDER BY cos ASC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 3 ORDER BY label, rn""".stripMargin
        .replaceAll("\n", " "),
    "ss_coshist" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |norms AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
        |  FROM base),
        |lagged AS (
        |  SELECT vec_id, v, nrm, unnest([1, 7, 29]) AS lag FROM norms),
        |pairs AS (
        |  SELECT ROUND(list_sum([a.v[i] * b.v[i]
        |           FOR i IN generate_series(1, len(a.v))])
        |         / (a.nrm * b.nrm), 6) AS cos
        |  FROM lagged a JOIN norms b ON b.vec_id = a.vec_id + a.lag)
        |SELECT floor(cos * 20)::INT AS bucket, COUNT(*) AS n_pairs,
        |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
        |FROM pairs GROUP BY 1 ORDER BY bucket""".stripMargin
        .replaceAll("\n", " "),
    "ss_matryoshka" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v,
        |         [x::DOUBLE FOR x IN embedding[1:16]] AS p FROM embeddings),
        |norms AS (
        |  SELECT vec_id, v, p, sqrt(list_sum([x * x FOR x IN v])) AS nv,
        |         sqrt(list_sum([x * x FOR x IN p])) AS np FROM base),
        |sf AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))])
        |               / (q.nv * c.nv), 6) AS cos
        |  FROM norms q JOIN norms c
        |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |sp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.p[i] * c.p[i]
        |                 FOR i IN generate_series(1, len(q.p))])
        |               / (q.np * c.np), 6) AS cos
        |  FROM norms q JOIN norms c
        |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |tf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM sf) WHERE rn <= 5),
        |tp AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM sp) WHERE rn <= 5)
        |SELECT f.query_id, COUNT(*) AS n_full,
        |       COUNT(p.neighbor_id) AS n_hit,
        |       ROUND(COUNT(p.neighbor_id)::DOUBLE / COUNT(*), 6) AS overlap
        |FROM tf f LEFT JOIN tp p
        |  ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
        |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin
        .replaceAll("\n", " "),
    "ss_maxsim" -> maxSimDuck,
    "ss_knn_graph" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |norms AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
        |  FROM base),
        |scored AS (
        |  SELECT q.vec_id AS a, c.vec_id AS b,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))])
        |               / (q.nrm * c.nrm), 6) AS cos
        |  FROM norms q JOIN norms c ON c.vec_id <> q.vec_id),
        |topk AS (
        |  SELECT a, b, cos, rn FROM (
        |    SELECT a, b, cos,
        |           ROW_NUMBER() OVER (PARTITION BY a
        |             ORDER BY cos DESC, b) AS rn
        |    FROM scored)
        |  WHERE rn <= 5)
        |SELECT x.a AS vec_a, x.b AS vec_b, x.cos,
        |       x.rn AS rank_ab, y.rn AS rank_ba
        |FROM topk x JOIN topk y ON y.a = x.b AND y.b = x.a
        |WHERE x.a < x.b
        |ORDER BY vec_a, vec_b""".stripMargin.replaceAll("\n", " "),
    "ss_ivfpq_topk" ->
      s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
         |cent0 AS (
         |  SELECT cid, cv, cnrm FROM (
         |    SELECT (ROW_NUMBER() OVER (
         |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
         |             - 1 AS cid,
         |           v AS cv, nrm AS cnrm
         |    FROM n3) WHERE cid < 16),
         |$ivfDuckIters,
         |assign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1),
         |sub AS (
         |  SELECT vec_id, g.m, v[(g.m*8+1):(g.m*8+8)] AS sv
         |  FROM n3 CROSS JOIN generate_series(0, 7) g(m)),
         |seedranked AS (
         |  SELECT (ROW_NUMBER() OVER (
         |           ORDER BY md5('pq42:' || vec_id::VARCHAR), vec_id))::INT - 1
         |           AS code, v
         |  FROM n3),
         |cb0 AS (
         |  SELECT g.m, code, v[(g.m*8+1):(g.m*8+8)] AS cv
         |  FROM seedranked CROSS JOIN generate_series(0, 7) g(m)
         |  WHERE code < 16),
         |pqa1 AS (
         |  SELECT vec_id, m, sv, code FROM (
         |    SELECT u.vec_id, u.m, u.sv, c.code,
         |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
         |             ORDER BY ROUND(
         |               list_sum([c.cv[i] * c.cv[i]
         |                 FOR i IN generate_series(1, len(c.cv))])
         |               - 2 * list_sum([u.sv[i] * c.cv[i]
         |                 FOR i IN generate_series(1, len(u.sv))]), 6) ASC,
         |               c.code) AS rn
         |    FROM sub u JOIN cb0 c ON c.m = u.m) WHERE rn = 1),
         |pqm1 AS (
         |  SELECT m, code, g.i,
         |         ROUND((SUM((sv[g.i])::DECIMAL(27,12)))::DOUBLE
         |               / COUNT(*), 6) AS mx
         |  FROM pqa1 CROSS JOIN generate_series(1, 8) g(i)
         |  GROUP BY m, code, g.i),
         |cb1 AS (
         |  SELECT m, code, cv, list_sum([x * x FOR x IN cv]) AS cn2 FROM (
         |    SELECT m, code, list(mx ORDER BY i) AS cv FROM pqm1
         |    GROUP BY m, code)),
         |enc AS (
         |  SELECT vec_id, m, code FROM (
         |    SELECT u.vec_id, u.m, c.code,
         |           ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.m
         |             ORDER BY ROUND(c.cn2
         |               - 2 * list_sum([u.sv[i] * c.cv[i]
         |                 FOR i IN generate_series(1, len(u.sv))]), 6) ASC,
         |               c.code) AS rn
         |    FROM sub u JOIN cb1 c ON c.m = u.m) WHERE rn = 1),
         |recn AS (
         |  SELECT e.vec_id,
         |         (SUM(CAST(ROUND(c.cn2, 9) AS DECIMAL(28,9))))::DOUBLE AS rn2
         |  FROM enc e JOIN cb1 c ON c.m = e.m AND c.code = e.code
         |  GROUP BY e.vec_id),
         |qv AS (
         |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm FROM n3
         |  WHERE vec_id < 5),
         |qprobes AS (
         |  SELECT qid, cid FROM (
         |    SELECT n.vec_id AS qid, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c
         |    WHERE n.vec_id < 5) WHERE rn <= 2),
         |lut AS (
         |  SELECT q.qid, c.m, c.code,
         |         list_sum([q.qvec[c.m*8 + i] * c.cv[i]
         |           FOR i IN generate_series(1, len(c.cv))]) AS pdot
         |  FROM qv q CROSS JOIN cb1 c),
         |adc AS (
         |  SELECT l.qid, e.vec_id AS neighbor_id,
         |         (SUM(CAST(ROUND(l.pdot, 9) AS DECIMAL(28,9))))::DOUBLE
         |           AS adot
         |  FROM enc e
         |  JOIN assign s2 ON s2.vec_id = e.vec_id
         |  JOIN qprobes p ON p.cid = s2.cid
         |  JOIN lut l ON l.qid = p.qid AND l.m = e.m AND l.code = e.code
         |  WHERE e.vec_id <> l.qid
         |  GROUP BY l.qid, e.vec_id),
         |cand AS (
         |  SELECT a.qid, a.neighbor_id,
         |         ROUND(a.adot / (q.qnrm * sqrt(r.rn2)), 6) AS cosq
         |  FROM adc a
         |  JOIN qv q ON q.qid = a.qid
         |  JOIN recn r ON r.vec_id = a.neighbor_id),
         |topc AS (
         |  SELECT qid, neighbor_id, cosq FROM (
         |    SELECT qid, neighbor_id, cosq,
         |           ROW_NUMBER() OVER (PARTITION BY qid
         |             ORDER BY cosq DESC, neighbor_id) AS rnq
         |    FROM cand) WHERE rnq <= 30),
         |res AS (
         |  SELECT t.qid, t.neighbor_id, t.cosq,
         |         ROUND(list_sum([q.qvec[i] * b.v[i]
         |                 FOR i IN generate_series(1, len(q.qvec))])
         |               / (q.qnrm * b.nrm), 6) AS cos
         |  FROM topc t
         |  JOIN qv q ON q.qid = t.qid
         |  JOIN n3 b ON b.vec_id = t.neighbor_id)
         |SELECT qid AS query_id, neighbor_id, cos, cosq, rn FROM (
         |  SELECT qid, neighbor_id, cos, cosq,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM res)
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "),
    "ss_rq_topk" -> rqDuckSql(0),
    "ss_ivfrq_topk" -> rqDuckSql(2),
    "ss_opq_topk" ->
      (s"""WITH base0 AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v0
         |  FROM embeddings),
         |dvar AS (
         |  SELECT (g.i - 1) AS i,
         |         ROUND((SUM((v0[g.i] * v0[g.i])::DECIMAL(27,12)))::DOUBLE
         |                 / COUNT(*)
         |               - ((SUM((v0[g.i])::DECIMAL(27,12)))::DOUBLE
         |                  / COUNT(*))
         |                 * ((SUM((v0[g.i])::DECIMAL(27,12)))::DOUBLE
         |                    / COUNT(*)), 9) AS vr
         |  FROM base0 CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY g.i),
         |ranked AS (
         |  SELECT i, (ROW_NUMBER() OVER (ORDER BY vr DESC, i))::INT - 1
         |              AS r
         |  FROM dvar),
         |mapped AS (
         |  SELECT i,
         |         CASE WHEN (r // 8) % 2 = 0 THEN r % 8
         |              ELSE 8 - 1 - (r % 8) END AS grp,
         |         r // 8 AS blk
         |  FROM ranked),
         |perm AS (
         |  SELECT list(i ORDER BY grp, blk) AS pm FROM mapped),
         |base AS (
         |  SELECT b.vec_id, [b.v0[ii + 1] FOR ii IN p.pm] AS v
         |  FROM base0 b CROSS JOIN perm p),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
         |  FROM base),
         |$duckPqBody""".stripMargin
        .replaceAll("\n", " ")),
    "ss_pq_topk" ->
      (s"""WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |n3 AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
        |$duckPqBody""".stripMargin).replaceAll("\n", " "),
    "ss_range" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |norms AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base)
        |SELECT query_id, neighbor_id, cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))])
        |               / (q.nrm * c.nrm), 6) AS cos
        |  FROM norms q JOIN norms c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE cos >= 0.2
        |ORDER BY query_id, cos DESC, neighbor_id""".stripMargin
        .replaceAll("\n", " "),
    "ss_norms" ->
      """WITH n AS (
        |  SELECT label,
        |         ROUND(sqrt(list_sum([x * x FOR x IN v])), 6) AS nrm,
        |         CAST(ROUND(sqrt(list_sum([x * x FOR x IN v])), 9)
        |           AS DECIMAL(28,9)) AS nrm9
        |  FROM (SELECT label, [x::DOUBLE FOR x IN embedding] AS v
        |        FROM embeddings))
        |SELECT label, COUNT(*) AS n, MIN(nrm) AS min_nrm, MAX(nrm) AS max_nrm,
        |       ROUND(CAST(SUM(nrm9) AS DOUBLE) / COUNT(*), 6) AS mean_nrm
        |FROM n GROUP BY label ORDER BY label""".stripMargin
        .replaceAll("\n", " "),
    "ss_centroids" ->
      s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
         |cent0 AS (
         |  SELECT cid, cv, cnrm FROM (
         |    SELECT (ROW_NUMBER() OVER (
         |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
         |             - 1 AS cid,
         |           v AS cv, nrm AS cnrm
         |    FROM n3) WHERE cid < 16),
         |$ivfDuckIters,
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1)
         |SELECT c.cid, COUNT(a.vec_id) AS n_members,
         |       ROUND(c.cnrm, 6) AS cnrm
         |FROM cent$IvfIters c LEFT JOIN assign a ON a.cid = c.cid
         |GROUP BY c.cid, c.cnrm ORDER BY c.cid""".stripMargin
        .replaceAll("\n", " "),
    "ss_inertia" ->
      s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
         |cent0 AS (
         |  SELECT cid, cv, cnrm FROM (
         |    SELECT (ROW_NUMBER() OVER (
         |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
         |             - 1 AS cid,
         |           v AS cv, nrm AS cnrm
         |    FROM n3) WHERE cid < 16),
         |$ivfDuckIters,
         |assign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1),
         |wc AS (
         |  SELECT a.cid, COUNT(*) AS n,
         |         SUM(CAST(ROUND(list_sum([a.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(a.v))])
         |                        / (a.nrm * c.cnrm), 9)
         |                  AS DECIMAL(28,9))) AS s
         |  FROM assign a JOIN cent$IvfIters c ON c.cid = a.cid
         |  GROUP BY a.cid),
         |cc AS (
         |  SELECT cid, nn_cid, between_cos FROM (
         |    SELECT a.cid, b.cid AS nn_cid,
         |           ROUND(list_sum([a.cv[i] * b.cv[i]
         |                  FOR i IN generate_series(1, len(a.cv))])
         |                 / (a.cnrm * b.cnrm), 6) AS between_cos,
         |           ROW_NUMBER() OVER (PARTITION BY a.cid
         |             ORDER BY ROUND(list_sum([a.cv[i] * b.cv[i]
         |                        FOR i IN generate_series(1, len(a.cv))])
         |                      / (a.cnrm * b.cnrm), 6) DESC, b.cid) AS rn
         |    FROM cent$IvfIters a JOIN cent$IvfIters b ON b.cid <> a.cid)
         |  WHERE rn = 1)
         |SELECT w.cid, w.n AS n_members,
         |       ROUND(s::DOUBLE / w.n, 6) AS within_cos,
         |       c.nn_cid, c.between_cos
         |FROM wc w JOIN cc c ON c.cid = w.cid
         |ORDER BY w.cid""".stripMargin.replaceAll("\n", " "),
    "ss_drift" ->
      """WITH comp AS (
        |  SELECT label, vec_id % 2 AS half, u.pos AS dim,
        |         u.x::DOUBLE AS x
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(embedding) AS x,
        |                       generate_subscripts(embedding, 1) AS pos) u),
        |sums AS (
        |  SELECT label, half, dim,
        |         SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS sx
        |  FROM comp GROUP BY label, half, dim),
        |n AS (
        |  SELECT label, vec_id % 2 AS half, COUNT(*) AS n
        |  FROM embeddings GROUP BY label, vec_id % 2),
        |pairs AS (
        |  SELECT a.label, a.dim, a.sx::DOUBLE AS xa, b.sx::DOUBLE AS xb
        |  FROM (SELECT * FROM sums WHERE half = 0) a
        |  JOIN (SELECT * FROM sums WHERE half = 1) b
        |    ON b.label = a.label AND b.dim = a.dim),
        |dots AS (
        |  SELECT label,
        |         SUM(CAST(ROUND(xa * xb, 9) AS DECIMAL(38,9))) AS sab,
        |         SUM(CAST(ROUND(xa * xa, 9) AS DECIMAL(38,9))) AS saa,
        |         SUM(CAST(ROUND(xb * xb, 9) AS DECIMAL(38,9))) AS sbb
        |  FROM pairs GROUP BY label)
        |SELECT d.label, na.n AS n_a, nb.n AS n_b,
        |       ROUND(d.sab::DOUBLE /
        |             (sqrt(d.saa::DOUBLE) * sqrt(d.sbb::DOUBLE)), 6)
        |         AS centroid_cos
        |FROM dots d
        |JOIN n na ON na.label = d.label AND na.half = 0
        |JOIN n nb ON nb.label = d.label AND nb.half = 1
        |ORDER BY d.label""".stripMargin.replaceAll("\n", " "),
    "ss_hardneg" ->
      """WITH norms AS (
        |  SELECT vec_id, label, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
        |  FROM (SELECT vec_id, label, [x::DOUBLE FOR x IN embedding] AS v
        |        FROM embeddings)),
        |scored AS (
        |  SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
        |         c.vec_id AS neg_id, c.label AS neg_label,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))])
        |               / (q.nrm * c.nrm), 6) AS cos
        |  FROM (SELECT * FROM norms WHERE vec_id < 5) q
        |  JOIN norms c ON c.label <> q.label)
        |SELECT anchor_id, anchor_label, neg_id, neg_label, cos, rn FROM (
        |  SELECT anchor_id, anchor_label, neg_id, neg_label, cos,
        |         ROW_NUMBER() OVER (PARTITION BY anchor_id
        |           ORDER BY cos DESC, neg_id) AS rn
        |  FROM scored)
        |WHERE rn <= 3 ORDER BY anchor_id, rn""".stripMargin
        .replaceAll("\n", " "),
    "ss_hybrid" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest([toks[i] || ' ' || toks[i + 1]
        |                 FOR i IN generate_series(1, len(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
        |         COUNT(*) AS i
        |  FROM sh a JOIN sh b ON b.sh = a.sh AND b.doc_id <> a.doc_id
        |  WHERE a.doc_id < 5 GROUP BY a.doc_id, b.doc_id),
        |lexk AS (
        |  SELECT query_id, neighbor_id, lr FROM (
        |    SELECT i.query_id, i.neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY i.query_id
        |             ORDER BY i.i::DOUBLE / (ca.n + cb.n - i.i) DESC,
        |                      i.neighbor_id) AS lr
        |    FROM inter i JOIN cnt ca ON ca.doc_id = i.query_id
        |                 JOIN cnt cb ON cb.doc_id = i.neighbor_id)
        |  WHERE lr <= 10),
        |norms AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
        |  FROM (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v
        |        FROM embeddings)),
        |sem AS (
        |  SELECT query_id, neighbor_id, rn AS sr FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                 ROUND(list_sum([q.v[i] * c.v[i]
        |                         FOR i IN generate_series(1, len(q.v))])
        |                       / (q.nrm * c.nrm), 6) AS cos
        |          FROM (SELECT * FROM norms WHERE vec_id < 5) q
        |          JOIN norms c ON c.vec_id <> q.vec_id))
        |  WHERE rn <= 10),
        |fused AS (
        |  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
        |         COALESCE(l.neighbor_id, s.neighbor_id) AS neighbor_id,
        |         l.lr, s.sr,
        |         COALESCE(1::DOUBLE / (60 + l.lr), 0::DOUBLE) +
        |         COALESCE(1::DOUBLE / (60 + s.sr), 0::DOUBLE) AS rrf
        |  FROM lexk l FULL OUTER JOIN sem s
        |    ON s.query_id = l.query_id AND s.neighbor_id = l.neighbor_id)
        |SELECT query_id, neighbor_id, lr, sr, ROUND(rrf, 6) AS rrf, rrf_rank
        |FROM (
        |  SELECT query_id, neighbor_id, lr, sr, rrf,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY rrf DESC, neighbor_id) AS rrf_rank
        |  FROM fused)
        |WHERE rrf_rank <= 10 ORDER BY query_id, rrf_rank""".stripMargin
        .replaceAll("\n", " "),
    "ss_recall" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |sig AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm,
        |         list_sum([CASE WHEN list_sum([v[i] *
        |             (CASE WHEN (strpos('0123456789abcdef',
        |                    substr(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 1)
        |                   % 2 = 0
        |                   THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)
        |             FOR i IN generate_series(1, len(v))]) > 0
        |           THEN 1 << j ELSE 0 END
        |           FOR j IN generate_series(0, 7)])::INT AS bucket
        |  FROM base),
        |lsh AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                 ROUND(list_sum([q.v[i] * c.v[i]
        |                         FOR i IN generate_series(1, len(q.v))])
        |                       / (q.nrm * c.nrm), 6) AS cos
        |          FROM sig q JOIN sig c
        |            ON bit_count(xor(q.bucket::BIGINT, c.bucket::BIGINT)) <= 1
        |           AND q.vec_id < 20 AND c.vec_id <> q.vec_id))
        |  WHERE rn <= 5),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                 ROUND(list_sum([q.v[i] * c.v[i]
        |                         FOR i IN generate_series(1, len(q.v))])
        |                       / (q.nrm * c.nrm), 6) AS cos
        |          FROM sig q JOIN sig c
        |            ON q.vec_id < 20 AND c.vec_id <> q.vec_id))
        |  WHERE rn <= 5)
        |SELECT ex.query_id, COUNT(*) AS n_exact,
        |       COUNT(l.neighbor_id) AS n_hit,
        |       ROUND(COUNT(l.neighbor_id)::DOUBLE / COUNT(*), 6) AS recall
        |FROM ex LEFT JOIN lsh l
        |  ON l.query_id = ex.query_id AND l.neighbor_id = ex.neighbor_id
        |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
        .replaceAll("\n", " "),
    "ss_l2_topk" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |norms AS (
        |  SELECT vec_id, v, list_sum([x * x FOR x IN v]) AS n2 FROM base),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(q.n2 + c.n2 - 2 * list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))]), 6) AS d2
        |  FROM norms q JOIN norms c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, d2, rn FROM (
        |  SELECT query_id, neighbor_id, d2,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY d2 ASC, neighbor_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "),
    "ss_cosine_topk" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |norms AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))])
        |               / (q.nrm * c.nrm), 6) AS cos
        |  FROM norms q JOIN norms c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos, rn FROM (
        |  SELECT query_id, neighbor_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "),
    "ss_kmeanspp" -> {
      // statically unrolled D²-sampling: f = the argmin-digest uniform
      // first center, p_t = the round-t Gumbel-max pick (an exact ∝-D²
      // sample under the fixed md5 draw family), c_t = survivors with
      // the incrementally-min'd d2
      def dot(a: String, b: String) =
        s"list_sum([$a.v[i] * $b.v[i] FOR i IN generate_series(1, len($a.v))])"
      def d2(c: String, p: String) =
        s"ROUND($c.vv - 2 * ${dot(c, p)} + $p.vv, 9)"
      def gumbel(t: Int) =
        s"""ROUND(-ln(-ln(ROUND((('0x' || substr(md5('kpp$t:' ||
           |  vec_id::VARCHAR), 1, 15))::BIGINT + 0.5)
           |  / 1152921504606846976.0, 9))), 9)""".stripMargin
      val rounds = (2 to 8).map { t =>
        val prev = if (t == 2) "c1" else s"c${t - 1}"
        s"""p$t AS (SELECT vec_id, v, vv, d2 FROM (
           |  SELECT vec_id, v, vv, d2,
           |         ROUND(ln(d2) + ${gumbel(t)}, 9) AS sc
           |  FROM $prev WHERE d2 > 0)
           |  ORDER BY sc DESC, vec_id LIMIT 1),
           |c$t AS (SELECT c.vec_id, c.v, c.vv,
           |  LEAST(c.d2, ${d2("c", "p")}) AS d2
           |  FROM $prev c CROSS JOIN p$t p WHERE c.vec_id <> p.vec_id)""".stripMargin
      }.mkString(",\n")
      val picks = (2 to 8).map(t =>
        s"SELECT $t::BIGINT AS rank, vec_id, d2 FROM p$t")
        .mkString("\nUNION ALL ")
      s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v
         |  FROM embeddings),
         |n2 AS (
         |  SELECT vec_id, v,
         |         ROUND(list_sum([x * x FOR x IN v]), 9) AS vv FROM base),
         |f AS (SELECT vec_id, v, vv FROM (
         |  SELECT vec_id, v, vv, md5('kpp0:' || vec_id::VARCHAR) AS h
         |  FROM n2) ORDER BY h, vec_id LIMIT 1),
         |c1 AS (SELECT c.vec_id, c.v, c.vv, ${d2("c", "f")} AS d2
         |       FROM n2 c CROSS JOIN f WHERE c.vec_id <> f.vec_id),
         |$rounds
         |SELECT 1::BIGINT AS rank, vec_id, 0.0::DOUBLE AS d2 FROM f
         |UNION ALL $picks
         |ORDER BY rank""".stripMargin.replaceAll("\n", " ")
    },
    "ss_mmr" -> {
      // statically unrolled greedy: p_t = the round-t argmax, c_t = the
      // survivors with the incrementally-updated max-sim column. The
      // (1-λ) literal is printed FROM the Scala double so both engines
      // subtract the identical IEEE value.
      val l = 0.7
      val om = 1 - l
      def dot(a: String, b: String) =
        s"list_sum([$a.v[i] * $b.v[i] FOR i IN generate_series(1, len($a.v))])"
      val rounds = (1 to 8).map { t =>
        s"""p$t AS (SELECT vec_id, v, nrm, rel, ms,
           |  ROUND($l * rel - $om * ms, 6) AS score
           |  FROM c${t - 1} ORDER BY score DESC, vec_id LIMIT 1),
           |c$t AS (SELECT c.vec_id, c.v, c.nrm, c.rel,
           |  GREATEST(c.ms, ROUND(${dot("c", "p")} / (c.nrm * p.nrm), 6))
           |    AS ms
           |  FROM c${t - 1} c CROSS JOIN p$t p
           |  WHERE c.vec_id <> p.vec_id)""".stripMargin
      }.mkString(",\n")
      val picks = (1 to 8).map(t =>
        s"SELECT $t::BIGINT AS rank, vec_id, rel, score FROM p$t")
        .mkString("\nUNION ALL ")
      s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v
         |  FROM embeddings),
         |norms AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
         |  FROM base),
         |c0 AS (
         |  SELECT c.vec_id, c.v, c.nrm,
         |         ROUND(${dot("c", "q")} / (c.nrm * q.nrm), 6) AS rel,
         |         0.0::DOUBLE AS ms
         |  FROM norms c CROSS JOIN (SELECT * FROM norms WHERE vec_id = 0) q
         |  WHERE c.vec_id <> 0),
         |$rounds
         |$picks
         |ORDER BY rank""".stripMargin.replaceAll("\n", " ")
    },
    "ss_mips" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))]), 6) AS ip
        |  FROM base q JOIN base c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, ip, rn FROM (
        |  SELECT query_id, neighbor_id, ip,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY ip DESC, neighbor_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "),
    "ss_rp_topk" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |n3 AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm
        |  FROM base),
        |sm AS (
        |  SELECT ii.i, jj.j,
        |         CASE WHEN substring(md5('rp42:' || ii.i::VARCHAR || ':'
        |                     || jj.j::VARCHAR), 1, 1) < '8'
        |              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS sg
        |  FROM (SELECT unnest(generate_series(0, 63)) AS i) ii
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) jj),
        |px AS (
        |  SELECT e.vec_id, s.j,
        |         ROUND((SUM((e.x * s.sg)::DECIMAL(27,12)))::DOUBLE, 6) AS p
        |  FROM (SELECT vec_id, g.i - 1 AS i, v[g.i] AS x
        |        FROM n3 CROSS JOIN generate_series(1, 64) g(i)) e
        |  JOIN sm s ON s.i = e.i
        |  GROUP BY e.vec_id, s.j),
        |pv AS (
        |  SELECT vec_id, list(p ORDER BY j) AS pv FROM px GROUP BY vec_id),
        |pn AS (
        |  SELECT vec_id, pv, sqrt(list_sum([x * x FOR x IN pv])) AS pnrm
        |  FROM pv),
        |qp AS (
        |  SELECT p.vec_id AS qid, p.pv AS qpv, p.pnrm AS qpnrm,
        |         n.v AS qvec, n.nrm AS qnrm
        |  FROM (SELECT * FROM pn WHERE vec_id < 5) p
        |  JOIN n3 n ON n.vec_id = p.vec_id),
        |cand AS (
        |  SELECT q.qid, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.qpv[i] * c.pv[i]
        |                 FOR i IN generate_series(1, len(q.qpv))])
        |               / (q.qpnrm * c.pnrm), 6) AS cosp
        |  FROM qp q CROSS JOIN pn c WHERE c.vec_id <> q.qid),
        |topc AS (
        |  SELECT qid, neighbor_id, cosp FROM (
        |    SELECT qid, neighbor_id, cosp,
        |           ROW_NUMBER() OVER (PARTITION BY qid
        |             ORDER BY cosp DESC, neighbor_id) AS rnq
        |    FROM cand) WHERE rnq <= 30),
        |resc AS (
        |  SELECT t.qid, t.neighbor_id, t.cosp,
        |         ROUND(list_sum([q.qvec[i] * b.v[i]
        |                 FOR i IN generate_series(1, len(q.qvec))])
        |               / (q.qnrm * b.nrm), 6) AS cos
        |  FROM topc t
        |  JOIN qp q ON q.qid = t.qid
        |  JOIN n3 b ON b.vec_id = t.neighbor_id)
        |SELECT qid AS query_id, neighbor_id, cos, cosp, rn FROM (
        |  SELECT qid, neighbor_id, cos, cosp,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM resc)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin
        .replaceAll("\n", " "),
    "ss_bq_topk" -> bqDuckSql(0),
    "ss_ivfbq_topk" -> bqDuckSql(2),
    "ss_sq_topk" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |qv AS (
        |  SELECT vec_id, v,
        |         [round(x * 127 / list_max([abs(y) FOR y IN v]))::DOUBLE
        |          FOR x IN v] AS q
        |  FROM base),
        |qn AS (
        |  SELECT vec_id, v, q, sqrt(list_sum([x * x FOR x IN v])) AS nrm,
        |         sqrt(list_sum([x * x FOR x IN q])) AS qnrm
        |  FROM qv),
        |cand AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         ROUND(list_sum([a.q[i] * b.q[i]
        |                 FOR i IN generate_series(1, len(a.q))])
        |               / (a.qnrm * b.qnrm), 6) AS cosq
        |  FROM qn a JOIN qn b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
        |topc AS (
        |  SELECT query_id, neighbor_id, cosq FROM (
        |    SELECT query_id, neighbor_id, cosq,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY cosq DESC, neighbor_id) AS rnq
        |    FROM cand) WHERE rnq <= 30),
        |res AS (
        |  SELECT t.query_id, t.neighbor_id, t.cosq,
        |         ROUND(list_sum([qa.v[i] * qb.v[i]
        |                 FOR i IN generate_series(1, len(qa.v))])
        |               / (qa.nrm * qb.nrm), 6) AS cos
        |  FROM topc t
        |  JOIN qn qa ON qa.vec_id = t.query_id
        |  JOIN qn qb ON qb.vec_id = t.neighbor_id)
        |SELECT query_id, neighbor_id, cos, cosq, rn FROM (
        |  SELECT query_id, neighbor_id, cos, cosq,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM res)
        |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "),
    "ss_lsh_ann" ->
      // multiprobe ≤1 expressed as bit_count(xor) <= 1 — identical to the
      // probe-list formulation (a query's probes are exactly the buckets
      // at Hamming distance ≤ 1 from its own)
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
        |sig AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm,
        |         list_sum([CASE WHEN list_sum([v[i] *
        |             (CASE WHEN (strpos('0123456789abcdef',
        |                    substr(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 1)
        |                   % 2 = 0
        |                   THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)
        |             FOR i IN generate_series(1, len(v))]) > 0
        |           THEN 1 << j ELSE 0 END
        |           FOR j IN generate_series(0, 7)])::INT AS bucket
        |  FROM base),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_sum([q.v[i] * c.v[i]
        |                 FOR i IN generate_series(1, len(q.v))])
        |               / (q.nrm * c.nrm), 6) AS cos
        |  FROM sig q JOIN sig c
        |    ON bit_count(xor(q.bucket::BIGINT, c.bucket::BIGINT)) <= 1
        |   AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos, rn FROM (
        |  SELECT query_id, neighbor_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "),
    "ss_ivf_ann" ->
      s"""WITH base AS (
         |  SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
         |n3 AS (
         |  SELECT vec_id, v, sqrt(list_sum([x * x FOR x IN v])) AS nrm FROM base),
         |cent0 AS (
         |  SELECT cid, cv, cnrm FROM (
         |    SELECT (ROW_NUMBER() OVER (
         |             ORDER BY md5('km42:' || vec_id::VARCHAR), vec_id))::INT
         |             - 1 AS cid,
         |           v AS cv, nrm AS cnrm
         |    FROM n3) WHERE cid < 16),
         |$ivfDuckIters,
         |assign AS (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
         |             ORDER BY ROUND(list_sum([n.v[i] * c.cv[i]
         |                        FOR i IN generate_series(1, len(n.v))])
         |                      / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
         |    FROM n3 n CROSS JOIN cent$IvfIters c
         |    WHERE n.vec_id BETWEEN 20 AND 24) WHERE rn <= 2),
         |qv AS (
         |  SELECT vec_id AS qid, v AS qvec, nrm AS qnrm FROM n3
         |  WHERE vec_id BETWEEN 20 AND 24),
         |scored AS (
         |  SELECT p.qid, a.vec_id AS neighbor_id,
         |         ROUND(list_sum([q.qvec[i] * a.v[i]
         |                 FOR i IN generate_series(1, len(q.qvec))])
         |               / (q.qnrm * a.nrm), 6) AS cos
         |  FROM probes p
         |  JOIN assign a ON a.cid = p.cid
         |  JOIN qv q ON q.qid = p.qid
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid AS query_id, neighbor_id, cos, rn FROM (
         |  SELECT qid, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored)
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin.replaceAll("\n", " "))

  /** The pretrained entries are row-identical to their inline twins by
    * construction ([[ssIvfTrain]] runs the same deterministic chain and
    * parquet round-trips DOUBLE bit-exactly), so their DuckDB oracles
    * are the inline texts verbatim — the oracle proves the train-once
    * path changes the PLAN, not the answer.
    */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "ss_ivf_pre" -> oracleSqlBase("ss_ivf_ann"),
    "ss_ivfpq_pre" -> oracleSqlBase("ss_ivfpq_topk"),
    "ss_pq_pre" -> oracleSqlBase("ss_pq_topk"),
    "ss_ivfrq_pre" -> oracleSqlBase("ss_ivfrq_topk"))
}
