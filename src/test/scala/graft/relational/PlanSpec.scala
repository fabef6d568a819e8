package graft.relational

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (the "explain and iterate" discipline): these
  * lock in the plan properties the 100 TB design depends on, so a future
  * refactor that silently loses a pushdown or a broadcast fails the suite.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("iterative adjacency layout: pre-sorted persisted edges drop the per-round sort") {
    // every superstep engine lays its edges out through Superstep.layout
    // (see its scaladoc). Locked comparatively: same round plan, the
    // unsorted persisted layout and Superstep's, the latter must plan
    // strictly fewer sorts; and Coreness's round join must read its edge
    // side from the layout with no exchange.
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.graph.Superstep
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = spark.range(1000)
        .selectExpr("id AS src", "(id * 7) % 1000 AS dst")
      // true iff the round join's EDGE side (the join's left child) is the
      // cache scan itself — no SortExec re-sorting the layout per round
      def edgeSideSortFree(adj: org.apache.spark.sql.DataFrame): Boolean = {
        adj.count() // materialize so the cache scan reports its layout
        val labels = adj.select(col("src").as("node")).distinct()
          .withColumn("comp", col("node")).localCheckpoint(eager = true)
        val prop = adj.join(labels, adj("src") === labels("node"))
          .select(adj("dst").as("node"), col("comp"))
        val smj = prop.queryExecution.executedPlan
          .collectFirst { case j: SortMergeJoinExec => j }
        assert(smj.nonEmpty, "expected a sort-merge round join")
        // the cache scan is a leaf, so this only sees sorts ADDED above
        // the layout (codegen wrappers included), not the layout's own
        smj.get.left.collectFirst { case s: SortExec => s }.isEmpty
      }
      val unsorted = edges.repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val freeU = edgeSideSortFree(unsorted)
      val freeS = Superstep.layout(edges, "src")(edgeSideSortFree)
      unsorted.unpersist(blocking = false)
      assert(!freeU, "unsorted layout unexpectedly sort-free (test stale)")
      assert(freeS, "sorted layout did not remove the per-round edge sort")
      // Coreness joins each round's values on dst: its layout's scan must
      // feed the round join directly
      val corenessEdgeSide = Superstep.layout(edges, "dst") { e =>
        e.count()
        val vals = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("c")).localCheckpoint(eager = true)
        graft.graph.Coreness.round(e, vals).queryExecution.executedPlan
          .collectFirst { case j: SortMergeJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "dst")) =>
              j.left }
      }
      assert(corenessEdgeSide.nonEmpty, "expected a sort-merge round join")
      assert(corenessEdgeSide.get.collectFirst {
        case x: ShuffleExchangeExec => x }.isEmpty,
        s"Coreness round join re-exchanges its edges:\n${corenessEdgeSide.get}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q2: filters are pushed into the parquet scan") {
    val plan = Relational.q2_filter(spark, sf).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      (plan.contains("GreaterThanOrEqual(l_shipdate") ||
        plan.contains("LessThan(l_quantity")),
      s"missing parquet pushdown:\n$plan")
  }

  test("q1: scan schema is pruned to the selected columns") {
    val scans = Relational.q1_scan(spark, sf).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(scans.contains("l_orderkey") && !scans.contains("l_extendedprice"),
      s"column pruning lost:\n$scans")
  }

  test("q6: dimension join is a broadcast hash join") {
    val plan = formatted(Relational.q6_broadcast_join(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
  }

  test("q3: aggregation runs partial+final (map-side combine)") {
    val plan = formatted(Relational.q3_agg(spark, sf))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("q8: top-k is pushed map-side (partial WindowGroupLimit before the shuffle)") {
    val plan = formatted(Relational.q8_topk(spark, sf))
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"rank-limit pushdown lost:\n$plan")
  }

  test("pipeline ops prune the documents scan to the touched columns") {
    // chunking touches doc_id+text only; the split touches metadata only —
    // neither may drag the other's columns (or n_chars) through the scan
    val chunkScan = graft.ops.Pipeline.taChunk(spark, sf).queryExecution
      .executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(chunkScan.contains("text") && !chunkScan.contains("n_chars") &&
      !chunkScan.contains("lang"), s"ta_chunk scan not pruned:\n$chunkScan")
    val splitScan = graft.ops.Pipeline.dsSplit(spark, sf).queryExecution
      .executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(splitScan.contains("lang") && !splitScan.contains("text"),
      s"ds_split scan not pruned:\n$splitScan")
  }

  test("ds_pack: one hash exchange on the shard key feeds the packing window") {
    // the packing window must partition by the md5 shard bucket — a plan
    // that windows over a single partition (empty partition spec) would
    // serialize the whole corpus through one task at scale
    val plan = formatted(graft.ops.Pipeline.dsPack(spark, sf))
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    val exchanges = "Exchange hashpartitioning\\(bucket".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 bucket exchange, got $exchanges:\n$plan")
  }

  test("ds_sample: stratum top-k rides map-side WindowGroupLimit") {
    // the exact-k sampler must stay in the q8 plan family: each task keeps
    // only its local k per stratum before the exchange — a plan without
    // the partial WindowGroupLimit ships whole strata to the sort
    val plan = formatted(graft.ops.Pipeline.dsSample(spark, sf))
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"stratified-sample rank pushdown lost:\n$plan")
  }

  test("ds_shuffle: one shard exchange feeds the permutation window, no global sort before it") {
    val plan = formatted(graft.ops.Pipeline.dsShuffle(spark, sf))
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    // exactly one hash exchange on the shard key; the only range exchange
    // allowed is the presentation ORDER BY above the window
    val shardEx = "Exchange hashpartitioning\\(_w".r.findAllIn(plan).length +
      "Exchange hashpartitioning\\(substring".r.findAllIn(plan).length
    assert(shardEx == 1, s"expected 1 shard hash exchange, got $shardEx:\n$plan")
  }

  test("ev_attribution: all four running lasts share ONE user_id window exchange") {
    // four IGNORE-NULLS last_value columns over the same (user_id; ts,
    // event_id) window must collapse into one Window operator fed by one
    // hash exchange — a plan that re-exchanges per column would 4x the
    // shuffle at scale; the only other exchange is the presentation sort
    val plan = formatted(graft.ops.Sessionize.evAttribution(spark, sf))
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userEx == 1, s"expected 1 user_id exchange, got $userEx:\n$plan")
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 Window operator, got $windows:\n$plan")
  }

  test("ev_retention: aggregates run partial+final, no window over raw events") {
    val plan = formatted(graft.ops.Sessionize.evRetention(spark, sf))
    // per-event work is aggregation (map-side combinable), never a sorted
    // window over the raw stream
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
    // the day-cardinality size relation must come in as a broadcast
    assert(plan.contains("BroadcastHashJoin"), s"size join not broadcast:\n$plan")
  }

  test("ev_active_users: no window over raw events; fan-out follows the distinct compaction") {
    // the trailing 7-day window is a x7 explode of the DISTINCT (user,day)
    // relation — a plan that windows or range-joins over raw events would
    // per-event sort at scale; distinct + counts must stay partial+final
    val plan = formatted(graft.ops.Sessionize.evActiveUsers(spark, sf))
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range-join shape crept in:\n$plan")
    assert(plan.contains("Generate explode") && plan.contains("partial_"),
      s"fan-out/partial-agg shape lost:\n$plan")
  }

  test("ta_perplexity: vocabulary relation joins as broadcast, never sort-merge") {
    // the token->count relation is vocabulary-sized; if a stats change ever
    // flips this to SortMergeJoin the corpus-sized probe side gets sorted
    val plan = formatted(graft.ops.TextAnalysis.taPerplexity(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ on the token join:\n$plan")
    // per-doc reduce is map-side combinable
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
  }

  test("ds_lenbucket: one (band, shard) exchange feeds the batching window") {
    // the window must partition by (band, shard) — band alone makes the
    // dominant length band one straggler task; empty partition spec would
    // serialize the corpus
    val plan = formatted(graft.ops.Pipeline.dsLenBucket(spark, sf))
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    val cellEx = "Exchange hashpartitioning\\(_w".r.findAllIn(plan).length
    assert(cellEx == 1, s"expected 1 cell hash exchange, got $cellEx:\n$plan")
    // both keys present in the window partition spec
    val winLine = plan.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("_w") || plan.contains("windowspecdefinition"),
      s"window partition spec missing:\n$plan")
  }

  test("q33_pagerank: per-iteration inflow aggregation is partial+final") {
    // the final frame is post-checkpoint, so lock the ITERATION plan: the
    // dst-keyed SUM must combine map-side (the A2 combiner discipline);
    // fixed-point Long sums make that combine exact
    import org.apache.spark.sql.functions._
    val edges = spark.range(100).selectExpr("id AS src", "(id + 1) % 100 AS dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(eager = true)
    val pr = deg.select(col("src").as("node"), col("outdeg"),
      lit(1000L).as("pr"))
    val plan = formatted(graft.graph.PageRank.step(pr, edges, lit(150L)))
    assert(plan.contains("partial_sum"), s"no partial inflow combine:\n$plan")
  }

  test("ev_spike: per-event work is one combinable count, no window") {
    // the daily relation is (types x days)-sized; everything after it is
    // near-free — a plan that windows or sorts the raw stream regressed
    val plan = formatted(graft.ops.Sessionize.evSpike(spark, sf))
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side count combine:\n$plan")
  }

  test("ev_paths: both windows share ONE user_id exchange; top-k never global-sorts") {
    // the (user_id, sess_idx) trigram window must be satisfied by the
    // session window's hashpartitioning(user_id) (subset rule) — a plan
    // that re-exchanges on (user_id, sess_idx) would double the event
    // shuffle; the final top-k must ride TakeOrderedAndProject on the
    // (types^3)-sized aggregate, never a range exchange of events
    val plan = formatted(graft.ops.Sessionize.evPaths(spark, sf))
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userEx == 1, s"expected 1 user_id exchange, got $userEx:\n$plan")
    // 3 Window execs is the floor: Spark keeps offset functions (LAG,
    // LEAD) and frame aggregates (running SUM) in separate operators
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 3, s"expected 3 Window operators, got $windows:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k lost its TakeOrdered shape:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).isEmpty,
      s"unexpected range exchange:\n$plan")
  }

  test("ev_features: every window rides ONE user_id exchange, no per-feature re-shuffle") {
    // the offset features (LAG, ROW_NUMBER) and the sliding-frame
    // aggregates (SUM/COUNT ROWS 2 PRECEDING) sort identically, so the
    // whole feature block must reuse a single hashpartitioning(user_id)
    // exchange — one feature re-exchanging would double the event shuffle
    val plan = formatted(graft.ops.Sessionize.evFeatures(spark, sf))
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userEx == 1, s"expected 1 user_id exchange, got $userEx:\n$plan")
    // ONE Window exec is the floor and Spark reaches it: LAG/ROW_NUMBER
    // and the sliding SUM/COUNT are all RowFrame specs over the same
    // (partition, order), so they fuse into a single operator
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 Window operator, got $windows:\n$plan")
  }

  test("ta_ngram_top: partial-agg count + TakeOrdered top-k, never a global sort") {
    val plan = formatted(graft.ops.TextAnalysis.taNgramTop(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"ngram top-k lost its TakeOrdered shape:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).isEmpty,
      s"unexpected range exchange:\n$plan")
    // both aggregations (per-doc compaction, per-gram rollup) must be
    // partial+final — 4 HashAggregates, 2 exchanges
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs == 4, s"expected 4 HashAggregates (2 partial+final), got $aggs:\n$plan")
  }

  test("ta_classify: the model side broadcasts; the corpus pays two exchanges") {
    val plan = formatted(graft.ops.TextAnalysis.taClassify(spark, sf))
    // the 256-row weight relation must broadcast into the feature join —
    // a shuffled join would re-exchange the corpus-sized emb relation
    assert(plan.contains("BroadcastHashJoin"),
      s"model join lost its broadcast shape:\n$plan")
    // corpus-side exchanges: (doc, feat) count + doc rollup — exactly 2
    // hash exchanges (plus the terminal sort's range exchange)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$plan")
  }

  test("ds_wsample: the race top-k is map-side TakeOrdered, corpus never exchanged") {
    val plan = formatted(graft.ops.Pipeline.dsWeightedSample(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted-sample top-k lost its TakeOrdered shape:\n$plan")
    assert("\\bExchange\\b".r.findAllIn(plan).isEmpty,
      s"unexpected exchange in a map-side top-k:\n$plan")
  }

  test("ss_ivf_ann: centroid seeding is a distributed top-nlist, never a global rank") {
    // the km42 seed draw must ride TakeOrderedAndProject (map-side local
    // top-nlist); a global ROW_NUMBER over all N vectors single-partitions
    // the corpus — the WindowExec warning this lock keeps dead.
    // r14: the seeding lives in the TRAINING job (the codebook hoist runs
    // ssIvfTrain once per invocation), so the lock moves there; the query
    // plan must consume the hoisted checkpoint instead of re-deriving the
    // k-means chain (no corpus-wide ROW_NUMBER seed left in it)
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val trainPlan = formatted(graft.ops.Similarity.ssIvfTrain(spark, emb, 16))
    assert(trainPlan.contains("TakeOrderedAndProject"),
      s"centroid seed top-k lost its TakeOrdered shape:\n$trainPlan")
    val plan = formatted(graft.ops.Similarity.ssIvfAnn(spark, sf))
    assert(plan.contains("Scan ExistingRDD"),
      s"query plan does not consume the hoisted codebook checkpoint:\n$plan")
  }

  test("ss_pq_topk: codebook seeding rides TakeOrdered; codebook joins broadcast") {
    // the pq42 seed draw is the same distributed top-nCode discipline as
    // IVF's (no global rank of the corpus), and every codebook-side join
    // (assign / encode / ADC) must broadcast the (nSub*nCode)-row relation
    // — an SMJ there would sort the corpus-sized subvector stream.
    // r14: the seeding lives in the TRAINING job (codebook hoist), so the
    // TakeOrdered lock moves to ssPqTrain's plan; the broadcast lock stays
    // on the query plan (the hoist carries an explicit broadcast hint)
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val trainPlan = formatted(graft.ops.Similarity.ssPqTrain(spark, emb))
    assert(trainPlan.contains("TakeOrderedAndProject"),
      s"codebook seed top-k lost its TakeOrdered shape:\n$trainPlan")
    val plan = formatted(graft.ops.Similarity.ssPqTopk(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook join not broadcast:\n$plan")
  }

  test("ds_qfilter: both windows share ONE source exchange") {
    // the per-source COUNT and the ordered ROW_NUMBER must ride the same
    // hashpartitioning(source) — a second exchange would double the
    // corpus shuffle; no non-presentation global sort may appear
    val plan = formatted(graft.ops.Pipeline.dsQualityFilter(spark, sf))
    val srcEx = "Exchange hashpartitioning\\(source".r.findAllIn(plan).length
    assert(srcEx == 1, s"expected 1 source exchange, got $srcEx:\n$plan")
  }

  test("dd_substring: the df>=2 gram set joins as broadcast, never sort-merge") {
    // the duplicated-gram relation is boilerplate-vocabulary-sized; an SMJ
    // here would sort the corpus-positions gram stream
    val plan = formatted(graft.ops.Dedup.ddSubstring(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"dup-gram join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ on the gram join:\n$plan")
  }

  test("dd_paragraph: the df>=minDf span set joins as broadcast, never sort-merge") {
    // same contract as dd_substring: the duplicated-span relation is
    // boilerplate-sized; an SMJ would sort the corpus-spans stream
    val plan = formatted(graft.ops.Dedup.ddParagraph(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"dup-span join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ on the span join:\n$plan")
  }

  test("q36_corr: moment sums ride one partial+final aggregate") {
    // six moments and the count must come out of a single map-side-combined
    // aggregate over the fact table — a plan with two aggregates (or none
    // partial) scans or shuffles lineitem twice
    val plan = formatted(Relational.q36_corr(spark, sf))
    assert(plan.contains("partial_"), s"no map-side combine:\n$plan")
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs == 2, s"expected partial+final (2 HashAggregates), got $aggs:\n$plan")
  }

  test("ds_tokbudget: corpus window partitions by band; band offsets join broadcast") {
    // the two-pass prefix-sum contract: the corpus-sized running sum must
    // window PARTITION BY band (never a global unpartitioned window over
    // the corpus), and the 17-row band-offset relation must join back as
    // a broadcast, not an SMJ
    val plan = formatted(graft.ops.Pipeline.dsTokBudget(spark, sf))
    assert("Exchange hashpartitioning\\(band".r.findAllIn(plan).nonEmpty,
      s"corpus window lost its band partitioning:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"band-offset join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ on the offset join:\n$plan")
  }

  test("q37_mad: the 3-row median relation joins back broadcast") {
    val plan = formatted(Relational.q37_mad(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"median join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ on the median join:\n$plan")
  }

  test("ds_balance: the min-k scalar joins broadcast; class windows partition") {
    // the data-driven cap must come back as a broadcast 1-row relation —
    // never a shuffle — and the corpus-sized windows must partition by
    // the class key (no unpartitioned window over the corpus)
    val plan = formatted(graft.ops.Pipeline.dsBalance(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"k scalar not broadcast:\n$plan")
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(plan).nonEmpty,
      s"class windows lost their partitioning:\n$plan")
  }

  test("ta_bigram_ppl: model relations join back broadcast, never sort-merge") {
    // bcnt/ccnt are vocabulary-bounded aggregates — an SMJ would sort the
    // corpus-positions transition stream against a model-sized relation
    val plan = formatted(graft.ops.TextAnalysis.taBigramPpl(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"model join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ on the model join:\n$plan")
  }

  test("ta_c4filter: line filtering never explodes the corpus") {
    // the line array must stay inside per-row HOFs — a Generate (explode)
    // node would multiply the corpus by its line count before filtering
    val plan = formatted(graft.ops.TextAnalysis.taC4Filter(spark, sf))
    assert(!plan.contains("Generate"), s"line explode appeared:\n$plan")
  }

  test("q35_grouping_sets: one Expand feeds one partial+final aggregate") {
    val plan = formatted(Relational.q35_grouping_sets(spark, sf))
    assert(plan.contains("Expand"), s"grouping sets lost the Expand:\n$plan")
    assert("Expand".r.findAllIn(plan).size == 1,
      s"grouping sets expanded more than once:\n$plan")
    assert(plan.contains("partial_"), s"no map-side combine after Expand:\n$plan")
  }

  test("ss_sq_topk: candidate generation is quantized-only; float vectors join back broadcast") {
    // the exact-rescore joins touch mult*k rows per query — they must be
    // broadcast joins, and no cartesian product may appear anywhere
    val plan = formatted(graft.ops.Similarity.ssSqTopk(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"rescore join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in SQ topk:\n$plan")
  }

  test("max-flow graph build: one exchange, one scan of the input, no join") {
    // the round-0 masters are one map/reduce pass (ff3 Map0FF/Reduce0FF):
    // each arc is emitted from both ends and grouped by vertex id
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val edges = spark.range(200)
      .selectExpr("10 + id AS src", "10 + (id * 7) % 200 AS dst", "1 + id % 9 AS cap")
      .persist()
    try {
      edges.count()
      val state = graft.graph.GraphBuilder.buildState(spark, edges, Seq(10L), Seq(11L))
      state.collect() // the final adaptive plan
      val aqe = new AdaptiveSparkPlanHelper {}
      val plan = state.queryExecution.executedPlan
      val exchanges = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"${exchanges.size} exchanges in the build:\n$plan")
      val scans = aqe.collect(plan) { case s: InMemoryTableScanExec => s }
      assert(scans.size == 1, s"the build scans its input ${scans.size} times:\n$plan")
      assert(aqe.collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"a join:\n$plan")
    } finally edges.unpersist()
  }

  test("q41_linkpred: global top-k is TakeOrdered, never a full sort") {
    val plan = formatted(graft.graph.GraphQueries.q41_linkpred(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k lost its TakeOrdered shape:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in linkpred:\n$plan")
  }

  test("q41_linkpred: the pair self-join reads the cached pk layout, no exchange or sort") {
    // under AQE (the session default) a localCheckpoint scan reports
    // neither partitioning nor ordering, so a checkpointed ek was
    // re-exchanged and re-sorted on both self-join sides; the persisted
    // layout's scan feeds the join as it is. Broadcast is off so the
    // self-join stays a sort-merge join at this scale.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = graft.graph.GraphQueries.q41_linkpred(spark, sf)
      df.collect() // the final adaptive plan
      val aqe = new AdaptiveSparkPlanHelper {}
      val plan = df.queryExecution.executedPlan
      val selfJoins = aqe.collect(plan) {
        case j: SortMergeJoinExec
          if j.leftKeys.flatMap(_.references.map(_.name)) == Seq("pk") => j
      }
      assert(selfJoins.size == 1, s"expected one pk self-join:\n$plan")
      for (side <- Seq(selfJoins.head.left, selfJoins.head.right)) {
        assert(aqe.collect(side) { case s: InMemoryTableScanExec => s }.nonEmpty,
          s"self-join side does not read the cached layout:\n$side")
        val redone = aqe.collect(side) {
          case e: ShuffleExchangeExec => e
          case s: SortExec => s
        }
        assert(redone.isEmpty, s"self-join side re-lays out the cache:\n$side")
      }
    } finally {
      spark.conf.set(key, prev)
      graft.Caches.releaseAll(spark)
    }
  }

  test("ev_cooccur: pair join runs on the compacted presence relation, one user window") {
    val events = graft.Tables.load(spark, sf, "events")
    val plan = formatted(
      graft.ops.Sessionize.evCooccur(events, graft.ops.Sessionize.GapMicros))
    // the raw-event session window is computed ONCE behind the lazy
    // checkpoint boundary (the dd_resolve InlineCTE workaround) — the
    // outer plan must consume the materialized presence relation (an RDD
    // scan), never re-run a Window over raw events
    assert(plan.contains("Scan ExistingRDD"),
      s"presence relation not materialized once:\n$plan")
    assert(!plan.contains("Window"),
      s"outer plan re-runs the session window per consumer:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in cooccur:\n$plan")
  }

  test("ta_zipf: ONE token aggregate, top-20 via TakeOrdered — never a vocabulary sort") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val plan = formatted(graft.ops.TextAnalysis.taZipf(docs))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 lost its TakeOrdered shape:\n$plan")
    // the corpus-sized aggregation must appear ONCE: the first cut's
    // scalar MAX(tf) subquery inlined the CTE and ran it twice (6x the
    // query at 500k docs, addendum15)
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs <= 4, s"token aggregate duplicated ($aggs HashAggregates):\n$plan")
  }

  test("ev_bots: one LAG window + one user aggregate on the same key") {
    val events = graft.Tables.load(spark, sf, "events")
    val plan = formatted(graft.ops.Sessionize.evBots(events))
    assert("Window".r.findAllIn(plan).size == 1,
      s"expected exactly one window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in ev_bots:\n$plan")
  }

  test("ev_ewma: windows run on the days-x-types relation, after the count aggregate") {
    val events = graft.Tables.load(spark, sf, "events")
    val plan = formatted(graft.ops.Sessionize.evEwma(events))
    // the (type, day) count must be a partial+final aggregate (map-side
    // combine over the corpus); both windows rank its tiny output
    assert(plan.contains("HashAggregate"), s"no aggregate:\n$plan")
    assert("Window".r.findAllIn(plan).size <= 2,
      s"window count grew:\n$plan")
  }

  test("ds_pipeline: one corpus exchange (the md5 window); the rate map joins broadcast") {
    val plan = formatted(graft.ops.Pipeline.dsPipeline(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1,
      s"expected exactly the md5-window exchange, got $hashEx:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"rate-map join not broadcast:\n$plan")
  }

  test("dd_bloom: corpus decided map-side — bloom predicate present, no corpus-keyed exchange") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val out = graft.ops.Dedup.ddBloomDedup(
      docs.where("doc_id % 10 <> 0"), docs.where("doc_id % 10 = 0"))
    val plan = formatted(out)
    assert(plan.contains("might_contain"),
      s"bloom predicate missing from the corpus filter:\n$plan")
    // the only hash exchanges permitted are the md5-digest verification
    // join's (column h) — the corpus itself is never hash-shuffled (the
    // whole point vs dd_crossdedup); the final rangepartitioning is the
    // presentation sort
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(hashEx.forall(_.startsWith("h#")),
      s"corpus-keyed exchange leaked into the bloom plan: $hashEx\n$plan")
  }

  test("taNormalize: narrow single-pass — no exchange but the presentation sort") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val plan = formatted(graft.ops.Pipeline.taNormalize(docs))
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"unexpected hash exchange in a narrow transform:\n$plan")
  }

  test("bucketed fact-fact join runs with zero exchanges (S5 for relational workloads)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      // a previous JVM's warehouse dir survives the in-memory catalog;
      // remove the physical locations or saveAsTable collides
      for (t <- Seq("b_orders", "b_lineitem")) {
        val dir = new java.io.File(s"spark-warehouse/$t")
        if (dir.exists()) {
          import scala.reflect.io.Directory
          new Directory(dir).deleteRecursively()
        }
      }
      graft.Tables.load(spark, sf, "orders")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      graft.Tables.load(spark, sf, "lineitem")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("ta_bm25: the scoring join is postings-keyed — no cartesian anywhere in the plan") {
    // each query term must pull only the documents containing it; a plan
    // that degrades to CartesianProduct scores every (query, doc) pair
    // and detonates at corpus scale (the 1-row corpus-stat relation is
    // the only nested-loop side allowed, and it broadcasts)
    val plan = formatted(graft.ops.TextAnalysis.taBm25(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"BM25 degraded to a cartesian:\n$plan")
  }

  test("ta_rake: the phrase top-k is a distributed TakeOrdered, never a global rank") {
    // the unpartitioned ROW_NUMBER may only ever see the k survivors;
    // ranking the whole phrase vocabulary single-partitions the corpus
    val plan = formatted(graft.ops.TextAnalysis.taRake(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"phrase top-k lost TakeOrdered:\n$plan")
  }

  test("ev_cms: the heavy-hitter cut is a TakeOrdered; sketch and exact aggs are partial") {
    val plan = formatted(graft.ops.Sessionize.evCms(
      graft.Tables.load(spark, sf, "events")))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K cut lost TakeOrdered:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"sketch build lost map-side combine:\n$plan")
  }

  test("ev_mannwhitney/ev_ks CDF: cumulative prefix is shard-partitioned, never a data-sized global window") {
    // the distinct-value relation can approach user cardinality; its
    // prefix sums must run under PARTITION BY shard — the only window
    // allowed to be global is the shards-sized prefix relation
    val wins = graft.ops.Sessionize.abCdfPlan(
      graft.Tables.load(spark, sf, "events"), "ab")
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec
      }
    assert(wins.count(_.nonEmpty) >= 1,
      s"lost the shard-partitioned prefix window: $wins")
    assert(wins.count(_.isEmpty) <= 1,
      s"a data-sized global window appeared: $wins")
    // and the events scan reads only the two columns the CDF needs
    val scans = graft.ops.Sessionize.abCdfPlan(
      graft.Tables.load(spark, sf, "events"), "ab")
      .queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scans.contains("user_id") && !scans.contains("event_type") &&
      !scans.contains("props"), s"CDF scan not pruned:\n$scans")
  }

  test("ev_kmv: the per-type k-min is a WindowGroupLimit, not a full per-type sort surviving the filter") {
    val plan = formatted(graft.ops.Sessionize.evKmv(
      graft.Tables.load(spark, sf, "events")))
    assert(plan.contains("WindowGroupLimit"),
      s"k-min lost the rank-limit pushdown:\n$plan")
  }

  test("optimizer rule rewrites the HOF dot-product pattern into graft_dot") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.range(4)
      .selectExpr("id", "array(cast(id as double), 3.0d) AS a",
        "array(2.0d, 5.0d) AS b")
      .selectExpr("id",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS d")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), s"rule did not fire:\n$optimized")
    assert(df.orderBy("id").collect().map(_.getDouble(1)).toSeq ==
      Seq(15.0, 17.0, 19.0, 21.0))
  }

  test("graft_dot NULL/length semantics are identical to the HOF it rewrites") {
    graft.functions.GraftFunctions.register(spark)
    // `rewritten` matches RewriteDotProduct's pattern; `hof` folds with
    // `v + acc` (operands flipped) so the rule cannot fire and it runs as a
    // genuine higher-order function — the semantic oracle on the same rows.
    // rows keyed off a non-foldable `id` so ConvertToLocalRelation cannot
    // pre-evaluate the columns before the rewrite rule runs
    val df = spark.range(5)
      .selectExpr("id",
        """CASE id WHEN 0 THEN array(1D, 2D)
          |        WHEN 1 THEN array(1D, 2D, 5D)
          |        WHEN 2 THEN array(1D, CAST(NULL AS double))
          |        WHEN 3 THEN CAST(NULL AS array<double>)
          |        ELSE CAST(array() AS array<double>) END AS a""".stripMargin,
        """CASE id WHEN 4 THEN CAST(array() AS array<double>)
          |        ELSE array(3D, 4D) END AS b""".stripMargin)
      .selectExpr("id",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS rewritten",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> v + acc) AS hof",
        "graft_dot(a, b) AS direct")
      .orderBy("id").drop("id")
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "rewrite rule did not fire on the `rewritten` column")
    val rows = df.collect().map { r =>
      (0 to 2).map(i => if (r.isNullAt(i)) null else r.getDouble(i))
    }
    val expected = Seq(Seq(11.0, 11.0, 11.0),
      Seq(null, null, null), Seq(null, null, null),
      Seq(null, null, null), Seq(0.0, 0.0, 0.0))
    assert(rows.toSeq == expected, s"semantics diverge: ${rows.toSeq}")
  }

  test("graft_dot: codegen over distributed input, interpreted over local relations") {
    graft.functions.GraftFunctions.register(spark)
    // distributed input → whole-stage codegen path
    val dist = spark.range(3)
      .selectExpr("id", "array(cast(id as double), 2.0d) AS a",
        "array(3.0d, 4.0d) AS b")
      .selectExpr("id", "graft_dot(a, b) AS d")
    val hasCodegen = dist.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegen, s"no WholeStageCodegenExec:\n${formatted(dist)}")
    assert(dist.orderBy("id").collect().map(_.getDouble(1)).toSeq ==
      Seq(8.0, 11.0, 14.0))
    // local relation → constant-folded through the interpreted eval path
    import spark.implicits._
    val local = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d")
    assert(local.head().getDouble(0) == 11.0)
  }

  test("dd_despan: the duplicated-gram relation joins back broadcast") {
    // only df>=minDf grams explode into covered positions — shipping the
    // corpus-sized position relation through a sort-merge join against
    // the boilerplate-sized dup set would be the wrong 100 TB shape
    val plan = formatted(graft.ops.Dedup.ddDespan(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast dups join:\n$plan")
  }

  test("ev_sequential: the day pre-agg is partial+final; windows run on the grid") {
    val plan = formatted(graft.ops.Sessionize.evSequential(spark, sf))
    // the one corpus-sized aggregation must map-side combine
    assert(plan.contains("partial_"), s"no partial day pre-agg:\n$plan")
  }

  test("ds_dsir: bucket model joins broadcast; top-k rides TakeOrdered") {
    // the llr relation is numBuckets-sized — shipping the corpus-sized
    // (doc,bucket) counts through a sort-merge join against 256 rows
    // would be the wrong 100 TB shape, as would a global sort for the k
    // winners (TakeOrderedAndProject keeps a local k per task)
    val plan = formatted(graft.ops.Pipeline.dsDsir(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast llr join:\n$plan")
  }
}
