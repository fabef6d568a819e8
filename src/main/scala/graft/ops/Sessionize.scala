package graft.ops

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Event sessionization over the `events` table: 30-minute-gap sessions per
  * user, aggregated to (start, end, n_events, value sum).
  *
  * Two implementations with identical semantics:
  *  - batch (this file): lag/cumulative-sum window — DuckDB-oracle checked;
  *  - streaming (graft.streaming.EventSessionizer): the same sessions via
  *    `flatMapGroupsWithState`, verified against this batch result in
  *    StreamingSpec.
  *
  * Scale: one shuffle on user_id (window partition = the aggregation
  * partition, reused); gap comparison on integer epoch-micros, sums on
  * decimal — exact in both engines.
  */
object Sessionize {

  val GapMicros: Long = 30L * 60 * 1000000

  def evSessionize(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evSessionize(s.table("__events"), GapMicros)
  }

  /** The parameterized production entry: any frame with (user_id, ts,
    * event_id, value), any inactivity gap ("MY session timeout") — the
    * oracle form fixes the 30-minute gap.
    */
  def evSessionize(events: DataFrame, gapMicros: Long): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__sess_events")
    s.sql(
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, value,
         |         CASE WHEN unix_micros(ts) -
         |                   LAG(unix_micros(ts)) OVER w > $gapMicros
         |              OR LAG(ts) OVER w IS NULL
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM __sess_events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tagged AS (
         |  SELECT user_id, ts, event_id, value,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM flagged)
         |SELECT user_id, sess_idx, MIN(ts) AS sess_start, MAX(ts) AS sess_end,
         |       COUNT(*) AS n_events,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM tagged GROUP BY user_id, sess_idx
         |ORDER BY user_id, sess_idx""".stripMargin)
  }

  /** Ordered conversion funnel: per user, the first 'view', the first
    * 'click' STRICTLY AFTER it, and the first 'purchase' strictly after
    * that — `depth` = how far the user got (1..3). The strict ordering is
    * what distinguishes a funnel from three independent MINs: a click
    * before the first view does not count.
    *
    * Engine-exactness: MIN over micros timestamps and strict > compares —
    * integer-exact in both engines. Scale: three user_id hash aggregations
    * + two user_id equi-joins — one co-partitioning reused end-to-end; the
    * per-step relations shrink monotonically (funnel property), so each
    * later join is against a smaller build side.
    */
  def evFunnel(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evFunnel(s.table("__events"), Seq("view", "click", "purchase"))
      .select(col("user_id"), col("t0").as("t_view"), col("t1").as("t_click"),
        col("t2").as("t_purchase"), col("depth"))
  }

  /** Generic k-step strict-order funnel over an arbitrary (user_id, ts,
    * event_type) frame — the production entry ("MY funnel steps"): step i
    * is each user's first `steps(i)` event STRICTLY AFTER their step-(i−1)
    * time. Emits t0..t(k−1) and `depth` = the deepest reached step (1-
    * based). The oracle-checked 3-step query delegates here (aliasing
    * t0..t2 to its fixed column names), so the generated chain is
    * hash-locked for k = 3; the generic shape keeps the per-step
    * co-partitioned MIN-agg + shrinking-join-side structure at any k.
    */
  def evFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val s = events.sparkSession
    events.createOrReplaceTempView("__fun_events")
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s0 AS (SELECT user_id, MIN(ts) AS t0 FROM __fun_events
           |       WHERE event_type = '$st' GROUP BY user_id)""".stripMargin
      else
        s"""s$i AS (SELECT e.user_id, MIN(e.ts) AS t$i
           |        FROM __fun_events e
           |        JOIN s${i - 1} p ON p.user_id = e.user_id
           |        WHERE e.event_type = '$st' AND e.ts > p.t${i - 1}
           |        GROUP BY e.user_id)""".stripMargin
    }
    val joins = steps.indices.drop(1)
      .map(i => s"LEFT JOIN s$i ON s$i.user_id = s0.user_id").mkString(" ")
    val depth =
      if (steps.size == 1) "1 AS depth"
      else "CASE " + steps.indices.reverse.dropRight(1)
        .map(i => s"WHEN t$i IS NOT NULL THEN ${i + 1}").mkString(" ") +
        " ELSE 1 END AS depth"
    val cols = steps.indices.map(i => s"t$i").mkString(", ")
    s.sql(s"""WITH ${ctes.mkString(", ")}
             |SELECT s0.user_id, $cols, $depth
             |FROM s0 $joins ORDER BY s0.user_id""".stripMargin)
  }

  private def funnelSql(tbl: String): String =
    s"""WITH v AS (
       |  SELECT user_id, MIN(ts) AS t_view FROM $tbl
       |  WHERE event_type = 'view' GROUP BY user_id),
       |c AS (
       |  SELECT e.user_id, MIN(e.ts) AS t_click
       |  FROM $tbl e JOIN v ON v.user_id = e.user_id
       |  WHERE e.event_type = 'click' AND e.ts > v.t_view
       |  GROUP BY e.user_id),
       |p AS (
       |  SELECT e.user_id, MIN(e.ts) AS t_purchase
       |  FROM $tbl e JOIN c ON c.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
       |  GROUP BY e.user_id)
       |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       |       CASE WHEN p.t_purchase IS NOT NULL THEN 3
       |            WHEN c.t_click IS NOT NULL THEN 2
       |            ELSE 1 END AS depth
       |FROM v
       |LEFT JOIN c ON c.user_id = v.user_id
       |LEFT JOIN p ON p.user_id = v.user_id
       |ORDER BY v.user_id""".stripMargin

  /** Cohort retention (the growth-analytics staple): each user's cohort is
    * their FIRST active day; for every (cohort_day, day_offset) cell,
    * count the distinct users active again offset days later, with the
    * cohort size and the retention ratio. Days are integer epoch-days
    * (micros div 86.4e9) — timezone-free and integer-exact in both
    * engines; the ratio is one int/int double division rounded to 6 (the
    * ta_tfidf discipline).
    *
    * Scale design: one DISTINCT (user, day) agg + a user_id-partitioned
    * MIN agg + a user_id equi-join (all co-partitioned — the ev_funnel
    * shuffle-reuse discipline), then a final agg keyed by (cohort_day,
    * offset) whose output is days²-sized, and a broadcast-sized join
    * against the day-cardinality cohort-size relation. No window over the
    * raw event stream, so nothing is per-event sorted.
    */
  def evRetention(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evRetention(s.table("__events"))
  }

  /** The parameterized production entry: any frame with (user_id, ts). */
  def evRetention(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ret_events")
    s.sql(
      """WITH active AS (
        |  SELECT DISTINCT user_id,
        |         unix_micros(ts) div 86400000000 AS day
        |  FROM __ret_events),
        |cohort AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id),
        |sizes AS (
        |  SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort
        |  GROUP BY cohort_day),
        |cells AS (
        |  SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |         COUNT(DISTINCT a.user_id) AS n_users
        |  FROM active a JOIN cohort c ON c.user_id = a.user_id
        |  GROUP BY c.cohort_day, a.day - c.cohort_day)
        |SELECT x.cohort_day, x.day_offset, x.n_users, s.cohort_size,
        |       ROUND(CAST(x.n_users AS DOUBLE) / s.cohort_size, 6) AS retention
        |FROM cells x JOIN sizes s ON s.cohort_day = x.cohort_day
        |ORDER BY x.cohort_day, x.day_offset""".stripMargin)
  }

  /** Last-touch attribution (the marketing-analytics staple): every
    * purchase is attributed to the user's most recent PRECEDING click —
    * click priority: a click wins over any view, however recent the view
    * — falling back to the most recent preceding view, else unattributed
    * (organic). Emits one row per purchase with the touch's type/id/ts
    * and the purchase value as attributed revenue.
    *
    * Engine-exactness: pure window bookkeeping over (ts, event_id) order
    * — no arithmetic at all (value passes through bit-unchanged), so the
    * oracle compare is trivially exact. Scale: ONE user_id exchange + one
    * per-user sort shared by all four IGNORE-NULLS running lasts (the
    * ev_sessionize window shape); no joins.
    */
  def evAttribution(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evAttribution(s.table("__events"))
  }

  /** The parameterized production entry: any frame with
    * (event_id, ts, user_id, event_type, value).
    */
  def evAttribution(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__attr_events")
    s.sql(
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END)
        |           IGNORE NULLS OVER w AS last_click_id,
        |         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END)
        |           IGNORE NULLS OVER w AS last_click_ts,
        |         LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END)
        |           IGNORE NULLS OVER w AS last_view_id,
        |         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END)
        |           IGNORE NULLS OVER w AS last_view_ts
        |  FROM __attr_events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS purchase_id, ts AS t_purchase, value,
        |       CASE WHEN last_click_id IS NOT NULL THEN 'click'
        |            WHEN last_view_id IS NOT NULL THEN 'view'
        |            ELSE 'organic' END AS touch_type,
        |       CASE WHEN last_click_id IS NOT NULL THEN last_click_id
        |            ELSE last_view_id END AS touch_id,
        |       CASE WHEN last_click_id IS NOT NULL THEN last_click_ts
        |            ELSE last_view_ts END AS t_touch
        |FROM ordered WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin)
  }

  /** Active-user rollup (the growth-analytics DAU/WAU staple): per observed
    * day, the distinct users active that day (dau), the distinct users
    * active in the trailing 7-day window (wau_7d), and the dau/wau
    * stickiness ratio. Days are integer epoch-days (the ev_retention
    * discipline); the ratio is one int/int double division rounded to 6.
    *
    * Scale design: the raw stream is compacted to DISTINCT (user, day)
    * FIRST (one shuffle — a user firing 10k events in a day contributes one
    * row), then the trailing window is a ×7 fan-out of that compacted
    * relation (`sequence(day, day+6)` explode), NOT a range self-join over
    * events and NOT a per-event window sort: win_day w collects exactly the
    * users active in [w-6, w]. The wau aggregation is the canonical
    * two-level COUNT(DISTINCT) partial-agg shuffle on day; the dau and
    * observed-days joins are day-cardinality (broadcast-sized at any SF).
    */
  def evActiveUsers(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evActiveUsers(s.table("__events"))
  }

  /** The parameterized production entry: any frame with (user_id, ts),
    * any trailing-window width ("MY window", the ddDecontam pattern —
    * the oracle form fixes windowDays = 7).
    */
  def evActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__au_events")
    s.sql(
      s"""WITH active AS (
         |  SELECT DISTINCT user_id,
         |         unix_micros(ts) div 86400000000 AS day
         |  FROM __au_events),
         |days AS (SELECT DISTINCT day FROM active),
         |fan AS (
         |  SELECT user_id, explode(sequence(day, day + ${windowDays - 1}))
         |           AS win_day
         |  FROM active),
         |wau AS (
         |  SELECT win_day AS day, COUNT(DISTINCT user_id) AS wau_7d
         |  FROM fan GROUP BY win_day),
         |dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY day)
         |SELECT d.day, dau.dau, wau.wau_7d,
         |       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau_7d, 6) AS stickiness
         |FROM days d
         |JOIN dau ON dau.day = d.day
         |JOIN wau ON wau.day = d.day
         |ORDER BY d.day""".stripMargin)
  }

  /** Daily event-rate anomaly (the ops-dashboard staple): for every
    * (event_type, day), today's event count against the mean of the
    * STRICTLY PRECEDING 7 days, as `rate_ratio = n·base_days/base_n` —
    * one integer product and ONE double division rounded to 6 (the
    * ev_retention discipline), `spike` flags ratio ≥ 2. Days with no
    * preceding baseline (the stream's first day per type) are absent —
    * no baseline, no score.
    *
    * Scale design: ALL per-event work is one combinable COUNT keyed by
    * (event_type, day) — the `daily` relation is (types × days)-sized,
    * so the ×7 baseline fan-out, the baseline aggregate and the join
    * back are near-free at any corpus size; nothing per-event is sorted
    * or windowed (the ev_active_users compaction-first discipline).
    */
  def evSpike(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evSpike(s.table("__events"))
  }

  /** The parameterized production entry: any frame with (ts, event_type),
    * any baseline width and spike threshold. `threshold` is integral so
    * the flag stays an exact integer comparison (n·base_days ≥
    * threshold·base_n) in both engines; the oracle form fixes (7, 2).
    */
  def evSpike(events: DataFrame, windowDays: Int = 7,
      threshold: Int = 2): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__spk_events")
    s.sql(
      s"""WITH daily AS (
         |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
         |         COUNT(*) AS n
         |  FROM __spk_events GROUP BY 1, 2),
         |base AS (
         |  SELECT event_type, win_day AS day, SUM(n) AS base_n,
         |         COUNT(*) AS base_days
         |  FROM (SELECT event_type, n,
         |               explode(sequence(day + 1, day + $windowDays)) AS win_day
         |        FROM daily)
         |  GROUP BY event_type, win_day)
         |SELECT d.event_type, d.day, d.n, b.base_n, b.base_days,
         |       ROUND(CAST(d.n * b.base_days AS DOUBLE) / b.base_n, 6)
         |         AS rate_ratio,
         |       d.n * b.base_days >= $threshold * b.base_n AS spike
         |FROM daily d
         |JOIN base b ON b.event_type = d.event_type AND b.day = d.day
         |ORDER BY d.event_type, d.day""".stripMargin)
  }

  /** Top event-type paths (the product-analytics "common journeys" view):
    * the k most frequent CONSECUTIVE event-type trigrams inside sessions
    * (the ev_sessionize 30-minute-gap sessions), ties broken by path so
    * the rank is total. A trigram never crosses a session boundary: the
    * LEADs are windowed by (user_id, sess_idx) and go null at the edge.
    *
    * Scale design: ONE user_id exchange feeds all three Window execs
    * (the (user_id, sess_idx) trigram window is satisfied by
    * hashpartitioning(user_id) under the subset rule — only a re-sort,
    * no re-shuffle; Spark keeps LAG / running-SUM / LEAD in separate
    * Window operators by function class). The aggregate output is
    * ≤ |event types|³ rows, so the global top-k is a
    * TakeOrderedAndProject over a relation of trivial size
    * (PlanSpec-locked).
    */
  def evPaths(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evPaths(s.table("__events"), GapMicros, k = 10)
  }

  /** The parameterized production entry: any frame with (user_id, ts,
    * event_id, event_type), any session gap, any k.
    */
  def evPaths(events: DataFrame, gapMicros: Long, k: Int): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__path_events")
    s.sql(
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN unix_micros(ts) -
         |                   LAG(unix_micros(ts)) OVER w > $gapMicros
         |              OR LAG(ts) OVER w IS NULL
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM __path_events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tagged AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM flagged),
         |tri AS (
         |  SELECT concat(event_type, '>',
         |                LEAD(event_type, 1) OVER v, '>',
         |                LEAD(event_type, 2) OVER v) AS path,
         |         LEAD(event_type, 2) OVER v AS t2
         |  FROM tagged
         |  WINDOW v AS (PARTITION BY user_id, sess_idx ORDER BY ts, event_id))
         |SELECT path, COUNT(*) AS n
         |FROM tri WHERE t2 IS NOT NULL
         |GROUP BY path ORDER BY n DESC, path LIMIT $k""".stripMargin)
  }

  /** Event-type transition matrix — the first-order Markov estimate over
    * each user's time-ordered stream: every prev→cur transition count and
    * the row-normalized probability p(cur|prev). Complements [[evPaths]]
    * (which surfaces only the top session TRIGRAMS): this is the full
    * bigram model relation, |types|²-bounded regardless of event volume —
    * the input to next-event prediction, anomaly scoring (improbable
    * transitions), and simulation. Transitions span the user's whole
    * stream (session-agnostic by design; compose with sessionized input
    * for within-session transitions).
    *
    * Engine-exactness: integer counts, one double division rounded 6
    * (the ta_tfidf discipline). Scale: ONE user_id exchange for the LAG
    * window, then a partial-agg count to the types²-sized model — the
    * same shape as the evPaths session windows minus the session tagging.
    */
  def evMarkov(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__mk_events")
    s.sql(
      """WITH tr AS (
        |  SELECT LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev,
        |         event_type AS cur
        |  FROM __mk_events),
        |cnt AS (
        |  SELECT prev, cur, COUNT(*) AS n FROM tr
        |  WHERE prev IS NOT NULL GROUP BY prev, cur),
        |row_tot AS (SELECT prev, SUM(n) AS tot FROM cnt GROUP BY prev)
        |SELECT c.prev, c.cur, c.n,
        |       ROUND(CAST(c.n AS DOUBLE) / t.tot, 6) AS p
        |FROM cnt c JOIN row_tot t ON t.prev = c.prev
        |ORDER BY prev, cur""".stripMargin)
  }

  /** The oracle-checked form over the events table. */
  def evMarkov(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evMarkov(s.table("__events"))
  }

  /** RFM segmentation (the classic marketing-analytics rollup): per user
    * the recency (whole days from their last event to the corpus's last
    * event), frequency (event count), and monetary (decimal-exact value
    * sum), each scored 1–5 against the corpus's own 20/40/60/80th
    * percentile cuts (recency inverted — recent = 5), plus the composite
    * 'rfm' digit string.
    *
    * Engine-exactness: recency/freq are integer-exact; monetary is the
    * dsum discipline (decimal sum cast to double once); the percentile
    * cuts are the q31 interpolated-percentile parity (identical
    * (n−1)·q arithmetic in both engines on identical exact inputs), and
    * the band compares are strict CASE chains.
    *
    * Scale design: one user_id aggregate over events; the cut relation
    * is ONE row (an exact-percentile aggregate over the user rollup)
    * broadcast back onto it — the q37 broadcast-back shape; no window,
    * no global sort but the presentation ORDER BY.
    */
  def evRfm(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__rfm_events")
    s.sql(
      """WITH m AS (
        |  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS freq,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM __rfm_events GROUP BY user_id),
        |ref AS (SELECT MAX(last_ts) AS now_ts FROM m),
        |b AS (
        |  SELECT m.user_id,
        |         (unix_micros(r.now_ts) - unix_micros(m.last_ts))
        |           div 86400000000 AS recency_days,
        |         m.freq, m.monetary
        |  FROM m CROSS JOIN ref r),
        |cuts AS (
        |  SELECT percentile(recency_days, 0.2D) AS r20,
        |         percentile(recency_days, 0.4D) AS r40,
        |         percentile(recency_days, 0.6D) AS r60,
        |         percentile(recency_days, 0.8D) AS r80,
        |         percentile(freq, 0.2D) AS f20, percentile(freq, 0.4D) AS f40,
        |         percentile(freq, 0.6D) AS f60, percentile(freq, 0.8D) AS f80,
        |         percentile(monetary, 0.2D) AS m20,
        |         percentile(monetary, 0.4D) AS m40,
        |         percentile(monetary, 0.6D) AS m60,
        |         percentile(monetary, 0.8D) AS m80
        |  FROM b),
        |sc AS (
        |  SELECT b.user_id, b.recency_days, b.freq, b.monetary,
        |    CASE WHEN b.recency_days <= c.r20 THEN 5
        |         WHEN b.recency_days <= c.r40 THEN 4
        |         WHEN b.recency_days <= c.r60 THEN 3
        |         WHEN b.recency_days <= c.r80 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN b.freq > c.f80 THEN 5 WHEN b.freq > c.f60 THEN 4
        |         WHEN b.freq > c.f40 THEN 3 WHEN b.freq > c.f20 THEN 2
        |         ELSE 1 END AS f_score,
        |    CASE WHEN b.monetary > c.m80 THEN 5 WHEN b.monetary > c.m60 THEN 4
        |         WHEN b.monetary > c.m40 THEN 3 WHEN b.monetary > c.m20 THEN 2
        |         ELSE 1 END AS m_score
        |  FROM b CROSS JOIN cuts c)
        |SELECT user_id, recency_days, freq, monetary, r_score, f_score,
        |       m_score,
        |       concat(CAST(r_score AS STRING), CAST(f_score AS STRING),
        |              CAST(m_score AS STRING)) AS rfm
        |FROM sc ORDER BY user_id""".stripMargin)
  }

  /** The oracle-checked form over the events table. */
  def evRfm(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evRfm(s.table("__events"))
  }

  /** Consecutive-day activity streaks per user (the gaps-and-islands
    * rollup): total active days, number of streaks, and the longest run of
    * consecutive calendar days with at least one event. Days are integer
    * epoch-days (the ev_retention discipline); islands come from the
    * classic `day − ROW_NUMBER()` group key, which is constant exactly on
    * a consecutive run.
    *
    * Scale design: the raw stream is compacted to DISTINCT (user, day)
    * FIRST (the ev_active_users discipline — a user firing 10k events in a
    * day contributes one row), so the window sort and both aggregations
    * run on the compacted relation; all three shuffles key on user_id and
    * AQE coalesces the tiny tail. Nothing per-event is windowed.
    */
  def evStreaks(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evStreaks(s.table("__events"))
  }

  /** The parameterized production entry: any frame with (user_id, ts). */
  def evStreaks(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__stk_events")
    s.sql(
      """WITH active AS (
        |  SELECT DISTINCT user_id,
        |         unix_micros(ts) div 86400000000 AS day
        |  FROM __stk_events),
        |isl AS (
        |  SELECT user_id, day,
        |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM active),
        |runs AS (
        |  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp)
        |SELECT user_id, SUM(len) AS active_days, COUNT(*) AS n_streaks,
        |       MAX(len) AS max_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** Per-event ML feature assembly (the training-pipeline "lag features"
    * view): previous value, inter-event gap, per-user sequence index, and
    * a trailing-3-event mean — the standard inputs to a sequence model
    * fed straight from the event log.
    *
    * Scale design: every feature is a window over the SAME
    * (user_id, ts, event_id) sort, so the plan carries ONE exchange and
    * one sort (the ev_paths subset rule); the trailing mean divides an
    * exact DECIMAL frame sum by the frame count so the distributed fold
    * is order-free and oracle-exact (the ta_perplexity discipline).
    * Output is corpus-sized but narrow; nothing aggregates globally.
    */
  def evFeatures(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evFeatures(s.table("__events"))
  }

  /** The parameterized production entry: any frame with (user_id, ts,
    * event_id, event_type, value), any trailing-mean width (the oracle
    * form fixes rollN = 3).
    */
  def evFeatures(events: DataFrame, rollN: Int = 3): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ft_events")
    s.sql(
      s"""SELECT user_id, event_id, ts, event_type, value,
         |       LAG(value) OVER w AS prev_value,
         |       unix_micros(ts) - LAG(unix_micros(ts)) OVER w AS gap_us,
         |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq_idx,
         |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER v AS DOUBLE)
         |             / COUNT(*) OVER v, 6) AS roll_avg
         |FROM __ft_events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         |       v AS (PARTITION BY user_id ORDER BY ts, event_id
         |             ROWS BETWEEN ${rollN - 1} PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, seq_idx""".stripMargin)
  }

  /** Exact Gini/Lorenz concentration of activity (the heavy-tail
    * diagnostic: "how unequal is the per-user event distribution", with
    * the top-decile share alongside) — one row: n_users, total_events,
    * gini, top-decile user count / events / share.
    *
    * Scale design: NO global rank over users. After the combinable
    * per-user COUNT, everything runs on the DISTINCT-count relation
    * (|distinct n| rows — hundreds at any corpus size): users tied at the
    * same n occupy a consecutive rank run, so their Σ rank·n collapses to
    * the arithmetic-series closed form n·(c·off + c(c+1)/2), and the only
    * window sorts that micro relation. Rank sums accumulate in
    * DECIMAL(38,0) (BIGINT would overflow near 1e9 users × 1e12 events);
    * the two ratios are fixed-order double ops rounded to 6 — identical
    * in both engines. Tie order never matters: tied users carry equal n.
    */
  def evGini(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evGini(s.table("__events"))
  }

  /** The parameterized production entry: any frame with a user_id. */
  def evGini(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__gini_events")
    events.sparkSession.sql(
      "SELECT user_id AS id, COUNT(*) AS n FROM __gini_events GROUP BY user_id")
      .createOrReplaceTempView("__gini_counts")
    giniCounts(s)
  }

  /** The core over any (id, n) count relation (view __gini_counts). */
  private def giniCounts(s: SparkSession): DataFrame =
    s.sql(
      """WITH g AS (SELECT n, COUNT(*) AS c FROM __gini_counts GROUP BY n),
        |o AS (
        |  SELECT n, c,
        |         SUM(c) OVER (ORDER BY n) - c AS off,
        |         SUM(c) OVER (ORDER BY n DESC) AS cumd
        |  FROM g),
        |t AS (
        |  SELECT SUM(c) AS nu, SUM(n * c) AS tn,
        |         SUM(CAST(n AS DECIMAL(38,0)) * (c * off + c * (c + 1) div 2))
        |           AS sin
        |  FROM o),
        |top AS (
        |  SELECT SUM(n * LEAST(c, GREATEST(0, t.nu div 10 - (cumd - c))))
        |           AS tope
        |  FROM o CROSS JOIN t)
        |SELECT t.nu AS n_users, t.tn AS total_events,
        |       ROUND(2D * CAST(t.sin AS DOUBLE)
        |             / (CAST(t.nu AS DOUBLE) * CAST(t.tn AS DOUBLE))
        |           - (CAST(t.nu AS DOUBLE) + 1D) / CAST(t.nu AS DOUBLE), 6)
        |         AS gini,
        |       t.nu div 10 AS top_decile_users, top.tope AS top_decile_events,
        |       ROUND(CAST(top.tope AS DOUBLE) / CAST(t.tn AS DOUBLE), 6)
        |         AS top_decile_share
        |FROM t CROSS JOIN top
        |WHERE t.nu IS NOT NULL""".stripMargin)

  /** Inter-arrival spectrum: per event type, the histogram of consecutive
    * same-(user, type) gaps in log2 microsecond buckets (bucket k holds
    * gaps in [2^k, 2^(k+1)) µs; bucket 0 also catches the 0–1 µs
    * degenerates) plus each type's exact gap count and integer-exact mean
    * — the temporal-process diagnostic ("is this type bursty or
    * periodic?") that stays combinable at any scale: an exact percentile
    * per type would buffer a type's full gap population, the log2
    * histogram is ONE extra groupBy key. The bucket index is
    * length(bin(gap))−1 — pure integer string length, no floating log2
    * whose 1-ulp error could flip a boundary gap between engines.
    *
    * Scale design: one (user_id, event_type) window for the lag (same
    * exchange family as ev_features), then combinable COUNTs keyed by
    * (type, bucket); the per-type rollup joins back on the
    * types-cardinality relation.
    */
  def evGaps(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evGaps(s.table("__events"))
  }

  /** The parameterized production entry: any frame with (user_id, ts,
    * event_id, event_type).
    */
  def evGaps(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__gap_events")
    s.sql(
      """WITH gaps AS (
        |  SELECT event_type,
        |         unix_micros(ts) - LAG(unix_micros(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS gap
        |  FROM __gap_events),
        |g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
        |hist AS (
        |  SELECT event_type, CAST(length(bin(gap)) - 1 AS BIGINT) AS bucket,
        |         COUNT(*) AS n
        |  FROM g GROUP BY event_type, length(bin(gap)) - 1),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n_gaps, SUM(gap) AS sum_gap
        |  FROM g GROUP BY event_type)
        |SELECT h.event_type, h.bucket, h.n, t.n_gaps,
        |       t.sum_gap div t.n_gaps AS mean_gap_us
        |FROM hist h JOIN tot t ON t.event_type = h.event_type
        |ORDER BY h.event_type, h.bucket""".stripMargin)
  }

  /** Within-session event-type co-occurrence (the market-basket view of
    * the event stream): for every unordered type pair {a,b}, the number
    * of sessions containing BOTH, each type's own session count, and two
    * association scores — lift = n_ab·S/(n_a·n_b) (>1 ⇒ the types attract)
    * and the session-set Jaccard n_ab/(n_a+n_b−n_ab). Sessions are the
    * ev_sessionize 30-minute-gap sessions; a type counts once per session
    * however many times it fires (set semantics — the presence relation).
    *
    * Engine-exactness: integer counts; lift and jaccard are ONE
    * fixed-shape double expression each, rounded to 6 (the ta_tfidf
    * discipline).
    *
    * Scale design: the per-event stream is compacted FIRST to the
    * DISTINCT (user, session, type) presence relation — (sessions ×
    * types)-bounded, the ev_active_users compaction discipline — and
    * MATERIALIZED once (lazy localCheckpoint, the dd_resolve InlineCTE
    * workaround: four consumers would otherwise each re-run the raw-event
    * session window). The pair self-join runs on that compacted relation,
    * so the fan-out per session is ≤ C(|types present|, 2) —
    * |types|²-bounded regardless of session length. The aggregate output
    * is |types|² rows; the count joins against it are broadcast-sized.
    */
  def evCooccur(events: DataFrame, gapMicros: Long): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__co_events")
    // the presence relation: ONE raw-event window pass, then a hard
    // materialization boundary shared by every downstream consumer
    val st = Caches.pin(s.sql(
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN unix_micros(ts) -
         |                   LAG(unix_micros(ts)) OVER w > $gapMicros
         |              OR LAG(ts) OVER w IS NULL
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM __co_events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tagged AS (
         |  SELECT user_id, event_type,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM flagged)
         |SELECT DISTINCT user_id, sess_idx, event_type FROM tagged"""
        .stripMargin))
    st.createOrReplaceTempView("__co_st")
    s.sql(
      """WITH sess AS (SELECT DISTINCT user_id, sess_idx FROM __co_st),
        |ns AS (SELECT COUNT(*) AS n_sessions FROM sess),
        |ta AS (SELECT event_type, COUNT(*) AS n FROM __co_st
        |       GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_ab
        |  FROM __co_st a JOIN __co_st b
        |    ON b.user_id = a.user_id AND b.sess_idx = a.sess_idx
        |   AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT p.t1, p.t2, p.n_ab, x.n AS n_a, y.n AS n_b, ns.n_sessions,
        |       ROUND(CAST(p.n_ab AS DOUBLE) * ns.n_sessions
        |             / (CAST(x.n AS DOUBLE) * y.n), 6) AS lift,
        |       ROUND(CAST(p.n_ab AS DOUBLE) / (x.n + y.n - p.n_ab), 6)
        |         AS jaccard
        |FROM pairs p
        |JOIN ta x ON x.event_type = p.t1
        |JOIN ta y ON y.event_type = p.t2
        |CROSS JOIN ns
        |ORDER BY p.t1, p.t2""".stripMargin)
  }

  /** The oracle-checked form over the events table (30-minute gap). */
  def evCooccur(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evCooccur(s.table("__events"), GapMicros)
  }

  /** A/B experiment readout (the growth-experimentation staple): users
    * are hash-split 50/50 into variants (first md5 hex digit of
    * 'ab:'||user_id < 8 → A — deterministic, independent of the ds_*
    * digest draws), a user CONVERTS iff they fire ≥1 `convType` event,
    * and the readout is the per-variant user/conversion counts, rates,
    * the pooled two-proportion z-score, and the |z| ≥ 1.96 significance
    * flag (the 95 % two-sided normal test, public-textbook form).
    *
    * Engine-exactness: counts are integers off ONE combinable per-user
    * aggregate; rates and z are fixed-shape double expressions over those
    * exact scalars (sqrt is IEEE-correctly-rounded), rounded to 6; the
    * flag compares the ROUNDED z (the taGopher threshold discipline).
    *
    * Scale design: one user_id hash aggregate (the conversion flag is a
    * MAX inside it — no second pass), then a 2-row variant rollup and a
    * single-row pivot. Nothing windowed, nothing joined; at any corpus
    * size the post-user-rollup work is constant.
    */
  def evAbTest(events: DataFrame, convType: String, minCount: Int = 1,
      salt: String = "ab"): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ab_events")
    val z = """(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
      | / SQRT((CAST(ca + cb AS DOUBLE) / (na + nb))
      |        * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
      |        * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb))"""
      .stripMargin.replaceAll("\n", " ")
    // a degenerate pool (nobody / everybody converts) has no variance:
    // the pooled test is undefined — z NULL, significant false (guarded
    // here rather than left to 0/0, which ANSI mode rejects)
    s.sql(
      s"""WITH u AS (
         |  SELECT user_id,
         |         CASE WHEN instr('0123456789abcdef',
         |                substring(md5(concat('$salt:',
         |                  CAST(user_id AS STRING))), 1, 1)) - 1 < 8
         |              THEN 'A' ELSE 'B' END AS variant,
         |         CASE WHEN SUM(CASE WHEN event_type = '$convType'
         |                           THEN 1 ELSE 0 END) >= $minCount
         |              THEN 1 ELSE 0 END AS conv
         |  FROM __ab_events GROUP BY user_id),
         |v AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS c
         |      FROM u GROUP BY variant),
         |w AS (SELECT
         |        MAX(CASE WHEN variant = 'A' THEN n END) AS na,
         |        MAX(CASE WHEN variant = 'A' THEN c END) AS ca,
         |        MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
         |        MAX(CASE WHEN variant = 'B' THEN c END) AS cb
         |      FROM v)
         |SELECT na, ca, nb, cb,
         |       ROUND(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
         |       ROUND(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
         |       CASE WHEN ca + cb = 0 OR ca + cb = na + nb
         |            THEN CAST(NULL AS DOUBLE)
         |            ELSE ROUND($z, 6) END AS z,
         |       CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN false
         |            ELSE ABS(ROUND($z, 6)) >= 1.96 END AS significant
         |FROM w""".stripMargin)
  }

  /** The oracle-checked form: converter = a user with ≥14 'purchase'
    * events (the corpus median — interior rates on the synthetic stream,
    * where EVERY user purchases at least once and a ≥1 rule would be
    * the guarded degenerate).
    */
  def evAbTest(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evAbTest(s.table("__events"), "purchase", minCount = 14)
  }

  /** Bot / automation detection by inter-arrival regularity: per user,
    * the coefficient of variation (stddev/mean) of the gaps between
    * consecutive events. Human traffic is bursty — exponential-ish gaps
    * put cv near 1 — while scripted clients fire on a timer and land
    * near 0; `is_bot` flags users below `cvMax` with at least `minGaps`
    * observed gaps (rate alone can't distinguish a power user from a
    * cron job; regularity can). The reference has no behavioral-abuse
    * operator; this is the events-table member of the curation family
    * (a training pipeline drops scripted/synthetic actors the same way
    * ta_c4filter drops boilerplate).
    *
    * Engine-exactness: gaps are exact integer micros; n/Σgap/Σgap² are
    * exact integer aggregates (Σgap² in DECIMAL(38,0) — a month of
    * micros squared overflows int64); cv is ONE fixed-shape double
    * expression over their casts (the q38_regr sum-then-cast
    * discipline), GREATEST-clamped at 0 before the sqrt so the
    * catastrophic-cancellation corner (a perfectly metronomic bot) can
    * never produce a NaN, rounded to 6.
    *
    * Scale design: one user_id-partitioned LAG window + one user_id
    * partial+final aggregate — two exchanges on the same key (AQE merges
    * them when bucketing aligns), output user-cardinality. The
    * O(1)-state streaming twin is the Gaps/Streaks tracker family.
    */
  def evBots(events: DataFrame, cvMax: Double = 0.3,
      minGaps: Int = 10): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__bot_events")
    botsFromGaps(s.sql(
      """SELECT user_id, gap FROM (
        |  SELECT user_id,
        |         unix_micros(ts) - LAG(unix_micros(ts)) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM __bot_events)
        |WHERE gap IS NOT NULL""".stripMargin), cvMax, minGaps)
  }

  /** The cv aggregation over an already-materialized (user_id, gap µs)
    * relation — shared by [[evBots]] (whose LAG window produces the gaps)
    * and the streaming twin (`streaming.RateTracker`, whose O(1) state
    * emits the SAME gap rows incrementally): n/Σgap/Σgap² are combinable,
    * so the streaming sink aggregated through this entry equals the batch
    * operator exactly (the GapsTracker preimage discipline).
    */
  def botsFromGaps(gaps: DataFrame, cvMax: Double = 0.3,
      minGaps: Int = 10): DataFrame = {
    val s = gaps.sparkSession
    gaps.createOrReplaceTempView("__bot_gaps")
    s.sql(
      s"""WITH m AS (
         |  SELECT user_id, COUNT(*) AS n_gaps,
         |         SUM(gap) AS sx,
         |         SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS sxx
         |  FROM __bot_gaps GROUP BY user_id
         |  HAVING COUNT(*) >= 2),
         |sel AS (
         |  SELECT user_id, n_gaps, sx div n_gaps AS mean_gap_us,
         |         ROUND(sqrt(GREATEST(
         |                 (CAST(n_gaps AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |                 / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)), 0D))
         |               / (CAST(sx AS DOUBLE) / n_gaps), 6) AS cv_gap
         |  FROM m)
         |SELECT user_id, n_gaps, mean_gap_us, cv_gap,
         |       cv_gap < ${cvMax}D AND n_gaps >= $minGaps AS is_bot
         |FROM sel ORDER BY user_id""".stripMargin)
  }

  /** The oracle-checked form: the corpus has no scripted actors, so every
    * user_id % 29 = 3 user's timestamps are replaced by a metronomic
    * 60-second grid from a fixed epoch (the ta_derep planting
    * discipline — synthesize the pathology, then require the detector to
    * find exactly it). Delegates to the production entry.
    */
  def evBots(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    val planted = s.sql(
      """WITH ranked AS (
        |  SELECT user_id, event_id, ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |  FROM __events)
        |SELECT user_id, event_id,
        |       CASE WHEN user_id % 29 = 3
        |            THEN timestampadd(SECOND, CAST(60 * (rn - 1) AS INT),
        |                              TIMESTAMP '2024-01-01 00:00:00')
        |            ELSE ts END AS ts
        |FROM ranked""".stripMargin)
    evBots(planted)
  }

  /** Daily-volume EWMA per event type (α = 1/2): the one-step smoothed
    * forecast a monitoring pipeline lays over ev_spike's z-scores —
    * ewma_d = ½·n_d + ½·ewma_{d−1}, seeded ewma_0 = n_0. The α = ½
    * choice is an exactness decision, not a smoothing opinion: every
    * weight is a power of two, so each term n_i·2^(i−1) is an exact
    * double, the running sum stays under 53 bits at any realistic daily
    * volume (counts 2^20 × 30 days × 2^29 scale ≈ 2^50), and the final
    * 2^(−k) rescale is exponent arithmetic — the recurrence is therefore
    * EXACT and summation-order-free in BOTH engines, with no sequential
    * fold needed: the closed form ewma_k = 2^(−k)·Σ_{i≤k} n_i·2^(max(i−1,0))
    * turns the recurrence into ONE running-window SUM.
    *
    * Scale design: one (type, day) partial+final count (output
    * days×types-bounded at any event volume), then two windows over that
    * tiny relation. The streaming twin is SpikeTracker's per-type state
    * family; the EWMA itself is one multiply-add per trigger there.
    */
  def evEwma(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ewma_events")
    s.sql(
      """WITH d AS (
        |  SELECT event_type, date_trunc('DAY', ts) AS day, COUNT(*) AS n
        |  FROM __ewma_events GROUP BY event_type, date_trunc('DAY', ts)),
        |w AS (
        |  SELECT event_type, day, n,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY day) AS BIGINT) - 1 AS k
        |  FROM d),
        |acc AS (
        |  SELECT event_type, day, n, k,
        |         SUM(n * POWER(2.0D, GREATEST(k - 1, 0L))) OVER (
        |           PARTITION BY event_type ORDER BY k) AS s
        |  FROM w)
        |SELECT event_type, day, n,
        |       s * POWER(0.5D, k) AS ewma
        |FROM acc ORDER BY event_type, day""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evEwma(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evEwma(s.table("__events"))
  }

  /** Day-of-week seasonality profile per event type: volume count and
    * within-type share for each ISO weekday (1 = Monday … 7 = Sunday) —
    * the baseline that separates "weekend dip" from a real ev_spike /
    * ev_ewma anomaly. ISO numbering on BOTH engines (Spark weekday()+1 ≡
    * DuckDB isodow — their default dayofweek() disagree on where Sunday
    * lives, a real cross-engine trap). Share is ONE double division of
    * two exact counts, rounded to 6 (the ta_tfidf discipline).
    *
    * Scale design: one (type, dow) partial+final count — output is
    * 7×types-bounded at any event volume; the per-type total reuses the
    * counted relation via a window over ≤ 7 rows per type.
    */
  def evDow(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__dow_events")
    s.sql(
      """WITH d AS (
        |  SELECT event_type, CAST(weekday(ts) + 1 AS BIGINT) AS dow,
        |         COUNT(*) AS n
        |  FROM __dow_events GROUP BY event_type, weekday(ts) + 1)
        |SELECT event_type, dow, n,
        |       ROUND(CAST(n AS DOUBLE)
        |             / SUM(n) OVER (PARTITION BY event_type), 6) AS share
        |FROM d ORDER BY event_type, dow""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evDow(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evDow(s.table("__events"))
  }

  /** Cohort lifetime-value curve: users cohorted by first-seen week,
    * then per (cohort, age-in-weeks): active users, the week's exact
    * revenue, the cohort's CUMULATIVE revenue, and cumulative revenue per
    * cohort user (the LTV curve a growth dashboard plots; ev_retention
    * answers "did they come back", this answers "what are they worth by
    * week N"). Monday-start weeks in both engines (Spark
    * date_trunc('WEEK') ≡ DuckDB date_trunc('week')).
    *
    * Engine-exactness: revenue sums run in DECIMAL(18,2) — the event
    * `value` column is generated with 2 decimals, so the sums are exact
    * integers in cents and the single ltv division rounds identically
    * (the q38_regr sum-then-cast discipline); the cumulative window is a
    * sum of exact decimals.
    *
    * Scale design: one user-keyed window (first-seen), one (cohort, age)
    * partial+final aggregate, then a window over the weeks×weeks-bounded
    * curve; the cohort-size relation is cohort-cardinality and joins
    * broadcast.
    */
  def evLtv(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ltv_events")
    s.sql(
      """WITH seen AS (
        |  SELECT user_id, ts, value,
        |         MIN(date_trunc('WEEK', ts)) OVER (PARTITION BY user_id)
        |           AS cohort
        |  FROM __ltv_events),
        |sized AS (
        |  SELECT cohort, COUNT(DISTINCT user_id) AS cohort_users
        |  FROM seen GROUP BY cohort),
        |wk AS (
        |  SELECT cohort,
        |         datediff(date_trunc('WEEK', ts), cohort) div 7 AS age_weeks,
        |         COUNT(DISTINCT user_id) AS active_users,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS revenue
        |  FROM seen GROUP BY cohort, datediff(date_trunc('WEEK', ts), cohort) div 7),
        |cum AS (
        |  SELECT cohort, age_weeks, active_users, revenue,
        |         SUM(revenue) OVER (PARTITION BY cohort ORDER BY age_weeks)
        |           AS cum_revenue
        |  FROM wk)
        |SELECT c.cohort, c.age_weeks, c.active_users,
        |       CAST(c.revenue AS DOUBLE) AS revenue,
        |       CAST(c.cum_revenue AS DOUBLE) AS cum_revenue,
        |       s.cohort_users,
        |       ROUND(CAST(c.cum_revenue AS DOUBLE) / s.cohort_users, 6)
        |         AS ltv
        |FROM cum c JOIN sized s ON s.cohort = c.cohort
        |ORDER BY c.cohort, c.age_weeks""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evLtv(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evLtv(s.table("__events"))
  }

  /** Discrete survival analysis (Nelson-Aalen cumulative hazard) over
    * arbitrary subjects: rows (t: integer duration units, censored:
    * BOOLEAN) — e.g. session lengths, days-to-churn, time-to-conversion.
    * For every duration t with at least one EVENT (non-censored exit):
    * the risk set n_risk (subjects surviving to t), the event count, the
    * discrete hazard d/n, and the Nelson-Aalen cumulative hazard
    * H(t) = Σ_{u ≤ t} d_u/n_u. Right-censored subjects leave the risk set
    * at their t without contributing an event — the estimator every
    * retention/reliability dashboard uses when observation windows cut
    * lifetimes short.
    *
    * Engine-exactness: counts are integers; each hazard is ONE double
    * division; the cumulative sum runs over ROUND(d/n, 9) DECIMAL(28,9)
    * terms (the ta_entropy fixed-point discipline — double cumulative
    * sums are order-exact but decimal terms make the window sum
    * bit-identical by construction), cast+rounded once at the end.
    *
    * Scale design: the corpus-sized work is ONE (t) partial+final
    * aggregate; the risk-set table is duration-vocabulary-sized (bounded
    * by the distinct duration values, not the corpus), so its global
    * cumulative window is a deliberate single-partition stage over a tiny
    * relation — same shape as the ev_gaps spectrum.
    */
  def evSurvival(subjects: DataFrame): DataFrame = {
    val s = subjects.sparkSession
    subjects.createOrReplaceTempView("__surv_subj")
    s.sql(
      """WITH tot AS (SELECT COUNT(*) AS n FROM __surv_subj),
        |bins AS (
        |  SELECT t, COUNT(*) AS n_t,
        |         SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d_t
        |  FROM __surv_subj GROUP BY t),
        |risk AS (
        |  SELECT t, d_t,
        |         tot.n - COALESCE(SUM(n_t) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS n_risk
        |  FROM bins CROSS JOIN tot)
        |SELECT t, n_risk, d_t AS n_events,
        |       ROUND(CAST(d_t AS DOUBLE) / n_risk, 6) AS hazard,
        |       ROUND(CAST(SUM(CAST(ROUND(CAST(d_t AS DOUBLE) / n_risk, 9)
        |             AS DECIMAL(28,9))) OVER (ORDER BY t) AS DOUBLE), 6)
        |         AS cum_hazard
        |FROM risk WHERE d_t > 0 ORDER BY t""".stripMargin)
  }

  /** The oracle-checked form: subjects are the 30-minute-gap sessions of
    * the testdata events, t = session duration in whole minutes, no
    * censoring (every session in the window is complete) — the session-
    * length hazard curve. Delegates to the production entry; the spec
    * exercises censoring on hand data.
    */
  def evSurvival(s: SparkSession, dir: String): DataFrame =
    evSurvival(evSessionize(s, dir).selectExpr(
      "(unix_micros(sess_end) - unix_micros(sess_start)) div 60000000 AS t",
      "false AS censored"))

  /** Per-day activity leaderboard: the top `k` users of every
    * (event_type, day) cell by event count, deterministic (count DESC,
    * user_id) tiebreak — the exact-top-k batch sibling of the streaming
    * Space-Saving summary ([[graft.streaming.TopKTracker]]); a dashboard
    * reads this, the tracker approximates it online.
    *
    * Scale design: one (type, day, user) partial+final count, then a
    * rank window over (type, day) groups that Spark executes with a
    * map-side WindowGroupLimit (each task keeps k rows per group before
    * the exchange — the ds_sample plan shape), so the exchange carries
    * O(groups × k), not the full user×day grid. Days are integer
    * epoch-days (the ev_retention discipline).
    */
  def evDailyTop(events: DataFrame, k: Int = 3): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__dt_events")
    s.sql(
      s"""WITH d AS (
         |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
         |         user_id, COUNT(*) AS n
         |  FROM __dt_events GROUP BY event_type, 2, user_id)
         |SELECT event_type, day, user_id, n, rn FROM (
         |  SELECT event_type, day, user_id, n,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type, day
         |                ORDER BY n DESC, user_id) AS BIGINT) AS rn
         |  FROM d)
         |WHERE rn <= $k
         |ORDER BY event_type, day, rn""".stripMargin)
  }

  /** The oracle-checked form: top-3 per (type, day) over the testdata. */
  def evDailyTop(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evDailyTop(s.table("__events"))
  }

  /** Churn-label generation (the training-label primitive of every churn
    * model): two adjacent `wDays`-day windows ending at the stream's max
    * timestamp — every user active in the OBSERVATION window W1
    * (2w..w days back) gets their W1/W2 activity counts and the label
    * `churned` = no event in the OUTCOME window W2 (last w days). The
    * half-open bounds make each event belong to exactly one window.
    *
    * Scale design: the window edge is ONE scalar (MAX ts) broadcast via
    * a single-row cross join; both window counts are user-keyed
    * partial+final aggregates sharing the user_id partitioning with the
    * final left join.
    */
  def evChurn(events: DataFrame, wDays: Int = 7): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ch_events")
    s.sql(
      s"""WITH w AS (SELECT MAX(ts) AS wend FROM __ch_events),
         |w1 AS (
         |  SELECT user_id, COUNT(*) AS n_w1 FROM __ch_events CROSS JOIN w
         |  WHERE ts > wend - INTERVAL ${2 * wDays} DAY
         |    AND ts <= wend - INTERVAL $wDays DAY
         |  GROUP BY user_id),
         |w2 AS (
         |  SELECT user_id, COUNT(*) AS n_w2 FROM __ch_events CROSS JOIN w
         |  WHERE ts > wend - INTERVAL $wDays DAY
         |  GROUP BY user_id)
         |SELECT w1.user_id, w1.n_w1,
         |       COALESCE(w2.n_w2, CAST(0 AS BIGINT)) AS n_w2,
         |       COALESCE(w2.n_w2, CAST(0 AS BIGINT)) = 0 AS churned
         |FROM w1 LEFT JOIN w2 ON w2.user_id = w1.user_id
         |ORDER BY w1.user_id""".stripMargin)
  }

  /** The oracle-checked form: 7-day windows over the testdata events. */
  def evChurn(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evChurn(s.table("__events"))
  }

  /** Audience overlap matrix: for every event-type pair (a < b), the
    * distinct-user intersection, both audience sizes, and the Jaccard —
    * "do clickers also purchase" as a table. [[evCooccur]] scores
    * within-SESSION co-occurrence; this is the account-level version a
    * growth dashboard reads.
    *
    * Scale design: the (type, user) incidence is distinct-compacted FIRST
    * (one shuffle, types×users bounded), so the pair join's fan-in per
    * user is the type count (single digits) — linear in users, never
    * events² — and the audience-size relation broadcasts.
    */
  def evOverlap(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ov_events")
    s.sql(
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM __ov_events),
        |cnt AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         COUNT(*) AS n_both
        |  FROM tu a JOIN tu b
        |    ON b.user_id = a.user_id AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT i.type_a, i.type_b, i.n_both, ca.n AS n_a, cb.n AS n_b,
        |       ROUND(CAST(i.n_both AS DOUBLE) / (ca.n + cb.n - i.n_both), 6)
        |         AS jaccard
        |FROM inter i
        |JOIN cnt ca ON ca.event_type = i.type_a
        |JOIN cnt cb ON cb.event_type = i.type_b
        |ORDER BY type_a, type_b""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evOverlap(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evOverlap(s.table("__events"))
  }

  /** Per-user behavioral entropy: the Shannon entropy (bits) of each
    * user's event-type distribution — H = log2(n) − Σ c·log2(c)/n, the
    * ta_entropy fixed-point discipline applied per user. Low-entropy
    * accounts hammer one action (scrapers, monitors — the distributional
    * complement of ev_bots' timing signal); high entropy reads as organic
    * mixed usage.
    *
    * Scale design: one (user, type) partial+final count, one user-level
    * rollup carrying the decimal term sums; the only transcendentals are
    * integer-argument log2 (libm-safe, the established contract).
    */
  def evEntropy(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__en_events")
    s.sql(
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM __en_events GROUP BY user_id, event_type),
        |t AS (
        |  SELECT user_id, SUM(c) AS n, COUNT(*) AS n_types,
        |         SUM(CAST(ROUND(c * log2(CAST(c AS DOUBLE)), 9)
        |             AS DECIMAL(28,9))) AS sterm
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n AS n_events, n_types,
        |       ROUND(ROUND(log2(CAST(n AS DOUBLE)), 9)
        |             - CAST(sterm AS DOUBLE) / n, 6) AS entropy
        |FROM t ORDER BY user_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evEntropy(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evEntropy(s.table("__events"))
  }

  /** Growth accounting (the new/retained/resurrected/churned weekly
    * decomposition every growth team reports): per epoch week, actives
    * split into NEW (first-ever week), RETAINED (also active the
    * previous week) and RESURRECTED (active before, but not last week);
    * churned = last week's actives who did not return (= prev actives −
    * this week's retained). All integer set algebra over the distinct
    * (user, week) incidence.
    *
    * Scale design: one distinct compaction of the event stream to (user,
    * week), one user-keyed window for first/previous weeks, one week
    * aggregate, and a self-join of the WEEKS-sized summary for the churn
    * column.
    */
  def evGrowth(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__gr_events")
    s.sql(
      """WITH uw AS (
        |  SELECT DISTINCT user_id, unix_micros(ts) div 604800000000 AS wk
        |  FROM __gr_events),
        |lagd AS (
        |  SELECT user_id, wk,
        |         MIN(wk) OVER (PARTITION BY user_id) AS fw,
        |         LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev
        |  FROM uw),
        |agg AS (
        |  SELECT wk, COUNT(*) AS n_active,
        |         SUM(CASE WHEN fw = wk THEN 1 ELSE 0 END) AS n_new,
        |         SUM(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END) AS n_retained,
        |         SUM(CASE WHEN prev IS NOT NULL AND prev < wk - 1
        |                  THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM lagd GROUP BY wk)
        |SELECT a.wk, a.n_active, a.n_new, a.n_retained, a.n_resurrected,
        |       COALESCE(p.n_active, CAST(0 AS BIGINT)) - a.n_retained
        |         AS n_churned_prev
        |FROM agg a LEFT JOIN agg p ON p.wk = a.wk - 1
        |ORDER BY a.wk""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evGrowth(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evGrowth(s.table("__events"))
  }

  /** Hour-of-day traffic profile per event type (UTC) — ev_dow's intraday
    * sibling: counts and within-type shares over the 24-hour grid, the
    * seasonality baseline a spike detector normalizes against. One
    * (type, hour) partial+final aggregate; the share window runs over the
    * 24×types grid.
    */
  def evHod(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__hod_events")
    s.sql(
      """WITH d AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, COUNT(*) AS n
        |  FROM __hod_events GROUP BY event_type, hour(ts))
        |SELECT event_type, hod, n,
        |       ROUND(CAST(n AS DOUBLE) /
        |             SUM(n) OVER (PARTITION BY event_type), 6) AS share
        |FROM d ORDER BY event_type, hod""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evHod(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evHod(s.table("__events"))
  }

  /** Arrival dispersion per event type: the Fano factor (variance/mean)
    * of per-minute event counts over the type's own [first, last] minute
    * span, ZEROS INCLUDED — the Poisson test for arrival streams. A
    * Poisson-ish feed reads ≈ 1; campaign bursts push ≫ 1; a metronome
    * (load-test traffic) reads ≪ 1. The event-stream sibling of
    * ta_burstiness, same one-expression integer algebra:
    * fano = (N·Σc² − (Σc)²) / (N·Σc) with N = span minutes.
    *
    * Scale design: one (type, minute) partial+final count, one type-level
    * rollup carrying Σc/Σc²/min/max — types-sized output.
    */
  def evDispersion(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__dp_events")
    s.sql(
      """WITH m AS (
        |  SELECT event_type, unix_micros(ts) div 60000000 AS minute,
        |         COUNT(*) AS c
        |  FROM __dp_events GROUP BY event_type, 2),
        |t AS (
        |  SELECT event_type,
        |         MAX(minute) - MIN(minute) + 1 AS n_minutes,
        |         SUM(c) AS sc, SUM(c * c) AS sc2
        |  FROM m GROUP BY event_type)
        |SELECT event_type, n_minutes, sc AS n_events,
        |       ROUND((CAST(n_minutes AS DOUBLE) * sc2
        |              - CAST(sc AS DOUBLE) * sc)
        |             / (CAST(n_minutes AS DOUBLE) * sc), 6) AS fano
        |FROM t ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evDispersion(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evDispersion(s.table("__events"))
  }

  /** Conversion-lag spectrum: per converting user, the delay from FIRST
    * view to FIRST purchase, log2-bucketed in seconds (the ev_gaps
    * bucketing applied across types instead of within one) — the
    * time-to-convert curve growth teams read before setting attribution
    * windows. Lag is integer seconds, so every per-bucket sum is exact;
    * only the final mean divides. Users who purchase before ever viewing
    * (gift-link conversions) are excluded by the first_view <=
    * first_purchase guard, same as a funnel's ordering rule.
    *
    * Scale design: ONE user_id aggregate carries both firsts as
    * conditional MINs (no self-join of two filtered scans), then a
    * ~32-bucket rollup — nothing user-sized leaves the first exchange.
    */
  def evLag(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__lag_events")
    s.sql(
      """WITH f AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM __lag_events GROUP BY user_id),
        |l AS (
        |  SELECT (unix_micros(fp) - unix_micros(fv)) div 1000000 AS lag_s
        |  FROM f
        |  WHERE fv IS NOT NULL AND fp IS NOT NULL AND fv <= fp)
        |SELECT CAST(floor(log2(lag_s + 1)) AS BIGINT) AS bucket,
        |       COUNT(*) AS n_users, MIN(lag_s) AS min_lag_s,
        |       MAX(lag_s) AS max_lag_s,
        |       ROUND(CAST(SUM(lag_s) AS DOUBLE) / COUNT(*), 6) AS mean_lag_s
        |FROM l GROUP BY 1 ORDER BY bucket""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evLag(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evLag(s.table("__events"))
  }

  /** Recency-decayed engagement score: per user, Σ over ACTIVE DAYS of
    * 2^−(T−d) where T is the stream's last day — half-life exactly one
    * day, the ev_ewma dyadic discipline applied to engagement scoring
    * (a user active today scores 1 from today plus a geometric tail; a
    * lapsed user's score halves daily). Every term is 1 / 2^k computed
    * by integer shift then ONE exact double division, and with ≤ 2^53 /
    * 2^span total mass the SUM of dyadics is bit-exact in any order —
    * no decimal machinery needed, both engines agree to the last bit.
    * Terms 63+ days old are clamped to 0: their true contribution is
    * below 1 ulp of any score that survives the 6-dp ROUND, and an
    * UNclamped shift count wraps mod 64 in both engines' Java/C shift
    * semantics — activity 64 days old would silently score ~1.0, not
    * ~2^-64 (bitten on any corpus spanning more than 63 days).
    *
    * Scale design: one (user, day) distinct pass, a broadcast 1-row max,
    * and a user-sized rollup.
    */
  def evDecay(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__dc_events")
    s.sql(
      """WITH d AS (
        |  SELECT DISTINCT user_id, unix_micros(ts) div 86400000000 AS day
        |  FROM __dc_events),
        |t AS (SELECT MAX(day) AS tday FROM d)
        |SELECT user_id, COUNT(*) AS n_days,
        |       ROUND(SUM(CASE WHEN t.tday - day < 63
        |               THEN 1.0 / CAST(shiftleft(CAST(1 AS BIGINT),
        |                 CAST(t.tday - day AS INT)) AS DOUBLE)
        |               ELSE CAST(0 AS DOUBLE) END), 6) AS score
        |FROM d CROSS JOIN t GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evDecay(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evDecay(s.table("__events"))
  }

  /** Sample-ratio-mismatch (SRM) audit: chi-square (1 dof) of the
    * 50/50 hash assignment the experimentation stack depends on —
    * [[evAbTest]] trusts its split; THIS op checks the split, the first
    * thing a trustworthy A/B platform validates (a failed SRM voids the
    * experiment regardless of its p-value). Assignment is the ds_kfold
    * digit rule (seed 'srm:') over distinct users; chi2 =
    * (na−nb)²/(na+nb) exactly for two cells, flagged at the 99 %
    * critical value 6.635. The flag derives from the ROUNDED chi2, so
    * both engines agree bit-for-bit.
    *
    * Scale design: one distinct pass over users, one 2-cell rollup,
    * one-row output.
    */
  def evSrm(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__srm_events")
    s.sql(
      """WITH u AS (SELECT DISTINCT user_id FROM __srm_events),
        |g AS (
        |  SELECT ((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
        |          + instr('0123456789abcdef', substring(h, 2, 1)) - 1) % 2
        |           AS grp
        |  FROM (SELECT md5(concat('srm:', CAST(user_id AS STRING))) AS h
        |        FROM u)),
        |c AS (SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS na,
        |             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS nb
        |      FROM g HAVING COUNT(*) > 0)
        |SELECT na, nb,
        |       ROUND(CAST(na - nb AS DOUBLE) * (na - nb) / (na + nb), 6)
        |         AS chi2,
        |       ROUND(CAST(na - nb AS DOUBLE) * (na - nb) / (na + nb), 6)
        |         > 6.635 AS srm
        |FROM c""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evSrm(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evSrm(s.table("__events"))
  }

  /** Lag-1 autocorrelation of per-minute arrival counts per event type —
    * the memory test that complements [[evDispersion]]'s variance test:
    * a Poisson feed reads ≈ 0, campaign waves read positive, an
    * alternating load-balancer artifact reads negative. Zero minutes
    * inside the span count, WITHOUT materializing them: over the span
    * [lo, hi], Σx/Σx² drop only the hi-minute term, Σy/Σy² drop the lo
    * term, n = hi − lo, and Σxy needs only the PRESENT consecutive
    * pairs (an absent neighbor contributes a zero product). Every sum
    * is an integer carried as DECIMAL(38,0) (overflow-safe at any
    * event rate); one final division, with a NULL guard on degenerate
    * variance (a constant series has no defined autocorrelation).
    *
    * Scale design: one (type, minute) partial+final count, a self-join
    * on minute+1 of that minutes-sized relation, and types-sized output.
    */
  def evAutocorr(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ac_events")
    s.sql(
      """WITH m AS (
        |  SELECT event_type, unix_micros(ts) div 60000000 AS minute,
        |         COUNT(*) AS c
        |  FROM __ac_events GROUP BY event_type, 2),
        |t AS (
        |  SELECT event_type, MIN(minute) AS lo, MAX(minute) AS hi,
        |         SUM(c) AS s, SUM(c * c) AS q
        |  FROM m GROUP BY event_type),
        |xy AS (
        |  SELECT a.event_type, SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS sxy
        |  FROM m a JOIN m b ON b.event_type = a.event_type
        |    AND b.minute = a.minute + 1
        |  GROUP BY a.event_type),
        |bnd AS (
        |  SELECT m.event_type,
        |         SUM(CASE WHEN m.minute = t.lo THEN m.c ELSE 0 END) AS clo,
        |         SUM(CASE WHEN m.minute = t.hi THEN m.c ELSE 0 END) AS chi
        |  FROM m JOIN t ON t.event_type = m.event_type
        |  GROUP BY m.event_type),
        |f AS (
        |  SELECT t.event_type, t.hi - t.lo AS n,
        |         t.s - bnd.chi AS sx, t.s - bnd.clo AS sy,
        |         t.q - bnd.chi * bnd.chi AS qx,
        |         t.q - bnd.clo * bnd.clo AS qy,
        |         coalesce(xy.sxy, 0) AS sxy
        |  FROM t JOIN bnd ON bnd.event_type = t.event_type
        |  LEFT JOIN xy ON xy.event_type = t.event_type)
        |SELECT event_type, n AS n_pairs,
        |       CASE WHEN n * qx - sx * sx <= 0 OR n * qy - sy * sy <= 0
        |            THEN NULL
        |            ELSE ROUND(CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |                   - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
        |              / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * qx
        |                   - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
        |               * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * qy
        |                   - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))), 6)
        |       END AS autocorr
        |FROM f ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evAutocorr(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evAutocorr(s.table("__events"))
  }

  /** User-lifespan spectrum: per user, the wall-clock span from first
    * to last event, log2-bucketed in seconds (the ev_lag bucketing
    * applied to account age) — the engagement-depth curve that separates
    * drive-by users (bucket 0: a single touch) from residents, and the
    * denominator context for ev_churn's window labels. One MIN and one
    * MAX per user, integer seconds, exact sums.
    *
    * Scale design: ONE user_id aggregate carries both extremes; the
    * ~32-bucket rollup is the only thing after the exchange.
    */
  def evLifespan(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__lf_events")
    s.sql(
      """WITH f AS (
        |  SELECT user_id,
        |         (unix_micros(MAX(ts)) - unix_micros(MIN(ts))) div 1000000
        |           AS span_s
        |  FROM __lf_events GROUP BY user_id)
        |SELECT CAST(floor(log2(span_s + 1)) AS BIGINT) AS bucket,
        |       COUNT(*) AS n_users, MIN(span_s) AS min_span_s,
        |       MAX(span_s) AS max_span_s,
        |       ROUND(CAST(SUM(span_s) AS DOUBLE) / COUNT(*), 6)
        |         AS mean_span_s
        |FROM f GROUP BY 1 ORDER BY bucket""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evLifespan(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evLifespan(s.table("__events"))
  }

  /** Behavioral trigram mining: the top-k most frequent ordered
    * event-type trigrams over each user's timeline (ts then event_id as
    * the deterministic tie-break, the ev_markov ordering) — the
    * sequential-pattern table session-replay products surface, and the
    * 3-gram generalization of ev_markov's transition matrix. Rank is
    * fully tie-broken (count desc, then lexicographic), so top-k is a
    * total order in both engines.
    *
    * Scale design: one user_id exchange for the LEAD window (shared with
    * every other per-user op), then a |types|³-bounded count relation —
    * the global rank window sorts at most 125 rows for 5 event types,
    * and the type alphabet, not the corpus, bounds it at any SF.
    */
  def evTrigrams(events: DataFrame, topK: Int = 20): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__tg_events")
    s.sql(
      s"""WITH s AS (
         |  SELECT event_type AS e1,
         |         LEAD(event_type, 1) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS e2,
         |         LEAD(event_type, 2) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS e3
         |  FROM __tg_events)
         |SELECT e1, e2, e3, n, rn FROM (
         |  SELECT e1, e2, e3, n,
         |         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3)
         |           AS BIGINT) AS rn
         |  FROM (SELECT e1, e2, e3, COUNT(*) AS n FROM s
         |        WHERE e3 IS NOT NULL GROUP BY e1, e2, e3))
         |WHERE rn <= $topK ORDER BY rn""".stripMargin)
  }

  /** The oracle-checked form: top-20 trigrams over the testdata events. */
  def evTrigrams(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evTrigrams(s.table("__events"))
  }

  /** Weekly stickiness: mean daily active users over weekly active users
    * per ISO week (the DAU/MAU product metric at the granularity a
    * 30-day corpus supports) — 1.0 means every weekly user shows up
    * every active day; 1/7 is the drive-by floor. Daily counts are
    * integers, so sum_dau is exact and only the final ratio divides.
    *
    * Scale design: one (user, day) distinct pass (week is derived from
    * day, so the distinct carries no extra key), then a days-sized DAU
    * rollup and a weeks-sized COUNT(DISTINCT user) — both partial-agg
    * friendly; output is weeks-sized.
    */
  def evStickiness(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__st_events")
    s.sql(
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS DATE) AS week,
        |         CAST(ts AS DATE) AS day
        |  FROM __st_events),
        |dau AS (SELECT week, day, COUNT(*) AS dau FROM d GROUP BY week, day),
        |wau AS (SELECT week, COUNT(DISTINCT user_id) AS wau FROM d
        |        GROUP BY week)
        |SELECT CAST(w.week AS STRING) AS week, COUNT(*) AS n_days,
        |       SUM(dau.dau) AS sum_dau, w.wau,
        |       ROUND(CAST(SUM(dau.dau) AS DOUBLE) / COUNT(*) / w.wau, 6)
        |         AS stickiness
        |FROM dau JOIN wau w ON w.week = dau.week
        |GROUP BY w.week, w.wau ORDER BY w.week""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evStickiness(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evStickiness(s.table("__events"))
  }

  /** Market-basket association rules (Agrawal & Srikant 1994, the pair
    * tier): baskets are (user, epoch-day) purchase sets of the `props.k`
    * item key; for every DIRECTIONAL item pair with co-occurrence ≥
    * `minSupport` baskets, the classic rule triple — support (share of
    * all baskets containing both), confidence (P(cons | ante basket)),
    * lift (observed co-rate over independence). The "people who bought X
    * also bought Y" primitive behind recommender candidate generation.
    * Differs from [[evCooccur]] in every dimension that matters to a
    * recommender: baskets are calendar days (not 30-min sessions), the
    * vocabulary is the ITEM key parsed from props (not the 5 event
    * types), and rules are directional with a support floor.
    *
    * Engine-exactness: all counts integral; support/confidence/lift are
    * ONE fixed-shape double expression each, rounded to 6 (the ta_tfidf
    * discipline).
    *
    * Scale design: the stream compacts FIRST to the DISTINCT (user, day,
    * item) presence relation (the ev_active_users discipline),
    * MATERIALIZED once (lazy localCheckpoint — the dd_resolve InlineCTE
    * workaround: the total, the item counts and both self-join sides
    * would otherwise each re-run the per-event distinct) — fan-out
    * for the pair self-join is then C(basket size, 2) per basket,
    * bounded by daily purchase breadth, never by event volume; the
    * aggregate output is ≤ |items|² rows, and the count/total joins
    * against it are broadcast-sized. At a 100 TB item vocabulary the
    * support floor moves INTO the plan as a frequent-item semi-join
    * (the Apriori property: no pair can beat minSupport if either leg
    * does not) — same rule shape, pruned candidate space.
    */
  def evBasket(events: DataFrame, minSupport: Int): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__bk_events")
    // compact the raw stream ONCE; the basket relation feeds the total,
    // the item counts and both sides of the pair self-join — without the
    // lazy checkpoint InlineCTE re-runs the distinct per consumer
    Caches.pin(s.sql(
      s"""SELECT DISTINCT user_id, unix_micros(ts) div 86400000000 AS day,
         |       CAST(get_json_object(props, '$$.k') AS BIGINT) AS item
         |FROM __bk_events WHERE event_type = 'purchase'""".stripMargin))
      .createOrReplaceTempView("__bk_items")
    s.sql(
      s"""WITH items AS (SELECT * FROM __bk_items),
         |nb AS (
         |  SELECT COUNT(*) AS n_baskets FROM (
         |    SELECT DISTINCT user_id, day FROM items)),
         |cnt AS (SELECT item, COUNT(*) AS n FROM items GROUP BY item),
         |pairs AS (
         |  SELECT a.item AS ante, b.item AS cons, COUNT(*) AS n_ab
         |  FROM items a JOIN items b
         |    ON b.user_id = a.user_id AND b.day = a.day AND b.item <> a.item
         |  GROUP BY a.item, b.item)
         |SELECT p.ante, p.cons, p.n_ab, ca.n AS n_ante, cc.n AS n_cons,
         |       ROUND(CAST(p.n_ab AS DOUBLE) / nb.n_baskets, 6) AS support,
         |       ROUND(CAST(p.n_ab AS DOUBLE) / ca.n, 6) AS confidence,
         |       ROUND(CAST(p.n_ab AS DOUBLE) * nb.n_baskets
         |             / (CAST(ca.n AS DOUBLE) * cc.n), 6) AS lift
         |FROM pairs p
         |JOIN cnt ca ON ca.item = p.ante
         |JOIN cnt cc ON cc.item = p.cons
         |CROSS JOIN nb
         |WHERE p.n_ab >= $minSupport
         |ORDER BY ante, cons""".stripMargin)
  }

  /** The oracle-checked form over the testdata events (minSupport 2 — the
    * synthetic stream's daily baskets are thin: ~1.2 distinct items, so a
    * higher floor returns nothing below sf0.1; a real retail corpus runs
    * the parameterized entry with a floor in the hundreds). */
  def evBasket(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evBasket(s.table("__events"), minSupport = 2)
  }

  /** Weekly-seasonality strength per event type: a one-way ANOVA on the
    * daily count series grouped by day-of-week — `strength = 1 −
    * SS_within/SS_total` is the share of daily-traffic variance the
    * weekly cycle explains (0 = no weekly pattern, → 1 = traffic is a
    * pure function of the weekday), plus the ADJUSTED strength
    * (1 − MS_within/MS_total, the eta²-adjusted form): raw R² inflates
    * under the null by E[R²] = (k−1)/(n−1) — a 30-day series in 7 DOW
    * cells reads ~0.2-0.4 of pure noise (0.38 in PERF.md r7, addendum26) —
    * while the adjusted statistic centers on 0, so `strength_adj` is
    * the gate and `strength` the effect size. Quantifies what [[evDow]] only
    * profiles, and is the calendar-decomposition gate in front of
    * [[evSpike]]: a high-strength type needs DOW-adjusted baselines or
    * every Monday reads as an anomaly.
    *
    * Engine-exactness: daily counts are integers; each of the 7 per-DOW
    * sum-of-squares terms is ONE fixed-shape double expression
    * (Σn² − (Σn)²/n_g) rounded to 6, summed order-free as DECIMAL(28,6);
    * SS_total is the same shape once; one final division.
    *
    * Scale design: ALL per-event work is one combinable COUNT keyed by
    * (event_type, day) — everything after runs on the (types × days)
    * grid (the ev_spike compaction discipline).
    */
  def evSeasonality(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__sea_events")
    s.sql(
      """WITH daily AS (
        |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
        |         COUNT(*) AS n
        |  FROM __sea_events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, day % 7 AS dow, COUNT(*) AS n_g,
        |         SUM(n) AS s_g, SUM(n * n) AS sq_g
        |  FROM daily GROUP BY event_type, day % 7),
        |w AS (
        |  SELECT event_type,
        |         SUM(CAST(ROUND(CAST(sq_g AS DOUBLE)
        |               - CAST(s_g AS DOUBLE) * s_g / n_g, 6)
        |             AS DECIMAL(28,6))) AS ss_w,
        |         COUNT(*) AS k_g,
        |         SUM(n_g) AS n_days, SUM(s_g) AS s, SUM(sq_g) AS sq
        |  FROM g GROUP BY event_type)
        |SELECT event_type, n_days,
        |       ROUND(CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days, 6)
        |         AS ss_total,
        |       CAST(ss_w AS DOUBLE) AS ss_within,
        |       CASE WHEN CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days
        |                 = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(1 - CAST(ss_w AS DOUBLE)
        |             / (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days),
        |             6) END AS strength,
        |       CASE WHEN n_days <= k_g
        |                 OR CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days
        |                    = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(1 - (CAST(ss_w AS DOUBLE) / (n_days - k_g))
        |             / ((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
        |                / (n_days - 1)),
        |             6) END AS strength_adj
        |FROM w ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evSeasonality(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evSeasonality(s.table("__events"))
  }

  /** Heavy-tail exponent of per-user activity (Clauset-Shalizi-Newman
    * 2009, the discrete MLE at xmin = 1): per event type, `alpha = 1 +
    * n/Σ ln(x_u)` over each user's event count. The participation-
    * inequality audit in one number — alpha near 2 is an extreme
    * bot-like tail (complementing [[evBots]]' per-user verdicts and
    * [[evGini]]'s Lorenz view with the generative-model parameter).
    * Interpretation contract: this is the PLAIN xmin=1 discrete
    * estimator — alpha near 1 means activity mass sits far ABOVE xmin
    * (a concentrated, NOT scale-free-from-1 population; re-fit with a
    * raised xmin before claiming a power law), and a genuinely Pareto
    * tail reads ~0.8 above its continuous exponent (the known floor
    * bias CSN's xmin−0.5 correction would remove — measured in
    * PERF.md r7, addendum26). `max_x` anchors the tail the
    * estimate summarizes.
    *
    * Engine-exactness: counts are integers; each user's ln(x) is rounded
    * to 9 BEFORE the order-free DECIMAL(28,9) sum (the ta_perplexity
    * transcendental discipline); one final division.
    *
    * Scale design: one combinable (event_type, user) COUNT, then a
    * types-sized aggregate over the per-user relation — no joins, no
    * windows, nothing per-event after the first pass.
    */
  def evPowerlaw(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__pl_events")
    s.sql(
      """WITH peruser AS (
        |  SELECT event_type, user_id, COUNT(*) AS x
        |  FROM __pl_events GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_users, MAX(x) AS max_x,
        |         SUM(CAST(ROUND(ln(CAST(x AS DOUBLE)), 9)
        |             AS DECIMAL(28,9))) AS sln
        |  FROM peruser GROUP BY event_type)
        |SELECT event_type, n_users, max_x,
        |       CASE WHEN CAST(sln AS DOUBLE) = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(1 + n_users / CAST(sln AS DOUBLE), 6)
        |       END AS alpha
        |FROM agg ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evPowerlaw(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evPowerlaw(s.table("__events"))
  }

  /** Benford first-digit audit of the value column (Newcomb 1881 /
    * Benford 1938; the forensic-accounting staple): per event type, the
    * observed first-significant-digit distribution of positive values
    * against the log10(1 + 1/d) law, summarized as the chi-square
    * statistic and the mean absolute deviation (Nigrini's MAD, the
    * conformity measure practitioners threshold). A revenue stream whose
    * digits drift from Benford is the classic synthetic-data / fraud /
    * unit-mixup tripwire; a uniform synthetic generator (this corpus)
    * legitimately FAILS the law — the op reports, it does not gate.
    *
    * Engine-exactness: the digit is one floor/log10/pow expression on
    * the raw double; expected shares are double literals of the same
    * expression in both engines; each digit's chi-square term and
    * deviation are fixed-shape doubles rounded to 9/6, decimal-summed
    * over the 9-digit spine (zero-count digits INCLUDED via the
    * sequence spine — their N·p mass belongs in the statistic).
    *
    * Scale design: one combinable (event_type, digit) COUNT is the only
    * per-event work; the 9-digit spine cross-join, the spine left join
    * and the final per-type fold all run on (types × 9) rows.
    */
  def evBenford(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__bf_events")
    s.sql(
      """WITH obs AS (
        |  SELECT event_type,
        |         CAST(floor(value / pow(10, floor(log10(value)))) AS INT)
        |           AS d,
        |         COUNT(*) AS n
        |  FROM __bf_events WHERE value > 0
        |  GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(n) AS nn FROM obs
        |        GROUP BY event_type),
        |spine AS (
        |  SELECT t.event_type, t.nn, s.d, COALESCE(o.n, 0) AS n,
        |         log10(1 + 1.0 / s.d) AS p
        |  FROM tot t
        |  CROSS JOIN (SELECT explode(sequence(1, 9)) AS d) s
        |  LEFT JOIN obs o ON o.event_type = t.event_type AND o.d = s.d)
        |SELECT event_type, MAX(nn) AS n_pos,
        |       ROUND(CAST(SUM(CAST(ROUND(
        |           (n - nn * p) * (n - nn * p) / (nn * p), 9)
        |         AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2,
        |       ROUND(CAST(SUM(CAST(ROUND(abs(n / CAST(nn AS DOUBLE) - p), 9)
        |         AS DECIMAL(28,9))) AS DOUBLE) / 9, 6) AS mad
        |FROM spine GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evBenford(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evBenford(s.table("__events"))
  }

  /** Seasonal-naive forecastability audit per event type: for every day
    * with both a previous day AND a same-weekday-last-week observation,
    * score yesterday's count (naive-1) and last week's count (seasonal
    * naive-7) as forecasts of today. `mase` = MAE(snaive-7)/MAE(naive-1)
    * on the SAME scored days — below 1 means the weekly cycle carries
    * real signal beyond persistence (the model-free counterpart of
    * evSeasonality's ANOVA strength, in forecast-error units a capacity
    * planner actually consumes).
    *
    * Calendar-correct: the lags are equi-joins on day-1 / day-7, not
    * LAG over observed rows, so a gap day scores nothing rather than
    * silently comparing against the wrong calendar slot.
    *
    * Engine-exactness: counts are integers, both MAEs are integer-sum /
    * count, MASE a ratio of two integer sums — one terminal ROUND each.
    * Scale: one (type, day) count aggregate (days-sized), two
    * self-equi-joins on that tiny relation, one rollup to types.
    */
  def evForecast(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__fc_events")
    s.sql(
      """WITH daily AS (
        |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
        |         COUNT(*) AS n
        |  FROM __fc_events GROUP BY 1, 2),
        |sc AS (
        |  SELECT d.event_type, d.n, p1.n AS f1, p7.n AS f7
        |  FROM daily d
        |  JOIN daily p1 ON p1.event_type = d.event_type
        |               AND p1.day = d.day - 1
        |  JOIN daily p7 ON p7.event_type = d.event_type
        |               AND p7.day = d.day - 7)
        |SELECT event_type, COUNT(*) AS n_days,
        |       ROUND(CAST(SUM(ABS(n - f1)) AS DOUBLE) / COUNT(*), 6)
        |         AS mae_naive,
        |       ROUND(CAST(SUM(ABS(n - f7)) AS DOUBLE) / COUNT(*), 6)
        |         AS mae_snaive,
        |       CASE WHEN SUM(ABS(n - f1)) = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(CAST(SUM(ABS(n - f7)) AS DOUBLE)
        |                       / SUM(ABS(n - f1)), 6) END AS mase
        |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin)
  }
  def evForecast(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evForecast(s.table("__events"))
  }

  /** Holt's linear-trend double exponential smoothing (Holt 1957 /
    * Hyndman & Athanasopoulos, fpp3 ch. 8 — public) over each type's
    * daily count sequence, α = β = ½: level and trend halve toward each
    * new observation, the model behind every "is volume trending up"
    * capacity panel. Emits the final level/trend, the one-step-ahead
    * forecast l+b, and the in-sample one-step MAE (the fit quality a
    * planner reads before trusting the forecast; compare against
    * [[evForecast]]'s naive-1 MAE to see what smoothing buys).
    *
    * Contract: the recursion runs over the OBSERVED day sequence in day
    * order (calendar gap days are not zero-filled — same declaration as
    * the sequence ops); init l₁ = y₁, b₁ = y₂ − y₁, recursion consumes
    * y₃…yₙ; types with a single observed day are excluded.
    *
    * Engine-exactness: the whole recursion is BIGINT micro-units with
    * floor-of-half halving — H(x) = (x + 2⁵⁰) div 2 − 2⁴⁹ ≡ ⌊x/2⌋ for
    * either sign, computed on offset-positive operands so Spark's
    * truncating `div` and DuckDB's `//` agree. No float enters until
    * the terminal micro→unit ROUND-6 (micros are ≥ 10⁻⁹ away from any
    * 6-dp tie, so the double round is engine-identical).
    *
    * Scale design: one (type, day) count aggregate (days-sized at any
    * event volume), one per-type sorted-array fold over ≤ days elements
    * — the recursion is a HOF inside whole-stage codegen, not a driver
    * loop or an iterative join; output is types-sized.
    */
  def evHolt(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__holt_events")
    val M = "1000000L"
    val OFF = "1125899906842624L" // 2^50, even; |operands| << 2^50
    val HALF = "562949953421312L" // 2^49
    // H(x) = floor(x/2) via the offset identity; l_new appears inside
    // b_new, so its expression is inlined twice (HOFs bind no locals)
    val lNew = s"((y * $M + st.l + st.b + $OFF) div 2 - $HALF)"
    s.sql(
      s"""WITH daily AS (
         |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
         |         COUNT(*) AS n
         |  FROM __holt_events GROUP BY 1, 2),
         |seq AS (
         |  SELECT event_type,
         |         transform(sort_array(collect_list(struct(day, n))),
         |                   x -> x.n) AS ys
         |  FROM daily GROUP BY event_type),
         |fold AS (
         |  SELECT event_type, size(ys) AS n_days,
         |         aggregate(slice(ys, 3, size(ys) - 2),
         |           named_struct(
         |             'l', element_at(ys, 1) * $M,
         |             'b', (element_at(ys, 2) - element_at(ys, 1)) * $M,
         |             'sae', 0L),
         |           (st, y) -> named_struct(
         |             'l', $lNew,
         |             'b', (($lNew - st.l) + st.b + $OFF) div 2 - $HALF,
         |             'sae', st.sae + abs(y * $M - (st.l + st.b)))) AS st
         |  FROM seq WHERE size(ys) >= 2)
         |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
         |       ROUND(CAST(st.l AS DOUBLE) / 1000000.0, 6) AS level,
         |       ROUND(CAST(st.b AS DOUBLE) / 1000000.0, 6) AS trend,
         |       ROUND(CAST(st.l + st.b AS DOUBLE) / 1000000.0, 6)
         |         AS forecast,
         |       CASE WHEN n_days <= 2 THEN CAST(0 AS DOUBLE)
         |            ELSE ROUND(CAST(st.sae AS DOUBLE)
         |                       / (1000000.0 * (n_days - 2)), 6)
         |       END AS mae
         |FROM fold ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evHolt(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evHolt(s.table("__events"))
  }

  /** Additive Holt-Winters (triple exponential smoothing, period 7 —
    * Winters 1960; Hyndman & Athanasopoulos fpp3 ch. 8) over each
    * type's daily counts, α = β = γ = ½: [[evHolt]] plus a 7-slot
    * seasonal component, the model that separates "weekend dip" from
    * trend — the full classical forecasting staple.
    *
    * Contract: the recursion runs over the OBSERVED day sequence in
    * day order; season slot = observed-sequence index mod 7 (the
    * textbook regular-series formulation — calendar gaps compress, the
    * [[evHolt]] declaration). Init from the first 7 observed days:
    * l₇ = ⌊mean(y₁…y₇)⌋ micros, b₇ = 0, s_j = y_j·10⁶ − l₇; recursion
    * consumes y₈…yₙ; types with fewer than 7 observed days are
    * excluded.
    *
    * Engine-exactness: the whole recursion is BIGINT micro-units with
    * the [[evHolt]] floor-of-half offset identity; the seasonal array
    * lives INSIDE the HOF fold state (Spark) and as a LIST column in
    * the recursive CTE (DuckDB), updated one slot per step by
    * identical rebuild rules. No float until the terminal micro→unit
    * ROUND-6s.
    *
    * Scale design: one (type, day) count aggregate, one per-type
    * sorted-array HOF fold — the seasonal state adds 7 Longs to the
    * fold struct, nothing new shuffles; output is types-sized.
    */
  def evHoltWinters(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__hw_events")
    val M = "1000000L"
    val OFF = "1125899906842624L" // 2^50, even
    val HALF = "562949953421312L" // 2^49
    // season slot of the INCOMING day (0-based fold position st.t)
    val slot = "CAST(st.t % 7 AS INT)"
    val sOld = s"element_at(st.s, $slot + 1)"
    val lNew = s"((y * $M - $sOld + st.l + st.b + $OFF) div 2 - $HALF)"
    s.sql(
      s"""WITH daily AS (
         |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
         |         COUNT(*) AS n
         |  FROM __hw_events GROUP BY 1, 2),
         |seq AS (
         |  SELECT event_type,
         |         transform(sort_array(collect_list(struct(day, n))),
         |                   x -> x.n) AS ys
         |  FROM daily GROUP BY event_type),
         |init AS (
         |  SELECT event_type, ys, size(ys) AS n_days,
         |         (aggregate(slice(ys, 1, 7), 0L, (a, y) -> a + y)
         |            * $M) div 7 AS l0
         |  FROM seq WHERE size(ys) >= 7),
         |fold AS (
         |  SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
         |         aggregate(slice(ys, 8, size(ys) - 7),
         |           named_struct(
         |             'l', l0, 'b', 0L, 'sae', 0L, 't', 7L,
         |             's', transform(slice(ys, 1, 7),
         |                            y -> y * $M - l0)),
         |           (st, y) -> named_struct(
         |             'l', $lNew,
         |             'b', (($lNew - st.l) + st.b + $OFF) div 2 - $HALF,
         |             'sae', st.sae
         |               + abs(y * $M - (st.l + st.b + $sOld)),
         |             't', st.t + 1L,
         |             's', transform(st.s, (x, j) -> CASE
         |                    WHEN j = $slot
         |                    THEN ((y * $M - $lNew + x + $OFF) div 2
         |                          - $HALF)
         |                    ELSE x END))) AS st
         |  FROM init)
         |SELECT event_type, n_days,
         |       ROUND(CAST(st.l AS DOUBLE) / 1000000.0, 6) AS level,
         |       ROUND(CAST(st.b AS DOUBLE) / 1000000.0, 6) AS trend,
         |       ROUND(CAST(st.l + st.b
         |               + element_at(st.s, CAST(st.t % 7 AS INT) + 1)
         |             AS DOUBLE) / 1000000.0, 6) AS forecast,
         |       CASE WHEN st.t <= 7 THEN CAST(0 AS DOUBLE)
         |            ELSE ROUND(CAST(st.sae AS DOUBLE)
         |                       / (1000000.0 * (st.t - 7)), 6)
         |       END AS mae,
         |       ROUND(CAST(array_max(st.s) - array_min(st.s) AS DOUBLE)
         |             / 1000000.0, 6) AS seas_amp
         |FROM fold ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evHoltWinters(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evHoltWinters(s.table("__events"))
  }

  /** Mergeable quantile sketch over the positive value stream: a quarter-
    * octave integer histogram (bucket = 4·⌊log2 c⌋ + next-2-bits of the
    * cent value — the ev_gaps `bin()` trick refined to 25 % relative
    * width) answers any quantile with a guaranteed bracket
    * [lo_cents, hi_cents], hi/lo ≤ 1.25. The quantile member of the
    * mergeable-summary family (q20 HLL distinct, ev_cms counts,
    * dd_minhash_est similarity): per-partition histograms combine by
    * addition, so the sketch costs one combinable aggregate at ANY
    * corpus size where an exact percentile would pay a global sort.
    *
    * Everything is integer (cents, bit lengths, shifts) — no float
    * enters until nothing is left to compute; the oracle matches
    * bit-for-bit by construction. Values ≤ 0 are excluded by
    * declaration (log-scale sketch).
    *
    * Scale: one corpus pass into a ~120-key histogram; the cumulative
    * window and the quantile probes run on that tiny relation.
    */
  def evQsketch(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__qs_events")
    s.sql(
      """WITH vals AS (
        |  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        |  FROM __qs_events WHERE value > 0),
        |nn AS (SELECT COUNT(*) AS n FROM vals),
        |keyed AS (
        |  SELECT CASE WHEN c >= 4
        |              THEN (length(bin(c)) - 1) * 4
        |                   + CAST(shiftright(c, length(bin(c)) - 3)
        |                          AS INT) - 4
        |              ELSE CAST(c AS INT) END AS key
        |  FROM vals),
        |h AS (SELECT key, COUNT(*) AS cnt FROM keyed GROUP BY key),
        |cum AS (
        |  SELECT key, cnt, SUM(cnt) OVER (ORDER BY key) AS cum FROM h),
        |qs AS (SELECT explode(array(0.5D, 0.9D, 0.95D, 0.99D)) AS q),
        |t AS (
        |  SELECT q, CAST(ceil(q * nn.n) AS BIGINT) AS k, nn.n
        |  FROM qs CROSS JOIN nn),
        |pick AS (
        |  SELECT t.q, t.k, t.n, MIN(cum.key) AS key
        |  FROM t JOIN cum ON cum.cum >= t.k
        |  GROUP BY t.q, t.k, t.n)
        |SELECT q, n, k, key,
        |       CASE WHEN key < 4 THEN CAST(key AS BIGINT)
        |            ELSE (4 + CAST(key % 4 AS BIGINT))
        |                 * shiftleft(CAST(1 AS BIGINT), key div 4 - 2)
        |            END AS lo_cents,
        |       CASE WHEN key < 4 THEN CAST(key AS BIGINT)
        |            ELSE (5 + CAST(key % 4 AS BIGINT))
        |                 * shiftleft(CAST(1 AS BIGINT), key div 4 - 2)
        |            END AS hi_cents
        |FROM pick ORDER BY q""".stripMargin)
  }
  def evQsketch(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evQsketch(s.table("__events"))
  }

  /** Count-min sketch accuracy audit (Cormode & Muthukrishnan 2005):
    * build a depth×width CM sketch of the user-id frequency stream with
    * seeded md5 row hashes, then report, for the exact top-`topK` users,
    * the sketch estimate next to the truth. est ≥ exact ALWAYS (the
    * sketch only over-counts — collisions add, never subtract); the
    * `overest` column is the collision mass a production sizing decision
    * reads (width too small ⇒ heavy hitters inflated by the long tail).
    * The batch calibration twin of the streaming TopKTracker, in the
    * dd_minhash_est sketch-audit family.
    *
    * Everything is integer — no float discipline needed; the oracle
    * matches bit-for-bit by construction.
    *
    * Scale: the sketch build is depth× the corpus through a
    * (depth×width)-group combinable aggregate — the canonical
    * mergeable-summary shape (each executor folds its partition's
    * sketch; the shuffle carries depth·width rows per partition, not
    * data). The top-K side is one user aggregate + a broadcast join of
    * K·depth probe rows against the 1024-row sketch.
    */
  def evCms(events: DataFrame, depth: Int = 4, width: Int = 256,
      topK: Int = 20): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__cms_events")
    def bucket(key: String, r: String) =
      s"CAST(conv(substring(md5(concat('cms', $r, ':', $key)), 1, 4), " +
        s"16, 10) AS INT) % $width"
    s.sql(
      s"""WITH keys AS (SELECT CAST(user_id AS STRING) AS k
         |              FROM __cms_events),
         |sk AS (
         |  SELECT t.r, ${bucket("k", "CAST(t.r AS STRING)")} AS bucket,
         |         COUNT(*) AS n
         |  FROM keys
         |  LATERAL VIEW explode(sequence(0, ${depth - 1})) t AS r
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT k, COUNT(*) AS exact_n FROM keys GROUP BY k
         |  ORDER BY exact_n DESC, CAST(k AS BIGINT) LIMIT $topK),
         |probe AS (
         |  SELECT ex.k, ex.exact_n, t.r,
         |         ${bucket("ex.k", "CAST(t.r AS STRING)")} AS bucket
         |  FROM ex LATERAL VIEW explode(sequence(0, ${depth - 1})) t AS r)
         |SELECT CAST(p.k AS BIGINT) AS user_id, p.exact_n,
         |       MIN(sk.n) AS est_n, MIN(sk.n) - p.exact_n AS overest
         |FROM probe p
         |JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket
         |GROUP BY p.k, p.exact_n
         |ORDER BY exact_n DESC, user_id""".stripMargin)
  }
  def evCms(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evCms(s.table("__events"))
  }

  /** Difference-in-differences readout on the hash-split experiment: the
    * period boundary at min(ts) + `preDays` days (the evCuped calendar
    * rule), per-user pre/post value sums (absent periods count 0 — a
    * user who goes silent is signal, not a dropped row), and the DiD
    * estimate (Δ_B − Δ_A) that removes both the arms' level difference
    * and the shared time trend. The experimenter's model-free
    * counterpart to evCuped's variance reduction: CUPED shrinks the
    * noise, DiD removes the common shock.
    *
    * Engine-exactness: per-user sums are DECIMAL(18,2); cell sums are
    * decimal folds of 6-dp-rounded per-user values; every output is one
    * terminal ROUND of fixed-order IEEE arithmetic on those decimals.
    *
    * Scale: one user_id aggregate (the corpus pass) + one 2-group
    * conditional rollup pivoted to a single row. Nothing wider than the
    * user aggregate shuffles.
    */
  /** Shared per-user (variant, X = pre-period sum, Y = post-period sum)
    * relation for evDid/evCuped: arms by the evAbTest/evSrm md5 rule,
    * period boundary at min(ts) + `preDays` days (calendar-fixed), cents
    * summed as DECIMAL(18,2) then cast to double (exact). The one
    * corpus-wide user_id aggregate both readouts share — factored so the
    * split rule and the boundary can never drift between them.
    */
  private def prePostUserSql(view: String, preDays: Int,
      salt: String): String =
    s"""WITH b AS (
       |  SELECT MIN(unix_micros(ts)) + ${preDays}L * 86400000000
       |           AS cut
       |  FROM $view)
       |SELECT user_id,
       |       CASE WHEN instr('0123456789abcdef',
       |              substring(md5(concat('$salt:',
       |                CAST(user_id AS STRING))), 1, 1)) - 1 < 8
       |            THEN 'A' ELSE 'B' END AS variant,
       |       CAST(SUM(CASE WHEN unix_micros(ts) < (SELECT cut FROM b)
       |                     THEN CAST(value AS DECIMAL(18,2))
       |                     ELSE CAST(0 AS DECIMAL(18,2)) END)
       |            AS DOUBLE) AS x,
       |       CAST(SUM(CASE WHEN unix_micros(ts) >= (SELECT cut FROM b)
       |                     THEN CAST(value AS DECIMAL(18,2))
       |                     ELSE CAST(0 AS DECIMAL(18,2)) END)
       |            AS DOUBLE) AS y
       |FROM $view GROUP BY user_id""".stripMargin

  def evDid(events: DataFrame, preDays: Int = 15,
      salt: String = "ab"): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__dd_events")
    s.sql(prePostUserSql("__dd_events", preDays, salt))
      .createOrReplaceTempView("__dd_u")
    s.sql(
      s"""WITH u AS (SELECT * FROM __dd_u),
         |v AS (
         |  SELECT COUNT(CASE WHEN variant = 'A' THEN 1 END) AS na,
         |         COUNT(CASE WHEN variant = 'B' THEN 1 END) AS nb,
         |         SUM(CASE WHEN variant = 'A'
         |                  THEN CAST(ROUND(x, 6) AS DECIMAL(28,6))
         |                  ELSE CAST(0 AS DECIMAL(28,6)) END) AS sxa,
         |         SUM(CASE WHEN variant = 'A'
         |                  THEN CAST(ROUND(y, 6) AS DECIMAL(28,6))
         |                  ELSE CAST(0 AS DECIMAL(28,6)) END) AS sya,
         |         SUM(CASE WHEN variant = 'B'
         |                  THEN CAST(ROUND(x, 6) AS DECIMAL(28,6))
         |                  ELSE CAST(0 AS DECIMAL(28,6)) END) AS sxb,
         |         SUM(CASE WHEN variant = 'B'
         |                  THEN CAST(ROUND(y, 6) AS DECIMAL(28,6))
         |                  ELSE CAST(0 AS DECIMAL(28,6)) END) AS syb
         |  FROM u)
         |SELECT na, nb,
         |       ROUND(CAST(sxa AS DOUBLE) / na, 6) AS mean_a_pre,
         |       ROUND(CAST(sya AS DOUBLE) / na, 6) AS mean_a_post,
         |       ROUND(CAST(sxb AS DOUBLE) / nb, 6) AS mean_b_pre,
         |       ROUND(CAST(syb AS DOUBLE) / nb, 6) AS mean_b_post,
         |       ROUND(CAST(sya AS DOUBLE) / na
         |             - CAST(sxa AS DOUBLE) / na, 6) AS delta_a,
         |       ROUND(CAST(syb AS DOUBLE) / nb
         |             - CAST(sxb AS DOUBLE) / nb, 6) AS delta_b,
         |       ROUND((CAST(syb AS DOUBLE) / nb
         |              - CAST(sxb AS DOUBLE) / nb)
         |             - (CAST(sya AS DOUBLE) / na
         |                - CAST(sxa AS DOUBLE) / na), 6) AS did
         |FROM v WHERE na > 0 AND nb > 0""".stripMargin)
  }
  def evDid(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evDid(s.table("__events"))
  }

  /** Offline changepoint detection per event type (binary segmentation,
    * one split): over the observed daily-count series, pick the boundary
    * that maximizes the between-segment sum of squares
    * n1·n2/n·(mean_left − mean_right)² — the first step of the standard
    * binary-segmentation recursion, and the day a traffic migration /
    * logging change actually landed. Complements evSpike (short-window
    * ratio anomalies — a SPIKE) with the level-shift detector (a STEP):
    * a permanent 2× shift stops alarming evSpike after one baseline
    * window but is exactly what this op localizes.
    *
    * `boundary_day` is the LAST day of the left segment; ties on gain
    * break toward the earliest boundary (so an all-constant series reads
    * the first day deterministically, gain 0).
    *
    * Engine-exactness: daily counts are integers, prefix sums integer
    * windows; the gain and means are fixed-order IEEE expressions on
    * those integers, identical in both engines, rounded only on output.
    * The argmax compares unrounded doubles — same input bits, same
    * winner.
    *
    * Scale: one (event_type, day) count aggregate compacts the corpus;
    * everything after (prefix-sum window, candidate scoring, top-1) runs
    * on the days-sized relation. Nothing per-event is sorted.
    */
  def evChangepoint(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__cpt_events")
    s.sql(
      """WITH daily AS (
        |  SELECT event_type, unix_micros(ts) div 86400000000 AS day,
        |         COUNT(*) AS n
        |  FROM __cpt_events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS nd, SUM(n) AS s
        |  FROM daily GROUP BY event_type),
        |pre AS (
        |  SELECT event_type, day,
        |         SUM(n) OVER (PARTITION BY event_type ORDER BY day)
        |           AS cs,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |           AS i
        |  FROM daily),
        |cand AS (
        |  SELECT p.event_type, p.day AS boundary_day,
        |         p.i AS n_left, t.nd - p.i AS n_right,
        |         CAST(p.cs AS DOUBLE) / p.i AS ml,
        |         CAST(t.s - p.cs AS DOUBLE) / (t.nd - p.i) AS mr,
        |         t.nd AS nd
        |  FROM pre p JOIN tot t ON t.event_type = p.event_type
        |  WHERE p.i < t.nd),
        |sc AS (
        |  SELECT event_type, boundary_day, n_left, n_right, ml, mr,
        |         (ml - mr) * (ml - mr) * n_left * n_right / nd AS gain,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY (ml - mr) * (ml - mr) * n_left * n_right / nd
        |             DESC, boundary_day) AS rn
        |  FROM cand)
        |SELECT event_type, boundary_day, n_left, n_right,
        |       ROUND(ml, 6) AS mean_left, ROUND(mr, 6) AS mean_right,
        |       ROUND(gain, 6) AS gain
        |FROM sc WHERE rn = 1 ORDER BY event_type""".stripMargin)
  }
  def evChangepoint(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evChangepoint(s.table("__events"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13): split
    * users into arms by the evAbTest/evSrm md5 rule, take each user's
    * PRE-period value sum as the covariate X and the POST-period sum as
    * the metric Y, fit theta = cov(X,Y)/var(X) on the pooled population
    * (pre-period data is assignment-independent, so pooling is unbiased),
    * and report per-arm means and variances of both Y and the adjusted
    * Y' = Y − theta·(X − mean(X)). `var_reduction` ≈ corr(X,Y)² is the
    * sample-size multiplier the experimenter actually buys — the whole
    * point of CUPED next to evAbTest's raw z-test.
    *
    * The period boundary is min(ts) + `preDays` days — calendar-fixed,
    * not per-user, so a user's own activity cannot move their covariate
    * window (that would reintroduce outcome dependence).
    *
    * Engine-exactness: per-user X/Y are DECIMAL(18,2) sums cast to
    * double (exact — cent-valued), theta is ROUND(·,9) of a ratio of
    * decimal-summed cross-moments, adjusted values ROUND(·,6) before the
    * variant rollup — every aggregate is a decimal sum of rounded terms.
    *
    * Scale: one user_id aggregate (corpus pass), two scalar aggregates
    * (global moments → theta broadcast), one variant rollup over the
    * users-sized relation. No shuffle wider than the user aggregate.
    */
  def evCuped(events: DataFrame, preDays: Int = 15,
      salt: String = "ab"): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__cp_events")
    // the per-user (variant, X, Y) relation is the corpus pass and feeds
    // BOTH the global-moment aggregate and the adjusted rollup —
    // materialize it once (the InlineCTE multi-consumer lesson)
    Caches.pin(s.sql(prePostUserSql("__cp_events", preDays, salt)))
      .createOrReplaceTempView("__cp_u")
    s.sql(
      s"""WITH u AS (SELECT * FROM __cp_u),
         |g AS (
         |  SELECT COUNT(*) AS n,
         |         SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS sx,
         |         SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS sy,
         |         SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS sxy,
         |         SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS sxx
         |  FROM u),
         |t AS (
         |  SELECT CAST(sx AS DOUBLE) / n AS mx,
         |         CASE WHEN CAST(sxx AS DOUBLE)
         |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
         |                   = 0 THEN CAST(0 AS DOUBLE)
         |              ELSE ROUND(
         |                (CAST(sxy AS DOUBLE)
         |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         |                / (CAST(sxx AS DOUBLE)
         |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n),
         |                9) END AS theta
         |  FROM g),
         |a AS (
         |  SELECT u.variant, u.y,
         |         ROUND(u.y - t.theta * (u.x - t.mx), 6) AS ya,
         |         t.theta
         |  FROM u CROSS JOIN t),
         |v AS (
         |  SELECT variant, COUNT(*) AS n, MAX(theta) AS theta,
         |         SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS sy,
         |         SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS syy,
         |         SUM(CAST(ya AS DECIMAL(28,6))) AS sa,
         |         SUM(CAST(ROUND(ya * ya, 6) AS DECIMAL(38,6))) AS saa
         |  FROM a GROUP BY variant)
         |SELECT variant, n, ROUND(theta, 6) AS theta,
         |       ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_y,
         |       ROUND(CAST(sa AS DOUBLE) / n, 6) AS mean_y_adj,
         |       ROUND(CAST(syy AS DOUBLE) / n
         |             - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n),
         |             6) AS var_y,
         |       ROUND(CAST(saa AS DOUBLE) / n
         |             - (CAST(sa AS DOUBLE) / n) * (CAST(sa AS DOUBLE) / n),
         |             6) AS var_y_adj,
         |       CASE WHEN CAST(syy AS DOUBLE) / n
         |                 - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
         |                 = 0 THEN CAST(NULL AS DOUBLE)
         |            ELSE ROUND(1 -
         |              (CAST(saa AS DOUBLE) / n
         |               - (CAST(sa AS DOUBLE) / n) * (CAST(sa AS DOUBLE) / n))
         |              / (CAST(syy AS DOUBLE) / n
         |                 - (CAST(sy AS DOUBLE) / n)
         |                   * (CAST(sy AS DOUBLE) / n)),
         |              6) END AS var_reduction
         |FROM v ORDER BY variant""".stripMargin)
  }
  def evCuped(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evCuped(s.table("__events"))
  }

  /** Always-valid sequential A/B monitoring (the mixture SPRT of Johari,
    * Koomen, Pekelis & Walsh, "Peeking at A/B Tests", KDD 2017 —
    * public): per day, the cumulative two-sample mixture likelihood
    * ratio
    *
    *   Λ_t = √(V/(V+τ²)) · exp(θ̂²·τ² / (2V(V+τ²))),
    *
    * θ̂ the cumulative mean difference, V = σ̂²(1/n_A + 1/n_B) its
    * variance (pooled σ̂² from cumulative moments), τ² the mixture prior
    * — and the ALWAYS-VALID p-value p_t = min_{s≤t} min(1, 1/Λ_s),
    * monotone by construction: the experimenter may peek every day and
    * stop the moment it crosses α without inflating false positives —
    * the question the fixed-horizon ev_abtest z-test cannot answer.
    *
    * Engine-exactness: day-level Σv and Σv² accumulate as DECIMAL of
    * 6-dp-rounded terms (the ev_cuped discipline), cumulative sums are
    * window SUMs over the day×arm grid (exact), the one exp() argument
    * is 6-dp-rounded BEFORE exp (the ta_ppl transcendental discipline),
    * and p_now is 6-dp-rounded before the running MIN so both engines
    * rank identical values.
    *
    * Scale design: ONE corpus pass builds the (day, variant) moment
    * relation; every window after runs on the days×2 grid — at 100 TB
    * the daily pre-agg (map-side combinable) dominates and the
    * sequential statistics are noise. Days where an arm has no events
    * yet carry its cumulative forward via the dense grid left-join.
    */
  def evSequential(events: DataFrame, tauSq: Double = 0.01,
      salt: String = "ab"): DataFrame = {
    require(tauSq > 0, s"evSequential: tauSq must be > 0, got $tauSq")
    val s = events.sparkSession
    events.createOrReplaceTempView("__sq_events")
    s.sql(
      s"""WITH e AS (
         |  SELECT unix_micros(ts) div 86400000000 AS day,
         |         CASE WHEN instr('0123456789abcdef',
         |                substring(md5(concat('$salt:',
         |                  CAST(user_id AS STRING))), 1, 1)) - 1 < 8
         |              THEN 'A' ELSE 'B' END AS variant,
         |         value
         |  FROM __sq_events),
         |d AS (
         |  SELECT day, variant, COUNT(*) AS n,
         |         SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS sv,
         |         SUM(CAST(ROUND(value * value, 6) AS DECIMAL(38,6))) AS sq
         |  FROM e GROUP BY day, variant),
         |grid AS (
         |  SELECT day, variant
         |  FROM (SELECT DISTINCT day FROM e)
         |  CROSS JOIN (SELECT 'A' AS variant UNION ALL SELECT 'B')),
         |c AS (
         |  SELECT g.day, g.variant,
         |         SUM(COALESCE(d.n, 0)) OVER
         |           (PARTITION BY g.variant ORDER BY g.day) AS n,
         |         SUM(COALESCE(d.sv, CAST(0 AS DECIMAL(28,6)))) OVER
         |           (PARTITION BY g.variant ORDER BY g.day) AS sv,
         |         SUM(COALESCE(d.sq, CAST(0 AS DECIMAL(38,6)))) OVER
         |           (PARTITION BY g.variant ORDER BY g.day) AS sq
         |  FROM grid g LEFT JOIN d ON d.day = g.day AND d.variant = g.variant),
         |w AS (
         |  SELECT day,
         |         MAX(CASE WHEN variant = 'A' THEN n END) AS na,
         |         MAX(CASE WHEN variant = 'A'
         |                  THEN CAST(sv AS DOUBLE) END) AS sa,
         |         MAX(CASE WHEN variant = 'A'
         |                  THEN CAST(sq AS DOUBLE) END) AS qa,
         |         MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
         |         MAX(CASE WHEN variant = 'B'
         |                  THEN CAST(sv AS DOUBLE) END) AS sb,
         |         MAX(CASE WHEN variant = 'B'
         |                  THEN CAST(sq AS DOUBLE) END) AS qb
         |  FROM c GROUP BY day),
         |stat AS (
         |  SELECT day, na, nb,
         |         CASE WHEN na > 0 THEN ROUND(sa / na, 6) END AS mean_a,
         |         CASE WHEN nb > 0 THEN ROUND(sb / nb, 6) END AS mean_b,
         |         CASE WHEN na > 0 AND nb > 0
         |              THEN (qa + qb) / (na + nb)
         |                   - ((sa + sb) / (na + nb))
         |                     * ((sa + sb) / (na + nb)) END AS ssq,
         |         CASE WHEN na > 0 AND nb > 0
         |              THEN sa / na - sb / nb END AS diff
         |  FROM w),
         |lam AS (
         |  SELECT day, na, nb, mean_a, mean_b,
         |         ROUND(diff, 6) AS diff,
         |         CASE WHEN diff IS NULL OR ssq <= 0 THEN CAST(1 AS DOUBLE)
         |              ELSE SQRT((ssq * (1.0 / na + 1.0 / nb))
         |                        / (ssq * (1.0 / na + 1.0 / nb) + $tauSq))
         |                   * EXP(ROUND(
         |                       diff * diff * $tauSq
         |                       / (2 * ssq * (1.0 / na + 1.0 / nb)
         |                          * (ssq * (1.0 / na + 1.0 / nb)
         |                             + $tauSq)), 6)) END AS lambda
         |  FROM stat)
         |SELECT day, na, nb, mean_a, mean_b, diff,
         |       ROUND(lambda, 6) AS lambda,
         |       ROUND(LEAST(CAST(1 AS DOUBLE), 1 / lambda), 6) AS p_now,
         |       MIN(ROUND(LEAST(CAST(1 AS DOUBLE), 1 / lambda), 6))
         |         OVER (ORDER BY day) AS p_always_valid
         |FROM lam ORDER BY day""".stripMargin)
  }

  /** The oracle-checked form: the events value metric, τ² = 0.01. */
  def evSequential(s: SparkSession, dir: String): DataFrame =
    evSequential(Tables.load(s, dir, "events"))

  /** Build `__ab_cdf`, the variant-split distinct-value CDF relation
    * shared by evMannWhitney/evKs: per-user value sums exact in integer
    * cents (DECIMAL(18,2)·100), arms by the evAbTest/evSrm md5 rule,
    * then per-distinct-cents A/B user counts with cumulative counts
    * (users at value ≤ v per arm).
    *
    * Scale: the per-user aggregate is the corpus pass; the distinct-sum
    * relation can approach user cardinality on a fine-grained metric, so
    * the cumulative counts are NEVER a global single-partition window —
    * values shard into contiguous ranges (`cents div 2^20`), each shard
    * prefix-sums internally (partitioned window), and a shards-sized
    * prefix relation joins back (broadcast). Same discipline as
    * ds_batchpad's md5-shard ranks, adapted to an ordered prefix.
    */
  private def abCdfView(events: DataFrame, salt: String): Unit =
    Caches.pin(abCdfPlan(events, salt))
      // evKs consumes the relation from four CTEs — materialize once
      // (the InlineCTE multi-consumer lesson; 16.5 -> ~6 s at 1M
      // distinct values in PERF.md r7, addendum31)
      .createOrReplaceTempView("__ab_cdf")

  /** The un-checkpointed CDF plan — split out so PlanSpec can lock the
    * window shape (the within-shard prefix must stay partitioned; only
    * the shards-sized prefix may be a global window).
    */
  private[graft] def abCdfPlan(events: DataFrame,
      salt: String): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__ab_events")
    s.sql(
      s"""SELECT CASE WHEN instr('0123456789abcdef',
         |              substring(md5(concat('$salt:',
         |                CAST(user_id AS STRING))), 1, 1)) - 1 < 8
         |            THEN 'A' ELSE 'B' END AS variant,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
         |         AS cents
         |FROM __ab_events GROUP BY user_id""".stripMargin)
      .createOrReplaceTempView("__ab_u")
    cdfFromU(s)
  }

  /** The CDF tail over any (variant, cents) per-user relation in view
    * `__ab_u` — shared by the hash-split form and the two-sample
    * production entries.
    */
  private def cdfFromU(s: SparkSession): DataFrame =
    s.sql(
      s"""WITH u AS (SELECT variant, cents FROM __ab_u),
         |g AS (
         |  SELECT cents AS v,
         |         COUNT(CASE WHEN variant = 'A' THEN 1 END) AS ca,
         |         COUNT(CASE WHEN variant = 'B' THEN 1 END) AS cb
         |  -- a user whose metric sums to NULL has no place on the value
         |  -- axis; dropping the row also keeps the engines aligned
         |  -- (Spark windows order NULLS FIRST, DuckDB NULLS LAST)
         |  FROM u WHERE cents IS NOT NULL GROUP BY cents),
         |w AS (
         |  SELECT v, ca, cb, v div 1048576 AS shard,
         |         SUM(ca) OVER (PARTITION BY v div 1048576 ORDER BY v)
         |           AS wa,
         |         SUM(cb) OVER (PARTITION BY v div 1048576 ORDER BY v)
         |           AS wb
         |  FROM g),
         |sh AS (
         |  SELECT shard,
         |         SUM(SUM(ca)) OVER (ORDER BY shard) - SUM(ca) AS pa,
         |         SUM(SUM(cb)) OVER (ORDER BY shard) - SUM(cb) AS pb
         |  FROM w GROUP BY shard)
         |SELECT w.v, w.ca, w.cb, w.wa + sh.pa AS cuma, w.wb + sh.pb AS cumb
         |FROM w JOIN sh ON sh.shard = w.shard""".stripMargin)

  /** Mann–Whitney U rank-sum test on the hash-split experiment: per-user
    * value sums as the metric, U_B = #{(a,b): b > a} + ½·ties, midrank
    * ties, tie-corrected normal approximation. The nonparametric
    * companion to evAbTest (t-test) / evCuped / evDid — the readout that
    * survives the heavy-tailed metrics those assume away. Positive z
    * means arm B tends larger; `cles` = U_B/(na·nb) is the
    * common-language effect size P(B > A) + ½P(=).
    *
    * Engine-exactness: everything up to the final z is INTEGER algebra
    * on the distinct-value CDF — 2·U_B = Σ_v cb·(2·cumA(≤v) − ca) and
    * the tie term Σ(t³−t) accumulate in DECIMAL(38,0) (n³-sized at 1e9
    * users); z is one fixed-order IEEE expression on those integers,
    * rounded terminally. All-tied input reads z NULL (zero variance).
    *
    * Scale: one user_id aggregate + the sharded CDF ([[abCdfView]]) +
    * one combinable global fold. No per-user sort anywhere.
    */
  def evMannWhitney(events: DataFrame, salt: String = "ab"): DataFrame = {
    abCdfView(events, salt)
    mwFromCdf(events.sparkSession)
  }

  /** Two-sample production entry: arm A = frame `a`, arm B = frame `b`
    * (each any relation with user_id + value) instead of the hash
    * split — "did this week's per-user metric distribution shift from
    * last week's", rank-test form.
    */
  def evMannWhitneyTwoSample(a: DataFrame, b: DataFrame): DataFrame = {
    twoSampleCdfView(a, b)
    mwFromCdf(a.sparkSession)
  }

  private def mwFromCdf(s: SparkSession): DataFrame =
    s.sql(
      """WITH c AS (SELECT ca, cb, cuma, ca + cb AS tk FROM __ab_cdf),
        |t AS (
        |  SELECT SUM(ca) AS na, SUM(cb) AS nb,
        |         SUM(CAST(cb AS DECIMAL(38,0)) * (2 * cuma - ca)) AS u2,
        |         SUM(CAST(tk AS DECIMAL(38,0)) * tk * tk - tk) AS ties
        |  FROM c),
        |vv AS (
        |  SELECT na, nb, u2,
        |         CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12
        |           * ((CAST(na + nb AS DOUBLE) + 1)
        |              - CAST(ties AS DOUBLE)
        |                / (CAST(na + nb AS DOUBLE)
        |                   * (CAST(na + nb AS DOUBLE) - 1))) AS varu
        |  FROM t WHERE na > 0 AND nb > 0)
        |SELECT na, nb,
        |       ROUND(CAST(u2 AS DOUBLE) / 2, 1) AS u_b,
        |       ROUND(CAST(u2 AS DOUBLE)
        |             / (2 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
        |         AS cles,
        |       CASE WHEN varu <= 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND((CAST(u2 AS DOUBLE)
        |                        - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |                       / (2 * SQRT(varu)), 6) END AS z
        |FROM vv""".stripMargin)
  def evMannWhitney(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evMannWhitney(s.table("__events"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the arms' per-user
    * metric distributions on the same hash split: D = max_v |F_A(v) −
    * F_B(v)| over the distinct-value CDF, reported with the value where
    * the gap peaks (ties → smallest value) and the scaled statistic
    * √(na·nb/n)·D. The distribution-shape companion to evMannWhitney's
    * location test — a variance-only treatment effect moves D while U
    * sits still; also the standard metric-drift gate between two
    * corpus snapshots.
    *
    * Engine-exactness: the argmax compares |cuma·nb − cumb·na| — exact
    * integers in DECIMAL(38,0) (n²-sized) — and ties break on MIN(v),
    * so both engines pick the same peak bit-for-bit; D and ks_stat are
    * terminal fixed-order IEEE rounds.
    *
    * Scale: rides [[abCdfView]]; the argmax is MAX + one semi-join +
    * MIN — combinable aggregates only, no window, no global rank.
    */
  def evKs(events: DataFrame, salt: String = "ab"): DataFrame = {
    abCdfView(events, salt)
    ksFromCdf(events.sparkSession)
  }

  /** Two-sample production entry: D between frame `a`'s and frame `b`'s
    * per-user metric distributions — the drift gate between two corpus
    * snapshots the hash-split form's scaladoc promises.
    */
  def evKsTwoSample(a: DataFrame, b: DataFrame): DataFrame = {
    twoSampleCdfView(a, b)
    ksFromCdf(a.sparkSession)
  }

  /** Build `__ab_cdf` from two explicit frames labeled A/B — the
    * two-sample twin of [[abCdfView]]'s hash split; same NULL-cents
    * rule, same sharded prefix, same pinned relation.
    */
  private def twoSampleCdfView(a: DataFrame, b: DataFrame): Unit = {
    val s = a.sparkSession
    a.createOrReplaceTempView("__ab_ev_a")
    b.createOrReplaceTempView("__ab_ev_b")
    s.sql(
      """SELECT 'A' AS variant,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS cents
        |FROM __ab_ev_a GROUP BY user_id
        |UNION ALL
        |SELECT 'B',
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |FROM __ab_ev_b GROUP BY user_id""".stripMargin)
      .createOrReplaceTempView("__ab_u")
    Caches.pin(cdfFromU(s))
      .createOrReplaceTempView("__ab_cdf")
  }

  private def ksFromCdf(s: SparkSession): DataFrame =
    s.sql(
      """WITH tt AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM __ab_cdf),
        |d AS (
        |  SELECT v,
        |         ABS(CAST(cuma AS DECIMAL(38,0)) * tt.nb
        |             - CAST(cumb AS DECIMAL(38,0)) * tt.na) AS diff2
        |  FROM __ab_cdf CROSS JOIN tt),
        |m AS (SELECT MAX(diff2) AS md FROM d),
        |p AS (SELECT MIN(d.v) AS at_v
        |      FROM d JOIN m ON d.diff2 = m.md)
        |SELECT tt.na, tt.nb,
        |       ROUND(CAST(m.md AS DOUBLE)
        |             / (CAST(tt.na AS DOUBLE) * CAST(tt.nb AS DOUBLE)), 6)
        |         AS d_stat,
        |       ROUND(CAST(p.at_v AS DOUBLE) / 100, 2) AS at_value,
        |       ROUND(SQRT(CAST(tt.na AS DOUBLE) * CAST(tt.nb AS DOUBLE)
        |                  / (CAST(tt.na AS DOUBLE) + CAST(tt.nb AS DOUBLE)))
        |             * (CAST(m.md AS DOUBLE)
        |                / (CAST(tt.na AS DOUBLE) * CAST(tt.nb AS DOUBLE))),
        |             6) AS ks_stat
        |FROM tt CROSS JOIN m CROSS JOIN p
        |WHERE tt.na > 0 AND tt.nb > 0""".stripMargin)
  def evKs(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evKs(s.table("__events"))
  }

  /** Quantile treatment effects on the hash-split experiment: for each
    * rung of a fixed percentile ladder (25/50/75/90), the exact per-arm
    * order statistic of the per-user metric (lower empirical quantile —
    * the smallest value whose cumulative arm count reaches ceil(q·n),
    * no interpolation) and their difference. The distributional
    * companion to evMannWhitney: a treatment that only moves the tail
    * shows a flat median QTE and a large p90 QTE — exactly what a mean
    * or rank test blurs.
    *
    * Engine-exactness: ranks are integer ceils ((pq·n + 99) div 100),
    * the order statistic is MIN(v) over an integer-cents filter — every
    * output is an exact integer scaled by 100 on display. No rounding
    * anywhere.
    *
    * Scale: rides [[abCdfView]]; the ladder fans the values-sized CDF
    * ×4 into a combinable MIN per rung. No window, no global rank.
    */
  def evQte(events: DataFrame, salt: String = "ab"): DataFrame = {
    abCdfView(events, salt)
    qteFromCdf(events.sparkSession)
  }

  /** Two-sample production entry: per-rung quantile differences between
    * frame `a`'s and frame `b`'s per-user metric distributions.
    */
  def evQteTwoSample(a: DataFrame, b: DataFrame): DataFrame = {
    twoSampleCdfView(a, b)
    qteFromCdf(a.sparkSession)
  }

  private def qteFromCdf(s: SparkSession): DataFrame =
    s.sql(
      """WITH tt AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM __ab_cdf),
        |lad AS (SELECT explode(array(25, 50, 75, 90)) AS pq),
        |qa AS (
        |  SELECT l.pq, MIN(c.v) AS va
        |  FROM __ab_cdf c CROSS JOIN tt CROSS JOIN lad l
        |  WHERE tt.na > 0 AND c.cuma >= (l.pq * tt.na + 99) div 100
        |  GROUP BY l.pq),
        |qb AS (
        |  SELECT l.pq, MIN(c.v) AS vb
        |  FROM __ab_cdf c CROSS JOIN tt CROSS JOIN lad l
        |  WHERE tt.nb > 0 AND c.cumb >= (l.pq * tt.nb + 99) div 100
        |  GROUP BY l.pq)
        |SELECT CAST(qa.pq AS DOUBLE) / 100 AS q,
        |       CAST(qa.va AS DOUBLE) / 100 AS a_value,
        |       CAST(qb.vb AS DOUBLE) / 100 AS b_value,
        |       CAST(qb.vb - qa.va AS DOUBLE) / 100 AS qte
        |FROM qa JOIN qb ON qb.pq = qa.pq
        |ORDER BY q""".stripMargin)
  def evQte(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evQte(s.table("__events"))
  }

  /** KMV (k-minimum-values) distinct sketch with SET-OPERATION
    * estimates, audited: per event type, the k smallest md5 hashes of
    * the user set form a mergeable sketch whose k-th value estimates the
    * distinct count ((k−1)·M/h_(k)); merging two types' sketches and
    * counting shared members inside the union's k smallest estimates
    * Jaccard and hence the INTERSECTION cardinality — the
    * audience-overlap question an HLL (q20) cannot answer without
    * inclusion-exclusion noise. One row per type pair with exact vs
    * estimated cardinalities on both sides and the intersection (the
    * ev_cms audit discipline: the sketch and its ground truth in one
    * relation).
    *
    * Engine-exactness: hashes are the first 15 md5 hex digits as BIGINT
    * (M = 16^15 = 2^60), k-th values exact integers, estimates one
    * fixed-order IEEE expression on those integers, rounded terminally;
    * a side (or union) with fewer than k members reads its EXACT count.
    *
    * Scale: one DISTINCT (type, user) pass; the per-type k smallest is a
    * map-side WindowGroupLimit (the q8 pattern) so only k·types rows
    * survive; every estimate runs on that micro relation. The exact
    * audit columns are the one corpus-sized piece — a u-co-partitioned
    * self-join — and exist because the op IS the audit; a production
    * caller at 100 TB keeps the sketches and drops the truth columns.
    */
  def evKmv(events: DataFrame, k: Int = 64): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__kmv_events")
    s.sql(
      s"""WITH du AS (SELECT DISTINCT event_type AS t, user_id AS u
         |            FROM __kmv_events),
         |hh AS (
         |  SELECT t, CAST(conv(substring(md5(concat('kmv:',
         |           CAST(u AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h
         |  FROM du),
         |r AS (SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h)
         |        AS rn FROM hh),
         |mins AS (SELECT t, h FROM r WHERE rn <= $k),
         |est AS (SELECT t, COUNT(*) AS cnt, MAX(h) AS hk
         |        FROM mins GROUP BY t),
         |ex AS (SELECT t, COUNT(*) AS exn FROM du GROUP BY t),
         |pairs AS (SELECT a.t AS ta, b.t AS tb
         |          FROM ex a JOIN ex b ON a.t < b.t),
         |um AS (
         |  SELECT p.ta, p.tb, m.h,
         |         MAX(CASE WHEN m.t = p.ta THEN 1 ELSE 0 END) AS ina,
         |         MAX(CASE WHEN m.t = p.tb THEN 1 ELSE 0 END) AS inb
         |  FROM pairs p JOIN mins m ON m.t IN (p.ta, p.tb)
         |  GROUP BY p.ta, p.tb, m.h),
         |ur AS (SELECT ta, tb, h, ina, inb,
         |         ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
         |       FROM um),
         |us AS (
         |  SELECT ta, tb, COUNT(*) AS ucnt, MAX(h) AS uhk,
         |         SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
         |           AS shared
         |  FROM ur WHERE rn <= $k GROUP BY ta, tb),
         |ein AS (
         |  SELECT p.ta, p.tb, COUNT(*) AS exi
         |  FROM pairs p JOIN du a ON a.t = p.ta
         |               JOIN du b ON b.t = p.tb AND b.u = a.u
         |  GROUP BY p.ta, p.tb),
         |f AS (
         |  SELECT us.ta, us.tb, xa.exn AS exact_a, xb.exn AS exact_b,
         |         CASE WHEN ea.cnt < $k THEN CAST(ea.cnt AS DOUBLE)
         |              ELSE CAST(${k - 1} AS DOUBLE)
         |                   * CAST(1152921504606846976 AS DOUBLE)
         |                   / CAST(ea.hk AS DOUBLE) END AS est_a,
         |         CASE WHEN eb.cnt < $k THEN CAST(eb.cnt AS DOUBLE)
         |              ELSE CAST(${k - 1} AS DOUBLE)
         |                   * CAST(1152921504606846976 AS DOUBLE)
         |                   / CAST(eb.hk AS DOUBLE) END AS est_b,
         |         COALESCE(ein.exi, 0) AS exact_inter,
         |         CAST(us.shared AS DOUBLE) / us.ucnt AS j,
         |         CASE WHEN us.ucnt < $k THEN CAST(us.ucnt AS DOUBLE)
         |              ELSE CAST(${k - 1} AS DOUBLE)
         |                   * CAST(1152921504606846976 AS DOUBLE)
         |                   / CAST(us.uhk AS DOUBLE) END AS est_u
         |  FROM us JOIN ex xa ON xa.t = us.ta
         |          JOIN ex xb ON xb.t = us.tb
         |          JOIN est ea ON ea.t = us.ta
         |          JOIN est eb ON eb.t = us.tb
         |          LEFT JOIN ein ON ein.ta = us.ta AND ein.tb = us.tb)
         |SELECT ta AS type_a, tb AS type_b, exact_a,
         |       ROUND(est_a, 2) AS est_a, exact_b,
         |       ROUND(est_b, 2) AS est_b, exact_inter,
         |       ROUND(j * est_u, 2) AS est_inter,
         |       ROUND(j, 6) AS jaccard_est
         |FROM f ORDER BY type_a, type_b""".stripMargin)
  }
  def evKmv(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evKmv(s.table("__events"))
  }

  /** Winsorized A/B means: per-user metric sums capped at the POOLED
    * p99 (exact rank rule — the smallest value whose pooled cumulative
    * count reaches ceil(0.99·n); pooling keeps the cap
    * assignment-independent, the evCuped covariate discipline), with
    * raw means, cap value, and per-arm capped fractions alongside. The
    * robust-metric readout experimentation actually ships: one heavy
    * whale in arm B moves the raw mean and NOT the winsorized one, and
    * comparing the two columns is the whale detector.
    *
    * Engine-exactness: everything is integer algebra on the CDF — the
    * cap is an exact order statistic, capped sums are Σ count·min(v,
    * cap) in DECIMAL(38,0) — with terminal fixed-order divisions and
    * ROUND 6.
    *
    * Scale: rides [[abCdfView]]; both means are combinable folds of the
    * distinct-value relation. No second corpus pass, no per-user
    * relation at all.
    */
  def evWinsor(events: DataFrame, pct: Int = 99,
      salt: String = "ab"): DataFrame = {
    abCdfView(events, salt)
    winsorFromCdf(events.sparkSession, pct)
  }

  /** Two-sample production entry: winsorized means with frame `a` as
    * arm A and frame `b` as arm B (the cap stays pooled).
    */
  def evWinsorTwoSample(a: DataFrame, b: DataFrame,
      pct: Int = 99): DataFrame = {
    twoSampleCdfView(a, b)
    winsorFromCdf(a.sparkSession, pct)
  }

  private def winsorFromCdf(s: SparkSession, pct: Int): DataFrame =
    s.sql(
      s"""WITH tt AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM __ab_cdf),
         |cap AS (
         |  SELECT MIN(c.v) AS cap
         |  FROM __ab_cdf c CROSS JOIN tt
         |  WHERE c.cuma + c.cumb >=
         |        ($pct * (tt.na + tt.nb) + 99) div 100),
         |m AS (
         |  SELECT
         |    SUM(CAST(c.ca AS DECIMAL(38,0)) * c.v) AS ra,
         |    SUM(CAST(c.cb AS DECIMAL(38,0)) * c.v) AS rb,
         |    SUM(CAST(c.ca AS DECIMAL(38,0)) * LEAST(c.v, cap.cap)) AS wa,
         |    SUM(CAST(c.cb AS DECIMAL(38,0)) * LEAST(c.v, cap.cap)) AS wb,
         |    SUM(CASE WHEN c.v > cap.cap THEN c.ca ELSE 0 END) AS xa,
         |    SUM(CASE WHEN c.v > cap.cap THEN c.cb ELSE 0 END) AS xb
         |  FROM __ab_cdf c CROSS JOIN cap)
         |SELECT x.variant, x.n,
         |       ROUND(CAST(x.raw AS DOUBLE) / x.n / 100, 6) AS mean_raw,
         |       ROUND(CAST(x.w AS DOUBLE) / x.n / 100, 6) AS mean_winsor,
         |       ROUND(CAST(cap.cap AS DOUBLE) / 100, 2) AS cap_value,
         |       x.nc AS n_capped,
         |       ROUND(CAST(x.nc AS DOUBLE) / x.n, 6) AS capped_frac
         |FROM (
         |  SELECT 'A' AS variant, tt.na AS n, m.ra AS raw, m.wa AS w,
         |         m.xa AS nc
         |  FROM tt CROSS JOIN m
         |  UNION ALL
         |  SELECT 'B', tt.nb, m.rb, m.wb, m.xb FROM tt CROSS JOIN m) x
         |CROSS JOIN cap WHERE x.n > 0
         |ORDER BY variant""".stripMargin)
  def evWinsor(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evWinsor(s.table("__events"))
  }

  /** Batch query form of [[graft.streaming.ConversionJoin.convPairs]] —
    * the multi-touch candidate-pair relation (every same-user click →
    * purchase within 30 minutes), ordered for presentation. The
    * streaming twin runs the SAME plan as a watermarked stream-stream
    * interval join (StreamingSpec parity).
    */
  def evConvPairs(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ConversionJoin.convPairs(Tables.load(s, dir, "events"))
      .orderBy("user_id", "purchase_id", "click_id")

  /** Population stability index (the standard production drift monitor,
    * complementing [[evKs]]'s distribution-free D: PSI is the BINNED,
    * additive-per-bucket diagnostic ops dashboards alert on — which
    * value range moved, not just whether something moved): split the
    * stream at the midpoint of its time span, bin the metric into
    * `nBins` equal-width buckets fitted on the EARLY window, and report
    * per-bin early/late counts plus the PSI term
    * (p_i − q_i)·ln(p_i/q_i) under add-one smoothing (the ε-guard every
    * PSI implementation applies so empty bins stay finite). Rule of
    * thumb the output feeds: total < 0.1 stable, 0.1–0.25 drifting,
    * > 0.25 shifted.
    *
    * Engine-exactness: the split and bin edges are integer-micro /
    * IEEE-double arithmetic on identical inputs; each transcendental
    * term is 9-dp-rounded then DECIMAL-summed (the taPerplexity fold);
    * the dense bin grid is generated on both sides so zero-count bins
    * align. Scale shape: two corpus passes (span + binning — the first
    * is a 1-row broadcast aggregate), one partial-agg count keyed by
    * bin, then bins-sized arithmetic; no window over data-sized rows.
    */
  def evPsi(events: DataFrame, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"evPsi: bad nBins $nBins")
    val s = events.sparkSession
    events.createOrReplaceTempView("__psi_events")
    s.sql(
      s"""WITH span AS (
         |  SELECT MIN(unix_micros(ts)) AS mn, MAX(unix_micros(ts)) AS mx
         |  FROM __psi_events),
         |lab AS (
         |  SELECT value,
         |         CASE WHEN unix_micros(ts) * 2 < mn + mx
         |              THEN 0 ELSE 1 END AS late
         |  FROM __psi_events CROSS JOIN span),
         |vr AS (
         |  SELECT MIN(value) AS vmn,
         |         CASE WHEN MAX(value) > MIN(value)
         |              THEN (MAX(value) - MIN(value)) / $nBins
         |              ELSE CAST(1 AS DOUBLE) END AS w
         |  FROM lab WHERE late = 0),
         |b AS (
         |  SELECT late,
         |         LEAST($nBins - 1, GREATEST(0,
         |           CAST(floor((value - vmn) / w) AS INT))) AS bin
         |  FROM lab CROSS JOIN vr),
         |cnt AS (
         |  SELECT bin,
         |         SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS ne,
         |         SUM(CASE WHEN late = 1 THEN 1 ELSE 0 END) AS nl
         |  FROM b GROUP BY bin),
         |tot AS (SELECT SUM(ne) AS te, SUM(nl) AS tl FROM cnt),
         |grid AS (
         |  SELECT g.id AS bin, COALESCE(c.ne, 0L) AS ne,
         |         COALESCE(c.nl, 0L) AS nl
         |  FROM (SELECT explode(sequence(0, ${nBins - 1})) AS id) g
         |  LEFT JOIN cnt c ON c.bin = g.id),
         |terms AS (
         |  SELECT bin, ne, nl, ROUND((pe - ql) * ln(pe / ql), 9) AS psi_term
         |  FROM (
         |    SELECT bin, ne, nl,
         |           (ne + 1) / CAST(te + $nBins AS DOUBLE) AS pe,
         |           (nl + 1) / CAST(tl + $nBins AS DOUBLE) AS ql
         |    FROM grid CROSS JOIN tot))
         |SELECT bin, ne AS n_early, nl AS n_late, psi_term,
         |       ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(28,9))) OVER ()
         |                  AS DOUBLE), 6) AS psi_total
         |FROM terms ORDER BY bin""".stripMargin)
  }

  /** Theil T inequality index with exact within/between decomposition
    * (Theil 1967; Shorrocks 1980 — the decomposable member of the
    * generalized-entropy family): observations are per-(type, user)
    * value totals, groups are event types, and T = Σ_g share_g·T_g +
    * Σ_g share_g·ln(μ_g/μ) — the property [[evGini]] lacks: it answers
    * "is the concentration WITHIN segments or BETWEEN them", which
    * decides whether a mitigation targets whales inside one product or
    * the product mix itself.
    *
    * Engine-exactness: per-(type, user) totals are order-independent
    * DECIMAL(28,6) sums of ROUND(value, 6) (the dsum discipline); every
    * ln-bearing term is 9-dp-rounded into a DECIMAL(28,9) sum (the
    * ev_psi discipline) before the terminal 6-dp ROUND. Values ≤ 0 are
    * excluded by declaration (Theil needs positive mass).
    *
    * Scale design: ONE corpus-sized hash aggregate (type, user); all
    * decomposition arithmetic runs on the types-sized relation with
    * window totals over ≤ |types| rows.
    */
  def evTheil(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__theil_events")
    s.sql(
      """WITH obs AS (
        |  SELECT event_type, user_id,
        |         CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6)))
        |              AS DOUBLE) AS x
        |  FROM __theil_events WHERE value > 0
        |  GROUP BY event_type, user_id),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sg
        |  FROM obs GROUP BY event_type),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |         CAST(SUM(CAST(sg AS DECIMAL(28,6))) AS DOUBLE) AS ss
        |  FROM g),
        |wt AS (
        |  SELECT o.event_type,
        |         ROUND((o.x / (g.sg / g.n)) * ln(o.x / (g.sg / g.n)), 9)
        |           AS term
        |  FROM obs o JOIN g ON g.event_type = o.event_type),
        |w AS (
        |  SELECT event_type,
        |         CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE) AS tsum
        |  FROM wt GROUP BY event_type),
        |per AS (
        |  SELECT g.event_type, g.n, g.sg,
        |         ROUND(w.tsum / g.n, 6) AS t_within,
        |         ROUND((g.sg / t.ss)
        |               * ln((g.sg / g.n) / (t.ss / t.nn)), 9) AS bterm,
        |         ROUND((g.sg / t.ss) * ROUND(w.tsum / g.n, 6), 9)
        |           AS wcontrib
        |  FROM g JOIN w ON w.event_type = g.event_type CROSS JOIN tot t)
        |SELECT event_type, n AS n_obs,
        |       ROUND(sg, 6) AS sum_val, t_within,
        |       ROUND(bterm, 6) AS between_term,
        |       ROUND(CAST(SUM(CAST(bterm AS DECIMAL(28,9))) OVER ()
        |                  AS DOUBLE), 6) AS theil_between,
        |       ROUND(CAST(SUM(CAST(bterm AS DECIMAL(28,9))) OVER ()
        |                  + SUM(CAST(wcontrib AS DECIMAL(28,9))) OVER ()
        |                  AS DOUBLE), 6) AS theil_total
        |FROM per
        |ORDER BY event_type""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evTheil(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evTheil(s.table("__events"))
  }

  /** The oracle-checked form: the events `value` metric, 10 bins. */
  def evPsi(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events_psi")
    evPsi(s.table("__events_psi"))
  }

  /** The CUSUM chain over an already-day-aggregated relation
    * `daysRel(event_type, day, n)` — one text, shared by the raw entry
    * and the planted oracle form so the two cannot drift.
    */
  private def cusumSql(daysRel: String): String =
    s"""WITH m AS (
       |  SELECT event_type,
       |         (SUM(n) div COUNT(1)) * 1000000
       |           + ((SUM(n) % COUNT(1)) * 1000000) div COUNT(1)
       |           AS mean_micro
       |  FROM $daysRel GROUP BY event_type),
       |dev AS (
       |  SELECT d.event_type, d.day, d.n, m.mean_micro,
       |         d.n * 1000000 - m.mean_micro - (m.mean_micro div 10)
       |           AS dev_micro
       |  FROM $daysRel d JOIN m ON m.event_type = d.event_type),
       |ps AS (
       |  SELECT event_type, day, n, mean_micro, dev_micro,
       |         SUM(dev_micro) OVER (PARTITION BY event_type
       |                              ORDER BY day) AS psum
       |  FROM dev),
       |cz AS (
       |  SELECT event_type, day, n, mean_micro, dev_micro,
       |         psum - LEAST(CAST(0 AS BIGINT),
       |                      MIN(psum) OVER (PARTITION BY event_type
       |                                      ORDER BY day)) AS cusum_micro
       |  FROM ps)
       |SELECT event_type, day, n, dev_micro, cusum_micro,
       |       cusum_micro > 2 * mean_micro AS alarm
       |FROM cz ORDER BY event_type, day""".stripMargin

  /** Robust daily-volume anomaly report per event type — the
    * median/MAD control chart (Hampel's robust X84 rule; Leys et al.
    * 2013 for the modern form): flag day d when |n_d − med| exceeds 3
    * MADs. ev_spike's z-score uses mean/σ, which a single loud day
    * INFLATES — one 10× day raises σ enough to hide a second 3× day;
    * the median and the median-absolute-deviation have 50 % breakdown,
    * so the chart's bar does not move when the anomalies themselves
    * land in the window.
    *
    * Engine-exactness: NO floats anywhere — the median of an even
    * count is fractional, so the chain carries DOUBLED values: med2 =
    * n_(⌈c/2⌉) + n_(⌊c/2⌋+1) (exact rank picks, ties broken on day),
    * dev2 = |2n − med2|, mad4 the same doubled-median of dev2, and the
    * alarm is the cross-multiplied integer comparison 2·dev2 > 3·mad4
    * (≡ dev > 3·MAD). The σ-consistency factor 1.4826 is deliberately
    * dropped — the bar is 3 raw MAD units, documented as such (with
    * the factor the rule would need a float). Degenerate corpora where
    * over half the days share one count give mad4 = 0 and every
    * off-median day alarms — the standard MAD caveat, surfaced rather
    * than patched.
    *
    * Scale design: the ev_ewma shape — one (type, day) combinable
    * count, then two rank windows over the days×types-bounded fold
    * relation; output is one row per observed (type, day). (The
    * relational tier's q37_mad reports median/MAD as a per-group
    * SUMMARY over continuous values; this op is the anomaly CHART —
    * per-day rows, an alarm rule, and the doubled-integer discipline
    * q37's percentile() formulation doesn't need.)
    *
    * [[graft.streaming.MadTracker]] is the streaming twin — the same
    * doubled-integer kernel run PREQUENTIALLY (each day scored against
    * the days closed so far) with O(observed-days) state per type,
    * because an exact 50%-breakdown median cannot fold in O(1); this
    * op's full-window chart is the retrospective view, and the
    * level-shift case where the two charts alarm on OPPOSITE days is
    * pinned in StreamingSpec.
    */
  def evMad(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__mad_events")
    s.sql(
      """WITH d AS (
        |  SELECT event_type, date_trunc('DAY', ts) AS day, COUNT(*) AS n
        |  FROM __mad_events GROUP BY event_type, date_trunc('DAY', ts)),
        |r AS (
        |  SELECT event_type, day, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY n, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS c
        |  FROM d),
        |med AS (
        |  SELECT event_type,
        |         SUM(CASE WHEN rn = (c + 1) div 2 THEN n ELSE 0 END)
        |           + SUM(CASE WHEN rn = c div 2 + 1 THEN n ELSE 0 END)
        |           AS med2
        |  FROM r GROUP BY event_type),
        |dv AS (
        |  SELECT d.event_type, d.day, d.n, m.med2,
        |         abs(2 * d.n - m.med2) AS dev2
        |  FROM d JOIN med m ON m.event_type = d.event_type),
        |r2 AS (
        |  SELECT event_type, day, n, med2, dev2,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY dev2, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS c
        |  FROM dv),
        |mad AS (
        |  SELECT event_type,
        |         SUM(CASE WHEN rn = (c + 1) div 2 THEN dev2 ELSE 0 END)
        |           + SUM(CASE WHEN rn = c div 2 + 1 THEN dev2 ELSE 0 END)
        |           AS mad4
        |  FROM r2 GROUP BY event_type)
        |SELECT v.event_type, v.day, v.n, v.med2, v.dev2, a.mad4,
        |       2 * v.dev2 > 3 * a.mad4 AS alarm
        |FROM dv v JOIN mad a ON a.event_type = v.event_type
        |ORDER BY event_type, day""".stripMargin)
  }

  /** The oracle-checked form over the testdata events. */
  def evMad(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events")
    evMad(s.table("__events"))
  }

  /** Daily-volume CUSUM drift detector per event type (Page 1954, the
    * classical sequential change detector; Basseville–Nikiforov 1993
    * survey form): the one-sided upper CUSUM S_d = max(0, S_{d−1} +
    * (n_d − μ − k)) accumulates persistent excess over the baseline
    * mean μ plus an allowance k = μ/10, and alarms when S_d exceeds
    * h = 2μ — the complement of ev_spike's per-day z-score (a spike
    * fires on one loud day; CUSUM fires on a quiet SUSTAINED shift
    * that never clears any single-day bar).
    *
    * Engine-exactness: all fixed-point BIGINT micro-units — μ via the
    * overflow-safe split floor((s div n)·10⁶ + ((s mod n)·10⁶) div n)
    * (the doremi discipline), and the max(0, ·) recursion is NOT folded
    * sequentially: S_d = ps_d − min(0, min_{j≤d} ps_j) where ps is the
    * running deviation sum — the reset point of a one-sided CUSUM is
    * exactly the running minimum of its prefix sums, so two windows
    * over the (type, day) relation replace the recurrence in both
    * engines.
    *
    * Scale design: one (type, day) partial+final count (the ev_ewma
    * shape — output days×types-bounded at any event volume), one
    * types-sized mean join, two windows over the tiny fold relation.
    * [[graft.streaming.PageTracker]] is the streaming twin: same
    * arithmetic against a FITTED baseline, O(1) state per metric
    * ([[graft.streaming.CusumTracker]] is the neighboring TWO-sided
    * self-baselining chart — ev_changepoint's online form; this op's
    * externally fitted μ is what makes exact batch parity possible).
    */
  def evCusum(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    events.createOrReplaceTempView("__cusum_events")
    s.sql(
      """SELECT event_type, date_trunc('DAY', ts) AS day, COUNT(*) AS n
        |FROM __cusum_events
        |GROUP BY event_type, date_trunc('DAY', ts)""".stripMargin)
      .createOrReplaceTempView("__cusum_days")
    s.sql(cusumSql("__cusum_days"))
  }

  /** The oracle-checked form: testdata daily volumes with a PLANTED
    * sustained shift (the evBots/ta_derep discipline — synthesize the
    * pathology, require the detector to find exactly it): the last 10
    * observed days of the md5-lower half of event types carry DOUBLED
    * volume (n + n, applied on the day aggregate so both engines plant
    * bit-identically). The doubling is sized to the detector's own
    * arithmetic: with 10 of ~30 days planted the corpus mean inflates
    * to 4n/3, so each planted day contributes 2n − 1.1·(4n/3) ≈ 0.53n
    * of drift and the CUSUM crosses the 2μ ≈ 2.67n bar on the 5th
    * shifted day — deterministic alarms inside the window at any SF
    * (a +50 % plant lands ~7 % UNDER the bar by the same algebra and
    * only noise decides). Unplanted types stay pinned near zero: daily
    * noise is far inside the μ/10 allowance.
    */
  def evCusum(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events").createOrReplaceTempView("__events_cu")
    val planted = s.sql(
      """WITH d AS (
        |  SELECT event_type, date_trunc('DAY', ts) AS day, COUNT(*) AS n
        |  FROM __events_cu GROUP BY event_type, date_trunc('DAY', ts)),
        |cut AS (SELECT timestampadd(DAY, -9, MAX(day)) AS c FROM d)
        |SELECT event_type, day,
        |       CASE WHEN day >= t.c
        |                 AND substring(md5(event_type), 1, 1) < '8'
        |            THEN n + n ELSE n END AS n
        |FROM d CROSS JOIN cut t""".stripMargin)
    planted.createOrReplaceTempView("__cusum_days")
    s.sql(cusumSql("__cusum_days"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_psi" -> ((s: SparkSession, dir: String) => evPsi(s, dir)),
    "ev_cusum" -> ((s: SparkSession, dir: String) => evCusum(s, dir)),
    "ev_mad" -> ((s: SparkSession, dir: String) => evMad(s, dir)),
    "ev_theil" -> ((s: SparkSession, dir: String) => evTheil(s, dir)),
    "ev_benford" -> ((s: SparkSession, dir: String) => evBenford(s, dir)),
    "ev_changepoint" -> ((s: SparkSession, dir: String) => evChangepoint(s, dir)),
    "ev_cms" -> ((s: SparkSession, dir: String) => evCms(s, dir)),
    "ev_qsketch" -> ((s: SparkSession, dir: String) => evQsketch(s, dir)),
    "ev_did" -> ((s: SparkSession, dir: String) => evDid(s, dir)),
    "ev_mannwhitney" -> ((s: SparkSession, dir: String) => evMannWhitney(s, dir)),
    "ev_ks" -> ((s: SparkSession, dir: String) => evKs(s, dir)),
    "ev_qte" -> ((s: SparkSession, dir: String) => evQte(s, dir)),
    "ev_convpairs" -> ((s: SparkSession, dir: String) => evConvPairs(s, dir)),
    "ev_kmv" -> ((s: SparkSession, dir: String) => evKmv(s, dir)),
    "ev_winsor" -> ((s: SparkSession, dir: String) => evWinsor(s, dir)),
    "ev_forecast" -> ((s: SparkSession, dir: String) => evForecast(s, dir)),
    "ev_holt" -> ((s: SparkSession, dir: String) => evHolt(s, dir)),
    "ev_holtwinters" ->
      ((s: SparkSession, dir: String) => evHoltWinters(s, dir)),
    "ev_cuped" -> ((s: SparkSession, dir: String) => evCuped(s, dir)),
    "ev_sequential" -> ((s: SparkSession, dir: String) => evSequential(s, dir)),
    "ev_seasonality" -> ((s: SparkSession, dir: String) => evSeasonality(s, dir)),
    "ev_powerlaw" -> ((s: SparkSession, dir: String) => evPowerlaw(s, dir)),
    "ev_basket" -> ((s: SparkSession, dir: String) => evBasket(s, dir)),
    "ev_lag" -> ((s: SparkSession, dir: String) => evLag(s, dir)),
    "ev_trigrams" -> ((s: SparkSession, dir: String) => evTrigrams(s, dir)),
    "ev_lifespan" -> ((s: SparkSession, dir: String) => evLifespan(s, dir)),
    "ev_autocorr" -> ((s: SparkSession, dir: String) => evAutocorr(s, dir)),
    "ev_srm" -> ((s: SparkSession, dir: String) => evSrm(s, dir)),
    "ev_decay" -> ((s: SparkSession, dir: String) => evDecay(s, dir)),
    "ev_stickiness" -> ((s: SparkSession, dir: String) => evStickiness(s, dir)),
    "ev_dispersion" -> ((s: SparkSession, dir: String) => evDispersion(s, dir)),
    "ev_hod" -> ((s: SparkSession, dir: String) => evHod(s, dir)),
    "ev_growth" -> ((s: SparkSession, dir: String) => evGrowth(s, dir)),
    "ev_entropy" -> ((s: SparkSession, dir: String) => evEntropy(s, dir)),
    "ev_overlap" -> ((s: SparkSession, dir: String) => evOverlap(s, dir)),
    "ev_churn" -> ((s: SparkSession, dir: String) => evChurn(s, dir)),
    "ev_daily_top" -> ((s: SparkSession, dir: String) => evDailyTop(s, dir)),
    "ev_survival" -> ((s: SparkSession, dir: String) => evSurvival(s, dir)),
    "ev_ltv" -> ((s: SparkSession, dir: String) => evLtv(s, dir)),
    "ev_dow" -> ((s: SparkSession, dir: String) => evDow(s, dir)),
    "ev_ewma" -> ((s: SparkSession, dir: String) => evEwma(s, dir)),
    "ev_bots" -> ((s: SparkSession, dir: String) => evBots(s, dir)),
    "ev_abtest" -> ((s: SparkSession, dir: String) => evAbTest(s, dir)),
    "ev_cooccur" -> ((s: SparkSession, dir: String) => evCooccur(s, dir)),
    "ev_gaps" -> ((s: SparkSession, dir: String) => evGaps(s, dir)),
    "ev_gini" -> ((s: SparkSession, dir: String) => evGini(s, dir)),
    "ev_streaks" -> ((s: SparkSession, dir: String) => evStreaks(s, dir)),
    "ev_features" -> ((s: SparkSession, dir: String) => evFeatures(s, dir)),
    "ev_rfm" -> ((s: SparkSession, dir: String) => evRfm(s, dir)),
    "ev_markov" -> ((s: SparkSession, dir: String) => evMarkov(s, dir)),
    "ev_paths" -> ((s: SparkSession, dir: String) => evPaths(s, dir)),
    "ev_spike" -> ((s: SparkSession, dir: String) => evSpike(s, dir)),
    "ev_sessionize" -> (evSessionize _),
    "ev_funnel" -> (evFunnel _),
    "ev_retention" -> ((s: SparkSession, dir: String) => evRetention(s, dir)),
    "ev_attribution" -> ((s: SparkSession, dir: String) => evAttribution(s, dir)),
    "ev_active_users" -> ((s: SparkSession, dir: String) => evActiveUsers(s, dir)))

  private val abZDuck: String =
    ("(ca::DOUBLE / na - cb::DOUBLE / nb) " +
      "/ SQRT(((ca + cb)::DOUBLE / (na + nb)) " +
      "* (1 - (ca + cb)::DOUBLE / (na + nb)) " +
      "* (1::DOUBLE / na + 1::DOUBLE / nb))")

  /** DuckDB twin of [[prePostUserSql]] at the oracle defaults
    * (preDays = 15, salt = "ab") — the `b` + `u` CTEs shared verbatim by
    * the ev_did and ev_cuped oracles.
    */
  private val prePostUserOracleCtes: String =
    "b AS (SELECT MIN(epoch_us(ts)) + 15 * 86400000000 AS cut " +
      "FROM events), " +
      "u AS (SELECT user_id, " +
      "CASE WHEN strpos('0123456789abcdef', " +
      "substr(md5('ab:' || user_id::VARCHAR), 1, 1)) - 1 < 8 " +
      "THEN 'A' ELSE 'B' END AS variant, " +
      "SUM(CASE WHEN epoch_us(ts) < (SELECT cut FROM b) " +
      "THEN CAST(value AS DECIMAL(18,2)) " +
      "ELSE CAST(0 AS DECIMAL(18,2)) END)::DOUBLE AS x, " +
      "SUM(CASE WHEN epoch_us(ts) >= (SELECT cut FROM b) " +
      "THEN CAST(value AS DECIMAL(18,2)) " +
      "ELSE CAST(0 AS DECIMAL(18,2)) END)::DOUBLE AS y " +
      "FROM events GROUP BY user_id)"

  /** DuckDB twin of [[abCdfView]] at the oracle default (salt = "ab").
    * DuckDB is single-node, so the cumulative counts use the plain
    * global window — same integer algebra, same results as the sharded
    * Spark prefix.
    */
  private val abCdfOracleCtes: String =
    "u AS (SELECT CASE WHEN strpos('0123456789abcdef', " +
      "substr(md5('ab:' || user_id::VARCHAR), 1, 1)) - 1 < 8 " +
      "THEN 'A' ELSE 'B' END AS variant, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents " +
      "FROM events GROUP BY user_id), " +
      "g AS (SELECT cents AS v, " +
      "COUNT(CASE WHEN variant = 'A' THEN 1 END) AS ca, " +
      "COUNT(CASE WHEN variant = 'B' THEN 1 END) AS cb " +
      "FROM u WHERE cents IS NOT NULL GROUP BY cents), " +
      "cdf AS (SELECT v, ca, cb, " +
      "SUM(ca) OVER (ORDER BY v) AS cuma, " +
      "SUM(cb) OVER (ORDER BY v) AS cumb FROM g)"

  val oracleSql: Map[String, String] = Map(
    "ev_mad" ->
      ("""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, """ +
        """COUNT(*) AS n FROM events """ +
        """GROUP BY event_type, date_trunc('day', ts)), """ +
        """r AS (SELECT event_type, day, n, """ +
        """ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, day) """ +
        """AS rn, """ +
        """COUNT(*) OVER (PARTITION BY event_type) AS c FROM d), """ +
        """med AS (SELECT event_type, """ +
        """(SUM(CASE WHEN rn = (c + 1) // 2 THEN n ELSE 0 END) """ +
        """+ SUM(CASE WHEN rn = c // 2 + 1 THEN n ELSE 0 END))::BIGINT """ +
        """AS med2 FROM r GROUP BY event_type), """ +
        """dv AS (SELECT d.event_type, d.day, d.n, m.med2, """ +
        """abs(2 * d.n - m.med2) AS dev2 """ +
        """FROM d JOIN med m ON m.event_type = d.event_type), """ +
        """r2 AS (SELECT event_type, day, n, med2, dev2, """ +
        """ROW_NUMBER() OVER (PARTITION BY event_type """ +
        """ORDER BY dev2, day) AS rn, """ +
        """COUNT(*) OVER (PARTITION BY event_type) AS c FROM dv), """ +
        """mad AS (SELECT event_type, """ +
        """(SUM(CASE WHEN rn = (c + 1) // 2 THEN dev2 ELSE 0 END) """ +
        """+ SUM(CASE WHEN rn = c // 2 + 1 THEN dev2 ELSE 0 END))::BIGINT """ +
        """AS mad4 FROM r2 GROUP BY event_type) """ +
        """SELECT v.event_type, v.day, v.n, v.med2, v.dev2, a.mad4, """ +
        """2 * v.dev2 > 3 * a.mad4 AS alarm """ +
        """FROM dv v JOIN mad a ON a.event_type = v.event_type """ +
        """ORDER BY v.event_type, v.day"""),
    "ev_cusum" ->
      ("""WITH d0 AS (SELECT event_type, date_trunc('day', ts) AS day, """ +
        """COUNT(*) AS n FROM events """ +
        """GROUP BY event_type, date_trunc('day', ts)), """ +
        """cut AS (SELECT MAX(day) - INTERVAL 9 DAY AS c FROM d0), """ +
        """d AS (SELECT event_type, day, """ +
        """CASE WHEN day >= t.c """ +
        """AND substring(md5(event_type), 1, 1) < '8' """ +
        """THEN n + n ELSE n END AS n """ +
        """FROM d0 CROSS JOIN cut t), """ +
        """m AS (SELECT event_type, """ +
        """((SUM(n) // COUNT(*)) * 1000000 """ +
        """+ ((SUM(n) % COUNT(*)) * 1000000) // COUNT(*))::BIGINT """ +
        """AS mean_micro FROM d GROUP BY event_type), """ +
        """dev AS (SELECT d.event_type, d.day, d.n, m.mean_micro, """ +
        """(d.n * 1000000 - m.mean_micro - (m.mean_micro // 10))::BIGINT """ +
        """AS dev_micro FROM d JOIN m ON m.event_type = d.event_type), """ +
        """ps AS (SELECT event_type, day, n, mean_micro, dev_micro, """ +
        """(SUM(dev_micro) OVER (PARTITION BY event_type """ +
        """ORDER BY day))::BIGINT AS psum FROM dev), """ +
        """cz AS (SELECT event_type, day, n, mean_micro, dev_micro, """ +
        """psum - LEAST(0::BIGINT, MIN(psum) OVER ( """ +
        """PARTITION BY event_type ORDER BY day)) AS cusum_micro """ +
        """FROM ps) """ +
        """SELECT event_type, day, n, dev_micro, cusum_micro, """ +
        """cusum_micro > 2 * mean_micro AS alarm """ +
        """FROM cz ORDER BY event_type, day"""),
    "ev_psi" ->
      """WITH span AS (
        |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
        |  FROM events),
        |lab AS (
        |  SELECT value,
        |         CASE WHEN epoch_us(ts) * 2 < mn + mx THEN 0 ELSE 1 END
        |           AS late
        |  FROM events CROSS JOIN span),
        |vr AS (
        |  SELECT MIN(value) AS vmn,
        |         CASE WHEN MAX(value) > MIN(value)
        |              THEN (MAX(value) - MIN(value)) / 10
        |              ELSE 1.0::DOUBLE END AS w
        |  FROM lab WHERE late = 0),
        |b AS (
        |  SELECT late,
        |         LEAST(9, GREATEST(0, floor((value - vmn) / w)::INT)) AS bin
        |  FROM lab CROSS JOIN vr),
        |cnt AS (
        |  SELECT bin,
        |         SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END)::BIGINT AS ne,
        |         SUM(CASE WHEN late = 1 THEN 1 ELSE 0 END)::BIGINT AS nl
        |  FROM b GROUP BY bin),
        |tot AS (SELECT SUM(ne)::BIGINT AS te, SUM(nl)::BIGINT AS tl
        |        FROM cnt),
        |grid AS (
        |  SELECT g.id AS bin, COALESCE(c.ne, 0)::BIGINT AS ne,
        |         COALESCE(c.nl, 0)::BIGINT AS nl
        |  FROM (SELECT unnest(generate_series(0, 9)) AS id) g
        |  LEFT JOIN cnt c ON c.bin = g.id),
        |terms AS (
        |  SELECT bin, ne, nl, ROUND((pe - ql) * ln(pe / ql), 9) AS psi_term
        |  FROM (
        |    SELECT bin, ne, nl,
        |           (ne + 1) / (te + 10)::DOUBLE AS pe,
        |           (nl + 1) / (tl + 10)::DOUBLE AS ql
        |    FROM grid CROSS JOIN tot))
        |SELECT bin, ne AS n_early, nl AS n_late, psi_term,
        |       ROUND((SUM(psi_term::DECIMAL(28,9)) OVER ())::DOUBLE, 6)
        |         AS psi_total
        |FROM terms ORDER BY bin""".stripMargin.replaceAll("\n", " "),
    "ev_qsketch" ->
      ("WITH vals AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c " +
        "FROM events WHERE value > 0), " +
        "nn AS (SELECT COUNT(*) AS n FROM vals), " +
        "keyed AS (SELECT CASE WHEN c >= 4 " +
        "THEN (length(bin(c)) - 1) * 4 " +
        "+ CAST(c >> (length(bin(c)) - 3) AS INT) - 4 " +
        "ELSE CAST(c AS INT) END AS key FROM vals), " +
        "h AS (SELECT key, COUNT(*) AS cnt FROM keyed GROUP BY key), " +
        "cum AS (SELECT key, cnt, " +
        "SUM(cnt) OVER (ORDER BY key) AS cum FROM h), " +
        "qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, " +
        "0.95::DOUBLE, 0.99::DOUBLE]) AS q), " +
        "t AS (SELECT q, CAST(ceil(q * nn.n) AS BIGINT) AS k, nn.n " +
        "FROM qs CROSS JOIN nn), " +
        "pick AS (SELECT t.q, t.k, t.n, MIN(cum.key) AS key " +
        "FROM t JOIN cum ON cum.cum >= t.k GROUP BY t.q, t.k, t.n) " +
        "SELECT q, n, k, key, " +
        "CASE WHEN key < 4 THEN CAST(key AS BIGINT) " +
        "ELSE (4 + CAST(key % 4 AS BIGINT)) " +
        "* (CAST(1 AS BIGINT) << (key // 4 - 2)) END AS lo_cents, " +
        "CASE WHEN key < 4 THEN CAST(key AS BIGINT) " +
        "ELSE (5 + CAST(key % 4 AS BIGINT)) " +
        "* (CAST(1 AS BIGINT) << (key // 4 - 2)) END AS hi_cents " +
        "FROM pick ORDER BY q"),
    "ev_cms" ->
      ("WITH keys AS (SELECT user_id::VARCHAR AS k FROM events), " +
        "sk AS (SELECT t.r, " +
        "('0x' || substr(md5('cms' || t.r::VARCHAR || ':' || k), 1, 4))" +
        "::INT % 256 AS bucket, COUNT(*) AS n " +
        "FROM keys, range(4) t(r) GROUP BY 1, 2), " +
        "ex AS (SELECT k, COUNT(*) AS exact_n FROM keys GROUP BY k " +
        "ORDER BY exact_n DESC, k::BIGINT LIMIT 20), " +
        "probe AS (SELECT ex.k, ex.exact_n, t.r, " +
        "('0x' || substr(md5('cms' || t.r::VARCHAR || ':' || ex.k), " +
        "1, 4))::INT % 256 AS bucket " +
        "FROM ex, range(4) t(r)) " +
        "SELECT p.k::BIGINT AS user_id, p.exact_n, " +
        "CAST(MIN(sk.n) AS BIGINT) AS est_n, " +
        "CAST(MIN(sk.n) - p.exact_n AS BIGINT) AS overest " +
        "FROM probe p JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket " +
        "GROUP BY p.k, p.exact_n " +
        "ORDER BY exact_n DESC, user_id"),
    "ev_did" ->
      (s"WITH $prePostUserOracleCtes, " +
        "v AS (SELECT " +
        "COUNT(CASE WHEN variant = 'A' THEN 1 END) AS na, " +
        "COUNT(CASE WHEN variant = 'B' THEN 1 END) AS nb, " +
        "SUM(CASE WHEN variant = 'A' " +
        "THEN CAST(ROUND(x, 6) AS DECIMAL(28,6)) " +
        "ELSE CAST(0 AS DECIMAL(28,6)) END) AS sxa, " +
        "SUM(CASE WHEN variant = 'A' " +
        "THEN CAST(ROUND(y, 6) AS DECIMAL(28,6)) " +
        "ELSE CAST(0 AS DECIMAL(28,6)) END) AS sya, " +
        "SUM(CASE WHEN variant = 'B' " +
        "THEN CAST(ROUND(x, 6) AS DECIMAL(28,6)) " +
        "ELSE CAST(0 AS DECIMAL(28,6)) END) AS sxb, " +
        "SUM(CASE WHEN variant = 'B' " +
        "THEN CAST(ROUND(y, 6) AS DECIMAL(28,6)) " +
        "ELSE CAST(0 AS DECIMAL(28,6)) END) AS syb " +
        "FROM u) " +
        "SELECT na, nb, " +
        "ROUND(sxa::DOUBLE / na, 6) AS mean_a_pre, " +
        "ROUND(sya::DOUBLE / na, 6) AS mean_a_post, " +
        "ROUND(sxb::DOUBLE / nb, 6) AS mean_b_pre, " +
        "ROUND(syb::DOUBLE / nb, 6) AS mean_b_post, " +
        "ROUND(sya::DOUBLE / na - sxa::DOUBLE / na, 6) AS delta_a, " +
        "ROUND(syb::DOUBLE / nb - sxb::DOUBLE / nb, 6) AS delta_b, " +
        "ROUND((syb::DOUBLE / nb - sxb::DOUBLE / nb) " +
        "- (sya::DOUBLE / na - sxa::DOUBLE / na), 6) AS did " +
        "FROM v WHERE na > 0 AND nb > 0"),
    "ev_mannwhitney" ->
      (s"WITH $abCdfOracleCtes, " +
        "c AS (SELECT ca, cb, cuma, ca + cb AS tk FROM cdf), " +
        "t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb, " +
        "SUM(CAST(cb AS DECIMAL(38,0)) * (2 * cuma - ca)) AS u2, " +
        "SUM(CAST(tk AS DECIMAL(38,0)) * tk * tk - tk) AS ties " +
        "FROM c), " +
        "vv AS (SELECT na, nb, u2, " +
        "CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12 " +
        "* ((CAST(na + nb AS DOUBLE) + 1) - CAST(ties AS DOUBLE) " +
        "/ (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1))) " +
        "AS varu FROM t WHERE na > 0 AND nb > 0) " +
        "SELECT na, nb, ROUND(CAST(u2 AS DOUBLE) / 2, 1) AS u_b, " +
        "ROUND(CAST(u2 AS DOUBLE) " +
        "/ (2 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cles, " +
        "CASE WHEN varu <= 0 THEN CAST(NULL AS DOUBLE) " +
        "ELSE ROUND((CAST(u2 AS DOUBLE) " +
        "- CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) " +
        "/ (2 * SQRT(varu)), 6) END AS z FROM vv"),
    "ev_ks" ->
      (s"WITH $abCdfOracleCtes, " +
        "tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb FROM cdf), " +
        "d AS (SELECT v, ABS(CAST(cuma AS DECIMAL(38,0)) * tt.nb " +
        "- CAST(cumb AS DECIMAL(38,0)) * tt.na) AS diff2 " +
        "FROM cdf CROSS JOIN tt), " +
        "m AS (SELECT MAX(diff2) AS md FROM d), " +
        "p AS (SELECT MIN(d.v) AS at_v FROM d JOIN m ON d.diff2 = m.md) " +
        "SELECT tt.na, tt.nb, " +
        "ROUND(CAST(m.md AS DOUBLE) " +
        "/ (CAST(tt.na AS DOUBLE) * CAST(tt.nb AS DOUBLE)), 6) AS d_stat, " +
        "ROUND(CAST(p.at_v AS DOUBLE) / 100, 2) AS at_value, " +
        "ROUND(SQRT(CAST(tt.na AS DOUBLE) * CAST(tt.nb AS DOUBLE) " +
        "/ (CAST(tt.na AS DOUBLE) + CAST(tt.nb AS DOUBLE))) " +
        "* (CAST(m.md AS DOUBLE) " +
        "/ (CAST(tt.na AS DOUBLE) * CAST(tt.nb AS DOUBLE))), 6) AS ks_stat " +
        "FROM tt CROSS JOIN m CROSS JOIN p " +
        "WHERE tt.na > 0 AND tt.nb > 0"),
    "ev_qte" ->
      (s"WITH $abCdfOracleCtes, " +
        "tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb FROM cdf), " +
        "lad AS (SELECT unnest([25, 50, 75, 90]) AS pq), " +
        "qa AS (SELECT l.pq, MIN(c.v) AS va " +
        "FROM cdf c CROSS JOIN tt CROSS JOIN lad l " +
        "WHERE tt.na > 0 AND c.cuma >= (l.pq * tt.na + 99) // 100 " +
        "GROUP BY l.pq), " +
        "qb AS (SELECT l.pq, MIN(c.v) AS vb " +
        "FROM cdf c CROSS JOIN tt CROSS JOIN lad l " +
        "WHERE tt.nb > 0 AND c.cumb >= (l.pq * tt.nb + 99) // 100 " +
        "GROUP BY l.pq) " +
        "SELECT CAST(qa.pq AS DOUBLE) / 100 AS q, " +
        "CAST(qa.va AS DOUBLE) / 100 AS a_value, " +
        "CAST(qb.vb AS DOUBLE) / 100 AS b_value, " +
        "CAST(qb.vb - qa.va AS DOUBLE) / 100 AS qte " +
        "FROM qa JOIN qb ON qb.pq = qa.pq ORDER BY q"),
    "ev_convpairs" ->
      ("SELECT c.user_id, p.event_id AS purchase_id, " +
        "epoch_us(p.ts) AS purchase_us, p.value, " +
        "c.event_id AS click_id, epoch_us(c.ts) AS click_us, " +
        "epoch_us(p.ts) - epoch_us(c.ts) AS gap_us " +
        "FROM events c JOIN events p ON p.user_id = c.user_id " +
        "WHERE c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts >= c.ts " +
        "AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000 " +
        "ORDER BY 1, 2, 5"),
    "ev_kmv" ->
      ("WITH du AS (SELECT DISTINCT event_type AS t, user_id AS u " +
        "FROM events), " +
        "hh AS (SELECT t, ('0x' || substr(md5('kmv:' || " +
        "u::VARCHAR), 1, 15))::BIGINT AS h FROM du), " +
        "r AS (SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t " +
        "ORDER BY h) AS rn FROM hh), " +
        "mins AS (SELECT t, h FROM r WHERE rn <= 64), " +
        "est AS (SELECT t, COUNT(*) AS cnt, MAX(h) AS hk " +
        "FROM mins GROUP BY t), " +
        "ex AS (SELECT t, COUNT(*) AS exn FROM du GROUP BY t), " +
        "pairs AS (SELECT a.t AS ta, b.t AS tb " +
        "FROM ex a JOIN ex b ON a.t < b.t), " +
        "um AS (SELECT p.ta, p.tb, m.h, " +
        "MAX(CASE WHEN m.t = p.ta THEN 1 ELSE 0 END) AS ina, " +
        "MAX(CASE WHEN m.t = p.tb THEN 1 ELSE 0 END) AS inb " +
        "FROM pairs p JOIN mins m ON m.t IN (p.ta, p.tb) " +
        "GROUP BY p.ta, p.tb, m.h), " +
        "ur AS (SELECT ta, tb, h, ina, inb, " +
        "ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn " +
        "FROM um), " +
        "us AS (SELECT ta, tb, COUNT(*) AS ucnt, MAX(h) AS uhk, " +
        "SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) " +
        "AS shared FROM ur WHERE rn <= 64 GROUP BY ta, tb), " +
        "ein AS (SELECT p.ta, p.tb, COUNT(*) AS exi " +
        "FROM pairs p JOIN du a ON a.t = p.ta " +
        "JOIN du b ON b.t = p.tb AND b.u = a.u " +
        "GROUP BY p.ta, p.tb), " +
        "f AS (SELECT us.ta, us.tb, xa.exn AS exact_a, " +
        "xb.exn AS exact_b, " +
        "CASE WHEN ea.cnt < 64 THEN CAST(ea.cnt AS DOUBLE) " +
        "ELSE CAST(63 AS DOUBLE) " +
        "* CAST(1152921504606846976 AS DOUBLE) " +
        "/ CAST(ea.hk AS DOUBLE) END AS est_a, " +
        "CASE WHEN eb.cnt < 64 THEN CAST(eb.cnt AS DOUBLE) " +
        "ELSE CAST(63 AS DOUBLE) " +
        "* CAST(1152921504606846976 AS DOUBLE) " +
        "/ CAST(eb.hk AS DOUBLE) END AS est_b, " +
        "COALESCE(ein.exi, 0) AS exact_inter, " +
        "CAST(us.shared AS DOUBLE) / us.ucnt AS j, " +
        "CASE WHEN us.ucnt < 64 THEN CAST(us.ucnt AS DOUBLE) " +
        "ELSE CAST(63 AS DOUBLE) " +
        "* CAST(1152921504606846976 AS DOUBLE) " +
        "/ CAST(us.uhk AS DOUBLE) END AS est_u " +
        "FROM us JOIN ex xa ON xa.t = us.ta " +
        "JOIN ex xb ON xb.t = us.tb " +
        "JOIN est ea ON ea.t = us.ta " +
        "JOIN est eb ON eb.t = us.tb " +
        "LEFT JOIN ein ON ein.ta = us.ta AND ein.tb = us.tb) " +
        "SELECT ta AS type_a, tb AS type_b, exact_a, " +
        "ROUND(est_a, 2) AS est_a, exact_b, " +
        "ROUND(est_b, 2) AS est_b, exact_inter, " +
        "ROUND(j * est_u, 2) AS est_inter, " +
        "ROUND(j, 6) AS jaccard_est " +
        "FROM f ORDER BY type_a, type_b"),
    "ev_winsor" ->
      (s"WITH $abCdfOracleCtes, " +
        "tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb FROM cdf), " +
        "cap AS (SELECT MIN(c.v) AS cap FROM cdf c CROSS JOIN tt " +
        "WHERE c.cuma + c.cumb >= (99 * (tt.na + tt.nb) + 99) // 100), " +
        "m AS (SELECT " +
        "SUM(CAST(c.ca AS DECIMAL(38,0)) * c.v) AS ra, " +
        "SUM(CAST(c.cb AS DECIMAL(38,0)) * c.v) AS rb, " +
        "SUM(CAST(c.ca AS DECIMAL(38,0)) * LEAST(c.v, cap.cap)) AS wa, " +
        "SUM(CAST(c.cb AS DECIMAL(38,0)) * LEAST(c.v, cap.cap)) AS wb, " +
        "SUM(CASE WHEN c.v > cap.cap THEN c.ca ELSE 0 END) AS xa, " +
        "SUM(CASE WHEN c.v > cap.cap THEN c.cb ELSE 0 END) AS xb " +
        "FROM cdf c CROSS JOIN cap) " +
        "SELECT x.variant, x.n, " +
        "ROUND(CAST(x.raw AS DOUBLE) / x.n / 100, 6) AS mean_raw, " +
        "ROUND(CAST(x.w AS DOUBLE) / x.n / 100, 6) AS mean_winsor, " +
        "ROUND(CAST(cap.cap AS DOUBLE) / 100, 2) AS cap_value, " +
        "CAST(x.nc AS BIGINT) AS n_capped, " +
        "ROUND(CAST(x.nc AS DOUBLE) / x.n, 6) AS capped_frac " +
        "FROM (SELECT 'A' AS variant, tt.na AS n, m.ra AS raw, " +
        "m.wa AS w, m.xa AS nc FROM tt CROSS JOIN m " +
        "UNION ALL " +
        "SELECT 'B', tt.nb, m.rb, m.wb, m.xb FROM tt CROSS JOIN m) x " +
        "CROSS JOIN cap WHERE x.n > 0 ORDER BY variant"),
    "ev_changepoint" ->
      ("WITH daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "tot AS (SELECT event_type, COUNT(*) AS nd, SUM(n) AS s " +
        "FROM daily GROUP BY event_type), " +
        "pre AS (SELECT event_type, day, " +
        "SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS cs, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i " +
        "FROM daily), " +
        "cand AS (SELECT p.event_type, p.day AS boundary_day, " +
        "p.i AS n_left, t.nd - p.i AS n_right, " +
        "p.cs::DOUBLE / p.i AS ml, " +
        "(t.s - p.cs)::DOUBLE / (t.nd - p.i) AS mr, t.nd AS nd " +
        "FROM pre p JOIN tot t ON t.event_type = p.event_type " +
        "WHERE p.i < t.nd), " +
        "sc AS (SELECT event_type, boundary_day, n_left, n_right, ml, mr, " +
        "(ml - mr) * (ml - mr) * n_left * n_right / nd AS gain, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type " +
        "ORDER BY (ml - mr) * (ml - mr) * n_left * n_right / nd DESC, " +
        "boundary_day) AS rn FROM cand) " +
        "SELECT event_type, boundary_day, n_left, n_right, " +
        "ROUND(ml, 6) AS mean_left, ROUND(mr, 6) AS mean_right, " +
        "ROUND(gain, 6) AS gain " +
        "FROM sc WHERE rn = 1 ORDER BY event_type"),
    "ev_sequential" ->
      ("""WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |         CASE WHEN strpos('0123456789abcdef',
        |                substr(md5('ab:' || user_id::VARCHAR), 1, 1)) - 1 < 8
        |              THEN 'A' ELSE 'B' END AS variant,
        |         value
        |  FROM events),
        |d AS (
        |  SELECT day, variant, COUNT(*) AS n,
        |         SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS sv,
        |         SUM(CAST(ROUND(value * value, 6) AS DECIMAL(38,6))) AS sq
        |  FROM e GROUP BY day, variant),
        |grid AS (
        |  SELECT day, variant
        |  FROM (SELECT DISTINCT day FROM e)
        |  CROSS JOIN (SELECT 'A' AS variant UNION ALL SELECT 'B')),
        |c AS (
        |  SELECT g.day, g.variant,
        |         (SUM(COALESCE(d.n, 0)) OVER
        |           (PARTITION BY g.variant ORDER BY g.day))::BIGINT AS n,
        |         SUM(COALESCE(d.sv, CAST(0 AS DECIMAL(28,6)))) OVER
        |           (PARTITION BY g.variant ORDER BY g.day) AS sv,
        |         SUM(COALESCE(d.sq, CAST(0 AS DECIMAL(38,6)))) OVER
        |           (PARTITION BY g.variant ORDER BY g.day) AS sq
        |  FROM grid g LEFT JOIN d ON d.day = g.day AND d.variant = g.variant),
        |w AS (
        |  SELECT day,
        |         MAX(CASE WHEN variant = 'A' THEN n END) AS na,
        |         MAX(CASE WHEN variant = 'A' THEN sv::DOUBLE END) AS sa,
        |         MAX(CASE WHEN variant = 'A' THEN sq::DOUBLE END) AS qa,
        |         MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
        |         MAX(CASE WHEN variant = 'B' THEN sv::DOUBLE END) AS sb,
        |         MAX(CASE WHEN variant = 'B' THEN sq::DOUBLE END) AS qb
        |  FROM c GROUP BY day),
        |stat AS (
        |  SELECT day, na, nb,
        |         CASE WHEN na > 0 THEN ROUND(sa / na, 6) END AS mean_a,
        |         CASE WHEN nb > 0 THEN ROUND(sb / nb, 6) END AS mean_b,
        |         CASE WHEN na > 0 AND nb > 0
        |              THEN (qa + qb) / (na + nb)
        |                   - ((sa + sb) / (na + nb))
        |                     * ((sa + sb) / (na + nb)) END AS ssq,
        |         CASE WHEN na > 0 AND nb > 0
        |              THEN sa / na - sb / nb END AS diff
        |  FROM w),
        |lam AS (
        |  SELECT day, na, nb, mean_a, mean_b,
        |         ROUND(diff, 6) AS diff,
        |         CASE WHEN diff IS NULL OR ssq <= 0 THEN CAST(1 AS DOUBLE)
        |              ELSE SQRT((ssq * (1.0 / na + 1.0 / nb))
        |                        / (ssq * (1.0 / na + 1.0 / nb) + 0.01))
        |                   * EXP(ROUND(
        |                       diff * diff * 0.01
        |                       / (2 * ssq * (1.0 / na + 1.0 / nb)
        |                          * (ssq * (1.0 / na + 1.0 / nb)
        |                             + 0.01)), 6)) END AS lambda
        |  FROM stat)
        |SELECT day, na, nb, mean_a, mean_b, diff,
        |       ROUND(lambda, 6) AS lambda,
        |       ROUND(LEAST(CAST(1 AS DOUBLE), 1 / lambda), 6) AS p_now,
        |       MIN(ROUND(LEAST(CAST(1 AS DOUBLE), 1 / lambda), 6))
        |         OVER (ORDER BY day) AS p_always_valid
        |FROM lam ORDER BY day""".stripMargin.replaceAll("\n", " ")),
    "ev_cuped" ->
      (s"WITH $prePostUserOracleCtes, " +
        "g AS (SELECT COUNT(*) AS n, " +
        "SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS sx, " +
        "SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS sy, " +
        "SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS sxy, " +
        "SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS sxx FROM u), " +
        "t AS (SELECT sx::DOUBLE / n AS mx, " +
        "CASE WHEN sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n = 0 " +
        "THEN CAST(0 AS DOUBLE) " +
        "ELSE ROUND((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n) " +
        "/ (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n), 9) END AS theta " +
        "FROM g), " +
        "a AS (SELECT u.variant, u.y, " +
        "ROUND(u.y - t.theta * (u.x - t.mx), 6) AS ya, t.theta " +
        "FROM u CROSS JOIN t), " +
        "v AS (SELECT variant, COUNT(*) AS n, MAX(theta) AS theta, " +
        "SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS sy, " +
        "SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS syy, " +
        "SUM(CAST(ya AS DECIMAL(28,6))) AS sa, " +
        "SUM(CAST(ROUND(ya * ya, 6) AS DECIMAL(38,6))) AS saa " +
        "FROM a GROUP BY variant) " +
        "SELECT variant, n, ROUND(theta, 6) AS theta, " +
        "ROUND(sy::DOUBLE / n, 6) AS mean_y, " +
        "ROUND(sa::DOUBLE / n, 6) AS mean_y_adj, " +
        "ROUND(syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n), 6) " +
        "AS var_y, " +
        "ROUND(saa::DOUBLE / n - (sa::DOUBLE / n) * (sa::DOUBLE / n), 6) " +
        "AS var_y_adj, " +
        "CASE WHEN syy::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n) " +
        "= 0 THEN CAST(NULL AS DOUBLE) " +
        "ELSE ROUND(1 - (saa::DOUBLE / n - (sa::DOUBLE / n) " +
        "* (sa::DOUBLE / n)) / (syy::DOUBLE / n - (sy::DOUBLE / n) " +
        "* (sy::DOUBLE / n)), 6) END AS var_reduction " +
        "FROM v ORDER BY variant"),
    "ev_theil" ->
      ("WITH obs AS (SELECT event_type, user_id, " +
        "CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS x " +
        "FROM events WHERE value > 0 GROUP BY event_type, user_id), " +
        "g AS (SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sg " +
        "FROM obs GROUP BY event_type), " +
        "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, " +
        "CAST(SUM(CAST(sg AS DECIMAL(28,6))) AS DOUBLE) AS ss FROM g), " +
        "wt AS (SELECT o.event_type, " +
        "ROUND((o.x / (g.sg / g.n)) * ln(o.x / (g.sg / g.n)), 9) AS term " +
        "FROM obs o JOIN g ON g.event_type = o.event_type), " +
        "w AS (SELECT event_type, " +
        "CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE) AS tsum " +
        "FROM wt GROUP BY event_type), " +
        "per AS (SELECT g.event_type, g.n, g.sg, " +
        "ROUND(w.tsum / g.n, 6) AS t_within, " +
        "ROUND((g.sg / t.ss) * ln((g.sg / g.n) / (t.ss / t.nn)), 9) " +
        "AS bterm, " +
        "ROUND((g.sg / t.ss) * ROUND(w.tsum / g.n, 6), 9) AS wcontrib " +
        "FROM g JOIN w ON w.event_type = g.event_type CROSS JOIN tot t) " +
        "SELECT event_type, n AS n_obs, ROUND(sg, 6) AS sum_val, " +
        "t_within, ROUND(bterm, 6) AS between_term, " +
        "ROUND(CAST(SUM(CAST(bterm AS DECIMAL(28,9))) OVER () " +
        "AS DOUBLE), 6) AS theil_between, " +
        "ROUND(CAST(SUM(CAST(bterm AS DECIMAL(28,9))) OVER () " +
        "+ SUM(CAST(wcontrib AS DECIMAL(28,9))) OVER () " +
        "AS DOUBLE), 6) AS theil_total " +
        "FROM per ORDER BY event_type"),
    "ev_holtwinters" -> {
      val off = "1125899906842624"
      val half = "562949953421312"
      val sOld = "r.s[(r.t % 7)::INT + 1]"
      val lNew = s"((d.n * 1000000 - $sOld + r.l + r.b + $off) // 2 - $half)"
      "WITH RECURSIVE daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "idx AS (SELECT event_type, n, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS nd FROM daily), " +
        "i1 AS (SELECT event_type, MAX(nd) AS nd, " +
        "CAST((SUM(n) FILTER (WHERE k <= 7) * 1000000) // 7 AS BIGINT) " +
        "AS l0 FROM idx GROUP BY event_type HAVING MAX(nd) >= 7), " +
        "i2 AS (SELECT idx.event_type, " +
        "list(CAST(idx.n * 1000000 - i1.l0 AS BIGINT) ORDER BY idx.k) " +
        "FILTER (WHERE idx.k <= 7) AS s " +
        "FROM idx JOIN i1 ON i1.event_type = idx.event_type " +
        "GROUP BY idx.event_type), " +
        "rec AS (SELECT i1.event_type, CAST(7 AS BIGINT) AS t, " +
        "i1.l0 AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae, " +
        "i2.s AS s " +
        "FROM i1 JOIN i2 ON i2.event_type = i1.event_type " +
        "UNION ALL SELECT r.event_type, r.t + 1, " +
        s"CAST($lNew AS BIGINT), " +
        s"CAST((($lNew - r.l) + r.b + $off) // 2 - $half AS BIGINT), " +
        s"CAST(r.sae + abs(d.n * 1000000 - (r.l + r.b + $sOld)) " +
        "AS BIGINT), " +
        s"r.s[1:(r.t % 7)::INT] || " +
        s"[CAST((d.n * 1000000 - $lNew + $sOld + $off) // 2 - $half " +
        "AS BIGINT)] || " +
        "r.s[(r.t % 7)::INT + 2:7] " +
        "FROM rec r JOIN idx d ON d.event_type = r.event_type " +
        "AND d.k = r.t + 1), " +
        "fin AS (SELECT r.event_type, i.nd AS n_days, r.t, r.l, r.b, " +
        "r.sae, r.s FROM rec r " +
        "JOIN i1 i ON i.event_type = r.event_type WHERE r.t = i.nd) " +
        "SELECT event_type, CAST(n_days AS BIGINT) AS n_days, " +
        "ROUND(l / 1000000.0, 6) AS level, " +
        "ROUND(b / 1000000.0, 6) AS trend, " +
        "ROUND((l + b + s[(t % 7)::INT + 1]) / 1000000.0, 6) " +
        "AS forecast, " +
        "CASE WHEN t <= 7 THEN 0.0::DOUBLE " +
        "ELSE ROUND(sae / (1000000.0 * (t - 7)), 6) END AS mae, " +
        "ROUND((list_aggregate(s, 'max') - list_aggregate(s, 'min')) " +
        "/ 1000000.0, 6) AS seas_amp " +
        "FROM fin ORDER BY event_type"
    },
    "ev_holt" ->
      ("WITH RECURSIVE daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "idx AS (SELECT event_type, n, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS nd FROM daily), " +
        "rec AS (SELECT i1.event_type, CAST(2 AS BIGINT) AS k, " +
        "CAST(i1.n * 1000000 AS BIGINT) AS l, " +
        "CAST((i2.n - i1.n) * 1000000 AS BIGINT) AS b, " +
        "CAST(0 AS BIGINT) AS sae " +
        "FROM idx i1 JOIN idx i2 ON i2.event_type = i1.event_type " +
        "AND i2.k = 2 WHERE i1.k = 1 " +
        "UNION ALL SELECT r.event_type, r.k + 1, " +
        "CAST((d.n * 1000000 + r.l + r.b + 1125899906842624) // 2 " +
        "- 562949953421312 AS BIGINT), " +
        "CAST(((((d.n * 1000000 + r.l + r.b + 1125899906842624) // 2 " +
        "- 562949953421312) - r.l) + r.b + 1125899906842624) // 2 " +
        "- 562949953421312 AS BIGINT), " +
        "CAST(r.sae + abs(d.n * 1000000 - (r.l + r.b)) AS BIGINT) " +
        "FROM rec r JOIN idx d ON d.event_type = r.event_type " +
        "AND d.k = r.k + 1), " +
        "fin AS (SELECT r.event_type, i.nd AS n_days, r.l, r.b, r.sae " +
        "FROM rec r JOIN (SELECT event_type, MAX(nd) AS nd FROM idx " +
        "GROUP BY 1) i ON i.event_type = r.event_type " +
        "WHERE r.k = i.nd AND i.nd >= 2) " +
        "SELECT event_type, CAST(n_days AS BIGINT) AS n_days, " +
        "ROUND(l / 1000000.0, 6) AS level, " +
        "ROUND(b / 1000000.0, 6) AS trend, " +
        "ROUND((l + b) / 1000000.0, 6) AS forecast, " +
        "CASE WHEN n_days <= 2 THEN 0.0::DOUBLE " +
        "ELSE ROUND(sae / (1000000.0 * (n_days - 2)), 6) END AS mae " +
        "FROM fin ORDER BY event_type"),
    "ev_forecast" ->
      ("WITH daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "sc AS (SELECT d.event_type, d.n, p1.n AS f1, p7.n AS f7 " +
        "FROM daily d " +
        "JOIN daily p1 ON p1.event_type = d.event_type " +
        "AND p1.day = d.day - 1 " +
        "JOIN daily p7 ON p7.event_type = d.event_type " +
        "AND p7.day = d.day - 7) " +
        "SELECT event_type, COUNT(*) AS n_days, " +
        "ROUND(SUM(ABS(n - f1))::DOUBLE / COUNT(*), 6) AS mae_naive, " +
        "ROUND(SUM(ABS(n - f7))::DOUBLE / COUNT(*), 6) AS mae_snaive, " +
        "CASE WHEN SUM(ABS(n - f1)) = 0 THEN CAST(NULL AS DOUBLE) " +
        "ELSE ROUND(SUM(ABS(n - f7))::DOUBLE / SUM(ABS(n - f1)), 6) END " +
        "AS mase " +
        "FROM sc GROUP BY event_type ORDER BY event_type"),
    "ev_benford" ->
      ("""WITH obs AS (
        |  SELECT event_type,
        |         CAST(floor(value / pow(10, floor(log10(value)))) AS INT)
        |           AS d,
        |         COUNT(*) AS n
        |  FROM events WHERE value > 0
        |  GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(n)::BIGINT AS nn FROM obs
        |        GROUP BY event_type),
        |spine AS (
        |  SELECT t.event_type, t.nn, s.d, COALESCE(o.n, 0) AS n,
        |         log10(1 + 1.0 / s.d) AS p
        |  FROM tot t
        |  CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS d) s
        |  LEFT JOIN obs o ON o.event_type = t.event_type AND o.d = s.d)
        |SELECT event_type, MAX(nn) AS n_pos,
        |       ROUND(CAST(SUM(CAST(ROUND(
        |           (n - nn * p) * (n - nn * p) / (nn * p), 9)
        |         AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2,
        |       ROUND(CAST(SUM(CAST(ROUND(abs(n / nn::DOUBLE - p), 9)
        |         AS DECIMAL(28,9))) AS DOUBLE) / 9, 6) AS mad
        |FROM spine GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")),
    "ev_seasonality" ->
      ("""WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, day % 7 AS dow, COUNT(*) AS n_g,
        |         SUM(n) AS s_g, SUM(n * n) AS sq_g
        |  FROM daily GROUP BY event_type, day % 7),
        |w AS (
        |  SELECT event_type,
        |         SUM(CAST(ROUND(sq_g::DOUBLE - s_g::DOUBLE * s_g / n_g, 6)
        |             AS DECIMAL(28,6))) AS ss_w,
        |         COUNT(*) AS k_g,
        |         SUM(n_g) AS n_days, SUM(s_g) AS s, SUM(sq_g) AS sq
        |  FROM g GROUP BY event_type)
        |SELECT event_type, n_days::BIGINT AS n_days,
        |       ROUND(sq::DOUBLE - s::DOUBLE * s / n_days, 6) AS ss_total,
        |       ss_w::DOUBLE AS ss_within,
        |       CASE WHEN sq::DOUBLE - s::DOUBLE * s / n_days = 0
        |            THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(1 - ss_w::DOUBLE
        |             / (sq::DOUBLE - s::DOUBLE * s / n_days), 6)
        |       END AS strength,
        |       CASE WHEN n_days <= k_g
        |                 OR sq::DOUBLE - s::DOUBLE * s / n_days = 0
        |            THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(1 - (ss_w::DOUBLE / (n_days - k_g))
        |             / ((sq::DOUBLE - s::DOUBLE * s / n_days)
        |                / (n_days - 1)), 6)
        |       END AS strength_adj
        |FROM w ORDER BY event_type""".stripMargin.replaceAll("\n", " ")),
    "ev_powerlaw" ->
      ("""WITH peruser AS (
        |  SELECT event_type, user_id, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_users, MAX(x) AS max_x,
        |         SUM(CAST(ROUND(ln(x::DOUBLE), 9) AS DECIMAL(28,9))) AS sln
        |  FROM peruser GROUP BY event_type)
        |SELECT event_type, n_users, max_x,
        |       CASE WHEN sln::DOUBLE = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(1 + n_users / sln::DOUBLE, 6)
        |       END AS alpha
        |FROM agg ORDER BY event_type""".stripMargin.replaceAll("\n", " ")),
    "ev_basket" ->
      ("""WITH items AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events WHERE event_type = 'purchase'),
        |nb AS (
        |  SELECT COUNT(*) AS n_baskets FROM (
        |    SELECT DISTINCT user_id, day FROM items)),
        |cnt AS (SELECT item, COUNT(*) AS n FROM items GROUP BY item),
        |pairs AS (
        |  SELECT a.item AS ante, b.item AS cons, COUNT(*) AS n_ab
        |  FROM items a JOIN items b
        |    ON b.user_id = a.user_id AND b.day = a.day AND b.item <> a.item
        |  GROUP BY a.item, b.item)
        |SELECT p.ante, p.cons, p.n_ab, ca.n AS n_ante, cc.n AS n_cons,
        |       ROUND(p.n_ab::DOUBLE / nb.n_baskets, 6) AS support,
        |       ROUND(p.n_ab::DOUBLE / ca.n, 6) AS confidence,
        |       ROUND(p.n_ab::DOUBLE * nb.n_baskets
        |             / (ca.n::DOUBLE * cc.n), 6) AS lift
        |FROM pairs p
        |JOIN cnt ca ON ca.item = p.ante
        |JOIN cnt cc ON cc.item = p.cons
        |CROSS JOIN nb
        |WHERE p.n_ab >= 2
        |ORDER BY ante, cons""".stripMargin.replaceAll("\n", " ")),
    "ev_lag" ->
      ("WITH f AS (SELECT user_id, " +
        "MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv, " +
        "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp " +
        "FROM events GROUP BY user_id), " +
        "l AS (SELECT (epoch_us(fp) - epoch_us(fv)) // 1000000 AS lag_s " +
        "FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fv <= fp) " +
        "SELECT CAST(floor(log2(lag_s + 1)) AS BIGINT) AS bucket, " +
        "COUNT(*) AS n_users, MIN(lag_s) AS min_lag_s, " +
        "MAX(lag_s) AS max_lag_s, " +
        "ROUND(SUM(lag_s)::DOUBLE / COUNT(*), 6) AS mean_lag_s " +
        "FROM l GROUP BY 1 ORDER BY bucket"),
    "ev_decay" ->
      ("WITH d AS (SELECT DISTINCT user_id, " +
        "epoch_us(ts) // 86400000000 AS day FROM events), " +
        "t AS (SELECT MAX(day) AS tday FROM d) " +
        "SELECT user_id, COUNT(*) AS n_days, " +
        "ROUND(SUM(CASE WHEN t.tday - day < 63 " +
        "THEN 1.0 / (1::BIGINT << (t.tday - day)) " +
        "ELSE 0::DOUBLE END), 6) AS score " +
        "FROM d CROSS JOIN t GROUP BY user_id ORDER BY user_id"),
    "ev_srm" ->
      ("WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "g AS (SELECT ((instr('0123456789abcdef', substring(h, 1, 1)) - 1) " +
        "* 16 + instr('0123456789abcdef', substring(h, 2, 1)) - 1) % 2 " +
        "AS grp FROM (SELECT md5(concat('srm:', " +
        "CAST(user_id AS VARCHAR))) AS h FROM u)), " +
        "c AS (SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT " +
        "AS na, SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS nb " +
        "FROM g HAVING COUNT(*) > 0) " +
        "SELECT na, nb, " +
        "ROUND(CAST(na - nb AS DOUBLE) * (na - nb) / (na + nb), 6) " +
        "AS chi2, " +
        "ROUND(CAST(na - nb AS DOUBLE) * (na - nb) / (na + nb), 6) " +
        "> 6.635 AS srm FROM c"),
    "ev_autocorr" ->
      ("WITH m AS (SELECT event_type, epoch_us(ts) // 60000000 AS minute, " +
        "COUNT(*) AS c FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, MIN(minute) AS lo, MAX(minute) AS hi, " +
        "SUM(c)::BIGINT AS s, SUM(c * c)::BIGINT AS q FROM m GROUP BY 1), " +
        "xy AS (SELECT a.event_type, " +
        "SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS sxy " +
        "FROM m a JOIN m b ON b.event_type = a.event_type " +
        "AND b.minute = a.minute + 1 GROUP BY 1), " +
        "bnd AS (SELECT m.event_type, " +
        "SUM(CASE WHEN m.minute = t.lo THEN m.c ELSE 0 END)::BIGINT AS clo, " +
        "SUM(CASE WHEN m.minute = t.hi THEN m.c ELSE 0 END)::BIGINT AS chi " +
        "FROM m JOIN t ON t.event_type = m.event_type GROUP BY 1), " +
        "f AS (SELECT t.event_type, t.hi - t.lo AS n, " +
        "t.s - bnd.chi AS sx, t.s - bnd.clo AS sy, " +
        "t.q - bnd.chi * bnd.chi AS qx, t.q - bnd.clo * bnd.clo AS qy, " +
        "coalesce(xy.sxy, 0) AS sxy " +
        "FROM t JOIN bnd ON bnd.event_type = t.event_type " +
        "LEFT JOIN xy ON xy.event_type = t.event_type) " +
        "SELECT event_type, n AS n_pairs, " +
        "CASE WHEN n * qx - sx * sx <= 0 OR n * qy - sy * sy <= 0 THEN NULL " +
        "ELSE ROUND((CAST(n AS DECIMAL(38,0)) * sxy " +
        "- CAST(sx AS DECIMAL(38,0)) * sy)::DOUBLE " +
        "/ (sqrt((CAST(n AS DECIMAL(38,0)) * qx " +
        "- CAST(sx AS DECIMAL(38,0)) * sx)::DOUBLE) " +
        "* sqrt((CAST(n AS DECIMAL(38,0)) * qy " +
        "- CAST(sy AS DECIMAL(38,0)) * sy)::DOUBLE)), 6) END AS autocorr " +
        "FROM f ORDER BY event_type"),
    "ev_lifespan" ->
      ("WITH f AS (SELECT user_id, " +
        "(epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS span_s " +
        "FROM events GROUP BY user_id) " +
        "SELECT CAST(floor(log2(span_s + 1)) AS BIGINT) AS bucket, " +
        "COUNT(*) AS n_users, MIN(span_s) AS min_span_s, " +
        "MAX(span_s) AS max_span_s, " +
        "ROUND(SUM(span_s)::DOUBLE / COUNT(*), 6) AS mean_span_s " +
        "FROM f GROUP BY 1 ORDER BY bucket"),
    "ev_trigrams" ->
      ("WITH s AS (SELECT event_type AS e1, " +
        "LEAD(event_type, 1) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS e2, " +
        "LEAD(event_type, 2) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS e3 FROM events) " +
        "SELECT e1, e2, e3, n, rn FROM (" +
        "SELECT e1, e2, e3, n, " +
        "ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS rn " +
        "FROM (SELECT e1, e2, e3, COUNT(*) AS n FROM s " +
        "WHERE e3 IS NOT NULL GROUP BY e1, e2, e3)) " +
        "WHERE rn <= 20 ORDER BY rn"),
    "ev_stickiness" ->
      ("WITH d AS (SELECT DISTINCT user_id, " +
        "CAST(date_trunc('week', ts) AS DATE) AS week, " +
        "CAST(ts AS DATE) AS day FROM events), " +
        "dau AS (SELECT week, day, COUNT(*) AS dau FROM d GROUP BY week, day), " +
        "wau AS (SELECT week, COUNT(DISTINCT user_id) AS wau FROM d " +
        "GROUP BY week) " +
        "SELECT CAST(w.week AS VARCHAR) AS week, COUNT(*) AS n_days, " +
        "SUM(dau.dau)::BIGINT AS sum_dau, " +
        "w.wau, ROUND(SUM(dau.dau)::DOUBLE / COUNT(*) / w.wau, 6) " +
        "AS stickiness " +
        "FROM dau JOIN wau w ON w.week = dau.week " +
        "GROUP BY w.week, w.wau ORDER BY w.week"),
    "ev_dispersion" ->
      ("""WITH m AS (SELECT event_type, epoch_us(ts) // 60000000 AS minute, """ +
        """COUNT(*) AS c FROM events GROUP BY event_type, 2), """ +
        """t AS (SELECT event_type, """ +
        """(MAX(minute) - MIN(minute) + 1)::BIGINT AS n_minutes, """ +
        """SUM(c)::BIGINT AS sc, SUM(c * c)::BIGINT AS sc2 """ +
        """FROM m GROUP BY event_type) """ +
        """SELECT event_type, n_minutes, sc AS n_events, """ +
        """ROUND((n_minutes::DOUBLE * sc2 - sc::DOUBLE * sc) """ +
        """/ (n_minutes::DOUBLE * sc), 6) AS fano """ +
        """FROM t ORDER BY event_type"""),
    "ev_hod" ->
      ("""WITH d AS (SELECT event_type, hour(ts)::BIGINT AS hod, """ +
        """COUNT(*) AS n FROM events GROUP BY event_type, hour(ts)) """ +
        """SELECT event_type, hod, n, """ +
        """ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY event_type), 6) """ +
        """AS share FROM d ORDER BY event_type, hod"""),
    "ev_growth" ->
      ("""WITH uw AS (SELECT DISTINCT user_id, """ +
        """epoch_us(ts) // 604800000000 AS wk FROM events), """ +
        """lagd AS (SELECT user_id, wk, """ +
        """MIN(wk) OVER (PARTITION BY user_id) AS fw, """ +
        """LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev """ +
        """FROM uw), """ +
        """agg AS (SELECT wk, COUNT(*) AS n_active, """ +
        """SUM(CASE WHEN fw = wk THEN 1 ELSE 0 END)::BIGINT AS n_new, """ +
        """SUM(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END)::BIGINT """ +
        """AS n_retained, """ +
        """SUM(CASE WHEN prev IS NOT NULL AND prev < wk - 1 """ +
        """THEN 1 ELSE 0 END)::BIGINT AS n_resurrected """ +
        """FROM lagd GROUP BY wk) """ +
        """SELECT a.wk, a.n_active, a.n_new, a.n_retained, """ +
        """a.n_resurrected, """ +
        """(COALESCE(p.n_active, 0) - a.n_retained)::BIGINT """ +
        """AS n_churned_prev """ +
        """FROM agg a LEFT JOIN agg p ON p.wk = a.wk - 1 """ +
        """ORDER BY a.wk"""),
    "ev_entropy" ->
      ("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS c """ +
        """FROM events GROUP BY user_id, event_type), """ +
        """t AS (SELECT user_id, SUM(c)::BIGINT AS n, COUNT(*) AS n_types, """ +
        """SUM(CAST(ROUND(c * log2(c::DOUBLE), 9) AS DECIMAL(28,9))) """ +
        """AS sterm FROM c GROUP BY user_id) """ +
        """SELECT user_id, n AS n_events, n_types, """ +
        """ROUND(ROUND(log2(n::DOUBLE), 9) - sterm::DOUBLE / n, 6) """ +
        """AS entropy FROM t ORDER BY user_id"""),
    "ev_overlap" ->
      ("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events), """ +
        """cnt AS (SELECT event_type, COUNT(*) AS n FROM tu """ +
        """GROUP BY event_type), """ +
        """inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b, """ +
        """COUNT(*) AS n_both FROM tu a JOIN tu b """ +
        """ON b.user_id = a.user_id AND a.event_type < b.event_type """ +
        """GROUP BY a.event_type, b.event_type) """ +
        """SELECT i.type_a, i.type_b, i.n_both, ca.n AS n_a, cb.n AS n_b, """ +
        """ROUND(i.n_both::DOUBLE / (ca.n + cb.n - i.n_both), 6) AS jaccard """ +
        """FROM inter i JOIN cnt ca ON ca.event_type = i.type_a """ +
        """JOIN cnt cb ON cb.event_type = i.type_b """ +
        """ORDER BY type_a, type_b"""),
    "ev_churn" ->
      ("""WITH w AS (SELECT MAX(ts) AS wend FROM events), """ +
        """w1 AS (SELECT user_id, COUNT(*) AS n_w1 FROM events CROSS JOIN w """ +
        """WHERE ts > wend - INTERVAL 14 DAY AND ts <= wend - INTERVAL 7 DAY """ +
        """GROUP BY user_id), """ +
        """w2 AS (SELECT user_id, COUNT(*) AS n_w2 FROM events CROSS JOIN w """ +
        """WHERE ts > wend - INTERVAL 7 DAY GROUP BY user_id) """ +
        """SELECT w1.user_id, w1.n_w1, COALESCE(w2.n_w2, 0)::BIGINT AS n_w2, """ +
        """COALESCE(w2.n_w2, 0) = 0 AS churned """ +
        """FROM w1 LEFT JOIN w2 ON w2.user_id = w1.user_id """ +
        """ORDER BY w1.user_id"""),
    "ev_daily_top" ->
      ("""WITH d AS (SELECT event_type, """ +
        """epoch_us(ts) // 86400000000 AS day, user_id, COUNT(*) AS n """ +
        """FROM events GROUP BY event_type, 2, user_id) """ +
        """SELECT event_type, day, user_id, n, rn FROM ( """ +
        """SELECT event_type, day, user_id, n, """ +
        """ROW_NUMBER() OVER (PARTITION BY event_type, day """ +
        """ORDER BY n DESC, user_id) AS rn FROM d) """ +
        """WHERE rn <= 3 ORDER BY event_type, day, rn"""),
    "ev_survival" ->
      (s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id,
         |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > $GapMicros
         |              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tagged AS (
         |  SELECT user_id, ts,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM flagged),
         |subj AS (
         |  SELECT (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 60000000 AS t
         |  FROM tagged GROUP BY user_id, sess_idx),
         |tot AS (SELECT COUNT(*) AS n FROM subj),
         |bins AS (SELECT t, COUNT(*) AS n_t, COUNT(*) AS d_t FROM subj GROUP BY t),
         |risk AS (
         |  SELECT t, d_t,
         |         (tot.n - COALESCE(SUM(n_t) OVER (ORDER BY t
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
         |           AS n_risk
         |  FROM bins CROSS JOIN tot)
         |SELECT t, n_risk, d_t AS n_events,
         |       ROUND(d_t::DOUBLE / n_risk, 6) AS hazard,
         |       ROUND(CAST(SUM(CAST(ROUND(d_t::DOUBLE / n_risk, 9)
         |             AS DECIMAL(28,9))) OVER (ORDER BY t) AS DOUBLE), 6)
         |         AS cum_hazard
         |FROM risk WHERE d_t > 0 ORDER BY t""".stripMargin
        .replaceAll("\n", " ")),
    "ev_ltv" ->
      ("""WITH seen AS (SELECT user_id, ts, value, """ +
        """MIN(date_trunc('week', ts)) OVER (PARTITION BY user_id) """ +
        """AS cohort FROM events), """ +
        """sized AS (SELECT cohort, COUNT(DISTINCT user_id) AS """ +
        """cohort_users FROM seen GROUP BY cohort), """ +
        """wk AS (SELECT cohort, """ +
        """date_diff('day', cohort, date_trunc('week', ts)) // 7 """ +
        """AS age_weeks, COUNT(DISTINCT user_id) AS active_users, """ +
        """SUM(value::DECIMAL(18,2)) AS revenue """ +
        """FROM seen GROUP BY cohort, """ +
        """date_diff('day', cohort, date_trunc('week', ts)) // 7), """ +
        """cum AS (SELECT cohort, age_weeks, active_users, revenue, """ +
        """SUM(revenue) OVER (PARTITION BY cohort ORDER BY age_weeks) """ +
        """AS cum_revenue FROM wk) """ +
        """SELECT c.cohort, c.age_weeks, c.active_users, """ +
        """c.revenue::DOUBLE AS revenue, """ +
        """c.cum_revenue::DOUBLE AS cum_revenue, s.cohort_users, """ +
        """ROUND(c.cum_revenue::DOUBLE / s.cohort_users, 6) AS ltv """ +
        """FROM cum c JOIN sized s ON s.cohort = c.cohort """ +
        """ORDER BY c.cohort, c.age_weeks"""),
    "ev_dow" ->
      ("""WITH d AS (SELECT event_type, isodow(ts)::BIGINT AS dow, """ +
        """COUNT(*) AS n FROM events GROUP BY event_type, isodow(ts)) """ +
        """SELECT event_type, dow, n, """ +
        """ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY event_type), 6) """ +
        """AS share FROM d ORDER BY event_type, dow"""),
    "ev_ewma" ->
      ("""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, """ +
        """COUNT(*) AS n FROM events """ +
        """GROUP BY event_type, date_trunc('day', ts)), """ +
        """w AS (SELECT event_type, day, n, """ +
        """ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 """ +
        """AS k FROM d), """ +
        """acc AS (SELECT event_type, day, n, k, """ +
        """SUM(n * POWER(2.0, GREATEST(k - 1, 0))) OVER ( """ +
        """PARTITION BY event_type ORDER BY k) AS s FROM w) """ +
        """SELECT event_type, day, n, s * POWER(0.5, k) AS ewma """ +
        """FROM acc ORDER BY event_type, day"""),
    "ev_bots" ->
      ("""WITH ranked AS (SELECT user_id, event_id, ts, """ +
        """ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) """ +
        """AS rn FROM events), """ +
        """planted AS (SELECT user_id, event_id, """ +
        """CASE WHEN user_id % 29 = 3 """ +
        """THEN TIMESTAMP '2024-01-01 00:00:00' """ +
        """     + INTERVAL (60 * (rn - 1)) SECOND """ +
        """ELSE ts END AS ts FROM ranked), """ +
        """g AS (SELECT user_id, """ +
        """epoch_us(ts) - LAG(epoch_us(ts)) OVER ( """ +
        """PARTITION BY user_id ORDER BY ts, event_id) AS gap """ +
        """FROM planted), """ +
        """m AS (SELECT user_id, COUNT(*) AS n_gaps, """ +
        """SUM(gap)::BIGINT AS sx, """ +
        """SUM(gap::HUGEINT * gap) AS sxx """ +
        """FROM g WHERE gap IS NOT NULL GROUP BY user_id """ +
        """HAVING COUNT(*) >= 2), """ +
        """sel AS (SELECT user_id, n_gaps, sx // n_gaps AS mean_gap_us, """ +
        """ROUND(sqrt(GREATEST( """ +
        """(n_gaps::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) """ +
        """/ (n_gaps::DOUBLE * (n_gaps - 1)), 0)) """ +
        """/ (sx::DOUBLE / n_gaps), 6) AS cv_gap FROM m) """ +
        """SELECT user_id, n_gaps, mean_gap_us, cv_gap, """ +
        """cv_gap < 0.3 AND n_gaps >= 10 AS is_bot """ +
        """FROM sel ORDER BY user_id"""),
    "ev_abtest" ->
      ("""WITH u AS (SELECT user_id, """ +
        """CASE WHEN strpos('0123456789abcdef', """ +
        """substr(md5('ab:' || user_id::VARCHAR), 1, 1)) - 1 < 8 """ +
        """THEN 'A' ELSE 'B' END AS variant, """ +
        """CASE WHEN SUM(CASE WHEN event_type = 'purchase' """ +
        """THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv """ +
        """FROM events GROUP BY user_id), """ +
        """v AS (SELECT variant, COUNT(*) AS n, SUM(conv)::BIGINT AS c """ +
        """FROM u GROUP BY variant), """ +
        """w AS (SELECT """ +
        """MAX(CASE WHEN variant = 'A' THEN n END) AS na, """ +
        """MAX(CASE WHEN variant = 'A' THEN c END) AS ca, """ +
        """MAX(CASE WHEN variant = 'B' THEN n END) AS nb, """ +
        """MAX(CASE WHEN variant = 'B' THEN c END) AS cb FROM v) """ +
        """SELECT na, ca, nb, cb, """ +
        """ROUND(ca::DOUBLE / na, 6) AS rate_a, """ +
        """ROUND(cb::DOUBLE / nb, 6) AS rate_b, """ +
        s"""CASE WHEN ca + cb = 0 OR ca + cb = na + nb """ +
        s"""THEN NULL::DOUBLE ELSE ROUND($abZDuck, 6) END AS z, """ +
        s"""CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN false """ +
        s"""ELSE ABS(ROUND($abZDuck, 6)) >= 1.96 END AS significant """ +
        """FROM w"""),
    "ev_cooccur" ->
      (s"""WITH flagged AS (
          |  SELECT user_id, ts, event_id, event_type,
          |         CASE WHEN epoch_us(ts) -
          |                   LAG(epoch_us(ts)) OVER w > $GapMicros
          |              OR LAG(ts) OVER w IS NULL
          |              THEN 1 ELSE 0 END AS new_sess
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |tagged AS (
          |  SELECT user_id, event_type,
          |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
          |  FROM flagged),
          |st AS (SELECT DISTINCT user_id, sess_idx, event_type FROM tagged),
          |sess AS (SELECT DISTINCT user_id, sess_idx FROM st),
          |ns AS (SELECT COUNT(*) AS n_sessions FROM sess),
          |ta AS (SELECT event_type, COUNT(*) AS n FROM st GROUP BY event_type),
          |pairs AS (
          |  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_ab
          |  FROM st a JOIN st b
          |    ON b.user_id = a.user_id AND b.sess_idx = a.sess_idx
          |   AND a.event_type < b.event_type
          |  GROUP BY a.event_type, b.event_type)
          |SELECT p.t1, p.t2, p.n_ab, x.n AS n_a, y.n AS n_b, ns.n_sessions,
          |       ROUND(p.n_ab::DOUBLE * ns.n_sessions
          |             / (x.n::DOUBLE * y.n), 6) AS lift,
          |       ROUND(p.n_ab::DOUBLE / (x.n + y.n - p.n_ab), 6) AS jaccard
          |FROM pairs p
          |JOIN ta x ON x.event_type = p.t1
          |JOIN ta y ON y.event_type = p.t2
          |CROSS JOIN ns
          |ORDER BY p.t1, p.t2""".stripMargin.replaceAll("\n", " ")),
    "ev_gaps" ->
      ("""WITH gaps AS (SELECT event_type, """ +
        """epoch_us(ts) - LAG(epoch_us(ts)) OVER ( """ +
        """PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap """ +
        """FROM events), """ +
        """g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL), """ +
        """hist AS (SELECT event_type, """ +
        """length(format('{:b}', gap)) - 1 AS bucket, COUNT(*) AS n """ +
        """FROM g GROUP BY event_type, length(format('{:b}', gap)) - 1), """ +
        """tot AS (SELECT event_type, COUNT(*) AS n_gaps, """ +
        """SUM(gap)::BIGINT AS sum_gap FROM g GROUP BY event_type) """ +
        """SELECT h.event_type, h.bucket, h.n, t.n_gaps, """ +
        """t.sum_gap // t.n_gaps AS mean_gap_us """ +
        """FROM hist h JOIN tot t ON t.event_type = h.event_type """ +
        """ORDER BY h.event_type, h.bucket"""),
    "ev_gini" ->
      ("""WITH cnt AS (SELECT user_id, COUNT(*) AS n FROM events """ +
        """GROUP BY user_id), """ +
        """g AS (SELECT n, COUNT(*) AS c FROM cnt GROUP BY n), """ +
        """o AS (SELECT n, c, """ +
        """SUM(c) OVER (ORDER BY n) - c AS off, """ +
        """SUM(c) OVER (ORDER BY n DESC) AS cumd FROM g), """ +
        """t AS (SELECT SUM(c)::BIGINT AS nu, SUM(n * c)::BIGINT AS tn, """ +
        """SUM(n::DECIMAL(38,0) * (c * off + c * (c + 1) // 2)) AS sin """ +
        """FROM o), """ +
        """top AS (SELECT SUM(n * LEAST(c, GREATEST(0, t.nu // 10 """ +
        """- (cumd - c))))::BIGINT AS tope FROM o CROSS JOIN t) """ +
        """SELECT t.nu AS n_users, t.tn AS total_events, """ +
        """ROUND(2 * t.sin::DOUBLE / (t.nu::DOUBLE * t.tn::DOUBLE) """ +
        """- (t.nu::DOUBLE + 1) / t.nu::DOUBLE, 6) AS gini, """ +
        """t.nu // 10 AS top_decile_users, top.tope AS top_decile_events, """ +
        """ROUND(top.tope::DOUBLE / t.tn::DOUBLE, 6) AS top_decile_share """ +
        """FROM t CROSS JOIN top WHERE t.nu IS NOT NULL"""),
    "ev_streaks" ->
      ("""WITH active AS (SELECT DISTINCT user_id, """ +
        """epoch_us(ts) // 86400000000 AS day FROM events), """ +
        """isl AS (SELECT user_id, day, """ +
        """day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) """ +
        """AS grp FROM active), """ +
        """runs AS (SELECT user_id, grp, COUNT(*) AS len """ +
        """FROM isl GROUP BY user_id, grp) """ +
        """SELECT user_id, SUM(len)::BIGINT AS active_days, """ +
        """COUNT(*) AS n_streaks, MAX(len) AS max_streak """ +
        """FROM runs GROUP BY user_id ORDER BY user_id"""),
    "ev_features" ->
      ("""SELECT user_id, event_id, ts, event_type, value, """ +
        """LAG(value) OVER w AS prev_value, """ +
        """epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us, """ +
        """CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq_idx, """ +
        """ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER v AS DOUBLE) """ +
        """/ COUNT(*) OVER v, 6) AS roll_avg """ +
        """FROM events """ +
        """WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), """ +
        """v AS (PARTITION BY user_id ORDER BY ts, event_id """ +
        """ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) """ +
        """ORDER BY user_id, seq_idx"""),
    "ev_rfm" ->
      ("""WITH m AS (SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS freq, """ +
        """CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary """ +
        """FROM events GROUP BY user_id), """ +
        """ref AS (SELECT MAX(last_ts) AS now_ts FROM m), """ +
        """b AS (SELECT m.user_id, """ +
        """(epoch_us(r.now_ts) - epoch_us(m.last_ts)) // 86400000000 """ +
        """AS recency_days, m.freq, m.monetary FROM m CROSS JOIN ref r), """ +
        """cuts AS (SELECT quantile_cont(recency_days, 0.2) AS r20, """ +
        """quantile_cont(recency_days, 0.4) AS r40, """ +
        """quantile_cont(recency_days, 0.6) AS r60, """ +
        """quantile_cont(recency_days, 0.8) AS r80, """ +
        """quantile_cont(freq, 0.2) AS f20, quantile_cont(freq, 0.4) AS f40, """ +
        """quantile_cont(freq, 0.6) AS f60, quantile_cont(freq, 0.8) AS f80, """ +
        """quantile_cont(monetary, 0.2) AS m20, """ +
        """quantile_cont(monetary, 0.4) AS m40, """ +
        """quantile_cont(monetary, 0.6) AS m60, """ +
        """quantile_cont(monetary, 0.8) AS m80 FROM b), """ +
        """sc AS (SELECT b.user_id, b.recency_days, b.freq, b.monetary, """ +
        """CASE WHEN b.recency_days <= c.r20 THEN 5 """ +
        """WHEN b.recency_days <= c.r40 THEN 4 """ +
        """WHEN b.recency_days <= c.r60 THEN 3 """ +
        """WHEN b.recency_days <= c.r80 THEN 2 ELSE 1 END AS r_score, """ +
        """CASE WHEN b.freq > c.f80 THEN 5 WHEN b.freq > c.f60 THEN 4 """ +
        """WHEN b.freq > c.f40 THEN 3 WHEN b.freq > c.f20 THEN 2 """ +
        """ELSE 1 END AS f_score, """ +
        """CASE WHEN b.monetary > c.m80 THEN 5 WHEN b.monetary > c.m60 THEN 4 """ +
        """WHEN b.monetary > c.m40 THEN 3 WHEN b.monetary > c.m20 THEN 2 """ +
        """ELSE 1 END AS m_score FROM b CROSS JOIN cuts c) """ +
        """SELECT user_id, recency_days, freq, monetary, r_score, f_score, """ +
        """m_score, r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR """ +
        """AS rfm FROM sc ORDER BY user_id"""),
    "ev_markov" ->
      ("""WITH tr AS (SELECT LAG(event_type) OVER (PARTITION BY user_id """ +
        """ORDER BY ts, event_id) AS prev, event_type AS cur FROM events), """ +
        """cnt AS (SELECT prev, cur, COUNT(*) AS n FROM tr """ +
        """WHERE prev IS NOT NULL GROUP BY prev, cur), """ +
        """row_tot AS (SELECT prev, SUM(n)::BIGINT AS tot FROM cnt GROUP BY prev) """ +
        """SELECT c.prev, c.cur, c.n, """ +
        """ROUND(c.n::DOUBLE / t.tot, 6) AS p """ +
        """FROM cnt c JOIN row_tot t ON t.prev = c.prev """ +
        """ORDER BY c.prev, c.cur"""),
    "ev_paths" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN epoch_us(ts) -
         |                   LAG(epoch_us(ts)) OVER w > $GapMicros
         |              OR LAG(ts) OVER w IS NULL
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tagged AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM flagged),
         |tri AS (
         |  SELECT event_type || '>' ||
         |         LEAD(event_type, 1) OVER v || '>' ||
         |         LEAD(event_type, 2) OVER v AS path,
         |         LEAD(event_type, 2) OVER v AS t2
         |  FROM tagged
         |  WINDOW v AS (PARTITION BY user_id, sess_idx ORDER BY ts, event_id))
         |SELECT path, COUNT(*) AS n
         |FROM tri WHERE t2 IS NOT NULL
         |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin
        .replaceAll("\n", " "),
    "ev_spike" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type, win_day AS day, SUM(n)::BIGINT AS base_n,
        |         COUNT(*) AS base_days
        |  FROM (SELECT event_type, n,
        |               unnest(generate_series(day + 1, day + 7)) AS win_day
        |        FROM daily)
        |  GROUP BY event_type, win_day)
        |SELECT d.event_type, d.day, d.n, b.base_n, b.base_days,
        |       ROUND((d.n * b.base_days)::DOUBLE / b.base_n, 6)
        |         AS rate_ratio,
        |       d.n * b.base_days >= 2 * b.base_n AS spike
        |FROM daily d
        |JOIN base b ON b.event_type = d.event_type AND b.day = d.day
        |ORDER BY d.event_type, d.day""".stripMargin.replaceAll("\n", " "),
    "ev_active_users" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM active),
        |fan AS (
        |  SELECT user_id, unnest(generate_series(day, day + 6)) AS win_day
        |  FROM active),
        |wau AS (
        |  SELECT win_day AS day, COUNT(DISTINCT user_id) AS wau_7d
        |  FROM fan GROUP BY win_day),
        |dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY day)
        |SELECT d.day, dau.dau, wau.wau_7d,
        |       ROUND(dau.dau::DOUBLE / wau.wau_7d, 6) AS stickiness
        |FROM days d
        |JOIN dau ON dau.day = d.day
        |JOIN wau ON wau.day = d.day
        |ORDER BY d.day""".stripMargin.replaceAll("\n", " "),
    // DuckDB puts IGNORE NULLS inside the call parens; semantics identical
    "ev_attribution" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
        |           IGNORE NULLS) OVER w AS last_click_id,
        |         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
        |           IGNORE NULLS) OVER w AS last_click_ts,
        |         LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
        |           IGNORE NULLS) OVER w AS last_view_id,
        |         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END
        |           IGNORE NULLS) OVER w AS last_view_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS purchase_id, ts AS t_purchase, value,
        |       CASE WHEN last_click_id IS NOT NULL THEN 'click'
        |            WHEN last_view_id IS NOT NULL THEN 'view'
        |            ELSE 'organic' END AS touch_type,
        |       CASE WHEN last_click_id IS NOT NULL THEN last_click_id
        |            ELSE last_view_id END AS touch_id,
        |       CASE WHEN last_click_id IS NOT NULL THEN last_click_ts
        |            ELSE last_view_ts END AS t_touch
        |FROM ordered WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin.replaceAll("\n", " "),
    "ev_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id),
        |sizes AS (
        |  SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort
        |  GROUP BY cohort_day),
        |cells AS (
        |  SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |         COUNT(DISTINCT a.user_id) AS n_users
        |  FROM active a JOIN cohort c ON c.user_id = a.user_id
        |  GROUP BY c.cohort_day, a.day - c.cohort_day)
        |SELECT x.cohort_day, x.day_offset, x.n_users, s.cohort_size,
        |       ROUND(x.n_users::DOUBLE / s.cohort_size, 6) AS retention
        |FROM cells x JOIN sizes s ON s.cohort_day = x.cohort_day
        |ORDER BY x.cohort_day, x.day_offset""".stripMargin.replaceAll("\n", " "),
    "ev_funnel" -> funnelSql("events").replaceAll("\n", " "),
    "ev_sessionize" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, value,
         |         CASE WHEN epoch_us(ts) -
         |                   LAG(epoch_us(ts)) OVER w > $GapMicros
         |              OR LAG(ts) OVER w IS NULL
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tagged AS (
         |  SELECT user_id, ts, event_id, value,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM flagged)
         |SELECT user_id, sess_idx::BIGINT AS sess_idx, MIN(ts) AS sess_start,
         |       MAX(ts) AS sess_end, COUNT(*) AS n_events,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM tagged GROUP BY user_id, sess_idx
         |ORDER BY user_id, sess_idx""".stripMargin.replaceAll("\n", " "))
  // (DuckDB window SUM(int) yields INT128; ::BIGINT aligns the schema with
  // Spark's BIGINT window sum.)
}
