package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Sessionize, Stats}
import graft.sources.Tables

/** Temporal operators (SURVEY §2.C9-C10): as-of join and gap
  * sessionization over the ns-precision `events` table.
  *
  * Precision contract: events carry TIMESTAMP(NANOS); Spark reads exact
  * nanos (ts_ns) while DuckDB truncates to µs — so every comparison and
  * every emitted value is on `ts_ns div 1000` vs `epoch_us(ts)`, which
  * agree exactly (no (user, µs) collisions exist at any SF; verified
  * against all three directories).
  */
object TemporalQueries {

  /** Survival subjects for the per-user activity spans, (cohort, dur,
    * obs): cohort = the user's first event type, dur = whole hours
    * between first and last event, obs = false (censored) when the
    * last event falls inside the final 24 h of the feed.
    */
  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val per = ev
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("__rn", row_number().over(w))
      .groupBy("user_id")
      .agg(min("ts_us").as("f"), max("ts_us").as("l"),
        max(when(col("__rn") === 1, col("event_type"))).as("cohort"))
    val hz = ev.agg((max(col("ts_us")) - lit(86400000000L)).as("hz"))
    per.crossJoin(broadcast(hz)).select(
      col("cohort"), expr("(l - f) div 3600000000").as("dur"),
      (col("l") < col("hz")).as("obs"))
  }

  /** DuckDB side of [[survivalSubjects]] up to the subjects: `e`,
    * `per`(u, f, l, cohort) and the censoring horizon `h`(hz).
    */
  private val survivalSpansSql: String =
    """e AS (
      |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
      |    event_type AS et
      |  FROM events),
      |per AS (
      |  SELECT u, min(t) AS f, max(t) AS l,
      |    max(CASE WHEN rn = 1 THEN et END) AS cohort
      |  FROM (SELECT u, t, eid, et,
      |          row_number() OVER (PARTITION BY u ORDER BY t, eid) AS rn
      |        FROM e)
      |  GROUP BY u),
      |h AS (SELECT max(t) - 86400000000 AS hz FROM e)""".stripMargin

  /** The q_funnel / q_funnel_windowed oracle: each step's completion
    * is the user's earliest event of that type at-or-after the previous
    * step's (and within `maxGapNs` of it, when given); per-step user
    * counts and 6-dp truncated conversion.
    */
  private def funnelSql(maxGapNs: Option[Long]): String = {
    val steps = Seq("signup", "view", "click", "purchase")
    val chain = steps.zipWithIndex.tail.map { case (et, i) =>
      val gap = maxGapNs.fold("")(g => s"\n         AND e.t <= s$i.t_r + $g")
      s"""s${i + 1} AS (SELECT e.u, min(e.t) AS t_r FROM e
         |       JOIN s$i ON e.u = s$i.u AND e.t >= s$i.t_r$gap
         |       WHERE et = '$et' GROUP BY e.u),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (
       |  SELECT user_id AS u, epoch_ns(ts) AS t, event_type AS et FROM events),
       |s1 AS (SELECT u, min(t) AS t_r FROM e WHERE et = 'signup' GROUP BY u),
       |$chain
       |c AS (
       |  SELECT 1 AS step, 'signup' AS event_type, count(*) AS n_users FROM s1
       |  UNION ALL SELECT 2, 'view', count(*) FROM s2
       |  UNION ALL SELECT 3, 'click', count(*) FROM s3
       |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4),
       |b AS (SELECT n_users AS base FROM c WHERE step = 1)
       |SELECT step, event_type, CAST(n_users AS BIGINT) AS n_users,
       |  floor(n_users / base * 1e6) / 1e6 AS conversion
       |FROM c CROSS JOIN b ORDER BY step""".stripMargin
  }

  /** Events per (event_type, hour), (event_type, bucket_s, n_events):
    * bucket_s = the hour's start in epoch seconds.
    */
  private def hourlyEventCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        (expr("ts_ns div 3600000000000") * 3600).as("bucket_s"))
      .agg(count(lit(1)).as("n_events"))

  /** DuckDB side of [[hourlyEventCounts]]: the CTE `b`(key, bucket, n). */
  private val hourlyEventCountsSql: String =
    """b AS (
      |  SELECT event_type AS key,
      |    (epoch_ns(ts) // 3600000000000) * 3600 AS bucket, count(*) AS n
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** RFM inputs per user, `t`(user_id, recency_periods, frequency,
    * monetary): whole days since the user's last event, measured from
    * the feed's last event, the event count and the exact money sum.
    */
  private val rfmInputsSql: String =
    """per AS (
      |  SELECT user_id,
      |    max(epoch_ns(ts)) AS last_ts,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE)
      |      AS monetary
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY user_id),
      |hz AS (SELECT max(last_ts) AS hz FROM per),
      |t AS (
      |  SELECT user_id,
      |    (hz - last_ts) // 86400000000000 AS recency_periods,
      |    frequency, monetary
      |  FROM per, hz)""".stripMargin

  /** [[hourlyEventCountsSql]]'s counts as 1e6 integer micro-lanes `vm`,
    * numbered `rn` per key in bucket order: the recursive chart walks'
    * input `v`.
    */
  private val hourlyMicroLanesSql: String =
    """v AS (
      |  SELECT key, bucket,
      |    CAST(round(CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS vm,
      |    row_number() OVER (PARTITION BY key ORDER BY bucket) AS rn
      |  FROM b)""".stripMargin

  val all: Seq[Q] = Seq(

    // C9: backward as-of join — for each purchase, the user's latest
    // click at-or-before it. Oracle uses DuckDB's native ASOF JOIN, so
    // the two engines implement the operator independently.
    Q(
      "q_asof_join",
      """SELECT p.event_id AS p_event, p.user_id,
        |  epoch_us(p.ts) AS p_us,
        |  c.event_id AS c_event,
        |  epoch_us(c.ts) AS c_us,
        |  CAST(round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 0) AS BIGINT) AS lag_s
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p_event""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id"), col("ts_us").as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_event"), col("user_id"), col("ts_us").as("c_us"))
      AsOf.joinBackward(
          purchases, clicks,
          keys = Seq("user_id"),
          leftTs = "p_us", rightTs = "c_us",
          rightPayload = Seq("c_event", "c_us"),
          rightOrder = Seq("c_event"))
        .withColumn("lag_s",
          round((col("p_us") - col("c_us")) / 1e6, 0).cast("bigint"))
        .select("p_event", "user_id", "p_us", "c_event", "c_us", "lag_s")
        .orderBy("p_event")
    },

    // C9c: the SAME backward as-of join through the custom PHYSICAL
    // operator (AsOfJoinExec: co-partitioned streaming merge, tier (c)
    // of the extension ladder) — hash-matched against DuckDB's native
    // ASOF JOIN, with a 10-minute tolerance exercising the bound the
    // window form can't push into a single merge pass. The tolerance
    // NULLS OUT stale matches (left row survives), which DuckDB
    // expresses as a post-ASOF CASE.
    Q(
      "q_asof_exec",
      """WITH j AS (
        |  SELECT p.event_id AS p_event, p.user_id,
        |    epoch_us(p.ts) AS p_us,
        |    c.event_id AS c_event,
        |    epoch_us(c.ts) AS c_us
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT p_event, user_id, p_us,
        |  CASE WHEN p_us - c_us <= 600000000 THEN c_event END AS c_event,
        |  CASE WHEN p_us - c_us <= 600000000 THEN c_us END AS c_us
        |FROM j
        |ORDER BY p_event""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id"), col("ts_us").as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_event"), col("user_id"), col("ts_us").as("c_us"))
      AsOf.joinBackwardExec(
          purchases, clicks,
          keys = Seq("user_id"),
          leftTs = "p_us", rightTs = "c_us",
          rightPayload = Seq("c_event", "c_us"),
          rightOrder = Seq("c_event"),
          toleranceUs = Some(600000000L))
        .select("p_event", "user_id", "p_us", "c_event", "c_us")
        .orderBy("p_event")
    },

    // C9b: forward as-of — for each purchase, the user's EARLIEST error
    // event at-or-after it (the "what broke next" join).
    Q(
      "q_asof_forward",
      """SELECT p.event_id AS p_event, p.user_id,
        |  epoch_us(p.ts) AS p_us,
        |  e.event_id AS e_event,
        |  epoch_us(e.ts) AS e_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND e.ts >= p.ts
        |ORDER BY p_event""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id"), col("ts_us").as("p_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_event"), col("user_id"), col("ts_us").as("e_us"))
      AsOf.joinForward(
          purchases, errors,
          keys = Seq("user_id"),
          leftTs = "p_us", rightTs = "e_us",
          rightPayload = Seq("e_event", "e_us"),
          rightOrder = Seq("e_event"))
        .select("p_event", "user_id", "p_us", "e_event", "e_us")
        .orderBy("p_event")
    },

    // C6b: RANGE-frame window — trailing 30-day spend per customer
    // (value-based frame, not row-based; ties at the same date all
    // see each other's contribution, so the result is deterministic).
    Q(
      "q_window_range",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin
    ) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(unix_timestamp(col("o_orderdate").cast("timestamp")))
        .rangeBetween(-2592000L, 0L)
      table(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("spend_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // C20: binned range join — event values classified into
    // overlapping value bands. The oracle states the plain BETWEEN
    // join; the Spark side must produce identical matches through the
    // bin-bucketed equi-join (no nested-loop product at any scale).
    Q(
      "q_range_join",
      """WITH bands AS (
        |  SELECT CAST(i AS INT) AS band_id, i * 40.0 AS lo, i * 40.0 + 60.0 AS hi
        |  FROM (SELECT unnest(range(0, 12)) AS i))
        |SELECT band_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN bands ON value BETWEEN lo AND hi
        |GROUP BY band_id
        |ORDER BY band_id""".stripMargin
    ) { (s, dir) =>
      val bands = s.range(0, 12).select(
        col("id").cast("int").as("band_id"),
        (col("id") * 40.0).as("lo"),
        (col("id") * 40.0 + 60.0).as("hi"))
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.operators.RangeJoin.pointInInterval(
          ev, bands, col("value"), col("lo"), col("hi"), binWidth = 40.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("band_id")
    },

    // C10: gap sessionization (12h inactivity closes a session) with
    // per-session aggregates. The oracle rebuilds the same semantics
    // from first principles (lag + running-sum windows).
    Q(
      "q_sessionize",
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000
        |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |y AS (
        |  SELECT *, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM x)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_us) AS start_ts, max(ts_us) AS end_ts,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM y
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      Sessionize.summarize(
          ev,
          keys = Seq("user_id"),
          ts = col("ts_us"),
          maxGap = lit(43200000000L), // 12h in µs
          order = Seq(col("event_id")),
          aggs = Seq(dsum(col("value")).as("sum_value")))
        .select("user_id", "session_id", "n_events", "start_ts", "end_ts", "sum_value")
        .orderBy("user_id", "session_id")
    },

    // C23: dense resampling — each user's history expanded to a
    // contiguous 6-hour grid (its own min..max bucket), zero-filled
    // counts/sums and a carried-forward (LOCF) sum in the gaps. DuckDB
    // regenerates the grid with range() and replays the carry with
    // last_value IGNORE NULLS.
    Q(
      "q_resample", {
        val step = 21600000000L // 6h in µs
        s"""WITH e AS (
           |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value
           |  FROM events WHERE user_id < 50),
           |o AS (
           |  SELECT user_id, ts_us - (ts_us % $step) AS bucket_us,
           |    count(*) AS n_events,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
           |  FROM e GROUP BY 1, 2),
           |r AS (SELECT user_id, min(bucket_us) AS mn, max(bucket_us) AS mx
           |      FROM o GROUP BY 1),
           |g AS (SELECT user_id, unnest(range(mn, mx + $step, $step)) AS bucket_us
           |      FROM r),
           |j AS (
           |  SELECT g.user_id, g.bucket_us,
           |    coalesce(o.n_events, 0) AS n_events, o.sum_v
           |  FROM g LEFT JOIN o ON g.user_id = o.user_id AND g.bucket_us = o.bucket_us)
           |SELECT user_id, bucket_us, CAST(n_events AS BIGINT) AS n_events,
           |  round(coalesce(sum_v, 0), 4) AS sum_value,
           |  round(last_value(sum_v IGNORE NULLS) OVER (
           |    PARTITION BY user_id ORDER BY bucket_us
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS carried_value
           |FROM j ORDER BY user_id, bucket_us""".stripMargin
      }
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      graft.operators.Resample.dense(ev, col("user_id"), col("ts_us"),
          col("value"), stepUs = 21600000000L)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "bucket_us")
    },

    // C32: strictly-ordered funnel over event types — per user, each
    // step's completion is the earliest occurrence at-or-after the
    // previous step's completion; integer-epoch comparisons, 6-dp
    // truncated conversion.
    Q(
      "q_funnel",
      funnelSql(maxGapNs = None)
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.operators.Behavior.funnel(ev, col("user_id"), col("ts_ns"),
          col("event_type"), Seq("signup", "view", "click", "purchase"))
        .orderBy("step")
    },

    // C86: windowed funnel — the same chain with a 48h max gap
    // between consecutive steps; the gap cap is an integer-epoch
    // bound, so both engines agree exactly.
    Q(
      "q_funnel_windowed",
      funnelSql(maxGapNs = Some(172800000000000L))
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.operators.Behavior.funnelWindowed(ev, col("user_id"), col("ts_ns"),
          col("event_type"), Seq("signup", "view", "click", "purchase"),
          maxGapNs = 172800000000000L)
        .orderBy("step")
    },

    // C76: top-20 depth-3 event paths — the transition matrix's
    // narrative extension; two leads in one keyed window, global path
    // counts, distributed top-k.
    Q(
      "q_top_paths",
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS eid,
        |    event_type AS e0
        |  FROM events),
        |l AS (
        |  SELECT e0,
        |    lead(e0, 1) OVER (PARTITION BY u ORDER BY t, eid) AS e1,
        |    lead(e0, 2) OVER (PARTITION BY u ORDER BY t, eid) AS e2
        |  FROM e),
        |p AS (
        |  SELECT e0 || '>' || e1 || '>' || e2 AS path
        |  FROM l WHERE e0 IS NOT NULL AND e1 IS NOT NULL AND e2 IS NOT NULL)
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.operators.Behavior.topPaths(ev, col("user_id"), col("ts_ns"),
        col("event_type"), tiebreak = col("event_id"), len = 3, k = 20)
    },

    // C73: inter-arrival profile per event type — gaps in µs between
    // consecutive events of a type, exact rank-based p50/p90, integer
    // arithmetic throughout (mean 4-dp round).
    Q(
      "q_interarrival",
      """WITH e AS (
        |  SELECT event_type AS k, epoch_us(ts) AS t, event_id AS eid
        |  FROM events),
        |g AS (
        |  SELECT k, eid, t - lag(t) OVER (PARTITION BY k ORDER BY t, eid) AS gap
        |  FROM e),
        |g2 AS (SELECT k, eid, gap FROM g WHERE gap IS NOT NULL),
        |rk AS (
        |  SELECT k, gap,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY gap, eid) AS BIGINT) AS rk,
        |    count(*) OVER (PARTITION BY k) AS n
        |  FROM g2)
        |SELECT k AS key, CAST(max(n) AS BIGINT) AS n_gaps,
        |  round(CAST(sum(gap) AS DOUBLE) / max(n), 4) AS mean_gap,
        |  max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN gap END) AS p50_gap,
        |  max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN gap END) AS p90_gap
        |FROM rk GROUP BY k ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      graft.operators.Behavior.interArrival(ev, col("event_type"),
          col("ts_us"), tiebreak = col("event_id"))
        .orderBy("key")
    },

    // C69: first-order Markov transition matrix over per-user event
    // streams — one lead window keyed by user (event_id tiebreak for
    // same-instant events), counts to the bounded |types|² grid,
    // P(to|from) normalized by a window over that grid.
    Q(
      "q_transition",
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS eid,
        |    event_type AS et
        |  FROM events),
        |l AS (
        |  SELECT et AS from_event,
        |    lead(et) OVER (PARTITION BY u ORDER BY t, eid) AS to_event
        |  FROM e),
        |g AS (
        |  SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS n
        |  FROM l WHERE to_event IS NOT NULL GROUP BY 1, 2)
        |SELECT from_event, to_event, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_event), 4) AS p
        |FROM g ORDER BY from_event, to_event""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.operators.Behavior.transitionMatrix(ev, col("user_id"),
          col("ts_ns"), col("event_type"), tiebreak = col("event_id"))
        .orderBy("from_event", "to_event")
    },

    // C38: rolling 7-day active users — exact sliding distinct via
    // contribution-explode (no COUNT(DISTINCT) OVER, which Spark
    // lacks and which would hold per-window state); oracle states the
    // naive two-sided range join.
    Q(
      "q_active_users",
      """WITH a AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS w
        |  FROM events),
        |p AS (SELECT DISTINCT w + i AS period
        |      FROM a, unnest(range(0, 7)) AS t(i))
        |SELECT p.period, CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
        |FROM p JOIN a ON a.w BETWEEN p.period - 6 AND p.period
        |GROUP BY p.period
        |ORDER BY p.period""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      graft.operators.Behavior.rollingActiveUsers(ev, col("user_id"),
          col("ts_us"), bucketUs = 86400000000L, windowPeriods = 7)
        .orderBy("period")
    },

    // C40: new-vs-returning users per week — the growth-dashboard
    // split derived from the same first-active cohort machinery.
    Q(
      "q_new_vs_returning",
      """WITH a AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS w
        |  FROM events),
        |c AS (SELECT u, min(w) AS cohort FROM a GROUP BY u)
        |SELECT w AS period,
        |  CAST(sum(CASE WHEN w = cohort THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN w > cohort THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        |FROM a JOIN c USING (u)
        |GROUP BY w ORDER BY period""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      graft.operators.Behavior.newVsReturning(ev, col("user_id"), col("ts_us"))
        .orderBy("period")
    },

    // C33: weekly retention cohorts — users bucketed by first-active
    // week, counted per week offset they return; exact integer
    // week arithmetic.
    Q(
      "q_retention",
      """WITH a AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS w
        |  FROM events),
        |c AS (SELECT u, min(w) AS cohort FROM a GROUP BY u)
        |SELECT cohort, w - cohort AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (u)
        |GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      graft.operators.Behavior.retentionCohorts(ev, col("user_id"), col("ts_us"))
        .orderBy("cohort", "week_offset")
    },

    // C56: level-shift changepoint scan over hourly per-type event
    // volumes — trailing-vs-leading 12-bucket means normalized by the
    // trailing sample stddev; only full-window rows report non-zero,
    // flat-baseline steps flag with the z=0 sentinel. The oracle
    // replays the five window moments and the identical double
    // derivation order.
    Q(
      "q_level_shift", {
        val z = truncZeroSql("(post - pre) / sd", 4)
        s"""WITH ${ProfileQueries.hourlyCountsSql},
           |m AS (
           |  SELECT key, bucket, value,
           |    count(value) OVER wp AS np,
           |    sum(CAST(value AS DECIMAL(18,6))) OVER wp AS sp,
           |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER wp AS ssp,
           |    count(value) OVER wq AS nq,
           |    sum(CAST(value AS DECIMAL(18,6))) OVER wq AS sq
           |  FROM b
           |  WINDOW wp AS (PARTITION BY key ORDER BY bucket
           |      ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING),
           |    wq AS (PARTITION BY key ORDER BY bucket
           |      ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING)),
           |d AS (
           |  SELECT key, bucket, value, np, nq,
           |    CAST(sp AS DOUBLE) / np AS pre,
           |    CAST(sq AS DOUBLE) / nq AS post,
           |    sqrt(greatest(0.0,
           |      (CAST(ssp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / np)
           |        / (np - 1))) AS sd,
           |    (np = 12 AND nq = 12) AS fullw
           |  FROM m)
           |SELECT key, CAST(bucket AS BIGINT) AS bucket, value,
           |  CAST(np AS BIGINT) AS n_pre, CAST(nq AS BIGINT) AS n_post,
           |  CASE WHEN fullw THEN ${truncZeroSql("pre", 4)} ELSE 0.0 END AS pre_mean,
           |  CASE WHEN fullw THEN ${truncZeroSql("post", 4)} ELSE 0.0 END AS post_mean,
           |  CASE WHEN fullw THEN ${truncZeroSql("post - pre", 4)} ELSE 0.0 END AS shift,
           |  CASE WHEN fullw AND sd > 0.0 THEN $z ELSE 0.0 END AS shift_z,
           |  (fullw AND ((sd > 0.0 AND abs(CASE WHEN sd > 0.0 THEN $z ELSE 0.0 END) > 4.0)
           |    OR (sd = 0.0 AND post - pre <> 0.0))) AS changepoint
           |FROM d ORDER BY key, bucket""".stripMargin
      }
    ) { (s, dir) =>
      Stats.levelShift(ProfileQueries.hourlyCounts(s, dir),
          col("key"), col("bucket"), col("value"), width = 12, zThresh = 4.0)
        .orderBy("key", "bucket")
    },

    // C47: rolling z-score anomaly flags over hourly per-type event
    // volumes — each bucket scored against its trailing 24 buckets'
    // exact-decimal moments; z truncated 4 dp toward zero (the
    // twoSampleZ symmetric-gate contract), under-baselined rows
    // unflagged with z=0. The oracle replays the identical window
    // moments and derivation.
    Q(
      "q_rolling_anomaly",
      """WITH b AS (
        |  SELECT event_type, (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bucket_s, n_events,
        |    count(*) OVER tw AS bn,
        |    sum(CAST(n_events AS DECIMAL(18,6))) OVER tw AS s,
        |    sum(CAST(n_events AS DECIMAL(18,6)) * CAST(n_events AS DECIMAL(18,6))) OVER tw AS ss
        |  FROM b
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY bucket_s
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |d AS (
        |  SELECT event_type, bucket_s, n_events, bn,
        |    CASE WHEN bn < 3 THEN 0.0 ELSE
        |      sqrt(greatest(0.0,
        |        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / bn)
        |          / (bn - 1))) END AS std,
        |    CASE WHEN bn < 3 THEN 0.0
        |         ELSE CAST(n_events AS DOUBLE) - CAST(s AS DOUBLE) / bn END AS dev
        |  FROM w)
        |SELECT event_type, bucket_s, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(bn AS BIGINT) AS baseline_n,
        |  CASE WHEN bn < 3 OR std = 0.0 THEN 0.0
        |       ELSE sign(dev / std) * (floor(abs(dev / std) * 1e4) / 1e4) + 0.0
        |  END AS z,
        |  (CASE WHEN bn < 3 OR std = 0.0 THEN 0.0
        |        ELSE sign(dev / std) * (floor(abs(dev / std) * 1e4) / 1e4) + 0.0
        |   END IS NOT NULL
        |   AND abs(CASE WHEN bn < 3 OR std = 0.0 THEN 0.0
        |        ELSE sign(dev / std) * (floor(abs(dev / std) * 1e4) / 1e4) + 0.0 END) > 3.0
        |   AND bn >= 3) AS anomaly
        |FROM d
        |ORDER BY event_type, bucket_s""".stripMargin
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.rollingZ(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), lookback = 24, zThresh = 3.0)
        .select(col("event_type"), col("bucket_s"), col("n_events"),
          col("baseline_n"), col("z"), col("anomaly"))
        .orderBy("event_type", "bucket_s")
    },

    // C84: CUSUM change detection over hourly per-type volumes —
    // small persistent shifts accumulate where C47's z-gate sees
    // nothing; prefix-sum identity on exact decimal lanes, running
    // extrema and the threshold compare engine-exact, 4-dp floors.
    Q(
      "q_cusum",
      s"""WITH $hourlyEventCountsSql,
        |p AS (
        |  SELECT key, bucket, n,
        |    sum(CAST(n AS DECIMAL(18,6)) - CAST(3.500000 AS DECIMAL(18,6)))
        |      OVER cw AS ph,
        |    sum(CAST(2.500000 AS DECIMAL(18,6)) - CAST(n AS DECIMAL(18,6)))
        |      OVER cw AS pl
        |  FROM b
        |  WINDOW cw AS (PARTITION BY key ORDER BY bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (
        |  -- CASE, not least(): DuckDB's least() returns DOUBLE for
        |  -- DECIMAL inputs (latent 4-dp-boundary landmine, caught by
        |  -- q_page_hinkley at sf0.01)
        |  SELECT key, bucket, n,
        |    ph - (CASE WHEN mh < CAST(0 AS DECIMAL(38,6)) THEN mh
        |          ELSE CAST(0 AS DECIMAL(38,6)) END) AS ch,
        |    pl - (CASE WHEN ml < CAST(0 AS DECIMAL(38,6)) THEN ml
        |          ELSE CAST(0 AS DECIMAL(38,6)) END) AS cl
        |  FROM (SELECT key, bucket, n, ph, pl,
        |          min(ph) OVER cw AS mh, min(pl) OVER cw AS ml
        |        FROM p
        |        WINDOW cw AS (PARTITION BY key ORDER BY bucket
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
        |SELECT key, bucket, CAST(n AS DOUBLE) AS value,
        |  floor(CAST(ch AS DOUBLE) * 1e4) / 1e4 AS cusum_hi,
        |  floor(CAST(cl AS DOUBLE) * 1e4) / 1e4 AS cusum_lo,
        |  ch > CAST(8.000000 AS DECIMAL(18,6)) AS alarm_hi,
        |  cl > CAST(8.000000 AS DECIMAL(18,6)) AS alarm_lo
        |FROM c ORDER BY key, bucket""".stripMargin
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.cusum(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), target = 3.0, slack = 0.5, threshold = 8.0)
        .orderBy("key", "bucket")
    },

    // C91: EWMA control chart over hourly per-type volumes — the
    // drifting-level companion of q_cusum: each bucket scores against
    // its own smoothed forecast. The whole recurrence runs on integer
    // 1e6 micro-lanes with a rational alpha (1/4), so the oracle
    // replays the identical integer walk in one recursive CTE.
    Q(
      "q_ewma",
      s"""WITH RECURSIVE $hourlyEventCountsSql,
         |$hourlyMicroLanesSql,
        |walk(key, rn, bucket, vm, s, resid) AS (
        |  SELECT key, rn, bucket, vm, vm, CAST(NULL AS BIGINT)
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.key, v.rn, v.bucket, v.vm,
        |    (1 * v.vm + 3 * w.s) // 4,
        |    v.vm - w.s
        |  FROM walk w JOIN v ON v.key = w.key AND v.rn = w.rn + 1)
        |SELECT key, bucket,
        |  CAST(vm AS DOUBLE) / 1e6 AS value,
        |  CAST(s AS DOUBLE) / 1e6 AS ewma,
        |  CAST(resid AS DOUBLE) / 1e6 AS resid,
        |  coalesce(abs(resid) > 2000000, FALSE) AS alarm
        |FROM walk ORDER BY key, bucket""".stripMargin
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.ewmaChart(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), alphaNum = 1, alphaDen = 4, band = 2.0)
        .orderBy("key", "bucket")
    },

    // C95: Mann-Kendall trend test + Sen's slope over hourly per-type
    // volumes — the nonparametric "is this drifting?" next to
    // q_trend_fit's OLS: integer S, tie-corrected Var(S), type-1
    // median pairwise slope; the pair join is key-local and bounded
    // by the time horizon.
    Q(
      "q_mann_kendall",
      """WITH b AS (
        |  SELECT event_type AS key,
        |    (epoch_ns(ts) // 3600000000000) * 3600 AS x,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.key,
        |    CASE WHEN b2.v > a.v THEN 1 WHEN b2.v < a.v THEN -1 ELSE 0 END AS sg,
        |    (b2.v - a.v) / CAST(b2.x - a.x AS DOUBLE) AS slope
        |  FROM b a JOIN b b2 ON a.key = b2.key AND a.x < b2.x),
        |sa AS (SELECT key, CAST(sum(sg) AS BIGINT) AS s FROM p GROUP BY 1),
        |np AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |tt AS (
        |  SELECT key, sum(t * (t - 1) * (2 * t + 5)) AS tie
        |  FROM (SELECT key, v, count(*) AS t FROM b GROUP BY 1, 2) GROUP BY 1),
        |sl AS (
        |  SELECT key, slope,
        |    row_number() OVER (PARTITION BY key ORDER BY slope ASC) AS r,
        |    count(*) OVER (PARTITION BY key) AS m
        |  FROM p),
        |sen AS (
        |  SELECT key, slope AS sv FROM sl
        |  WHERE r = greatest(1, CAST(ceil(m * 0.5) AS BIGINT))),
        |d AS (
        |  SELECT np.key, np.n, coalesce(sa.s, 0) AS s,
        |    (np.n * (np.n - 1) * (2 * np.n + 5) - coalesce(tt.tie, 0)) / 18.0
        |      AS var_s,
        |    sen.sv
        |  FROM np LEFT JOIN sa ON sa.key = np.key
        |          LEFT JOIN tt ON tt.key = np.key
        |          LEFT JOIN sen ON sen.key = np.key)
        |SELECT key, n, s,
        |  CASE WHEN n < 2 OR var_s <= 0 THEN 0.0
        |       WHEN s > 0 THEN sign((s - 1) / sqrt(var_s))
        |         * (floor(abs((s - 1) / sqrt(var_s)) * 1e4) / 1e4) + 0.0
        |       WHEN s < 0 THEN sign((s + 1) / sqrt(var_s))
        |         * (floor(abs((s + 1) / sqrt(var_s)) * 1e4) / 1e4) + 0.0
        |       ELSE 0.0 END AS z,
        |  CASE WHEN n < 2 OR var_s <= 0 THEN NULL
        |       ELSE sign(sv) * (floor(abs(sv) * 1e6) / 1e6) + 0.0 END
        |    AS sen_slope,
        |  (n < 2 OR var_s <= 0) AS degenerate
        |FROM d ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val buckets = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (expr("ts_ns div 3600000000000") * 3600).as("bucket_s"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      Stats.mannKendall(buckets, col("event_type"), col("bucket_s"),
          col("n_events"))
        .orderBy("key")
    },

    // C118: seasonal Mann-Kendall over hourly per-type volumes with a
    // 24-hour season — each hour-of-day slot trends against ITSELF
    // across days, so the diurnal cycle can't drown a slow drift.
    // Exact integer S and variance numerators per (key, season),
    // summed per key, ONE /18 division.
    Q(
      "q_seasonal_mk",
      """WITH b AS (
        |  SELECT event_type AS key,
        |    epoch_ns(ts) // 3600000000000 AS x,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |bs AS (SELECT key, x % 24 AS season, x, v FROM b),
        |p AS (
        |  SELECT a.key, a.season,
        |    CASE WHEN b2.v > a.v THEN 1 WHEN b2.v < a.v THEN -1 ELSE 0 END AS sg
        |  FROM bs a JOIN bs b2
        |    ON a.key = b2.key AND a.season = b2.season AND a.x < b2.x),
        |sa AS (
        |  SELECT key, season, CAST(sum(sg) AS BIGINT) AS s
        |  FROM p GROUP BY 1, 2),
        |np AS (
        |  SELECT key, season, CAST(count(*) AS BIGINT) AS n
        |  FROM bs GROUP BY 1, 2),
        |tt AS (
        |  SELECT key, season, sum(t * (t - 1) * (2 * t + 5)) AS tie
        |  FROM (SELECT key, season, v, count(*) AS t FROM bs GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT np.key, np.n, coalesce(sa.s, 0) AS s,
        |    np.n * (np.n - 1) * (2 * np.n + 5) - coalesce(tt.tie, 0) AS vnum
        |  FROM np LEFT JOIN sa ON sa.key = np.key AND sa.season = np.season
        |          LEFT JOIN tt ON tt.key = np.key AND tt.season = np.season),
        |m AS (
        |  SELECT key, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(sum(s) AS BIGINT) AS s,
        |    CAST(sum(vnum) AS DOUBLE) / 18.0 AS var_s
        |  FROM per GROUP BY key)
        |SELECT key, n, n_seasons, s,
        |  CASE WHEN n < 2 OR var_s <= 0 THEN 0.0
        |       WHEN s > 0 THEN sign((s - 1) / sqrt(var_s))
        |         * (floor(abs((s - 1) / sqrt(var_s)) * 1e4) / 1e4) + 0.0
        |       WHEN s < 0 THEN sign((s + 1) / sqrt(var_s))
        |         * (floor(abs((s + 1) / sqrt(var_s)) * 1e4) / 1e4) + 0.0
        |       ELSE 0.0 END AS z,
        |  (n < 2 OR var_s <= 0) AS degenerate
        |FROM m ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val buckets = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("ts_ns div 3600000000000").as("hour_idx"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      graft.operators.Stats.seasonalMannKendall(buckets, col("event_type"),
          col("hour_idx"), col("n_events"), period = 24)
        .orderBy("key")
    },

    // C92: Holt linear-trend chart over hourly per-type volumes —
    // q_ewma's trending sibling: the forecast carries an explicit
    // trend lane, so a steadily growing series doesn't drown the
    // chart in positive residuals. Both integer micro-lanes replay in
    // one recursive CTE (truncating division both engines).
    Q(
      "q_holt",
      s"""WITH RECURSIVE $hourlyEventCountsSql,
         |$hourlyMicroLanesSql,
        |walk(key, rn, bucket, vm, s, t, resid) AS (
        |  SELECT key, rn, bucket, vm, vm, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.key, v.rn, v.bucket, v.vm,
        |    (1 * v.vm + 3 * (w.s + w.t)) // 4,
        |    (1 * ((1 * v.vm + 3 * (w.s + w.t)) // 4 - w.s) + 3 * w.t) // 4,
        |    v.vm - (w.s + w.t)
        |  FROM walk w JOIN v ON v.key = w.key AND v.rn = w.rn + 1)
        |SELECT key, bucket,
        |  CAST(vm AS DOUBLE) / 1e6 AS value,
        |  CAST(s AS DOUBLE) / 1e6 AS level,
        |  CAST(t AS DOUBLE) / 1e6 AS trend,
        |  CAST(resid AS DOUBLE) / 1e6 AS resid,
        |  coalesce(abs(resid) > 2000000, FALSE) AS alarm
        |FROM walk ORDER BY key, bucket""".stripMargin
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.holtChart(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), alphaNum = 1, alphaDen = 4,
          betaNum = 1, betaDen = 4, band = 2.0)
        .orderBy("key", "bucket")
    },

    // C97: Holt-Winters additive seasonal chart over hourly per-type
    // volumes, period 24 (the daily cycle q_holt's trend lane can't
    // absorb). Integer micro-lane walk; the oracle carries the 24-slot
    // seasonal ring as a list column through the recursive CTE (the
    // q_compaction_plan bins idiom), zero-seasonal deterministic init.
    Q(
      "q_holt_winters", {
        val zeros = Seq.fill(24)("0").mkString("[", ",", "]")
        s"""WITH RECURSIVE $hourlyEventCountsSql,
           |$hourlyMicroLanesSql,
           |walk(key, rn, bucket, vm, s, t, cs, cnew, resid) AS (
           |  SELECT key, rn, bucket, vm, vm, CAST(0 AS BIGINT),
           |    CAST($zeros AS BIGINT[]), CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
           |  FROM v WHERE rn = 1
           |  UNION ALL
           |  SELECT key, rn, bucket, vm, s2,
           |    (1 * (s2 - s) + 3 * t) // 4,
           |    cs[1:pos - 1] || [(1 * (vm - s2) + 3 * cprev) // 4] || cs[pos + 1:],
           |    (1 * (vm - s2) + 3 * cprev) // 4,
           |    vm - (s + t + cprev)
           |  FROM (
           |    SELECT i.key, i.rn, i.bucket, i.vm, w.s, w.t, w.cs, i.pos,
           |      w.cs[i.pos] AS cprev,
           |      (1 * (i.vm - w.cs[i.pos]) + 3 * (w.s + w.t)) // 4 AS s2
           |    FROM walk w JOIN (
           |      SELECT key, rn, bucket, vm, ((rn - 1) % 24) + 1 AS pos FROM v) i
           |      ON i.key = w.key AND i.rn = w.rn + 1))
           |SELECT key, bucket,
           |  CAST(vm AS DOUBLE) / 1e6 AS value,
           |  CAST(s AS DOUBLE) / 1e6 AS level,
           |  CAST(t AS DOUBLE) / 1e6 AS trend,
           |  CAST(cnew AS DOUBLE) / 1e6 AS seasonal,
           |  CAST(resid AS DOUBLE) / 1e6 AS resid,
           |  coalesce(abs(resid) > 2000000, FALSE) AS alarm
           |FROM walk ORDER BY key, bucket""".stripMargin
      }
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.holtWintersChart(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), period = 24, alphaNum = 1, alphaDen = 4,
          betaNum = 1, betaDen = 4, gammaNum = 1, gammaDen = 4, band = 2.0)
        .orderBy("key", "bucket")
    },

    // C98: best single changepoint per event type over hourly volumes
    // — WHERE the series changed, from one cumulative window + one
    // argmax; integer micro-lane sums, one double derivation.
    Q(
      "q_changepoint",
      """WITH b AS (
        |  SELECT event_type AS key,
        |    (epoch_ns(ts) // 3600000000000) * 3600 AS x, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT key, x,
        |    CAST(round(CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS vm FROM b),
        |p AS (
        |  SELECT key, x, vm,
        |    CAST(row_number() OVER (PARTITION BY key ORDER BY x) AS BIGINT) AS k,
        |    sum(vm) OVER (PARTITION BY key ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        |  FROM v),
        |tot AS (SELECT key, CAST(count(*) AS BIGINT) AS n, sum(vm) AS s
        |        FROM v GROUP BY 1),
        |g AS (
        |  SELECT p.key, p.x, p.k, t.n,
        |    CAST(pp AS DOUBLE) * CAST(pp AS DOUBLE) / CAST(k AS DOUBLE)
        |      + CAST(t.s - pp AS DOUBLE) * CAST(t.s - pp AS DOUBLE)
        |        / CAST(t.n - k AS DOUBLE)
        |      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)
        |      AS gain,
        |    CAST(pp AS DOUBLE) / CAST(k AS DOUBLE) / 1e6 AS ml,
        |    CAST(t.s - pp AS DOUBLE) / CAST(t.n - k AS DOUBLE) / 1e6 AS mr
        |  FROM p JOIN tot t ON t.key = p.key
        |  WHERE p.k >= 2 AND p.k <= t.n - 2),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY gain DESC, k ASC) AS r
        |  FROM g)
        |SELECT t.key, t.n, w.x AS split_x, w.k AS n_left,
        |  w.ml AS mean_left, w.mr AS mean_right,
        |  coalesce(sign(w.gain / 1e12)
        |    * (floor(abs(w.gain / 1e12) * 1e4) / 1e4) + 0.0, 0.0) AS gain,
        |  w.x IS NULL AS degenerate
        |FROM tot t LEFT JOIN (SELECT * FROM best WHERE r = 1) w ON w.key = t.key
        |ORDER BY t.key""".stripMargin
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.bestChangepoint(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), minSeg = 2)
        .orderBy("key")
    },

    // C107: MULTI-changepoint via binary segmentation (depth 3,
    // minGain 1.0) over the same hourly volumes — the recursion
    // unrolls as three chained round-CTEs (segment frame → per-segment
    // argmax → child segments), generated by the same Scala loop for
    // both engines so round structure can't drift.
    Q(
      "q_changepoints", {
        def round(i: Int): String = {
          val prev = s"seg${i - 1}"
          s"""cand$i AS (
             |  SELECT s.key, s.lo, s.hi, b.k, b.x,
             |    row_number() OVER (PARTITION BY s.key, s.lo ORDER BY b.k) AS j,
             |    sum(b.vm) OVER (PARTITION BY s.key, s.lo ORDER BY b.k) AS p,
             |    count(*) OVER (PARTITION BY s.key, s.lo) AS m,
             |    sum(b.vm) OVER (PARTITION BY s.key, s.lo) AS st
             |  FROM $prev s JOIN b ON b.key = s.key AND b.k >= s.lo AND b.k < s.hi),
             |g$i AS (
             |  SELECT key, lo, hi, k, x, j, m, p, st,
             |    CAST(p AS DOUBLE) * CAST(p AS DOUBLE) / CAST(j AS DOUBLE)
             |      + CAST(st - p AS DOUBLE) * CAST(st - p AS DOUBLE) / CAST(m - j AS DOUBLE)
             |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(m AS DOUBLE) AS gain
             |  FROM cand$i WHERE j >= 2 AND j <= m - 2),
             |best$i AS (
             |  SELECT key, lo, hi, k, x, j, m, p, st, gain, $i AS depth FROM (
             |    SELECT *, row_number() OVER (PARTITION BY key, lo ORDER BY gain DESC, k ASC) AS r
             |    FROM g$i) WHERE r = 1 AND gain >= 1.0e12),
             |seg$i AS (
             |  SELECT s.key, s.lo, s.hi FROM $prev s
             |  LEFT JOIN best$i w ON w.key = s.key AND w.lo = s.lo
             |  WHERE w.key IS NULL
             |  UNION ALL SELECT key, lo, k + 1 FROM best$i
             |  UNION ALL SELECT key, k + 1, hi FROM best$i)""".stripMargin
        }
        s"""WITH src AS (
           |  SELECT event_type AS key,
           |    (epoch_ns(ts) // 3600000000000) * 3600 AS x,
           |    CAST(round(CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS vm
           |  FROM events GROUP BY 1, 2),
           |b AS (
           |  SELECT key, x, vm,
           |    CAST(row_number() OVER (PARTITION BY key ORDER BY x) AS BIGINT) AS k
           |  FROM src),
           |seg0 AS (SELECT key, CAST(1 AS BIGINT) AS lo,
           |         CAST(count(*) + 1 AS BIGINT) AS hi FROM b GROUP BY key),
           |${(1 to 3).map(round).mkString(",\n")},
           |allc AS (SELECT * FROM best1 UNION ALL SELECT * FROM best2
           |         UNION ALL SELECT * FROM best3)
           |SELECT key,
           |  CAST(row_number() OVER (PARTITION BY key ORDER BY x) AS INT) AS cp_index,
           |  x AS split_x, j AS n_left, m - j AS n_right,
           |  CAST(p AS DOUBLE) / CAST(j AS DOUBLE) / 1e6 AS mean_left,
           |  CAST(st - p AS DOUBLE) / CAST(m - j AS DOUBLE) / 1e6 AS mean_right,
           |  sign(gain / 1e12) * (floor(abs(gain / 1e12) * 1e4) / 1e4) + 0.0 AS gain,
           |  depth
           |FROM allc ORDER BY key, split_x""".stripMargin
      }
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.changepoints(buckets, col("event_type"), col("bucket_s"),
          col("n_events"), minSeg = 2, maxDepth = 3, minGain = 1.0)
        .orderBy("key", "split_x")
    },

    // C99: Theil-Sen robust line per event type — Sen's slope plus the
    // median-intercept, both type-1 rank picks over shared doubles;
    // the intercept pass uses the RAW picked slope (rounding only on
    // report) so both engines walk identical IEEE values.
    Q(
      "q_theil_sen",
      """WITH b AS (
        |  SELECT event_type AS key,
        |    (epoch_ns(ts) // 3600000000000) * 3600 AS x,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |np AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |p AS (
        |  SELECT a.key, (b2.v - a.v) / CAST(b2.x - a.x AS DOUBLE) AS slope
        |  FROM b a JOIN b b2 ON a.key = b2.key AND a.x < b2.x),
        |sl AS (
        |  SELECT key, slope,
        |    row_number() OVER (PARTITION BY key ORDER BY slope ASC) AS r,
        |    count(*) OVER (PARTITION BY key) AS m
        |  FROM p),
        |sen AS (
        |  SELECT key, slope AS sv FROM sl
        |  WHERE r = greatest(1, CAST(ceil(m * 0.5) AS BIGINT))),
        |bi AS (
        |  SELECT b.key, b.v - sen.sv * CAST(b.x AS DOUBLE) AS bv
        |  FROM b JOIN sen ON sen.key = b.key),
        |bir AS (
        |  SELECT key, bv,
        |    row_number() OVER (PARTITION BY key ORDER BY bv ASC) AS r,
        |    count(*) OVER (PARTITION BY key) AS m
        |  FROM bi),
        |ic AS (
        |  SELECT key, bv AS iv FROM bir
        |  WHERE r = greatest(1, CAST(ceil(m * 0.5) AS BIGINT)))
        |SELECT np.key, np.n,
        |  CASE WHEN np.n < 2 OR sv IS NULL THEN NULL
        |    ELSE sign(sv) * (floor(abs(sv) * 1e6) / 1e6) + 0.0 END AS slope,
        |  CASE WHEN np.n < 2 OR sv IS NULL THEN NULL
        |    ELSE sign(iv) * (floor(abs(iv) * 1e6) / 1e6) + 0.0 END AS intercept,
        |  (np.n < 2 OR sv IS NULL) AS degenerate
        |FROM np LEFT JOIN sen ON sen.key = np.key
        |        LEFT JOIN ic ON ic.key = np.key
        |ORDER BY np.key""".stripMargin
    ) { (s, dir) =>
      val buckets = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (expr("ts_ns div 3600000000000") * 3600).as("bucket_s"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      Stats.theilSen(buckets, col("event_type"), col("bucket_s"),
          col("n_events"))
        .orderBy("key")
    },

    // C85: SPRT early-stopping over hourly per-type "busy hour"
    // indicators — cumulative LLR walk on exact 7-dp decimal lanes,
    // increments and bounds Scala-computed once and shared as
    // literals with the oracle (the ndcgDiscount pattern).
    Q(
      "q_sprt", {
        def r7(x: Double) = BigDecimal(x)
          .setScale(7, BigDecimal.RoundingMode.HALF_UP).underlying().toPlainString
        val lw = r7(math.log(0.6 / 0.4))
        val ll = r7(math.log(0.4 / 0.6))
        val upper = r7(math.log(0.8 / 0.05))
        val lower = r7(math.log(0.2 / 0.95))
        s"""WITH b AS (
           |  SELECT event_type AS key,
           |    (epoch_ns(ts) // 3600000000000) * 3600 AS order_val, count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |s AS (SELECT key, order_val, (n >= 3) AS x FROM b),
           |c AS (SELECT key, order_val,
           |    sum(CASE WHEN x THEN CAST($lw AS DECIMAL(20,7))
           |             ELSE CAST($ll AS DECIMAL(20,7)) END)
           |      OVER (PARTITION BY key ORDER BY order_val
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
           |  FROM s),
           |d AS (SELECT key, order_val, llr,
           |    CASE WHEN llr >= CAST($upper AS DECIMAL(20,7)) THEN 'accept_h1'
           |         WHEN llr <= CAST($lower AS DECIMAL(20,7)) THEN 'accept_h0'
           |         ELSE 'continue' END AS decision
           |  FROM c),
           |e AS (SELECT key, order_val, llr, decision,
           |    min(CASE WHEN decision != 'continue' THEN order_val END)
           |      OVER (PARTITION BY key) AS fd
           |  FROM d)
           |SELECT key, order_val, floor(CAST(llr AS DOUBLE) * 1e4) / 1e4 AS llr,
           |  decision, (decision != 'continue' AND order_val = fd) AS first_decision
           |FROM e ORDER BY key, order_val""".stripMargin
      }
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      Stats.sprt(buckets, col("event_type"), col("bucket_s"),
          col("n_events") >= 3, p0 = 0.4, p1 = 0.6)
        .orderBy("key", "order_val")
    },

    // C26: interval-OVERLAP join (both sides are intervals, unlike
    // C20's point-in-interval) — order activity windows × promo
    // windows. The oracle states the plain two-sided inequality join;
    // the Spark side must match it exactly through the dual-binned
    // equi-join with the canonical-bin dedup (one output row per
    // overlapping pair, no post-dedup, never a product).
    Q(
      "q_interval_overlap",
      """WITH o AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ((epoch(o_orderdate) // 86400) % 1200) AS lo,
        |    ((epoch(o_orderdate) // 86400) % 1200) + (o_orderkey % 14) + 1 AS hi
        |  FROM orders),
        |p AS (
        |  SELECT CAST(i AS INT) AS promo_id, i * 30 AS plo, i * 30 + 45 AS phi
        |  FROM (SELECT unnest(range(0, 40)) AS i))
        |SELECT promo_id, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM o JOIN p ON o.lo <= p.phi AND p.plo <= o.hi
        |GROUP BY promo_id ORDER BY promo_id""".stripMargin
    ) { (s, dir) =>
      val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"),
          (expr("unix_timestamp(cast(o_orderdate as timestamp)) div 86400") % 1200)
            .as("lo"))
        .withColumn("hi", col("lo") + (col("o_orderkey") % 14) + 1)
      val p = s.range(0, 40).select(
        col("id").cast("int").as("promo_id"),
        (col("id") * 30).as("plo"),
        (col("id") * 30 + 45).as("phi"))
      graft.operators.RangeJoin.intervalOverlap(
          o, p, col("lo"), col("hi"), col("plo"), col("phi"), binWidth = 30.0)
        .groupBy("promo_id")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("promo_id")
    },

    // C108: Kaplan-Meier survival per entry-event cohort — per-user
    // activity spans (hours between first and last event), censored
    // when the last event falls inside the final 24 h of the feed
    // (the user may still be active). Life table + risk set + the
    // exp(Σ trunc9 ln(1−d/n)) survival walk replay exactly.
    Q(
      "q_kaplan_meier",
      s"""WITH $survivalSpansSql,
        |subj AS (
        |  SELECT cohort, (l - f) // 3600000000 AS dur, l < hz AS obs
        |  FROM per, h),
        |life AS (
        |  SELECT cohort AS grp, dur AS t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
        |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS n_censor
        |  FROM subj GROUP BY 1, 2),
        |r AS (
        |  SELECT grp, t, n_event, n_censor,
        |    CAST(sum(n_event + n_censor) OVER (PARTITION BY grp)
        |      - coalesce(sum(n_event + n_censor) OVER (PARTITION BY grp
        |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        0) AS BIGINT) AS n_risk
        |  FROM life),
        |sv AS (
        |  SELECT grp, t, n_risk, n_event, n_censor,
        |    max(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END) OVER cw AS dead,
        |    sum(CASE WHEN n_event = n_risk THEN NULL
        |        ELSE CAST(floor(ln(1.0 - CAST(n_event AS DOUBLE)
        |          / CAST(n_risk AS DOUBLE)) * 1e9) / 1e9 AS DECIMAL(28,9))
        |        END) OVER cw AS ls
        |  FROM r
        |  WINDOW cw AS (PARTITION BY grp ORDER BY t
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT grp, t, n_risk, n_event, n_censor,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE floor(exp(CAST(ls AS DOUBLE)) * 1e6) / 1e6 END AS survival
        |FROM sv WHERE n_event > 0
        |ORDER BY grp, t""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.kaplanMeier(survivalSubjects(s, dir),
          col("cohort"), col("dur"), col("obs"))
        .orderBy("grp", "t")
    },

    // C109: log-rank test — do the click-entry and view-entry cohorts
    // share a survival curve? Same per-user spans; the per-time O−E
    // and hypergeometric-variance terms truncate 7 dp into decimals
    // before the order-free sums, chi2 4-dp floored.
    Q(
      "q_logrank",
      s"""WITH $survivalSpansSql,
        |subj AS (
        |  SELECT cohort, (l - f) // 3600000000 AS dur, l < hz AS obs
        |  FROM per, h
        |  WHERE cohort IN ('click', 'view')),
        |life AS (
        |  SELECT dur AS t,
        |    CAST(sum(CASE WHEN cohort = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN cohort <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN cohort = 'click' AND obs THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN cohort <> 'click' AND obs THEN 1 ELSE 0 END) AS BIGINT) AS db
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT *,
        |    CAST(sum(na) OVER ()
        |      - coalesce(sum(na) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS r1,
        |    CAST(sum(nb) OVER ()
        |      - coalesce(sum(nb) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS r2
        |  FROM life),
        |terms AS (
        |  SELECT
        |    CAST(floor((CAST(da AS DOUBLE)
        |      - CAST(r1 AS DOUBLE) * CAST(da + db AS DOUBLE)
        |        / CAST(r1 + r2 AS DOUBLE)) * 1e7) / 1e7 AS DECIMAL(28,7)) AS oe,
        |    CAST(floor(coalesce(
        |      CAST(da + db AS DOUBLE)
        |        * (CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
        |        * (1.0 - CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
        |        * ((CAST(r1 + r2 AS DOUBLE) - CAST(da + db AS DOUBLE))
        |           / (CAST(r1 + r2 AS DOUBLE) - 1.0)),
        |      0.0) * 1e7) / 1e7 AS DECIMAL(28,7)) AS v
        |  FROM r WHERE da + db > 0 AND r1 + r2 >= 2),
        |m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN cohort = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN cohort <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM subj),
        |agg AS (
        |  SELECT coalesce(sum(oe), CAST(0 AS DECIMAL(28,7))) AS soe,
        |    coalesce(sum(v), CAST(0 AS DECIMAL(28,7))) AS sv
        |  FROM terms)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR CAST(sv AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor(CAST(soe AS DOUBLE) * CAST(soe AS DOUBLE)
        |      / CAST(sv AS DOUBLE) * 1e4) / 1e4 END AS chi2,
        |  (NOT (n_a = 0 OR n_b = 0 OR CAST(sv AS DOUBLE) <= 0.0))
        |    AND CAST(soe AS DOUBLE) * CAST(soe AS DOUBLE)
        |      / CAST(sv AS DOUBLE) > 3.841 AS significant,
        |  (n_a = 0 OR n_b = 0 OR CAST(sv AS DOUBLE) <= 0.0) AS degenerate
        |FROM m, agg""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.logRank(survivalSubjects(s, dir),
        col("cohort"), col("dur"), col("obs"), groupA = "click", groupB = "view")
    },

    // C116: stationary distribution of the per-user behavior Markov
    // chain — the long-run companion of q_transition's one-step
    // matrix. The k×k matrix is driver metadata (k = event
    // vocabulary); the 50-round power iteration runs on exact 1e12
    // integer micro-lanes, replayed by the oracle as ONE recursive
    // CTE carrying pi as a list.
    Q(
      "q_markov_stationary",
      """WITH RECURSIVE e AS (
        |  SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS eid,
        |    event_type AS et
        |  FROM events),
        |l AS (
        |  SELECT et AS fe, lead(et) OVER (PARTITION BY u ORDER BY t, eid) AS te
        |  FROM e),
        |g AS (
        |  SELECT fe, te, CAST(count(*) AS BIGINT) AS n
        |  FROM l WHERE te IS NOT NULL GROUP BY 1, 2),
        |st AS (
        |  SELECT s, row_number() OVER (ORDER BY s) - 1 AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS k
        |  FROM (SELECT DISTINCT s FROM
        |        (SELECT fe AS s FROM g UNION SELECT te AS s FROM g))),
        |ot AS (SELECT fe AS s, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY 1),
        |cell AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CASE WHEN ot.tot IS NULL
        |      THEN (CASE WHEN a.i = b.i THEN 1.0 ELSE 0.0 END)
        |      ELSE coalesce(CAST(gg.n AS DOUBLE) / CAST(ot.tot AS DOUBLE), 0.0)
        |    END AS p
        |  FROM st a CROSS JOIN st b
        |  LEFT JOIN ot ON ot.s = a.s
        |  LEFT JOIN g gg ON gg.fe = a.s AND gg.te = b.s),
        |pm AS (
        |  SELECT list(pr ORDER BY i) AS mat FROM
        |    (SELECT i, list(p ORDER BY j) AS pr FROM cell GROUP BY i)),
        |pi AS (
        |  SELECT 0 AS r, (SELECT list(1000000000000 // k) FROM st) AS v
        |  UNION ALL
        |  SELECT r + 1,
        |    list_transform(range(1, len(v) + 1), j ->
        |      CAST(list_sum(list_transform(range(1, len(v) + 1), i ->
        |        CAST(floor(v[i] / 1e12 * mat[i][j] * 1e12) AS BIGINT)))
        |        AS BIGINT))
        |  FROM pi, pm WHERE r < 50)
        |SELECT st.s AS state, coalesce(ot.tot, 0) AS n_out,
        |  floor(fin.v[st.i + 1] / 1e12 * 1e6) / 1e6 AS stationary,
        |  ot.s IS NULL AS is_absorbing
        |FROM st CROSS JOIN (SELECT v FROM pi WHERE r = 50) fin
        |LEFT JOIN ot ON ot.s = st.s
        |ORDER BY state""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.markovStationary(Tables.events(s, dir),
          col("user_id"), col("ts_ns"), col("event_type"),
          tiebreak = col("event_id"), iters = 50)
        .orderBy("state")
    },

    // C117: Page-Hinkley drift monitor over hourly per-type volumes —
    // the no-target companion of q_cusum (tracks the RUNNING mean).
    // Exact decimal prefix sums, one double mean division per row,
    // 6-dp term truncation, decimal running min — engine-exact.
    Q(
      "q_page_hinkley",
      s"""WITH $hourlyEventCountsSql,
        |p AS (
        |  SELECT key, bucket, n,
        |    sum(CAST(round(CAST(n AS DOUBLE), 6) AS DECIMAL(18,6))) OVER cw AS cs,
        |    count(*) OVER cw AS i
        |  FROM b
        |  WINDOW cw AS (PARTITION BY key ORDER BY bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (
        |  SELECT key, bucket, n,
        |    CAST(floor((CAST(n AS DOUBLE)
        |      - CAST(cs AS DOUBLE) / CAST(i AS DOUBLE) - 0.5) * 1e6) / 1e6
        |      AS DECIMAL(24,6)) AS term
        |  FROM p),
        |m AS (
        |  SELECT key, bucket, n, sum(term) OVER cw AS mm
        |  FROM t
        |  WINDOW cw AS (PARTITION BY key ORDER BY bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (
        |  -- CASE, not least(): DuckDB's least() returns DOUBLE for
        |  -- DECIMAL inputs, and the large-magnitude cancellation in
        |  -- mm - min(mm) then lands on 4-dp floor boundaries
        |  SELECT key, bucket, n,
        |    mm - (CASE WHEN mn < CAST(0 AS DECIMAL(38,6)) THEN mn
        |          ELSE CAST(0 AS DECIMAL(38,6)) END) AS ph
        |  FROM (SELECT key, bucket, n, mm, min(mm) OVER cw AS mn
        |        FROM m
        |        WINDOW cw AS (PARTITION BY key ORDER BY bucket
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
        |SELECT key, bucket, CAST(n AS DOUBLE) AS value,
        |  floor(CAST(ph AS DOUBLE) * 1e4) / 1e4 AS ph,
        |  ph > CAST(8.000000 AS DECIMAL(24,6)) AS alarm
        |FROM c ORDER BY key, bucket""".stripMargin
    ) { (s, dir) =>
      val buckets = hourlyEventCounts(s, dir)
      graft.operators.Stats.pageHinkley(buckets, col("event_type"),
          col("bucket_s"), col("n_events"), delta = 0.5, lambda = 8.0)
        .orderBy("key", "bucket")
    },

    // C129: RFM segmentation per user — recency vs the corpus horizon
    // (data-relative, not wall-clock), frequency, exact-decimal
    // monetary mass, ntile(5) quintiles with (metric, user_id)
    // tiebreaks so boundary users land identically on both engines.
    Q(
      "q_rfm",
      s"""WITH $rfmInputsSql,
        |sc AS (
        |  SELECT user_id, recency_periods, frequency, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_periods DESC, user_id ASC)
        |      AS INTEGER) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id ASC)
        |      AS INTEGER) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id ASC)
        |      AS INTEGER) AS m_score
        |  FROM t)
        |SELECT user_id, recency_periods, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
        |    || '-' || CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      graft.operators.Behavior.rfm(graft.sources.Tables.events(s, dir),
          col("user_id"), col("ts_ns"), col("value"))
        .orderBy("user_id")
    },

    // C129b: sketched RFM — KLL quintile boundaries instead of exact
    // ntile total-order sorts (the 10^9-user path; zero global
    // windows, PlanSpec-pinned). Scores are estimator-specific, so
    // the portable shape is the bounded verdict (the C58 idiom): each
    // engine checks its OWN boundary-estimate scores against exact
    // rank windows q(0.2i ± 0.05) — 3x the published KLL k=200 rank
    // error; RfmSketchSpec pins sub-capacity exactness vs exact rfm.
    Q(
      "q_rfm_sketch", {
        val metrics = Seq(
          "r" -> "CAST(recency_periods AS DOUBLE)",
          "f" -> "CAST(frequency AS DOUBLE)",
          "m" -> "monetary")
        // one scalar per boundary: the engine's own estimator at
        // q(0.2i) plus the exact window edges q(0.2i ∓ 0.05)
        val boundAgg = metrics.flatMap { case (p, c) =>
          (1 to 4).flatMap { i =>
            val q = i * 0.2
            Seq(
              f"approx_quantile($c, $q%.2f) AS a$p$i",
              f"quantile_cont($c, ${q - 0.05}%.2f) AS lo$p$i",
              f"quantile_cont($c, ${q + 0.05}%.2f) AS hi$p$i")
          }
        }.mkString(",\n    ")
        def score(v: String, cols: Int => String) = (1 to 4).map(i =>
          s"CASE WHEN $v > ${cols(i)} THEN 1 ELSE 0 END")
          .mkString("1 + ", " + ", "")
        val inBand = metrics.map { case (p, c) =>
          val v = c.replace("recency_periods", "t.recency_periods")
            .replace("frequency", "t.frequency")
            .replace("monetary", "t.monetary")
          s"(${score(v, i => s"b.a$p$i")})" +
            s" BETWEEN (${score(v, i => s"b.hi$p$i")})" +
            s" AND (${score(v, i => s"b.lo$p$i")}) AS ${p}_in_band"
        }.mkString(",\n  ")
        s"""WITH $rfmInputsSql,
          |b AS (
          |  SELECT $boundAgg
          |  FROM t)
          |SELECT t.user_id, t.recency_periods, t.frequency, t.monetary,
          |  $inBand
          |FROM t, b ORDER BY t.user_id""".stripMargin
      }
    ) { (s, dir) =>
      val scored = graft.operators.Behavior.rfmSketched(
        graft.sources.Tables.events(s, dir),
        col("user_id"), col("ts_ns"), col("value"))
      val ranks = "array(0.15,0.25,0.35,0.45,0.55,0.65,0.75,0.85)"
      val bands = scored.agg(
        expr(s"percentile(cast(recency_periods as double), $ranks)").as("__qr"),
        expr(s"percentile(cast(frequency as double), $ranks)").as("__qf"),
        expr(s"percentile(monetary, $ranks)").as("__qm"))
      // s_hi counts the LOW-side boundaries q(0.2i - 0.05) (elements
      // 1,3,5,7), s_lo the HIGH side q(0.2i + 0.05) (elements 2,4,6,8)
      def band(v: org.apache.spark.sql.Column, q: String,
          els: Seq[Int]): org.apache.spark.sql.Column =
        els.map(e => when(v > element_at(col(q), e), 1).otherwise(0))
          .reduce(_ + _) + lit(1)
      val hiEls = Seq(1, 3, 5, 7)
      val loEls = Seq(2, 4, 6, 8)
      scored.crossJoin(broadcast(bands))
        .select(col("user_id"), col("recency_periods"), col("frequency"),
          col("monetary"),
          (lit(6) - col("r_score")).between(
            band(col("recency_periods").cast("double"), "__qr", loEls),
            band(col("recency_periods").cast("double"), "__qr", hiEls))
            .as("r_in_band"),
          col("f_score").between(
            band(col("frequency").cast("double"), "__qf", loEls),
            band(col("frequency").cast("double"), "__qf", hiEls))
            .as("f_in_band"),
          col("m_score").between(
            band(col("monetary"), "__qm", loEls),
            band(col("monetary"), "__qm", hiEls)).as("m_in_band"))
        .orderBy("user_id")
    }
  )
}
