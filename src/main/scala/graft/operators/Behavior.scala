package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Behavioral/event analytics — the product-analytics endpoints the
  * reference's "fazer agregações" stage feeds (funnel conversion,
  * cohort retention) expressed as keyed aggregation chains: no
  * windows over unbounded partitions, no sessionization dependency,
  * no driver-side data.
  */
object Behavior {

  /** Ordered funnel: for each step i, the users who performed
    * `steps(i)` at-or-after their completion of step i-1, where
    * completion time is the EARLIEST qualifying occurrence (the
    * standard strictly-ordered funnel). Returns one row per step:
    * (step, event_type, n_users, conversion) with conversion =
    * n_users / THE FIRST step's users (the funnel's entry population,
    * so the column reads as "fraction of entrants still here" —
    * step-over-step drop-off is the ratio of adjacent n_users),
    * truncated at 6 dp.
    *
    * Shape at scale: one filtered keyed aggregation per step plus an
    * equi-join against the previous step's (user, time) frame — k-1
    * keyed shuffles for a k-step funnel, each shrinking (funnels only
    * narrow). Timestamps are compared as integer epoch values — no
    * float, no timezone.
    */
  def funnel(
      events: DataFrame,
      user: Column,
      tsNs: Column,
      eventType: Column,
      steps: Seq[String]): DataFrame =
    funnelImpl(events, user, tsNs, eventType, steps, maxGapNs = None)

  /** Windowed funnel — [[funnel]] with a MAX GAP between consecutive
    * steps: a step counts only within `maxGapNs` of the previous
    * step's reach time (the "checkout within 24h of add-to-cart"
    * product question; the uncapped funnel credits a conversion
    * months later). Same greedy first-touch semantics — each step's
    * reach time is the EARLIEST qualifying event given the previous
    * reach (deterministic; a non-greedy matcher that delays step 1 to
    * rescue step 2's window is a different, search-shaped contract) —
    * same per-step checkpointed join chain, same output row shape.
    */
  def funnelWindowed(
      events: DataFrame,
      user: Column,
      tsNs: Column,
      eventType: Column,
      steps: Seq[String],
      maxGapNs: Long): DataFrame = {
    require(maxGapNs > 0, "maxGapNs must be positive")
    funnelImpl(events, user, tsNs, eventType, steps, Some(maxGapNs))
  }

  private def funnelImpl(
      events: DataFrame,
      user: Column,
      tsNs: Column,
      eventType: Column,
      steps: Seq[String],
      maxGapNs: Option[Long]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(user.as("u"), tsNs.as("t"), eventType.as("et"))
    // each step's frame is read twice (next step's join + its own
    // count) and its lineage nests every prior round — checkpoint per
    // step like the other iterative operators (pageRank,
    // connectedComponents), or a k-step funnel re-executes O(k²)
    // join rounds
    var reached = e.filter(col("et") === steps.head)
      .groupBy("u").agg(min(col("t")).as("t_r"))
      .transform(materialize(_))
    var stepFrames = Vector((1, steps.head, reached))
    for ((s, i) <- steps.tail.zipWithIndex) {
      val within = maxGapNs
        .map(g => col("t") >= col("t_prev") && col("t") <= col("t_prev") + g)
        .getOrElse(col("t") >= col("t_prev"))
      reached = e.filter(col("et") === s)
        .join(reached.select(col("u"), col("t_r").as("t_prev")), "u")
        .filter(within)
        .groupBy("u").agg(min(col("t")).as("t_r"))
        .transform(materialize(_))
      stepFrames :+= ((i + 2, s, reached))
    }
    val counts = stepFrames.map { case (i, s, df) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("step"), lit(s).as("event_type"), col("n_users"))
    }.reduce(_ unionByName _)
    val base = counts.filter(col("step") === 1)
      .select(col("n_users").as("base"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("n_users"),
        // an empty first step must yield 0.0 rows, not an ANSI
        // divide-by-zero that kills the query
        when(col("base") === 0, lit(0.0))
          .otherwise(floor(col("n_users") / col("base") * 1e6) / 1e6)
          .as("conversion"))
  }

  /** New-vs-returning split per period: among the users active in a
    * period, how many are there for the FIRST time and how many came
    * back. Same integer-bucket periods as [[retentionCohorts]]; the
    * same distinct + per-user-min + keyed-join shape, finished by one
    * conditional partial-aggregated count. Returns
    * (period, n_new, n_returning).
    */
  def newVsReturning(
      events: DataFrame,
      user: Column,
      tsUs: Column,
      bucketUs: Long = 604800000000L): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val w = ((tsUs - pmod(tsUs, lit(bucketUs))) / lit(bucketUs)).cast("long")
    val activity = events.select(user.as("u"), w.as("w")).distinct()
    val cohorts = activity.groupBy("u").agg(min(col("w")).as("cohort"))
    activity.join(cohorts, "u")
      .groupBy(col("w").as("period"))
      .agg(
        sum(when(col("w") === col("cohort"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("w") > col("cohort"), 1L).otherwise(0L)).as("n_returning"))
  }

  /** Rolling active users (DAU/WAU/MAU family): for every period, the
    * EXACT count of distinct users active within the trailing
    * `windowPeriods` periods.
    *
    * COUNT(DISTINCT) OVER a sliding window doesn't exist in Spark
    * (and would hold per-window user sets); instead each distinct
    * (user, period) row EXPLODES into the `windowPeriods` target
    * periods it contributes to, and one distinct + one
    * partial-aggregated count finish the job — O(activity ×
    * windowPeriods) rows through ordinary keyed shuffles, exact at
    * any scale. Only periods with ≥1 contribution appear (with a
    * window > 1, that includes up to windowPeriods−1 trailing periods
    * after the last activity).
    *
    * Periods are integer buckets of epoch-µs, like
    * [[retentionCohorts]]. Returns (period, n_active).
    */
  def rollingActiveUsers(
      events: DataFrame,
      user: Column,
      tsUs: Column,
      bucketUs: Long = 86400000000L,
      windowPeriods: Int = 7): DataFrame = {
    require(bucketUs > 0 && windowPeriods > 0,
      "bucketUs and windowPeriods must be positive")
    val w = ((tsUs - pmod(tsUs, lit(bucketUs))) / lit(bucketUs)).cast("long")
    events.select(user.as("u"), w.as("w")).distinct()
      .withColumn("period",
        explode(sequence(col("w"), col("w") + (windowPeriods - 1))))
      .select("u", "period").distinct()
      .groupBy("period")
      .agg(count(lit(1)).as("n_active"))
  }

  /** Cohort retention: users bucketed by their FIRST-ACTIVE period
    * (cohort), counted in every later period they return. Periods are
    * integer buckets of the epoch-microsecond timestamp (e.g. one
    * week = 604800000000 µs), computed with exact integer arithmetic.
    * Returns (cohort, week_offset, n_users).
    *
    * Shape at scale: distinct (user, period) — one keyed shuffle over
    * heavily pre-combined data — a per-user min for the cohort, a
    * keyed join back, and a partial-aggregated count. No windows.
    */
  def retentionCohorts(
      events: DataFrame,
      user: Column,
      tsUs: Column,
      bucketUs: Long = 604800000000L): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    // exact integer division: (t - t mod b) / b is a whole number well
    // under 2^53, so the double division is exact
    val w = ((tsUs - pmod(tsUs, lit(bucketUs))) / lit(bucketUs)).cast("long")
    val activity = events.select(user.as("u"), w.as("w")).distinct()
    val cohorts = activity.groupBy("u").agg(min(col("w")).as("cohort"))
    activity.join(cohorts, "u")
      .groupBy(col("cohort"), (col("w") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Multi-touch attribution — which channel gets credit for each
    * conversion's value, the credit-assignment layer above the raw
    * interval-attribution pair list (C22): every conversion's value is
    * split across the same user's qualifying touches in the preceding
    * `lookbackUs` window under three standard models at once — linear
    * (value / n touches), first-touch (all to the earliest), and
    * last-touch (all to the latest) — then rolled up per channel.
    * Ties on touch timestamp break by touch id, so first/last are
    * engine-independent.
    *
    * Shape at scale: the pair join is the C22 interval shape (equi-join
    * on user + two-sided time bound — work bounded by touches within
    * the lookback, never user×user); rank/count run in ONE
    * conversion-keyed window (bounded by touches per conversion); each
    * per-touch credit truncates at 7 dp toward zero into exact decimal
    * lanes BEFORE the channel rollup, so the sums are
    * partition-order-independent (the PSI/pagerank contract). Final
    * credits cast back to double.
    *
    * Returns one row per channel: (channel, n_touches, n_conversions,
    * credit_linear, credit_first, credit_last). Conversions with no
    * qualifying touch are absent by construction (nothing to credit) —
    * count them with `funnel`/C22 if the gap matters.
    */
  def attributionCredit(
      events: DataFrame,
      user: Column,
      id: Column,
      tsUs: Column,
      eventType: Column,
      value: Column,
      conversionType: String,
      touchTypes: Seq[String],
      lookbackUs: Long): DataFrame = {
    require(touchTypes.nonEmpty, "at least one touch type")
    require(lookbackUs > 0, "lookbackUs must be positive")
    val e = events.select(user.as("u"), id.as("id"), tsUs.as("ts"),
      eventType.as("t"), value.as("v"))
    val conv = e.filter(col("t") === conversionType)
      .select(col("u"), col("id").as("conv_id"), col("ts").as("cts"),
        col("v").cast("double").as("cv"))
    val touch = e.filter(col("t").isin(touchTypes: _*))
      .select(col("u"), col("id").as("touch_id"), col("ts").as("tts"),
        col("t").as("channel"))
    val pairs = conv.join(touch, Seq("u"))
      .filter(col("tts") >= col("cts") - lookbackUs && col("tts") <= col("cts"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))
    val ranked = pairs
      .withColumn("__rn",
        row_number().over(w.orderBy(col("tts").asc, col("touch_id").asc)))
      .withColumn("__n", count(lit(1)).over(w))
    def d7(c: Column): Column =
      (signum(c) * (floor(abs(c) * 1e7) / 1e7)).cast("decimal(28,7)")
    val zero = lit(BigDecimal(0)).cast("decimal(28,7)")
    ranked
      .select(col("channel"), col("conv_id"),
        d7(col("cv") / col("__n")).as("__lin"),
        when(col("__rn") === 1, d7(col("cv"))).otherwise(zero).as("__first"),
        when(col("__rn") === col("__n"), d7(col("cv"))).otherwise(zero).as("__last"))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("conv_id")).as("n_conversions"),
        sum(col("__lin")).cast("double").as("credit_linear"),
        sum(col("__first")).cast("double").as("credit_first"),
        sum(col("__last")).cast("double").as("credit_last"))
  }

  /** TOP-K event PATHS — [[transitionMatrix]]'s depth-`len` extension:
    * the most common runs of `len` consecutive events across all
    * users ("signup→view→click dominates; error→error→error is #4"
    * is a narrative no edge matrix shows). Each user's stream yields
    * its sliding windows of length `len`; paths count globally and
    * the top k return.
    *
    * Shape at scale: one keyed window with len−1 leads (ONE WindowExec
    * pass — same-spec window functions coalesce), partial-agg path
    * counts, then a distributed TakeOrderedAndProject (orderBy+limit,
    * never a global window). Ties break on the path string.
    */
  def topPaths(
      df: DataFrame,
      user: Column,
      ts: Column,
      event: Column,
      tiebreak: Column,
      len: Int = 3,
      k: Int = 20): DataFrame = {
    require(len >= 2 && len <= 6, "len in [2, 6]")
    require(k >= 1, "k must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t").asc, col("__tb").asc)
    val base = df.select(user.as("__u"), ts.as("__t"), tiebreak.as("__tb"),
      event.as("__e0"))
    val withLeads = (1 until len).foldLeft(base) { (acc, i) =>
      acc.withColumn(s"__e$i", lead(col("__e0"), i).over(w))
    }
    withLeads
      // __e0 included: a NULL event would otherwise produce a
      // TRUNCATED path via concat_ws (skips nulls) and conflate it
      // with genuine shorter paths (caught in review)
      .filter((0 until len).map(i => col(s"__e$i").isNotNull).reduce(_ && _))
      .select(concat_ws(">", (0 until len).map(i => col(s"__e$i")): _*).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** INTER-ARRIVAL profile per key — the traffic-model summary
    * (capacity planning, rate-limit design, bot detection: a scripted
    * client's gaps cluster unnaturally tight): per key, consecutive
    * event gaps in the caller's integer time unit, with count, mean,
    * and EXACT rank-based p50/p90 (no sketch, no interpolation — the
    * gap at rank ceil(q·n) in (gap, tiebreak) order).
    *
    * Shape at scale: one keyed lag window for the gaps, one keyed
    * rank window over the gap frame, conditional-agg percentile picks
    * — keys partition everything (the sessionize contract, never
    * global). Mean from exact integer sums, rounded 4 dp.
    */
  def interArrival(
      df: DataFrame,
      key: Column,
      ts: Column,
      tiebreak: Column): DataFrame = {
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__t").asc, col("__tb").asc)
    val gaps = df.select(key.as("__k"), ts.cast("long").as("__t"),
        tiebreak.as("__tb"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(wSeq))
      .filter(col("__gap").isNotNull)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__gap").asc, col("__tb").asc)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy("__k")
    gaps
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .withColumn("__n", count(lit(1)).over(wKey))
      .groupBy(col("__k").as("key"))
      .agg(
        max(col("__n")).as("n_gaps"),
        round(sum(col("__gap")).cast("double") / max(col("__n")), 4)
          .as("mean_gap"),
        max(when(col("__rk") === ceil(lit(0.5) * col("__n")), col("__gap")))
          .as("p50_gap"),
        max(when(col("__rk") === ceil(lit(0.9) * col("__n")), col("__gap")))
          .as("p90_gap"))
  }

  /** First-order Markov TRANSITION MATRIX over each user's
    * time-ordered event stream — "after a click, what happens next?":
    * for every (from_event, to_event) pair, the transition count and
    * conditional probability P(to | from). The behavioral summary
    * under funnel design ([[funnel]] checks ONE path; this surfaces
    * ALL paths and their mass, including the error loops you didn't
    * think to ask about).
    *
    * Shape at scale: ONE keyed window per user (lead by timestamp,
    * `tiebreak` for same-instant events — the sessionize partitioning
    * contract, never global), then a partial-aggregated count to the
    * |event types|² grid, which is config-sized; the probability
    * normalization is a window over that bounded grid
    * (registry-audit class: window above an aggregate). Probabilities
    * round 4 dp.
    */
  def transitionMatrix(
      df: DataFrame,
      user: Column,
      ts: Column,
      event: Column,
      tiebreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t").asc, col("__tb").asc)
    val grid = df.select(user.as("__u"), ts.as("__t"), tiebreak.as("__tb"),
        event.as("from_event"))
      .withColumn("to_event", lead(col("from_event"), 1).over(w))
      .filter(col("to_event").isNotNull)
      .groupBy("from_event", "to_event")
      .agg(count(lit(1)).as("n"))
    val wf = org.apache.spark.sql.expressions.Window.partitionBy("from_event")
    grid.withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(wf), 4))
      .select(col("from_event"), col("to_event"), col("n"), col("p"))
  }

  /** C129: RFM segmentation — the classic customer-value grid over an
    * event stream: per user, Recency (periods since last activity,
    * against the CORPUS max timestamp so the score is a property of
    * the data, not of when the job ran), Frequency (event count),
    * Monetary (exact decimal value mass), each quintiled 1-5 and
    * concatenated into the familiar "R F M" segment label
    * (5-5-5 = recent/frequent/big spender). The per-user companion of
    * [[activeUsers]]' aggregate curves.
    *
    * Shape at scale: ONE keyed aggregation to the per-user frame,
    * then three ntile windows over it — the user frame is corpus-
    * cardinality (bounded by |users|, not |events|) and each window
    * is a single total-order pass, the same class as [[Profile]]'s
    * rank windows. At extreme user cardinality (where even the user
    * frame shouldn't total-order) use [[rfmSketched]]: KLL-sketch
    * quintile boundaries ([[graft.functions.KllQuantileSketch]],
    * C58) broadcast back — same output contract, approximate
    * boundaries, zero global windows; [[rfmScores]] auto-routes
    * there above a caller-set `sketchAbove` cardinality.
    * Determinism: every ntile orders by (metric,
    * user_id) — a bare metric order would tie-break arbitrarily and
    * flip boundary users between quintiles across engines. Recency
    * ntiles DESCENDING (most recent = score 5), frequency/monetary
    * ascending (biggest = 5): scores always read "bigger is better".
    *
    * Returns one row per user: (user_id, recency_periods, frequency,
    * monetary, r_score, f_score, m_score, segment).
    */
  def rfm(
      df: DataFrame,
      user: Column,
      tsNs: Column,
      value: Column,
      periodNs: Long = 86400L * 1000000000L): DataFrame = {
    require(periodNs > 0, "periodNs must be positive")
    val per = df.filter(user.isNotNull && tsNs.isNotNull)
      .select(user.as("user_id"), tsNs.cast("long").as("__ts"),
        value.cast("decimal(18,2)").as("__v"))
      .groupBy("user_id")
      .agg(
        max(col("__ts")).as("__last"),
        count(lit(1)).as("frequency"),
        coalesce(sum(col("__v")), lit(0).cast("decimal(18,2)"))
          .cast("double").as("monetary"))
    rfmScores(per, periodNs)
  }

  /** The scoring stage of [[rfm]] over an already-aggregated per-user
    * frame (user_id, __last epoch-ns, frequency, monetary) — exposed
    * so the E47 streaming snapshot (which maintains exactly that
    * frame incrementally) scores through the IDENTICAL code path the
    * batch operator uses.
    *
    * `sketchAbove` is the scale escape hatch: when set (default
    * Long.MaxValue = never, zero overhead on the exact path) the
    * frame is pinned by `materialize`, counted once, and a user count
    * above the threshold routes scoring through
    * [[rfmScoresSketched]] — the exact ntile path is a
    * single-partition total-order sort, correct but a
    * driver-adjacent serialization point at 10⁹ users.
    */
  def rfmScores(per0: DataFrame, periodNs: Long = 86400L * 1000000000L,
      sketchAbove: Long = Long.MaxValue): DataFrame = {
    require(periodNs > 0, "periodNs must be positive")
    val (per, sketched) =
      if (sketchAbove == Long.MaxValue) (per0, false)
      else {
        // seam first so the routing count() doesn't recompute the
        // upstream aggregation a second time for the scoring pass
        val p = per0.transform(materialize(_))
        (p, p.count() > sketchAbove)
      }
    if (sketched) return rfmScoresSketched(per, periodNs)
    val hz = per.agg(max(col("__last")).as("__hz"))
    // integer `div`, never double division: an ns difference can
    // exceed 2^53 and silently round under a double quotient
    val t = per.crossJoin(broadcast(hz))
      .withColumn("recency_periods", expr(s"(__hz - __last) div ${periodNs}L"))
    import org.apache.spark.sql.expressions.Window
    val wr = Window.orderBy(col("recency_periods").desc, col("user_id").asc)
    val wf2 = Window.orderBy(col("frequency").asc, col("user_id").asc)
    val wm = Window.orderBy(col("monetary").asc, col("user_id").asc)
    t.withColumn("r_score", ntile(5).over(wr))
      .withColumn("f_score", ntile(5).over(wf2))
      .withColumn("m_score", ntile(5).over(wm))
      .select(col("user_id"), col("recency_periods"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat_ws("-", col("r_score"), col("f_score"), col("m_score"))
          .as("segment"))
  }

  /** C129b: RFM segmentation at EXTREME user cardinality — [[rfm]]'s
    * output contract with the three exact ntile(5) total-order sorts
    * (single-partition windows, the one place the exact operator
    * would serialize at 10⁹ users) replaced by KLL-sketch quintile
    * BOUNDARIES: one partial-aggregated pass builds three mergeable
    * sketches (C58 machinery), four boundaries per metric read off
    * each sketch, and the 12-value boundary row broadcasts back for
    * a stateless per-row score — zero global windows, zero
    * total-order sorts, every stage partial-aggregated.
    *
    * Scoring rule: ascending quintile s(v) = 1 + #{i : v > q(0.2·i)}
    * (recency inverts: r = 6 − s, most recent = 5). Under the
    * inclusive-rank quantile rule this reproduces exact ntile
    * assignments when n divides 5 and values are distinct; TIED
    * values all take the smallest applicable score (ntile splits tie
    * mass by user_id position — a rank artifact, not a property of
    * the user). Boundary users can shift ±1 quintile within KLL's
    * rank-error envelope (~1.65% at k=200, 99% confidence) — the
    * q_rfm_sketch oracle pins that band, and RfmSketchSpec pins
    * sub-capacity exactness.
    *
    * Returns one row per user: (user_id, recency_periods, frequency,
    * monetary, r_score, f_score, m_score, segment).
    */
  def rfmSketched(
      df: DataFrame,
      user: Column,
      tsNs: Column,
      value: Column,
      periodNs: Long = 86400L * 1000000000L,
      k: Int = 200): DataFrame = {
    require(periodNs > 0, "periodNs must be positive")
    val per = df.filter(user.isNotNull && tsNs.isNotNull)
      .select(user.as("user_id"), tsNs.cast("long").as("__ts"),
        value.cast("decimal(18,2)").as("__v"))
      .groupBy("user_id")
      .agg(
        max(col("__ts")).as("__last"),
        count(lit(1)).as("frequency"),
        coalesce(sum(col("__v")), lit(0).cast("decimal(18,2)"))
          .cast("double").as("monetary"))
    rfmScoresSketched(per, periodNs, k)
  }

  /** The sketched scoring stage ([[rfmSketched]]'s tail) over the
    * same per-user frame contract as [[rfmScores]] — the route
    * `rfmScores(sketchAbove = …)` takes above its threshold.
    */
  def rfmScoresSketched(per: DataFrame,
      periodNs: Long = 86400L * 1000000000L,
      k: Int = 200): DataFrame = {
    require(periodNs > 0, "periodNs must be positive")
    import graft.functions.KllQuantileSketch.{kllSketch, kllQuantile}
    val hz = per.agg(max(col("__last")).as("__hz"))
    val t = per.crossJoin(broadcast(hz))
      .withColumn("recency_periods", expr(s"(__hz - __last) div ${periodNs}L"))
    // one partial-aggregated pass, three sketches; boundaries are a
    // single 12-column row — driver-metadata-sized by construction
    val sk = t.agg(
      kllSketch(col("recency_periods").cast("double"), k).as("__skr"),
      kllSketch(col("frequency").cast("double"), k).as("__skf"),
      kllSketch(col("monetary"), k).as("__skm"))
    val boundCols = for {
      (m, s) <- Seq("r" -> "__skr", "f" -> "__skf", "m" -> "__skm")
      i <- 1 to 4
    } yield kllQuantile(col(s), i * 0.2).as(s"__b$m$i")
    val bounds = sk.select(boundCols: _*)
    def asc(v: Column, p: String): Column =
      (1 to 4).map(i => when(v > col(s"__b$p$i"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
    t.crossJoin(broadcast(bounds))
      .withColumn("r_score",
        lit(6) - asc(col("recency_periods").cast("double"), "r"))
      .withColumn("f_score", asc(col("frequency").cast("double"), "f"))
      .withColumn("m_score", asc(col("monetary"), "m"))
      .select(col("user_id"), col("recency_periods"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat_ws("-", col("r_score"), col("f_score"), col("m_score"))
          .as("segment"))
  }
}
