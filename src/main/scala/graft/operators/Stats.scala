package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.EventStreams.{EwmaIn, EwmaOut, EwmaState, HoltOut, HoltState, HwOut, HwState}
import Num.{b13, b19}

/** Experiment statistics — the A/B readout endpoint: compare a metric
  * between two groups with an unpooled two-sample z statistic, over
  * the same exact-decimal moment machinery as [[Profile.standardize]].
  */
object Stats {

  // ---- the shared building blocks of the two-sample, rank and
  // contingency tests: one copy each, so the operators (and the
  // DuckDB twins that replay them) cannot drift apart ----

  /** The conditional two-group moments of [[twoSampleZ]] and
    * [[effectSize]]: ONE groupBy-less aggregate over the non-null
    * values with, per side, `__n_<tag>`, `__s_<tag>` = Σx and
    * `__ss_<tag>` = Σx² in exact decimals (tags a and b). The n's are
    * coalesced: an EMPTY input aggregates every sum to NULL, and the
    * n's must come back 0 so the degenerate branch (not a NULL
    * cascade) decides the output.
    */
  private def twoGroupMoments(df: DataFrame, group: Column, value: Column,
      groupA: String, groupB: String): DataFrame = {
    def side(label: String, tag: String) = Seq(
      coalesce(sum(when(group === label, 1L).otherwise(0L)), lit(0L)).as(s"__n_$tag"),
      sum(when(group === label, Num.dec(value)).otherwise(lit(null))).as(s"__s_$tag"),
      sum(when(group === label, Num.dec(value) * Num.dec(value)).otherwise(lit(null)))
        .as(s"__ss_$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    df.filter(value.isNotNull).agg(aggs.head, aggs.tail: _*)
  }

  /** The quantized two-sided value frame of the rank and ECDF tests:
    * `kept`'s values round to `dp` decimals and ONE partial-aggregated
    * groupBy collapses them to a ≤ 10^dp+1-row frame (`__v`, per-side
    * counts `__na`/`__nb` as conditional sums), so every ordered pass
    * after it runs over that bounded frame — never a global window
    * over rows, the scale-killer PlanSpec hunts.
    */
  private def quantizedSides(kept: DataFrame, value: Column, dp: Int,
      inA: Column, inB: Column): DataFrame = {
    require(dp >= 0 && dp <= 7, "dp in [0, 7]: the quantization bounds the ordered pass")
    kept.groupBy(round(value.cast("double"), dp).as("__v"))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("__na"),
        sum(when(inB, 1L).otherwise(0L)).as("__nb"))
  }

  /** Rows strictly below each value of a bounded value frame (within
    * `partition`), 0 for the first: the cumulative count every rank
    * lane reads off the aggregated frame.
    */
  private[operators] def cumBefore(cnt: String, v: String, partition: String*): Column =
    coalesce(sum(col(cnt)).over(Window.partitionBy(partition.map(col): _*)
      .orderBy(col(v)).rowsBetween(Long.MinValue, -1)), lit(0L))

  /** Doubled mid-rank of a tie group of `t` rows with `cum` rows below
    * it: 2·(cum + (t+1)/2) stays an exact integer, so halves never
    * touch a double.
    */
  private[operators] def midRank2(cum: Column, t: Column): Column = cum * 2 + t + 1

  /** A tie group's t³ − t on 13-digit factor lanes (never a long
    * overflow).
    */
  private[operators] def tieCube(t: Column): Column =
    (b13(t) * b13(t) * b13(t) - t).cast("decimal(38,0)")

  /** Side b's count strictly below each value of [[quantizedSides]]'
    * frame, the `__cumb` that [[twiceU]] reads.
    */
  private def withCumB(g: DataFrame): DataFrame = g.withColumn("__cumb", cumBefore("__nb", "__v"))

  /** 2U at one value: na·(2·cumB + nb) counts every (a > b) pair twice
    * and every tie once, so Σ 2U is an exact integer (half-credits
    * never touch a double).
    */
  private val twiceU: Column =
    (b19(col("__na")) * (b19(col("__cumb")) * 2 + b19(col("__nb"))))
      .cast("decimal(38,0)")

  /** The ECDF lanes of [[quantizedSides]]' frame: `__ca`/`__cb`, each
    * side's count at or below the value, and the one-row totals
    * `__ta`/`__tb`. The totals are groupBy-less, so even an EMPTY input
    * yields exactly one (degenerate-zero) row, twoSampleZ's contract.
    */
  private def ecdf(g: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.orderBy(col("__v")).rowsBetween(Long.MinValue, 0)
    val cum = g
      .withColumn("__ca", sum(col("__na")).over(w))
      .withColumn("__cb", sum(col("__nb")).over(w))
    val tot = g.agg(
      coalesce(sum(col("__na")), lit(0L)).as("__ta"),
      coalesce(sum(col("__nb")), lit(0L)).as("__tb"))
    (cum, tot)
  }

  /** The ECDF gap |F_a − F_b| scaled by NA·NB: |cumA·NB − cumB·NA| as
    * an exact integer (the products overflow long at corpus scale), so
    * comparisons of it are engine-independent.
    */
  private val ecdfGap: Column =
    abs(b19(col("__ca")) * b19(col("__tb"))
      - b19(col("__cb")) * b19(col("__ta"))).cast("decimal(38,0)")

  /** The pooled rank frame of [[kruskalWallis]] and [[dunnTest]]: values
    * quantize to `dp` decimals, one partial-aggregated
    * groupBy(value, group) collapses the input to a bounded frame,
    * mid-ranks come from the cumulative window over its per-value
    * totals, and per group `__n` and `__r2` = 2·Σranks accumulate in
    * exact integer lanes. Returns that k-row frame (`__g`, `__n`,
    * `__r2`) and the one-row tie sum `__sumtc` = Σ(t³ − t).
    */
  private def pooledRankSums(df: DataFrame, group: Column, value: Column,
      dp: Int): (DataFrame, DataFrame) = {
    require(dp >= 0 && dp <= 7, "dp in [0, 7]: the quantization bounds the rank frame")
    val t = df.filter(value.isNotNull && group.isNotNull)
      .select(group.cast("string").as("__g"),
        round(value.cast("double"), dp).as("__v"))
    val vg = t.groupBy("__v", "__g").agg(count(lit(1)).as("__nvg"))
    val vtc = vg.groupBy("__v").agg(sum(col("__nvg")).as("__t"))
      .withColumn("__cum", cumBefore("__t", "__v"))
      .withColumn("__tc", tieCube(col("__t")))
    val perG = vg.join(vtc, "__v")
      .groupBy("__g").agg(
        sum(col("__nvg")).as("__n"),
        sum((b19(col("__nvg")) * midRank2(b19(col("__cum")), col("__t")))
          .cast("decimal(38,0)")).as("__r2"))
    val ties = vtc.agg(
      coalesce(sum(col("__tc")), lit(0).cast("decimal(38,0)")).as("__sumtc"))
    (perG, ties)
  }

  /** The contingency frame of [[chiSquared]] and [[gTest]]: one
    * partial-aggregated groupBy(a, b) to the ≤ r·c cell frame, margins
    * from null-safe broadcast joins over THAT BOUNDED FRAME (never the
    * corpus). Null is a real level: groupBy keeps it and the `<=>`
    * joins do — collect_set/count(DISTINCT) would silently drop it
    * (the psiByGroup lesson). Expected counts derive in double with a
    * fixed operation order (rowTot·colTot then /N — the oracles replay
    * it textually) and `cellTerm(exp)` is each cell's 7-dp decimal
    * term. Returns ONE row — groupBy-less aggregates crossJoined, so
    * even an EMPTY input has one: `__tot`, `n_cells`, `__r`, `__c` and
    * `__s` = Σ terms (NULL on an empty table).
    */
  private def contingency(df: DataFrame, a: Column, b: Column)(
      cellTerm: Column => Column): DataFrame = {
    val cells = df.groupBy(a.as("__a"), b.as("__b"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // 4 consumers below; never rescan the corpus
    val ra = cells.groupBy(col("__a")).agg(sum(col("__n")).as("__rt"))
    val rb = cells.groupBy(col("__b")).agg(sum(col("__n")).as("__ct"))
    val g = cells
      .join(broadcast(ra.withColumnRenamed("__a", "__ka")),
        col("__a") <=> col("__ka"))
      .join(broadcast(rb.withColumnRenamed("__b", "__kb")),
        col("__b") <=> col("__kb"))
    val tot = cells.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__tot"),
      count(lit(1)).as("n_cells"))
    val nr = ra.agg(count(lit(1)).as("__r"))
    val nc = rb.agg(count(lit(1)).as("__c"))
    val exp = col("__rt").cast("double") * col("__ct").cast("double") /
      col("__tot").cast("double")
    val s = g.crossJoin(broadcast(tot.select(col("__tot"))))
      .select(cellTerm(exp).as("__t7"))
      .agg(sum(col("__t7")).as("__s"))
    tot.crossJoin(nr).crossJoin(nc).crossJoin(s)
  }

  /** [[contingency]]'s dof (r−1)(c−1); (0−1)·(0−1) = 1 on an empty
    * table, so it pins to 0 there.
    */
  private val contingencyDof: Column =
    when(col("__r") === 0 || col("__c") === 0, lit(0L))
      .otherwise((col("__r") - 1) * (col("__c") - 1))

  /** The demeaned 6-dp micro lanes of the per-key series statistics:
    * each `(value, out)` lane's per-key mean `__mu<value>` from one
    * exact decimal sum, joined back, and the centered value quantized
    * ONCE to a decimal(18,0) of 1e-6 units in `out` — every product
    * and sum after it is exact integer arithmetic.
    */
  private def demeanedMicro(t: DataFrame, lanes: (String, String)*): DataFrame = {
    val means = lanes.map { case (v, _) =>
      (sum(Num.dec(col(v))).cast("double") / count(lit(1))).as(s"__mu$v")
    }
    lanes.foldLeft(t.join(t.groupBy("key").agg(means.head, means.tail: _*), Seq("key"))) {
      case (acc, (v, out)) =>
        acc.withColumn(out, ((col(v) - col(s"__mu$v")) * 1e6).cast("decimal(18,0)"))
    }
  }

  /** Welch-style two-sample z:`(meanA − meanB) / sqrt(vA/nA + vB/nB)`
    * with sample variances from exact decimal sums. Returns ONE row:
    * (n_a, mean_a, n_b, mean_b, z, significant) where `significant`
    * is |z| > 1.96 (the two-sided 5% gate). Means are truncated at
    * 4 dp for reporting; z is derived from the RAW moments and
    * truncated at 4 dp TOWARD ZERO (sign·floor(|x|·1e4)/1e4, not a
    * bare floor: floor truncates negatives AWAY from zero, so the
    * same experiment could flip `significant` when the group labels —
    * and hence z's sign — are swapped; toward-zero truncation keeps
    * |z| > 1.96 symmetric and stays repr-independent across engines).
    * Degenerate inputs (a group missing or empty input, n < 2, or
    * both variances 0) yield z = 0 and significant = false rather
    * than an ANSI error or a NULL row.
    *
    * Shape at scale: one partial-aggregated conditional-moments pass
    * over one scan (both groups in the same aggregate), one
    * driver-trivial projection.
    */
  def twoSampleZ(
      df: DataFrame,
      group: Column,
      value: Column,
      groupA: String,
      groupB: String): DataFrame = {
    def t4(c: Column): Column = Num.t4zero(c)
    val m = twoGroupMoments(df, group, value, groupA, groupB)
    def mean(t: String) = col(s"__s_$t").cast("double") / col(s"__n_$t")
    def variance(t: String) = greatest(lit(0.0),
      (col(s"__ss_$t").cast("double") -
        col(s"__s_$t").cast("double") * col(s"__s_$t").cast("double") /
          col(s"__n_$t")) /
        (col(s"__n_$t") - 1))
    val se = sqrt(variance("a") / col("__n_a") + variance("b") / col("__n_b"))
    val degenerate =
      col("__n_a") < 2 || col("__n_b") < 2
    val z = when(degenerate || se === 0.0, lit(0.0))
      .otherwise(t4((mean("a") - mean("b")) / se))
    m.select(
      col("__n_a").as("n_a"),
      when(col("__n_a") > 0, t4(mean("a"))).otherwise(lit(0.0)).as("mean_a"),
      col("__n_b").as("n_b"),
      when(col("__n_b") > 0, t4(mean("b"))).otherwise(lit(0.0)).as("mean_b"),
      z.as("z"),
      (abs(z) > 1.96).as("significant"))
  }

  /** C102: standardized EFFECT SIZES for the two-group comparison —
    * the magnitude readout [[twoSampleZ]]'s verdict deliberately
    * doesn't give (at corpus n everything is "significant"; what a
    * launch review needs is HOW BIG):
    *
    *   cohen_d     = (mean_a − mean_b) / s_pooled
    *   hedges_g    = J·d,  J = 1 − 3/(4(n_a+n_b) − 9)
    *   glass_delta = (mean_a − mean_b) / s_b   (control-side sd)
    *
    * Same one-pass conditional-moments shape and exact decimal lanes
    * as twoSampleZ; every ratio is ONE double derivation with a fixed
    * textual order, 4-dp toward zero (signed, symmetric under label
    * swap). Degenerate inputs (either n < 2 or a zero pooled sd)
    * report 0 + flag; glass_delta additionally zeroes when s_b = 0.
    * Returns (n_a, n_b, mean_diff, cohen_d, hedges_g, glass_delta,
    * degenerate).
    */
  def effectSize(
      df: DataFrame,
      group: Column,
      value: Column,
      groupA: String,
      groupB: String): DataFrame = {
    def t4(c: Column): Column = Num.t4zero(c)
    val m = twoGroupMoments(df, group, value, groupA, groupB)
    // try_divide lanes: whole-stage codegen CSE hoists these
    // subexpressions UNCONDITIONALLY, so the degenerate guard cannot
    // rely on when()-laziness — two singleton groups would ANSI-throw
    // inside the guard meant to catch them (caught by the r12
    // pre-close edge audit)
    def mean(t: String) = try_divide(col(s"__s_$t").cast("double"),
      col(s"__n_$t").cast("double"))
    def variance(t: String) = greatest(lit(0.0),
      try_divide(col(s"__ss_$t").cast("double") -
        try_divide(col(s"__s_$t").cast("double") * col(s"__s_$t").cast("double"),
          col(s"__n_$t").cast("double")),
        (col(s"__n_$t") - 1).cast("double")))
    val na = col("__n_a").cast("double")
    val nb = col("__n_b").cast("double")
    val sPooled = sqrt(try_divide(
      (na - 1.0) * variance("a") + (nb - 1.0) * variance("b"),
      na + nb - 2.0))
    val diff = mean("a") - mean("b")
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - 9.0)
    val degenerate = col("__n_a") < 2 || col("__n_b") < 2 ||
      coalesce(sPooled, lit(0.0)) === 0.0
    val d = when(degenerate, lit(0.0)).otherwise(t4(diff / sPooled))
    val g = when(degenerate, lit(0.0)).otherwise(t4(diff / sPooled * j))
    val glass = when(degenerate || variance("b") === 0.0, lit(0.0))
      .otherwise(t4(diff / sqrt(variance("b"))))
    m.select(
      col("__n_a").as("n_a"), col("__n_b").as("n_b"),
      when(degenerate, lit(0.0)).otherwise(t4(diff)).as("mean_diff"),
      d.as("cohen_d"), g.as("hedges_g"), glass.as("glass_delta"),
      degenerate.as("degenerate"))
  }

  /** Rolling z-score anomaly flags — the metric-monitoring shape
    * ("did this hour's event volume jump?"): each (key, bucket) value
    * is scored against the TRAILING `lookback` buckets' mean and
    * sample stddev; |z| > `zThresh` flags an anomaly. The baseline
    * window excludes the current row (an anomaly must not dilute its
    * own baseline), and rows with fewer than `minPeriods` trailing
    * buckets are unflagged with z = 0 — no baseline, no verdict.
    *
    * Shape at scale: ONE key-partitioned ordered window carrying the
    * trailing count/sum/sum-of-squares (exact decimals, so any
    * engine/partitioning derives identical moments); z derives in
    * double, truncated 4 dp TOWARD ZERO (twoSampleZ's symmetric-gate
    * contract); degenerate baselines (std = 0) yield z = 0. Input
    * buckets must be one row per (key, bucket).
    */
  def rollingZ(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      lookback: Int,
      zThresh: Double = 3.0,
      minPeriods: Int = 3): DataFrame = {
    require(lookback >= minPeriods && minPeriods >= 2,
      "need lookback >= minPeriods >= 2 trailing buckets for a stddev baseline")
    def t4(c: Column): Column = Num.t4zero(c)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(bucket)
      .rowsBetween(-lookback, -1)
    val d = df.withColumn("__v", value.cast("double"))
      .withColumn("__n", count(col("__v")).over(w))
      .withColumn("__s", sum(Num.dec(col("__v"))).over(w))
      .withColumn("__ss", sum(Num.dec(col("__v")) * Num.dec(col("__v"))).over(w))
    val n = col("__n").cast("double")
    val mean = col("__s").cast("double") / n
    val variance = greatest(lit(0.0),
      (col("__ss").cast("double") - col("__s").cast("double") * col("__s").cast("double") / n)
        / (n - 1))
    val std = sqrt(variance)
    // null values score 0 like every sibling scaler (standardize /
    // robustStandardize): a null z would poison `anomaly` into
    // three-valued logic and NPE primitive collectors
    val z = when(col("__v").isNull || col("__n") < minPeriods || std === 0.0, lit(0.0))
      .otherwise(t4((col("__v") - mean) / std))
    d.withColumn("baseline_n", col("__n"))
      .withColumn("z", z)
      .withColumn("anomaly", abs(z) > zThresh && col("__n") >= minPeriods)
      .drop("__v", "__n", "__s", "__ss")
  }

  /** Level-shift changepoint scan (two-window edge filter) — WHEN did
    * a series move to a new level, the time-localization companion to
    * [[Profile.psi]]'s "did the distribution drift" and [[rollingZ]]'s
    * "is this one point anomalous": each (key, bucket) compares the
    * TRAILING `width` buckets' mean against the LEADING `width`
    * buckets' mean (current row starts the leading window — the
    * candidate first point of the new level), normalized by the
    * trailing window's sample stddev (the pre-change regime is the
    * baseline; the post window carries the new level's own variance).
    * Rows without FULL windows on both sides report zeros un-flagged —
    * no baseline, no verdict. A true step flags a few consecutive
    * buckets (the filter has width `width`); keep the max-|z| bucket
    * per run for a point estimate.
    *
    * Shape at scale: ONE key-partitioned ordered window carrying five
    * running moments (exact decimal sums — identical on any
    * engine/partitioning); doubles derive once at the end, 4-dp
    * toward-zero ([[rollingZ]]'s contract). A flat-baseline step
    * (std = 0, shift ≠ 0) is infinitely significant: flagged with the
    * z sentinel 0 rather than dividing by zero.
    */
  def levelShift(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      width: Int,
      zThresh: Double = 4.0): DataFrame = {
    require(width >= 2, "width >= 2: a stddev baseline needs at least two points")
    def t4(c: Column): Column = Num.t4zero(c)
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(bucket)
    val wPre = base.rowsBetween(-width, -1)
    val wPost = base.rowsBetween(0, width - 1)
    val d = df.withColumn("__v", value.cast("double"))
      .withColumn("__np", count(col("__v")).over(wPre))
      .withColumn("__sp", sum(Num.dec(col("__v"))).over(wPre))
      .withColumn("__ssp", sum(Num.dec(col("__v")) * Num.dec(col("__v"))).over(wPre))
      .withColumn("__nq", count(col("__v")).over(wPost))
      .withColumn("__sq", sum(Num.dec(col("__v"))).over(wPost))
    // ANSI guard: edge rows have empty windows (np/nq = 0) — their
    // derived values are never reported (the `full` gate below zeroes
    // them), but the division itself must not throw
    val np = greatest(col("__np").cast("double"), lit(1.0))
    val nq = greatest(col("__nq").cast("double"), lit(1.0))
    val pre = col("__sp").cast("double") / np
    val post = col("__sq").cast("double") / nq
    val variance = greatest(lit(0.0),
      (col("__ssp").cast("double") -
        col("__sp").cast("double") * col("__sp").cast("double") / np) /
        greatest(np - 1, lit(1.0)))
    val std = sqrt(variance)
    val shift = post - pre
    val full = col("__np") === width && col("__nq") === width
    val z = when(full && std > 0.0, t4(shift / std)).otherwise(lit(0.0))
    val changepoint = full &&
      ((std > 0.0 && abs(z) > zThresh) || (std === 0.0 && shift =!= 0.0))
    d.withColumn("n_pre", col("__np"))
      .withColumn("n_post", col("__nq"))
      .withColumn("pre_mean", when(full, t4(pre)).otherwise(lit(0.0)))
      .withColumn("post_mean", when(full, t4(post)).otherwise(lit(0.0)))
      .withColumn("shift", when(full, t4(shift)).otherwise(lit(0.0)))
      .withColumn("shift_z", z)
      .withColumn("changepoint", changepoint)
      .drop("__v", "__np", "__sp", "__ssp", "__nq", "__sq")
  }

  /** Classifier threshold sweep — the calibration report behind "where
    * do we set the quality-gate cut?": for each candidate threshold t,
    * the confusion counts of the rule `score >= t` against a boolean
    * label, plus precision/recall/F1. Run it on a labeled holdout
    * before committing a gate threshold to a 100 TB curation pass
    * (the decision [[graft.operators.Classify.trainLogistic]] +
    * `linearTextScore` feed into).
    *
    * ONE partial-aggregated scan evaluates every threshold
    * (`Quality.attrition`'s shape: 4·k conditional sums in a single
    * aggregate row, per-threshold rows exploded from it) — sweeping 50
    * thresholds costs the same scan as sweeping 3. Rows with a null
    * score or label are excluded (a gate can't act on them either
    * way); counts are exact longs, the ratios round at 4 dp with the
    * 0/0 → 0.0 convention shared with `Dedup.auditPairs`.
    */
  def prCurve(
      df: DataFrame,
      score: Column,
      label: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold required")
    val y = label.cast("boolean")
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      val pos = score >= t
      Seq(
        sum(when(pos && y, 1L).otherwise(0L)).as(s"__tp$i"),
        sum(when(pos && !y, 1L).otherwise(0L)).as(s"__fp$i"),
        sum(when(!pos && y, 1L).otherwise(0L)).as(s"__fn$i"),
        sum(when(!pos && !y, 1L).otherwise(0L)).as(s"__tn$i"))
    }
    val wide = df.filter(score.isNotNull && label.isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    def t4(c: Column): Column = round(c, 4)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      val tp = coalesce(col(s"__tp$i"), lit(0L))
      val fp = coalesce(col(s"__fp$i"), lit(0L))
      val fn = coalesce(col(s"__fn$i"), lit(0L))
      val tn = coalesce(col(s"__tn$i"), lit(0L))
      val p = when(tp + fp === 0, 0.0).otherwise(t4(tp * lit(1.0) / (tp + fp)))
      val r = when(tp + fn === 0, 0.0).otherwise(t4(tp * lit(1.0) / (tp + fn)))
      struct(
        lit(t).as("threshold"),
        tp.as("tp"), fp.as("fp"), fn.as("fn"), tn.as("tn"),
        p.as("precision"), r.as("recall"),
        when(p + r === 0, 0.0).otherwise(t4(lit(2.0) * p * r / (p + r))).as("f1"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Exact ROC AUC — the threshold-free companion to [[prCurve]],
    * computed by the Mann-Whitney rank-sum identity: AUC = P(score of
    * a random positive > score of a random negative), ties counting
    * half. The model-selection readout for a curation gate ("which
    * quality classifier do we run over the 100 TB corpus?").
    *
    * NOT a global per-row rank (a single-partition window over the
    * corpus — the scale-killer PlanSpec hunts): scores quantize to
    * `dp` decimals, one partial-aggregated groupBy(score) collapses
    * the corpus to ≤ 10^dp+1 distinct-score rows, and the ordered
    * cumulative pass runs over THAT bounded frame only. AUC =
    * Σ np·(2·cumneg + nn) / (2·NP·NN) in exact integer arithmetic
    * (decimal lanes — the pair counts overflow long at corpus scale),
    * divided once at the end and truncated 6 dp (floor: AUC ≥ 0, so
    * floor == toward-zero; repr-independent). Null score/label rows
    * are excluded; a side with no rows yields the uninformative 0.5.
    *
    * Returns ONE row: (n, n_pos, n_neg, auc).
    */
  def auc(
      df: DataFrame,
      score: Column,
      label: Column,
      dp: Int = 6): DataFrame = {
    // positives are side a, negatives side b
    val y = label.cast("boolean")
    val g = quantizedSides(df.filter(score.isNotNull && label.isNotNull), score, dp, y, !y)
    val contrib = withCumB(g).select(twiceU.as("__u2"), col("__na"), col("__nb"))
    val m = contrib.agg(
      sum(col("__u2")).as("__u2"),
      coalesce(sum(col("__na")), lit(0L)).as("__na"),
      coalesce(sum(col("__nb")), lit(0L)).as("__nb"))
    val denom = lit(2.0) * col("__na").cast("double") * col("__nb").cast("double")
    m.select(
      (col("__na") + col("__nb")).as("n"),
      col("__na").as("n_pos"),
      col("__nb").as("n_neg"),
      when(col("__na") === 0 || col("__nb") === 0, 0.5)
        .otherwise(floor(col("__u2").cast("double") / denom * 1e6) / 1e6)
        .as("auc"))
  }

  /** C62: Spearman rank correlation (tie-corrected) — "do two judges
    * RANK the same way", the agreement statistic Pearson ([[graft.operators.Profile]]
    * correlations) cannot give when score scales are miscalibrated:
    * a reward model drifting from a rubric grader shows up here first.
    *
    * ρ = Pearson on average ranks. The ranks come from [[auc]]'s
    * bounded-ordered-pass discipline — NEVER a global window over
    * rows: per side, scores quantize to `dp` decimals, ONE
    * partial-agg groupBy collapses to a ≤10^dp-row value frame, the
    * cumulative window runs over that frame, and tie groups get the
    * midrank. DOUBLED ranks (2·cum + cnt + 1) keep everything in
    * exact integer lanes — halves never touch a double; rows join
    * their rank via two bounded value-map joins (AQE-broadcast). The
    * final Pearson runs over exact decimal(38) sums of integer
    * products (Σr², Σr_a·r_b bounded by 4n³ — decimal(38) holds
    * through ~10^11 rows; the corpus-scale contract) with ONE double
    * derivation at the end, 4-dp toward-zero (ρ is signed).
    * Degenerate inputs (n < 2 or a constant side) report 0 + flag.
    */
  def spearman(
      df: DataFrame,
      a: Column,
      b: Column,
      dp: Int = 6): DataFrame = {
    require(dp >= 0 && dp <= 7, "dp in [0, 7]")
    val t = df.filter(a.isNotNull && b.isNotNull)
      .select(round(a.cast("double"), dp).as("__a"),
        round(b.cast("double"), dp).as("__b"))
    def rankMap(vCol: String): DataFrame =
      t.groupBy(vCol).agg(count(lit(1)).as("__cnt"))
        .withColumn("__cum", cumBefore("__cnt", vCol))
        .select(col(vCol), midRank2(col("__cum"), col("__cnt")).as(s"__r$vCol"))
    val ranked = t
      .join(rankMap("__a"), Seq("__a"))
      .join(rankMap("__b"), Seq("__b"))
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(b19(col("__r__a"))).as("__sa"),
      sum(b19(col("__r__b"))).as("__sb"),
      sum(b19(col("__r__a")) * b19(col("__r__a"))).as("__saa"),
      sum(b19(col("__r__b")) * b19(col("__r__b"))).as("__sbb"),
      sum(b19(col("__r__a")) * b19(col("__r__b"))).as("__sab"))
    val n = col("n").cast("double")
    def d(c: Column): Column = c.cast("double")
    val cov = n * d(col("__sab")) - d(col("__sa")) * d(col("__sb"))
    val varA = n * d(col("__saa")) - d(col("__sa")) * d(col("__sa"))
    val varB = n * d(col("__sbb")) - d(col("__sb")) * d(col("__sb"))
    m.select(col("n"),
      when(col("n") < 2 || varA <= 0.0 || varB <= 0.0, lit(0.0))
        .otherwise(Num.t4zero(cov / sqrt(varA * varB))).as("rho"),
      (col("n") < 2 || varA <= 0.0 || varB <= 0.0).as("degenerate"))
  }

  /** Strict inversions of `v` (# pairs i<j with v(i) > v(j)) by
    * iterative bottom-up merge sort — the O(n log n) pair counter
    * shared by [[kendallTau]] and [[mannKendall]] (Knight '66). Equal
    * elements merge left-first and count nothing. Mutates `v` (sorted
    * ascending on return).
    */
  private def countInversions(v: Array[Double]): Long = {
    val n = v.length
    if (n < 2) return 0L
    val buf = new Array[Double](n)
    var inv = 0L
    var width = 1
    var src = v
    var dst = buf
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          // right strictly smaller: everything left of i..mid is bigger
          if (src(j) < src(i)) { inv += mid - i; dst(k) = src(j); j += 1 }
          else { dst(k) = src(i); i += 1 }
          k += 1
        }
        while (i < mid) { dst(k) = src(i); i += 1; k += 1 }
        while (j < hi) { dst(k) = src(j); j += 1; k += 1 }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    if (!(src eq v)) System.arraycopy(src, 0, v, 0, n)
    inv
  }

  /** Σ t·(t−1)/2 over runs of equal values in a SORTED array — the
    * tied-pair count n1/n2/n3 of Knight's formula.
    */
  private def tiedPairs(sorted: Array[Double]): Long = {
    var total = 0L; var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      val t = (j - i).toLong
      total += t * (t - 1) / 2
      i = j
    }
    total
  }

  /** Per-key Kendall pair statistics in O(n log n) — the kernel under
    * [[kendallTau]] and [[mannKendall]]'s S. Input: (key, __x, __y)
    * rows; per key, over all pairs i<j in (__x, __y) sort order:
    *
    *   S = #concordant − #discordant
    *     = n0 − n1 − n2 + n3 − 2·D          (Knight '66)
    *
    * with n0 = n(n−1)/2 total pairs, n1/n2/n3 = pairs tied in x / y /
    * both, and D = strict inversions of the y-sequence in (x asc,
    * y asc) order — counted by merge sort, never a pair join (r11's
    * key-local pair join was honest-but-quadratic, ~700-bucket
    * horizon; this kernel holds one key's series in memory instead,
    * the ewmaChart repartition+scan class, linear in series length).
    * Pairs tied in x contribute 0 — exactly the a.__x < b.__x strict
    * pair-join semantics this replaced. Returns
    * (key, n, s, n_pairs, tie_x, tie_y) — everything exact integers.
    * `senGuard` > 0 throws on any key with n > senGuard (the caller
    * is about to build the QUADRATIC pairwise-slope frame for Sen's
    * slope; fail loudly here instead of slowly there).
    */
  private def kendallStatsPerKey(t: DataFrame, senGuard: Long = 0L): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_pairs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tie_x",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tie_y",
        org.apache.spark.sql.types.LongType)))
    t.repartition(col("key")).sortWithinPartitions("key", "__x", "__y")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[org.apache.spark.sql.Row] {
          def hasNext: Boolean = it.hasNext
          def next(): org.apache.spark.sql.Row = {
            val key = it.head.getString(0)
            val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
            val ys = scala.collection.mutable.ArrayBuffer.empty[Double]
            while (it.hasNext && it.head.getString(0) == key) {
              val r = it.next()
              xs += r.getDouble(1); ys += r.getDouble(2)
            }
            val n = xs.length.toLong
            if (senGuard > 0 && n > senGuard)
              throw new IllegalArgumentException(
                s"Sen's slope builds the QUADRATIC pairwise-slope frame: key '$key' has " +
                s"n=$n > senMaxN=$senGuard (${n * (n - 1) / 2} pairs). Raise senMaxN " +
                "deliberately or pass computeSen=false (S/z stay O(n log n)).")
            val n0 = n * (n - 1) / 2
            val xa = xs.toArray // already (x, y)-sorted within key
            val ya = ys.toArray
            // n3 BEFORE mutation: runs of equal (x, y) in the sorted order
            var n3 = 0L; var i = 0
            while (i < xa.length) {
              var j = i + 1
              while (j < xa.length && xa(j) == xa(i) && ya(j) == ya(i)) j += 1
              val tt = (j - i).toLong
              n3 += tt * (tt - 1) / 2
              i = j
            }
            val n1 = tiedPairs(xa) // x already sorted ascending
            val d = countInversions(ya) // mutates ya to sorted
            val n2 = tiedPairs(ya)
            val s = n0 - n1 - n2 + n3 - 2 * d
            org.apache.spark.sql.Row(key, n, s, n0, n1, n2)
          }
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** C96: Kendall's τ-b rank correlation per key — the pair-based
    * sibling of [[spearman]] (Spearman correlates RANKS and reads
    * monotone strength; τ-b counts concordant vs discordant PAIRS, is
    * robust to the same outliers, and its tie correction keeps heavily
    * discretized columns honest):
    *
    *   τ_b = S / sqrt((n0 − n1)(n0 − n2))
    *
    * everything from [[kendallStatsPerKey]]'s exact integers, ONE
    * double derivation at the end (sqrt/divide are IEEE-identical on
    * any engine), 4-dp toward zero. Degenerate keys (n < 2 or a
    * constant side) report 0 + flag. NULL/NaN rows are excluded.
    * Shape at scale: O(n log n) per key, one repartition — never a
    * pair join.
    */
  def kendallTau(df: DataFrame, key: Column, x: Column, y: Column): DataFrame = {
    val t = df.select(key.cast("string").as("key"),
        x.cast("double").as("__x"), y.cast("double").as("__y"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__y").isNotNull
        && !isnan(col("__x")) && !isnan(col("__y")))
    val stats = kendallStatsPerKey(t)
    val varX = (col("n_pairs") - col("tie_x")).cast("double")
    val varY = (col("n_pairs") - col("tie_y")).cast("double")
    val degenerate = col("n") < 2 || varX <= 0.0 || varY <= 0.0
    stats.select(col("key"), col("n"), col("s"),
      when(degenerate, lit(0.0))
        .otherwise(Num.t4zero(col("s").cast("double") / sqrt(varX * varY))).as("tau_b"),
      degenerate.as("degenerate"))
  }

  /** C105: Jonckheere-Terpstra ordered-alternative test — "does the
    * VALUE tend upward across ORDERED groups" per key, completing the
    * ordered-exposure pair with [[cochranArmitage]] (that one reads a
    * RATE trend; this reads a continuous metric, the k-group question
    * C83's Kruskal-Wallis wastes the ordering on). The statistic is
    * Kendall\'s S between the group ORDINAL and the value (within-group
    * pairs tie on x and count nothing — exactly the J-T cross-group
    * pair count, in S form), computed by [[kendallStatsPerKey]]\'s
    * O(n log n) merge-count, with the CLASSIC fully tie-corrected
    * variance (Kendall \'70):
    *
    *   Var(S) = [N(N−1)(2N+5) − Σtₓ(tₓ−1)(2tₓ+5) − Σt_y(t_y−1)(2t_y+5)]/18
    *          + [Σtₓ(tₓ−1)(tₓ−2)]·[Σt_y(t_y−1)(t_y−2)] / (9N(N−1)(N−2))
    *          + [Σtₓ(tₓ−1)]·[Σt_y(t_y−1)] / (2N(N−1))
    *
    * (tₓ = group sizes, t_y = value-tie sizes). Every tie moment is
    * an exact long from two partial-agg passes; the three variance
    * terms derive in double in a fixed textual order (the middle
    * term\'s sum-product would overflow integer lanes — doubles of
    * exact integers are IEEE-identical on any engine), z = S/√Var
    * 4-dp toward zero, |z| > 1.96 gate. Keys with n < 2 or
    * non-positive variance (all one group, or a constant metric)
    * report 0 + `degenerate`. Returns (key, n, s, z, significant,
    * degenerate).
    */
  def jonckheereTerpstra(df: DataFrame, key: Column, orderedGroup: Column,
      value: Column): DataFrame = {
    val t = df.select(key.cast("string").as("key"),
        orderedGroup.cast("double").as("__x"), value.cast("double").as("__y"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__y").isNotNull)
      .localCheckpoint()
    val stats = kendallStatsPerKey(t)
    def tieMoments(c: String, tag: String): DataFrame =
      t.groupBy(col("key"), col(c)).agg(count(lit(1)).as("__t"))
        .groupBy("key").agg(
          sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as(s"__${tag}25"),
          sum(col("__t") * (col("__t") - 1) * (col("__t") - 2)).as(s"__${tag}12"),
          sum(col("__t") * (col("__t") - 1)).as(s"__${tag}1"))
    val tx = tieMoments("__x", "x")
    val ty = tieMoments("__y", "y")
    def d(c: Column): Column = c.cast("double")
    val nd = d(col("n"))
    val term1 = (nd * (nd - 1.0) * (nd * 2.0 + 5.0)
      - d(coalesce(col("__x25"), lit(0L))) - d(coalesce(col("__y25"), lit(0L)))) / 18.0
    // try_divide + coalesce, not a when(n < 3) branch: codegen CSE
    // evaluates every term even on short keys, so a singleton key
    // would ANSI-throw in term3's 2n(n−1) = 0 denominator (caught by
    // the r12 pre-close edge audit); a NULL term is exactly a
    // vanishing one (its tie-moment numerator is 0 whenever the
    // denominator is)
    val term2 = try_divide(
      d(coalesce(col("__x12"), lit(0L))) * d(coalesce(col("__y12"), lit(0L))),
      lit(9.0) * nd * (nd - 1.0) * (nd - 2.0))
    val term3 = try_divide(
      d(coalesce(col("__x1"), lit(0L))) * d(coalesce(col("__y1"), lit(0L))),
      lit(2.0) * nd * (nd - 1.0))
    val varS = term1 + coalesce(term2, lit(0.0)) + coalesce(term3, lit(0.0))
    val degenerate = col("n") < 2 || varS <= 0.0
    val z = when(degenerate, lit(0.0)).otherwise(Num.t4zero(d(col("s")) / sqrt(varS)))
    stats.join(tx, Seq("key"), "left").join(ty, Seq("key"), "left")
      .select(col("key"), col("n"), col("s"), z.as("z"),
        (!degenerate && abs(z) > 1.96).as("significant"),
        degenerate.as("degenerate"))
  }

  /** C104: partial Pearson correlation r_xy·z — "are x and y related
    * BEYOND what z explains" (the confounder question a plain C39
    * correlation matrix can\'t answer: price correlates with quantity,
    * but is that just both riding discount?):
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1−r_xz²)(1−r_yz²))
    *
    * ONE conditional-moments pass (9 sums on exact decimal lanes —
    * the spearman reduction), the three pairwise r\'s and the partial
    * derive in double in a fixed textual order from those exact sums
    * (IEEE-identical on any engine), 4-dp toward zero on REPORT only
    * (the partial uses the raw r\'s). Degenerate inputs (n < 3, a
    * zero-variance column, or |r_xz| = 1 / |r_yz| = 1 making the
    * denominator vanish) report 0 + flag. Returns ONE row:
    * (n, r_xy, r_xz, r_yz, partial_r, degenerate).
    */
  def partialCorrelation(df: DataFrame, x: Column, y: Column,
      z: Column): DataFrame = {
    def dec(c: Column): Column = Num.dec(c)
    val m = df.filter(x.isNotNull && y.isNotNull && z.isNotNull)
      .select(dec(x.cast("double")).as("__x"), dec(y.cast("double")).as("__y"),
        dec(z.cast("double")).as("__z"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__z")).as("__sz"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__z") * col("__z")).as("__szz"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__z")).as("__sxz"),
        sum(col("__y") * col("__z")).as("__syz"))
    def d(c: String): Column = col(c).cast("double")
    val nd = col("n").cast("double")
    def cov(sab: String, sa: String, sb: String): Column =
      nd * d(sab) - d(sa) * d(sb)
    def varOf(saa: String, sa: String): Column = nd * d(saa) - d(sa) * d(sa)
    val vx = varOf("__sxx", "__sx")
    val vy = varOf("__syy", "__sy")
    val vz = varOf("__szz", "__sz")
    // try_divide, not `/`: the degenerate CONDITION itself reads
    // `denom`, which contains the r's — a zero-variance column would
    // ANSI-throw while EVALUATING the guard meant to catch it. NULL
    // r's only occur when a variance clause already fires, so the
    // coalesce(denom, 0) keeps the verdict correct.
    val rxy = try_divide(cov("__sxy", "__sx", "__sy"), sqrt(vx * vy))
    val rxz = try_divide(cov("__sxz", "__sx", "__sz"), sqrt(vx * vz))
    val ryz = try_divide(cov("__syz", "__sy", "__sz"), sqrt(vy * vz))
    val denom = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    val degenerate = col("n") < 3 || vx <= 0.0 || vy <= 0.0 || vz <= 0.0 ||
      coalesce(denom, lit(0.0)) <= 0.0
    def rep(c: Column): Column =
      when(degenerate, lit(0.0)).otherwise(Num.t4zero(c))
    m.select(col("n"), rep(rxy).as("r_xy"), rep(rxz).as("r_xz"),
      rep(ryz).as("r_yz"),
      rep(try_divide(rxy - rxz * ryz, sqrt(denom))).as("partial_r"),
      degenerate.as("degenerate"))
  }

  /** C65: sample autocorrelation function per key — the "what period
    * does this series actually have" probe BEFORE committing a
    * [[seasonalDecompose]] period or reading a [[levelShift]] window:
    * r_l = Σ c_t·c_{t+l} / Σ c_t² over mean-centered values, lags
    * 1..maxLag. Input contract: ONE row per (key, bucket) on a DENSE
    * grid ([[Resample.dense]]'s output — lag is ROW-based, so a hole
    * would silently misalign every lag past it; same contract as
    * seasonalDecompose).
    *
    * Determinism: centered values quantize ONCE to 6-dp decimals
    * (the levelShift/rollingZ reduction), every product and sum after
    * that is exact integer-decimal arithmetic — the quantization
    * units cancel in the ratio; ONE key-partitioned ordered window
    * carries all maxLag lag columns, one explode stacks them to
    * (key, lag) rows, one partial-agg groupBy sums. 4-dp toward-zero
    * (autocorrelation is signed). Flat series (zero variance) report
    * 0 + `degenerate`.
    */
  def autocorrelation(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      maxLag: Int = 24): DataFrame = {
    require(maxLag >= 1 && maxLag <= 200, "maxLag in [1, 200]")
    val t = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val c = demeanedMicro(t, "__v" -> "__c6")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bucket")
    // window lags as plain columns FIRST — a window expression inside
    // the explode generator is rejected by the planner
    val lagged = (1 to maxLag).foldLeft(c) { (acc, l) =>
      acc.withColumn(s"__p$l",
        (col("__c6") * lag(col("__c6"), l).over(w)).cast("decimal(38,0)"))
    }
    val lagStructs = (1 to maxLag).map { l =>
      struct(lit(l).as("lag"), col(s"__p$l").as("prod"))
    }
    val den = c.groupBy("key").agg(
      sum((col("__c6") * col("__c6")).cast("decimal(38,0)")).as("__den"))
    lagged.select(col("key"), explode(array(lagStructs: _*)).as("r"))
      .select(col("key"), col("r.lag").as("lag"), col("r.prod").as("__p"))
      .groupBy("key", "lag")
      .agg(count(col("__p")).as("n_pairs"),
        coalesce(sum(col("__p")), lit(0L).cast("decimal(38,0)")).as("__num"))
      .join(den, Seq("key"))
      .select(col("key"), col("lag"), col("n_pairs"),
        when(col("__den").cast("double") <= 0.0, lit(0.0))
          .otherwise(Num.t4zero(
            col("__num").cast("double") / col("__den").cast("double")))
          .as("acf"),
        (col("__den").cast("double") <= 0.0).as("degenerate"))
  }

  /** C66: cross-correlation between two series per key — "does the
    * error rate LEAD the latency" as numbers: r_l = Σ cx_t·cy_{t+l} /
    * √(Σcx²·Σcy²) for l ∈ [−maxLag, maxLag]; a peak at POSITIVE l
    * means y follows x by l buckets (x leads). [[autocorrelation]]'s
    * machinery verbatim — same dense-grid row-lag contract, same
    * once-quantized 6-dp decimals with exact products (units cancel),
    * lead/lag columns materialized before the explode, one partial-agg
    * groupBy; either side flat → 0 + `degenerate`.
    */
  def crossCorrelation(
      df: DataFrame,
      key: Column,
      bucket: Column,
      x: Column,
      y: Column,
      maxLag: Int = 12): DataFrame = {
    require(maxLag >= 1 && maxLag <= 200, "maxLag in [1, 200]")
    val t = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        x.cast("double").as("__x"), y.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val c = demeanedMicro(t, "__x" -> "__cx6", "__y" -> "__cy6")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bucket")
    val lags = (-maxLag to maxLag)
    val lagged = lags.foldLeft(c) { (acc, l) =>
      acc.withColumn(s"__p$l",
        (col("__cx6") * lag(col("__cy6"), -l).over(w)).cast("decimal(38,0)"))
    }
    val lagStructs = lags.map { l =>
      struct(lit(l).as("lag"), col(s"__p$l").as("prod"))
    }
    val den = c.groupBy("key").agg(
      sum((col("__cx6") * col("__cx6")).cast("decimal(38,0)")).as("__dx"),
      sum((col("__cy6") * col("__cy6")).cast("decimal(38,0)")).as("__dy"))
    lagged.select(col("key"), explode(array(lagStructs: _*)).as("r"))
      .select(col("key"), col("r.lag").as("lag"), col("r.prod").as("__p"))
      .groupBy("key", "lag")
      .agg(count(col("__p")).as("n_pairs"),
        coalesce(sum(col("__p")), lit(0L).cast("decimal(38,0)")).as("__num"))
      .join(den, Seq("key"))
      .select(col("key"), col("lag"), col("n_pairs"),
        when(col("__dx").cast("double") <= 0.0 ||
            col("__dy").cast("double") <= 0.0, lit(0.0))
          .otherwise(Num.t4zero(col("__num").cast("double") /
            sqrt(col("__dx").cast("double") * col("__dy").cast("double"))))
          .as("xcorr"),
        (col("__dx").cast("double") <= 0.0 ||
          col("__dy").cast("double") <= 0.0).as("degenerate"))
  }

  /** C64: Mann-Whitney U test (tie-corrected normal approximation) —
    * the nonparametric "is group A's metric stochastically larger"
    * verdict on top of [[auc]]'s machinery (U = AUC·n_a·n_b with ties
    * half-credited; the two are the same statistic in different
    * clothes, and this form reports the TEST — U, z, verdict — where
    * auc reports the ranking quality number). Same bounded value
    * frame; 2U accumulates in exact decimal lanes (integral —
    * half-credits never touch a double), the tie correction
    * Σ(t³−t) in decimal(38) lanes from the same frame, ONE double
    * derivation: z = (U − n_a·n_b/2) / sqrt(n_a·n_b/12·((n+1) −
    * Σ(t³−t)/(n(n−1)))), 4-dp toward-zero (sign carries direction),
    * `significant` at |z| > 1.96. Empty sides or an all-tied corpus
    * (variance 0) report z = 0 + `degenerate`.
    */
  def mannWhitney(
      df: DataFrame,
      value: Column,
      inGroupA: Column,
      dp: Int = 6): DataFrame = {
    val a = inGroupA.cast("boolean")
    val g = quantizedSides(df.filter(value.isNotNull && inGroupA.isNotNull), value, dp, a, !a)
    val t = col("__na") + col("__nb")
    val contrib = withCumB(g).select(twiceU.as("__u2"),
        (b13(t) * b13(t) * b13(t) - b13(t)).cast("decimal(38,0)").as("__tc"),
        col("__na"), col("__nb"))
    val m = contrib.agg(
      coalesce(sum(col("__u2")), lit(0L).cast("decimal(38,0)")).as("__u2"),
      coalesce(sum(col("__tc")), lit(0L).cast("decimal(38,0)")).as("__tc"),
      coalesce(sum(col("__na")), lit(0L)).as("__na"),
      coalesce(sum(col("__nb")), lit(0L)).as("__nb"))
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val n = na + nb
    val u = col("__u2").cast("double") / 2.0
    // try_divide BY CONSTRUCTION: varU sits in the degenerate guard, so
    // it evaluates on an empty or one-row input, where n(n−1) = 0
    val varU = na * nb / 12.0 *
      ((n + 1.0) - try_divide(col("__tc").cast("double"), n * (n - 1.0)))
    val degenerate = col("__na") === 0 || col("__nb") === 0 || varU <= 0.0
    val z = when(degenerate, lit(0.0))
      .otherwise(Num.t4zero((u - na * nb / 2.0) / sqrt(varU)))
    m.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      u.as("u"), z.as("z"),
      (!degenerate && abs(z) > 1.96).as("significant"),
      degenerate.as("degenerate"))
  }

  /** Two-sample Kolmogorov-Smirnov test — "did this month's score
    * distribution shift?" as a single supremum statistic, the
    * distribution-free companion to [[Profile.psi]]'s binned drift
    * report. D = max over x of |F_a(x) − F_b(x)|.
    *
    * Same bounded-ordered-pass shape as [[auc]]: values quantize to
    * `dp` decimals, one partial-aggregated groupBy(value) collapses
    * both samples into one ≤ 10^dp-row frame (per-side counts as
    * conditional sums), and the cumulative window runs over that
    * frame. The supremum compares EXACT INTEGER numerators
    * (|cumA·NB − cumB·NA| in decimal lanes — products overflow long
    * at corpus scale), so the argmax is engine-independent; the one
    * division at the end truncates 6 dp. `significant` applies the
    * large-sample 5% rejection bound D > 1.358·sqrt((NA+NB)/(NA·NB)).
    * Null values are excluded; an empty side yields D = 0,
    * significant = false.
    *
    * Returns ONE row: (n_a, n_b, d, d_crit, significant).
    */
  def ksTest(
      df: DataFrame,
      group: Column,
      value: Column,
      groupA: String,
      groupB: String,
      dp: Int = 4): DataFrame = {
    val (cum, tot) = ecdf(quantizedSides(
      df.filter(value.isNotNull && (group === groupA || group === groupB)),
      value, dp, group === groupA, group === groupB))
    // the numerator needs both totals, which the per-row frame doesn't
    // have yet — broadcast the 1-row totals back onto the bounded frame
    val supNum = cum.crossJoin(broadcast(tot)).agg(max(ecdfGap).as("__sup"))
    val ta = col("__ta").cast("double")
    val tb = col("__tb").cast("double")
    val degenerate = col("__ta") === 0 || col("__tb") === 0 || col("__sup").isNull
    val one = tot.crossJoin(supNum).select(
      col("__ta").as("n_a"), col("__tb").as("n_b"),
      when(degenerate, 0.0)
        .otherwise(floor(col("__sup").cast("double") / (ta * tb) * 1e6) / 1e6)
        .as("d"),
      when(degenerate, 0.0)
        .otherwise(floor(lit(1.358) * sqrt((ta + tb) / (ta * tb)) * 1e6) / 1e6)
        .as("d_crit"))
    one.select(col("n_a"), col("n_b"), col("d"), col("d_crit"),
      (col("d") > col("d_crit") && col("d_crit") > 0).as("significant"))
  }

  /** Chi-squared test of independence between two categorical columns
    * — "does language depend on source?" for a corpus dashboard, or
    * any contingency check before stratifying a sample on two keys.
    *
    * One partial-aggregated groupBy(a, b) collapses the corpus to the
    * ≤ r·c-cell contingency frame; margins come from windows OVER THAT
    * BOUNDED FRAME (never the corpus). Expected counts derive in
    * double with a fixed operation order (rowTot·colTot then /N — the
    * oracle replays it textually); each cell's (obs−exp)²/exp
    * truncates at 7 dp into an exact decimal so the final sum is
    * order-independent. Null categories count as real levels (they
    * ARE a level operationally — the null-safe groupBy keeps them).
    *
    * Returns ONE row: (n, n_cells, dof, chi2, cramers_v) — chi2 and
    * Cramér's V truncated 4 dp; dof = (r−1)(c−1); a degenerate table
    * (single row or column level) yields chi2 = 0, v = 0.
    */
  def chiSquared(df: DataFrame, a: Column, b: Column): DataFrame = {
    val m = contingency(df, a, b) { exp =>
      val term = (col("__n").cast("double") - exp) * (col("__n").cast("double") - exp) / exp
      (floor(term * 1e7) / 1e7).cast("decimal(20,7)")
    }
    val degenerate = contingencyDof === 0 || col("__s").isNull
    val mink = least(col("__r") - 1, col("__c") - 1).cast("double")
    m.select(
      col("__tot").as("n"),
      col("n_cells").as("n_cells"),
      contingencyDof.as("dof"),
      when(degenerate, 0.0)
        .otherwise(floor(col("__s").cast("double") * 1e4) / 1e4).as("chi2"),
      when(degenerate, 0.0)
        .otherwise(floor(
          sqrt(col("__s").cast("double") / (col("__tot").cast("double") * mink)) * 1e4)
          / 1e4).as("cramers_v"))
  }

  /** C106: Wald-Wolfowitz runs test — "is this binary sequence
    * RANDOM, or does it clump/alternate" per key, the sequence-level
    * diagnostic the volume charts don\'t give (C47 flags level
    * anomalies, C65 reads periodicity; this reads serial DEPENDENCE
    * of a yes/no lane — busy-hour stickiness, flaky-pass streaks):
    *
    *   R = #runs,  μ = 2n₁n₀/n + 1,
    *   σ² = 2n₁n₀(2n₁n₀ − n) / (n²(n−1)),  z = (R − μ)/σ
    *
    * z < 0 = clumping (fewer runs than chance), z > 0 = alternation.
    * One keyed lag window counts boundaries (R = boundaries + 1), one
    * partial-agg collapses to exact integer moments; μ/σ²/z are ONE
    * fixed-order double derivation each (2n₁n₀·(2n₁n₀−n) would
    * overflow long lanes at corpus n — doubles of exact longs are
    * IEEE-identical), 4-dp toward zero, |z| > 1.96 gate. One-sided
    * keys (all true / all false) or n < 2 report 0 + `degenerate`.
    * Input contract: one row per (key, order). Returns
    * (key, n, n_true, runs, z, significant, degenerate).
    */
  def runsTest(df: DataFrame, key: Column, order: Column,
      flag: Column): DataFrame = {
    val b = flag.cast("boolean")
    val t = df.select(key.cast("string").as("key"), order.cast("long").as("__x"),
        b.as("__b"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__b").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("__x")
    val marked = t.withColumn("__new",
      when(lag(col("__b"), 1).over(w).isNull
        || lag(col("__b"), 1).over(w) =!= col("__b"), 1L).otherwise(0L))
    val m = marked.groupBy("key").agg(
      count(lit(1)).as("n"),
      sum(when(col("__b"), 1L).otherwise(0L)).as("n_true"),
      sum(col("__new")).as("runs"))
    def d(c: Column): Column = c.cast("double")
    val n1 = d(col("n_true"))
    val n0 = d(col("n") - col("n_true"))
    val nd = d(col("n"))
    val two = lit(2.0) * n1 * n0
    // try_divide: the guard reads σ² (the r12 CSE lesson — n = 1 keys
    // zero the n−1 denominator inside the guard itself)
    val mu = try_divide(two, nd) + 1.0
    val varR = try_divide(two * (two - nd), nd * nd * (nd - 1.0))
    val degenerate = col("n") < 2 || col("n_true") === 0 ||
      col("n_true") === col("n") || coalesce(varR, lit(0.0)) <= 0.0
    val z = when(degenerate, lit(0.0))
      .otherwise(Num.t4zero((d(col("runs")) - mu) / sqrt(varR)))
    m.select(col("key"), col("n"), col("n_true"), col("runs"), z.as("z"),
      (!degenerate && abs(z) > 1.96).as("significant"),
      degenerate.as("degenerate"))
  }

  /** C103: Cochran-Armitage trend test — "does the success RATE trend
    * with an ORDERED exposure?" ([[chiSquared]] asks independence and
    * wastes the ordering; a dose-response / funnel-depth / line-number
    * question needs the one-degree-of-freedom trend lane):
    *
    *   T = Σ wᵢrᵢ,  z = (T − p̄·Σwᵢnᵢ) / sqrt(p̄(1−p̄)(Σwᵢ²nᵢ − (Σwᵢnᵢ)²/N))
    *
    * with wᵢ the group's own ordinal weight (the caller's order
    * column — integer scores, the standard choice), rᵢ/nᵢ the group's
    * successes/size. One partial-aggregated groupBy(w) collapses the
    * corpus to the ≤k-row group frame; every moment (T, Σwn, Σw²n, N,
    * R) is an exact long, the z ONE double derivation in a fixed
    * textual order, 4-dp toward zero, `significant` at |z| > 1.96.
    * All-success, all-failure, or zero-variance-weight inputs report
    * z = 0 + `degenerate`. Returns (n, n_groups, successes, z,
    * significant, degenerate).
    */
  def cochranArmitage(df: DataFrame, orderedGroup: Column,
      success: Column): DataFrame = {
    val s = success.cast("boolean")
    val g = df.filter(orderedGroup.isNotNull && s.isNotNull)
      .groupBy(orderedGroup.cast("long").as("__w"))
      .agg(count(lit(1)).as("__n"),
        sum(when(s, 1L).otherwise(0L)).as("__r"))
    val m = g.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__N"),
      count(lit(1)).as("__k"),
      coalesce(sum(col("__r")), lit(0L)).as("__R"),
      coalesce(sum(col("__w") * col("__r")), lit(0L)).as("__T"),
      coalesce(sum(col("__w") * col("__n")), lit(0L)).as("__W1"),
      coalesce(sum(col("__w") * col("__w") * col("__n")), lit(0L)).as("__W2"))
    def d(c: Column): Column = c.cast("double")
    // try_divide: codegen CSE evaluates these even on the degenerate
    // branch — an EMPTY input would ANSI-throw inside the guard
    val pbar = try_divide(d(col("__R")), d(col("__N")))
    val num = d(col("__T")) - pbar * d(col("__W1"))
    val varT = pbar * (lit(1.0) - pbar) *
      (d(col("__W2")) - try_divide(d(col("__W1")) * d(col("__W1")), d(col("__N"))))
    val degenerate = col("__N") === 0 || col("__R") === 0 ||
      col("__R") === col("__N") || coalesce(varT, lit(0.0)) <= 0.0
    val z = when(degenerate, lit(0.0)).otherwise(Num.t4zero(num / sqrt(varT)))
    m.select(col("__N").as("n"), col("__k").as("n_groups"),
      col("__R").as("successes"), z.as("z"),
      (!degenerate && abs(z) > 1.96).as("significant"),
      degenerate.as("degenerate"))
  }

  /** One-way ANOVA across k groups — "does mean value differ by
    * source/arm/segment?" generalizing [[twoSampleZ]]'s two-group
    * readout: the between/within variance decomposition, F statistic,
    * and the η² effect size (share of variance the grouping explains
    * — the magnitude a dashboard consumes; the [[chiSquared]]
    * convention: statistic + effect size, no fragile p lane —
    * an F p-value needs the incomplete beta, which is not
    * bit-contracted across engines).
    *
    * Shape at scale: one partial-aggregated moments pass to a ≤
    * k-row frame (per group: n, Σx, Σx² on exact decimal lanes), the
    * per-group S²/n term derived in double with a fixed operation
    * order and truncated 7 dp into an exact decimal before the
    * order-independent group sum (the mutualInformation discipline),
    * three double ops at the end. NULL values and NULL groups are
    * excluded (a NULL measurement is unmeasured, not zero — the
    * calibration contract). Degenerate designs (k < 2, N ≤ k, or a
    * zero within-variance) report f = 0 with `degenerate` = true.
    *
    * Returns ONE row: (n, k, ss_between, ss_within, f, eta_sq,
    * degenerate) — sums of squares 4-dp floored, f/η² 4-dp floored.
    */
  def anovaOneWay(df: DataFrame, group: Column, value: Column): DataFrame = {
    def dec(c: Column): Column = Num.dec(c)
    val per = df.filter(value.isNotNull && group.isNotNull)
      .groupBy(group.as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(dec(value)).as("__s"),
        sum((dec(value) * dec(value)).cast("decimal(38,12)")).as("__q"))
    // Σ_g S_g²/n_g: double per group (exact-decimal S cast once,
    // squared, divided — fixed order), truncated 7 dp into a decimal
    // so the cross-group sum is order-independent
    val w7 = (floor(col("__s").cast("double") * col("__s").cast("double")
      / col("__n") * 1e7) / 1e7).cast("decimal(30,7)")
    val m = per.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__nn"),
      count(lit(1)).as("__k"),
      sum(col("__s")).as("__ts"),
      sum(col("__q")).as("__tq"),
      sum(w7).as("__w"))
    val nn = col("__nn").cast("double")
    val ssw = greatest(lit(0.0),
      col("__tq").cast("double") - col("__w").cast("double"))
    val ssb = greatest(lit(0.0),
      col("__w").cast("double")
        - col("__ts").cast("double") * col("__ts").cast("double") / nn)
    val degenerate = col("__k") < 2 || col("__nn") <= col("__k") || ssw === 0.0
    val f = when(degenerate, lit(0.0))
      .otherwise(Num.t4floor((ssb / (col("__k") - 1).cast("double"))
        / (ssw / (col("__nn") - col("__k")).cast("double"))))
    m.select(
      col("__nn").as("n"), col("__k").as("k"),
      when(col("__nn") > 0, Num.t4floor(ssb)).otherwise(0.0).as("ss_between"),
      when(col("__nn") > 0, Num.t4floor(ssw)).otherwise(0.0).as("ss_within"),
      f.as("f"),
      when(ssb + ssw > 0, Num.t4floor(ssb / (ssb + ssw)))
        .otherwise(0.0).as("eta_sq"),
      degenerate.as("degenerate"))
  }

  /** Brown-Forsythe robust variance-equality test — [[anovaOneWay]]'s
    * companion question: not "do the MEANS differ" but "do the
    * SPREADS differ" (heteroscedasticity breaks the pooled-variance
    * assumption behind ANOVA and many samplers). The Levene family
    * with the MEDIAN center (Brown & Forsythe '74 — robust to the
    * heavy tails real metric distributions have): W = the one-way
    * ANOVA F applied to z_ij = |x_ij − median_j|, so the whole
    * statistic reuses [[anovaOneWay]] verbatim and inherits its
    * output row and degenerate contract.
    *
    * Determinism: per-group medians are TYPE-1 order statistics
    * (x_⌈n/2⌉ via [[quantileCI]] — a rank picks the same data value
    * on any engine); each z truncates 6 dp toward zero (non-negative,
    * so a plain floor) into the exact decimal lanes. Shape at scale:
    * the quantileCI rank pass (per-group keyed window — the exact
    * order-statistic cost class, C80), one broadcast join of the
    * ≤ k-row median frame, then the one-pass ANOVA moments.
    */
  def brownForsythe(df: DataFrame, group: Column, value: Column): DataFrame = {
    val t = df.select(group.cast("string").as("__g"),
        value.cast("double").as("__x"))
      .where(col("__g").isNotNull && col("__x").isNotNull)
    val med = quantileCI(t, col("__g"), col("__x"))
      .select(col("grp").as("__g"), col("point").cast("double").as("__med"))
    val z = t.join(broadcast(med), Seq("__g"))
      .select(col("__g"),
        (floor(abs(col("__x") - col("__med")) * 1e6) / 1e6).as("__z"))
    anovaOneWay(z, col("__g"), col("__z"))
  }

  /** ONE exact-decimal moments pass shared by the k-group suite
    * (welchAnova / tukeyHsd / gamesHowell — one copy of the lanes, so
    * a determinism fix can never silently desynchronize a sibling):
    * per group (n, Σx, Σx², min, max) with NULL groups/values
    * excluded. `__const` is the EXACT zero-variance flag (min == max
    * on the 6-dp decimal lanes) — the s² lane truncates 7 dp and can
    * leave a ~1e-7 residue on constant non-dyadic values (three 0.1s
    * give s² ≈ 5e-8, an effectively infinite precision weight), so
    * zero variance must be decided by comparison, never by the lane.
    */
  private def kGroupMoments(df: DataFrame, group: Column, value: Column): DataFrame = {
    def dec(c: Column): Column = Num.dec(c)
    df.filter(value.isNotNull && group.isNotNull)
      .groupBy(group.cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(dec(value)).as("__s"),
        sum((dec(value) * dec(value)).cast("decimal(38,12)")).as("__q"),
        (min(dec(value)) === max(dec(value))).as("__const"))
  }

  /** 7-dp toward-zero truncation into an exact decimal lane — the
    * cross-group-sum discipline shared by the k-group suite.
    */
  private def t7lane(c: Column): Column =
    (signum(c) * (floor(abs(c) * 1e7) / 1e7) + 0.0).cast("decimal(30,7)")

  /** Welch's heteroscedastic one-way ANOVA (Welch '51) — the
    * unequal-variance OMNIBUS completing the k-group suite:
    * [[anovaOneWay]] assumes a pooled variance (exactly what
    * [[brownForsythe]] tests and real per-source metrics usually
    * fail), Welch's F* weights each group by its own precision
    * w_j = n_j/s_j² instead:
    *
    *   m = Σ w_j x̄_j / W,  W = Σ w_j
    *   A = Σ w_j (x̄_j − m)²,  B = Σ (1 − w_j/W)² / (n_j − 1)
    *   F* = (A/(k−1)) / (1 + 2(k−2)/(k²−1) · B)
    *   dof2 = (k²−1) / (3B)
    *
    * Statistic + both dof, no p lane (the chiSquared convention — F
    * quantiles at fractional dof are not bit-contracted arithmetic).
    *
    * Determinism (the anovaOneWay lanes extended): per-group exact
    * decimal moments; x̄_j, w_j, and the two per-group terms derive
    * in double with fixed operation order and truncate 7 dp into
    * exact decimals BEFORE every cross-group sum, so group order
    * never moves a bit; F-star and dof2 4-dp floored. Degenerate designs
    * (k < 2, any group with n < 2 or zero variance — an infinite
    * weight) report 0 flagged. One partial-aggregated moments pass
    * to a ≤ k-row frame; two 1-row reductions over it.
    */
  def welchAnova(df: DataFrame, group: Column, value: Column): DataFrame = {
    def t7(c: Column): Column = t7lane(c)
    val per = kGroupMoments(df, group, value)
    // per-group lanes: s² via the anova w7 trick, then x̄ and w each
    // 7-dp truncated so every later cross-group sum is exact decimal
    val sd = col("__s").cast("double")
    // n >= 2 guard INSIDE the expression: ANSI mode turns the n-1
    // division into a hard error on singleton groups otherwise
    val s2 = when(col("__n") >= 2, (col("__q").cast("double")
      - floor(sd * sd / col("__n") * 1e7) / 1e7) / (col("__n") - 1))
    // __const, not the s2 lane, decides zero variance — see
    // kGroupMoments: lane residue on constant non-dyadic values would
    // otherwise fake an enormous precision weight, undegenerated
    val bad = col("__n") < 2 || col("__const") || coalesce(s2 <= 0, lit(true))
    val lanes = per.select(col("__g"), col("__n"),
      t7(sd / col("__n")).as("__xb"),
      when(!bad, t7(col("__n") / s2)).as("__w"),
      bad.as("__bad"))
    val tot = lanes.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__nn"),
      count(lit(1)).as("__k"),
      coalesce(max(col("__bad")), lit(false)).as("__anybad"),
      sum(col("__w")).as("__sumw"),
      sum(t7(col("__w").cast("double") * col("__xb").cast("double"))).as("__M1"))
    val m = col("__M1").cast("double") / col("__sumw").cast("double")
    // global agg (not a groupBy) so an EMPTY input still yields the
    // one clean degenerate row, the anovaOneWay contract
    val terms = lanes.crossJoin(broadcast(tot))
      .select(col("__nn"), col("__k"), col("__anybad"),
        t7(col("__w").cast("double")
          * (col("__xb").cast("double") - m) * (col("__xb").cast("double") - m))
          .as("__a"),
        when(col("__n") >= 2,
          t7((lit(1.0) - col("__w").cast("double") / col("__sumw").cast("double"))
            * (lit(1.0) - col("__w").cast("double") / col("__sumw").cast("double"))
            / (col("__n") - 1))).as("__b"))
      .agg(
        coalesce(max(col("__nn")), lit(0L)).as("__nn"),
        coalesce(max(col("__k")), lit(0L)).as("__k"),
        coalesce(max(col("__anybad")), lit(false)).as("__anybad"),
        sum(col("__a")).as("__A"), sum(col("__b")).as("__B"))
    val k = col("__k").cast("double")
    val aD = col("__A").cast("double")
    val bD = col("__B").cast("double")
    val degenerate = col("__k") < 2 || col("__anybad")
    val fw = when(degenerate, lit(0.0)).otherwise(
      Num.t4floor((aD / (k - 1))
        / (lit(1.0) + lit(2.0) * (k - 2) / (k * k - 1) * bD)))
    terms.select(
      col("__nn").as("n"), col("__k").as("k"),
      fw.as("f_welch"),
      (col("__k") - 1).as("dof1"),
      when(degenerate || bD <= 0, lit(0.0))
        .otherwise(Num.t4floor((k * k - 1) / (lit(3.0) * bD))).as("dof2"),
      degenerate.as("degenerate"))
  }

  /** Tukey-Kramer HSD post-hoc pairwise comparisons — the step AFTER
    * [[anovaOneWay]] says "some mean differs": WHICH pairs differ.
    * For every unordered group pair, the mean difference and the
    * studentized-range statistic
    *
    *   q = |m_a − m_b| / sqrt(MSE/2 · (1/n_a + 1/n_b))
    *
    * with MSE = SS_within/(N−k) from the SAME exact-decimal moments
    * pass as the ANOVA (the Tukey-Kramer unequal-n form). Statistic
    * only, no p lane (the chiSquared convention — studentized-range
    * quantiles are table lookups, not bit-contracted arithmetic);
    * compare q against q_{α,k,N−k} downstream.
    *
    * Shape at scale: ONE partial-aggregated moments pass collapses
    * the corpus to a ≤ k-row frame; the pair grid is a k²/2 self-join
    * of that tiny frame with the 1-row MSE attached by cross join —
    * the corpus is never touched again. Determinism: the anovaOneWay
    * lanes (per-group S²/n 7-dp truncated into the order-independent
    * ssw sum), means/diff/q in double with fixed operation order,
    * mean_diff 4-dp toward zero, q 4-dp floored. Degenerate designs
    * (N ≤ k or zero within-variance) report q = 0 flagged.
    */
  def tukeyHsd(df: DataFrame, group: Column, value: Column): DataFrame = {
    val per = kGroupMoments(df, group, value)
    val w7 = (floor(col("__s").cast("double") * col("__s").cast("double")
      / col("__n") * 1e7) / 1e7).cast("decimal(30,7)")
    val tot = per.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__nn"),
      count(lit(1)).as("__k"),
      sum(col("__q")).as("__tq"),
      sum(w7).as("__w"),
      // EXACT all-groups-constant flag: the ssw lane can carry a
      // ~1e-7 truncation residue on constant non-dyadic values (see
      // kGroupMoments), which would otherwise fake a tiny positive
      // MSE and astronomically large q on a zero-variance corpus
      coalesce(min(col("__const").cast("int")) === 1, lit(false))
        .as("__allconst"))
    val ssw = greatest(lit(0.0),
      col("__tq").cast("double") - col("__w").cast("double"))
    val mse = ssw / (col("__nn") - col("__k")).cast("double")
    val degenerate = col("__nn") <= col("__k") || col("__allconst") ||
      ssw === 0.0
    val a = per.select(col("__g").as("grp_a"), col("__n").as("n_a"),
      (col("__s").cast("double") / col("__n")).as("__ma"))
    val b = per.select(col("__g").as("grp_b"), col("__n").as("n_b"),
      (col("__s").cast("double") / col("__n")).as("__mb"))
    val diff = col("__ma") - col("__mb")
    val se = sqrt(mse / lit(2.0) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    a.join(b, col("grp_a") < col("grp_b"))
      .crossJoin(broadcast(tot))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        Num.t4zero(diff).as("mean_diff"),
        when(degenerate, lit(0.0))
          .otherwise(Num.t4floor(abs(diff) / se)).as("q"),
        degenerate.as("degenerate"))
  }

  /** Games-Howell post-hoc pairwise comparisons — [[tukeyHsd]]'s
    * unequal-variance sibling, pairing with [[welchAnova]] exactly as
    * Tukey pairs with [[anovaOneWay]]: no pooled MSE, each pair uses
    * its own two variances,
    *
    *   q = |x̄_a − x̄_b| / sqrt((s²_a/n_a + s²_b/n_b) / 2)
    *   dof = (v_a + v_b)² / (v_a²/(n_a−1) + v_b²/(n_b−1)),  v = s²/n
    *
    * (the Welch-Satterthwaite per-pair dof). Statistic + dof, no p
    * lane (the chiSquared convention). Determinism: per-group x̄ and
    * v each 7-dp truncated into decimals off the one exact-moments
    * pass; pair arithmetic on fixed-order doubles, mean_diff 4-dp
    * toward zero, q/dof 4-dp floored. Pairs touching a singleton or
    * zero-variance group flag degenerate with q = dof = 0. Same
    * shape as tukeyHsd: one corpus pass, then a k²/2 self-join of
    * the ≤ k-row lane frame.
    */
  def gamesHowell(df: DataFrame, group: Column, value: Column): DataFrame = {
    def t7(c: Column): Column = t7lane(c)
    val per = kGroupMoments(df, group, value)
    val sd = col("__s").cast("double")
    val s2 = when(col("__n") >= 2, (col("__q").cast("double")
      - floor(sd * sd / col("__n") * 1e7) / 1e7) / (col("__n") - 1))
    // __const decides zero variance exactly (see kGroupMoments)
    val bad = col("__n") < 2 || col("__const") || coalesce(s2 <= 0, lit(true))
    val lanes = per.select(col("__g"), col("__n"),
      t7(sd / col("__n")).as("__xb"),
      when(!bad, t7(s2 / col("__n"))).as("__v"),
      bad.as("__bad"))
    def side(tag: String) = lanes.select(
      col("__g").as(s"grp_$tag"), col("__n").as(s"n_$tag"),
      col("__xb").cast("double").as(s"__xb_$tag"),
      col("__v").cast("double").as(s"__v_$tag"),
      col("__bad").as(s"__bad_$tag"))
    val diff = col("__xb_a") - col("__xb_b")
    val vsum = col("__v_a") + col("__v_b")
    val degenerate = col("__bad_a") || col("__bad_b")
    val dof = vsum * vsum /
      (col("__v_a") * col("__v_a") / (col("n_a") - 1)
        + col("__v_b") * col("__v_b") / (col("n_b") - 1))
    side("a").join(side("b"), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        Num.t4zero(diff).as("mean_diff"),
        when(degenerate, lit(0.0))
          .otherwise(Num.t4floor(abs(diff) / sqrt(vsum / lit(2.0)))).as("q"),
        when(degenerate, lit(0.0)).otherwise(Num.t4floor(dof)).as("dof"),
        degenerate.as("degenerate"))
  }

  /** Kruskal-Wallis rank ANOVA — the NONPARAMETRIC member of the
    * k-group test triad ([[anovaOneWay]] compares means and assumes
    * shape; [[brownForsythe]] compares spreads; this compares whole
    * DISTRIBUTIONS by rank and assumes nothing) — the k-group
    * generalization of [[mannWhitney]] and its exact machinery:
    * values quantize to `dp` decimals, one partial-aggregated
    * groupBy(value, group) collapses the corpus to a bounded frame,
    * mid-ranks come from the cumulative window OVER THAT BOUNDED
    * FRAME (2·avgrank = 2·cumBefore + t + 1 keeps every rank an
    * exact integer lane), per-group rank sums accumulate in exact
    * decimals, and
    *
    *   H = 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1),
    *   h_adj = H / (1 − Σ(t³−t)/(N³−N))   (the tie correction)
    *
    * derive in double with a fixed operation order — each group's
    * R²/4n term truncated 7 dp into the order-independent sum (the
    * mutualInformation discipline), the tie cubes and N³−N on the
    * mannWhitney 13-digit decimal lanes (never a long overflow).
    * Reports the statistic + dof = k−1, no p lane (the chiSquared
    * convention; at these dof H is χ²_{k−1} — compare downstream).
    * Degenerate designs (k < 2, or every value tied so the
    * correction denominator vanishes) report 0 flagged. Returns ONE
    * row: (n, k, dof, h, h_adj, degenerate); H clamps at 0 before
    * the 4-dp floor.
    */
  def kruskalWallis(df: DataFrame, group: Column, value: Column,
      dp: Int = 6): DataFrame = {
    val (perGRaw, ties) = pooledRankSums(df, group, value, dp)
    // LOUD lane-bound guard (r14 advice): past r2 ≈ 10^15.5 the
    // r2²·10⁷ product exceeds 38 decimal digits (and past 10^19 the
    // b19 cast itself), where non-ANSI casts go NULL and sum()
    // silently drops the group's term — the same silent-wrong-H
    // class the r14 sweep caught at Long.MaxValue, one lane wider.
    // assert_true INSIDE a filter so column pruning can't delete it
    // (the senMaxN idiom); fails with the group and its rank sum.
    val perG = perGRaw.filter(assert_true(
      col("__r2").cast("double") <= 3.16e15,
      concat(lit("Kruskal-Wallis exact-lane bound: group '"), col("__g"),
        lit("' has rank-sum r2="), col("__r2").cast("string"),
        lit(" > 3.16e15 — r2^2*1e7 would overflow the 38-digit decimal " +
          "lane and H would go silently wrong. Pre-aggregate or sample; " +
          "rank tests are asymptotically saturated at this N."))).isNull)
    // ⌊r2²·10⁷/(4n)⌋ on EXACT integer lanes (pmod-subtract then the
    // exact division): the previous floor(double·1e7) form returned a
    // LONG, and r2²·1e7/(4n) blows past Long.MaxValue around sf1 —
    // every term silently clamped to Long.MaxValue/1e7 and H collapsed
    // to 0 (caught by the r14 sf1 sweep). The integer form keeps the
    // same 1e-7 term quantization with no float and no long anywhere:
    // exact while r2²·10⁷ fits 38 digits, i.e. N ≲ 3·10⁷ grouped rows
    // (the same bounded-lane class as the 13-digit tie cubes below);
    // the bound is ENFORCED by the loud per-group assert above, not
    // just documented.
    val r2sq7 = ((b19(col("__r2")) * b19(col("__r2"))).cast("decimal(38,0)")
      * lit(10000000L)).cast("decimal(38,0)")
    val den4n = (col("__n") * 4).cast("decimal(19,0)")
    val termInt = ((r2sq7 - pmod(r2sq7, den4n)) / den4n).cast("decimal(38,0)")
    val m = perG.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__nn"),
      count(lit(1)).as("__k"),
      sum(termInt).as("__s"))
    val nd = col("__nn").cast("double")
    val h = greatest(lit(0.0),
      lit(12.0) / (nd * (nd + 1.0)) * (col("__s").cast("double") / 1e7)
        - lit(3.0) * (nd + 1.0))
    val n3n = (b13(col("__nn")) * b13(col("__nn")) * b13(col("__nn"))
      - col("__nn")).cast("decimal(38,0)").cast("double")
    val corr = lit(1.0) - col("__sumtc").cast("double") / n3n
    val degenerate = col("__k") < 2 || col("__nn") < 2 || corr <= 0.0
    m.crossJoin(ties).select(
      col("__nn").as("n"), col("__k").as("k"),
      when(col("__k") > 0, col("__k") - 1).otherwise(0L).as("dof"),
      when(degenerate, 0.0).otherwise(Num.t4floor(h)).as("h"),
      when(degenerate, 0.0).otherwise(Num.t4floor(h / corr)).as("h_adj"),
      degenerate.as("degenerate"))
  }

  /** CUSUM change detection (Page '54) — the SMALL-PERSISTENT-shift
    * alarm next to [[rollingZ]]'s single-bucket spikes: a metric that
    * drifts 0.5σ forever never trips a z-gate but accumulates here.
    * Two one-sided cumulative sums per key over ordered buckets:
    *
    *   hi_i = max(0, hi_{i-1} + (x_i − target − slack))
    *   lo_i = max(0, lo_{i-1} + (target − slack − x_i))
    *
    * computed WITHOUT a recursive scan via the prefix-sum identity
    * hi_i = P_i − min(0, min_{j≤i} P_j) with P = cumsum(x − target −
    * slack) — two ordinary key-partitioned ordered windows (one
    * cumulative sum, one running min over it) that share ONE
    * exchange+sort. Everything stays on exact 6-dp decimal lanes
    * (values pre-round 6 dp, target±slack enters as an exact decimal
    * literal), so the running extrema and the threshold comparison
    * are engine-exact; the reported statistics floor 4 dp. Input
    * contract: one row per (key, bucket) (the rollingZ contract).
    * Returns (key, bucket, value, cusum_hi, cusum_lo, alarm_hi,
    * alarm_lo).
    */
  def cusum(df: DataFrame, key: Column, bucket: Column, value: Column,
      target: Double, slack: Double, threshold: Double): DataFrame = {
    require(slack >= 0, "slack must be >= 0")
    require(threshold > 0, "threshold must be positive")
    def decLit(x: Double): Column =
      lit(BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying()).cast("decimal(18,6)")
    val t = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        value.cast("double").as("__x"))
      .filter(col("__x").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bucket")
    val cw = w.rowsBetween(Long.MinValue, 0)
    val xd = Num.dec(round(col("__x"), 6))
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)")
    val staged = t
      .withColumn("__ph", sum(xd - decLit(target + slack)).over(cw))
      .withColumn("__pl", sum(decLit(target - slack) - xd).over(cw))
    val ch = col("__ph") - least(min(col("__ph")).over(cw), zero)
    val cl = col("__pl") - least(min(col("__pl")).over(cw), zero)
    val thr = decLit(threshold)
    staged.select(
      col("key"), col("bucket"), col("__x").as("value"),
      Num.t4floor(ch.cast("double")).as("cusum_hi"),
      Num.t4floor(cl.cast("double")).as("cusum_lo"),
      (ch > thr).as("alarm_hi"),
      (cl > thr).as("alarm_lo"))
  }

  /** EWMA control chart / one-step-ahead forecast anomaly — the
    * exponentially-weighted companion of [[cusum]] (CUSUM accumulates
    * small persistent shifts; the EWMA chain tracks a drifting level
    * and flags per-bucket SURPRISE against its own smoothed forecast,
    * the C47 rolling-window anomaly without a window buffer — which
    * is also why it streams in O(1) state, see the E39 twin):
    *
    *   s_t = (aNum·x_t + (aDen−aNum)·s_{t−1}) / aDen,   s_0 = x_0
    *   resid_t = x_t − s_{t−1},  alarm_t = |resid_t| > band
    *
    * Determinism: the whole recurrence runs on INTEGER 1e6
    * micro-lanes (the E34 contract) — values quantize once on entry
    * (round(x·1e6)), α enters as the RATIONAL aNum/aDen so the update
    * is a truncating integer division (toward zero — both Scala's `/`
    * and DuckDB's `//`), and both engines replay the identical integer
    * walk; outputs divide back to doubles (exact: micro values sit far
    * under 2^53). The step is written once ([[ewmaScan]]) and shared
    * with the E39 stream twin, so the two cannot drift.
    *
    * Shape at scale: one repartition on key + partition-local linear
    * scan ([[smoothingChart]] — the justified loop-carried-state kernel
    * class: a linear recurrence with per-step flooring has no window
    * form); per-key chains are time-bucket-bounded (the E32 horizon
    * contract), never event-volume-bounded. NULL key/bucket/value rows
    * are excluded.
    * Returns (key, bucket, value, ewma, resid, alarm) — resid NULL on
    * each key's first bucket (no forecast yet, never an alarm).
    */
  def ewmaChart(df: DataFrame, key: Column, bucket: Column, value: Column,
      alphaNum: Int = 1, alphaDen: Int = 4, band: Double = 2.0): DataFrame =
    smoothingChart(df, key, bucket, value, band, ewmaScan(alphaNum, alphaDen, band),
      "key STRING, bucket BIGINT, value DOUBLE, ewma DOUBLE, resid DOUBLE, alarm BOOLEAN") {
      o => Row(o.key, o.bucket, o.value_micro / 1e6, o.ewma_micro / 1e6,
        unmicro(o.resid_micro), o.alarm)
    }

  /** The smoothing charts' shared pieces. A [[SmoothScan]] is a chart's
    * initial per-key state plus its ONE recurrence step over the
    * micro-lane row — the step both the batch walk below and the
    * stream twins ([[graft.streaming.EventStreams.ewmaStream]] …) run,
    * emitting micro-unit outputs.
    */
  private[graft] type SmoothScan[S, O] = (S, (String, S, EwmaIn) => (S, Option[O]))

  /** The smoothing input lane: (key string, b long, round(v·1e6) as
    * vMicro), rows with a NULL key, bucket or value dropped.
    */
  private[graft] def microBuckets(df: DataFrame, key: Column, bucket: Column,
      value: Column): Dataset[EwmaIn] =
    df.select(key.cast("string").as("key"), bucket.cast("long").as("b"),
        round(value.cast("double") * 1e6).cast("long").as("vMicro"))
      .filter(col("key").isNotNull && col("b").isNotNull && col("vMicro").isNotNull)
      .as(Encoders.product[EwmaIn])

  /** A rational smoothing weight num/den in (0, 1]. */
  private def requireRate(name: String, num: Int, den: Int): Unit =
    require(den > 0 && num > 0 && num <= den,
      s"$name = ${name}Num/${name}Den must be in (0, 1]")

  private def unmicro(m: Option[Long]): java.lang.Double =
    m.map(v => java.lang.Double.valueOf(v / 1e6)).orNull

  /** The batch walk of a [[SmoothScan]]: one repartition on key, a
    * partition-local sort on (key, bucket), and a linear scan that
    * restarts from the initial state on each key change; each micro-unit
    * output divides back to doubles through `row` under the `ddl`
    * schema.
    */
  private def smoothingChart[S, O](df: DataFrame, key: Column, bucket: Column,
      value: Column, band: Double, scan: SmoothScan[S, O], ddl: String)(
      row: O => Row): DataFrame = {
    require(band >= 0, "band must be >= 0")
    val (init, step) = scan
    microBuckets(df, key, bucket, value)
      .repartition(col("key")).sortWithinPartitions("key", "b")
      .mapPartitions { rows =>
        var curKey: String = null
        var st = init
        rows.flatMap { r =>
          if (r.key != curKey) { curKey = r.key; st = init }
          val (next, out) = step(r.key, st, r)
          st = next
          out.map(row)
        }
      }(Encoders.row(StructType.fromDDL(ddl)))
  }

  /** [[ewmaChart]]'s step: the first bucket seeds the level; each later
    * one scores its residual against the level, then advances it.
    */
  private[graft] def ewmaScan(alphaNum: Int, alphaDen: Int,
      band: Double): SmoothScan[EwmaState, EwmaOut] = {
    requireRate("alpha", alphaNum, alphaDen)
    val bandMicro = math.round(band * 1e6)
    val (aN, aD) = (alphaNum.toLong, alphaDen.toLong)
    (EwmaState(0L, started = false), (key, st, r) =>
      if (!st.started)
        (EwmaState(r.vMicro, started = true),
          Some(EwmaOut(key, r.b, r.vMicro, r.vMicro, None, alarm = false)))
      else {
        val resid = r.vMicro - st.sMicro
        val s = (aN * r.vMicro + (aD - aN) * st.sMicro) / aD
        (EwmaState(s, started = true),
          Some(EwmaOut(key, r.b, r.vMicro, s, Some(resid), math.abs(resid) > bandMicro)))
      })
  }

  /** Holt linear-trend chart (double exponential smoothing) — the
    * TRENDING-level member next to [[ewmaChart]] (EWMA tracks a
    * drifting level; a steadily GROWING series makes every EWMA
    * residual positive and the chart blind to real anomalies — Holt
    * carries an explicit trend term so the forecast climbs with the
    * series):
    *
    *   forecast_t = s_{t−1} + b_{t−1},  resid_t = x_t − forecast_t
    *   s_t = (aNum·x_t + (aDen−aNum)·(s_{t−1}+b_{t−1})) / aDen
    *   b_t = (bNum·(s_t − s_{t−1}) + (bDen−bNum)·b_{t−1}) / bDen
    *   s_0 = x_0, b_0 = 0
    *
    * Same determinism contract as [[ewmaChart]]: the whole recurrence
    * on INTEGER 1e6 micro-lanes with rational α/β, TRUNCATING integer
    * division (toward zero — both Scala's `/` and DuckDB's `//`, so
    * negative trend lanes replay sign-exactly),
    * so batch and the recursive-CTE oracle walk identical integers; the
    * step ([[holtScan]]) is shared with the E40 stream twin. Same kernel
    * shape: one repartition on key + partition-local linear scan,
    * per-key chains time-bucket-bounded.
    * Returns (key, bucket, value, level, trend, resid, alarm) — resid
    * NULL on each key's first bucket.
    */
  def holtChart(df: DataFrame, key: Column, bucket: Column, value: Column,
      alphaNum: Int = 1, alphaDen: Int = 4,
      betaNum: Int = 1, betaDen: Int = 4, band: Double = 2.0): DataFrame =
    smoothingChart(df, key, bucket, value, band,
      holtScan(alphaNum, alphaDen, betaNum, betaDen, band),
      "key STRING, bucket BIGINT, value DOUBLE, level DOUBLE, trend DOUBLE, " +
        "resid DOUBLE, alarm BOOLEAN") {
      o => Row(o.key, o.bucket, o.value_micro / 1e6, o.level_micro / 1e6,
        o.trend_micro / 1e6, unmicro(o.resid_micro), o.alarm)
    }

  /** [[holtChart]]'s step: level and trend advance together. */
  private[graft] def holtScan(alphaNum: Int, alphaDen: Int, betaNum: Int,
      betaDen: Int, band: Double): SmoothScan[HoltState, HoltOut] = {
    requireRate("alpha", alphaNum, alphaDen)
    requireRate("beta", betaNum, betaDen)
    val bandMicro = math.round(band * 1e6)
    val (aN, aD) = (alphaNum.toLong, alphaDen.toLong)
    val (bN, bD) = (betaNum.toLong, betaDen.toLong)
    (HoltState(0L, 0L, started = false), (key, st, r) =>
      if (!st.started)
        (HoltState(r.vMicro, 0L, started = true),
          Some(HoltOut(key, r.b, r.vMicro, r.vMicro, 0L, None, alarm = false)))
      else {
        val forecast = st.sMicro + st.bMicro
        val resid = r.vMicro - forecast
        val s = (aN * r.vMicro + (aD - aN) * forecast) / aD
        val b = (bN * (s - st.sMicro) + (bD - bN) * st.bMicro) / bD
        (HoltState(s, b, started = true),
          Some(HoltOut(key, r.b, r.vMicro, s, b, Some(resid), math.abs(resid) > bandMicro)))
      })
  }

  /** C97: Holt-Winters additive seasonal chart — the SEASONAL member
    * completing the smoothing family ([[ewmaChart]] tracks a level,
    * [[holtChart]] adds trend; a daily-cycle series makes BOTH alarm
    * every peak hour — this one carries a per-phase seasonal component
    * so the forecast breathes with the cycle):
    *
    *   forecast_t = s_{t−1} + b_{t−1} + c_{t−p}
    *   s_t = α(x_t − c_{t−p}) + (1−α)(s_{t−1} + b_{t−1})
    *   b_t = β(s_t − s_{t−1}) + (1−β)b_{t−1}
    *   c_t = γ(x_t − s_t) + (1−γ)c_{t−p}
    *
    * Initialization is DETERMINISTIC-SIMPLE on purpose: s_0 = x_0,
    * b_0 = 0, all seasonal components 0 — the chart warms up over the
    * first cycles instead of fitting an init window, and both engines
    * replay the identical walk from the same three literals; the step
    * ([[holtWintersScan]]) is shared with the E43 stream twin. Same
    * determinism contract as [[holtChart]]:
    * INTEGER 1e6 micro-lanes, rational α/β/γ, truncating division
    * toward zero on both engines; the oracle carries the seasonal
    * RING as a p-slot list column through the recursive CTE (the FFD
    * bins idiom). Same kernel shape: one repartition on key +
    * partition-local linear scan, O(p) state per key, per-key chains
    * time-bucket-bounded. Input contract: one row per (key, bucket)
    * on a DENSE grid — phase is ROW-based ((rowIdx−1) mod p), so a
    * hole would shift every later phase (the [[autocorrelation]]
    * contract). Returns (key, bucket, value, level, trend, seasonal,
    * resid, alarm) — resid NULL on each key's first bucket; `seasonal`
    * is c_t (the freshly updated component for this phase).
    */
  def holtWintersChart(df: DataFrame, key: Column, bucket: Column, value: Column,
      period: Int, alphaNum: Int = 1, alphaDen: Int = 4,
      betaNum: Int = 1, betaDen: Int = 4,
      gammaNum: Int = 1, gammaDen: Int = 4, band: Double = 2.0): DataFrame =
    smoothingChart(df, key, bucket, value, band, holtWintersScan(period,
        alphaNum, alphaDen, betaNum, betaDen, gammaNum, gammaDen, band),
      "key STRING, bucket BIGINT, value DOUBLE, level DOUBLE, trend DOUBLE, " +
        "seasonal DOUBLE, resid DOUBLE, alarm BOOLEAN") {
      o => Row(o.key, o.bucket, o.value_micro / 1e6, o.level_micro / 1e6,
        o.trend_micro / 1e6, o.seasonal_micro / 1e6, unmicro(o.resid_micro), o.alarm)
    }

  /** [[holtWintersChart]]'s step: level, trend and this phase's slot of
    * the seasonal ring advance; the cursor moves to the next phase. The
    * first bucket's c_0 update is γ(x_0 − s_0) = 0 exactly, so it emits 0.
    */
  private[graft] def holtWintersScan(period: Int, alphaNum: Int, alphaDen: Int,
      betaNum: Int, betaDen: Int, gammaNum: Int, gammaDen: Int,
      band: Double): SmoothScan[HwState, HwOut] = {
    require(period >= 2, "period must be >= 2 (a 1-period season is a level)")
    requireRate("alpha", alphaNum, alphaDen)
    requireRate("beta", betaNum, betaDen)
    requireRate("gamma", gammaNum, gammaDen)
    val bandMicro = math.round(band * 1e6)
    val (aN, aD) = (alphaNum.toLong, alphaDen.toLong)
    val (bN, bD) = (betaNum.toLong, betaDen.toLong)
    val (gN, gD) = (gammaNum.toLong, gammaDen.toLong)
    val p = period
    (HwState(0L, 0L, Vector.fill(p)(0L), 0, started = false), (key, st, r) =>
      if (!st.started)
        (HwState(r.vMicro, 0L, Vector.fill(p)(0L), 1 % p, started = true),
          Some(HwOut(key, r.b, r.vMicro, r.vMicro, 0L, 0L, None, alarm = false)))
      else {
        val cPrev = st.cs(st.idx)
        val resid = r.vMicro - (st.sMicro + st.bMicro + cPrev)
        val s = (aN * (r.vMicro - cPrev) + (aD - aN) * (st.sMicro + st.bMicro)) / aD
        val b = (bN * (s - st.sMicro) + (bD - bN) * st.bMicro) / bD
        val c = (gN * (r.vMicro - s) + (gD - gN) * cPrev) / gD
        (HwState(s, b, st.cs.updated(st.idx, c), (st.idx + 1) % p, started = true),
          Some(HwOut(key, r.b, r.vMicro, s, b, c, Some(resid), math.abs(resid) > bandMicro)))
      })
  }

  /** C98: best single changepoint per key (binary-segmentation step 1)
    * — "WHERE did this series change", the location question
    * [[levelShift]]'s fixed-window contrast and [[cusum]]'s alarm walk
    * don't answer: over every admissible split k the between-segment
    * SSE reduction
    *
    *   gain(k) = P_k²/k + (S−P_k)²/(n−k) − S²/n
    *
    * (P_k = prefix sum, S = total — the ANOVA between-group identity)
    * is maximized; k needs ≥ `minSeg` points on each side. Shape: ONE
    * key-partitioned cumulative window over the bucket frame + one
    * argmax window — no per-split pass, no kernel, linear work.
    * Determinism: values quantize ONCE to integer 1e6 micro-lanes
    * (the levelShift reduction), prefix/total sums are exact longs,
    * gain is ONE double derivation from those integers (IEEE ops —
    * identical on any engine), argmax tie-breaks (gain DESC, k ASC),
    * gain reported 4-dp toward zero in value² units, means exact
    * micro-division. Keys too short for any admissible split report
    * NULL split + gain 0 + `degenerate`. Returns (key, n, split_x,
    * n_left, mean_left, mean_right, gain, degenerate) — split_x is
    * the order value of the LAST point in the left segment.
    */
  def bestChangepoint(df: DataFrame, key: Column, order: Column, value: Column,
      minSeg: Int = 2): DataFrame = {
    require(minSeg >= 1, "minSeg must be >= 1")
    val t = df.select(key.cast("string").as("key"), order.cast("long").as("__x"),
        round(value.cast("double") * 1e6).cast("long").as("__vm"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__vm").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("__x")
    val totals = t.groupBy("key").agg(count(lit(1)).as("n"),
      sum(col("__vm")).as("__s"))
    val pref = t
      .withColumn("__k", row_number().over(w).cast("long"))
      .withColumn("__p", sum(col("__vm")).over(w.rowsBetween(Long.MinValue, 0)))
      .join(totals, Seq("key"))
      .filter(col("__k") >= minSeg && col("__k") <= col("n") - minSeg)
    def d(c: Column): Column = c.cast("double")
    val gain = d(col("__p")) * d(col("__p")) / d(col("__k")) +
      d(col("__s") - col("__p")) * d(col("__s") - col("__p")) / d(col("n") - col("__k")) -
      d(col("__s")) * d(col("__s")) / d(col("n"))
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("__gain").desc, col("__k").asc)
    val best = pref.withColumn("__gain", gain)
      .withColumn("__r", row_number().over(aw))
      .filter(col("__r") === 1)
      .select(col("key"), col("__x").as("split_x"), col("__k").as("n_left"),
        (d(col("__p")) / d(col("__k")) / 1e6).as("mean_left"),
        (d(col("__s") - col("__p")) / d(col("n") - col("__k")) / 1e6).as("mean_right"),
        // micro² → value² units, then 4-dp toward zero (gain ≥ 0)
        Num.t4zero(col("__gain") / 1e12).as("gain"))
    totals.join(best, Seq("key"), "left")
      .select(col("key"), col("n"), col("split_x"), col("n_left"),
        col("mean_left"), col("mean_right"),
        coalesce(col("gain"), lit(0.0)).as("gain"),
        col("split_x").isNull.as("degenerate"))
  }

  /** C107: MULTI-changepoint detection per key — [[bestChangepoint]]
    * recursively applied (binary segmentation, Scott & Knott '74 /
    * the standard BinSeg): round r splits EVERY current segment at
    * its own best cut wherever the between-segment SSE gain clears
    * `minGain` (value² units), children re-enter the next round, up
    * to `maxDepth` rounds (≤ 2^maxDepth−1 cuts per key). A min-gain
    * stop, not a fixed k: the data decides how many breaks exist.
    *
    * Shape at scale: each round is ONE join of the row frame to the
    * (key, lo, hi) segment frame (segments per key ≤ 2^(r−1), so the
    * fan-out is bounded by 2^maxDepth — a constant) + two keyed
    * windows (running prefix, argmax) — never a per-split pass; the
    * row frame localCheckpoints ONCE, the segment frame each round
    * (2^maxDepth plan growth otherwise). Determinism: the
    * bestChangepoint contract verbatim — 1e6 micro-lanes quantized
    * once, exact long prefix/total sums per segment, gain ONE double
    * derivation from those integers, argmax ties (gain DESC, k ASC),
    * and the minGain threshold compares in micro² (minGain·1e12, a
    * Scala-computed literal shared with the SQL replay). Returns one
    * row per DETECTED changepoint: (key, cp_index by position,
    * split_x = last left row's order value, n_left, n_right — both
    * segment-local, mean_left, mean_right, gain 4-dp toward zero in
    * value² units, depth). Keys with no clearing split emit nothing.
    */
  def changepoints(df: DataFrame, key: Column, order: Column, value: Column,
      minSeg: Int = 2, maxDepth: Int = 3, minGain: Double = 1.0): DataFrame = {
    require(minSeg >= 1, "minSeg must be >= 1")
    require(maxDepth >= 1 && maxDepth <= 6,
      "maxDepth in [1, 6] (segments per key are 2^maxDepth)")
    require(minGain > 0, "minGain must be > 0 (a zero stop splits down to minSeg)")
    val thrMicro2 = minGain * 1e12
    val t = df.select(key.cast("string").as("key"), order.cast("long").as("__x"),
        round(value.cast("double") * 1e6).cast("long").as("__vm"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__vm").isNotNull)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("__x")
    val rows = t.withColumn("__k", row_number().over(wk).cast("long"))
      .localCheckpoint()
    def d(c: Column): Column = c.cast("double")
    var segs = rows.groupBy("key")
      .agg((max(col("__k")) + 1L).as("hi"))
      .select(col("key"), lit(1L).as("lo"), col("hi"))
    var cuts = List.empty[DataFrame]
    for (depth <- 1 to maxDepth) {
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy("key", "lo").orderBy("__k")
      val wsAll = org.apache.spark.sql.expressions.Window
        .partitionBy("key", "lo")
      val seg = rows.join(segs, Seq("key"))
        .filter(col("__k") >= col("lo") && col("__k") < col("hi"))
        .withColumn("__j", row_number().over(ws).cast("long"))
        .withColumn("__p", sum(col("__vm")).over(ws.rowsBetween(Long.MinValue, 0)))
        .withColumn("__m", count(lit(1)).over(wsAll))
        .withColumn("__s", sum(col("__vm")).over(wsAll))
      val gain = d(col("__p")) * d(col("__p")) / d(col("__j")) +
        d(col("__s") - col("__p")) * d(col("__s") - col("__p")) / d(col("__m") - col("__j")) -
        d(col("__s")) * d(col("__s")) / d(col("__m"))
      val wbest = org.apache.spark.sql.expressions.Window
        .partitionBy("key", "lo").orderBy(col("__gain").desc, col("__k").asc)
      val best = seg
        .filter(col("__j") >= minSeg && col("__j") <= col("__m") - minSeg)
        .withColumn("__gain", gain)
        .withColumn("__r", row_number().over(wbest))
        .filter(col("__r") === 1 && col("__gain") >= thrMicro2)
        .select(col("key"), col("lo"), col("hi"), col("__k").as("__cut"),
          col("__x").as("split_x"), col("__j").as("n_left"),
          (col("__m") - col("__j")).as("n_right"),
          (d(col("__p")) / d(col("__j")) / 1e6).as("mean_left"),
          (d(col("__s") - col("__p")) / d(col("__m") - col("__j")) / 1e6).as("mean_right"),
          Num.t4zero(col("__gain") / 1e12).as("gain"),
          lit(depth).as("depth"))
        .localCheckpoint()
      cuts ::= best
      if (depth < maxDepth) {
        val bSeg = best.select(col("key").as("__bk"), col("lo").as("__blo"),
          col("__cut"))
        val unsplit = segs.join(bSeg,
            col("key") === col("__bk") && col("lo") === col("__blo"), "left_anti")
        segs = unsplit
          .unionByName(best.select(col("key"), col("lo"), (col("__cut") + 1L).as("hi")))
          .unionByName(best.select(col("key"), (col("__cut") + 1L).as("lo"), col("hi")))
          .localCheckpoint()
      }
    }
    val all = cuts.reduce(_.unionByName(_))
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("split_x")
    all.select(col("key"), col("split_x"), col("n_left"), col("n_right"),
        col("mean_left"), col("mean_right"), col("gain"), col("depth"))
      .withColumn("cp_index", row_number().over(wi).cast("int"))
      .select("key", "cp_index", "split_x", "n_left", "n_right",
        "mean_left", "mean_right", "gain", "depth")
  }

  /** C99: Theil-Sen robust line per key — [[mannKendall]]'s Sen slope
    * completed into a usable LINE (the trendFit OLS alternative that
    * shrugs off outliers: slope = median pairwise slope, intercept =
    * median of the per-point intercepts v_i − slope·x_i):
    *
    *   slope = median{ (v_j−v_i)/(x_j−x_i) : x_i < x_j }
    *   intercept = median{ v_i − slope·x_i }
    *
    * Both medians are TYPE-1 rank picks over shared doubles (the
    * quantileCI machinery — a rank selects the same IEEE value on any
    * engine); the intercept pass uses the RAW picked slope, rounding
    * only on report (6-dp toward zero, both columns). The pairwise
    * frame is QUADRATIC per key — the same loud `senMaxN` contract as
    * mannKendall, enforced here with an un-prunable assert_true filter
    * (n > senMaxN fails the job with the pair count in the message).
    * Keys with n < 2 report NULL slope/intercept + `degenerate`.
    */
  def theilSen(df: DataFrame, key: Column, order: Column, value: Column,
      senMaxN: Long = 10000L): DataFrame = {
    def t6z(c: Column): Column = signum(c) * (floor(abs(c) * 1e6) / 1e6) + 0.0
    val t = df.select(key.cast("string").as("key"), order.cast("long").as("__x"),
        value.cast("double").as("__v"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__v").isNotNull)
      .localCheckpoint()
    val nPer = t.groupBy("key").agg(count(lit(1)).as("n"))
    // assert_true INSIDE a filter so column pruning can't delete the
    // guard; NULL (the pass value) keeps every row
    val guarded = t.join(nPer, Seq("key"))
      .filter(assert_true(col("n") <= senMaxN,
        concat(lit("Theil-Sen builds the QUADRATIC pairwise-slope frame: key '"),
          col("key"), lit("' has n="), col("n"),
          lit(s" > senMaxN=$senMaxN. Raise senMaxN deliberately or pre-aggregate."))).isNull)
      .select("key", "__x", "__v")
    val b = guarded.select(col("key").as("__k2"), col("__x").as("__x2"),
      col("__v").as("__v2"))
    val pairs = guarded.join(b, col("key") === col("__k2") && col("__x") < col("__x2"))
      .select(col("key"),
        try_divide(col("__v2") - col("__v"),
          (col("__x2") - col("__x")).cast("double")).as("__slope"))
    // localCheckpoint the per-key PICKED values (r17): slope appears
    // in the intercept branch AND twice in the final select — without
    // the seam each appearance re-instantiates the whole quadratic
    // pair join + rank window. The checkpointed frames are one row
    // per key (model-sized); the pair frame itself is never
    // materialized.
    val slope = quantileCI(pairs, col("key"), col("__slope"))
      .select(col("grp").as("key"), col("point").as("__sl"))
      .localCheckpoint()
    val icepts = t.join(slope, Seq("key"))
      .select(col("key"), (col("__v") - col("__sl") * col("__x").cast("double")).as("__b"))
    val intercept = quantileCI(icepts, col("key"), col("__b"))
      .select(col("grp").as("key"), col("point").as("__ic"))
      .localCheckpoint()
    nPer
      .join(slope, Seq("key"), "left")
      .join(intercept, Seq("key"), "left")
      .select(col("key"), col("n"),
        // degenerate ALSO when the slope came back NULL with n >= 2: a
        // key whose order values are all equal yields zero pairs, and a
        // NULL result row must carry the flag (the mannKendall
        // zero-variance convention), never masquerade as unflagged
        when(col("n") < 2 || col("__sl").isNull, lit(null).cast("double"))
          .otherwise(t6z(col("__sl"))).as("slope"),
        when(col("n") < 2 || col("__sl").isNull, lit(null).cast("double"))
          .otherwise(t6z(col("__ic"))).as("intercept"),
        (col("n") < 2 || col("__sl").isNull).as("degenerate"))
  }

  /** Mann-Kendall trend test + Sen's slope — the NONPARAMETRIC
    * companion to [[trendFit]]'s OLS line (rank-based, so outliers
    * and non-linearity don't fake or hide a trend; the standard
    * monitoring-series question "is this drifting?" answered without
    * distributional assumptions):
    *
    *   S = Σ_{i<j} sign(v_j − v_i)   (j later in `order`)
    *   Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18  (tie-corrected)
    *   Z = (S∓1)/sqrt(Var(S)),  Sen = median of pairwise slopes
    *
    * Determinism: S is an exact integer (CASE-sign sum), Var(S) pure
    * integer arithmetic over one double division, Z fixed-order
    * double 4-dp toward zero; Sen's slope is a TYPE-1 order statistic
    * over the pairwise-slope frame (the [[quantileCI]] rank pick — a
    * rank selects the same shared double on any engine), 6-dp toward
    * zero on report. Input contract: one row per (key, order) — the
    * cusum finalized-bucket shape. Shape at scale: S comes from
    * [[kendallStatsPerKey]]'s O(n log n) merge-count (r12 — the r11
    * pair join was key-local QUADRATIC with a ~700-bucket honest
    * horizon; multi-year fine-grain series now cost n log n). Sen's
    * slope still IS the median of the n(n−1)/2 pairwise slopes, so
    * the pair frame survives for that alone, behind a LOUD guard:
    * any key longer than `senMaxN` throws with the pair count in the
    * message (raise it deliberately, or pass `computeSen = false` to
    * keep S/z at any length with sen_slope NULL). Degenerate keys
    * (n < 2 or zero variance) report z = 0 flagged.
    */
  def mannKendall(df: DataFrame, key: Column, order: Column, value: Column,
      senMaxN: Long = 10000L, computeSen: Boolean = true): DataFrame = {
    def t6z(c: Column): Column = signum(c) * (floor(abs(c) * 1e6) / 1e6) + 0.0
    val t = df.select(key.cast("string").as("key"), order.cast("long").as("__x"),
        value.cast("double").as("__v"))
      .filter(col("key").isNotNull && col("__x").isNotNull && col("__v").isNotNull)
      .localCheckpoint()
    val stats = kendallStatsPerKey(
      t.select(col("key"), col("__x").cast("double").as("__x"),
        col("__v").as("__y")),
      senGuard = if (computeSen) senMaxN else 0L)
    val ties = t.groupBy(col("key"), col("__v")).agg(count(lit(1)).as("__t"))
      .groupBy("key")
      .agg(sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as("__tie"))
    val sen =
      if (!computeSen) null
      else {
        // try_divide, NOT `/`: quantileCI filters on slope.isNotNull,
        // and InferFiltersFromConstraints pushes isnotnull(<division>)
        // into the hash-join's non-equi condition AHEAD of the strict
        // __x < __x2 predicate — so the ANSI division speculatively
        // executes on equal-__x candidate pairs of the same key and
        // throws DIVIDE_BY_ZERO (reproduced r12 in the optimized
        // plan; r11 masked it by localCheckpoint-materializing the
        // QUADRATIC pair frame before quantileCI could see the
        // expression). try_divide is value-identical on every row
        // that survives the strict filter. Distinct right-side names
        // (not an "a"/"b" alias) keep the doubly-inlined self-join
        // unambiguous.
        val b = t.select(col("key").as("__k2"), col("__x").as("__x2"),
          col("__v").as("__v2"))
        val pairs = t.join(b, col("key") === col("__k2") && col("__x") < col("__x2"))
          .select(col("key"),
            try_divide(col("__v2") - col("__v"),
              (col("__x2") - col("__x")).cast("double")).as("__slope"))
        quantileCI(pairs, col("key"), col("__slope"))
          .select(col("grp").as("key"), col("point").as("__sen"))
      }
    val varS = (col("n") * (col("n") - 1) * (col("n") * 2 + 5)
      - coalesce(col("__tie"), lit(0L))).cast("double") / 18.0
    val degenerate = col("n") < 2 || varS <= 0.0
    val z = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    val base = stats.join(ties, Seq("key"), "left")
    val joined = if (computeSen) base.join(sen, Seq("key"), "left") else base
    joined.select(col("key"), col("n"), col("s"),
      when(degenerate, lit(0.0)).otherwise(Num.t4zero(z)).as("z"),
      if (computeSen)
        when(degenerate, lit(null).cast("double")).otherwise(t6z(col("__sen"))).as("sen_slope")
      else lit(null).cast("double").as("sen_slope"),
      degenerate.as("degenerate"))
  }

  /** Wald's sequential probability ratio test (SPRT, Wald '45) — the
    * EARLY-STOPPING member of the experiment family (C79 checks the
    * split, C78 shrinks the variance, this says WHEN you may stop): a
    * binary metric streams in per key in a fixed order, the
    * cumulative log-likelihood ratio between H1 (rate p1) and H0
    * (rate p0) walks up or down, and the first crossing of
    * ln((1−β)/α) / ln(β/(1−α)) decides — with the guarantee the
    * fixed-horizon test can't give mid-flight.
    *
    * Determinism: the two per-observation increments ln(p1/p0) and
    * ln((1−p1)/(1−p0)) and both bounds are computed ONCE here in
    * Scala and enter both engines as 7-dp literals (the ndcgDiscount
    * pattern — a per-row transcendental would poison the hash);
    * the cumulative sum runs on exact 7-dp decimal lanes in one
    * key-partitioned ordered window; `first_decision` marks each
    * key's earliest crossing via a min-over-key window on the same
    * partitioning. Input contract: one row per (key, order), order
    * unique within key (the rollingZ bucket contract). Returns
    * (key, order_val, llr, decision, first_decision).
    */
  def sprt(df: DataFrame, key: Column, order: Column, success: Column,
      p0: Double, p1: Double, alpha: Double = 0.05,
      beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "p0, p1 in (0,1), distinct")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "alpha, beta in (0,1)")
    def r7(x: Double): java.math.BigDecimal =
      BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP).underlying()
    val lw = r7(math.log(p1 / p0))
    val ll = r7(math.log((1 - p1) / (1 - p0)))
    val upper = r7(math.log((1 - beta) / alpha))
    val lower = r7(math.log(beta / (1 - alpha)))
    def d7(b: java.math.BigDecimal): Column = lit(b).cast("decimal(20,7)")
    val t = df.select(key.as("key"), order.cast("long").as("order_val"),
        success.cast("boolean").as("__x"))
      .filter(col("__x").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("order_val")
    val llr = sum(when(col("__x"), d7(lw)).otherwise(d7(ll)))
      .over(w.rowsBetween(Long.MinValue, 0))
    val staged = t.withColumn("__llr", llr)
    val decision = when(col("__llr") >= d7(upper), lit("accept_h1"))
      .when(col("__llr") <= d7(lower), lit("accept_h0"))
      .otherwise(lit("continue"))
    val wk = org.apache.spark.sql.expressions.Window.partitionBy("key")
    val firstDec = min(when(decision =!= "continue", col("order_val"))).over(wk)
    staged.select(col("key"), col("order_val"),
      Num.t4floor(col("__llr").cast("double")).as("llr"),
      decision.as("decision"),
      (decision =!= "continue" && col("order_val") === firstDec)
        .as("first_decision"))
  }

  /** Cochran-Mantel-Haenszel test — "does exposure associate with
    * outcome CONTROLLING for the stratum?" ([[chiSquared]] pools
    * everything and Simpson's paradox eats it; CMH tests the common
    * association across K 2×2 tables):
    *
    *   CMH = (Σ_k (a_k − E_k))² / Σ_k V_k,
    *   E = r1·c1/n,  V = r1·r2·c1·c2 / (n²(n−1))
    *
    * with a = exposed-and-positive. χ²₁ downstream (no p lane).
    * Single-row strata carry no variance and are excluded (reported
    * via n_excluded — the cochranQ incomplete-block convention).
    * Shape: one groupBy(stratum) pass with conditional counts, E and
    * V derived double-with-fixed-order and truncated 7 dp into exact
    * decimal sums (the mutualInformation discipline), two double ops
    * at the end, 4-dp floor. Degenerate (ΣV ≤ 0) reports 0 flagged.
    * Returns ONE row: (n_strata, n_excluded, n, cmh, degenerate).
    */
  def cmhTest(df: DataFrame, stratum: Column, exposed: Column,
      outcome: Column): DataFrame = {
    val e = exposed.cast("boolean")
    val o = outcome.cast("boolean")
    val per = df.filter(e.isNotNull && o.isNotNull && stratum.isNotNull)
      .groupBy(stratum.as("__k"))
      .agg(
        count(lit(1)).as("__n"),
        coalesce(sum(when(e && o, 1L)), lit(0L)).as("__a"),
        coalesce(sum(when(e, 1L)), lit(0L)).as("__r1"),
        coalesce(sum(when(o, 1L)), lit(0L)).as("__c1"))
    val nd = col("__n").cast("double")
    val ed = col("__r1").cast("double") * col("__c1").cast("double") / nd
    val vd = col("__r1").cast("double") *
      (col("__n") - col("__r1")).cast("double") *
      col("__c1").cast("double") *
      (col("__n") - col("__c1")).cast("double") /
      (nd * nd * (nd - 1.0))
    def t7(c: Column): Column =
      (signum(c) * (floor(abs(c) * 1e7) / 1e7)).cast("decimal(25,7)")
    val usable = col("__n") >= 2
    val m = per.agg(
      coalesce(sum(when(usable, 1L)), lit(0L)).as("n_strata"),
      coalesce(sum(when(!usable, 1L)), lit(0L)).as("n_excluded"),
      coalesce(sum(when(usable, col("__n"))), lit(0L)).as("n"),
      sum(when(usable, t7(col("__a").cast("double") - ed))).as("__sae"),
      sum(when(usable, t7(vd))).as("__sv"))
    val num = col("__sae").cast("double") * col("__sae").cast("double")
    val den = col("__sv").cast("double")
    val degenerate = col("n_strata") < 1 || den <= 0.0
    m.select(col("n_strata"), col("n_excluded"), col("n"),
      when(degenerate, 0.0).otherwise(Num.t4floor(num / den)).as("cmh"),
      degenerate.as("degenerate"))
  }

  /** Per-key ordinary-least-squares trend fit — "is this metric
    * drifting?" as a slope with goodness-of-fit, the regression
    * companion to [[rollingZ]]'s point alarms and
    * [[seasonalDecompose]]'s decomposition: per key, slope/intercept
    * of y over x and R², from ONE partial-aggregated moments pass
    * (Σx, Σy, Σxy, Σx², Σy² in exact decimals — order-independent),
    * derived in double with a fixed operation order. Degenerate keys
    * (n < 2 or zero x-variance) report slope/intercept/r2 = 0 with
    * their counts intact. Slope/intercept truncate 6 dp toward zero
    * (signed, fine-grained); R² truncates 4 dp (floor; it is
    * clamped to [0, 1] first).
    */
  /** Benjamini-Hochberg step-up FDR control — the multiple-testing
    * companion to the per-group test family ([[twoSampleZ]], [[ksTest]],
    * [[graft.operators.Profile.psiByGroup]]): running one drift test
    * per domain over 10k domains at α=0.05 "finds" ~500 drifts in pure
    * noise; BH caps the expected FALSE-DISCOVERY fraction at `q`
    * instead.
    *
    *   sort p ascending; k* = max{ i : p_(i) ≤ q·i/m };
    *   discoveries = ranks 1..k*  (STEP-UP: a rank below k* is
    *   discovered even when its own p misses its own threshold).
    *
    * Input contract: one row per HYPOTHESIS — a frame bounded by the
    * testing design (domains, sources, features), not the corpus; the
    * global rank window is legal exactly because the caller aggregated
    * first (registry-audit class: global window above an aggregate).
    * NULL p-values (a test that could not run) rank last via a
    * sentinel, are never discoverable, and are flagged `untested` —
    * excluding them from `m` would silently relax every threshold.
    * Determinism: (p, key) rank tiebreak; the threshold q·i/m and the
    * comparison replay textually in both engines; k* is a 1-row
    * aggregate broadcast back (no second ordered pass).
    */
  def benjaminiHochberg(
      df: DataFrame,
      key: Column,
      pValue: Column,
      q: Double = 0.05): DataFrame = {
    // a p-value outside [0, 1] (or NaN) is an invalid test result, not
    // a small one: it is treated exactly like NULL — ranks last, never
    // discoverable, flagged `untested` — rather than trusted by the
    // sentinel ordering (a raw p > 2 would sort AFTER the sentinel and
    // break nulls-rank-last; a p in (1, 2] would consume a rank and
    // silently distort every threshold). The raw value still surfaces
    // in the p_value output column so the caller can see what arrived.
    val t = df.select(key.as("key"), pValue.cast("double").as("p_value"))
      .withColumn("__pv",
        when(col("p_value") >= 0.0 && col("p_value") <= 1.0, col("p_value")))
    val w = Window.orderBy(coalesce(col("__pv"), lit(2.0)).asc, col("key").asc)
    val m = t.agg(count(lit(1)).as("m"))
    val ranked = t.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("bh_threshold", lit(q) * col("rank") / col("m"))
      .withColumn("__c",
        col("__pv").isNotNull && col("__pv") <= col("bh_threshold"))
    val kStar = ranked.agg(
      coalesce(max(when(col("__c"), col("rank"))), lit(0L)).as("__k"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("key"), col("p_value"), col("rank"), col("m"),
        col("bh_threshold"),
        (col("rank") <= col("__k")).as("discovery"),
        col("__pv").isNull.as("untested"))
  }

  def trendFit(
      df: DataFrame,
      key: Column,
      x: Column,
      y: Column): DataFrame = {
    def dec(c: Column): Column = Num.dec(c)
    val m = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(key.as("key"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(x)).as("__sx"),
        sum(dec(y)).as("__sy"),
        sum(dec(x) * dec(y)).as("__sxy"),
        sum(dec(x) * dec(x)).as("__sxx"),
        sum(dec(y) * dec(y)).as("__syy"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxy = col("__sxy").cast("double")
    val sxx = col("__sxx").cast("double")
    val syy = col("__syy").cast("double")
    val varX = n * sxx - sx * sx
    val varY = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    val degenerate = col("n") < 2 || varX === 0.0
    val slope = cov / varX
    val intercept = (sy - slope * sx) / n
    def t6zero(c: Column): Column =
      signum(c) * (floor(abs(c) * 1e6) / 1e6) + 0.0
    val r2 = when(varY === 0.0, 0.0)
      .otherwise(least(lit(1.0), greatest(lit(0.0), cov * cov / (varX * varY))))
    m.select(col("key"), col("n"),
      when(degenerate, 0.0).otherwise(t6zero(slope)).as("slope"),
      when(degenerate, 0.0).otherwise(t6zero(intercept)).as("intercept"),
      when(degenerate, 0.0).otherwise(floor(r2 * 1e4) / 1e4).as("r2"))
  }

  /** Classical seasonal decomposition (additive, moving-average
    * detrend) of a regular per-key series — "is Tuesday's dip seasonal
    * or a real drop?" for event-volume dashboards: value = trend
    * (centered `period`-point moving average, full windows only) +
    * seasonal (per-phase mean of the detrended series, centered so
    * the components sum back) + residual. `period` must be odd (the
    * classical centered-MA simplification; use 25 for hourly/daily
    * with a day's smoothing, 7 for daily/weekly).
    *
    * Shape at scale: one key-partitioned ordered window (trend), one
    * (key, phase) partial agg broadcast back (seasonal), never a
    * global window. Determinism: moving-average and phase means from
    * exact 6-dp decimal sums; trend/seasonal report 4-dp floor;
    * residual = value − trend − seasonal on the TRUNCATED components
    * (toward-zero), so every column replays identically. Edge rows
    * without a full MA window report null trend/residual but still
    * carry their seasonal (flag-not-drop).
    */
  def seasonalDecompose(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1, "period must be odd and >= 3")
    val h = period / 2
    // window refs must use the RENAMED columns, not the caller's
    // expressions (which point at pre-select attribute names)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("bucket")).rowsBetween(-h, h)
    val d = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        value.cast("double").as("value"))
      .withColumn("__n", count(col("value")).over(w))
      .withColumn("__s", sum(Num.dec(col("value"))).over(w))
      .withColumn("trend",
        when(col("__n") === period,
          Num.t4floor(col("__s").cast("double") / period)))
      .withColumn("__detr", col("value") - col("trend"))
      .withColumn("__phase", pmod(col("bucket"), lit(period.toLong)))
    val seasonal = d.filter(col("__detr").isNotNull)
      .groupBy(col("key").as("__sk"), col("__phase").as("__sp"))
      .agg((sum(Num.dec(col("__detr"))).cast("double") /
        count(lit(1))).as("__praw"))
    val grand = seasonal.groupBy(col("__sk").as("__gk"))
      .agg((sum(Num.dec(col("__praw"))).cast("double") /
        count(lit(1))).as("__gmean"))
    d.join(broadcast(seasonal),
        col("key") === col("__sk") && col("__phase") === col("__sp"), "left")
      .join(broadcast(grand), col("key") === col("__gk"), "left")
      .withColumn("seasonal",
        Num.t4zero(coalesce(col("__praw"), lit(0.0)) - coalesce(col("__gmean"), lit(0.0))))
      .withColumn("residual",
        when(col("trend").isNotNull,
          Num.t4zero(col("value") - col("trend") - col("seasonal"))))
      .select(col("key"), col("bucket"), col("value"),
        col("trend"), col("seasonal"), col("residual"))
  }

  /** C100: trend/seasonal STRENGTH diagnostics (Wang, Smith &
    * Hyndman '06) — the one-number readout over [[seasonalDecompose]]
    * that answers "is this series actually seasonal, and how much is
    * trend": with r = residual, on the detrended / deseasonalized
    * reconstructions,
    *
    *   F_trend    = max(0, 1 − Var(r)/Var(trend + r))
    *   F_seasonal = max(0, 1 − Var(r)/Var(seasonal + r))
    *
    * Both in [0, 1]; ~0 = that component explains nothing. Interior
    * rows only (decompose's full-window contract — residual NULL rows
    * are the warmup edges). Determinism: decompose's outputs already
    * sit on the 4-dp grid, so the sums run on EXACT 1e4 integer lanes
    * (19-digit decimal squares — the spearman lanes), the two variance
    * ratios are ONE double derivation each (n² and the 1e8 lane scale
    * cancel), 4-dp floor after the max-with-zero clamp. A component
    * with non-positive reconstruction variance reports 0 + the
    * `degenerate` flag. Returns (key, n, f_trend, f_seasonal,
    * degenerate).
    */
  def decompositionStrength(df: DataFrame, key: Column, bucket: Column,
      value: Column, period: Int): DataFrame = {
    val dec = seasonalDecompose(df, key, bucket, value, period)
      .filter(col("residual").isNotNull)
    def lane(c: Column): Column = round(c * 1e4).cast("long")
    val t = dec.select(col("key"),
      lane(col("residual")).as("__r"),
      lane(col("trend") + col("residual")).as("__tr"),
      lane(col("seasonal") + col("residual")).as("__sr"))
    val m = t.groupBy("key").agg(
      count(lit(1)).as("n"),
      sum(b19(col("__r"))).as("__r1"),
      sum(b19(col("__r")) * b19(col("__r"))).as("__r2"),
      sum(b19(col("__tr"))).as("__t1"),
      sum(b19(col("__tr")) * b19(col("__tr"))).as("__t2"),
      sum(b19(col("__sr"))).as("__s1"),
      sum(b19(col("__sr")) * b19(col("__sr"))).as("__s2"))
    def d(c: Column): Column = c.cast("double")
    def vn(s1: String, s2: String): Column =
      d(col("n")) * d(col(s2)) - d(col(s1)) * d(col(s1))
    val vr = vn("__r1", "__r2")
    val vt = vn("__t1", "__t2")
    val vs = vn("__s1", "__s2")
    def strength(vy: Column): Column =
      when(vy <= 0.0, lit(0.0))
        .otherwise(floor(greatest(lit(0.0), lit(1.0) - vr / vy) * 1e4) / 1e4)
    m.select(col("key"), col("n"),
      strength(vt).as("f_trend"),
      strength(vs).as("f_seasonal"),
      (vt <= 0.0 || vs <= 0.0).as("degenerate"))
  }

  /** Calibration / reliability report for a [0, 1]-scored classifier:
    * `nBins` equal-width score bins, each reporting its count, mean
    * predicted score, empirical positive rate, and |gap|; every row
    * also carries the global expected calibration error (ECE =
    * Σ n_b/N·gap_b) so the one frame is the whole readout. A model
    * can have great AUC and still be badly calibrated — and a
    * curation gate that thresholds on "score ≥ 0.9" is trusting
    * calibration, not ranking.
    *
    * One partial-aggregated groupBy(bin) pass (scores clamp into
    * [0, nBins−1], so out-of-range scores land in the edge bins
    * rather than vanish); mean score and positive rate derive from
    * exact decimal sums and truncate 4 dp (identical doubles both
    * engines → identical gap); ECE sums n·gap in exact decimals over
    * the ≤ nBins-row frame and truncates 4 dp. Null score/label rows
    * are excluded.
    *
    * Returns (bin, n, mean_score, frac_pos, gap, ece) ordered by bin.
    */
  def calibration(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    val y = label.cast("boolean")
    val s = score.cast("double")
    val bin = greatest(lit(0), least(lit(nBins - 1), floor(s * nBins).cast("int")))
    val g = df.filter(score.isNotNull && label.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(Num.dec(s)).as("__ssum"),
        sum(when(y, 1L).otherwise(0L)).as("__pos"))
    val meanScore = Num.t4floor(col("__ssum").cast("double") / col("n"))
    val fracPos = Num.t4floor(col("__pos").cast("double") / col("n"))
    val withGap = g.select(
      col("bin"), col("n"),
      meanScore.as("mean_score"), fracPos.as("frac_pos"),
      abs(meanScore - fracPos).as("gap"))
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    withGap
      .withColumn("ece", Num.t4floor(
        sum(Num.dec(col("gap")) * col("n")).over(all).cast("double") /
          sum(col("n")).over(all)))
      .orderBy("bin")
  }

  /** Murphy decomposition of the Brier score — WHERE a probabilistic
    * classifier's error lives, not just how big it is:
    *
    *   brier ≈ reliability − resolution + uncertainty
    *
    * reliability (miscalibration, lower better) = Σ nₖ/N·(s̄ₖ − ȳₖ)²,
    * resolution (discrimination, higher better) = Σ nₖ/N·(ȳₖ − ȳ)²,
    * uncertainty (task noise floor) = ȳ(1 − ȳ). The diagnostic that
    * says whether to RE-CALIBRATE ([[isotonicCalibration]] fixes
    * reliability) or RE-TRAIN (nothing fixes resolution). The empirical
    * brier = mean (s − y)² reports alongside (the ≈ is exact only for
    * bin-constant forecasts — the binned gap is visible, not hidden).
    *
    * One corpus-sized pass: per-bin (n, Σs, n_pos, Σ(s−y)²-terms) with
    * scores pre-rounded 6 dp and per-row squares truncated 7 dp into
    * exact decimals (order-independent sums); everything after runs on
    * the ≤ nBins frame via one global-window pass (bounded, the ece
    * contract). Output ONE row, 4-dp floors. Scores clamp into the
    * edge bins ([[calibration]]'s contract).
    */
  def brierDecomposition(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    val y = label.cast("boolean")
    val s6 = round(score.cast("double"), 6)
    val bin = greatest(lit(0), least(lit(nBins - 1), floor(s6 * nBins).cast("int")))
    val sqTerm = (floor(
      (s6 - y.cast("int")) * (s6 - y.cast("int")) * 1e7) / 1e7)
      .cast("decimal(28,7)")
    val g = df.filter(score.isNotNull && label.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(Num.dec(s6)).as("__ssum"),
        sum(when(y, 1L).otherwise(0L)).as("__pos"),
        sum(sqTerm).as("__sq"))
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val t = g
      .withColumn("__N", sum(col("n")).over(all))
      .withColumn("__posAll", sum(col("__pos")).over(all))
      .withColumn("__sqAll", sum(col("__sq")).over(all))
      .withColumn("__ybar", col("__posAll").cast("double") / col("__N"))
      .withColumn("__sk", col("__ssum").cast("double") / col("n"))
      .withColumn("__yk", col("__pos").cast("double") / col("n"))
      .withColumn("__rel", (floor(
        (col("__sk") - col("__yk")) * (col("__sk") - col("__yk"))
          * col("n") * 1e7) / 1e7).cast("decimal(28,7)"))
      .withColumn("__res", (floor(
        (col("__yk") - col("__ybar")) * (col("__yk") - col("__ybar"))
          * col("n") * 1e7) / 1e7).cast("decimal(28,7)"))
    t.agg(
      max(col("__N")).as("n"),
      Num.t4floor(max(col("__sqAll")).cast("double") / max(col("__N")))
        .as("brier"),
      Num.t4floor(sum(col("__rel")).cast("double") / max(col("__N")))
        .as("reliability"),
      Num.t4floor(sum(col("__res")).cast("double") / max(col("__N")))
        .as("resolution"),
      Num.t4floor(max(col("__ybar")) * (lit(1.0) - max(col("__ybar"))))
        .as("uncertainty"))
  }

  /** Isotonic calibration by pool-adjacent-violators (PAV) — the FIT
    * half of [[calibration]]'s diagnostic: given scores in [0, 1] and
    * binary outcomes, learn the best monotone (nondecreasing) mapping
    * score → P(y) in the least-squares sense. The standard
    * recalibration for quality/toxicity classifier scores before they
    * gate a corpus (a gate at "p ≥ 0.8" is meaningless if 0.8 means
    * 0.5 empirically).
    *
    * Shape at scale: stage 1 buckets scores into `buckets` fixed-width
    * bins and partial-aggregates (n, n_pos) — the corpus-sized pass,
    * one exchange to a ≤ `buckets`-row frame. Stage 2 runs PAV on that
    * BOUNDED frame in a single-partition kernel (registry-audit class:
    * the aggregate came first; PAV itself is inherently sequential —
    * each pool merge depends on every earlier one). Pool comparisons
    * use exact integer cross-multiplication (BigInt, overflow-proof),
    * so pooling is repr-independent and replayable: merge on STRICT
    * violation (prev rate > cur rate); equal-rate neighbors stay
    * separate pools (the canonical form both engines agree on).
    *
    * Output, one row per non-empty bucket: (bucket, score_lo, n,
    * n_pos, pool_start, pool_n, pool_pos, calibrated) where
    * `calibrated` = pool_pos/pool_n rounded 6 dp — nondecreasing in
    * bucket by construction. Scores outside [0, 1] (or NULL/NaN) are
    * excluded — clamp upstream if they are meaningful.
    */
  def isotonicCalibration(
      df: DataFrame,
      score: Column,
      label: Column,
      buckets: Int = 100): DataFrame = {
    require(buckets >= 2 && buckets <= 100000, "buckets in [2, 100000]")
    // NULL labels are excluded, not counted as negatives — the same
    // contract as [[calibration]] / [[brierDecomposition]]
    val agg = df.select(score.cast("double").as("__s"),
        label.cast("boolean").as("__y"))
      .filter(col("__s") >= 0.0 && col("__s") <= 1.0 && col("__y").isNotNull)
      .withColumn("__b",
        least(floor(col("__s") * buckets), lit((buckets - 1).toLong)).cast("int"))
      .groupBy("__b")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_pos", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pool_start", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("pool_n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pool_pos", org.apache.spark.sql.types.LongType)))
    val pooled = agg.repartition(1).sortWithinPartitions("__b")
      .mapPartitions { rows =>
        final class Pool(var sy: Long, var n: Long) {
          val members = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        }
        val stack = scala.collection.mutable.ArrayBuffer.empty[Pool]
        rows.foreach { r =>
          val bkt = r.getInt(0); val n = r.getLong(1); val sy = r.getLong(2)
          val p = new Pool(sy, n); p.members += ((bkt, n, sy))
          stack += p
          // strict violation: prev rate > cur rate, compared exactly
          while (stack.length >= 2 && {
            val prev = stack(stack.length - 2); val cur = stack.last
            BigInt(prev.sy) * cur.n > BigInt(cur.sy) * prev.n
          }) {
            val top = stack.remove(stack.length - 1)
            val p2 = stack.last
            p2.sy += top.sy; p2.n += top.n; p2.members ++= top.members
          }
        }
        stack.iterator.flatMap { p =>
          val start = p.members.head._1
          p.members.iterator.map { case (bkt, n, sy) =>
            org.apache.spark.sql.Row(bkt, n, sy, start, p.n, p.sy)
          }
        }
      }(org.apache.spark.sql.Encoders.row(schema))
    pooled
      .withColumn("score_lo", col("bucket").cast("double") / buckets)
      .withColumn("calibrated",
        round(col("pool_pos").cast("double") / col("pool_n"), 6))
      .select(col("bucket"), col("score_lo"), col("n"), col("n_pos"),
        col("pool_start"), col("pool_n"), col("pool_pos"), col("calibrated"))
  }

  /** Mutual information between two categoricals (bits) — the
    * feature-selection / leakage metric next to [[chiSquared]]'s
    * yes-no: chi² says WHETHER source and label are dependent, MI says
    * HOW MANY BITS one carries about the other ("does `source` leak
    * the eval split?" wants a magnitude, not a p-value). Reports the
    * marginal entropies alongside and the normalized
    * NMI = MI/√(H(a)·H(b)) ∈ [0, 1] — comparable across tables.
    *
    * Shape at scale: one partial-agg pass to the bounded contingency
    * cells (the chiSquared contract), margins by joins over that
    * bounded frame, per-cell/per-margin terms truncated 7 dp into
    * exact decimal sums; log2 = ln/ln 2 with the constant fixed here
    * (the unigramLogProb ln contract). Degenerate single-valued
    * columns report MI = 0 with NMI = 0 (not a divide-by-zero).
    */
  def mutualInformation(
      df: DataFrame,
      a: Column,
      b: Column): DataFrame = {
    val ln2 = math.log(2.0)
    val cells = df.select(a.cast("string").as("a"), b.cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val ra = cells.groupBy("a").agg(sum(col("n")).as("na"))
    val rb = cells.groupBy("b").agg(sum(col("n")).as("nb"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    def entropy(m: DataFrame, cnt: String): Column =
      sum(Num.t7floor((-(col(cnt).cast("double") / col("nn")))
        * log(col(cnt).cast("double") / col("nn")) / ln2).cast("decimal(20,7)"))
    val ha = ra.crossJoin(broadcast(tot)).agg(entropy(ra, "na").as("__h")).withColumnRenamed("__h", "ha")
    val hb = rb.crossJoin(broadcast(tot)).agg(entropy(rb, "nb").as("__h")).withColumnRenamed("__h", "hb")
    val miTerm = Num.t7floor(col("n").cast("double") / col("nn")
      * log(col("n").cast("double") * col("nn")
        / (col("na").cast("double") * col("nb"))) / ln2)
      .cast("decimal(20,7)")
    // null-safe margin joins: NULL is a real level (the chiSquared /
    // psiByGroup lesson) — a plain equi-join would drop NULL cells
    // from the MI sum while nn / h_a / h_b still count them
    val mi = cells
      .join(broadcast(ra.withColumnRenamed("a", "__ka")), col("a") <=> col("__ka"))
      .join(broadcast(rb.withColumnRenamed("b", "__kb")), col("b") <=> col("__kb"))
      .crossJoin(broadcast(tot))
      .agg(sum(miTerm).as("mi_sum"), max(col("nn")).as("n"))
    mi.crossJoin(ha).crossJoin(hb)
      .select(col("n"),
        (floor(col("mi_sum").cast("double") * 1e4) / 1e4).as("mi"),
        (floor(col("ha").cast("double") * 1e4) / 1e4).as("h_a"),
        (floor(col("hb").cast("double") * 1e4) / 1e4).as("h_b"),
        when(col("ha") > 0 && col("hb") > 0,
          floor(col("mi_sum").cast("double")
            / sqrt(col("ha").cast("double") * col("hb").cast("double")) * 1e4) / 1e4)
          .otherwise(lit(0.0)).as("nmi"))
  }

  /** Bootstrap LIFT interval — [[twoSampleZ]]'s companion that answers
    * the question the z-test dodges: not "is the difference
    * significant" but "how big is it, with what error bars". Each of
    * `b` Poisson resamples ([[graft.operators.Eval.bootstrapCI]]'s
    * RNG-free machinery — same portable hash, same inverse-CDF cuts)
    * re-draws BOTH arms and takes the difference of means; the CI is
    * the rank-based percentile band of those differences, and
    * `p_positive` is the fraction of resamples where treatment beat
    * control — the readout a launch decision actually consumes.
    *
    * One row out. Shape: explode b per row, ONE groupBy on the
    * resample index with conditional sums per arm (no per-arm
    * shuffle), rank window over the ≤ b-row frame. Resamples where
    * either arm drew empty are excluded (reported via n_resamples).
    * Value lanes pre-round 6 dp into exact decimals (the bootstrapCI
    * contract).
    */
  def bootstrapLift(
      df: DataFrame,
      treat: Column,
      id: Column,
      value: Column,
      b: Int = 200,
      level: Double = 0.95): DataFrame = {
    require(b >= 10 && b <= 10000, "b in [10, 10000]")
    require(level > 0 && level < 1, "level in (0,1)")
    val alpha = 1.0 - level
    // scaleOut: same b-way-explode kernel class as bootstrapCI — a
    // single-split source must not run N·b rows in one task
    val base = scaleOut(df.select(treat.cast("boolean").as("__t"),
        id.cast("long").as("__id"), value.cast("double").as("__v"))
      .filter(col("__t").isNotNull && col("__v").isNotNull))
    val vLane = Num.dec(round(col("__v"), 6))
    val point = base.agg(
      coalesce(sum(when(col("__t"), 1L)), lit(0L)).as("n_treat"),
      coalesce(sum(when(!col("__t"), 1L)), lit(0L)).as("n_control"),
      round(sum(when(col("__t"), vLane)).cast("double")
        / sum(when(col("__t"), 1L)), 6).as("mean_treat"),
      round(sum(when(!col("__t"), vLane)).cast("double")
        / sum(when(!col("__t"), 1L)), 6).as("mean_control"))
      .withColumn("lift", round(col("mean_treat") - col("mean_control"), 6))
    // stride 10007 > max b (bootstrapCI's shifted-resample note)
    val bucket = graft.operators.Sampling.hashBucket(
      col("__id") * 10007L + col("__r"))
    val cuts = graft.operators.Eval.poissonCuts
    val weight = cuts.zipWithIndex.foldRight(lit(cuts.size)) {
      case ((cut, w), rest) => when(bucket <= cut, lit(w)).otherwise(rest)
    }
    val diffs = base
      .withColumn("__r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__w", weight)
      .groupBy("__r")
      .agg(
        sum(when(col("__t"), col("__w"))).as("__wt"),
        sum(when(col("__t"), vLane * col("__w"))).as("__wvt"),
        sum(when(!col("__t"), col("__w"))).as("__wc"),
        sum(when(!col("__t"), vLane * col("__w"))).as("__wvc"))
      .filter(col("__wt") > 0 && col("__wc") > 0)
      .select(col("__r"),
        round(col("__wvt").cast("double") / col("__wt")
          - col("__wvc").cast("double") / col("__wc"), 6).as("__d"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("__d").asc, col("__r").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val ranked = diffs
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__beff", count(lit(1)).over(wAll))
      .withColumn("__lo_rk",
        greatest(lit(1L), ceil(lit(alpha / 2) * col("__beff"))))
      .withColumn("__hi_rk", ceil(lit(1.0 - alpha / 2) * col("__beff")))
    val ci = ranked.agg(
      max(when(col("__rk") === col("__lo_rk"), col("__d"))).as("ci_lo"),
      max(when(col("__rk") === col("__hi_rk"), col("__d"))).as("ci_hi"),
      round(coalesce(sum(when(col("__d") > 0, 1L)), lit(0L)).cast("double")
        / max(col("__beff")), 4).as("p_positive"),
      coalesce(max(col("__beff")), lit(0L)).as("n_resamples"))
    point.crossJoin(ci)
      .select(col("n_treat"), col("n_control"), col("mean_treat"),
        col("mean_control"), col("lift"), col("ci_lo"), col("ci_hi"),
        col("p_positive"), col("n_resamples"))
  }

  /** Sample-ratio-mismatch check — the validity gate that runs BEFORE
    * any experiment readout ([[twoSampleZ]], [[cuped]]): a χ²
    * goodness-of-fit of observed arm counts against the DECLARED
    * allocation (not the independence test — [[chiSquared]] — which
    * asks a different question). An experiment whose traffic split
    * disagrees with its design is biased in ways no downstream
    * correction fixes, so the standard practice is a tiny α — the
    * default `critical` 10.828 is χ²(1) at α=0.001 for a two-arm
    * split; callers with k arms pass the χ²(k−1) value for their α.
    *
    * Output: one row per DECLARED arm (n_obs, n_expected = frac·N,
    * the arm's χ² term) plus one row per UNDECLARED observed arm
    * (frac/term NULL — its existence alone flags the experiment:
    * traffic in an arm the design doesn't know about IS a mismatch);
    * every row carries the totals (chi2, dof = k−1, srm_flagged,
    * degenerate = no observations in any declared arm). N counts
    * declared arms only. χ² terms ride 7-dp decimal lanes (the
    * chiSquared contract); one partial-agg pass, config-sized frames
    * after it.
    */
  def srmCheck(df: DataFrame, group: Column,
      expected: Seq[(String, Double)],
      critical: Double = 10.828): DataFrame =
    srmCheckCounts(
      df.select(group.cast("string").as("grp"))
        .where(col("grp").isNotNull)
        .groupBy("grp").agg(count(lit(1)).as("n_obs")),
      expected, critical)

  /** [[srmCheck]] over PRE-AGGREGATED (grp, n_obs) counts — the entry
    * point for maintained count tables (the E31 streaming cells, a
    * persisted assignment ledger): same math, same output.
    */
  def srmCheckCounts(counts: DataFrame,
      expected: Seq[(String, Double)],
      critical: Double = 10.828): DataFrame = {
    require(expected.nonEmpty, "expected allocation must be non-empty")
    require(expected.map(_._1).distinct.size == expected.size,
      "duplicate arm in expected")
    require(expected.forall(_._2 > 0), "expected fractions must be > 0")
    require(math.abs(expected.map(_._2).sum - 1.0) < 1e-9,
      "expected fractions must sum to 1")
    val spark = counts.sparkSession
    import spark.implicits._
    val expDf = expected.toDF("grp", "frac")
    val arms = expDf
      .join(counts.select(col("grp"), col("n_obs")), Seq("grp"), "full_outer")
      .select(col("grp"), col("frac"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .localCheckpoint() // three consumers: N, terms, report
    val tot = arms.agg(
      coalesce(sum(when(col("frac").isNotNull, col("n_obs"))), lit(0L)).as("__N"),
      coalesce(sum(when(col("frac").isNull, lit(1L))), lit(0L)).as("__n_undeclared"))
    val j = arms.crossJoin(broadcast(tot))
    val nExp = col("frac") * col("__N").cast("double")
    val term = when(col("frac").isNotNull && col("__N") > 0,
      (col("n_obs").cast("double") - nExp) * (col("n_obs").cast("double") - nExp)
        / nExp)
    val withTerm = j.withColumn("__term", term).localCheckpoint()
    val chi = withTerm.agg(
      coalesce(sum((floor(col("__term") * 1e7) / 1e7).cast("decimal(20,7)")),
        lit(0).cast("decimal(20,7)")).as("__chi2"))
    val out = withTerm.crossJoin(broadcast(chi))
    val chi2 = floor(col("__chi2").cast("double") * 1e4) / 1e4
    val degenerate = col("__N") === 0
    val flagged = !degenerate &&
      (col("__n_undeclared") > 0 || col("__chi2").cast("double") > critical)
    out.select(col("grp"),
      col("n_obs"),
      Num.t4floor(col("frac")).as("frac_expected"),
      when(col("frac").isNotNull, Num.t4floor(nExp)).as("n_expected"),
      Num.t4floor(col("__term")).as("chi2_term"),
      chi2.as("chi2"),
      lit(expected.size.toLong - 1L).as("dof"),
      flagged.as("srm_flagged"),
      degenerate.as("degenerate"))
  }

  /** Distribution-free quantile confidence interval from ORDER
    * STATISTICS — the median-CI answer that needs no resampling
    * ([[graft.operators.Eval.bootstrapCI]] covers means; a bootstrap
    * for a corpus-scale median costs B full passes, this costs one):
    * the number of observations ≤ the true q-quantile is
    * Binomial(n, q), so the interval is a pair of ranks around n·q,
    *
    *   rank_lo = max(1, ⌊nq − z·√(nq(1−q))⌋)
    *   rank_hi = min(n, ⌈nq + z·√(nq(1−q))⌉ + 1)
    *
    * (the classic normal-approximation bracket; z = 1.96 ≈ 95%),
    * and the CI endpoints are the DATA VALUES at those ranks —
    * reported exactly, no rounding, since a rank picks the same
    * value on any engine regardless of how row_number breaks ties
    * between equal values. Point estimate = the type-1 quantile
    * x_(⌈nq⌉). Per-group windows only; the rank frame is
    * group-sized and broadcasts.
    *
    * CARDINALITY CONTRACT (the r16 keyed-window sweep): this is the
    * one operator left whose keyed window sorts ROW-LEVEL data and
    * cannot be group-limited — a mid-rank pick (rank_lo ≈ n·q) needs
    * the whole ordered group, unlike top-k shapes which Spark 4
    * rewrites to WindowGroupLimitExec (see [[hillTail]]). Every row
    * of a group therefore passes through one task's window sort:
    * exact order statistics over few, huge groups serialize by
    * construction. That is inherent to EXACT rank CIs, not a plan
    * bug; at 100 TB with low-cardinality groups use the sketch path
    * (`approx_percentile` / the C14 KLL tier) and keep this for
    * group sizes a task can sort.
    */
  def quantileCI(df: DataFrame, group: Column, value: Column,
      q: Double = 0.5, z: Double = 1.96): DataFrame = {
    require(q > 0 && q < 1, "q in (0, 1)")
    require(z > 0, "z must be positive")
    val t = df.select(group.cast("string").as("__g"),
        value.cast("double").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
    // ONE pass (r17, guide §2.2): the old shape computed per-group
    // counts in a SEPARATE groupBy branch and broadcast-joined them
    // back — evaluating the entire input subtree twice. For callers
    // whose input is itself expensive (theilSen/mannKendall feed the
    // QUADRATIC pairwise-slope frame in here), that doubled the
    // dominant stage. count(*) over the same (partition, order) spec
    // with an explicit full frame rides the row_number window's
    // exchange+sort (WindowExec groups frames by spec — one operator,
    // one buffering of the already-buffered partition), so n,
    // rank_lo/hi/pt become per-row expressions and the input is
    // scanned once. Same ranks, same picked values, same output.
    val w = Window.partitionBy("__g").orderBy(col("__v").asc)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nd = col("n").cast("double")
    val se = lit(z) * sqrt(nd * lit(q) * lit(1 - q))
    t.withColumn("__r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rank_lo", greatest(lit(1L), floor(nd * lit(q) - se)))
      .withColumn("rank_hi", least(col("n"), ceil(nd * lit(q) + se) + lit(1L)))
      .withColumn("rank_pt", greatest(lit(1L), ceil(nd * lit(q))))
      .filter(col("__r") === col("rank_lo") || col("__r") === col("rank_hi") ||
        col("__r") === col("rank_pt"))
      .groupBy("__g").agg(
        max(col("n")).as("n"),
        min(when(col("__r") === col("rank_pt"), col("__v"))).as("point"),
        min(when(col("__r") === col("rank_lo"), col("__v"))).as("ci_lo"),
        min(when(col("__r") === col("rank_hi"), col("__v"))).as("ci_hi"),
        max(col("rank_lo")).as("rank_lo"), max(col("rank_hi")).as("rank_hi"))
      .select(col("__g").as("grp"), col("n"), lit(q).as("q"), col("point"),
        col("ci_lo"), col("ci_hi"), col("rank_lo"), col("rank_hi"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13) — the experiment
    * readout that borrows a pre-period covariate to shrink metric
    * variance: θ = cov(x, y)/var(x) pooled over ALL units (the
    * shared-θ form, so the adjustment can never leak treatment
    * signal), adjusted metric y − θ(x − x̄). Per group reports raw vs
    * adjusted mean and SAMPLE variance plus the realized
    * variance_reduction = 1 − var_adj/var_raw — the number that says
    * how much experiment runtime the covariate buys.
    *
    * Nothing per-row ever carries a double: group moments (Σy, Σx,
    * Σxy, Σxx, Σyy) accumulate on exact 6-dp decimal lanes
    * (q_correlations' contract), pooled sums are sums of group sums
    * (exact), and the adjusted moments derive ALGEBRAICALLY —
    * mean_adj = ȳ_g − θ(x̄_g − x̄), var_adj = var_y − 2θ·cov_g + θ²·var_x
    * (the variance of the adjusted variable, so ≥ 0 for any θ) — a
    * fixed double expression over exact inputs, identical IEEE on
    * both engines. Zero pooled covariate variance degenerates to
    * θ = 0 (report equals raw) + the flag; n < 2 groups report NULL
    * variances. 4-dp floors.
    *
    * Shape at scale: ONE partial-agg moments pass, pooled θ from the
    * summed group frame (bounded by |groups|), a broadcast join back,
    * one projection.
    */
  def cuped(df: DataFrame, group: Column, metric: Column,
      covariate: Column): DataFrame = {
    val t = df.select(group.cast("string").as("__g"),
        metric.cast("double").as("__y"), covariate.cast("double").as("__x"))
      .where(col("__g").isNotNull && col("__y").isNotNull &&
        col("__x").isNotNull)
    val g = t.groupBy("__g").agg(
        count(lit(1)).as("n"),
        sum(Num.dec(col("__y"))).as("sy"), sum(Num.dec(col("__x"))).as("sx"),
        sum(Num.dec(col("__x")) * Num.dec(col("__y"))).as("sxy"),
        sum(Num.dec(col("__x")) * Num.dec(col("__x"))).as("sxx"),
        sum(Num.dec(col("__y")) * Num.dec(col("__y"))).as("syy"))
      .localCheckpoint() // two consumers: pooled θ + the per-group report
    val pooled = g.agg(sum(col("n")).as("__nn"), sum(col("sy")).as("__py"),
      sum(col("sx")).as("__px"), sum(col("sxy")).as("__pxy"),
      sum(col("sxx")).as("__pxx"))
    val j = g.crossJoin(broadcast(pooled))
    val nn = col("__nn").cast("double")
    val px = col("__px").cast("double"); val py = col("__py").cast("double")
    val covP = nn * col("__pxy").cast("double") - px * py
    val varP = nn * col("__pxx").cast("double") - px * px
    val theta = when(varP > 0d, covP / varP).otherwise(lit(0.0))
    val xbar = px / nn
    val n = col("n").cast("double")
    val sy = col("sy").cast("double"); val sx = col("sx").cast("double")
    val meanRaw = sy / n
    val meanAdj = meanRaw - theta * (sx / n - xbar)
    val den = n * (n - lit(1.0))
    val varRaw = (n * col("syy").cast("double") - sy * sy) / den
    val covG = (n * col("sxy").cast("double") - sx * sy) / den
    val varGx = (n * col("sxx").cast("double") - sx * sx) / den
    val varAdj = varRaw - theta * covG * 2d + theta * theta * varGx
    j.select(col("__g").as("grp"), col("n"),
      Num.t4floor(meanRaw).as("mean_raw"),
      Num.t4floor(meanAdj).as("mean_adj"),
      when(col("n") >= 2, Num.t4floor(varRaw)).as("var_raw"),
      when(col("n") >= 2, Num.t4floor(varAdj)).as("var_adj"),
      when(col("n") >= 2 && varRaw > 0d,
        Num.t4floor(lit(1.0) - varAdj / varRaw)).as("var_reduction"),
      Num.t4floor(theta).as("theta"),
      (varP <= 0d).as("degenerate"))
  }

  /** Kaplan-Meier survival estimator per group — the churn/retention
    * curve over right-censored durations ("how long do users stay
    * active, given some are still active at observation end?").
    * Input: one row per subject with an integer `duration` and an
    * `observed` flag (true = the terminal event happened; false =
    * censored at `duration`).
    *
    * Shape at scale: subjects collapse to the ≤(groups × distinct
    * durations) life table in ONE partial-aggregated groupBy; the
    * risk set and survival walk are keyed windows over that BOUNDED
    * frame, never the subject table. Survival is a cumulative
    * PRODUCT — order-dependent in floating point — so it runs as
    * exp(Σ ln f_t) with each per-time log-factor truncated to 9 dp
    * into an exact decimal before the window sum: both engines add
    * identical decimals and exponentiate the identical double. A risk
    * set that dies out entirely (d = n) has ln 0 = −∞; the absorbing
    * state is carried as an explicit flag (cumulative max) and pins
    * survival to 0.0 from that time on.
    *
    * Returns one row per (group, duration with ≥1 terminal event):
    * (grp, t, n_risk, n_event, n_censor, survival), survival 6-dp
    * floored.
    */
  def kaplanMeier(
      df: DataFrame,
      group: Column,
      duration: Column,
      observed: Column): DataFrame = {
    val life = df
      .filter(duration.isNotNull && observed.isNotNull)
      .groupBy(group.as("grp"), duration.cast("long").as("t"))
      .agg(
        sum(when(observed.cast("boolean"), 1L).otherwise(0L)).as("n_event"),
        sum(when(observed.cast("boolean"), 0L).otherwise(1L)).as("n_censor"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("t")
    val prior = w.rowsBetween(Long.MinValue, -1)
    val upto = w.rowsBetween(Long.MinValue, 0)
    val total = sum(col("n_event") + col("n_censor"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy("grp"))
    val atRisk = total - coalesce(
      sum(col("n_event") + col("n_censor")).over(prior), lit(0L))
    // ln(1 - d/n) truncated 9 dp into an exact decimal: the window sum
    // is then order-independent, and exp of the identical double is
    // engine-identical. d = n (risk set dies out) is the absorbing
    // zero, flagged and excluded from the log walk.
    val staged = life
      .withColumn("__n", atRisk)
      .withColumn("__dead", col("n_event") === col("__n"))
      .withColumn("__lf",
        when(col("__dead"), lit(null))
          .otherwise((floor(
            log(lit(1.0) - col("n_event").cast("double") /
              col("__n").cast("double")) * 1e9) / 1e9).cast("decimal(28,9)")))
      .withColumn("__zero", max(col("__dead")).over(upto))
      .withColumn("__ls", sum(col("__lf")).over(upto))
    staged
      .filter(col("n_event") > 0)
      .select(
        col("grp"), col("t"), col("__n").as("n_risk"),
        col("n_event"), col("n_censor"),
        when(col("__zero"), lit(0.0))
          .otherwise(floor(exp(col("__ls").cast("double")) * 1e6) / 1e6)
          .as("survival"))
  }

  /** Log-rank test: do two groups share a survival curve? The
    * hypothesis-test companion of [[kaplanMeier]] (Mantel-Haenszel
    * form). At each distinct event time t: e1 = n1·d/n is group A's
    * expected events under H0, v the hypergeometric variance; the
    * statistic (Σ(d1−e1))²/Σv is χ²(1).
    *
    * Same bounded life-table shape as [[kaplanMeier]]; the per-time
    * O−E and variance terms derive in double with a fixed operation
    * order, truncate at 7 dp into exact decimals, and sum
    * order-independently. Times with n < 2 or d = 0 contribute
    * nothing (v = 0 there). Returns ONE row: (n_a, n_b, chi2,
    * significant, degenerate) — chi2 4-dp floored, 5% critical value
    * 3.841.
    */
  def logRank(
      df: DataFrame,
      group: Column,
      duration: Column,
      observed: Column,
      groupA: String,
      groupB: String): DataFrame = {
    val inA = group === groupA
    val life = df
      .filter(duration.isNotNull && observed.isNotNull &&
        (group === groupA || group === groupB))
      .groupBy(duration.cast("long").as("t"))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("__na"),
        sum(when(!inA, 1L).otherwise(0L)).as("__nb"),
        sum(when(inA && observed.cast("boolean"), 1L).otherwise(0L)).as("__da"),
        sum(when(!inA && observed.cast("boolean"), 1L).otherwise(0L)).as("__db"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
      .rowsBetween(Long.MinValue, -1)
    val tw = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val staged = life
      .withColumn("__r1",
        sum(col("__na")).over(tw) - coalesce(sum(col("__na")).over(w), lit(0L)))
      .withColumn("__r2",
        sum(col("__nb")).over(tw) - coalesce(sum(col("__nb")).over(w), lit(0L)))
    val n1 = col("__r1").cast("double")
    val n = (col("__r1") + col("__r2")).cast("double")
    val d = (col("__da") + col("__db")).cast("double")
    val oe = col("__da").cast("double") - n1 * d / n
    val v = d * (n1 / n) * (lit(1.0) - n1 / n) *
      try_divide(n - d, n - 1.0)
    val terms = staged
      .filter(col("__da") + col("__db") > 0 && col("__r1") + col("__r2") >= 2)
      .select(
        (floor(oe * 1e7) / 1e7).cast("decimal(28,7)").as("__oe"),
        (floor(coalesce(v, lit(0.0)) * 1e7) / 1e7).cast("decimal(28,7)").as("__v"),
        col("__na"), col("__nb"))
    val m = df
      .filter(duration.isNotNull && observed.isNotNull &&
        (group === groupA || group === groupB))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!inA, 1L).otherwise(0L)).as("n_b"))
    val agg = terms.agg(
      coalesce(sum(col("__oe")), lit(0).cast("decimal(28,7)")).as("__soe"),
      coalesce(sum(col("__v")), lit(0).cast("decimal(28,7)")).as("__sv"))
    val soe = col("__soe").cast("double")
    val sv = col("__sv").cast("double")
    val degenerate = col("n_a") === 0 || col("n_b") === 0 || sv <= 0.0
    m.crossJoin(broadcast(agg)).select(
      col("n_a"), col("n_b"),
      when(degenerate, 0.0).otherwise(floor(soe * soe / sv * 1e4) / 1e4)
        .as("chi2"),
      (!degenerate && soe * soe / sv > 3.841).as("significant"),
      degenerate.as("degenerate"))
  }

  /** Cliff's delta — the ORDINAL effect size next to [[effectSize]]'s
    * standardized-difference family: δ = (#(a>b) − #(a<b)) / (n_a·n_b)
    * ∈ [−1, 1], assumption-free where Cohen's d assumes comparable
    * variances. Derived WITHOUT the quadratic pair walk from the same
    * bounded rank frame as [[mannWhitney]]: 2U = Σ_v na_v·(2·cumB_v +
    * nb_v) counts every (a>b) pair twice and every tie once, so
    * δ = (2U − n_a·n_b) / (n_a·n_b) exactly, in integer lanes.
    *
    * Returns ONE row: (n_a, n_b, delta, magnitude, degenerate) —
    * delta 4-dp toward-zero, magnitude the standard |δ| bands
    * (0.147 / 0.33 / 0.474 — Romano et al.).
    */
  def cliffsDelta(
      df: DataFrame,
      value: Column,
      inGroupA: Column,
      dp: Int = 6): DataFrame = {
    val a = inGroupA.cast("boolean")
    val g = quantizedSides(df.filter(value.isNotNull && inGroupA.isNotNull), value, dp, a, !a)
    val contrib = withCumB(g).select(twiceU.as("__u2"), col("__na"), col("__nb"))
    val m = contrib.agg(
      coalesce(sum(col("__u2")), lit(0L).cast("decimal(38,0)")).as("__u2"),
      coalesce(sum(col("__na")), lit(0L)).as("__na"),
      coalesce(sum(col("__nb")), lit(0L)).as("__nb"))
    val prod = (b19(col("__na")) * b19(col("__nb"))).cast("decimal(38,0)")
    val degenerate = col("__na") === 0 || col("__nb") === 0
    val delta = when(degenerate, lit(0.0)).otherwise(
      Num.t4zero((col("__u2") - prod).cast("double") /
        (col("__na").cast("double") * col("__nb").cast("double"))))
    m.select(
      col("__na").as("n_a"), col("__nb").as("n_b"), delta.as("delta"),
      when(abs(delta) < 0.147, "negligible")
        .when(abs(delta) < 0.33, "small")
        .when(abs(delta) < 0.474, "medium")
        .otherwise("large").as("magnitude"),
      degenerate.as("degenerate"))
  }

  /** 1-D Wasserstein distance (earth mover's) between two samples —
    * W₁ = ∫|F_a − F_b| dx: "how much mass must move, and how far, to
    * turn this week's value distribution into last week's". The
    * actionable-units companion of [[ksTest]] (supremum gap) and
    * [[Profile.psi]] (binned log drift): W₁ carries the VALUE scale,
    * so a 2× shift in spend reads in dollars.
    *
    * Same bounded ordered pass as [[ksTest]]: quantize to `dp`
    * decimals, ONE partial-aggregated groupBy(value) with per-side
    * conditional counts, cumulative window over the ≤10^dp-row frame.
    * Per-interval terms |cumA·NB − cumB·NA| / (NA·NB) · gap keep the
    * numerator in exact integer lanes (the argproduct is
    * engine-independent), truncate at 9 dp into decimals, and sum
    * order-independently. Returns ONE row: (n_a, n_b, emd) — 6-dp
    * floored.
    */
  def wasserstein1d(
      df: DataFrame,
      group: Column,
      value: Column,
      groupA: String,
      groupB: String,
      dp: Int = 4): DataFrame = {
    val (cum, tot) = ecdf(quantizedSides(
      df.filter(value.isNotNull && (group === groupA || group === groupB)),
      value, dp, group === groupA, group === groupB))
    // try_divide BY CONSTRUCTION: with one side empty these rows still
    // evaluate (the degenerate guard is downstream) and NA·NB = 0
    val terms = cum
      .withColumn("__gap", lead(col("__v"), 1).over(Window.orderBy("__v")) - col("__v"))
      .filter(col("__gap").isNotNull)
      .crossJoin(broadcast(tot))
      .select((floor(
        try_divide(ecdfGap.cast("double"),
          col("__ta").cast("double") * col("__tb").cast("double")) *
          col("__gap") * 1e9) / 1e9).cast("decimal(28,9)").as("__t"))
    val s = terms.agg(
      coalesce(sum(col("__t")), lit(0).cast("decimal(28,9)")).as("__s"))
    val degenerate = col("__ta") === 0 || col("__tb") === 0
    tot.crossJoin(broadcast(s)).select(
      col("__ta").as("n_a"), col("__tb").as("n_b"),
      when(degenerate, 0.0)
        .otherwise(floor(col("__s").cast("double") * 1e6) / 1e6).as("emd"))
  }

  /** Hill tail-index estimator per key — "is this metric heavy-tailed,
    * and how heavy?" The power-law exponent α governs whether means
    * and variances even exist (α ≤ 2: infinite variance — sampling
    * and CI machinery silently break), so this is the diagnostic to
    * run BEFORE trusting [[bootstrapCi]] on spend-like columns.
    * H = (1/k)·Σ_{i≤k} ln(x_(i) / x_(k+1)) over the k largest order
    * statistics; α̂ = 1/H.
    *
    * Shape at scale: one keyed top-(k+1) window (rank, never a global
    * sort) over positive values; the k log-excess terms truncate at
    * 9 dp into exact decimals and sum order-independently. Keys with
    * fewer than k+2 positive values report degenerate (a tail index
    * needs a tail) — including n = 1 keys, which anchor a degenerate
    * row rather than vanishing. Ties at the rank-k boundary are
    * order-NONdeterministic (value-desc only) but result-invariant:
    * tied rows carry identical values, so whichever lands inside the
    * prefix contributes the same log-excess and the per-key SUM (and
    * the threshold value x_(k+1)) is the same under any tie
    * permutation. Returns one row per key:
    * (key, n, k_used, hill_h, alpha, degenerate) — 4-dp floored.
    */
  def hillTail(
      df: DataFrame,
      key: Column,
      value: Column,
      k: Int = 50): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val t = df.select(key.as("key"), value.cast("double").as("__x"))
      .filter(col("__x").isNotNull && col("__x") > 0.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("__x").desc)
    // The per-key positive count comes from a partial-aggregated
    // groupBy joined back AFTER the rank filter — NOT from
    // count(*).over(partitionBy key). The window form forced every
    // row of a key through one task's window buffer (key here is
    // typically low-cardinality: a handful of tasks each sort-
    // buffering the whole corpus at scale), and the interposed count
    // window also sat between the rank window and its filter, which
    // blocks Spark 4's InferWindowGroupLimit rewrite. With the filter
    // DIRECTLY above row_number, WindowGroupLimitExec runs a partial
    // top-(k+1) per map task, so the per-key sort never materializes
    // more than k+1 rows on any task.
    val counts = t.groupBy("key").agg(count(lit(1)).as("__n"))
    val ranked = t
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k + 1)
      .join(counts, "key")
    val thresh = ranked.filter(col("__r") === least(lit(k + 1), col("__n")))
      .select(col("key"), col("__x").as("__xk"), col("__n"))
    val kept = ranked.join(thresh.drop("__n"), "key")
      .filter(col("__r") < least(lit(k + 1), col("__n")))
      .select(col("key"), col("__n"),
        (floor(log(col("__x") / col("__xk")) * 1e9) / 1e9)
          .cast("decimal(28,9)").as("__t"))
    // anchor on thresh (one row per key with >=1 positive value), so a
    // key with a single positive value reports its degenerate row
    // instead of vanishing when `kept` is empty for it
    val m0 = kept.groupBy("key").agg(
      count(lit(1)).as("k_used"),
      sum(col("__t")).as("__s"))
    val m = thresh.select(col("key"), col("__n").as("n"))
      .join(m0, Seq("key"), "left")
      .select(col("key"), col("n"),
        coalesce(col("k_used"), lit(0L)).as("k_used"), col("__s"))
    val h = try_divide(col("__s").cast("double"), col("k_used").cast("double"))
    val degenerate = col("n") < k + 2 || coalesce(h, lit(0.0)) <= 0.0
    m.select(
      col("key"), col("n"), col("k_used"),
      when(degenerate, 0.0).otherwise(floor(h * 1e4) / 1e4).as("hill_h"),
      when(degenerate, 0.0).otherwise(floor(try_divide(lit(1.0), h) * 1e4) / 1e4)
        .as("alpha"),
      degenerate.as("degenerate"))
  }

  /** Stationary distribution of the empirical behavior Markov chain —
    * "where does a user's session END UP spending its time?" The
    * long-run companion of the one-step transition matrix
    * ([[Behavior.transitionMatrix]]'s shape): π = πP by fixed-point
    * power iteration.
    *
    * Shape at scale: transition counts are ONE partial-aggregated
    * pass over per-user consecutive event pairs (a keyed window lag —
    * the C69 shape); the resulting k×k matrix is config-sized (k =
    * event vocabulary) and collects as DRIVER METADATA (the IVF
    * centroid / BPE-merge contract — model data never does this, the
    * state space does). The iteration runs `iters` fixed rounds with
    * per-entry 12-dp truncation — a pure function of the counts, so
    * any engine replaying the same walk lands on identical decimals.
    * Rows with absorbing states (no outgoing transitions) self-loop —
    * the standard stochastic-completion, keeping P row-stochastic.
    *
    * Returns one row per state: (state, n_out, stationary) — 6-dp
    * floored, plus is_absorbing.
    */
  def markovStationary(
      df: DataFrame,
      subject: Column,
      order: Column,
      state: Column,
      tiebreak: Column,
      iters: Int = 50): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy("__o", "__tb")
    val pairs = df
      // tiebreak joins the filter: a null tiebreak would make the
      // (order, tiebreak) window ordering nondeterministic when order
      // values tie, so transition counts could vary across runs —
      // rows without a usable tiebreak are excluded, not ordered
      // arbitrarily (the determinism contract above)
      .filter(subject.isNotNull && order.isNotNull && state.isNotNull &&
        tiebreak.isNotNull)
      .select(subject.as("__u"), order.as("__o"), tiebreak.as("__tb"),
        state.cast("string").as("__s"))
      .withColumn("__next", lead(col("__s"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("__s").as("from"), col("__next").as("to"))
      .agg(count(lit(1)).as("cnt"))
    // driver metadata: the k×k count matrix (k = event vocabulary)
    val rows = pairs.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val states = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    val idx = states.zipWithIndex.toMap
    val k = states.length
    val outTot = new Array[Long](k)
    val cntM = Array.fill(k, k)(0L)
    rows.foreach { case (f, t, c) =>
      cntM(idx(f))(idx(t)) += c
      outTot(idx(f)) += c
    }
    // absorbing states self-loop (row-stochastic completion)
    val p = Array.tabulate(k, k) { (i, j) =>
      if (outTot(i) == 0L) { if (i == j) 1.0 else 0.0 }
      else cntM(i)(j).toDouble / outTot(i).toDouble
    }
    // the walk runs on 1e12 integer micro-lanes: each product
    // floor(pi_i/1e12 * p_ij * 1e12) is an exact long, the per-state
    // sum is exact integer addition (order-free), so the oracle's
    // recursive-CTE replay lands on identical micros every round
    val micro = 1000000000000L
    var pi: Array[Long] = Array.fill(k)(micro / k)
    var it = 0
    while (it < iters) {
      val nx = new Array[Long](k)
      var j = 0
      while (j < k) {
        var acc = 0L
        var i = 0
        while (i < k) {
          acc += math.floor(pi(i).toDouble / 1e12 * p(i)(j) * 1e12).toLong
          i += 1
        }
        nx(j) = acc
        j += 1
      }
      pi = nx
      it += 1
    }
    import spark.implicits._
    states.zipWithIndex.toSeq.map { case (s, i) =>
      (s, outTot(i), math.floor(pi(i).toDouble / 1e12 * 1e6) / 1e6,
        outTot(i) == 0L)
    }.toDF("state", "n_out", "stationary", "is_absorbing")
  }

  /** Sign-flip randomization test on paired differences — the
    * distribution-free p-value for "do subjects score higher under A
    * than B?" with no normality assumption and NO RNG: permutation b
    * flips subject u's difference by the PARITY of the integer hash
    * of (u·(B+1) + b), so every engine, run, and backfill sees the
    * identical B pseudo-permutations (determinism-as-a-scale-feature,
    * the D18 split contract applied to inference).
    *
    * Shape at scale: per-subject paired means in one groupBy, each
    * difference truncated 6 dp into an exact decimal; the B
    * permutation sums are ONE explode(×B) + partial-aggregated
    * groupBy over subjects — B bounded (default 64), so the explode
    * is a constant fan-out, and T_obs rides the b = 0 identity
    * permutation. p = (1 + #{|T_b| ≥ |T_obs|, b ≥ 1}) / (B + 1), the
    * add-one-smoothed two-sided estimate.
    *
    * Returns ONE row: (n_subjects, t_obs, n_perms, p_value,
    * significant) — t_obs 4-dp toward-zero.
    */
  def signFlipTest(
      df: DataFrame,
      subject: Column,
      group: Column,
      value: Column,
      groupA: String,
      groupB: String,
      b: Int = 64): DataFrame = {
    require(b >= 1 && b <= 4096, "b in [1, 4096]")
    // per-side means via exact decimal sums (a raw double avg's value
    // depends on partial-aggregation order), ONE double division each
    val diffs = df
      // subject must survive the long cast, not merely be non-null: a
      // non-integral subject would otherwise either throw (ANSI) or
      // cast to null and collapse every such row into ONE null
      // pseudo-subject whose pooled means silently enter the test as
      // a single paired difference — try_cast + isNotNull excludes
      // unparseable subjects instead of merging (or killing) them
      .filter(subject.try_cast("long").isNotNull && value.isNotNull &&
        (group === groupA || group === groupB))
      .groupBy(subject.try_cast("long").as("__u"))
      .agg(
        sum(when(group === groupA, value.cast("decimal(18,6)"))).as("__sa"),
        sum(when(group === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(group === groupB, value.cast("decimal(18,6)"))).as("__sb"),
        sum(when(group === groupB, 1L).otherwise(0L)).as("__cb"))
      .filter(col("__sa").isNotNull && col("__sb").isNotNull)
      .select(col("__u"),
        (floor((col("__sa").cast("double") / col("__ca").cast("double") -
          col("__sb").cast("double") / col("__cb").cast("double")) * 1e6) / 1e6)
          .cast("decimal(24,6)").as("__d"))
    val perms = diffs
      .select(col("__u"), col("__d"),
        explode(sequence(lit(0), lit(b))).as("__b"))
      .select(col("__b"),
        // b = 0 is the identity permutation (T_obs); b >= 1 flips by
        // hash parity — replayed exactly by the oracle's hashModSql
        when(col("__b") === 0, col("__d"))
          .when(Sampling.hashMod(col("__u") * (b + 1) + col("__b"), lit(2L)) === 0,
            col("__d"))
          .otherwise(-col("__d")).as("__sd"))
      .groupBy("__b")
      .agg(sum(col("__sd")).as("__t"))
    val tobs = perms.filter(col("__b") === 0)
      .select(col("__t").as("__tobs"))
    val m = perms.filter(col("__b") > 0)
      .crossJoin(broadcast(tobs))
      .agg(
        count(lit(1)).as("n_perms"),
        sum(when(abs(col("__t")) >= abs(col("__tobs")), 1L).otherwise(0L))
          .as("__ge"),
        first(col("__tobs")).as("__tobs"))
    val nsub = diffs.agg(count(lit(1)).as("n_subjects"))
    val p = (col("__ge") + 1L).cast("double") /
      (col("n_perms") + 1L).cast("double")
    nsub.crossJoin(broadcast(m)).select(
      col("n_subjects"),
      Num.t4zero(col("__tobs").cast("double")).as("t_obs"),
      col("n_perms"),
      (floor(p * 1e6) / 1e6).as("p_value"),
      (floor(p * 1e6) / 1e6 < 0.05).as("significant"))
  }

  /** Page-Hinkley drift monitor per key — the sequential mean-shift
    * detector completing the monitoring quartet ([[cusum]] known
    * target, [[ewmaChart]] forecast surprise, [[levelShift]] windowed
    * contrast; Page-Hinkley needs NO target: it tracks the RUNNING
    * mean). m_t = Σ_{i≤t}(x_i − x̄_i − δ); PH_t = m_t − min_{i≤t} m_i;
    * alarm when PH_t > λ.
    *
    * Determinism: x̄_i divides the exact decimal prefix sum by i (the
    * identical double on every engine); each (x_i − x̄_i − δ) term
    * truncates to 6 dp into an exact decimal, so the cumulative m
    * walk and its running minimum are order-independent decimal
    * arithmetic end to end — the E44 stream twin replays the same
    * walk in integer micro-lanes. One keyed ordered window chain over
    * time-bucket-bounded series (the C84 shape).
    *
    * Returns (key, bucket, value, ph, alarm) — ph 4-dp floored.
    */
  def pageHinkley(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      delta: Double = 0.0,
      lambda: Double = 10.0): DataFrame = {
    require(lambda > 0, "lambda must be positive")
    val t = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        value.cast("double").as("__x"))
      .filter(col("__x").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bucket")
    val cw = w.rowsBetween(Long.MinValue, 0)
    val xd = Num.dec(round(col("__x"), 6))
    val staged = t
      .withColumn("__cs", sum(xd).over(cw))
      .withColumn("__i", count(lit(1)).over(cw))
      .withColumn("__term",
        (floor((col("__x") -
          col("__cs").cast("double") / col("__i").cast("double") -
          lit(delta)) * 1e6) / 1e6).cast("decimal(24,6)"))
      .withColumn("__m", sum(col("__term")).over(cw))
      .withColumn("__minm", min(col("__m")).over(cw))
    val ph = col("__m") - least(col("__minm"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(24,6)"))
    staged.select(
      col("key"), col("bucket"), col("__x").as("value"),
      Num.t4floor(ph.cast("double")).as("ph"),
      (ph > lit(BigDecimal(lambda).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying()).cast("decimal(24,6)")).as("alarm"))
  }

  /** Seasonal Mann-Kendall (Hirsch & Slack '84) — "is this DRIFTING,
    * once the daily/weekly cycle is factored out?" The C95 trend test
    * compares every pair of hours, so a strong diurnal cycle drowns a
    * slow drift; the seasonal form compares each season-slot only
    * with ITSELF across cycles (hour-3 vs hour-3 of later days):
    * S = Σ_seasons S_season, Var = Σ_seasons Var_season (independent-
    * season form), z with the ±1 continuity correction.
    *
    * Shape at scale: the same O(n log n) merge-count kernel as C95,
    * keyed by (key, season) — period× more keys, each period× shorter;
    * variance numerators stay exact integers summed per key, ONE
    * double division by 18 at the end. Sen's slope is deliberately
    * not computed here (C95 owns it; the seasonal test is the
    * VERDICT lane).
    *
    * Returns one row per key: (key, n, n_seasons, s, z, degenerate) —
    * z 4-dp toward zero.
    */
  def seasonalMannKendall(
      df: DataFrame,
      key: Column,
      order: Column,
      value: Column,
      period: Int): DataFrame = {
    require(period >= 2 && period <= 10000, "period in [2, 10000]")
    // \u0001 never appears in tokenized key columns; substring_index
    // recovers the original key exactly
    val sep = "\u0001"
    val t = df.select(key.cast("string").as("__k0"),
        order.cast("long").as("__xl"), value.cast("double").as("__v"))
      .filter(col("__k0").isNotNull && col("__xl").isNotNull &&
        col("__v").isNotNull)
      .select(
        concat(col("__k0"), lit(sep), pmod(col("__xl"), lit(period.toLong)))
          .as("key"),
        col("__k0"), col("__xl"), col("__v"))
      .localCheckpoint()
    val stats = kendallStatsPerKey(
      t.select(col("key"), col("__xl").cast("double").as("__x"),
        col("__v").as("__y")))
    val ties = t.groupBy(col("key"), col("__v")).agg(count(lit(1)).as("__t"))
      .groupBy("key")
      .agg(sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as("__tie"))
    val perSeason = stats.join(ties, Seq("key"), "left")
      .select(
        substring_index(col("key"), sep, 1).as("__k0"),
        col("n"), col("s"),
        // exact integer variance NUMERATOR (the /18 happens once,
        // after the cross-season sum)
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5)
          - coalesce(col("__tie"), lit(0L))).as("__vnum"))
    val m = perSeason.groupBy(col("__k0").as("key")).agg(
      sum(col("n")).as("n"),
      count(lit(1)).as("n_seasons"),
      sum(col("s")).as("s"),
      sum(col("__vnum")).as("__vnum"))
    val varS = col("__vnum").cast("double") / 18.0
    val degenerate = col("n") < 2 || varS <= 0.0
    val z = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    m.select(col("key"), col("n"), col("n_seasons"), col("s"),
      when(degenerate, lit(0.0)).otherwise(Num.t4zero(z)).as("z"),
      degenerate.as("degenerate"))
  }

  /** Empirical-Bayes (beta-binomial) rate shrinkage — the honest
    * per-key CTR/defect-rate dashboard: a key with 2/3 successes
    * should NOT outrank one with 180/300, and the fix is to shrink
    * every rate toward the population prior by its own evidence:
    * shrunk = (x + α)/(n + α + β), with (α, β) fitted by method of
    * moments on the observed per-key rates (κ = μ(1−μ)/σ² − 1).
    *
    * Shape at scale: per-key (x, n) in ONE partial-agg pass; the
    * moment fit is a second aggregate over the collapsed key frame
    * (9-dp truncated decimal lanes so μ and σ² are order-free); α/β
    * derive once and broadcast back — per-row shrinkage stays in
    * whole-stage codegen. Under-dispersed or degenerate populations
    * (σ² = 0, κ ≤ 0, fewer than 2 keys) shrink fully to the prior
    * mean is WRONG — they report shrunk = raw rate with the
    * degenerate flag instead.
    *
    * Returns one row per key: (key, x, n, rate, shrunk_rate, alpha,
    * beta, degenerate) — rates 6-dp floored.
    */
  def ebShrink(
      df: DataFrame,
      key: Column,
      success: Column,
      trial: Column): DataFrame = {
    val per = df
      .filter(key.isNotNull)
      .groupBy(key.as("key"))
      .agg(
        coalesce(sum(success.cast("long")), lit(0L)).as("x"),
        coalesce(sum(trial.cast("long")), lit(0L)).as("n"))
      .filter(col("n") > 0)
    // decimal(19,9), not (28,9): the square must fit (38,18) EXACTLY
    // (Spark reduces the scale of an over-38 product under the default
    // allowPrecisionLoss, silently rounding spp to 6 dp — caught by
    // the sf0.01 oracle diff)
    val rates = per.withColumn("__p",
      (floor(col("x").cast("double") / col("n").cast("double") * 1e9) / 1e9)
        .cast("decimal(19,9)"))
    val mom = rates.agg(
      count(lit(1)).as("__k"),
      coalesce(sum(col("__p")), lit(0).cast("decimal(19,9)")).as("__sp"),
      coalesce(sum((col("__p") * col("__p")).cast("decimal(38,18)")),
        lit(0).cast("decimal(38,18)")).as("__spp"))
    val kD = col("__k").cast("double")
    val mu = col("__sp").cast("double") / kD
    val v = try_divide(
      col("__spp").cast("double") -
        col("__sp").cast("double") * col("__sp").cast("double") / kD,
      kD - 1.0)
    val kappa = try_divide(mu * (lit(1.0) - mu), v) - 1.0
    val prior = mom.select(
      col("__k"), mu.as("__mu"), coalesce(v, lit(0.0)).as("__v"),
      coalesce(kappa, lit(0.0)).as("__kappa"))
    val joined = rates.crossJoin(broadcast(prior))
    val degenerate = col("__k") < 2 || col("__v") <= 0.0 || col("__kappa") <= 0.0
    val alpha = col("__mu") * col("__kappa")
    val beta = (lit(1.0) - col("__mu")) * col("__kappa")
    val shrunk = (col("x").cast("double") + alpha) /
      (col("n").cast("double") + alpha + beta)
    joined.select(
      col("key"), col("x"), col("n"),
      (floor(col("x").cast("double") / col("n").cast("double") * 1e6) / 1e6)
        .as("rate"),
      when(degenerate,
        floor(col("x").cast("double") / col("n").cast("double") * 1e6) / 1e6)
        .otherwise(floor(shrunk * 1e6) / 1e6).as("shrunk_rate"),
      when(degenerate, 0.0).otherwise(floor(alpha * 1e6) / 1e6).as("alpha"),
      when(degenerate, 0.0).otherwise(floor(beta * 1e6) / 1e6).as("beta"),
      degenerate.as("degenerate"))
  }

  /** Holm-Bonferroni step-down correction — [[benjaminiHochberg]]'s
    * FAMILY-WISE sibling: BH controls the false-discovery RATE (some
    * false positives tolerated), Holm controls the probability of ANY
    * false positive — the right gate when one bad discovery poisons a
    * pipeline decision. adj_i = max_{j≤i} min(1, (m−j+1)·p_j) over
    * p-ascending ranks; reject while adj ≤ α (the running max makes
    * rejection prefix-closed by construction).
    *
    * Same bounded-hypothesis-frame shape as C59: ranks and the
    * running max are ONE global ordered window over the ≤m-row
    * hypothesis frame (m = families under test, config-sized by
    * definition). NULL p-values are kept, flagged `untested`, and
    * excluded from m. Returns (key, p_value, rank, m, adj_p,
    * discovery, untested) — adj_p 6-dp floored (the compare runs on
    * the raw value, mirrored textually by the oracle).
    */
  def holmBonferroni(
      df: DataFrame,
      key: Column,
      p: Column,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val t = df.select(key.as("key"), p.cast("double").as("__p"))
    val tested = t.filter(col("__p").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__p").asc, col("key").asc)
    val mw = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val cw = w.rowsBetween(Long.MinValue, 0)
    val ranked = tested
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(mw))
      .withColumn("__raw",
        least(lit(1.0), (col("__m") - col("__r") + 1).cast("double") * col("__p")))
      .withColumn("__adj", max(col("__raw")).over(cw))
    val out = ranked.select(
      col("key"), col("__p").as("p_value"), col("__r").as("rank"),
      col("__m").as("m"),
      (floor(col("__adj") * 1e6) / 1e6).as("adj_p"),
      (col("__adj") <= alpha).as("discovery"),
      lit(false).as("untested"))
    val un = t.filter(col("__p").isNull).select(
      col("key"), lit(null).cast("double").as("p_value"),
      lit(null).cast("long").as("rank"), lit(null).cast("long").as("m"),
      lit(null).cast("double").as("adj_p"),
      lit(false).as("discovery"), lit(true).as("untested"))
    out.unionByName(un)
  }

  /** Dominant period detection per key — [[autocorrelation]] read as
    * a VERDICT: the lag ≥ 2 with the highest sample autocorrelation,
    * with the standard ±2/√n white-noise band as the significance
    * gate ("this series has a real 24-bucket cycle" vs "that peak is
    * noise"). The probe to run before committing a
    * [[seasonalDecompose]] / [[holtWintersChart]] period or a
    * [[seasonalMannKendall]] season count.
    *
    * Same dense-grid contract and determinism as C65 (this IS the
    * C65 frame plus one keyed top-1); series length n = n_pairs + lag
    * recovers exactly. Flat series report degenerate.
    */
  def dominantPeriod(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      maxLag: Int = 24): DataFrame = {
    require(maxLag >= 2 && maxLag <= 200, "maxLag in [2, 200]")
    val a = autocorrelation(df, key, bucket, value, maxLag)
      .filter(col("lag") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("acf").desc, col("lag").asc)
    a.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("key"), col("lag").as("period"),
        col("acf").as("acf_peak"),
        (col("n_pairs") + col("lag")).as("n"),
        (!col("degenerate") &&
          col("acf") > lit(2.0) /
            sqrt((col("n_pairs") + col("lag")).cast("double")))
          .as("significant"),
        col("degenerate"))
  }

  /** C123: Ljung-Box portmanteau test per key — "is this series white
    * noise at all?" as ONE number instead of eyeballing [[autocorrelation]]'s
    * per-lag rows: Q = n(n+2)·Σ_{k=1..m} r_k²/(n−k), χ²_m under H₀.
    * The pre-flight for every model that assumes independent
    * residuals (EWMA bands, bootstrap CIs, SPRT) — the same reason
    * [[runsTest]] exists, but powered against AUTOCORRELATED
    * alternatives rather than runs structure.
    *
    * Built literally ON the C65 output: r_k is the published 4-dp
    * autocorrelation and (n−k) is its n_pairs column, so the
    * statistic is a pure function of an already-deterministic frame —
    * each term r_k²/(n−k) truncates 9-dp into an exact decimal, the
    * lag sum is order-free, and one double multiply by n(n+2)
    * finishes. `critical` is the caller's χ² cut for m dof (default
    * the 5% value for m = 3, the default lag budget).
    *
    * Returns one row per key: (key, max_lag, n, q_stat, significant,
    * degenerate) — q_stat 4-dp floored; degenerate (flat series, or
    * a series too short for the lag budget: n ≤ maxLag) reports
    * 0/false. n is the true series length, read off the lag-1 row's
    * n_pairs + 1.
    */
  def ljungBox(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      maxLag: Int = 3,
      critical: Double = 7.815): DataFrame = {
    require(maxLag >= 1 && maxLag <= 200, "maxLag in [1, 200]")
    val a = autocorrelation(df, key, bucket, value, maxLag)
    val term = (floor(col("acf") * col("acf") /
        col("n_pairs").cast("double") * 1e9) / 1e9)
      .cast("decimal(28,9)")
    // n comes from the lag-1 row ONLY (n_pairs + 1 = series length):
    // the old max(n_pairs + lag) overstated n for series shorter than
    // maxLag, where zero-pair lag rows made n_pairs + lag = lag (r14
    // advice: n=2, maxLag=3 reported n=3, inflating n(n+2)).
    // Zero-pair terms are filtered EXPLICITLY rather than relying on
    // 0/0→NULL silently dropping from sum(), and a series too short
    // for its lag budget (n <= maxLag) flags degenerate instead of
    // publishing a statistic missing lag terms.
    a.groupBy("key").agg(
        max(when(col("lag") === 1, col("n_pairs") + 1)).as("n"),
        sum(when(col("n_pairs") > 0, term)).as("__s"),
        max(col("lag")).as("max_lag"),
        max(col("degenerate")).as("degenerate"))
      .withColumn("degenerate",
        col("degenerate") || col("n") <= lit(maxLag))
      .select(col("key"), col("max_lag"), col("n"),
        when(col("degenerate"), 0.0)
          .otherwise(floor(col("n").cast("double") * (col("n") + 2) *
            col("__s").cast("double") * 1e4) / 1e4).as("q_stat"),
        (!col("degenerate") &&
          col("n").cast("double") * (col("n") + 2) *
            col("__s").cast("double") > critical).as("significant"),
        col("degenerate"))
  }

  /** C124: Bartlett's test of equal variances across k groups — the
    * PARAMETRIC power tier above [[brownForsythe]]: sharper when the
    * data really is normal (it tests the variances directly, not
    * median-centered spreads), notoriously sensitive when it isn't —
    * which is exactly why both belong in the toolbox, run side by
    * side. χ² = [(N−k)·ln(Sp²) − Σ(n_i−1)·ln(s_i²)] / C with
    * C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)).
    *
    * Shape at scale: ONE partial-aggregated pass computes per-group
    * exact decimal moments (the anova kernel); everything after runs
    * on the k-row group frame. Determinism: each group's
    * (n_i−1)·ln(s_i²), 1/(n_i−1), and (n_i−1)·s_i² terms truncate
    * 9-dp into exact decimals BEFORE the cross-group sums (a raw
    * double Σ would be partial-aggregation-order dependent), and the
    * two ln() calls that remain operate on already-truncated inputs.
    * Groups with n_i < 2 or zero variance flag `degenerate` (ln
    * explodes there) and the statistic reports 0.
    *
    * Returns ONE row: (k, n, chi2, df, significant, degenerate) —
    * chi2 4-dp floored; `critical` is the caller's χ²_{k−1} cut
    * (default the 5% value for k−1 = 4).
    */
  def bartlett(
      df: DataFrame,
      group: Column,
      value: Column,
      critical: Double = 9.488): DataFrame = {
    val g = df.filter(group.isNotNull && value.isNotNull)
      .groupBy(group.as("grp"))
      .agg(
        count(lit(1)).as("ni"),
        sum(Num.dec(value)).as("__s"),
        sum(Num.dec(value) * Num.dec(value)).as("__ss"))
    val ni = col("ni").cast("double")
    // sample variance from exact moments: (n·Σx² − (Σx)²) / (n(n−1)).
    // try_divide BY CONSTRUCTION: codegen CSE hoists s2 out from behind
    // the ni >= 2 guards, and a one-row group makes n(n−1) = 0
    val s2 = try_divide(ni * col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double"),
      ni * (ni - 1.0))
    val terms = g.select(
      col("ni"),
      (floor(coalesce(
        when(col("ni") >= 2 && s2 > 0.0, (ni - 1.0) * log(s2)), lit(0.0))
        * 1e9) / 1e9).cast("decimal(28,9)").as("__lnterm"),
      (floor(coalesce(
        when(col("ni") >= 2, lit(1.0) / (ni - 1.0)), lit(0.0))
        * 1e9) / 1e9).cast("decimal(28,9)").as("__invterm"),
      (floor(coalesce(
        when(col("ni") >= 2 && s2 > 0.0, (ni - 1.0) * s2), lit(0.0))
        * 1e9) / 1e9).cast("decimal(28,9)").as("__ssterm"),
      (col("ni") < 2 || s2 <= 0.0).as("__bad"))
    val m = terms.agg(
      count(lit(1)).as("k"),
      sum(col("ni")).as("n"),
      sum(col("__lnterm")).as("__sln"),
      sum(col("__invterm")).as("__sinv"),
      sum(col("__ssterm")).as("__sss"),
      max(col("__bad")).as("degenerate"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val pooled = col("__sss").cast("double") / (nD - kD)
    val c = lit(1.0) + (col("__sinv").cast("double") - lit(1.0) / (nD - kD)) /
      (lit(3.0) * (kD - 1.0))
    val chi2 = ((nD - kD) * log(pooled) - col("__sln").cast("double")) / c
    val bad = col("degenerate") || col("k") < 2 || nD - kD <= 0.0
    m.select(
      col("k"), col("n"),
      when(bad, 0.0).otherwise(Num.t4zero(chi2)).as("chi2"),
      (col("k") - 1).as("df"),
      (!bad && chi2 > critical).as("significant"),
      bad.as("degenerate"))
  }

  /** The per-key OLS residual lane of the C125/C130/C133 diagnostics:
    * ONE pass of exact decimal moments fits y = a + b·x per key (the C55
    * kernel), then every (key, __x, __y) row carries the key's n, mean
    * `__mx`, slope `__b`, centered square sum `__sxxc`, flat-regressor
    * flag `__flatx` and `__e6`, its residual quantized ONCE to a 6-dp
    * integer lane. The residual is e'_t = y − b·x then explicit
    * demeaning: the fitted intercept is exactly mean(e'), so
    * e' − mean(e') IS the intercept-fitted residual — one join instead
    * of a second moment pass for the intercept.
    */
  private def olsResiduals(df: DataFrame, key: Column, x: Column, y: Column): DataFrame = {
    val t = df.filter(x.isNotNull && y.isNotNull)
      .select(key.as("key"), x.cast("double").as("__x"),
        y.cast("double").as("__y"))
    val m = t.groupBy("key").agg(
      count(lit(1)).as("n"),
      sum(Num.dec(col("__x"))).as("__sx"),
      sum(Num.dec(col("__y"))).as("__sy"),
      sum(Num.dec(col("__x")) * Num.dec(col("__y"))).as("__sxy"),
      sum(Num.dec(col("__x")) * Num.dec(col("__x"))).as("__sxx"))
    val nD = col("n").cast("double")
    val varX = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val fit = m.select(col("key"), col("n"),
      (col("__sx").cast("double") / nD).as("__mx"),
      when(varX === 0.0, 0.0)
        .otherwise((nD * col("__sxy").cast("double") -
          col("__sx").cast("double") * col("__sy").cast("double")) / varX)
        .as("__b"),
      (varX / nD).as("__sxxc"), // Sxx = Σ(x−x̄)² = varX/n
      (varX === 0.0).as("__flatx"))
    demeanedMicro(t.join(fit, Seq("key"))
      .withColumn("__e0", col("__y") - col("__b") * col("__x")), "__e0" -> "__e6")
  }

  /** C125: Durbin-Watson statistic per key — residual serial
    * correlation of the per-key OLS trend line ([[trendFit]]'s fit,
    * diagnosed): DW = Σ(e_t − e_{t−1})² / Σe_t², ≈ 2(1−ρ̂). The
    * question it answers for dashboard series: "is that trend fit's
    * error bar a lie because consecutive residuals move together?"
    * (DW → 0: positive serial correlation, the usual failure; DW → 4:
    * alternation.)
    *
    * ONE pass of exact decimal moments fits the line (the C55
    * kernel), residuals quantize ONCE to 6-dp integer lanes, and the
    * lag-difference and square sums are exact decimal arithmetic over
    * one keyed ordered window — the C65 determinism recipe end to
    * end. The lag window orders by (x, e6): duplicate (key, x) rows
    * carry different residuals, so ordering by x alone would make
    * Σ(e_t − e_{t−1})² genuinely nondeterministic run-to-run; the
    * quantized-residual tiebreak pins a total order. Keys need n ≥ 3
    * and a non-flat regressor and residual; otherwise `degenerate`
    * with DW = 0.
    *
    * Returns one row per key: (key, n, dw, rho_approx, degenerate) —
    * dw 4-dp floored, rho_approx = 1 − DW/2 4-dp toward zero.
    */
  def durbinWatson(
      df: DataFrame,
      key: Column,
      x: Column,
      y: Column): DataFrame = {
    val r6 = olsResiduals(df, key, x, y)
    // tiebreak on the quantized residual: duplicate (key, x) rows
    // would otherwise make lag() ordering nondeterministic, and since
    // tied-x rows carry DIFFERENT residuals, Σ(e_t−e_{t−1})² would
    // genuinely change run-to-run (r14 advice — same class as the
    // stateTransitions tiebreak)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("__x"), col("__e6"))
    // decimal(19,0): the squared term must land at the proven
    // 38-digit product width (see kpss) — 38×38 would overflow the
    // TYPE, not the value
    val lagged = r6.withColumn("__d",
      (col("__e6") - lag(col("__e6"), 1).over(w)).cast("decimal(19,0)"))
    lagged.groupBy("key").agg(
        max(col("n")).as("n"),
        max(col("__flatx")).as("__fx"),
        sum((col("__d") * col("__d")).cast("decimal(38,0)")).as("__num"),
        sum((col("__e6").cast("decimal(38,0)") * col("__e6"))
          .cast("decimal(38,0)")).as("__den"))
      .select(col("key"), col("n"),
        when(col("__fx") || col("n") < 3 ||
            col("__den").cast("double") <= 0.0, 0.0)
          .otherwise(floor(col("__num").cast("double") /
            col("__den").cast("double") * 1e4) / 1e4).as("dw"),
        when(col("__fx") || col("n") < 3 ||
            col("__den").cast("double") <= 0.0, 0.0)
          .otherwise(Num.t4zero(lit(1.0) - col("__num").cast("double") /
            col("__den").cast("double") / 2.0)).as("rho_approx"),
        (col("__fx") || col("n") < 3 ||
          col("__den").cast("double") <= 0.0).as("degenerate"))
  }

  /** C126: KPSS level-stationarity statistic per key — the
    * flip side of drift ALARMS ([[pageHinkley]], [[cusum]]): those
    * fire on a shift, this SCORES how non-stationary the whole series
    * is. η = Σ_t S_t² / (n²·σ̂²) with S_t the partial sums of the
    * demeaned series and σ̂² the plain sample variance (the lag-0 /
    * no-HAC variant — the long-run-variance bandwidth is a modeling
    * choice this engine won't silently make; DOCUMENTED contract).
    * Under level stationarity η stays small; the 5% critical value
    * for the level test is 0.463 (Kwiatkowski et al. '92, table 1).
    *
    * Determinism: demeaned values quantize ONCE to 6-dp integer
    * lanes; partial sums, their squares, and the variance sum are
    * exact integer-decimal arithmetic over one keyed ordered window —
    * the 1e6 units cancel in the ratio (S² and c² both carry 1e12).
    * Flat series report degenerate.
    *
    * Returns one row per key: (key, n, kpss, significant, degenerate)
    * — kpss 4-dp floored.
    */
  def kpss(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      critical: Double = 0.463): DataFrame = {
    val t = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val c = demeanedMicro(t, "__v" -> "__c6")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bucket")
      .rowsBetween(Long.MinValue, 0)
    // partial sums cap at decimal(19,0) so the square lands exactly at
    // the proven 38-digit product width (the C65 lagged-product
    // pattern) on BOTH engines — a 38×38 product would overflow the
    // type system, not just the value
    val s = c.withColumn("__ps", sum(col("__c6")).over(w).cast("decimal(19,0)"))
    s.groupBy("key").agg(
        count(lit(1)).as("n"),
        sum((col("__ps") * col("__ps")).cast("decimal(38,0)")).as("__ss"),
        sum((col("__c6").cast("decimal(38,0)") * col("__c6"))
          .cast("decimal(38,0)")).as("__cc"))
      .select(col("key"), col("n"),
        when(col("__cc").cast("double") <= 0.0, 0.0)
          .otherwise(floor(col("__ss").cast("double") /
            (col("n").cast("double") * col("__cc").cast("double")) * 1e4)
            / 1e4).as("kpss"),
        (col("__cc").cast("double") > 0.0 &&
          col("__ss").cast("double") /
            (col("n").cast("double") * col("__cc").cast("double")) > critical)
          .as("significant"),
        (col("__cc").cast("double") <= 0.0).as("degenerate"))
  }

  /** C133: Breusch-Pagan heteroscedasticity test per key — the third
    * leg of the OLS diagnostic family ([[durbinWatson]] asks "are the
    * errors serially dependent", [[cooksDistance]] "which points own
    * the fit"; this asks "does the error VARIANCE drift with the
    * regressor" — the failure that silently invalidates every
    * constant-σ band downstream): LM = n·R² of the auxiliary
    * regression e² ~ x, χ²₁ under homoscedasticity (5% critical
    * 3.841).
    *
    * Same determinism recipe as C125: one exact-moment pass fits the
    * line, residuals quantize ONCE to 6-dp lanes, squared residuals
    * re-quantize to 6-dp decimals, and the auxiliary R² comes from a
    * second exact-moment pass — doubles only at the final ratios.
    * Keys need n ≥ 4, a non-flat regressor, and non-flat squared
    * residuals; else degenerate.
    *
    * Returns one row per key: (key, n, lm_stat, significant,
    * degenerate) — lm_stat 4-dp floored.
    */
  def breuschPagan(
      df: DataFrame,
      key: Column,
      x: Column,
      y: Column,
      critical: Double = 3.841): DataFrame = {
    // e² on re-quantized 6-dp lanes: the auxiliary regressand
    val r6 = olsResiduals(df, key, x, y)
      .withColumn("__z",
        floor(col("__e6").cast("double") * col("__e6").cast("double") / 1e12
          * 1e6) / 1e6)
    val aux = r6.groupBy("key").agg(
      max(col("n")).as("n"),
      max(col("__flatx")).as("__fx"),
      sum(Num.dec(col("__x"))).as("__ax"),
      sum(Num.dec(col("__z"))).as("__az"),
      sum(Num.dec(col("__x")) * Num.dec(col("__z"))).as("__axz"),
      sum(Num.dec(col("__x")) * Num.dec(col("__x"))).as("__axx"),
      sum(Num.dec(col("__z")) * Num.dec(col("__z"))).as("__azz"))
    val an = col("n").cast("double")
    val avx = an * col("__axx").cast("double") -
      col("__ax").cast("double") * col("__ax").cast("double")
    val avz = an * col("__azz").cast("double") -
      col("__az").cast("double") * col("__az").cast("double")
    val acov = an * col("__axz").cast("double") -
      col("__ax").cast("double") * col("__az").cast("double")
    val r2 = acov * acov / (avx * avz)
    val bad = col("__fx") || col("n") < 4 || avx <= 0.0 || avz <= 0.0
    val lm = an * r2
    aux.select(col("key"), col("n"),
      when(bad, 0.0).otherwise(floor(lm * 1e4) / 1e4).as("lm_stat"),
      (!bad && lm > critical).as("significant"),
      bad.as("degenerate"))
  }

  /** C132: contingency cell diagnostics — the row [[chiSquared]]'s
    * verdict can't give: WHICH cells drive the dependence. Per cell of
    * the COMPLETED a×b grid (zero cells included — an empty cell can
    * be the most diagnostic one), the adjusted standardized residual
    * r = (o − e)/√(e·(1 − rowShare)·(1 − colShare)) — approximately
    * N(0,1) under independence, so |r| > 2 names the driving cells
    * (Agresti's post-hoc discipline).
    *
    * Shape at scale: one partial-agg pass to the cell frame (bounded
    * by the category product), margins by aggregations over it, grid
    * completion by a cross join of the two margin frames — all
    * config-sized after the first pass. Exact counts everywhere; the
    * per-cell formula is double arithmetic on them, 4-dp truncated.
    * A single-row or single-column table makes every adjusted
    * denominator 0 — those report degenerate.
    *
    * Returns one row per (a, b) grid cell: (a, b, n_obs, expected,
    * std_residual, outlier, degenerate).
    */
  def contingencyCells(
      df: DataFrame,
      a: Column,
      b: Column,
      critical: Double = 2.0): DataFrame = {
    val cells = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.cast("string").as("a"), b.cast("string").as("b"))
      .agg(count(lit(1)).as("__n"))
    val ra = cells.groupBy("a").agg(sum(col("__n")).as("__rt"))
    val rb = cells.groupBy("b").agg(sum(col("__n")).as("__ct"))
    val tot = cells.agg(sum(col("__n")).as("__tot"))
    // broadcast the column-margin side explicitly: both margin frames
    // are category-bounded, but a high-cardinality categorical fed by
    // a careless caller should never turn grid completion into a
    // shuffled cartesian (r14 advice — free insurance)
    val grid = ra.crossJoin(broadcast(rb)).crossJoin(broadcast(tot))
      .join(cells, Seq("a", "b"), "left")
      .withColumn("n_obs", coalesce(col("__n"), lit(0L)))
    val totD = col("__tot").cast("double")
    val e = col("__rt").cast("double") * col("__ct").cast("double") / totD
    val adj = e * (lit(1.0) - col("__rt").cast("double") / totD) *
      (lit(1.0) - col("__ct").cast("double") / totD)
    val r = (col("n_obs").cast("double") - e) / sqrt(adj)
    val bad = adj <= 0.0
    grid.select(col("a"), col("b"), col("n_obs"),
      (floor(e * 1e4) / 1e4).as("expected"),
      when(bad, 0.0).otherwise(Num.t4zero(r)).as("std_residual"),
      (!bad && abs(r) > critical).as("outlier"),
      bad.as("degenerate"))
  }

  /** C131: forecastability score per key — "is this series worth a
    * seasonal model at all?" before anyone commits a
    * [[holtWintersChart]] period: the M-competition benchmark
    * discipline applied to the two zero-parameter baselines,
    * MAE(seasonal-naive, lag m) / MAE(naive, lag 1). Ratio < 1 means
    * last-season beats last-value — real seasonal structure at m;
    * ratio ≈ 1 means the seasonal model starts with no edge; > 1
    * means m is actively wrong. Complements [[dominantPeriod]] (which
    * finds m) by scoring whether m HELPS.
    *
    * Determinism: values quantize ONCE to 6-dp lanes, both error
    * streams are |integer differences| summed exactly; the two MAEs
    * are each ONE double division, the ratio one more, 4-dp floored.
    * Errors are averaged over each stream's own comparable count
    * (n−1 vs n−m — both reported). Flat series (naive MAE 0) report
    * degenerate.
    *
    * Returns one row per key: (key, n, mae_naive, mae_seasonal,
    * mase_ratio, seasonal_helps, degenerate).
    */
  def forecastability(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column,
      period: Int = 24): DataFrame = {
    require(period >= 2, "period must be >= 2 (1 would be the naive lag)")
    val t = df.select(key.as("key"), bucket.cast("long").as("bucket"),
        value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__v6", (col("__v") * 1e6).cast("decimal(18,0)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bucket")
    val lagged = t
      .withColumn("__e1",
        abs(col("__v6") - lag(col("__v6"), 1).over(w)).cast("decimal(28,0)"))
      .withColumn("__em",
        abs(col("__v6") - lag(col("__v6"), period).over(w)).cast("decimal(28,0)"))
    val mae1 = col("__s1").cast("double") / 1e6 / col("__n1").cast("double")
    val maem = col("__sm").cast("double") / 1e6 / col("__nm").cast("double")
    lagged.groupBy("key").agg(
        count(lit(1)).as("n"),
        count(col("__e1")).as("__n1"),
        coalesce(sum(col("__e1")), lit(0).cast("decimal(28,0)")).as("__s1"),
        count(col("__em")).as("__nm"),
        coalesce(sum(col("__em")), lit(0).cast("decimal(28,0)")).as("__sm"))
      .select(col("key"), col("n"),
        when(col("__n1") === 0, 0.0)
          .otherwise(floor(mae1 * 1e4) / 1e4).as("mae_naive"),
        when(col("__nm") === 0, 0.0)
          .otherwise(floor(maem * 1e4) / 1e4).as("mae_seasonal"),
        when(col("__n1") === 0 || col("__nm") === 0 ||
            col("__s1").cast("double") <= 0.0, 0.0)
          .otherwise(floor(maem / mae1 * 1e4) / 1e4).as("mase_ratio"),
        (col("__n1") > 0 && col("__nm") > 0 &&
          col("__s1").cast("double") > 0.0 && maem / mae1 < 1.0)
          .as("seasonal_helps"),
        (col("__n1") === 0 || col("__nm") === 0 ||
          col("__s1").cast("double") <= 0.0).as("degenerate"))
  }

  /** C130: Cook's distance + leverage per point of the per-key simple
    * OLS fit — WHICH observations own the trend line ([[trendFit]]
    * says what the line is, [[durbinWatson]] whether its errors are
    * honest; this names the points that could flip it):
    * h_i = 1/n + (x_i − x̄)²/Sxx,
    * D_i = e_i²·h_i / (p·s²·(1 − h_i)²) with p = 2, s² = SSE/(n−2).
    *
    * ONE exact-moment pass fits the line and Sxx; residuals and SSE
    * run on 6-dp quantized lanes (the C125 recipe) so every engine
    * sees identical squares; the per-row formula is then pure double
    * arithmetic on deterministic inputs, 4-dp floored. The standard
    * 4/n influence cut is the default flag. Keys with n < 4, a flat
    * regressor, or zero residual variance report degenerate rows
    * (leverage still prints — it is defined without residuals).
    *
    * Returns one row per point: (key, x, leverage, cooks_d,
    * influential, degenerate).
    */
  def cooksDistance(
      df: DataFrame,
      key: Column,
      x: Column,
      y: Column): DataFrame = {
    val r6 = olsResiduals(df, key, x, y)
    val sse = r6.groupBy("key").agg(
      sum((col("__e6").cast("decimal(38,0)") * col("__e6"))
        .cast("decimal(38,0)")).as("__sse12"))
    val h = lit(1.0) / col("n").cast("double") +
      when(col("__sxxc") <= 0.0, lit(0.0))
        .otherwise((col("__x") - col("__mx")) * (col("__x") - col("__mx")) /
          col("__sxxc"))
    val s2 = col("__sse12").cast("double") / 1e12 /
      (col("n").cast("double") - 2.0)
    val e2 = col("__e6").cast("double") * col("__e6").cast("double") / 1e12
    val bad = col("__flatx") || col("n") < 4 ||
      col("__sse12").cast("double") <= 0.0
    // a leverage-1 point (it IS the regressor's variance) has
    // undefined D — (1−h) = 0 would print engine-dependent infinities;
    // flag it influential-by-definition with D = 0 and degenerate
    val hbad = h >= lit(1.0) - lit(1e-9)
    val d = e2 * h / (lit(2.0) * s2 * (lit(1.0) - h) * (lit(1.0) - h))
    r6.join(sse, Seq("key"))
      .select(col("key"), col("__x").as("x"),
        (floor(h * 1e4) / 1e4).as("leverage"),
        when(bad || hbad, 0.0).otherwise(floor(d * 1e4) / 1e4).as("cooks_d"),
        (!bad && (hbad || d > lit(4.0) / col("n").cast("double")))
          .as("influential"),
        (bad || hbad).as("degenerate"))
  }

  /** C128: Grubbs' max-deviation outlier statistic per key —
    * G = max|x − x̄|/s with the offending value attached: "is the
    * worst point in this group an outlier, and WHICH one is it?" The
    * single-point complement of [[rollingZ]] (windowless, whole-group)
    * and [[winsorize]]-class treatments (this one NAMES the point
    * instead of squashing it). The critical value depends on n via the
    * t-distribution — a quantile this engine doesn't hand-roll —
    * so `critical` is caller-supplied (the standard table value for
    * the group sizes at hand); the statistic itself is always
    * reported.
    *
    * ONE exact-decimal moment pass + one max-struct pass: |x − x̄|
    * quantizes to 6-dp integer lanes and the (dev6, value) struct max
    * makes the winning point deterministic under ties. Groups with
    * n < 3 or zero variance report degenerate.
    *
    * Returns one row per key: (key, n, g_stat, outlier_value,
    * significant, degenerate) — g_stat 4-dp floored.
    */
  def grubbs(
      df: DataFrame,
      key: Column,
      value: Column,
      critical: Double = 3.0): DataFrame = {
    val t = df.filter(value.isNotNull)
      .select(key.as("key"), value.cast("double").as("__v"))
    val m = t.groupBy("key").agg(
      count(lit(1)).as("n"),
      sum(Num.dec(col("__v"))).as("__s"),
      sum(Num.dec(col("__v")) * Num.dec(col("__v"))).as("__ss"))
    val nD = col("n").cast("double")
    val mv = m.select(col("key"), col("n"),
      (col("__s").cast("double") / nD).as("__mu"),
      when(col("n") >= 2,
        (nD * col("__ss").cast("double") -
          col("__s").cast("double") * col("__s").cast("double")) /
          (nD * (nD - 1.0))).otherwise(0.0).as("__s2"))
    val dev = t.join(mv, Seq("key"))
      .withColumn("__dev6",
        floor(abs(col("__v") - col("__mu")) * 1e6).cast("long"))
    dev.groupBy("key").agg(
        max(col("n")).as("n"),
        max(col("__s2")).as("__s2v"),
        max(struct(col("__dev6"), col("__v"))).as("__w"))
      .select(col("key"), col("n"),
        when(col("n") < 3 || col("__s2v") <= 0.0, 0.0)
          .otherwise(floor(col("__w.__dev6").cast("double") / 1e6 /
            sqrt(col("__s2v")) * 1e4) / 1e4).as("g_stat"),
        when(col("n") < 3 || col("__s2v") <= 0.0, lit(null).cast("double"))
          .otherwise(col("__w.__v")).as("outlier_value"),
        (col("n") >= 3 && col("__s2v") > 0.0 &&
          col("__w.__dev6").cast("double") / 1e6 / sqrt(col("__s2v"))
            > critical).as("significant"),
        (col("n") < 3 || col("__s2v") <= 0.0).as("degenerate"))
  }

  /** C140: partial autocorrelation (PACF, lags 1-3) per key — the
    * model-identification companion to [[autocorrelation]]: ACF says
    * "correlated at lag k", PACF says "correlated at lag k AFTER the
    * shorter lags explain what they can" — the number that separates
    * an AR(1) whose ACF tail is all echo (PACF cuts off at 1) from
    * genuine higher-order structure. Durbin-Levinson unrolled in
    * closed form over the published 4-dp ACF values:
    * p1 = r1; p2 = (r2 − r1²)/(1 − r1²);
    * p3 = (r3 − φ21·r2 − p2·r1)/(1 − φ21·r1 − p2·r2) with
    * φ21 = r1(1 − p2).
    *
    * Shape at scale: [[autocorrelation]]'s one-pass machinery, then a
    * k-row pivot per key — everything after the ACF is a bounded
    * projection. Determinism: inputs are the already-deterministic
    * 4-dp ACF lanes; each pacf derives in one fixed double order,
    * try_divide by construction (|r1| = 1 exactly zeroes the first
    * denominator), 4-dp toward zero. Keys with n ≤ 3, a flat series,
    * or a vanishing denominator flag degenerate.
    *
    * Returns one row per key: (key, n, pacf1, pacf2, pacf3,
    * degenerate).
    */
  def pacf(
      df: DataFrame,
      key: Column,
      bucket: Column,
      value: Column): DataFrame = {
    val a = autocorrelation(df, key, bucket, value, maxLag = 3)
    val p = a.groupBy("key").agg(
      max(when(col("lag") === 1, col("n_pairs") + 1)).as("n"),
      max(when(col("lag") === 1, col("acf"))).as("__r1"),
      max(when(col("lag") === 2, col("acf"))).as("__r2"),
      max(when(col("lag") === 3, col("acf"))).as("__r3"),
      max(col("degenerate")).as("__deg"))
    val r1 = col("__r1")
    val r2 = col("__r2")
    val r3 = col("__r3")
    val p2 = try_divide(r2 - r1 * r1, lit(1.0) - r1 * r1)
    val phi21 = r1 * (lit(1.0) - p2)
    val p3 = try_divide(r3 - phi21 * r2 - p2 * r1,
      lit(1.0) - phi21 * r1 - p2 * r2)
    val degenerate = col("__deg") || col("n") <= 3 ||
      p2.isNull || p3.isNull
    p.select(col("key"), col("n"),
      when(degenerate, 0.0).otherwise(Num.t4zero(r1)).as("pacf1"),
      when(degenerate, 0.0).otherwise(Num.t4zero(p2)).as("pacf2"),
      when(degenerate, 0.0).otherwise(Num.t4zero(p3)).as("pacf3"),
      degenerate.as("degenerate"))
  }

  /** C134: G-test of independence (log-likelihood ratio) — the
    * information-theoretic twin of [[chiSquared]], preferred when
    * cells are small-but-nonzero or the table will be DECOMPOSED
    * (G is exactly additive over nested partitions, χ² only
    * approximately — the reason log-linear modeling standardized on
    * it): G = 2·Σ o·ln(o/e). Zero cells contribute 0 by the
    * o·ln(o) → 0 limit.
    *
    * Same bounded shape as C51: one partial-aggregated pass to the
    * ≤ r·c contingency frame, margins by broadcast null-safe joins
    * over it, expected counts in one fixed operation order. Each
    * cell's o·ln(o/e) truncates 7-dp into an exact decimal so the
    * cross-cell sum is order-independent; the ln() runs on
    * fixed-order doubles of exact longs (the bartlett discipline).
    *
    * Returns ONE row: (n, n_cells, dof, g_stat, degenerate) — g_stat
    * 4-dp floored; single-row/column tables report 0 + degenerate.
    */
  def gTest(df: DataFrame, a: Column, b: Column): DataFrame = {
    val m = contingency(df, a, b) { exp =>
      val term = col("__n").cast("double") *
        log(col("__n").cast("double") / exp)
      when(col("__n") > 0,
        (floor(term * 1e7) / 1e7).cast("decimal(20,7)"))
        .otherwise(lit(0).cast("decimal(20,7)"))
    }
    val degenerate = contingencyDof === 0 || col("__s").isNull
    m.select(
      col("__tot").as("n"),
      col("n_cells").as("n_cells"),
      contingencyDof.as("dof"),
      when(degenerate, 0.0)
        .otherwise(floor(greatest(lit(0.0),
          col("__s").cast("double") * 2.0) * 1e4) / 1e4).as("g_stat"),
      degenerate.as("degenerate"))
  }

  /** C135: Mood's median test — the BLUNTEST k-group location test:
    * does each group put the same fraction of mass above the POOLED
    * median? Far less powerful than [[kruskalWallis]] but immune to
    * wildly different group shapes/tails (it only reads the
    * above/below bit), which is exactly when KW's rank variance
    * assumption wobbles — run both, disagree = look at the tails.
    * χ² over the 2×k (above | not-above) table, dof = k−1.
    *
    * Determinism: values quantize ONCE to 6-dp micro longs; the
    * pooled median is the exact interpolated percentile of those
    * integers ((a+b)/2 of integers is exactly representable), so the
    * above/below comparison is engine-exact. One partial-agg pass to
    * per-group (n, n_above), the χ² over that k-row frame with 7-dp
    * truncated terms. Groups above/below empty in TOTAL (all mass on
    * one side — e.g. >half the pooled values tie at the median) or
    * k < 2 report degenerate.
    *
    * Returns ONE row: (n, k, dof, chi2, n_above_total, degenerate) —
    * chi2 4-dp floored.
    */
  def moodMedian(df: DataFrame, group: Column, value: Column): DataFrame = {
    val t = df.filter(group.isNotNull && value.isNotNull)
      .select(group.cast("string").as("__g"),
        (round(value.cast("double"), 6) * 1e6).cast("long").as("__v6"))
    val med = t.agg(expr("percentile(__v6, 0.5)").as("__m6"))
    val perG = t.crossJoin(broadcast(med))
      .groupBy("__g").agg(
        count(lit(1)).as("__n"),
        sum(when(col("__v6").cast("double") > col("__m6"), 1L)
          .otherwise(0L)).as("__ab"))
    val tot = perG.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__nn"),
      coalesce(sum(col("__ab")), lit(0L)).as("__a"),
      count(lit(1)).as("__k"))
    val nn = col("__nn").cast("double")
    val aTot = col("__a").cast("double")
    // expected above = n_i·A/N, below = n_i·(N−A)/N; term per group =
    // (o−e)²/e for both cells, 7-dp truncated into the exact sum
    val eAb = col("__n").cast("double") * aTot / nn
    val eBe = col("__n").cast("double") * (nn - aTot) / nn
    val oAb = col("__ab").cast("double")
    val oBe = (col("__n") - col("__ab")).cast("double")
    // try_divide BY CONSTRUCTION (the r12 ANSI lesson): the all-tied
    // input makes eAb or eBe exactly 0 and the degenerate guard is
    // DOWNSTREAM of this projection — when()-laziness is not
    // protection once codegen CSE hoists the division
    val term = coalesce(try_divide((oAb - eAb) * (oAb - eAb), eAb), lit(0.0)) +
      coalesce(try_divide((oBe - eBe) * (oBe - eBe), eBe), lit(0.0))
    val chi = perG.crossJoin(broadcast(tot))
      .select((floor(term * 1e7) / 1e7).cast("decimal(20,7)").as("__t7"))
      .agg(sum(col("__t7")).as("__chi2"))
    val degenerate = col("__k") < 2 || col("__a") === 0 ||
      col("__a") === col("__nn") || col("__chi2").isNull
    tot.crossJoin(chi).select(
      col("__nn").as("n"), col("__k").as("k"),
      when(col("__k") > 0, col("__k") - 1).otherwise(0L).as("dof"),
      when(degenerate, 0.0)
        .otherwise(floor(greatest(lit(0.0), col("__chi2").cast("double"))
          * 1e4) / 1e4).as("chi2"),
      col("__a").as("n_above_total"),
      degenerate.as("degenerate"))
  }

  /** C136: two-sample Cramér-von Mises — [[ksTest]]'s INTEGRATED
    * sibling: where KS reads only the single worst CDF gap (sharp on
    * one localized shift, blind to many small ones), CvM sums the
    * SQUARED gap over every pooled observation —
    * T = n·m/(n+m)² · Σ_pooled (F_a(x) − F_b(x))² — so distributed
    * shape differences (variance, tails) that never open one big gap
    * still accumulate. Run both: KS flags "where", CvM flags
    * "overall".
    *
    * Same bounded-ordered-pass shape as ksTest: dp-quantized value
    * grid from one partial-agg pass, one cumulative window over the
    * ≤10^dp-row frame. Per grid value the CDF gap is the EXACT
    * integer |ca·tb − cb·ta| (decimal lanes); its square and weight
    * (na+nb pooled observations at that value) compute in one fixed
    * double order and truncate 9-dp into an exact decimal, so the
    * cross-value sum is order-independent (the ljungBox discipline;
    * term magnitudes are ≤ weight, so the decimal(28,9) lane holds to
    * ~10¹⁹ rows). `significant` applies the asymptotic 5% cut
    * (T > 0.461, Anderson '62). Empty side → 0 + degenerate.
    *
    * Returns ONE row: (n_a, n_b, t_stat, significant, degenerate) —
    * t_stat 4-dp floored.
    */
  def cramerVonMises(
      df: DataFrame,
      group: Column,
      value: Column,
      groupA: String,
      groupB: String,
      dp: Int = 4,
      critical: Double = 0.461): DataFrame = {
    val (cum, tot) = ecdf(quantizedSides(
      df.filter(value.isNotNull && (group === groupA || group === groupB)),
      value, dp, group === groupA, group === groupB))
    val ta = col("__ta").cast("double")
    val tb = col("__tb").cast("double")
    // gap as exact integer then ONE fixed-order double chain:
    // (d/ta/tb)²·weight, 9-dp truncated per value. try_divide BY
    // CONSTRUCTION: an empty side makes ta or tb 0 and these rows
    // still evaluate (the degenerate guard is downstream)
    val ratio = coalesce(
      try_divide(try_divide(ecdfGap.cast("double"), ta), tb), lit(0.0))
    val term = (col("__na") + col("__nb")).cast("double") * ratio * ratio
    val sumT = cum.crossJoin(broadcast(tot))
      .select((floor(term * 1e9) / 1e9).cast("decimal(28,9)").as("__t9"))
      .agg(sum(col("__t9")).as("__s"))
    val one = tot.crossJoin(sumT)
    val degenerate = col("__ta") === 0 || col("__tb") === 0 ||
      col("__s").isNull
    val tStat = ta * tb / ((ta + tb) * (ta + tb)) *
      col("__s").cast("double")
    one.select(
      col("__ta").as("n_a"), col("__tb").as("n_b"),
      when(degenerate, 0.0).otherwise(floor(tStat * 1e4) / 1e4).as("t_stat"),
      (!degenerate && tStat > critical).as("significant"),
      degenerate.as("degenerate"))
  }

  /** C137: Hosmer-Lemeshow calibration test — the HYPOTHESIS-TEST
    * face of [[calibration]]'s ECE report: group predictions into
    * g quantile bins of predicted probability, compare observed
    * positives o_i against expected e_i = Σp̂ per bin:
    * HL = Σ (o_i − e_i)² / (e_i·(1 − e_i/n_i)), χ²_{g−2} under
    * calibration. ECE says "how far off"; this says "farther than
    * chance would allow".
    *
    * Shape at scale: bin EDGES are exact interpolated percentiles of
    * the 6-dp-quantized score (one aggregation, broadcast back as
    * g−1 doubles — never an ntile total-order sort); per-bin o/e/n
    * from one partial-agg pass, Σp̂ on exact decimal(28,6) lanes.
    * Bins with e = 0 or e = n (the term denominator vanishes) flag
    * degenerate rather than printing infinities.
    *
    * Returns ONE row: (n, g, dof, hl_stat, degenerate) — hl_stat
    * 4-dp floored, dof = g−2 (0-pinned when g < 3).
    */
  def hosmerLemeshow(
      df: DataFrame,
      score: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100, "bins in [2, 100]")
    val t = df.filter(score.isNotNull && label.isNotNull)
      .select((round(score.cast("double"), 6) * 1e6).cast("long").as("__s6"),
        label.cast("boolean").cast("int").as("__y"))
    val ranks = (1 until bins).map(i => i.toDouble / bins)
    val edges = t.agg(
      expr(s"percentile(__s6, array(${ranks.mkString(",")}))").as("__e"))
    val binCol = ranks.indices.map(i =>
      when(col("__s6").cast("double") > element_at(col("__e"), i + 1), 1)
        .otherwise(0)).reduce(_ + _)
    val perBin = t.crossJoin(broadcast(edges))
      .withColumn("__bin", binCol)
      .groupBy("__bin").agg(
        count(lit(1)).as("__n"),
        sum(col("__y")).as("__o"),
        // exact integer micro-sum; ONE division to double at the end
        // (n·1e6 stays far under 2^53 — the fixed-order double is
        // engine-identical)
        sum(col("__s6")).as("__se"))
    hlFromBins(perBin)
  }

  /** [[hosmerLemeshow]] over caller-FIXED bin edges (score units) —
    * the streaming contract: percentile edges cannot be maintained
    * incrementally, but a per-(bin) frame of exact integer sums
    * (n, Σy, Σscore-micro) is perfectly mergeable, so E49 maintains
    * that snapshot per micro-batch against baseline-frozen edges and
    * scores through THIS identical tail. Batch callers use it to
    * score drift against a reference period's edges.
    */
  def hosmerLemeshowFixed(
      df: DataFrame,
      score: Column,
      label: Column,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted, "edges sorted, nonempty")
    hlFromBins(hlBins(df, score, label, edges))
  }

  /** The mergeable per-bin frame (one row per OCCUPIED bin:
    * __bin, __n, __o, __se) under fixed `edges` — E49's snapshot
    * payload; merge = groupBy(__bin).sum over any shard split.
    */
  def hlBins(
      df: DataFrame,
      score: Column,
      label: Column,
      edges: Seq[Double]): DataFrame = {
    val t = df.filter(score.isNotNull && label.isNotNull)
      .select((round(score.cast("double"), 6) * 1e6).cast("long").as("__s6"),
        label.cast("boolean").cast("int").as("__y"))
    val edgeMicros = edges.map(e => math.round(e * 1e6))
    val binCol = edgeMicros.map(em =>
      when(col("__s6") > lit(em), 1).otherwise(0)).reduce(_ + _)
    t.withColumn("__bin", binCol)
      .groupBy("__bin").agg(
        count(lit(1)).as("__n"),
        sum(col("__y")).as("__o"),
        sum(col("__s6")).as("__se"))
  }

  /** Shared scoring tail over a per-bin frame (__bin ignored beyond
    * counting): HL = Σ(o−e)²/(e(1−e/n)), dof = g−2. PUBLIC because
    * E49 scores its maintained snapshot (exactly an [[hlBins]] frame)
    * through this identical path on demand.
    */
  def hlFromBins(perBin: DataFrame): DataFrame = {
    val nD = col("__n").cast("double")
    val e = col("__se").cast("double") / 1e6
    val bad = e <= 0.0 || e >= nD
    // try_divide BY CONSTRUCTION: the bad-bin guard is a when() and
    // codegen CSE can hoist the division out of it (the r12 lesson)
    val term = coalesce(try_divide(
      (col("__o").cast("double") - e) * (col("__o").cast("double") - e),
      e * (lit(1.0) - e / nD)), lit(0.0))
    val agg = perBin.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n"),
      count(lit(1)).as("g"),
      sum(when(bad, lit(null).cast("decimal(20,7)"))
        .otherwise((floor(term * 1e7) / 1e7).cast("decimal(20,7)")))
        .as("__hl"),
      max(bad.cast("int")).as("__anybad"))
    val degenerate = col("g") < 3 || col("__anybad") === 1 ||
      col("__hl").isNull
    agg.select(
      col("n"), col("g"),
      when(col("g") < 3, 0L).otherwise(col("g") - 2).as("dof"),
      when(degenerate, 0.0)
        .otherwise(floor(greatest(lit(0.0), col("__hl").cast("double"))
          * 1e4) / 1e4).as("hl_stat"),
      degenerate.as("degenerate"))
  }

  /** C138: Dunn's test — the post-hoc that belongs to
    * [[kruskalWallis]] the way [[tukeyHsd]] belongs to [[anova]]:
    * after KW says "some group differs", Dunn says WHICH pairs, using
    * the SAME pooled mid-ranks (never per-pair re-ranking, which
    * changes the question): z_ij = (R̄_i − R̄_j) / √(S²·(1/n_i +
    * 1/n_j)) with the tie-corrected pooled rank variance
    * S² = (N(N+1) − Σ(t³−t)/(N−1)) / 12.
    *
    * Shape at scale: the kruskalWallis rank machinery verbatim (one
    * dp-quantized value-grid pass, exact 2·rank integer lanes), then
    * everything runs on the k-row group frame — the pair join is
    * k², config-sized. Mean ranks derive once per group in a fixed
    * double order; z truncates 4-dp toward zero. `critical` is the
    * caller's two-sided cut — default 2.394, the Bonferroni 5% value
    * for k = 3 (3 pairwise comparisons); pass the value for your k.
    *
    * Returns one row per unordered pair: (g_a, g_b, n_a, n_b,
    * mean_rank_a, mean_rank_b, z, significant, degenerate) — mean
    * ranks 4-dp floored.
    */
  def dunnTest(df: DataFrame, group: Column, value: Column,
      dp: Int = 6, critical: Double = 2.394): DataFrame = {
    // __r2 = 2·Σranks per group (exact integer lanes, the KW recipe)
    val (perG, ties) = pooledRankSums(df, group, value, dp)
    val tot = perG.agg(coalesce(sum(col("__n")), lit(0L)).as("__nn"),
      count(lit(1)).as("__k"))
    val withS = tot.crossJoin(ties)
    val nn = col("__nn").cast("double")
    // S² in one fixed double order; ties saturating S² ≤ 0 (all
    // values equal) flags degenerate downstream. try_divide BY
    // CONSTRUCTION: the broadcast side evaluates S² even when no pair
    // exists, and N − 1 = 0 on a one-row input
    val s2 = (nn * (nn + 1.0) -
      try_divide(col("__sumtc").cast("double"), nn - 1.0)) / 12.0
    val aSide = perG.select(col("__g").as("g_a"), col("__n").as("__na"),
      col("__r2").as("__r2a"))
    val bSide = perG.select(col("__g").as("g_b"), col("__n").as("__nb"),
      col("__r2").as("__r2b"))
    val pairs = aSide.join(bSide, col("g_a") < col("g_b"))
      .crossJoin(broadcast(withS.select(col("__nn"), col("__k"),
        s2.as("__s2"))))
    val ma = col("__r2a").cast("double") / 2.0 / col("__na").cast("double")
    val mb = col("__r2b").cast("double") / 2.0 / col("__nb").cast("double")
    val se = sqrt(col("__s2") *
      (lit(1.0) / col("__na").cast("double") +
        lit(1.0) / col("__nb").cast("double")))
    val degenerate = col("__k") < 2 || col("__nn") < 2 || col("__s2") <= 0.0
    // try_divide: an all-tied input makes se = 0 and the degenerate
    // when() downstream is not protection under codegen CSE
    val z = coalesce(try_divide(ma - mb, se), lit(0.0))
    pairs.select(
      col("g_a"), col("g_b"),
      col("__na").as("n_a"), col("__nb").as("n_b"),
      (floor(ma * 1e4) / 1e4).as("mean_rank_a"),
      (floor(mb * 1e4) / 1e4).as("mean_rank_b"),
      when(degenerate, 0.0).otherwise(Num.t4zero(z)).as("z"),
      (!degenerate && abs(z) > critical).as("significant"),
      degenerate.as("degenerate"))
      .orderBy("g_a", "g_b")
  }
}
