package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Num.{b13, b19}

/** Model-evaluation & annotation analytics — the measurement side of
  * the training-data loop next to [[Preference]]: estimate pass@k from
  * sampled rollouts, aggregate self-consistency votes, compare two
  * systems on paired items, and score inter-annotator agreement on
  * human labels. Every operator is ONE partial-aggregable groupBy (or
  * a two-level aggregate whose second stage runs on an already-
  * collapsed bounded frame) — nothing all-pairs, nothing driver-sized,
  * nothing windowed without a partition key.
  *
  * Reference behavior baseline: the reference pipeline
  * (`tratamento_epe.R`) has no eval surface at all — these operators
  * exist for the 100 TB training-pipeline mandate, with the same
  * cross-engine determinism contract as the Stats/Profile families.
  */
object Eval {

  /** Unbiased pass@k estimator (Chen et al. '21, HumanEval): per
    * problem, from `n` sampled attempts of which `c` are correct,
    *
    *   pass@k = 1 − C(n−c, k) / C(n, k)
    *          = 1 − Π_{i=0}^{k−1} (n−c−i) / (n−i)
    *
    * computed on EXACT INTEGER product lanes (numerator and
    * denominator as BIGINTs, ONE double division at the end) so both
    * engines derive the identical double — a per-factor double product
    * would be association-order-dependent. The k-term product is
    * unrolled at plan-build time (k is a config constant), so the
    * whole estimator is one codegen'd projection over a partial-agg
    * groupBy.
    *
    * Contracts: `n − c < k` short-circuits to 1.0 exactly (some
    * failure draw is impossible); undersampled problems (`n < k`)
    * report NULL + the `undersampled` flag — the estimator is
    * undefined there and a silent clamp would overstate coverage.
    * Integer lanes need k·log2(n) < 63, so past n = ⌊2^(63/k)⌋
    * (~55k at k=4, 234 at k=8) the plan switches to the per-factor
    * DOUBLE ratio product — ~1-ulp-accurate, and 4-dp truncation
    * makes the switch invisible in the reported value; without the
    * guard the BIGINT lanes would WRAP silently in Spark and error
    * in ANSI engines (caught in review, spec-pinned).
    */
  def passAtK(df: DataFrame, problemKey: Column, correct: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in [1, 8], got $k")
    val t = df.select(problemKey.as("problem_key"),
      correct.cast("boolean").as("__ok"))
    val agg = t.groupBy("problem_key")
      .agg(count(lit(1)).as("n_samples"),
        coalesce(sum(when(col("__ok"), 1L)), lit(0L)).as("n_correct"))
    val n = col("n_samples")
    val f = n - col("n_correct") // failures
    val num = (0 until k).map(i => f - lit(i.toLong)).reduce(_ * _)
    val den = (0 until k).map(i => n - lit(i.toLong)).reduce(_ * _)
    val nMaxExact = exactLaneBound(k)
    val ratio = (0 until k)
      .map(i => (f - lit(i.toLong)).cast("double") /
        (n - lit(i.toLong)).cast("double"))
      .reduce(_ * _)
    agg.select(col("problem_key"), col("n_samples"), col("n_correct"),
      when(n < k, lit(null).cast("double"))
        .when(f < k, lit(1.0))
        .when(n <= nMaxExact,
          Num.t4floor(lit(1.0) - num.cast("double") / den.cast("double")))
        .otherwise(Num.t4floor(lit(1.0) - ratio))
        .as(s"pass_at_$k"),
      (n < k).as("undersampled"))
  }

  /** Largest n whose k-term falling-factorial product fits a signed
    * long: ⌊2^(63/k)⌋, shared by the batch and streaming estimators.
    */
  private[graft] def exactLaneBound(k: Int): Long =
    math.pow(2.0, 63.0 / k).toLong - 1

  /** Self-consistency aggregation (Wang et al. '23): per problem, the
    * modal answer across sampled chains — ties break (count desc,
    * answer asc) via ONE min-over-struct with a negated count lane, so
    * the winner is deterministic without a ranking window. Reports the
    * vote count, agreement ratio (votes/n — the confidence signal that
    * decides whether the consensus is usable), and answer-space size.
    *
    * Shape: groupBy(problem, answer) partial-agg count (map-side
    * combine collapses repeated votes BEFORE the shuffle — the frame
    * that shuffles is bounded by distinct answers per problem, not
    * samples), then one groupBy(problem) over the collapsed frame.
    * NULL answers (an unparseable chain) count toward `n_samples` but
    * never toward a consensus: they are aggregated as abstentions and
    * excluded from the vote by the null-last struct ordering.
    */
  def majorityVote(df: DataFrame, problemKey: Column,
      answer: Column): DataFrame = {
    val t = df.select(problemKey.as("problem_key"),
      answer.cast("string").as("answer"))
    val votes = t.groupBy("problem_key", "answer")
      .agg(count(lit(1)).as("__cnt"))
    votes.groupBy("problem_key")
      .agg(
        sum(col("__cnt")).as("n_samples"),
        coalesce(sum(when(col("answer").isNotNull, col("__cnt"))), lit(0L))
          .as("n_voted"),
        count(col("answer")).as("n_distinct_answers"),
        // min over (-count, answer): most votes first, then the
        // lexicographically smallest answer; null answers sort null-last
        // under min and never win over a real vote
        min(when(col("answer").isNotNull,
          struct((-col("__cnt")).as("negc"), col("answer")))).as("__top"))
      .select(col("problem_key"), col("n_samples"), col("n_voted"),
        col("n_distinct_answers"),
        col("__top.answer").as("consensus"),
        (-col("__top.negc")).as("consensus_votes"),
        when(col("n_voted") > 0,
          Num.t4floor((-col("__top.negc")).cast("double") / col("n_voted")))
          .as("agreement"))
  }

  /** McNemar paired-system comparison (continuity-corrected): two
    * systems scored on the SAME items — the eval that asks "did B
    * actually beat A" instead of comparing two marginal accuracies
    * whose difference may live entirely in noise. Only the DISCORDANT
    * pairs carry signal:
    *
    *   b = A-only-correct, c = B-only-correct,
    *   χ² = (|b − c| − 1)² / (b + c)
    *
    * Exact integer counts from ONE groupBy-less aggregate (partial-agg
    * conditional sums; one row out), one double division, 4-dp floor;
    * b + c = 0 (no disagreements) reports χ² = 0 un-`significant` —
    * flag-not-crash on the degenerate case. `significant` compares to
    * the χ²(1) 5% critical value 3.8415. Items where either side's
    * verdict is NULL are counted out (`n_skipped`) rather than
    * silently coerced — a missing grade is not a wrong answer.
    */
  def mcnemar(df: DataFrame, correctA: Column, correctB: Column): DataFrame = {
    val t = df.select(correctA.cast("boolean").as("__a"),
      correctB.cast("boolean").as("__b"))
    val graded = col("__a").isNotNull && col("__b").isNotNull
    val agg = t.agg(
      coalesce(sum(when(graded, 1L)), lit(0L)).as("n_items"),
      coalesce(sum(when(!graded, 1L)), lit(0L)).as("n_skipped"),
      coalesce(sum(when(graded && col("__a") && col("__b"), 1L)), lit(0L))
        .as("both_correct"),
      coalesce(sum(when(graded && !col("__a") && !col("__b"), 1L)), lit(0L))
        .as("neither_correct"),
      coalesce(sum(when(graded && col("__a") && !col("__b"), 1L)), lit(0L))
        .as("a_only"),
      coalesce(sum(when(graded && !col("__a") && col("__b"), 1L)), lit(0L))
        .as("b_only"))
    val disc = col("a_only") + col("b_only")
    val diff = abs(col("a_only") - col("b_only"))
    // (|b−c|−1)² as an exact integer lane; continuity correction can
    // only apply when there IS at least one discordant pair, and
    // |b−c|=0 with disc>0 still yields (−1)²=1 — the standard form
    val num = (diff - lit(1L)) * (diff - lit(1L))
    val chi2 = when(disc === 0, lit(0.0))
      .otherwise(Num.t4floor(num.cast("double") / disc.cast("double")))
    agg.select(col("n_items"), col("n_skipped"), col("both_correct"),
      col("neither_correct"), col("a_only"), col("b_only"),
      when(col("n_items") > 0,
        Num.t4floor((col("both_correct") + col("a_only")).cast("double") /
          col("n_items"))).as("acc_a"),
      when(col("n_items") > 0,
        Num.t4floor((col("both_correct") + col("b_only")).cast("double") /
          col("n_items"))).as("acc_b"),
      chi2.as("chi2"),
      (disc > 0 && chi2 > 3.8415).as("significant"))
  }

  /** Cohen's kappa inter-annotator agreement on categorical labels —
    * the go/no-go statistic for a human-labeled RM/SFT batch (raw
    * percent agreement rewards annotators for majority-class
    * collusion; kappa subtracts the chance floor):
    *
    *   κ = (p_o − p_e) / (1 − p_e),  p_e = Σ_k row_k · col_k / n²
    *
    * ONE partial-agg pass to the bounded r·c contingency frame; both
    * margins by partial-agg groupBys OVER that frame joined back
    * null-safely ([[Stats.chiSquared]]'s discipline — NULL is a real
    * label level, a missing annotation forms its own class rather
    * than dropping the row, so coverage gaps surface as disagreement).
    * p_e's products sum over exact integer lanes (row_k·col_k as
    * BIGINT, one division by n² at the end) — order-independent where
    * a per-class double sum is not. κ is 4-dp TOWARD-ZERO (it can be
    * negative — worse-than-chance must not truncate away from zero
    * and flip a comparison). Degenerate p_e = 1 (both annotators
    * constant) reports κ = 0 + `degenerate` flag.
    */
  def cohenKappa(df: DataFrame, labelA: Column, labelB: Column): DataFrame = {
    val t = df.select(labelA.cast("string").as("__la"),
      labelB.cast("string").as("__lb"))
    val cells = t.groupBy("__la", "__lb").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // three consumers: margins × 2 + diagonal
    val rows = cells.groupBy("__la").agg(sum(col("cnt")).as("row_n"))
    val cols = cells.groupBy("__lb").agg(sum(col("cnt")).as("col_n"))
    val chance = rows.join(cols, rows("__la") <=> cols("__lb"))
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("pe_num"))
    val totals = cells.agg(
      sum(col("cnt")).as("n_items"),
      coalesce(sum(when(col("__la") <=> col("__lb"), col("cnt"))), lit(0L))
        .as("n_agree"))
    val j = totals.crossJoin(broadcast(chance))
    val n = col("n_items").cast("double")
    val po = col("n_agree").cast("double") / n
    val pe = col("pe_num").cast("double") / (n * n)
    j.select(col("n_items"), col("n_agree"),
      Num.t4floor(po).as("p_observed"),
      Num.t4floor(pe).as("p_expected"),
      when(col("pe_num") === col("n_items") * col("n_items"), lit(0.0))
        .otherwise(Num.t4zero((po - pe) / (lit(1.0) - pe))).as("kappa"),
      (col("pe_num") === col("n_items") * col("n_items")).as("degenerate"))
  }

  /** Fleiss' kappa multi-rater agreement (Fleiss '71, the n-rater
    * generalization of [[cohenKappa]]) over one row per RATING
    * (item, category): the rater-pool QA number when annotation jobs
    * fan past two raters. Uses the varying-n generalization — items
    * keep their own rating count n_i — so partially-labelled batches
    * score without a fixed-panel precondition; items with fewer than
    * 2 ratings can't express agreement and are EXCLUDED (reported via
    * n_items; the category marginals count only retained items, so
    * P̄ and P̄_e describe the same population).
    *
    *   P_i  = (Σ_j n_ij² − n_i) / (n_i (n_i − 1))
    *   P̄   = mean_i P_i          P̄_e = Σ_j c_j² / N²
    *   κ    = (P̄ − P̄_e) / (1 − P̄_e)
    *
    * Determinism: every input to a cross-partition sum is exact —
    * n_ij counts, c_j² on decimal(38,0) lanes (no 64-bit wrap at
    * corpus scale), and P_i truncated to a 7-dp decimal before the
    * mean (the gradient-residual idiom) so the item sum is
    * order-independent. All-one-category batches make P̄_e = 1; the
    * kappa denominator vanishes, so the row reports 0 + `degenerate`
    * (cohenKappa's convention), as does an empty input.
    *
    * Shape at scale: two partial-agg groupBys over the (item,
    * category) count table plus three 1-row aggregates — nothing
    * all-pairs, nothing driver-sized.
    */
  def fleissKappa(df: DataFrame, item: Column, category: Column): DataFrame = {
    val t = df.select(item.cast("string").as("__i"),
        category.cast("string").as("__c"))
      .where(col("__i").isNotNull && col("__c").isNotNull)
    val cells = t.groupBy("__i", "__c").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // two consumers: per-item stats + marginals
    val items = cells.groupBy("__i").agg(
        sum(col("nij")).as("ni"),
        sum(col("nij") * col("nij")).as("ssq"))
      .where(col("ni") >= 2)
      .localCheckpoint() // two consumers: P̄ + the retained-item filter
    val pbar = items.select(
        ((col("ssq") - col("ni")).cast("double") /
          (col("ni") * (col("ni") - lit(1L))).cast("double")).as("pi"))
      .select((floor(col("pi") * 1e7) / 1e7).cast("decimal(18,7)").as("pid"))
      .agg(coalesce(sum(col("pid")), lit(0).cast("decimal(18,7)")).as("pnum"),
        count(lit(1)).as("n_items"))
    val chance = cells.join(items.select("__i"), "__i")
      .groupBy("__c").agg(sum(col("nij")).as("cj"))
      .agg(
        coalesce(sum(col("cj").cast("decimal(38,0)") *
          col("cj").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
          .as("csq"),
        coalesce(sum(col("cj")), lit(0L)).as("n_ratings"),
        count(lit(1)).as("n_categories"))
    val j = pbar.crossJoin(broadcast(chance))
    val nn = col("n_ratings").cast("double")
    val pb = col("pnum").cast("double") / col("n_items").cast("double")
    val pe = col("csq").cast("double") / (nn * nn)
    val degenerate = col("n_items") === 0 ||
      col("csq").cast("double") === nn * nn
    j.select(col("n_items"), col("n_ratings"), col("n_categories"),
      when(col("n_items") === 0, lit(0.0)).otherwise(Num.t4floor(pb))
        .as("p_bar"),
      when(col("n_items") === 0, lit(0.0)).otherwise(Num.t4floor(pe))
        .as("p_expected"),
      when(degenerate, lit(0.0)).otherwise(Num.t4zero((pb - pe) / (lit(1.0) - pe)))
        .as("kappa"),
      degenerate.as("degenerate"))
  }

  /** D137: Kendall's W — coefficient of CONCORDANCE for m raters
    * RANKING n items, completing the agreement family (D93 pairwise
    * nominal, D110 multi-rater nominal, D116 general distance — this
    * one answers "do the raters ORDER the items the same way", the
    * right question when scores are on incomparable scales):
    *
    *   W = (12·ΣᵢRᵢ² − 3m²n(n+1)²) / (m²n(n²−1) − m·ΣᵣTᵣ)
    *
    * with Rᵢ = summed (midrank-tied) ranks of item i across raters
    * and Tᵣ = Σ(t³−t) over rater r's tie groups (the tie correction).
    * W ∈ [0, 1]; 1 = identical orderings. Determinism: ranks are
    * DOUBLED midranks (the spearman lanes — halves never touch a
    * double), so 4·ΣRᵢ² = ΣR′ᵢ² is an exact decimal(38) sum,
    * numerator = 3·ΣR′² − 12·m²·n·(n+1)²... computed as
    * (3·ΣR′ᵢ² − 3·m²·n·(2n+2)²/4)·... — concretely both numerator and
    * denominator assemble from exact integer moments and divide ONCE
    * in double, 4-dp floor (W ≥ 0). Input: LONG format (item, rater,
    * score), one row per pair; every rater must score every item (the
    * balanced-panel contract — unbalanced panels need D116). Rater
    * count m and item count n are frame-derived exact longs.
    * Degenerate (m < 2, n < 2, or all-tied raters zeroing the
    * denominator) reports 0 + flag. Returns ONE row:
    * (n_items, n_raters, w, degenerate).
    *
    * Shape at scale: per-rater keyed rank windows over the item frame
    * + one partial-agg per item — panels are item-bounded by nature.
    */
  def kendallW(df: DataFrame, item: Column, rater: Column,
      score: Column): DataFrame = {
    val t = df.select(item.as("__i"), rater.cast("string").as("__r"),
        score.cast("double").as("__s"))
      .filter(col("__i").isNotNull && col("__r").isNotNull && col("__s").isNotNull)
    // doubled midrank of each row within its rater: 2·cum + cnt + 1
    // over the rater-local VALUE frame (spearman's bounded-pass trick)
    val vf = t.groupBy("__r", "__s").agg(count(lit(1)).as("__cnt"))
    val ranked = vf
      .withColumn("__cum", Stats.cumBefore("__cnt", "__s", "__r"))
      .select(col("__r"), col("__s"),
        Stats.midRank2(col("__cum"), col("__cnt")).as("__rr"), col("__cnt"))
    val rows = t.join(ranked, Seq("__r", "__s"))
    val perItem = rows.groupBy("__i")
      .agg(sum(b19(col("__rr"))).as("__ri"), count(lit(1)).as("__m"))
    // tie correction per rater from the value frame
    val ties = vf.groupBy("__r")
      .agg(sum(b13(col("__cnt")) * b13(col("__cnt")) * b13(col("__cnt"))
        - b13(col("__cnt"))).cast("decimal(38,0)").as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0L).cast("decimal(38,0)")).as("__tt"),
        count(lit(1)).as("__m2"))
    val moments = perItem.agg(
      count(lit(1)).as("__n"),
      coalesce(sum(col("__ri") * col("__ri")), lit(0L).cast("decimal(38,0)"))
        .as("__sr2"),
      max(col("__m")).as("__mmax"), min(col("__m")).as("__mmin"))
    def d(c: Column): Column = c.cast("double")
    val out = moments.crossJoin(ties)
    val nd = d(col("__n"))
    val md = d(col("__m2"))
    // doubled lanes: ΣR′² = 4·ΣR², so 12·ΣR² = 3·ΣR′² exactly — the
    // numerator assembles at the STANDARD scale ((2n+2)²/4 = (n+1)²)
    // and the denominator needs no scale factor:
    //   W = (3·ΣR′² − 3·m²·n·(2n+2)²/4) / (m²n(n²−1) − m·ΣT)
    val num = lit(3.0) * d(col("__sr2")) -
      lit(3.0) * md * md * nd * (nd * 2.0 + 2.0) * (nd * 2.0 + 2.0) / 4.0
    val den = md * md * nd * (nd * nd - 1.0) - md * d(col("__tt"))
    val degenerate = col("__m2") < 2 || col("__n") < 2 ||
      col("__mmax") =!= col("__mmin") || col("__mmax") =!= col("__m2") ||
      den <= 0.0
    out.select(col("__n").as("n_items"), col("__m2").as("n_raters"),
      when(degenerate, lit(0.0))
        .otherwise(floor(greatest(lit(0.0), num / den) * 1e4) / 1e4).as("w"),
      degenerate.as("degenerate"))
  }

  /** Krippendorff's alpha (nominal metric) — the agreement
    * coefficient built for ARBITRARY missingness, completing the
    * family ([[cohenKappa]]: 2 raters; [[fleissKappa]]: n raters,
    * chance from category prevalence): alpha compares observed to
    * expected DISAGREEMENT over the coincidence matrix, so items
    * with any number of ratings ≥ 2 contribute exactly their
    * pairable mass and no fixed-panel assumption ever enters.
    *
    *   A  = Σ_i Σ_c n_ic(n_ic−1)/(n_i−1)   (diagonal coincidence)
    *   D_o = n − A            D_e = (n² − Σ_c n_c²)/(n−1)
    *   α  = 1 − D_o/D_e
    *
    * Exactness: per-item diagonal mass is a ratio of integers
    * truncated to a 7-dp decimal before the order-independent item
    * sum (the [[fleissKappa]] lane); n, n_c and Σn_c² ride
    * integer/decimal(38) lanes; two double divisions at the end.
    * D_e = 0 (every rating one category, or n ≤ 1) flags
    * `degenerate` with α = 0 — same convention as the kappas.
    * Shape: the fleissKappa plan — two partial-agg groupBys over the
    * (item, category) cell table + 1-row aggregates.
    */
  def krippendorffAlpha(df: DataFrame, item: Column,
      category: Column): DataFrame = {
    val t = df.select(item.cast("string").as("__i"),
        category.cast("string").as("__c"))
      .where(col("__i").isNotNull && col("__c").isNotNull)
    val cells = t.groupBy("__i", "__c").agg(count(lit(1)).as("nic"))
      .localCheckpoint() // two consumers: per-item mass + margins
    val items = cells.groupBy("__i").agg(
        sum(col("nic")).as("ni"),
        sum(col("nic") * (col("nic") - lit(1L))).as("diagNum"))
      .where(col("ni") >= 2)
      .localCheckpoint() // two consumers: A lanes + the pairable filter
    val aAgg = items.select(
        ((col("diagNum")).cast("double") / (col("ni") - lit(1L)).cast("double"))
          .as("ai"))
      .select((floor(col("ai") * 1e7) / 1e7).cast("decimal(18,7)").as("aid"))
      .agg(coalesce(sum(col("aid")), lit(0).cast("decimal(18,7)")).as("aSum"),
        count(lit(1)).as("n_items"))
    val margins = cells.join(items.select("__i"), "__i")
      .groupBy("__c").agg(sum(col("nic")).as("nc"))
      .agg(coalesce(sum(col("nc")), lit(0L)).as("nn"),
        coalesce(sum(col("nc").cast("decimal(38,0)") *
          col("nc").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
          .as("ncsq"),
        count(lit(1)).as("n_categories"))
    val j = aAgg.crossJoin(broadcast(margins))
    val nn = col("nn").cast("double")
    val dO = nn - col("aSum").cast("double")
    val dE = when(col("nn") >= 2,
      (nn * nn - col("ncsq").cast("double")) / (nn - lit(1.0)))
    val degenerate = col("nn") < 2 || dE <= 0d
    j.select(col("n_items"), col("nn").as("n_pairable"), col("n_categories"),
      when(col("nn") === 0, lit(0.0)).otherwise(Num.t4floor(dO)).as("d_o"),
      when(degenerate, lit(0.0)).otherwise(Num.t4floor(dE)).as("d_e"),
      when(degenerate, lit(0.0)).otherwise(Num.t4zero(lit(1.0) - dO / dE))
        .as("alpha"),
      degenerate.as("degenerate"))
  }

  /** Multi-class classification report — the confusion-derived
    * per-class precision/recall/F1 table plus macro and micro summary
    * rows, the standard eval surface for the [[Classify]] family's
    * single-label outputs (the binary pr_curve/auc tier doesn't
    * generalize past two classes). One partial-agg pass to the
    * bounded |truth|×|pred| cell table; classes = the UNION of truth
    * and predicted labels, so phantom predictions (a class the model
    * invents) and missed classes both get rows.
    *
    * Per class: n_true (support), n_pred, tp, precision = tp/n_pred,
    * recall = tp/n_true, f1 — a side with zero mass leaves its ratio
    * NULL (unmeasurable), but the MACRO means count those classes at
    * 0 (the scikit zero_division=0 convention: inventing or missing
    * a class must drag the average down, not vanish from it). Macro
    * means run over 7-dp decimal lanes (order-independent); the
    * `__micro__` row is accuracy = Σtp/N in all three metric columns
    * (micro-P = micro-R for single-label). Rows with a NULL label or
    * prediction are excluded. All counts exact integers; one double
    * division per reported ratio; 4-dp floors.
    */
  def classReport(df: DataFrame, label: Column, predicted: Column): DataFrame = {
    val t = df.select(label.cast("string").as("__y"),
        predicted.cast("string").as("__p"))
      .where(col("__y").isNotNull && col("__p").isNotNull)
    val cells = t.groupBy("__y", "__p").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // three consumers: truth/pred margins + total
    val byTrue = cells.groupBy("__y").agg(
      sum(col("cnt")).as("n_true"),
      coalesce(sum(when(col("__y") === col("__p"), col("cnt"))), lit(0L))
        .as("__tp"))
    val byPred = cells.groupBy("__p").agg(sum(col("cnt")).as("n_pred"))
    val classes = byTrue.select(col("__y").as("class"))
      .unionByName(byPred.select(col("__p").as("class"))).distinct()
    val per = classes
      .join(byTrue.withColumnRenamed("__y", "class"), Seq("class"), "left")
      .join(byPred.withColumnRenamed("__p", "class"), Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("__tp"), lit(0L)).as("tp"))
      .withColumn("__pr", when(col("n_pred") > 0,
        col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("__rc", when(col("n_true") > 0,
        col("tp").cast("double") / col("n_true").cast("double")))
      .withColumn("__f1", when(col("__pr").isNotNull && col("__rc").isNotNull,
        when(col("__pr") + col("__rc") === 0d, lit(0.0))
          .otherwise(lit(2.0) * col("__pr") * col("__rc")
            / (col("__pr") + col("__rc")))))
      .localCheckpoint() // two consumers: report rows + macro lanes
    def lane(c: Column): Column =
      (floor(coalesce(c, lit(0.0)) * 1e7) / 1e7).cast("decimal(18,7)")
    val summary = per.agg(
      count(lit(1)).as("__k"),
      coalesce(sum(col("n_true")), lit(0L)).as("n_true"),
      coalesce(sum(col("n_pred")), lit(0L)).as("n_pred"),
      coalesce(sum(col("tp")), lit(0L)).as("tp"),
      sum(lane(col("__pr"))).as("__sp"), sum(lane(col("__rc"))).as("__sr"),
      sum(lane(col("__f1"))).as("__sf"))
    val perRows = per.select(col("class"), col("n_true"), col("n_pred"),
      col("tp"), Num.t4floor(col("__pr")).as("precision"),
      Num.t4floor(col("__rc")).as("recall"),
      Num.t4floor(col("__f1")).as("f1"))
    val macroRow = summary.select(lit("__macro__").as("class"),
      col("n_true"), col("n_pred"), col("tp"),
      Num.t4floor(col("__sp").cast("double") / col("__k")).as("precision"),
      Num.t4floor(col("__sr").cast("double") / col("__k")).as("recall"),
      Num.t4floor(col("__sf").cast("double") / col("__k")).as("f1"))
    val acc = when(col("n_true") > 0,
      floor(col("tp").cast("double") / col("n_true").cast("double") * 1e4) / 1e4)
    val microRow = summary.select(lit("__micro__").as("class"),
      col("n_true"), col("n_pred"), col("tp"),
      acc.as("precision"), acc.as("recall"), acc.as("f1"))
    perRows.unionByName(macroRow).unionByName(microRow)
  }

  /** BLEU/ROUGE-style n-gram overlap between a candidate and a
    * reference text per row — the generation-eval face of the n-gram
    * machinery the dedup family already runs: clipped n-gram
    * precisions p1..p4 (Papineni et al. '02 modified precision:
    * Σ_g min(cnt_cand, cnt_ref) / Σ_g cnt_cand), ROUGE-1/2 recall
    * (Lin '04: same clipped matches over the reference mass), the
    * BLEU-4 precision core as the geometric mean via
    * sqrt(sqrt(((p1·p2)·p3)·p4)) — two CORRECTLY-ROUNDED sqrts of a
    * fixed-association product, so the value is engine-portable where
    * a pow(·, 0.25) or the exp-based brevity penalty would not be
    * (the DoReMi libm lesson); length_ratio is reported so callers
    * can apply any BP policy downstream on exact inputs.
    *
    * Null contract: a side with no n-grams at level n (fewer than n
    * tokens) leaves that precision/recall NULL — a 0 would read as
    * "attested disagreement" where nothing was measurable — and any
    * NULL p_n nulls bleu_p; a measured-but-zero overlap propagates
    * an exact 0.0 instead. Counts are exact integers; the single
    * double division per reported ratio is identical IEEE on both
    * engines; 4-dp floor reporting.
    *
    * Shape at scale: candidate and reference live on the SAME ROW, so
    * the whole computation is one shuffle-free projection — the
    * [[graft.functions.TokenGramStats]] Catalyst Expression sorts each
    * row's own gram index arrays and merge-counts the clipped matches
    * (the ChrFStats shape at word level), never the explode →
    * hash-agg → full-outer-join pipeline that shuffled ~2·nMax rows
    * per TOKEN for a row-local computation (the r10 bench-honesty
    * find).
    */
  def ngramOverlap(df: DataFrame, id: Column, candidate: Column,
      reference: Column): DataFrame = {
    import graft.functions.tokens
    val nMax = 4
    // scaleOut: tokenization + per-row gram sort is a CPU kernel stage
    val base = scaleOut(df.select(id.as("id"), candidate.as("__c0"),
        reference.as("__r0")))
      .select(col("id"), tokens(col("__c0")).as("__ct"),
        tokens(col("__r0")).as("__rt"))
      .withColumn("__st",
        graft.functions.TokenGramStats.tokenGramStats(
          col("__ct"), col("__rt"), nMax))
    def m(n: Int): Column = element_at(col("__st"), 3 * (n - 1) + 1)
    def dc(n: Int): Column = element_at(col("__st"), 3 * (n - 1) + 2)
    def dr(n: Int): Column = element_at(col("__st"), 3 * (n - 1) + 3)
    def p(n: Int): Column = when(dc(n) > 0,
      m(n).cast("double") / dc(n).cast("double"))
    def r(n: Int): Column = when(dr(n) > 0,
      m(n).cast("double") / dr(n).cast("double"))
    val prod = p(1) * p(2) * p(3) * p(4)
    val lenC = size(col("__ct")).cast("long")
    val lenR = size(col("__rt")).cast("long")
    base.select(
      col("id"), lenC.as("len_cand"), lenR.as("len_ref"),
      Num.t4floor(p(1)).as("p1"), Num.t4floor(p(2)).as("p2"),
      Num.t4floor(p(3)).as("p3"), Num.t4floor(p(4)).as("p4"),
      Num.t4floor(r(1)).as("rouge1_recall"),
      Num.t4floor(r(2)).as("rouge2_recall"),
      Num.t4floor(sqrt(sqrt(prod))).as("bleu_p"),
      when(lenR > 0, Num.t4floor(lenC.cast("double") / lenR.cast("double")))
        .as("length_ratio"))
  }

  /** chrF — character n-gram F-score (Popović '15), the
    * tokenization-free companion to [[ngramOverlap]]'s word-level
    * BLEU/ROUGE: morphology-rich and unsegmented languages score
    * fairly because nothing depends on a word splitter. Whitespace is
    * removed (the chrF convention), character n-grams n = 1..`maxN`
    * (default 6) are counted per side, and per-order clipped matches
    * yield P_n / R_n; chrP / chrR are the arithmetic means over the
    * MEASURABLE orders (a side shorter than n contributes no order-n
    * statement — the ngramOverlap NULL contract, not a punitive 0),
    * and chrF_β folds them with β = 2 (recall-weighted, the standard).
    *
    * Determinism: counts are exact integers; each P_n / R_n is one
    * IEEE division; the order-average sums run over the FIXED order
    * list 1..maxN textually (never data order); β² enters as integer
    * literals; 4-dp floor reporting. Rows where no order is
    * measurable on a side report NULL for that side and NULL chrF.
    *
    * Shape at scale: chrF is embarrassingly ROW-LOCAL (candidate and
    * reference live on the same row), so the whole computation is one
    * shuffle-free projection: the [[graft.functions.ChrFStats]]
    * Catalyst Expression sorts each row's own gram index arrays and
    * merge-counts the clipped matches (O(maxN·L log L) per row, no
    * per-gram allocation) — never the explode → hash-agg →
    * full-outer-join pipeline, which would shuffle ~2·maxN rows per
    * CHARACTER for a computation that needs no shuffle at all (the
    * r10 bench-honesty find: count() had silently pruned exactly that
    * pipeline, hiding a ~14× hidden cost).
    */
  def chrF(df: DataFrame, id: Column, candidate: Column,
      reference: Column, maxN: Int = 6): DataFrame = {
    require(maxN >= 1 && maxN <= 10, "maxN in [1, 10]")
    val strip = (c: Column) => regexp_replace(c, "\\s+", "")
    // scaleOut: the per-row gram sort is a CPU-bound kernel stage; a
    // single-split doc table must not serialize it onto one task
    val base = scaleOut(df.select(id.as("id"), candidate.as("__c0"),
        reference.as("__r0")))
      .select(col("id"), strip(col("__c0")).as("__c"),
        strip(col("__r0")).as("__r"))
      .withColumn("__st",
        graft.functions.ChrFStats.chrfStats(col("__c"), col("__r"), maxN))
    def m(n: Int): Column = element_at(col("__st"), 3 * (n - 1) + 1)
    def dc(n: Int): Column = element_at(col("__st"), 3 * (n - 1) + 2)
    def dr(n: Int): Column = element_at(col("__st"), 3 * (n - 1) + 3)
    def meas(d: Int => Column): Column = (1 to maxN).map(n =>
      when(d(n) > 0, 1).otherwise(0)).reduce(_ + _)
    def ratioSum(d: Int => Column): Column = (1 to maxN).map(n =>
      when(d(n) > 0, m(n).cast("double") / d(n).cast("double"))
        .otherwise(lit(0.0))).reduce(_ + _)
    val chrp = when(meas(dc) > 0, ratioSum(dc) / meas(dc))
    val chrr = when(meas(dr) > 0, ratioSum(dr) / meas(dr))
    val f2 = when(chrp.isNotNull && chrr.isNotNull,
      when(chrp + chrr > 0.0, lit(5.0) * chrp * chrr / (lit(4.0) * chrp + chrr))
        .otherwise(lit(0.0)))
    base.select(
      col("id"),
      length(col("__c")).cast("long").as("len_cand"),
      length(col("__r")).cast("long").as("len_ref"),
      Num.t4floor(chrp).as("chrp"), Num.t4floor(chrr).as("chrr"),
      Num.t4floor(f2).as("chrf2"))
  }

  /** D134: ROUGE-L — the LCS-based member completing the
    * text-similarity eval family ([[chrF]] counts character grams,
    * [[ngramOverlap]] counts word grams; ROUGE-L rewards IN-ORDER
    * agreement without requiring contiguity, the standard
    * summarization score):
    *
    *   P = LCS/|cand|, R = LCS/|ref|, F = 2PR/(P+R)
    *
    * Candidate and reference live on the same row, so the whole
    * computation is one shuffle-free projection over the
    * [[graft.functions.LcsLen]] Catalyst Expression (rolling-row
    * O(n·m) DP per row). `maxTokens` bounds the quadratic kernel —
    * sentence/summary-level ROUGE by contract; both sides slice to
    * the first maxTokens tokens of the SHARED tokenizer, so the
    * oracle's DP replays on identical token arrays. Empty sides score
    * NULL precision/recall (unmeasurable, the chrF convention), LCS
    * 0. Returns (id, n_cand, n_ref, lcs, rouge_p, rouge_r, rouge_lf),
    * ratios 4-dp floored from exact integer inputs.
    */
  def rougeL(df: DataFrame, id: Column, candidate: Column,
      reference: Column, maxTokens: Int = 64): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be >= 1")
    val base = scaleOut(df.select(id.as("id"), candidate.as("__c0"),
        reference.as("__r0")))
      .select(col("id"),
        slice(graft.functions.tokens(col("__c0")), 1, maxTokens).as("__ct"),
        slice(graft.functions.tokens(col("__r0")), 1, maxTokens).as("__rt"))
      .withColumn("__lcs",
        graft.functions.LcsLen.lcsLen(col("__ct"), col("__rt")))
    val nC = size(col("__ct")).cast("long")
    val nR = size(col("__rt")).cast("long")
    val p = when(nC > 0, col("__lcs").cast("double") / nC.cast("double"))
    val r = when(nR > 0, col("__lcs").cast("double") / nR.cast("double"))
    val f = when(p.isNotNull && r.isNotNull,
      when(p + r > 0.0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0)))
    base.select(col("id"), nC.as("n_cand"), nR.as("n_ref"),
      col("__lcs").as("lcs"),
      Num.t4floor(p).as("rouge_p"), Num.t4floor(r).as("rouge_r"),
      Num.t4floor(f).as("rouge_lf"))
  }

  /** D136: corpus SELF-similarity (diversity) report — the self-BLEU
    * analog for generated/synthetic data QA, built on [[rougeL]]: a
    * mode-collapsed generator scores high self-similarity long before
    * a human notices the samples rhyme. Pairs are DETERMINISTIC
    * adjacent docs in id order within each group (the lead-window
    * pairing: n−1 pairs per group, never the quadratic all-pairs —
    * at corpus scale adjacent-in-id is an unbiased-enough probe and
    * the cost is one keyed window), each scored with the LCS kernel
    * at `maxTokens`. The mean F returns on exact 1e4 lanes (each
    * pair's 4-dp-floored F is an exact multiple of 1e-4 → summed as
    * longs, ONE double division, 4-dp floor), so no float reduction
    * order leaks. Returns (key, n_pairs, mean_rouge_lf,
    * max_rouge_lf) per group.
    */
  def selfSimilarity(df: DataFrame, group: Column, id: Column, text: Column,
      maxTokens: Int = 24): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("id")
    val pairs = df.select(group.cast("string").as("key"), id.as("id"),
        text.as("__t"))
      .withColumn("__t2", lead(col("__t"), 1).over(w))
      .filter(col("__t2").isNotNull)
    // rougeL keys on a single id column; ids need only be unique WITHIN
    // a group, so the join-back runs on a (key, id) composite — a bare
    // id join would fan out across groups when ids repeat between them
    val pid = concat_ws("\u0001", col("key"), col("id").cast("string"))
    val scored = rougeL(pairs.select(pid.as("__pid"),
        col("__t").as("__cand"), col("__t2").as("__ref")),
        col("__pid"), col("__cand"), col("__ref"), maxTokens)
      .withColumnRenamed("id", "__pid")
      .join(pairs.select(pid.as("__pid"), col("key")), Seq("__pid"))
    scored.groupBy("key")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("rouge_lf") * 1e4).cast("long")).as("__s"),
        max(col("rouge_lf")).as("max_rouge_lf"))
      .select(col("key"), col("n_pairs"),
        // __s is in 1e-4 units: mean = floor(__s/n) back on the grid
        (floor(col("__s").cast("double") / col("n_pairs").cast("double"))
          / 1e4).as("mean_rouge_lf"),
        col("max_rouge_lf"))
  }

  /** Wilson score interval per group — the closed-form binomial CI
    * for pass/win/violation RATES ([[bootstrapCI]] covers means of
    * arbitrary values at B-resamples cost; a rate deserves the exact
    * one-pass answer, and Wilson stays honest at small n and extreme
    * p̂ where the naive Wald interval collapses):
    *
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    *
    * One partial-aggregated (n, successes) pass per group; the
    * interval derives in double with a fixed textual order over
    * exact integers (sqrt is correctly rounded on both engines — the
    * ngramOverlap contract), bounds clamp to [0,1], 6-dp floors.
    * NULL outcomes are excluded (unmeasured, not failure). Groups
    * with n = 0 never appear (no rows). Returns
    * (grp, n, successes, rate, ci_lo, ci_hi).
    */
  def wilsonInterval(df: DataFrame, group: Column, success: Column,
      z: Double = 1.96): DataFrame = {
    require(z > 0, "z must be positive")
    val s = success.cast("boolean")
    val g = df.filter(s.isNotNull)
      .groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(s, 1L).otherwise(0L)), lit(0L)).as("successes"))
    val nd = col("n").cast("double")
    val p = col("successes").cast("double") / nd
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nd
    val center = (p + z2 / (nd * 2.0)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nd
      + z2 / (nd * nd * 4.0)) / denom
    def f6(c: Column): Column = floor(c * 1e6) / 1e6
    g.select(col("grp"), col("n"), col("successes"),
      f6(p).as("rate"),
      f6(greatest(lit(0.0), center - half)).as("ci_lo"),
      f6(least(lit(1.0), center + half)).as("ci_hi"))
  }

  /** Cochran's Q — the k-SYSTEM generalization of McNemar (D92):
    * "do these k models differ on the same graded items?" as one
    * statistic instead of k(k−1)/2 pairwise McNemars fighting the
    * multiple-testing tax. Complete blocks only (an item ungraded by
    * any system is excluded — Cochran's design assumption, reported
    * via n_excluded);
    *
    *   Q = (k−1)·[k·ΣG_j² − (ΣG_j)²] / (k·ΣL_i − ΣL_i²)
    *
    * with G_j = system j's successes and L_i = item i's successes.
    * Under H0, Q ~ χ²_{k−1} (compare downstream — the chiSquared
    * no-p-lane convention). Exact integer counts; the squares ride
    * 38-digit decimal lanes (G² overflows long at corpus scale); one
    * double division, 4-dp floor. All-pass/all-fail-everywhere
    * degenerates to 0 flagged. Returns ONE row:
    * (n_items, n_excluded, k, dof, q, degenerate).
    *
    * Shape at scale: one groupBy(item) pass (L_i + completeness),
    * one groupBy(system) pass over the retained long frame, two
    * 1-row aggregates crossJoined — no window, nothing driver-side.
    */
  def cochranQ(df: DataFrame, item: Column, system: Column,
      success: Column): DataFrame = {
    val s = success.cast("boolean")
    // NULL item/system rows are unattributable, not a real block/arm
    // (the friedman filter — the two siblings must agree)
    val t = df.filter(s.isNotNull && item.isNotNull && system.isNotNull)
      .select(item.as("__i"), system.as("__s"), when(s, 1L).otherwise(0L).as("__x"))
    val kRow = t.agg(countDistinct(col("__s")).as("__k"))
    val perItem = t.groupBy("__i").agg(
      count(lit(1)).as("__n"), sum(col("__x")).as("__l"))
    val items = perItem.crossJoin(broadcast(kRow))
      .withColumn("__complete", col("__n") === col("__k"))
    val li = items.agg(
      coalesce(sum(when(col("__complete"), 1L)), lit(0L)).as("n_items"),
      coalesce(sum(when(!col("__complete"), 1L)), lit(0L)).as("n_excluded"),
      coalesce(sum(when(col("__complete"), col("__l"))), lit(0L)).as("__sl"),
      coalesce(sum(when(col("__complete"),
        (b19(col("__l")) * b19(col("__l"))).cast("decimal(38,0)"))),
        lit(0).cast("decimal(38,0)")).as("__sl2"))
    val retained = t.join(
      items.filter(col("__complete")).select(col("__i")), Seq("__i"), "left_semi")
    val gj = retained.groupBy("__s").agg(sum(col("__x")).as("__g"))
      .agg(
        coalesce(sum(col("__g")), lit(0L)).as("__sg"),
        coalesce(sum((b19(col("__g")) * b19(col("__g"))).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("__sg2"))
    val kd = col("__k").cast("double")
    val num = (kd * col("__sg2").cast("double")
      - col("__sg").cast("double") * col("__sg").cast("double"))
    val den = (kd * col("__sl").cast("double") - col("__sl2").cast("double"))
    val degenerate = col("__k") < 2 || den <= 0.0
    li.crossJoin(gj).crossJoin(broadcast(kRow)).select(
      col("n_items"), col("n_excluded"), col("__k").as("k"),
      when(col("__k") > 0, col("__k") - 1).otherwise(0L).as("dof"),
      when(degenerate, 0.0)
        .otherwise(Num.t4floor((kd - 1.0) * num / den)).as("q"),
      degenerate.as("degenerate"))
  }

  /** The complete-block split of [[friedman]] and [[pageTrend]] over
    * a (`__i` item, `arm`, `__v`) frame: k = the distinct arms, and an
    * item is a complete block when it carries k rows (the cochranQ
    * contract). Returns the one-row `__k`, the one-row block counts
    * (`n_items`, `n_excluded`) and the rows of the complete blocks.
    */
  private def completeBlocks(t: DataFrame, arm: String): (DataFrame, DataFrame, DataFrame) = {
    val kRow = t.agg(countDistinct(col(arm)).as("__k"))
    val perItem = t.groupBy("__i").agg(count(lit(1)).as("__n"))
    val flagged = perItem.crossJoin(broadcast(kRow))
      .select(col("__i"), (col("__n") === col("__k")).as("__complete"))
    val counts = flagged.agg(
      coalesce(sum(when(col("__complete"), 1L)), lit(0L)).as("n_items"),
      coalesce(sum(when(!col("__complete"), 1L)), lit(0L)).as("n_excluded"))
    val r = t.join(flagged.filter(col("__complete")).select("__i"),
      Seq("__i"), "left_semi")
    (kRow, counts, r)
  }

  /** Within-item tie groups of [[completeBlocks]]' rows: (`__i`, `__v`)
    * with its size `__t` and `__cum`, the item's rows strictly below —
    * every window frame is one item's k rows.
    */
  private def blockRanks(r: DataFrame): DataFrame =
    r.groupBy("__i", "__v").agg(count(lit(1)).as("__t"))
      .withColumn("__cum", Stats.cumBefore("__t", "__v", "__i"))

  /** Friedman test — [[cochranQ]]'s CONTINUOUS-score sibling: k
    * systems score the same items, each item ranks its k scores
    * (mid-ranks on ties), and the rank-sum dispersion across systems
    * says whether any system consistently outranks the rest —
    * without assuming any score distribution (the repeated-measures
    * nonparametric ANOVA; [[graft.operators.Stats.kruskalWallis]] is
    * the UNPAIRED cousin).
    *
    *   χ²_F = 12/(n·k·(k+1)) · Σ_j R_j² − 3n(k+1),
    *   adjusted by the tie correction C = 1 − Σ(t³−t)/(n(k³−k))
    *
    * Complete blocks only (n_excluded reported — the cochranQ
    * contract). Determinism: dp-quantized scores, within-item
    * mid-ranks as exact 2·rank integer lanes (the kruskalWallis
    * machinery, item-partitioned — every window frame is k rows),
    * per-system rank sums exact, the R² terms 7-dp truncated into
    * the order-independent sum, tie cubes on 13-digit decimal lanes.
    * χ²_{k−1} downstream (no p lane). Returns ONE row: (n_items,
    * n_excluded, k, dof, chi2, chi2_adj, degenerate).
    */
  def friedman(df: DataFrame, item: Column, system: Column,
      score: Column, dp: Int = 6): DataFrame = {
    require(dp >= 0 && dp <= 7, "dp in [0, 7]")
    val t = df.filter(score.isNotNull && item.isNotNull && system.isNotNull)
      .select(item.as("__i"), system.as("__s"),
        round(score.cast("double"), dp).as("__v"))
    val (kRow, counts, r) = completeBlocks(t, "__s")
    val vc = blockRanks(r).withColumn("__tc", Stats.tieCube(col("__t")))
    val ties = vc.agg(
      coalesce(sum(col("__tc")), lit(0).cast("decimal(38,0)")).as("__sumtc"))
    val perSys = r.join(vc.select(col("__i"), col("__v"), col("__cum"), col("__t")),
        Seq("__i", "__v"))
      .select(col("__s"), Stats.midRank2(col("__cum"), col("__t")).as("__r2"))
      .groupBy("__s").agg(sum(col("__r2")).as("__sr2"))
    val term7 = (floor(col("__sr2").cast("double") * col("__sr2").cast("double")
      / 4.0 * 1e7) / 1e7).cast("decimal(30,7)")
    val sumTerms = perSys.agg(sum(term7).as("__sq"))
    val nd = col("n_items").cast("double")
    val kd = col("__k").cast("double")
    val chi2 = greatest(lit(0.0),
      lit(12.0) / (nd * kd * (kd + 1.0)) * col("__sq").cast("double")
        - lit(3.0) * nd * (kd + 1.0))
    val nk3 = (b13(col("n_items")) *
      (b13(col("__k")) * b13(col("__k")) * b13(col("__k")) - col("__k")))
      .cast("decimal(38,0)").cast("double")
    val corr = lit(1.0) - col("__sumtc").cast("double") / nk3
    val degenerate = col("__k") < 2 || col("n_items") < 1 || corr <= 0.0
    counts.crossJoin(broadcast(kRow)).crossJoin(sumTerms).crossJoin(ties)
      .select(
        col("n_items"), col("n_excluded"), col("__k").as("k"),
        when(col("__k") > 0, col("__k") - 1).otherwise(0L).as("dof"),
        when(degenerate, 0.0).otherwise(Num.t4floor(chi2)).as("chi2"),
        when(degenerate, 0.0).otherwise(Num.t4floor(chi2 / corr)).as("chi2_adj"),
        degenerate.as("degenerate"))
  }

  /** C139: Page's L trend test — [[friedman]]'s ORDERED-alternative
    * sibling (exactly as Jonckheere-Terpstra sharpens
    * [[graft.operators.Stats.kruskalWallis]]): when the k systems
    * carry a PRE-SPECIFIED order (model checkpoints over training,
    * dose steps, context lengths), test for a monotone trend in the
    * within-item ranks instead of "any difference":
    * L = Σ_j j·R_j, z = (L − n·k(k+1)²/4) / √(n·k²(k+1)(k²−1)/144).
    * Far more powerful than Friedman against the monotone alternative
    * the caller actually cares about ("is the metric still climbing
    * checkpoint over checkpoint?").
    *
    * Complete blocks only (n_excluded reported, the friedman/cochranQ
    * contract). Determinism: dp-quantized scores, within-item
    * mid-ranks as exact 2·rank integer lanes (friedman's machinery —
    * every window frame is k rows), L on exact integer lanes
    * (L2 = Σ j·R2_j, L = L2/2), μ/σ one fixed double derivation, z
    * 4-dp toward zero. Mid-rank TIES shrink the true variance below
    * the tie-free formula used here — z is slightly conservative
    * under heavy ties (documented contract; the friedman row carries
    * the tie-corrected omnibus). `critical` is the caller's two-sided
    * cut (default 1.96). Returns ONE row: (n_items, n_excluded, k,
    * l_stat, z, significant, degenerate).
    */
  def pageTrend(df: DataFrame, item: Column, ord: Column,
      score: Column, dp: Int = 6, critical: Double = 1.96): DataFrame = {
    require(dp >= 0 && dp <= 7, "dp in [0, 7]")
    val t = df.filter(score.isNotNull && item.isNotNull && ord.isNotNull)
      .select(item.as("__i"), ord.cast("long").as("__j"),
        round(score.cast("double"), dp).as("__v"))
    val (kRow, counts, r) = completeBlocks(t, "__j")
    // the caller's ordinal values need not be 1..k — DENSE-rank them
    // into the canonical 1..k weights on the (bounded, ≤k-row)
    // distinct-ordinal frame, broadcast back
    val ordMap = r.select(col("__j")).distinct()
      .withColumn("__w", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__j"))))
    val vc = blockRanks(r)
    // 2·rank lanes joined back to rows, weighted by the canonical
    // ordinal: L2 = Σ w·(2·rank) exact
    val l2 = r.join(vc.select(col("__i"), col("__v"), col("__cum"), col("__t")),
        Seq("__i", "__v"))
      .join(broadcast(ordMap), Seq("__j"))
      .select((b19(col("__w")) *
        Stats.midRank2(col("__cum"), col("__t"))).cast("decimal(38,0)").as("__lw"))
      .agg(coalesce(sum(col("__lw")), lit(0).cast("decimal(38,0)")).as("__l2"))
    val nd = col("n_items").cast("double")
    val kd = col("__k").cast("double")
    val lStat = col("__l2").cast("double") / 2.0
    val mu = nd * kd * (kd + 1.0) * (kd + 1.0) / 4.0
    val sigma = sqrt(nd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0)
    val degenerate = col("__k") < 3 || col("n_items") < 1
    // try_divide: zero items (or k < 2) makes sigma 0 and the
    // degenerate when() is not protection under codegen CSE
    val z = coalesce(try_divide(lStat - mu, sigma), lit(0.0))
    counts.crossJoin(broadcast(kRow)).crossJoin(l2)
      .select(
        col("n_items"), col("n_excluded"), col("__k").as("k"),
        when(degenerate, 0.0).otherwise(floor(lStat * 1e4) / 1e4).as("l_stat"),
        when(degenerate, 0.0).otherwise(Num.t4zero(z)).as("z"),
        (!degenerate && abs(z) > critical).as("significant"),
        degenerate.as("degenerate"))
  }

  /** Rank discounts 1/log2(i+1) for nDCG, pre-rounded to 7 dp — the
    * values are computed ONCE here in Scala and interpolated as
    * literals into both the Spark plan and the SQL twin, because the
    * engines' log2 implementations differ in the last ulp and a
    * per-row transcendental would poison the hash contract.
    */
  private[graft] def ndcgDiscount(i: Int): Double =
    BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Ideal DCG at list length m (≤ k): exact decimal prefix sums of
    * the rounded discounts.
    */
  private[graft] def idcgAt(m: Int): Double =
    (1 to m).map(i => BigDecimal(ndcgDiscount(i))).sum.toDouble

  /** RETRIEVAL QUALITY against a gold relevance set — the measurement
    * half of the ANN family (D6-D7c build indexes; this says whether
    * what they return is any good): per query, hits/precision/recall
    * at k, MRR (reciprocal rank of the first relevant result), and
    * binary-gain nDCG@k. The metrics that decide an index config
    * BEFORE the corpus commits to it, next to [[graft.operators.Dedup.auditPairs]]'
    * P/R for the dedup tier.
    *
    * Shape at scale: results pre-filtered to rank ≤ k, ONE left join
    * to the gold pair set (both frames are query-bounded — k rows and
    * gold-set rows per query), partial-agg per query. Discounts and
    * ideal-DCG values are config-sized literals (see [[ndcgDiscount]]);
    * DCG sums run over exact 7-dp decimals, so every reported value
    * is engine-portable. Queries with an empty gold set report
    * recall/ndcg 0 (flagged via n_gold = 0), not NULL crashes.
    */
  def retrievalMetrics(
      results: DataFrame,
      queryId: Column,
      docId: Column,
      rank: Column,
      gold: DataFrame,
      goldQueryId: Column,
      goldDocId: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 100, "k in [1, 100]")
    val r = results.select(queryId.as("query_id"), docId.as("__d"),
        rank.cast("int").as("__rk"))
      .filter(col("__rk") >= 1 && col("__rk") <= k)
    val g = gold.select(goldQueryId.as("query_id"), goldDocId.as("__d"))
      .distinct()
    val nGold = g.groupBy("query_id").agg(count(lit(1)).as("n_gold"))
    val disc = (1 to k).foldRight(lit(null).cast("decimal(11,7)")) {
      case (i, rest) => when(col("__rk") === i,
        lit(BigDecimal(ndcgDiscount(i))).cast("decimal(11,7)")).otherwise(rest)
    }
    val joined = r.join(g.withColumn("__rel", lit(1)), Seq("query_id", "__d"), "left")
    val perQ = joined.groupBy("query_id").agg(
      coalesce(sum(col("__rel")), lit(0L)).as("hits"),
      min(when(col("__rel") === 1, col("__rk"))).as("__first"),
      sum(when(col("__rel") === 1, disc)).as("__dcg"))
    // ideal DCG for min(k, n_gold) as a literal lookup — n_gold can
    // exceed k, where the ideal list is k long
    val idcg = (1 to k).foldRight(lit(0.0)) { case (m, rest) =>
      when(least(col("n_gold"), lit(k.toLong)) === m, lit(idcgAt(m))).otherwise(rest)
    }
    // FULL outer against the gold side: a query with gold entries but
    // NO retrieved rows (the tier returned nothing, or nothing within
    // rank <= k) must surface as an all-zero row — silently dropping
    // it would inflate every macro-averaged metric (caught in review)
    perQ.join(nGold, Seq("query_id"), "full")
      .withColumn("n_gold", coalesce(col("n_gold"), lit(0L)))
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .select(col("query_id"), col("n_gold"), col("hits"),
        round(col("hits").cast("double") / k, 4).as(s"precision_at_$k"),
        when(col("n_gold") === 0, lit(0.0))
          .otherwise(round(col("hits").cast("double") / col("n_gold"), 4))
          .as(s"recall_at_$k"),
        when(col("__first").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("__first"), 4)).as("mrr"),
        when(col("n_gold") === 0 || col("__dcg").isNull, lit(0.0))
          .otherwise(round(col("__dcg").cast("double") / idcg, 4))
          .as(s"ndcg_at_$k"))
  }

  /** Poisson-bucket cumulative cuts for the bootstrap weights: a
    * per-mille bucket below cut(w) draws weight w. floor(1000·CDF of
    * Poisson(1)) — shared verbatim with the SQL twin.
    */
  private[graft] val poissonCuts: Seq[Int] = Seq(367, 735, 919, 981, 996, 999)

  /** SEEDED BOOTSTRAP confidence intervals for per-group metric means
    * — the error bars every eval table should carry ("48% vs 51%" is
    * noise at n=200, a headline at n=20000). Poisson bootstrap: each
    * of `b` resamples draws every row with an independent
    * Poisson(1)-distributed weight, so resampling is a single
    * EMBARRASSINGLY-PARALLEL pass (explode b indices per row — no
    * per-resample shuffle of the data, the resample index rides the
    * groupBy key) and, because the weight comes from the portable
    * integer hash ([[Sampling.hashBucket]] on id·1009+r, Poisson
    * inverse-CDF on the per-mille bucket), the same rows draw the
    * same weights on every run, engine, and cluster size. No RNG.
    *
    * Input contract: one row per EVAL ITEM (id must be unique per
    * group; the frame is eval-sized — the explode multiplies rows by
    * `b`). Per (group, resample): weighted mean over exact decimal
    * value lanes; empty resamples (all weights zero — tiny groups)
    * are excluded and reported via n_resamples. CI bounds are the
    * rank-based percentiles of the resample means: rank
    * ceil(α/2·B_eff) and ceil((1−α/2)·B_eff) in (mean, resample)
    * order — deterministic, no interpolation.
    *
    * Output: (group, n, point_mean, ci_lo, ci_hi, n_resamples),
    * means rounded 6 dp.
    */
  def bootstrapCI(
      df: DataFrame,
      group: Column,
      id: Column,
      value: Column,
      b: Int = 200,
      level: Double = 0.95): DataFrame = {
    require(b >= 10 && b <= 10000, "b in [10, 10000]")
    require(level > 0 && level < 1, "level in (0,1)")
    val alpha = 1.0 - level
    // NULL values are EXCLUDED, not zero-counted: a null row in n and
    // in the resample weight denominators would bias every mean low
    // (caught in review -- the effectiveSampleSize exclusion contract)
    // scaleOut: the b-way explode + weight CASE is a CPU-bound kernel
    // stage; a single-split source would otherwise run all N·b rows in
    // one task (the r10 honest-bench find: 13.5 s single-task at sf0.1)
    val base = scaleOut(df.select(group.as("grp"), id.cast("long").as("__id"),
      value.cast("double").as("__v"))
      .filter(col("__v").isNotNull))
    // values pre-round to 6 dp BEFORE the decimal cast: the cast of an
    // exactly-6-dp double is faithful in both engines, where a direct
    // double->decimal cast of an arbitrary double would expose the
    // engines' differing cast-rounding on boundary values
    val vLane = Num.dec(round(col("__v"), 6))
    val point = base.groupBy("grp").agg(
      count(lit(1)).as("n"),
      round(sum(vLane).cast("double") / count(lit(1)), 6)
        .as("point_mean"))
    // one row per (item, resample): weight from the portable hash
    // stride 10007 > max b: with stride < b, resample r's weights would
    // be resample (r - stride)'s shifted by one contiguous id -- near-
    // duplicate resamples and over-tight CIs (caught in review)
    val bucket = Sampling.hashBucket(col("__id") * 10007L + col("__r"))
    val weight = poissonCuts.zipWithIndex.foldRight(lit(poissonCuts.size)) {
      case ((cut, w), rest) => when(bucket <= cut, lit(w)).otherwise(rest)
    }
    val resamples = base
      .withColumn("__r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__w", weight)
      .groupBy("grp", "__r")
      .agg(sum(col("__w")).as("__sw"),
        sum(vLane * col("__w")).as("__swv"))
      .filter(col("__sw") > 0)
      .select(col("grp"), col("__r"),
        round(col("__swv").cast("double") / col("__sw"), 6).as("__m"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("__m").asc, col("__r").asc)
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val ranked = resamples
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__beff", count(lit(1)).over(wGrp))
      .withColumn("__lo_rk",
        greatest(lit(1L), ceil(lit(alpha / 2) * col("__beff"))))
      .withColumn("__hi_rk", ceil(lit(1.0 - alpha / 2) * col("__beff")))
    val ci = ranked.groupBy("grp").agg(
      max(when(col("__rk") === col("__lo_rk"), col("__m"))).as("ci_lo"),
      max(when(col("__rk") === col("__hi_rk"), col("__m"))).as("ci_hi"),
      max(col("__beff")).as("n_resamples"))
    point.join(ci, Seq("grp"), "left")
      .select(col("grp").as("group_key"), col("n"), col("point_mean"),
        col("ci_lo"), col("ci_hi"),
        coalesce(col("n_resamples"), lit(0L)).as("n_resamples"))
  }

  /** Rank-biased overlap (Webber et al., TOIS'10) between two rankings
    * of the same items per group — "did swapping the retriever change
    * what users actually SEE?" Top-weighted where Kendall τ is
    * uniform: RBO@k = (1−p)·Σ_{d=1..k} p^(d−1)·X_d/d with X_d the
    * overlap of the two depth-d prefixes; p = 0.9 weights the head.
    *
    * Inputs are two score columns; each ranks items descending with
    * an explicit id tiebreak. Items outside BOTH top-k prefixes never
    * materialize — the frame is ≤ k rows per group, so the depth
    * explode is a constant k² fan-out of a bounded frame.
    *
    * Short-list contract: depths run over the FIXED range 1..k even
    * when a group holds fewer than k items, so a group with n < k
    * items tops out at overlap_at_k = n/k and at the truncated-RBO
    * mass its n items can carry — identical short rankings score
    * < 1 BY DESIGN (a 3-item agreement is weaker evidence than a
    * 20-item agreement; fixed-depth truncation also keeps the weight
    * table a single broadcast shared by every group). Callers who
    * want per-group depth min(k, n) should pre-trim k to the known
    * list length.
    *
    * Determinism: p^(d−1) never goes through pow() (libm-dependent) —
    * 9^(d−1) and d·10^(d−1) join in as EXACT decimal literals from a
    * broadcast depth table, each depth term is one double division
    * truncated 9 dp into a decimal, and the geometric sum is
    * order-independent. Returns one row per group:
    * (group_key, overlap_at_k, rbo) — 6-dp floored.
    */
  def rbo(
      df: DataFrame,
      group: Column,
      id: Column,
      scoreA: Column,
      scoreB: Column,
      k: Int = 20,
      pNum: Int = 9,
      pDen: Int = 10): DataFrame = {
    require(k >= 1 && k <= 100, "k in [1, 100]")
    require(pNum >= 1 && pNum < pDen, "p = pNum/pDen in (0, 1)")
    val spark = df.sparkSession
    val base = df.select(group.as("grp"), id.as("__id"),
      scoreA.cast("double").as("__sa"), scoreB.cast("double").as("__sb"))
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("__sa").desc, col("__id").asc)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("__sb").desc, col("__id").asc)
    val ranked = base
      .withColumn("__ra", row_number().over(wa))
      .withColumn("__rb", row_number().over(wb))
      .filter(col("__ra") <= k && col("__rb") <= k)
      .select(col("grp"), greatest(col("__ra"), col("__rb")).as("__mr"))
    // exact geometric weights: (d, 9^(d-1), d·10^(d-1)) as decimals
    import spark.implicits._
    // strings → decimal(38,0): letting toDF infer decimal(38,18) would
    // overflow den = k·10^(k−1) at k = 20 (21 integer digits)
    val depths = (1 to k).map { d =>
      (d, BigInt(pNum).pow(d - 1).toString,
        (BigInt(d) * BigInt(pDen).pow(d - 1)).toString)
    }.toDF("__d", "__n9s", "__dens")
      .select(col("__d"),
        col("__n9s").cast("decimal(38,0)").as("__num9"),
        col("__dens").cast("decimal(38,0)").as("__den"))
    val xd = ranked
      .select(col("grp"), explode(sequence(col("__mr"), lit(k))).as("__d"))
      .groupBy("grp", "__d").agg(count(lit(1)).as("__x"))
    val terms = xd.join(broadcast(depths), "__d")
      .select(col("grp"), col("__d"), col("__x"),
        (floor((col("__x").cast("decimal(19,0)") * col("__num9"))
          .cast("double") / col("__den").cast("double") * 1e9) / 1e9)
          .cast("decimal(28,9)").as("__t"))
    val agg = terms.groupBy("grp")
      .agg(
        sum(col("__t")).as("__s"),
        coalesce(max(when(col("__d") === k, col("__x"))), lit(0L)).as("__xk"))
      .select(col("grp"),
        (floor(col("__xk").cast("double") / k * 1e6) / 1e6).as("overlap_at_k"),
        (floor((lit(1.0) - lit(pNum.toDouble) / pDen) *
          col("__s").cast("double") * 1e6) / 1e6).as("rbo"))
    // a group whose two top-k prefixes share NOTHING still reports its
    // zero (flag, never silently vanish — the quarantine contract)
    base.select(col("grp")).distinct()
      .join(agg, Seq("grp"), "left")
      .select(col("grp").as("group_key"),
        coalesce(col("overlap_at_k"), lit(0.0)).as("overlap_at_k"),
        coalesce(col("rbo"), lit(0.0)).as("rbo"))
  }
}
