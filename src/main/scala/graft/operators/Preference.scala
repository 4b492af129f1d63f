package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.normFingerprint

/** Preference / reward-data operators — the RLHF-side companion to
  * [[Chat]]: assemble and validate chosen/rejected pairs, rate
  * contenders from pairwise outcomes (Bradley-Terry), and report
  * win rates with uncertainty. All shapes are partial-aggregable
  * groupBys, key-partitioned windows, or per-round equi-join + agg
  * (the [[GraphOps.pageRank]] iterative discipline) — nothing
  * all-pairs, nothing driver-sized.
  */
object Preference {

  /** Per-group preference pair assembly + validation: within each
    * prompt group, `chosen` = highest-reward sample, `rejected` =
    * lowest (ties break to the smaller / larger sample id
    * respectively, so a fully-tied group still yields a DISTINCT
    * pair when it has ≥ 2 samples). Validation flags are reported
    * per rule (Gopher-gate discipline):
    *
    *   - `n_samples >= 2` (a singleton can't form a pair),
    *   - `distinct_response`: chosen/rejected responses differ under
    *     the normalized fingerprint (byte-different but
    *     content-identical responses are NOT a learnable pair),
    *   - `reward_gap >= minGap`: the margin a DPO/RM trainer needs.
    *
    * Shape: two row_number windows over the SAME group partitioning
    * (one exchange, two in-partition sorts) + a groupBy that reuses
    * it — one shuffle total, no collect_list.
    */
  def pairsFromGroups(df: DataFrame, groupKey: Column, sampleId: Column,
      response: Column, reward: Column, minGap: Double = 0.0): DataFrame = {
    val t = df.select(groupKey.as("group_key"), sampleId.as("sample_id"),
      response.as("response"), reward.cast("double").as("reward"))
    val hi = Window.partitionBy("group_key")
      .orderBy(col("reward").desc, col("sample_id").asc)
    val lo = Window.partitionBy("group_key")
      .orderBy(col("reward").asc, col("sample_id").desc)
    t.withColumn("rn_hi", row_number().over(hi))
      .withColumn("rn_lo", row_number().over(lo))
      .groupBy("group_key")
      .agg(
        count(lit(1)).as("n_samples"),
        max(when(col("rn_hi") === 1, col("sample_id"))).as("chosen_id"),
        max(when(col("rn_hi") === 1, col("reward"))).as("chosen_reward"),
        max(when(col("rn_hi") === 1, normFingerprint(col("response")))).as("__c_fp"),
        max(when(col("rn_lo") === 1, col("sample_id"))).as("rejected_id"),
        max(when(col("rn_lo") === 1, col("reward"))).as("rejected_reward"),
        max(when(col("rn_lo") === 1, normFingerprint(col("response")))).as("__r_fp"))
      .withColumn("reward_gap", col("chosen_reward") - col("rejected_reward"))
      .withColumn("distinct_response", col("__c_fp") =!= col("__r_fp"))
      .withColumn("valid",
        col("n_samples") >= 2 && col("distinct_response") &&
          col("reward_gap") >= minGap)
      .drop("__c_fp", "__r_fp")
  }

  /** Bradley-Terry strength ratings from pairwise game outcomes,
    * fixed-iteration MM algorithm (Hunter '04): per round
    *
    *   w_i ← (W_i + 0.5) / Σ_j n_ij / (w_i + w_j)
    *
    * then normalized to mean 1 (Σw = K). The +0.5 win smoothing keeps
    * never-winners strictly positive (a zero rating would divide a
    * later pair denominator by zero — flag-not-crash is not available
    * mid-iteration). Per round: ONE equi-join of the symmetric pair-
    * count frame against the ratings + one partial-aggregated groupBy
    * — the [[GraphOps.pageRank]] shape, with the same determinism
    * contract: per-pair terms TRUNCATED at 7 dp, summed over exact
    * decimals, each round's rating truncated at 7 dp (floor of an
    * identical IEEE double is repr-independent; round() is not).
    * `materialize` truncates iteration lineage.
    */
  def bradleyTerry(games: DataFrame, winner: Column, loser: Column,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val g = games.select(winner.cast("long").as("w"), loser.cast("long").as("l"))
      .transform(materialize(_))
    val players = g.select(col("w").as("player"))
      .unionByName(g.select(col("l").as("player")))
      .distinct()
      .transform(materialize(_))
    val k = players.agg(count(lit(1)).as("cnt"))
    val wins = g.groupBy(col("w").as("player")).agg(count(lit(1)).as("wins"))
    val base = players.join(wins, Seq("player"), "left")
      .select(col("player"),
        (coalesce(col("wins"), lit(0L)) + lit(0.5)).as("wsm"))
      .transform(materialize(_))
    val pairs = g
      .select(least(col("w"), col("l")).as("a"), greatest(col("w"), col("l")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val e = pairs.select(col("a").as("i"), col("b").as("j"), col("n"))
      .unionByName(pairs.select(col("b").as("i"), col("a").as("j"), col("n")))
      .transform(materialize(_))
    var r = players.select(col("player"), lit(1.0).as("r"))
    for (_ <- 1 to iterations) {
      val ri = r.select(col("player").as("i"), col("r").as("ri"))
      val rj = r.select(col("player").as("j"), col("r").as("rj"))
      val den = e.join(ri, "i").join(rj, "j")
        .groupBy(col("i").as("player"))
        .agg(sum(Num.t7floor(col("n") / (col("ri") + col("rj"))).cast("decimal(28,7)"))
          .as("den"))
      val raw = base.join(den, "player")
        .select(col("player"), Num.t7floor(col("wsm") / col("den").cast("double")).as("r"))
      val tot = raw.agg(sum(col("r").cast("decimal(28,7)")).as("s"))
      r = raw.crossJoin(broadcast(tot)).crossJoin(broadcast(k))
        .select(col("player"),
          Num.t7floor(col("r") * col("cnt") / col("s").cast("double")).as("r"))
        .transform(materialize(_))
    }
    r.select(col("player"), col("r").as("rating"))
  }

  /** Group-relative advantage normalization (the GRPO estimator,
    * Shao et al. '24): per prompt group, advantage = (r − mean_g) /
    * (std_g + ε) — the per-sample training signal computed WITHOUT a
    * learned value baseline, whole-group statistics standing in for
    * it. Distinct from the generic z-score ([[Stats.standardize]]) in
    * its RL contract: POPULATION std (the group IS the rollout
    * population, not a sample), an ε floor instead of a degenerate-
    * flag (a tied group yields advantage 0/ε = 0 for every member —
    * the "no signal" outcome trainers expect), and singleton groups
    * report 0 rather than dropping the sample.
    *
    * Determinism: moments from exact decimal sums, the double
    * derivation replayed textually by the oracle, 4-dp toward-zero
    * truncation (sign-symmetric — advantages feed a symmetric
    * objective). ONE partial-aggregable groupBy + an equi-join of the
    * group-sized stats frame back to samples (AQE broadcasts it).
    */
  def groupAdvantage(df: DataFrame, groupKey: Column, sampleId: Column,
      reward: Column, eps: Double = 1e-4): DataFrame = {
    val t = df.select(groupKey.as("group_key"), sampleId.as("sample_id"),
      reward.cast("double").as("reward"))
    val stats = t.groupBy("group_key")
      .agg(count(lit(1)).as("group_n"),
        sum(Num.dec(col("reward"))).as("__s"),
        sum(Num.dec(col("reward")) * Num.dec(col("reward"))).as("__ss"))
      .select(col("group_key"), col("group_n"),
        (col("__s").cast("double") / col("group_n")).as("group_mean"),
        sqrt(greatest(lit(0.0),
          (col("__ss").cast("double") -
            col("__s").cast("double") * col("__s").cast("double") / col("group_n"))
            / col("group_n"))).as("group_std"))
    t.join(stats, "group_key")
      .select(col("group_key"), col("sample_id"), col("reward"),
        col("group_n"), Num.t4zero(col("group_mean")).as("group_mean"),
        Num.t4zero(col("group_std")).as("group_std"),
        Num.t4zero((col("reward") - col("group_mean")) / (col("group_std") + eps))
          .as("advantage"))
  }

  /** Best-of-N distillation with acceptance attrition (rejection
    * sampling / RFT-style dataset synthesis): per prompt group, count
    * candidates, count those clearing the absolute reward bar, keep
    * the best accepted one (ties to the smaller id), and report the
    * accept rate — plus the `starved` flag for groups where NOTHING
    * cleared the bar (the signal that the generator needs more
    * samples or the bar is wrong; silently dropping those groups is
    * how a distilled set quietly loses its hard prompts). ONE
    * partial-aggregable groupBy: max_by over a null-for-rejected
    * struct implements "best accepted" without a second pass.
    */
  def bestOfN(df: DataFrame, groupKey: Column, sampleId: Column,
      reward: Column, minReward: Double): DataFrame = {
    val t = df.select(groupKey.as("group_key"), sampleId.as("sample_id"),
      reward.cast("double").as("reward"))
    val accepted = col("reward") >= minReward
    t.groupBy("group_key")
      .agg(
        count(lit(1)).as("n_candidates"),
        coalesce(sum(when(accepted, 1L)), lit(0L)).as("n_accepted"),
        // max over (reward, -id) structs of ACCEPTED rows only: nulls
        // sort below any value, so a starved group yields null
        max(when(accepted, struct(col("reward"), (-col("sample_id")).as("negid"))))
          .as("__best"))
      .select(col("group_key"), col("n_candidates"), col("n_accepted"),
        (-col("__best.negid")).as("kept_id"),
        col("__best.reward").as("kept_reward"),
        Num.t4floor(col("n_accepted").cast("double") / col("n_candidates"))
          .as("accept_rate"),
        col("__best").isNull.as("starved"))
  }

  /** Per-player win rate with the Wilson-score 95% LOWER bound — the
    * ranking statistic that doesn't promote a 2/2 contender over a
    * 95/100 one. One unionByName + one partial-aggregable groupBy;
    * 4-dp floor on the derived doubles (shared truncation contract).
    */
  /** Response-length bias diagnostic for preference pairs — the
    * known failure mode of reward models and LLM judges (longer
    * answers win regardless of quality; verbosity leaks into the
    * policy). Counts how often the LONGER response is the chosen one,
    * the mean length delta, and a sign-test z over the unequal-length
    * pairs (W − n/2)/√(n/4) — under no bias, longer wins half the
    * time. Length = code points (the chrF unit).
    *
    * One partial-aggregated pass; exact integer counts and length
    * sums; z truncated 4 dp toward zero (the twoSampleZ symmetric
    * gate); equal-length pairs are TIES (reported, excluded from the
    * test — a sign test has no verdict on them). Returns ONE row:
    * (n_pairs, longer_wins, shorter_wins, ties, frac_longer_wins,
    * mean_len_delta, z, significant).
    */
  def lengthBias(pairs: DataFrame, chosenText: Column,
      rejectedText: Column): DataFrame = {
    val t = pairs.select(length(chosenText).cast("long").as("__lc"),
        length(rejectedText).cast("long").as("__lr"))
      .filter(col("__lc").isNotNull && col("__lr").isNotNull)
    val m = t.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(when(col("__lc") > col("__lr"), 1L)), lit(0L)).as("longer_wins"),
      coalesce(sum(when(col("__lc") < col("__lr"), 1L)), lit(0L)).as("shorter_wins"),
      coalesce(sum(when(col("__lc") === col("__lr"), 1L)), lit(0L)).as("ties"),
      coalesce(sum(col("__lc") - col("__lr")), lit(0L)).as("__sd"))
    val nu = (col("longer_wins") + col("shorter_wins")).cast("double")
    val z = when(col("longer_wins") + col("shorter_wins") > 0,
      Num.t4zero((col("longer_wins").cast("double") - nu / 2.0) / sqrt(nu / 4.0)))
      .otherwise(0.0)
    m.select(col("n_pairs"), col("longer_wins"), col("shorter_wins"), col("ties"),
      when(col("longer_wins") + col("shorter_wins") > 0,
        floor(col("longer_wins").cast("double") / nu * 1e6) / 1e6)
        .otherwise(0.0).as("frac_longer_wins"),
      when(col("n_pairs") > 0,
        Num.t4zero(col("__sd").cast("double") / col("n_pairs")))
        .otherwise(0.0).as("mean_len_delta"),
      z.as("z"), (abs(z) > 1.96).as("significant"))
  }

  def winRates(games: DataFrame, winner: Column, loser: Column,
      z: Double = 1.96): DataFrame = {
    val pw = games.select(winner.cast("long").as("player"), lit(1L).as("win"))
    val pl = games.select(loser.cast("long").as("player"), lit(0L).as("win"))
    val per = pw.unionByName(pl).groupBy("player")
      .agg(count(lit(1)).as("n_games"), sum(col("win")).as("n_wins"))
    val n = col("n_games").cast("double")
    val p = col("n_wins").cast("double") / n
    val z2 = z * z
    val center = p + lit(z2) / (n * lit(2.0))
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / n + lit(z2) / (n * n * lit(4.0)))
    val wilsonLo = (center - margin) / (lit(1.0) + lit(z2) / n)
    per.select(col("player"), col("n_games"), col("n_wins"),
      Num.t4floor(p).as("win_rate"), Num.t4floor(wilsonLo).as("wilson_lo"))
  }
}
