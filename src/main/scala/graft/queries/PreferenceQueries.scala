package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Preference

/** Preference / reward-data queries (SURVEY §2.D85-D87).
  *
  * The testdata has no preference tables, so both engines derive the
  * same deterministic frames from `documents`:
  *
  *   - PAIRS: prompt group = `doc_id % 50`, reward = `n_chars`;
  *     docs with `doc_id % 25 = 24` share one planted response body,
  *     so two groups fail the distinct-response rule.
  *   - GAMES: contender = `((doc_id * 48271) % 97) % 16` (a
  *     multiplicative scramble — NOT `doc_id % 16`, which would pit
  *     only adjacent contenders); each even/odd doc pair plays one
  *     game, longer text wins, ties go to the smaller contender id,
  *     same-contender pairings are skipped.
  */
object PreferenceQueries {

  private val plantedResponse = "duplicate response body."

  /** One Bradley-Terry MM round in DuckDB, CTEs `prev` → `cur`
    * (+ scratch `d$n`/`raw$n`/`tot$n`): mirrors
    * [[Preference.bradleyTerry]]'s truncation contract exactly —
    * 7-dp floor per pair term, exact-decimal sums, 7-dp floor per
    * round, mean-1 renormalization.
    */
  private def btIter(prev: String, cur: String, n: Int): String =
    s"""d$n AS (
       |  SELECT e.i AS player,
       |    sum(CAST(floor(e.n / (ri.r + rj.r) * 1e7) / 1e7 AS DECIMAL(28,7))) AS den
       |  FROM e
       |  JOIN $prev ri ON e.i = ri.player
       |  JOIN $prev rj ON e.j = rj.player
       |  GROUP BY 1),
       |raw$n AS (
       |  SELECT b.player,
       |    floor(b.wsm / CAST(d.den AS DOUBLE) * 1e7) / 1e7 AS r
       |  FROM base b JOIN d$n d ON b.player = d.player),
       |tot$n AS (SELECT sum(CAST(r AS DECIMAL(28,7))) AS s FROM raw$n),
       |$cur AS (
       |  SELECT raw$n.player,
       |    floor(raw$n.r * k.cnt / CAST(t.s AS DOUBLE) * 1e7) / 1e7 AS r
       |  FROM raw$n CROSS JOIN k CROSS JOIN tot$n t)""".stripMargin

  /** Shared GAMES derivation (CTE `g` with winner/loser columns). */
  private val gamesSql: String =
    """WITH pa AS (
      |  SELECT doc_id, n_chars, ((doc_id * 48271) % 97) % 16 AS c
      |  FROM documents),
      |g AS (
      |  SELECT
      |    CASE WHEN a.n_chars > b.n_chars THEN a.c
      |         WHEN b.n_chars > a.n_chars THEN b.c
      |         WHEN a.c < b.c THEN a.c ELSE b.c END AS winner,
      |    CASE WHEN a.n_chars > b.n_chars THEN b.c
      |         WHEN b.n_chars > a.n_chars THEN a.c
      |         WHEN a.c < b.c THEN b.c ELSE a.c END AS loser
      |  FROM pa a JOIN pa b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 2 = 0 AND a.c <> b.c)""".stripMargin

  private def gamesOf(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("n_chars"),
      ((col("doc_id") * 48271) % 97 % 16).as("c"))
    val a = d.where(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("aid"), col("n_chars").as("an"), col("c").as("ac"))
    val b = d.select((col("doc_id") - 1).as("aid"),
      col("n_chars").as("bn"), col("c").as("bc"))
    a.join(b, "aid").where(col("ac") =!= col("bc"))
      .select(
        when(col("an") > col("bn"), col("ac"))
          .when(col("bn") > col("an"), col("bc"))
          .when(col("ac") < col("bc"), col("ac")).otherwise(col("bc")).as("winner"),
        when(col("an") > col("bn"), col("bc"))
          .when(col("bn") > col("an"), col("ac"))
          .when(col("ac") < col("bc"), col("bc")).otherwise(col("ac")).as("loser"))
  }

  val all: Seq[Q] = Seq(

    // D125: response-length bias diagnostic — adjacent-doc pairs with
    // a pseudo-reward (n_chars % 11) that correlates with but does
    // not equal length, so both outcomes occur; sign-test z on the
    // toward-zero lane.
    Q(
      "q_length_bias",
      """WITH d AS (SELECT doc_id, text, n_chars % 11 AS r FROM documents),
        |p AS (SELECT CASE WHEN a.r > b.r THEN a.text ELSE b.text END AS ct,
        |             CASE WHEN a.r > b.r THEN b.text ELSE a.text END AS rt
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0 AND a.r <> b.r),
        |t AS (SELECT length(ct) AS lc, length(rt) AS lr FROM p),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(CASE WHEN lc > lr THEN 1 END), 0) AS BIGINT)
        |      AS longer_wins,
        |    CAST(coalesce(sum(CASE WHEN lc < lr THEN 1 END), 0) AS BIGINT)
        |      AS shorter_wins,
        |    CAST(coalesce(sum(CASE WHEN lc = lr THEN 1 END), 0) AS BIGINT) AS ties,
        |    CAST(coalesce(sum(lc - lr), 0) AS BIGINT) AS sd
        |  FROM t),
        |e AS (SELECT *, CAST(longer_wins + shorter_wins AS DOUBLE) AS nu FROM m),
        |f AS (SELECT n_pairs, longer_wins, shorter_wins, ties,
        |    CASE WHEN longer_wins + shorter_wins > 0
        |      THEN floor(CAST(longer_wins AS DOUBLE) / nu * 1e6) / 1e6
        |      ELSE 0.0 END AS frac_longer_wins,
        |    CASE WHEN n_pairs > 0
        |      THEN sign(CAST(sd AS DOUBLE) / n_pairs)
        |        * (floor(abs(CAST(sd AS DOUBLE) / n_pairs) * 1e4) / 1e4) + 0.0
        |      ELSE 0.0 END AS mean_len_delta,
        |    CASE WHEN longer_wins + shorter_wins > 0
        |      THEN sign((CAST(longer_wins AS DOUBLE) - nu / 2.0) / sqrt(nu / 4.0))
        |        * (floor(abs((CAST(longer_wins AS DOUBLE) - nu / 2.0)
        |            / sqrt(nu / 4.0)) * 1e4) / 1e4) + 0.0
        |      ELSE 0.0 END AS z
        |  FROM e)
        |SELECT *, abs(z) > 1.96 AS significant FROM f""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"),
        (col("n_chars") % 11).as("r"))
      val a = d.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("aid"), col("text").as("at"), col("r").as("ar"))
      val b = d.select((col("doc_id") - 1).as("aid"),
        col("text").as("bt"), col("r").as("br"))
      val pairs = a.join(b, "aid").filter(col("ar") =!= col("br"))
        .select(when(col("ar") > col("br"), col("at")).otherwise(col("bt")).as("ct"),
          when(col("ar") > col("br"), col("bt")).otherwise(col("at")).as("rt"))
      Preference.lengthBias(pairs, col("ct"), col("rt"))
    },

    // D85: preference pair assembly + per-rule validation.
    Q(
      "q_pref_pairs",
      s"""WITH t AS (
         |  SELECT doc_id % 50 AS group_key, doc_id AS sample_id,
         |    CASE WHEN doc_id % 25 = 24 THEN '$plantedResponse' ELSE text END
         |      AS response,
         |    CAST(n_chars AS DOUBLE) AS reward
         |  FROM documents),
         |rk AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY group_key
         |      ORDER BY reward DESC, sample_id ASC) AS rn_hi,
         |    row_number() OVER (PARTITION BY group_key
         |      ORDER BY reward ASC, sample_id DESC) AS rn_lo
         |  FROM t),
         |a AS (
         |  SELECT group_key, CAST(count(*) AS BIGINT) AS n_samples,
         |    max(CASE WHEN rn_hi = 1 THEN sample_id END) AS chosen_id,
         |    max(CASE WHEN rn_hi = 1 THEN reward END) AS chosen_reward,
         |    max(CASE WHEN rn_hi = 1 THEN ${normFingerprintSql("response")}
         |      END) AS cfp,
         |    max(CASE WHEN rn_lo = 1 THEN sample_id END) AS rejected_id,
         |    max(CASE WHEN rn_lo = 1 THEN reward END) AS rejected_reward,
         |    max(CASE WHEN rn_lo = 1 THEN ${normFingerprintSql("response")}
         |      END) AS rfp
         |  FROM rk GROUP BY group_key)
         |SELECT group_key, n_samples, chosen_id, chosen_reward,
         |  rejected_id, rejected_reward,
         |  chosen_reward - rejected_reward AS reward_gap,
         |  cfp <> rfp AS distinct_response,
         |  n_samples >= 2 AND cfp <> rfp
         |    AND chosen_reward - rejected_reward >= CAST(10.0 AS DOUBLE) AS valid
         |FROM a ORDER BY group_key""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        (col("doc_id") % 50).as("gk"), col("doc_id").as("sid"),
        when(col("doc_id") % 25 === 24, lit(plantedResponse))
          .otherwise(col("text")).as("resp"),
        col("n_chars").as("rew"))
      Preference.pairsFromGroups(docs, col("gk"), col("sid"), col("resp"),
          col("rew"), minGap = 10.0)
        .select("group_key", "n_samples", "chosen_id", "chosen_reward",
          "rejected_id", "rejected_reward", "reward_gap", "distinct_response",
          "valid")
        .orderBy("group_key")
    },

    // D86: Bradley-Terry ratings, 3 MM rounds, oracle-unrolled.
    Q(
      "q_bradley_terry",
      s"""$gamesSql,
         |players AS (SELECT winner AS player FROM g UNION SELECT loser FROM g),
         |k AS (SELECT count(*) AS cnt FROM players),
         |w AS (SELECT winner AS player, count(*) AS wins FROM g GROUP BY 1),
         |base AS (
         |  SELECT p.player,
         |    coalesce(w.wins, 0) + CAST(0.5 AS DOUBLE) AS wsm
         |  FROM players p LEFT JOIN w ON p.player = w.player),
         |pr AS (
         |  SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
         |    count(*) AS n
         |  FROM g GROUP BY 1, 2),
         |e AS (
         |  SELECT a AS i, b AS j, n FROM pr
         |  UNION ALL SELECT b, a, n FROM pr),
         |r0 AS (SELECT player, CAST(1.0 AS DOUBLE) AS r FROM players),
         |${btIter("r0", "it1", 1)},
         |${btIter("it1", "it2", 2)},
         |${btIter("it2", "it3", 3)}
         |SELECT player, r AS rating FROM it3 ORDER BY player""".stripMargin
    ) { (s, dir) =>
      Preference.bradleyTerry(gamesOf(s, dir), col("winner"), col("loser"),
          iterations = 3)
        .orderBy("player")
    },

    // D88: GRPO group-relative advantage normalization.
    Q(
      "q_group_advantage", {
        s"""WITH t AS (
           |  SELECT doc_id % 50 AS group_key, doc_id AS sample_id,
           |    CAST(n_chars AS DOUBLE) AS reward
           |  FROM documents),
           |s AS (
           |  SELECT group_key, CAST(count(*) AS BIGINT) AS group_n,
           |    CAST(sum(CAST(reward AS DECIMAL(18,6))) AS DOUBLE) AS sm,
           |    CAST(sum(CAST(reward AS DECIMAL(18,6)) * CAST(reward AS DECIMAL(18,6)))
           |      AS DOUBLE) AS ss
           |  FROM t GROUP BY 1),
           |m AS (
           |  SELECT group_key, group_n, sm / group_n AS mu,
           |    sqrt(greatest(CAST(0.0 AS DOUBLE),
           |      (ss - sm * sm / group_n) / group_n)) AS sd
           |  FROM s)
           |SELECT t.group_key, t.sample_id, t.reward, m.group_n,
           |  ${truncZeroSql("m.mu", 4)} AS group_mean,
           |  ${truncZeroSql("m.sd", 4)} AS group_std,
           |  ${truncZeroSql("(t.reward - m.mu) / (m.sd + CAST(0.0001 AS DOUBLE))", 4)} AS advantage
           |FROM t JOIN m ON t.group_key = m.group_key
           |ORDER BY t.group_key, t.sample_id""".stripMargin
      }
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        (col("doc_id") % 50).as("gk"), col("doc_id").as("sid"),
        col("n_chars").as("rew"))
      Preference.groupAdvantage(docs, col("gk"), col("sid"), col("rew"))
        .orderBy("group_key", "sample_id")
    },

    // D89: best-of-N distillation with acceptance attrition; the bar
    // at 450 chars leaves some groups starved on purpose.
    Q(
      "q_best_of_n",
      """WITH t AS (
        |  SELECT doc_id % 50 AS group_key, doc_id AS sample_id,
        |    CAST(n_chars AS DOUBLE) AS reward
        |  FROM documents),
        |a AS (
        |  SELECT group_key, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(coalesce(count(*) FILTER (WHERE reward >= CAST(450.0 AS DOUBLE)), 0)
        |      AS BIGINT) AS n_accepted
        |  FROM t GROUP BY 1),
        |b AS (
        |  SELECT group_key, sample_id AS kept_id, reward AS kept_reward,
        |    row_number() OVER (PARTITION BY group_key
        |      ORDER BY reward DESC, sample_id ASC) AS rn
        |  FROM t WHERE reward >= CAST(450.0 AS DOUBLE))
        |SELECT a.group_key, a.n_candidates, a.n_accepted,
        |  b.kept_id, b.kept_reward,
        |  floor(CAST(a.n_accepted AS DOUBLE) / a.n_candidates * 1e4) / 1e4
        |    AS accept_rate,
        |  b.kept_id IS NULL AS starved
        |FROM a LEFT JOIN b ON a.group_key = b.group_key AND b.rn = 1
        |ORDER BY a.group_key""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        (col("doc_id") % 50).as("gk"), col("doc_id").as("sid"),
        col("n_chars").as("rew"))
      Preference.bestOfN(docs, col("gk"), col("sid"), col("rew"), minReward = 450.0)
        .orderBy("group_key")
    },

    // D87: per-contender win rate + Wilson 95% lower bound.
    Q(
      "q_win_rates",
      s"""$gamesSql,
         |s AS (
         |  SELECT winner AS player, 1 AS win FROM g
         |  UNION ALL SELECT loser, 0 FROM g),
         |a AS (
         |  SELECT player, CAST(count(*) AS BIGINT) AS n_games,
         |    CAST(sum(win) AS BIGINT) AS n_wins
         |  FROM s GROUP BY 1),
         |c AS (
         |  SELECT player, n_games, n_wins,
         |    CAST(n_wins AS DOUBLE) / CAST(n_games AS DOUBLE) AS p,
         |    CAST(n_games AS DOUBLE) AS n,
         |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
         |  FROM a)
         |SELECT player, n_games, n_wins,
         |  floor(p * 1e4) / 1e4 AS win_rate,
         |  floor(
         |    (p + z2 / (n * CAST(2.0 AS DOUBLE))
         |      - CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / n
         |          + z2 / (n * n * CAST(4.0 AS DOUBLE))))
         |    / (CAST(1.0 AS DOUBLE) + z2 / n) * 1e4) / 1e4 AS wilson_lo
         |FROM c ORDER BY player""".stripMargin
    ) { (s, dir) =>
      Preference.winRates(gamesOf(s, dir), col("winner"), col("loser"))
        .orderBy("player")
    }
  )
}
