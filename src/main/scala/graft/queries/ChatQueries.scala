package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Chat, TextMetrics}

/** Conversation / SFT-data queries (SURVEY §2.D80-D84).
  *
  * The testdata has no chat tables, so both engines derive the SAME
  * deterministic turn frame from `documents`: the shared sentence
  * splitter (q_sentences' contract) turns each document into a
  * conversation — even positions are `user` turns, odd `assistant` —
  * with three planted irregularities so every validation/dedup path
  * has signal:
  *
  *   - docs with `doc_id % 7 = 0` speak only `user` (alternation and
  *     ends-assistant violations),
  *   - position 2 of docs with `doc_id % 13 = 0` is blank content
  *     (no-empty violation),
  *   - position 0 of docs with `doc_id % 10 = 0` is a fixed shared
  *     prompt (prompt-dedup collision clusters).
  *
  * ONE derivation helper on each side (`turnsOf` / `turnsSql`) — the
  * plant list above must never drift per query.
  */
object ChatQueries {

  private val plantedTail = ". Planted second! A third?? ! Done..."
  private val sharedPrompt = "Please summarize the following document."

  /** Spark side of the shared turn-frame contract. */
  private def turnsOf(s: SparkSession, dir: String): DataFrame = {
    val sents = TextMetrics.splitSentences(
      table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(plantedTail)).as("text")),
      col("doc_id"), col("text"))
    sents.select(
      col("id").as("conv_id"),
      col("sent_pos").cast("int").as("turn_idx"),
      when(col("id") % 7 === 0, lit("user"))
        .when(col("sent_pos") % 2 === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      when(col("sent_pos") === 0 && col("id") % 10 === 0, lit(sharedPrompt))
        .when(col("sent_pos") === 2 && col("id") % 13 === 0, lit(" "))
        .otherwise(col("sentence")).as("content"))
  }

  /** DuckDB side of the same contract (CTE named `turns`). */
  private val turnsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_extract_all(text || '$plantedTail', '[^.!?]+[.!?]*') AS l
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
       |  FROM t),
       |turns AS (
       |  SELECT doc_id AS conv_id, CAST(i - 1 AS INT) AS turn_idx,
       |    CASE WHEN doc_id % 7 = 0 THEN 'user'
       |         WHEN (i - 1) % 2 = 0 THEN 'user'
       |         ELSE 'assistant' END AS role,
       |    CASE WHEN (i - 1) = 0 AND doc_id % 10 = 0 THEN '$sharedPrompt'
       |         WHEN (i - 1) = 2 AND doc_id % 13 = 0 THEN ' '
       |         ELSE trim(l[i]) END AS content
       |  FROM u WHERE length(trim(l[i])) > 0)""".stripMargin

  private def chat(q: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => q(turnsOf(s, dir))

  val all: Seq[Q] = Seq(

    // D127: context-window truncation planning — a planted system
    // turn per conversation plus the sentence turns, char counts as
    // the token proxy, budget 300: keep system + the longest fitting
    // dialog suffix. Exact oracle: the two window sums replay on
    // integer lanes.
    Q(
      "q_chat_truncate",
      s"""$turnsSql,
         |wsys AS (
         |  SELECT conv_id, -1 AS turn_idx, 'system' AS role,
         |    CAST(38 AS BIGINT) AS n_tokens
         |  FROM (SELECT DISTINCT conv_id FROM turns)),
         |allt AS (
         |  SELECT conv_id, turn_idx, role,
         |    CAST(length(content) AS BIGINT) AS n_tokens FROM turns
         |  UNION ALL SELECT * FROM wsys),
         |st AS (
         |  SELECT conv_id, turn_idx, role, n_tokens,
         |    sum(CASE WHEN role = 'system' THEN n_tokens ELSE 0 END)
         |      OVER (PARTITION BY conv_id) AS sys,
         |    sum(CASE WHEN role <> 'system' THEN n_tokens ELSE 0 END)
         |      OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suf
         |  FROM allt)
         |SELECT conv_id, turn_idx, role, n_tokens,
         |  (role = 'system' OR suf <= greatest(300 - sys, 0)) AS kept,
         |  CASE WHEN role = 'system' THEN 'system'
         |       WHEN suf <= greatest(300 - sys, 0) THEN 'kept'
         |       ELSE 'dropped' END AS reason
         |FROM st ORDER BY conv_id, turn_idx""".stripMargin
    )(chat { t =>
      val sys = t.select("conv_id").distinct()
        .select(col("conv_id"), lit(-1).as("turn_idx"),
          lit("system").as("role"), lit(38L).as("n_tokens"))
      val turns = t.select(col("conv_id"), col("turn_idx"), col("role"),
        length(col("content")).cast("long").as("n_tokens"))
      Chat.truncatePlan(turns.unionByName(sys), col("conv_id"),
          col("turn_idx"), col("role"), col("n_tokens"), budget = 300L)
        .orderBy("conv_id", "turn_idx")
    }),

    // D80: conversation assembly — scalar shape columns only (the turn
    // array itself is spec-verified; parquet/DuckDB struct-array
    // hashing is not part of the driver contract).
    Q(
      "q_chat_assemble",
      s"""$turnsSql
         |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |  min_by(role, turn_idx) AS first_role,
         |  max_by(role, turn_idx) AS last_role,
         |  CAST(sum(length(content)) AS BIGINT) AS total_chars
         |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin
    )(chat { t =>
      Chat.assemble(t, col("conv_id"), col("turn_idx"), col("role"), col("content"))
        .select("conv_id", "n_turns", "first_role", "last_role", "total_chars")
        .orderBy("conv_id")
    }),

    // D81: structural validation — per-rule flags + conjunction.
    Q(
      "q_chat_validate",
      s"""$turnsSql,
         |f AS (
         |  SELECT conv_id, turn_idx, role, content,
         |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
         |  FROM turns),
         |v AS (
         |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |    min_by(role, turn_idx) = 'user' AS starts_user,
         |    bool_and(prev IS NULL OR role <> prev) AS alternates,
         |    bool_and(length(trim(content)) > 0) AS no_empty,
         |    max_by(role, turn_idx) = 'assistant' AS ends_assistant,
         |    count(*) >= 2 AS min_turns
         |  FROM f GROUP BY conv_id)
         |SELECT conv_id, n_turns, starts_user, alternates, no_empty,
         |  ends_assistant, min_turns,
         |  starts_user AND alternates AND no_empty AND ends_assistant
         |    AND min_turns AS valid
         |FROM v ORDER BY conv_id""".stripMargin
    )(chat { t =>
      Chat.validate(t, col("conv_id"), col("turn_idx"), col("role"), col("content"))
        .select("conv_id", "n_turns", "starts_user", "alternates", "no_empty",
          "ends_assistant", "min_turns", "valid")
        .orderBy("conv_id")
    }),

    // D82: loss-mask accounting — assistant-trainable tokens under the
    // shared tokenizer + 4/turn template overhead.
    Q(
      "q_chat_loss_mask",
      s"""$turnsSql,
         |p AS (
         |  SELECT conv_id, role,
         |    CAST(len(${tkSql("content")}) AS BIGINT) AS n_tok
         |  FROM turns)
         |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(sum(n_tok) + count(*) * 4 AS BIGINT) AS total_tokens,
         |  CAST(coalesce(sum(n_tok) FILTER (WHERE role = 'assistant'), 0)
         |    AS BIGINT) AS trainable_tokens,
         |  floor(CAST(coalesce(sum(n_tok) FILTER (WHERE role = 'assistant'), 0)
         |      AS DOUBLE)
         |    / CAST(sum(n_tok) + count(*) * 4 AS DOUBLE) * 1e4) / 1e4
         |    AS mask_ratio
         |FROM p GROUP BY conv_id ORDER BY conv_id""".stripMargin
    )(chat { t =>
      Chat.lossMask(t, col("conv_id"), col("turn_idx"), col("role"), col("content"))
        .select("conv_id", "n_turns", "total_tokens", "trainable_tokens", "mask_ratio")
        .orderBy("conv_id")
    }),

    // D83: prompt-level dedup — planted shared-prompt clusters
    // (doc_id % 10 = 0) collapse to their smallest conv_id.
    Q(
      "q_chat_prompt_dedup",
      s"""$turnsSql,
         |fu AS (
         |  SELECT conv_id,
         |    ${normFingerprintSql("min_by(content, turn_idx)")} AS prompt_fp
         |  FROM turns WHERE role = 'user' GROUP BY conv_id),
         |k AS (SELECT prompt_fp, min(conv_id) AS keeper FROM fu GROUP BY prompt_fp),
         |c AS (SELECT DISTINCT conv_id FROM turns)
         |SELECT c.conv_id, fu.prompt_fp,
         |  coalesce(k.keeper, c.conv_id) AS keeper,
         |  c.conv_id = coalesce(k.keeper, c.conv_id) AS kept
         |FROM c LEFT JOIN fu ON c.conv_id = fu.conv_id
         |LEFT JOIN k ON fu.prompt_fp = k.prompt_fp
         |ORDER BY c.conv_id""".stripMargin
    )(chat { t =>
      Chat.promptDedup(t, col("conv_id"), col("turn_idx"), col("role"), col("content"))
        .select("conv_id", "prompt_fp", "keeper", "kept")
        .orderBy("conv_id")
    }),

    // D84: per-role corpus shape report.
    Q(
      "q_chat_turn_stats",
      s"""$turnsSql,
         |p AS (
         |  SELECT conv_id, role, CAST(length(content) AS BIGINT) AS n_chars,
         |    CAST(len(${tkSql("content")}) AS BIGINT) AS n_tok
         |  FROM turns)
         |SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |  floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 1e4) / 1e4 AS avg_chars,
         |  floor(CAST(sum(n_tok) AS DOUBLE) / count(*) * 1e4) / 1e4 AS avg_tokens
         |FROM p GROUP BY role ORDER BY role""".stripMargin
    )(chat { t =>
      Chat.turnStats(t, col("conv_id"), col("turn_idx"), col("role"), col("content"))
        .select("role", "n_turns", "n_convs", "total_chars", "total_tokens",
          "avg_chars", "avg_tokens")
        .orderBy("role")
    })
  )
}
