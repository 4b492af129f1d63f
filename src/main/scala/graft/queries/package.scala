package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query registry shared by SparkEntry / Verify / Bench.
  *
  * Every oracle-able query follows the determinism contract (SURVEY §3):
  * identical lower-case aliases on both sides, money via exact
  * decimal(18,2) sums cast back to double, derived doubles rounded to
  * 4 dp identically, no raw timestamps, deterministic ORDER BY.
  */
package object queries {

  /** A named query: Spark plan + optional DuckDB oracle SQL twin. */
  final case class Q(
      name: String,
      spark: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Q {
    def apply(name: String, oracle: String)(
        fn: (SparkSession, String) => DataFrame): Q =
      Q(name, fn, Some(oracle))
    /** rows-only: no portable SQL twin (seeded hash families etc.). */
    def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): Q =
      Q(name, fn, None)
  }

  /** Exact money arithmetic: cast to decimal(18,2) (order-independent
    * exact sums), do the arithmetic, cast the final value back to double.
    */
  def dec(c: Column): Column = c.cast("decimal(18,2)")
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
  def r4(c: Column): Column = round(c, 4)

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.load(s, dir, name)

  /** `$"name"` column sugar without a SparkSession-bound implicits import. */
  implicit class Sym(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** DuckDB expression for the shared tokenizer over column `c` — the
    * cross-engine contract behind every text oracle (lower → strip
    * non-letter/digit → split on whitespace → drop empties). ONE copy
    * on purpose: an edit here must hit every text query's twin at
    * once, never drift per file.
    */
  private[queries] def tkSql(c: String): String =
    s"""list_filter(regexp_split_to_array(regexp_replace(lower($c), '[^\\p{L}\\p{Nd}\\s]', ' ', 'g'), '\\s+'), t -> len(t) > 0)"""

  /** DuckDB twin of [[graft.functions.normFingerprint]] over column
    * `c`: md5 of the lower-cased text with non-letter/digit runs and
    * whitespace collapsed to single spaces, trimmed. ONE copy, for the
    * same reason as [[tkSql]].
    */
  private[queries] def normFingerprintSql(c: String): String =
    s"""md5(trim(regexp_replace(regexp_replace(lower($c), '[^\\p{L}\\p{Nd}\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"""

  /** DuckDB twin of `Num.t4zero` / `Num.t6zero`: expression `e`
    * truncated toward zero at `dp` decimal places, with `+ 0.0` folding
    * -0.0 to the zero Spark emits.
    */
  private[queries] def truncZeroSql(e: String, dp: Int): String =
    s"sign($e) * (floor(abs($e) * 1e$dp) / 1e$dp) + 0.0"

  /** `words` as an SQL IN-list of string literals. */
  private[queries] def inListSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB twin of `TextMetrics.withLangId`'s marker-word vote over a
    * token-list column `tk`: one `h_<lang>` hit-count column per
    * language.
    */
  private[queries] val langHitsSql: String =
    graft.operators.TextMetrics.langMarkers.map { case (l, ms) =>
      s"len(list_filter(tk, t -> t IN ${inListSql(ms)})) AS h_$l"
    }.mkString(",\n    ")

  /** The largest of the [[langHitsSql]] columns. */
  private[queries] val bestHitsSql: String =
    graft.operators.TextMetrics.langMarkers.map(m => s"h_${m._1}")
      .mkString("greatest(", ", ", ")")

  /** CASE arms naming the first language (list order) whose hits
    * equal `best`; callers supply the zero-hit 'und' arm.
    */
  private[queries] val langCasesSql: String =
    graft.operators.TextMetrics.langMarkers.map(m => s"WHEN h_${m._1} = best THEN '${m._1}'")
      .mkString(" ")

  /** `TextMetrics.withQuality`'s stop words: every language's markers,
    * as an SQL IN-list.
    */
  private[queries] val stopListSql: String =
    inListSql(graft.operators.TextMetrics.langMarkers.flatMap(_._2).distinct)

  /** `TextMetrics.withQuality`'s signals over `tk` and `text`:
    * n_tokens, mean_tok_len, punct_ratio, stop_ratio.
    */
  private[queries] val qualitySignalsSql: String =
    s"""len(tk) AS n_tokens,
       |    CASE WHEN len(tk) > 0
       |      THEN list_sum(list_transform(tk, t -> len(t))) * 1.0 / len(tk)
       |      ELSE 0.0 END AS mean_tok_len,
       |    CASE WHEN len(text) > 0
       |      THEN (len(text) - len(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) * 1.0 / len(text)
       |      ELSE 0.0 END AS punct_ratio,
       |    CASE WHEN len(tk) > 0
       |      THEN len(list_filter(tk, t -> t IN $stopListSql)) * 1.0 / len(tk)
       |      ELSE 0.0 END AS stop_ratio""".stripMargin

  /** `TextMetrics.withQuality`'s composite score over the
    * [[qualitySignalsSql]] columns.
    */
  private[queries] val qualityScoreSql: String =
    """CAST(round(CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10 THEN 0.4 ELSE 0.0 END
      |        + CASE WHEN stop_ratio >= 0.05 THEN 0.3 ELSE 0.0 END
      |        + CASE WHEN punct_ratio <= 0.1 THEN 0.2 ELSE 0.0 END
      |        + CASE WHEN n_tokens >= 10 AND n_tokens <= 10000 THEN 0.1 ELSE 0.0 END, 4) AS DOUBLE)""".stripMargin

  /** The position-mask rebuild over `tk0`(doc_id, tk) and a
    * `lose`(doc_id, pos) mask: every token position as `tp`, and the
    * unmasked ones as `kept`(doc_id, pos, term).
    */
  private[queries] val keptTermsSql: String =
    """tp AS (
      |  SELECT doc_id, pos, tk[pos + 1] AS term FROM (
      |    SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos FROM tk0)),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.term
      |  FROM tp t LEFT JOIN lose l ON t.doc_id = l.doc_id AND t.pos = l.pos
      |  WHERE l.doc_id IS NULL)""".stripMargin
}
