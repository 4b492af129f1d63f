package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Profile, Sampling, materialize}

/** Profiling queries (SURVEY §2.C24-C25): the "look at what arrived"
  * surface — long-format column profiles and fixed-width histograms,
  * both single-aggregation-pass shapes.
  */
object ProfileQueries {

  /** Columns profiled by q_profile; mixed types on purpose (integers,
    * doubles, strings, a timestamp) — min/max render as strings, and
    * the oracle proves the renderings agree across engines.
    */
  private val profCols = Seq(
    "l_orderkey", "l_quantity", "l_extendedprice",
    "l_returnflag", "l_linestatus", "l_shipdate")

  private def profColSql(c: String): String =
    s"""SELECT '$c' AS col_name,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_val,
       |  CAST(max($c) AS VARCHAR) AS max_val
       |FROM lineitem""".stripMargin

  /** Hourly event counts per event type, (key, bucket, value): the
    * series every time-series diagnostic below reads, bucket =
    * ts_ns div 1h. Its DuckDB twin is [[hourlyCountsSql]].
    */
  private[queries] def hourlyCounts(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(s, dir)
      .groupBy(col("event_type").as("key"),
        expr("ts_ns div 3600000000000").as("bucket"))
      .agg(count(lit(1)).cast("double").as("value"))

  /** Densify an hourly (key, bucket, ...) series: every bucket from a
    * key's first to its last hour, with `valueCols` 0.0 in the empty
    * hours — lag-based diagnostics need a gap-free grid.
    */
  private def zeroFillHours(counts: DataFrame, valueCols: String*): DataFrame = {
    val span = counts.groupBy("key")
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
    val grid = span
      .select(col("key"), explode(sequence(col("lo"), col("hi"))).as("bucket"))
      .join(counts, Seq("key", "bucket"), "left")
    valueCols.foldLeft(grid)((df, c) => df.withColumn(c, coalesce(col(c), lit(0.0))))
  }

  /** DuckDB twin of [[hourlyCounts]]: the CTE `b`(key, bucket, value). */
  private[queries] val hourlyCountsSql: String =
    """b AS (
      |  SELECT event_type AS key,
      |    epoch_ns(ts) // 3600000000000 AS bucket,
      |    CAST(count(*) AS DOUBLE) AS value
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of [[zeroFillHours]] over the CTE `b`: `sp`, `grid`
    * and the dense `d`(key, bucket, valueCols...).
    */
  private def zeroFillHoursSql(valueCols: String*): String =
    s"""sp AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi
       |  FROM b GROUP BY 1),
       |grid AS (SELECT key, unnest(range(lo, hi + 1)) AS bucket FROM sp),
       |d AS (
       |  SELECT g.key, g.bucket,
       |    ${valueCols.map(c => s"coalesce(b.$c, 0.0) AS $c").mkString(", ")}
       |  FROM grid g LEFT JOIN b ON g.key = b.key AND g.bucket = b.bucket)""".stripMargin

  /** `mu` + `c`: the dense series `d` demeaned per key into 6-dp
    * integer lanes `c6`.
    */
  private val demeanSql: String =
    """mu AS (
      |  SELECT key,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu
      |  FROM d GROUP BY 1),
      |c AS (
      |  SELECT d.key, d.bucket,
      |    CAST((d.value - mu.mu) * 1e6 AS DECIMAL(18,0)) AS c6
      |  FROM d JOIN mu ON d.key = mu.key)""".stripMargin

  /** The autocorrelation oracle chain over the dense hourly series,
    * through `den`(key, dn) and `a`(key, lag, n_pairs, num) for lags
    * 1..maxLag; [[acfSelectSql]] turns them into the 4-dp r_k rows.
    */
  private def acfChainSql(maxLag: Int): String = {
    val lagSels = (1 to maxLag).map { l =>
      s"""SELECT key, $l AS lag,
         |  CAST(c6 AS DECIMAL(38,0))
         |    * lag(c6, $l) OVER (PARTITION BY key ORDER BY bucket) AS p
         |FROM c""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""$hourlyCountsSql,
       |${zeroFillHoursSql("value")},
       |$demeanSql,
       |den AS (
       |  SELECT key, sum(CAST(c6 AS DECIMAL(38,0)) * c6) AS dn
       |  FROM c GROUP BY 1),
       |l AS (
       |  $lagSels),
       |a AS (
       |  SELECT key, lag, CAST(count(p) AS BIGINT) AS n_pairs,
       |    coalesce(sum(p), 0) AS num
       |  FROM l GROUP BY 1, 2)""".stripMargin
  }

  /** r_k per (key, lag) over [[acfChainSql]]: `Stats.autocorrelation`'s
    * sign-preserving 4-dp truncation, 0.0 + degenerate on a flat series.
    */
  private val acfSelectSql: String =
    """SELECT a.key, a.lag, a.n_pairs,
      |  CASE WHEN CAST(den.dn AS DOUBLE) <= 0.0 THEN CAST(0.0 AS DOUBLE)
      |    ELSE sign(CAST(a.num AS DOUBLE) / CAST(den.dn AS DOUBLE))
      |      * (floor(abs(CAST(a.num AS DOUBLE) / CAST(den.dn AS DOUBLE))
      |        * 1e4) / 1e4) + 0.0
      |  END AS acf,
      |  CAST(den.dn AS DOUBLE) <= 0.0 AS degenerate
      |FROM a JOIN den ON a.key = den.key""".stripMargin

  /** `Stats.seasonalDecompose` at period 25 over the CTE `b`: `t`
    * (centered 25-point window sums), `tr` (trend, phase), `se`/`gr`
    * (per-phase and grand means) and `o`(key, bucket, value, trend,
    * seasonal).
    */
  private val seasonalDecomposeSql: String =
    """t AS (
      |  SELECT key, bucket, value,
      |    count(value) OVER w AS n,
      |    sum(CAST(value AS DECIMAL(18,6))) OVER w AS s
      |  FROM b
      |  WINDOW w AS (PARTITION BY key ORDER BY bucket
      |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |tr AS (
      |  SELECT key, bucket, value,
      |    CASE WHEN n = 25 THEN floor(CAST(s AS DOUBLE) / 25 * 1e4) / 1e4 END AS trend,
      |    ((bucket % 25) + 25) % 25 AS phase
      |  FROM t),
      |se AS (
      |  SELECT key AS sk, phase AS sp,
      |    CAST(sum(CAST(value - trend AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS praw
      |  FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
      |gr AS (
      |  SELECT sk AS gk,
      |    CAST(sum(CAST(praw AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS gmean
      |  FROM se GROUP BY 1),
      |o AS (
      |  SELECT tr.key, tr.bucket, tr.value, tr.trend,
      |    sign(coalesce(praw, 0.0) - coalesce(gmean, 0.0))
      |      * (floor(abs(coalesce(praw, 0.0) - coalesce(gmean, 0.0)) * 1e4) / 1e4)
      |      + 0.0 AS seasonal
      |  FROM tr
      |  LEFT JOIN se ON tr.key = se.sk AND tr.phase = se.sp
      |  LEFT JOIN gr ON tr.key = gr.gk)""".stripMargin

  /** The OLS trend-fit inputs over hourly counts: `b`(key, x = hour,
    * y = count) and the per-key exact-decimal moment sums
    * `m`(key, n, sx, sy, sxy, sxx).
    */
  private val hourlyTrendSumsSql: String =
    """b AS (
      |  SELECT event_type AS key,
      |    CAST(epoch_ns(ts) // 3600000000000 AS DOUBLE) AS x,
      |    CAST(count(*) AS DOUBLE) AS y
      |  FROM events GROUP BY key, epoch_ns(ts) // 3600000000000),
      |m AS (
      |  SELECT key, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS DECIMAL(19,6))) AS sx,
      |    sum(CAST(y AS DECIMAL(19,6))) AS sy,
      |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy,
      |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx
      |  FROM b GROUP BY key)""".stripMargin

  /** Trend residuals over [[hourlyTrendSumsSql]]: slope `f`(key, n,
    * slope, flatx), residuals `r` and their demeaned 6-dp lanes
    * `r6`(key, x, n, flatx, e6).
    */
  private val trendResidualsSql: String =
    """f AS (
      |  SELECT key, n,
      |    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0
      |      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 AS flatx
      |  FROM m),
      |r AS (
      |  SELECT b.key, b.x, f.n, f.flatx, b.y - f.slope * b.x AS e
      |  FROM b JOIN f ON b.key = f.key),
      |emu AS (
      |  SELECT key,
      |    CAST(sum(CAST(e AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu
      |  FROM r GROUP BY key),
      |r6 AS (
      |  SELECT r.key, r.x, r.n, r.flatx,
      |    CAST((r.e - emu.mu) * 1e6 AS DECIMAL(18,0)) AS e6
      |  FROM r JOIN emu ON r.key = emu.key)""".stripMargin

  /** Click-vs-view value moments over `events`: count, exact decimal
    * sum and sum of squares per side, `m`(na, sa, ssa, nb, sb, ssb).
    */
  private val clickViewSumsSql: String =
    """v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |m AS (SELECT
      |  coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 0) AS na,
      |  sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(19,6)) END) AS sa,
      |  sum(CASE WHEN event_type = 'click'
      |      THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) END) AS ssa,
      |  coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END), 0) AS nb,
      |  sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(19,6)) END) AS sb,
      |  sum(CASE WHEN event_type = 'view'
      |      THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) END) AS ssb
      |  FROM v)""".stripMargin

  /** Per-event-type value moments over `events`: `per`(g, n, s = exact
    * sum, q = exact sum of squares, cst = all values equal).
    */
  private val groupMomentsSql: String =
    """v AS (SELECT event_type AS g, value FROM events
      |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(value AS DECIMAL(18,6))) AS s,
      |    sum(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
      |        AS DECIMAL(38,12))) AS q,
      |    min(CAST(value AS DECIMAL(18,6))) = max(CAST(value AS DECIMAL(18,6)))
      |      AS cst
      |  FROM v GROUP BY g)""".stripMargin

  /** DuckDB twin of [[langScores]] with its pooled mid-ranks: value ties
    * `vtc`(v, t, cum, tc) and per-language doubled rank sums `perg`(g, n, r2).
    */
  private val langRanksSql: String =
    s"""sc AS (
       |  SELECT lang AS g, round(least(1.0, len(${tkSql("text")}) / 400.0), 6) AS v
       |  FROM documents WHERE lang IS NOT NULL),
       |vg AS (SELECT v, g, CAST(count(*) AS BIGINT) AS nvg FROM sc GROUP BY 1, 2),
       |vt AS (SELECT v, CAST(sum(nvg) AS BIGINT) AS t FROM vg GROUP BY 1),
       |vtc AS (SELECT v, t,
       |    coalesce(sum(t) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
       |    CAST(CAST(t AS DECIMAL(13,0)) * CAST(t AS DECIMAL(13,0))
       |      * CAST(t AS DECIMAL(13,0)) - t AS DECIMAL(38,0)) AS tc
       |  FROM vt),
       |perg AS (SELECT g, CAST(sum(nvg) AS BIGINT) AS n,
       |    CAST(sum(CAST(nvg AS DECIMAL(19,0))
       |      * (CAST(cum AS DECIMAL(19,0)) * 2 + t + 1)) AS DECIMAL(38,0)) AS r2
       |  FROM vg JOIN vtc USING (v) GROUP BY g)""".stripMargin

  /** The one-way ANOVA table over `per`(g, n, s, q): between/within
    * sums of squares from exact decimal moments, F and eta².
    */
  private val anovaTableSql: String =
    """m AS (SELECT
      |    coalesce(sum(n), 0) AS nn, CAST(count(*) AS BIGINT) AS k,
      |    sum(s) AS ts, sum(q) AS tq,
      |    sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n * 1e7) / 1e7
      |        AS DECIMAL(30,7))) AS w
      |  FROM per),
      |d AS (SELECT nn, k,
      |    greatest(0.0, CAST(tq AS DOUBLE) - CAST(w AS DOUBLE)) AS ssw,
      |    greatest(0.0, CAST(w AS DOUBLE)
      |      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(nn AS DOUBLE)) AS ssb
      |  FROM m)
      |SELECT CAST(nn AS BIGINT) AS n, k,
      |  CASE WHEN nn > 0 THEN floor(ssb * 1e4) / 1e4 ELSE 0.0 END AS ss_between,
      |  CASE WHEN nn > 0 THEN floor(ssw * 1e4) / 1e4 ELSE 0.0 END AS ss_within,
      |  CASE WHEN k < 2 OR nn <= k OR ssw = 0.0 THEN 0.0
      |       ELSE floor((ssb / (k - 1)) / (ssw / (nn - k)) * 1e4) / 1e4 END AS f,
      |  CASE WHEN ssb + ssw > 0 THEN floor(ssb / (ssb + ssw) * 1e4) / 1e4
      |       ELSE 0.0 END AS eta_sq,
      |  (k < 2 OR nn <= k OR ssw = 0.0) AS degenerate
      |FROM d""".stripMargin

  /** Per-language document length score, (g, v): token count / 400
    * capped at 1.0 — the q_kruskal / q_dunn input.
    */
  private def langScores(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .filter(col("lang").isNotNull)
      .select(col("lang").as("g"),
        least(lit(1.0), size(graft.functions.tokens(col("text"))) / lit(400.0)).as("v"))

  /** The scored-classifier fixture, (score, y): score = token count /
    * 400 capped at 1.0, y = the text mentions "data".
    */
  private def scoredLabels(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      least(lit(1.0), size(graft.functions.tokens(col("text"))) / lit(400.0))
        .as("score"),
      lower(col("text")).contains("data").as("y"))

  /** The returnflag × linestatus contingency table over `lineitem`:
    * `cells`(a, b, n), margins `ra`(a, rt) and `rb`(b, ct), totals
    * `t`(tot, n_cells), and the level counts `nr`(r), `nc`(c).
    */
  private val contingencySql: String =
    """cells AS (
      |  SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |ra AS (SELECT a, sum(n) AS rt FROM cells GROUP BY 1),
      |rb AS (SELECT b, sum(n) AS ct FROM cells GROUP BY 1),
      |t AS (SELECT sum(n) AS tot, count(*) AS n_cells FROM cells),
      |nr AS (SELECT count(*) AS r FROM ra),
      |nc AS (SELECT count(*) AS c FROM rb)""".stripMargin

  /** The multiple-testing fixture, (key, p): 80 hypothesis groups with
    * pseudo-random p-values, every 7th planted significant (×0.001)
    * and every 13th untested (null).
    */
  private def plantedPValues(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select((col("doc_id") % 80).as("g"), ((col("doc_id") * 7919) % 997).as("hv"))
      .groupBy("g").agg((min(col("hv")) / lit(996.0)).as("base"))
      .select(col("g").as("key"),
        when(col("g") % 13 === 0, lit(null).cast("double"))
          .when(col("g") % 7 === 0, col("base") * lit(0.001))
          .otherwise(col("base")).as("p"))

  /** Open vs finished order counts per 4-dp o_totalprice value,
    * `g`(v, na, nb).
    */
  private val openFinishedPricesSql: String =
    """g AS (
      |  SELECT round(CAST(o_totalprice AS DOUBLE), 4) AS v,
      |    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS na,
      |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS nb
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('O', 'F')
      |  GROUP BY 1)""".stripMargin

  val all: Seq[Q] = Seq(

    // C24: one-pass long-format column profile. exactDistinct=true so
    // DuckDB's exact COUNT(DISTINCT) is the twin; the scale default is
    // HLL++ (see Profile.profile scaladoc).
    Q(
      "q_profile",
      profCols.map(profColSql).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    ) { (s, dir) =>
      Profile.profile(table(s, dir, "lineitem"), profCols, exactDistinct = true)
        .orderBy("col_name")
    },

    // C42: order-insensitive table digest — both engines render the
    // same integer/string columns, md5 them, and sum the 60-bit hash
    // lanes exactly; any row difference moves the digest. Doubles /
    // timestamps are deliberately excluded: float STRING RENDERING is
    // engine-specific, which is a caller contract documented on the
    // operator (cast to decimal first). The digest travels as a
    // decimal STRING on both sides: int128-width output types
    // (DECIMAL(38,0) / HUGEINT) serialize differently per engine even
    // when values agree (the r4 driver hash-fail).
    Q(
      "q_table_digest",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws(chr(1),
        |    CASE WHEN l_orderkey IS NULL THEN 'n' ELSE length(CAST(l_orderkey AS VARCHAR)) || ':' || CAST(l_orderkey AS VARCHAR) END,
        |    CASE WHEN l_partkey IS NULL THEN 'n' ELSE length(CAST(l_partkey AS VARCHAR)) || ':' || CAST(l_partkey AS VARCHAR) END,
        |    CASE WHEN l_suppkey IS NULL THEN 'n' ELSE length(CAST(l_suppkey AS VARCHAR)) || ':' || CAST(l_suppkey AS VARCHAR) END,
        |    CASE WHEN l_linenumber IS NULL THEN 'n' ELSE length(CAST(l_linenumber AS VARCHAR)) || ':' || CAST(l_linenumber AS VARCHAR) END,
        |    CASE WHEN l_returnflag IS NULL THEN 'n' ELSE length(l_returnflag) || ':' || l_returnflag END,
        |    CASE WHEN l_linestatus IS NULL THEN 'n' ELSE length(l_linestatus) || ':' || l_linestatus END)), 1, 15) AS BIGINT)
        |    AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS VARCHAR) AS digest
        |FROM lineitem""".stripMargin
    ) { (s, dir) =>
      Profile.tableDigest(table(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))
    },

    // C43: row-level snapshot reconciliation — left drops every %97
    // key, right drops %89, perturbs %13 prices and adds fresh +10M
    // keys; each key classifies equal/mismatch/only_left/only_right.
    Q(
      "q_reconcile",
      """WITH l AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 97 <> 0),
        |r AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 41 = 0)
        |SELECT coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
        |  CASE WHEN l.o_orderkey IS NULL THEN 'only_right'
        |       WHEN r.o_orderkey IS NULL THEN 'only_left'
        |       WHEN l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice
        |        AND l.o_orderstatus IS NOT DISTINCT FROM r.o_orderstatus
        |         THEN 'equal'
        |       ELSE 'mismatch' END AS status
        |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val l = o.filter(col("o_orderkey") % 97 =!= 0)
      val r = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 41 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000))
      Profile.reconcile(l, r, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    },

    // C44: per-group winsorization — exact-percentile clamp bounds
    // (quantile_cont twin, the boxplot contract), clamp replayed with
    // the identical least/greatest double arithmetic, 4-dp truncation.
    Q(
      "q_winsorize",
      """WITH q AS (
        |  SELECT o_orderpriority AS grp,
        |    quantile_cont(o_totalprice, 0.05) AS lo,
        |    quantile_cont(o_totalprice, 0.95) AS hi
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey,
        |  floor(least(greatest(o_totalprice, lo), hi) * 1e4) / 1e4
        |    AS v_winsorized
        |FROM orders JOIN q ON o_orderpriority = q.grp
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      Profile.winsorize(table(s, dir, "orders"),
          col("o_orderpriority"), col("o_totalprice"))
        .select("o_orderkey", "v_winsorized")
        .orderBy("o_orderkey")
    },

    // C61: per-group trimmed mean — winsorize's drop-not-clamp sibling.
    Q(
      "q_trimmed_mean",
      """WITH q AS (
        |  SELECT o_orderpriority AS grp,
        |    quantile_cont(o_totalprice, 0.05) AS lo,
        |    quantile_cont(o_totalprice, 0.95) AS hi
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT q.grp, o_totalprice AS v,
        |    o_totalprice >= q.lo AND o_totalprice <= q.hi AS keep
        |  FROM orders JOIN q ON o_orderpriority = q.grp)
        |SELECT grp, CAST(count(v) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CASE WHEN NOT keep AND v IS NOT NULL
        |    THEN 1 END), 0) AS BIGINT) AS n_trimmed,
        |  floor(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(v)
        |    * 1e4) / 1e4 AS mean_raw,
        |  floor(CAST(sum(CASE WHEN keep THEN CAST(v AS DECIMAL(18,6)) END)
        |      AS DOUBLE) / sum(CASE WHEN keep THEN 1 END) * 1e4) / 1e4
        |    AS mean_trimmed
        |FROM j GROUP BY grp ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      Profile.trimmedMean(table(s, dir, "orders"),
          col("o_orderpriority"), col("o_totalprice"))
        .orderBy("grp")
    },

    // C48: robust (median/MAD) standardization — outlier scoring that
    // works on data containing outliers; exact percentiles are the
    // proven cross-engine surface (boxplot/winsorize), the z
    // derivation replays with explicit DOUBLE casts and toward-zero
    // truncation.
    Q(
      "q_robust_z",
      """WITH med AS (
        |  SELECT o_orderpriority AS grp,
        |    quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (
        |  SELECT o_orderpriority AS grp,
        |    quantile_cont(abs(o_totalprice - med), 0.5) AS mad
        |  FROM orders JOIN med ON o_orderpriority = med.grp GROUP BY 1)
        |SELECT o_orderkey,
        |  CASE WHEN mad.mad = 0.0 THEN 0.0 ELSE
        |    sign((o_totalprice - med) / (mad.mad * CAST(1.4826 AS DOUBLE))) *
        |    (floor(abs((o_totalprice - med) / (mad.mad * CAST(1.4826 AS DOUBLE))) * 1e4) / 1e4)
        |    + 0.0 END AS z_robust
        |FROM orders
        |JOIN med ON o_orderpriority = med.grp
        |JOIN mad ON o_orderpriority = mad.grp
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      Profile.robustStandardize(table(s, dir, "orders"),
          col("o_orderpriority"), col("o_totalprice"))
        .select("o_orderkey", "z_robust")
        .orderBy("o_orderkey")
    },

    // C49: Population Stability Index — the model-monitoring drift
    // number between two snapshots over a shared fixed-width grid;
    // Laplace-smoothed shares, exact integer bin counts, identical
    // IEEE formula both engines, 6-dp truncation.
    Q(
      "q_psi",
      """WITH pre AS (SELECT o_totalprice AS v FROM orders),
        |post AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * CAST(1.15 AS DOUBLE)
        |              ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |hb AS (
        |  SELECT CAST(least(19, greatest(0, floor((v - 0.0) / CAST(30000.0 AS DOUBLE)))) AS INT) AS bin,
        |    count(*) AS nb
        |  FROM pre GROUP BY 1),
        |ha AS (
        |  SELECT CAST(least(19, greatest(0, floor((v - 0.0) / CAST(30000.0 AS DOUBLE)))) AS INT) AS bin,
        |    count(*) AS na
        |  FROM post GROUP BY 1),
        |grid AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS bin),
        |j AS (
        |  SELECT coalesce(nb, 0) AS nb, coalesce(na, 0) AS na
        |  FROM grid LEFT JOIN hb USING (bin) LEFT JOIN ha USING (bin)),
        |t AS (SELECT sum(nb) AS tb, sum(na) AS ta FROM j),
        |terms AS (
        |  SELECT tb, ta,
        |    CAST(floor(
        |      ((nb + CAST(0.5 AS DOUBLE)) / (tb + CAST(0.5 AS DOUBLE) * 20.0)
        |        - (na + CAST(0.5 AS DOUBLE)) / (ta + CAST(0.5 AS DOUBLE) * 20.0))
        |      * ln(((nb + CAST(0.5 AS DOUBLE)) / (tb + CAST(0.5 AS DOUBLE) * 20.0))
        |        / ((na + CAST(0.5 AS DOUBLE)) / (ta + CAST(0.5 AS DOUBLE) * 20.0)))
        |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS term
        |  FROM j CROSS JOIN t)
        |SELECT CAST(tb AS BIGINT) AS n_before, CAST(ta AS BIGINT) AS n_after,
        |  floor(CAST(sum(term) AS DOUBLE) * 1e6) / 1e6 AS psi
        |FROM terms
        |GROUP BY tb, ta""".stripMargin
    ) { (s, dir) =>
      val o = table(s, dir, "orders")
      val post = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(when(col("o_orderkey") % 2 === 0, col("o_totalprice") * 1.15)
          .otherwise(col("o_totalprice")).as("v"))
      Profile.psi(o.select(col("o_totalprice").as("v")), post,
        col("v"), lo = 0.0, hi = 600000.0, nBins = 20)
    },

    // C49b: per-SOURCE PSI — drift localized to the crawl that moved:
    // src3 vanishes from the after-snapshot (maximal drift), src5's
    // lengths double (large drift), every other source reads ~0.
    Q(
      "q_psi_by_source",
      """WITH pre AS (
        |  SELECT source AS grp, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |post AS (
        |  SELECT source AS grp,
        |    CASE WHEN source = 'src5' THEN CAST(n_chars * 2 AS DOUBLE)
        |         ELSE CAST(n_chars AS DOUBLE) END AS v
        |  FROM documents WHERE source <> 'src3'),
        |hb AS (
        |  SELECT grp, CAST(least(15, greatest(0,
        |    floor((v - 0.0) / CAST(50.0 AS DOUBLE)))) AS INT) AS bin,
        |    count(*) AS nb
        |  FROM pre GROUP BY 1, 2),
        |ha AS (
        |  SELECT grp, CAST(least(15, greatest(0,
        |    floor((v - 0.0) / CAST(50.0 AS DOUBLE)))) AS INT) AS bin,
        |    count(*) AS na
        |  FROM post GROUP BY 1, 2),
        |groups AS (
        |  SELECT DISTINCT grp FROM (
        |    SELECT grp FROM hb UNION ALL SELECT grp FROM ha)),
        |grid AS (
        |  SELECT grp, CAST(unnest(range(0, 16)) AS INT) AS bin FROM groups),
        |j AS (
        |  SELECT grp, bin, coalesce(nb, 0) AS nb, coalesce(na, 0) AS na
        |  FROM grid LEFT JOIN hb USING (grp, bin) LEFT JOIN ha USING (grp, bin)),
        |t AS (SELECT grp, sum(nb) AS tb, sum(na) AS ta FROM j GROUP BY 1),
        |terms AS (
        |  SELECT j.grp, tb, ta,
        |    CAST(floor(
        |      ((nb + CAST(0.5 AS DOUBLE)) / (tb + CAST(0.5 AS DOUBLE) * 16.0)
        |        - (na + CAST(0.5 AS DOUBLE)) / (ta + CAST(0.5 AS DOUBLE) * 16.0))
        |      * ln(((nb + CAST(0.5 AS DOUBLE)) / (tb + CAST(0.5 AS DOUBLE) * 16.0))
        |        / ((na + CAST(0.5 AS DOUBLE)) / (ta + CAST(0.5 AS DOUBLE) * 16.0)))
        |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS term
        |  FROM j JOIN t USING (grp))
        |SELECT grp, CAST(tb AS BIGINT) AS n_before, CAST(ta AS BIGINT) AS n_after,
        |  floor(CAST(sum(term) AS DOUBLE) * 1e6) / 1e6 AS psi
        |FROM terms
        |GROUP BY grp, tb, ta
        |ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val pre = d.select(col("source"), col("n_chars").cast("double").as("v"))
      val post = d.filter(col("source") =!= "src3")
        .select(col("source"),
          when(col("source") === "src5", (col("n_chars") * 2).cast("double"))
            .otherwise(col("n_chars").cast("double")).as("v"))
      Profile.psiByGroup(pre, post, col("source"), col("v"),
          lo = 0.0, hi = 800.0, nBins = 16)
        .orderBy("grp")
    },

    // C39: one-pass Pearson correlation matrix — all pairs from one
    // aggregation; the oracle replays the identical decimal-sum /
    // double-derivation formula (not DuckDB's own corr(), whose
    // internal accumulation differs).
    Q(
      "q_correlations", {
        val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val pairs = for {
          i <- cs.indices; j <- (i + 1) until cs.size
        } yield (cs(i), cs(j))
        // DECIMAL(19,6), not (18,6): width ≥ 19 forces DuckDB onto
        // int128 physical storage, so the per-row square (raw 1e21 for
        // a 1e5 price) multiplies exactly instead of overflowing the
        // int64 it uses for width ≤ 18. Spark stays at decimal(18,6)
        // (square → decimal(37,12), exact); both sides are exact, so
        // the sums agree bit-for-bit.
        def s(c: String) = s"sum(CAST($c AS DECIMAL(19,6)))"
        def ss(c: String) = s"sum(CAST($c AS DECIMAL(19,6)) * CAST($c AS DECIMAL(19,6)))"
        def sp(a: String, b: String) = s"sum(CAST($a AS DECIMAL(19,6)) * CAST($b AS DECIMAL(19,6)))"
        val aggCols =
          (cs.flatMap(c => Seq(s"${s(c)} AS s_$c", s"${ss(c)} AS ss_$c")) ++
            pairs.map { case (a, b) => s"${sp(a, b)} AS sp_${a}__$b" })
            .mkString(",\n    ")
        val rows = pairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
             |  CASE WHEN n < 2
             |      OR CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) <= 0.0
             |      OR CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) <= 0.0
             |    THEN 0.0
             |    ELSE floor((CAST(n AS DOUBLE) * CAST(sp_${a}__$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
             |      / sqrt((CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
             |           * (CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))) * 1e4) / 1e4
             |  END AS corr
             |FROM w""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH c AS (
           |  SELECT * FROM lineitem
           |  WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
           |w AS (
           |  SELECT count(*) AS n,
           |    $aggCols
           |  FROM c)
           |$rows
           |ORDER BY col_a, col_b""".stripMargin
      }
    ) { (s, dir) =>
      Profile.correlations(table(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    },

    // C37: per-group z-score standardization — exact decimal moments
    // (q_agg_stats' formulas), 4-dp truncated z, degenerate groups
    // scale to 0.0 instead of an ANSI divide-by-zero.
    Q(
      "q_standardize",
      """WITH m AS (
        |  SELECT l_returnflag AS g, count(l_quantity) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS s,
        |    sum(CAST(l_quantity AS DECIMAL(18,6)) * CAST(l_quantity AS DECIMAL(18,6))) AS ss
        |  FROM lineitem GROUP BY 1),
        |mo AS (
        |  SELECT g, CAST(s AS DOUBLE) / n AS mean,
        |    CASE WHEN n > 1
        |      THEN sqrt(greatest(0.0,
        |        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)))
        |      ELSE 0.0 END AS std
        |  FROM m)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN std = 0.0 OR l_quantity IS NULL THEN 0.0
        |       ELSE floor((l_quantity - mean) / std * 1e4) / 1e4 END AS z
        |FROM lineitem JOIN mo ON l_returnflag = mo.g
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, dir) =>
      Profile.standardize(table(s, dir, "lineitem"),
          col("l_returnflag"), col("l_quantity"))
        .select("l_orderkey", "l_linenumber", "z")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // C41b: bootstrap lift interval — the effect-size companion to
    // C41's z-test on the same events: purchase values, treatment =
    // even user_id. Both arms re-draw per resample with the
    // D103 Poisson-hash weights; diff-of-means CI + P(lift > 0).
    Q(
      "q_bootstrap_lift", {
        val alpha = 1.0 - 0.95
        val bkt = Sampling.hashBucketSql("(id * 10007 + r)")
        val cuts = graft.operators.Eval.poissonCuts
        val wExpr = cuts.zipWithIndex
          .map { case (c, w) => s"WHEN bkt <= $c THEN $w" }
          .mkString("CASE ", " ", s" ELSE ${cuts.size} END")
        s"""WITH e AS (
           |  SELECT user_id % 2 = 0 AS t, event_id AS id, value AS v
           |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
           |pt AS (
           |  SELECT
           |    CAST(coalesce(sum(CASE WHEN t THEN 1 END), 0) AS BIGINT) AS n_treat,
           |    CAST(coalesce(sum(CASE WHEN NOT t THEN 1 END), 0) AS BIGINT) AS n_control,
           |    round(CAST(sum(CASE WHEN t THEN CAST(round(v, 6) AS DECIMAL(18,6)) END) AS DOUBLE)
           |      / sum(CASE WHEN t THEN 1 END), 6) AS mean_treat,
           |    round(CAST(sum(CASE WHEN NOT t THEN CAST(round(v, 6) AS DECIMAL(18,6)) END) AS DOUBLE)
           |      / sum(CASE WHEN NOT t THEN 1 END), 6) AS mean_control
           |  FROM e),
           |x AS (SELECT t, id, v, unnest(range(0, 200)) AS r FROM e),
           |wt AS (
           |  SELECT t, r, v, $wExpr AS w
           |  FROM (SELECT t, id, v, r, $bkt AS bkt FROM x)),
           |d AS (
           |  SELECT r,
           |    round(CAST(sum(CASE WHEN t THEN CAST(round(v, 6) AS DECIMAL(18,6)) * w END) AS DOUBLE)
           |        / sum(CASE WHEN t THEN w END)
           |      - CAST(sum(CASE WHEN NOT t THEN CAST(round(v, 6) AS DECIMAL(18,6)) * w END) AS DOUBLE)
           |        / sum(CASE WHEN NOT t THEN w END), 6) AS d
           |  FROM wt GROUP BY 1
           |  HAVING sum(CASE WHEN t THEN w END) > 0
           |     AND sum(CASE WHEN NOT t THEN w END) > 0),
           |rk AS (
           |  SELECT r, d, row_number() OVER (ORDER BY d, r) AS rk,
           |    count(*) OVER () AS beff
           |  FROM d),
           |ci AS (
           |  SELECT
           |    max(CASE WHEN rk = greatest(1, CAST(ceil(${alpha / 2} * beff) AS BIGINT))
           |        THEN d END) AS ci_lo,
           |    max(CASE WHEN rk = CAST(ceil(${1.0 - alpha / 2} * beff) AS BIGINT)
           |        THEN d END) AS ci_hi,
           |    round(CAST(coalesce(sum(CASE WHEN d > 0 THEN 1 END), 0) AS DOUBLE)
           |      / max(beff), 4) AS p_positive,
           |    CAST(coalesce(max(beff), 0) AS BIGINT) AS n_resamples
           |  FROM rk)
           |SELECT pt.n_treat, pt.n_control, pt.mean_treat, pt.mean_control,
           |  round(pt.mean_treat - pt.mean_control, 6) AS lift,
           |  ci.ci_lo, ci.ci_hi, ci.p_positive, ci.n_resamples
           |FROM pt CROSS JOIN ci""".stripMargin
      }
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2 === 0).as("t"), col("event_id"),
          col("value"))
      graft.operators.Stats.bootstrapLift(ev, col("t"), col("event_id"),
        col("value"), b = 200, level = 0.95)
    },

    // C41: two-sample z-test (A/B readout) — unpooled Welch-style z
    // between click and view event values; one conditional-moments
    // aggregation, mirrored double derivation, 4-dp truncation.
    Q(
      "q_two_sample_z",
      s"""WITH $clickViewSumsSql,
        |d AS (SELECT *,
        |  CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
        |  sqrt(
        |    greatest(0.0, (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1)) / na +
        |    greatest(0.0, (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1)) / nb) AS se
        |  FROM m),
        |r AS (SELECT
        |  CAST(na AS BIGINT) AS n_a,
        |  CASE WHEN na > 0
        |    THEN sign(ma) * (floor(abs(ma) * 1e4) / 1e4) + 0.0 ELSE 0.0 END AS mean_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN nb > 0
        |    THEN sign(mb) * (floor(abs(mb) * 1e4) / 1e4) + 0.0 ELSE 0.0 END AS mean_b,
        |  CASE WHEN na < 2 OR nb < 2 OR se = 0.0 THEN 0.0
        |       ELSE sign(ma - mb) * (floor(abs(ma - mb) / se * 1e4) / 1e4) + 0.0 END AS z
        |  FROM d)
        |SELECT *, abs(z) > 1.96 AS significant FROM r""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.twoSampleZ(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"), groupA = "click", groupB = "view")
    },

    // C102: standardized effect sizes (Cohen's d, Hedges' g, Glass's
    // Δ) for the same click-vs-view comparison — the magnitude
    // readout next to C41's verdict; identical moment lanes, mirrored
    // ratio order.
    Q(
      "q_effect_size",
      s"""WITH $clickViewSumsSql,
        |d AS (SELECT *,
        |  CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
        |  greatest(0.0, (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1)) AS va,
        |  greatest(0.0, (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1)) AS vb
        |  FROM m),
        |e AS (SELECT *,
        |  sqrt(((CAST(na AS DOUBLE) - 1.0) * va + (CAST(nb AS DOUBLE) - 1.0) * vb)
        |    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)) AS sp,
        |  1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 9.0) AS j
        |  FROM d)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na < 2 OR nb < 2 OR sp = 0.0 THEN 0.0
        |    ELSE sign(ma - mb) * (floor(abs(ma - mb) * 1e4) / 1e4) + 0.0 END AS mean_diff,
        |  CASE WHEN na < 2 OR nb < 2 OR sp = 0.0 THEN 0.0
        |    ELSE sign((ma - mb) / sp) * (floor(abs((ma - mb) / sp) * 1e4) / 1e4) + 0.0
        |    END AS cohen_d,
        |  CASE WHEN na < 2 OR nb < 2 OR sp = 0.0 THEN 0.0
        |    ELSE sign((ma - mb) / sp * j)
        |      * (floor(abs((ma - mb) / sp * j) * 1e4) / 1e4) + 0.0 END AS hedges_g,
        |  CASE WHEN na < 2 OR nb < 2 OR sp = 0.0 OR vb = 0.0 THEN 0.0
        |    ELSE sign((ma - mb) / sqrt(vb))
        |      * (floor(abs((ma - mb) / sqrt(vb)) * 1e4) / 1e4) + 0.0 END AS glass_delta,
        |  (na < 2 OR nb < 2 OR sp = 0.0) AS degenerate
        |FROM e""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.effectSize(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"), groupA = "click", groupB = "view")
    },

    // C81: one-way ANOVA of value across all event types — the
    // k-group generalization of q_two_sample_z; per-group moments on
    // exact decimal lanes, the S²/n group terms 7-dp truncated before
    // the order-independent sum, F and eta² 4-dp floored.
    Q(
      "q_anova",
      s"""WITH v AS (SELECT event_type AS g, value FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,6))) AS s,
        |    sum(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
        |        AS DECIMAL(38,12))) AS q
        |  FROM v GROUP BY g),
         |$anovaTableSql""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.anovaOneWay(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"))
    },

    // C93: Welch's heteroscedastic ANOVA — the unequal-variance
    // omnibus next to q_anova (whose pooled variance q_brown_forsythe
    // tests): precision-weighted means on 7-dp truncated lanes,
    // F*/dof2 on fixed-order doubles, 4-dp floors.
    Q(
      "q_welch_anova",
      s"""WITH $groupMomentsSql,
        |raw AS (SELECT g, n, cst, CAST(s AS DOUBLE) / n AS xb,
        |    CASE WHEN n >= 2 THEN (CAST(q AS DOUBLE)
        |      - floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n * 1e7) / 1e7)
        |      / (n - 1) END AS s2
        |  FROM per),
        |lanes AS (SELECT g, n,
        |    CAST(sign(xb) * (floor(abs(xb) * 1e7) / 1e7) + 0.0
        |      AS DECIMAL(30,7)) AS xb,
        |    CASE WHEN NOT (n < 2 OR cst OR coalesce(s2 <= 0, TRUE))
        |      THEN CAST(sign(n / s2) * (floor(abs(n / s2) * 1e7) / 1e7) + 0.0
        |        AS DECIMAL(30,7)) END AS w,
        |    (n < 2 OR cst OR coalesce(s2 <= 0, TRUE)) AS bad
        |  FROM raw),
        |tot AS (SELECT coalesce(sum(n), 0) AS nn, CAST(count(*) AS BIGINT) AS k,
        |    coalesce(max(bad), FALSE) AS anybad, sum(w) AS bw,
        |    sum(CAST(sign(wx) * (floor(abs(wx) * 1e7) / 1e7) + 0.0
        |        AS DECIMAL(30,7))) AS m1
        |  FROM (SELECT n, bad, w, xb,
        |          CAST(w AS DOUBLE) * CAST(xb AS DOUBLE) AS wx FROM lanes)),
        |terms AS (SELECT
        |    coalesce(max(nn), 0) AS nn, coalesce(max(k), 0) AS k,
        |    coalesce(max(anybad), FALSE) AS anybad,
        |    sum(CAST(sign(a0) * (floor(abs(a0) * 1e7) / 1e7) + 0.0
        |        AS DECIMAL(30,7))) AS aa,
        |    sum(CAST(sign(b0) * (floor(abs(b0) * 1e7) / 1e7) + 0.0
        |        AS DECIMAL(30,7))) AS bb
        |  FROM (SELECT t.nn, t.k, t.anybad,
        |      CAST(l.w AS DOUBLE)
        |        * (CAST(l.xb AS DOUBLE) - CAST(t.m1 AS DOUBLE) / CAST(t.bw AS DOUBLE))
        |        * (CAST(l.xb AS DOUBLE) - CAST(t.m1 AS DOUBLE) / CAST(t.bw AS DOUBLE))
        |        AS a0,
        |      CASE WHEN l.n >= 2 THEN
        |        (1.0 - CAST(l.w AS DOUBLE) / CAST(t.bw AS DOUBLE))
        |        * (1.0 - CAST(l.w AS DOUBLE) / CAST(t.bw AS DOUBLE))
        |        / (l.n - 1) END AS b0
        |    FROM lanes l CROSS JOIN tot t))
        |SELECT CAST(nn AS BIGINT) AS n, k,
        |  CASE WHEN k < 2 OR anybad THEN 0.0
        |       ELSE floor((CAST(aa AS DOUBLE) / (CAST(k AS DOUBLE) - 1))
        |         / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2) / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)
        |           * CAST(bb AS DOUBLE)) * 1e4) / 1e4 END AS f_welch,
        |  CAST(k - 1 AS BIGINT) AS dof1,
        |  CASE WHEN k < 2 OR anybad OR CAST(bb AS DOUBLE) <= 0 THEN 0.0
        |       ELSE floor((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)
        |         / (3.0 * CAST(bb AS DOUBLE)) * 1e4) / 1e4 END AS dof2,
        |  (k < 2 OR anybad) AS degenerate
        |FROM terms""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.welchAnova(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"))
    },

    // C94: Games-Howell post-hoc — q_tukey_hsd's unequal-variance
    // sibling (pairs with q_welch_anova as Tukey pairs with q_anova):
    // per-pair own-variance SE and Welch-Satterthwaite dof, all on
    // the 7-dp truncated lanes.
    Q(
      "q_games_howell",
      s"""WITH $groupMomentsSql,
        |raw AS (SELECT g, n, cst, CAST(s AS DOUBLE) / n AS xb,
        |    CASE WHEN n >= 2 THEN (CAST(q AS DOUBLE)
        |      - floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n * 1e7) / 1e7)
        |      / (n - 1) END AS s2
        |  FROM per),
        |lanes AS (SELECT g, n,
        |    CAST(CAST(sign(xb) * (floor(abs(xb) * 1e7) / 1e7) + 0.0
        |      AS DECIMAL(30,7)) AS DOUBLE) AS xb,
        |    CAST(CASE WHEN NOT (n < 2 OR cst OR coalesce(s2 <= 0, TRUE))
        |      THEN CAST(sign(s2 / n) * (floor(abs(s2 / n) * 1e7) / 1e7) + 0.0
        |        AS DECIMAL(30,7)) END AS DOUBLE) AS vv,
        |    (n < 2 OR cst OR coalesce(s2 <= 0, TRUE)) AS bad
        |  FROM raw)
        |SELECT a.g AS grp_a, b.g AS grp_b, a.n AS n_a, b.n AS n_b,
        |  sign(a.xb - b.xb) * (floor(abs(a.xb - b.xb) * 1e4) / 1e4) + 0.0
        |    AS mean_diff,
        |  CASE WHEN a.bad OR b.bad THEN 0.0
        |       ELSE floor(abs(a.xb - b.xb) / sqrt((a.vv + b.vv) / 2.0) * 1e4) / 1e4
        |  END AS q,
        |  CASE WHEN a.bad OR b.bad THEN 0.0
        |       ELSE floor((a.vv + b.vv) * (a.vv + b.vv)
        |         / (a.vv * a.vv / (a.n - 1) + b.vv * b.vv / (b.n - 1))
        |         * 1e4) / 1e4 END AS dof,
        |  (a.bad OR b.bad) AS degenerate
        |FROM lanes a JOIN lanes b ON a.g < b.g
        |ORDER BY grp_a, grp_b""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.gamesHowell(graft.sources.Tables.events(s, dir),
          col("event_type"), col("value"))
        .orderBy("grp_a", "grp_b")
    },

    // C90: Tukey-Kramer HSD post-hoc — WHICH event-type pairs differ
    // after q_anova's omnibus F; same moments lanes, pairwise q on
    // fixed-order doubles, mean_diff 4-dp toward zero, q 4-dp floor.
    Q(
      "q_tukey_hsd",
      s"""WITH $groupMomentsSql,
        |m AS (SELECT coalesce(sum(n), 0) AS nn, CAST(count(*) AS BIGINT) AS k,
        |    sum(q) AS tq,
        |    sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n * 1e7) / 1e7
        |        AS DECIMAL(30,7))) AS w,
        |    coalesce(min(CASE WHEN cst THEN 1 ELSE 0 END) = 1, FALSE)
        |      AS allconst
        |  FROM per),
        |d AS (SELECT nn, k, allconst,
        |    greatest(0.0, CAST(tq AS DOUBLE) - CAST(w AS DOUBLE)) AS ssw
        |  FROM m),
        |pr AS (SELECT a.g AS grp_a, b.g AS grp_b, a.n AS n_a, b.n AS n_b,
        |    CAST(a.s AS DOUBLE) / a.n AS ma, CAST(b.s AS DOUBLE) / b.n AS mb
        |  FROM per a JOIN per b ON a.g < b.g)
        |SELECT grp_a, grp_b, n_a, n_b,
        |  sign(ma - mb) * (floor(abs(ma - mb) * 1e4) / 1e4) + 0.0 AS mean_diff,
        |  CASE WHEN nn <= k OR allconst OR ssw = 0.0 THEN 0.0
        |       ELSE floor(abs(ma - mb)
        |         / sqrt(ssw / (nn - k) / 2.0 * (1.0 / n_a + 1.0 / n_b))
        |         * 1e4) / 1e4 END AS q,
        |  (nn <= k OR allconst OR ssw = 0.0) AS degenerate
        |FROM pr CROSS JOIN d ORDER BY grp_a, grp_b""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.tukeyHsd(graft.sources.Tables.events(s, dir),
          col("event_type"), col("value"))
        .orderBy("grp_a", "grp_b")
    },

    // C89: Cochran-Mantel-Haenszel across event-type strata — user
    // parity vs high-value outcome controlling for the type; a−E and
    // V on 7-dp signed lanes, one double division, 4-dp floor.
    Q(
      "q_cmh",
      """WITH v AS (SELECT event_type AS k, (user_id % 2 = 0) AS e,
        |    (value > 50.0) AS o
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |per AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN e AND o THEN 1 END), 0) AS BIGINT) AS a,
        |    CAST(coalesce(sum(CASE WHEN e THEN 1 END), 0) AS BIGINT) AS r1,
        |    CAST(coalesce(sum(CASE WHEN o THEN 1 END), 0) AS BIGINT) AS c1
        |  FROM v GROUP BY 1),
        |d AS (SELECT n, a, r1, c1, CAST(n AS DOUBLE) AS nd,
        |    CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE) AS ed,
        |    CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE) * CAST(c1 AS DOUBLE)
        |      * CAST(n - c1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |      AS vd
        |  FROM per),
        |m AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 END), 0) AS BIGINT)
        |      AS n_strata,
        |    CAST(coalesce(sum(CASE WHEN n < 2 THEN 1 END), 0) AS BIGINT)
        |      AS n_excluded,
        |    CAST(coalesce(sum(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT) AS n,
        |    sum(CASE WHEN n >= 2 THEN CAST(sign(CAST(a AS DOUBLE) - ed)
        |      * (floor(abs(CAST(a AS DOUBLE) - ed) * 1e7) / 1e7)
        |      AS DECIMAL(25,7)) END) AS sae,
        |    sum(CASE WHEN n >= 2 THEN CAST(sign(vd)
        |      * (floor(abs(vd) * 1e7) / 1e7) AS DECIMAL(25,7)) END) AS sv
        |  FROM d)
        |SELECT n_strata, n_excluded, n,
        |  CASE WHEN n_strata < 1 OR CAST(sv AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor(CAST(sae AS DOUBLE) * CAST(sae AS DOUBLE)
        |      / CAST(sv AS DOUBLE) * 1e4) / 1e4 END AS cmh,
        |  (n_strata < 1 OR CAST(sv AS DOUBLE) <= 0.0) AS degenerate
        |FROM m""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.cmhTest(graft.sources.Tables.events(s, dir),
        col("event_type"), col("user_id") % 2 === 0, col("value") > 50.0)
    },

    // C82: Brown-Forsythe variance-equality test across event types —
    // ANOVA on |value − group median|; type-1 medians replay as rank
    // picks, z lanes 6-dp floored, then the q_anova moment replay.
    Q(
      "q_brown_forsythe",
      s"""WITH v AS (SELECT CAST(event_type AS VARCHAR) AS g, CAST(value AS DOUBLE) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |rk AS (SELECT g, greatest(1, CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT))
        |    AS rank_pt FROM cnt),
        |o AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x ASC) AS r
        |  FROM v),
        |md AS (SELECT o.g, min(x) AS med
        |  FROM o JOIN rk ON o.g = rk.g AND o.r = rk.rank_pt GROUP BY o.g),
        |zt AS (SELECT v.g, floor(abs(v.x - md.med) * 1e6) / 1e6 AS value
        |  FROM v JOIN md ON v.g = md.g),
        |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,6))) AS s,
        |    sum(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
        |        AS DECIMAL(38,12))) AS q
        |  FROM zt GROUP BY g),
         |$anovaTableSql""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.brownForsythe(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"))
    },

    // C83: Kruskal-Wallis rank ANOVA — does the length-score
    // distribution differ across languages? The mann_whitney derived
    // score (portable 6-dp quantization) with lang as the k-group
    // key; mid-ranks on the 2·avgrank integer lanes, tie cubes on
    // 13-digit decimals, H and the tie-corrected H' replayed exactly.
    Q(
      "q_kruskal",
      s"""WITH $langRanksSql,
         |m AS (SELECT coalesce(sum(n), 0) AS nn, CAST(count(*) AS BIGINT) AS k,
         |    sum(CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT) * 10000000
         |      // (4 * n)) AS s
         |  FROM perg),
         |ties AS (SELECT CAST(coalesce(sum(tc), 0) AS DECIMAL(38,0)) AS sumtc FROM vtc),
         |d AS (SELECT nn, k, s, sumtc,
         |    CAST(nn AS DOUBLE) AS nd,
         |    CAST(CAST(CAST(nn AS DECIMAL(13,0)) * CAST(nn AS DECIMAL(13,0))
         |      * CAST(nn AS DECIMAL(13,0)) - nn AS DECIMAL(38,0)) AS DOUBLE) AS n3n
         |  FROM m CROSS JOIN ties),
         |e AS (SELECT nn, k,
         |    greatest(0.0, 12.0 / (nd * (nd + 1.0)) * (CAST(s AS DOUBLE) / 1e7)
         |      - 3.0 * (nd + 1.0)) AS h,
         |    1.0 - CAST(sumtc AS DOUBLE) / n3n AS corr
         |  FROM d)
         |SELECT CAST(nn AS BIGINT) AS n, k,
         |  CASE WHEN k > 0 THEN k - 1 ELSE 0 END AS dof,
         |  CASE WHEN k < 2 OR nn < 2 OR corr <= 0.0 THEN 0.0
         |       ELSE floor(h * 1e4) / 1e4 END AS h,
         |  CASE WHEN k < 2 OR nn < 2 OR corr <= 0.0 THEN 0.0
         |       ELSE floor(h / corr * 1e4) / 1e4 END AS h_adj,
         |  (k < 2 OR nn < 2 OR corr <= 0.0) AS degenerate
         |FROM e""".stripMargin
    ) { (s, dir) =>
      val d = langScores(s, dir)
      graft.operators.Stats.kruskalWallis(d, col("g"), col("v"))
    },

    // C138: Dunn's post-hoc on the same per-language frame as
    // q_kruskal — WHICH language pairs differ, from the SAME pooled
    // mid-ranks (exact 2·rank integer lanes), tie-corrected pooled
    // rank variance, z 4-dp toward zero.
    Q(
      "q_dunn",
      s"""WITH $langRanksSql,
         |ties AS (SELECT CAST(coalesce(sum(tc), 0) AS DECIMAL(38,0)) AS sumtc FROM vtc),
         |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS k FROM perg),
         |s2 AS (SELECT nn, k,
         |    (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)
         |      - CAST(sumtc AS DOUBLE) / (CAST(nn AS DOUBLE) - 1.0)) / 12.0 AS s2
         |  FROM tot CROSS JOIN ties),
         |pairs AS (
         |  SELECT a.g AS g_a, b.g AS g_b, a.n AS n_a, b.n AS n_b,
         |    CAST(a.r2 AS DOUBLE) / 2.0 / CAST(a.n AS DOUBLE) AS ma,
         |    CAST(b.r2 AS DOUBLE) / 2.0 / CAST(b.n AS DOUBLE) AS mb,
         |    s2.nn, s2.k, s2.s2
         |  FROM perg a JOIN perg b ON a.g < b.g CROSS JOIN s2),
         |z AS (SELECT *,
         |    (ma - mb) / sqrt(s2 * (1.0 / CAST(n_a AS DOUBLE)
         |      + 1.0 / CAST(n_b AS DOUBLE))) AS zv,
         |    (k < 2 OR nn < 2 OR s2 <= 0.0) AS degenerate
         |  FROM pairs)
         |SELECT g_a, g_b, n_a, n_b,
         |  floor(ma * 1e4) / 1e4 AS mean_rank_a,
         |  floor(mb * 1e4) / 1e4 AS mean_rank_b,
         |  CASE WHEN degenerate THEN 0.0
         |       ELSE sign(zv) * (floor(abs(zv) * 1e4) / 1e4) + 0.0 END AS z,
         |  (NOT degenerate) AND abs(zv) > 2.394 AS significant,
         |  degenerate
         |FROM z ORDER BY g_a, g_b""".stripMargin
    ) { (s, dir) =>
      val d = langScores(s, dir)
      graft.operators.Stats.dunnTest(d, col("g"), col("v"))
    },

    // C80: order-statistic median CI per event type — rank bracket
    // replayed exactly; CI endpoints are data values (no rounding
    // needed: a rank picks the same value on any engine).
    Q(
      "q_quantile_ci",
      """WITH t AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |rk AS (SELECT g, n,
        |    greatest(1, CAST(floor(CAST(n AS DOUBLE) * 0.5
        |      - 1.96 * sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5)) AS BIGINT)) AS rank_lo,
        |    least(n, CAST(ceil(CAST(n AS DOUBLE) * 0.5
        |      + 1.96 * sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5)) AS BIGINT) + 1) AS rank_hi,
        |    greatest(1, CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT)) AS rank_pt
        |  FROM n),
        |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v ASC) AS r
        |  FROM t)
        |SELECT o.g AS grp, rk.n, CAST(0.5 AS DOUBLE) AS q,
        |  min(CASE WHEN r = rank_pt THEN v END) AS point,
        |  min(CASE WHEN r = rank_lo THEN v END) AS ci_lo,
        |  min(CASE WHEN r = rank_hi THEN v END) AS ci_hi,
        |  rk.rank_lo, rk.rank_hi
        |FROM o JOIN rk ON o.g = rk.g
        |WHERE r = rank_lo OR r = rank_hi OR r = rank_pt
        |GROUP BY o.g, rk.n, rk.rank_lo, rk.rank_hi
        |ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.quantileCI(graft.sources.Tables.events(s, dir),
          col("event_type"), col("value"))
        .orderBy("grp")
    },

    // C79: sample-ratio-mismatch gate — arms = user_id parity with a
    // planted 211-cycle 'ghost' arm the design doesn't declare, so
    // the undeclared-arm path flags. Exact oracle on the 7-dp term
    // lanes.
    Q(
      "q_srm_check",
      """WITH t AS (
        |  SELECT CASE WHEN user_id % 211 = 0 THEN 'ghost'
        |    ELSE CAST(user_id % 2 AS VARCHAR) END AS grp
        |  FROM events WHERE user_id IS NOT NULL),
        |cnt AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_obs FROM t GROUP BY 1),
        |exp0(grp, frac) AS (VALUES ('0', CAST(0.5 AS DOUBLE)), ('1', CAST(0.5 AS DOUBLE))),
        |arms AS (SELECT coalesce(e.grp, c.grp) AS grp, e.frac,
        |    coalesce(c.n_obs, 0) AS n_obs
        |  FROM exp0 e FULL OUTER JOIN cnt c ON e.grp = c.grp),
        |tot AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN frac IS NOT NULL THEN n_obs END), 0) AS BIGINT) AS N,
        |    CAST(coalesce(sum(CASE WHEN frac IS NULL THEN 1 END), 0) AS BIGINT) AS undecl
        |  FROM arms),
        |j AS (SELECT arms.grp, arms.frac, arms.n_obs, tot.N, tot.undecl,
        |    CASE WHEN frac IS NOT NULL AND N > 0 THEN
        |      (CAST(n_obs AS DOUBLE) - frac * CAST(N AS DOUBLE))
        |      * (CAST(n_obs AS DOUBLE) - frac * CAST(N AS DOUBLE))
        |      / (frac * CAST(N AS DOUBLE)) END AS term
        |  FROM arms CROSS JOIN tot),
        |chi AS (SELECT coalesce(sum(CAST(floor(term * 1e7) / 1e7 AS DECIMAL(20,7))),
        |    CAST(0 AS DECIMAL(20,7))) AS c2 FROM j)
        |SELECT grp, n_obs,
        |  floor(frac * 1e4) / 1e4 AS frac_expected,
        |  CASE WHEN frac IS NOT NULL
        |    THEN floor(frac * CAST(N AS DOUBLE) * 1e4) / 1e4 END AS n_expected,
        |  floor(term * 1e4) / 1e4 AS chi2_term,
        |  floor(CAST(c2 AS DOUBLE) * 1e4) / 1e4 AS chi2,
        |  CAST(1 AS BIGINT) AS dof,
        |  (N > 0) AND (undecl > 0 OR CAST(c2 AS DOUBLE) > 10.828) AS srm_flagged,
        |  N = 0 AS degenerate
        |FROM j CROSS JOIN chi ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      val e = graft.sources.Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .select(when(col("user_id") % 211 === 0, lit("ghost"))
          .otherwise(pmod(col("user_id"), lit(2)).cast("string")).as("arm"))
      graft.operators.Stats.srmCheck(e, col("arm"),
          Seq("0" -> 0.5, "1" -> 0.5))
        .orderBy("grp")
    },

    // C78: CUPED variance reduction — covariate = floor(value) +
    // event_id%7 (integer-valued, decimal-lane exact, strongly
    // correlated with the metric so θ and the realized reduction are
    // non-trivial). Oracle replays the moment lanes and the fixed
    // double expression chain.
    Q(
      "q_cuped",
      """WITH t AS (
        |  SELECT event_type AS g, value AS y, floor(value) + (event_id % 7) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS syy
        |  FROM t GROUP BY 1),
        |p AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sy) AS py, sum(sx) AS px,
        |    sum(sxy) AS pxy, sum(sxx) AS pxx FROM gg),
        |d AS (SELECT gg.g, gg.n, gg.sy, gg.sx, gg.sxy, gg.sxx, gg.syy,
        |    CAST(p.nn AS DOUBLE) * CAST(p.pxx AS DOUBLE)
        |      - CAST(p.px AS DOUBLE) * CAST(p.px AS DOUBLE) AS varp,
        |    CAST(p.nn AS DOUBLE) * CAST(p.pxy AS DOUBLE)
        |      - CAST(p.px AS DOUBLE) * CAST(p.py AS DOUBLE) AS covp,
        |    CAST(p.px AS DOUBLE) / CAST(p.nn AS DOUBLE) AS xbar
        |  FROM gg CROSS JOIN p),
        |e AS (SELECT *, CASE WHEN varp > 0.0 THEN covp / varp ELSE 0.0 END AS th
        |  FROM d),
        |f AS (SELECT g, n, th, varp,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mr,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |      - th * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - xbar) AS ma,
        |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vr,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cg,
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vx
        |  FROM e)
        |SELECT g AS grp, n,
        |  floor(mr * 1e4) / 1e4 AS mean_raw,
        |  floor(ma * 1e4) / 1e4 AS mean_adj,
        |  CASE WHEN n >= 2 THEN floor(vr * 1e4) / 1e4 END AS var_raw,
        |  CASE WHEN n >= 2
        |    THEN floor((vr - th * cg * 2.0 + th * th * vx) * 1e4) / 1e4
        |  END AS var_adj,
        |  CASE WHEN n >= 2 AND vr > 0.0
        |    THEN floor((1.0 - (vr - th * cg * 2.0 + th * th * vx) / vr) * 1e4) / 1e4
        |  END AS var_reduction,
        |  floor(th * 1e4) / 1e4 AS theta,
        |  varp <= 0.0 AS degenerate
        |FROM f ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      val e = graft.sources.Tables.events(s, dir).select(col("event_type"),
        col("value"),
        (floor(col("value")) + pmod(col("event_id"), lit(7))).as("x"))
      graft.operators.Stats.cuped(e, col("event_type"), col("value"), col("x"))
        .orderBy("grp")
    },

    // D58: classifier threshold sweep (PR curve) — confusion counts +
    // precision/recall/F1 of `score >= t` per candidate cut, ALL
    // thresholds in ONE aggregate scan (the attrition shape). Score =
    // capped token-length ratio, label = mentions 'data' — synthetic
    // but fully replayable; both engines round p/r at 4 dp and derive
    // F1 from the ROUNDED pair, so 0/0 lanes and ties agree exactly.
    Q(
      "q_pr_curve", {
        val ths = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
        val sums = ths.zipWithIndex.map { case (t, i) =>
          s"""    sum(CASE WHEN score >= $t AND y THEN 1 ELSE 0 END) AS tp$i,
             |    sum(CASE WHEN score >= $t AND NOT y THEN 1 ELSE 0 END) AS fp$i,
             |    sum(CASE WHEN score < $t AND y THEN 1 ELSE 0 END) AS fn$i,
             |    sum(CASE WHEN score < $t AND NOT y THEN 1 ELSE 0 END) AS tn$i""".stripMargin
        }.mkString(",\n")
        val rows = ths.zipWithIndex.map { case (t, i) =>
          s"""  SELECT CAST($t AS DOUBLE) AS threshold,
             |    CAST(tp$i AS BIGINT) AS tp, CAST(fp$i AS BIGINT) AS fp,
             |    CAST(fn$i AS BIGINT) AS fn, CAST(tn$i AS BIGINT) AS tn,
             |    CASE WHEN tp$i + fp$i = 0 THEN 0.0
             |         ELSE round(tp$i * 1.0 / (tp$i + fp$i), 4) END AS precision,
             |    CASE WHEN tp$i + fn$i = 0 THEN 0.0
             |         ELSE round(tp$i * 1.0 / (tp$i + fn$i), 4) END AS recall
             |  FROM f""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH s AS (
           |  SELECT least(1.0, len(${tkSql("text")}) / 400.0) AS score,
           |    contains(lower(text), 'data') AS y
           |  FROM documents),
           |f AS (
           |  SELECT
           |$sums
           |  FROM s),
           |st AS (
           |$rows)
           |SELECT threshold, tp, fp, fn, tn, precision, recall,
           |  CASE WHEN precision + recall = 0 THEN 0.0
           |       ELSE round(2.0 * precision * recall / (precision + recall), 4) END AS f1
           |FROM st ORDER BY threshold""".stripMargin
      }
    ) { (s, dir) =>
      val d = scoredLabels(s, dir)
      graft.operators.Stats.prCurve(d, col("score"), col("y"),
          Seq(0.1, 0.25, 0.5, 0.75, 0.9))
        .orderBy("threshold")
    },

    // D59: exact ROC AUC by the Mann-Whitney rank-sum identity over a
    // quantized-score grouped frame — NO per-row global rank window;
    // the ordered pass runs over <= 10^6+1 distinct-score rows. The
    // pair-count arithmetic stays in exact integers (decimal lanes)
    // until one final division, truncated 6 dp. Same scored frame as
    // q_pr_curve; score = k/400 quantizes losslessly at 6 dp.
    Q(
      "q_auc",
      s"""WITH sc AS (
         |  SELECT least(1.0, len(${tkSql("text")}) / 400.0) AS score,
         |    contains(lower(text), 'data') AS y
         |  FROM documents),
         |g AS (
         |  SELECT round(score, 6) AS s,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
         |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS nn
         |  FROM sc GROUP BY 1),
         |c AS (
         |  SELECT np, nn,
         |    coalesce(sum(nn) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
         |  FROM g)
         |SELECT CAST(sum(np) + sum(nn) AS BIGINT) AS n,
         |  CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN 0.5
         |       ELSE floor(CAST(sum(np * (2 * cumneg + nn)) AS DOUBLE)
         |         / (2.0 * CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)) * 1e6) / 1e6
         |  END AS auc
         |FROM c""".stripMargin
    ) { (s, dir) =>
      val d = scoredLabels(s, dir)
      graft.operators.Stats.auc(d, col("score"), col("y"))
    },

    // D60: calibration / reliability bins + ECE over the same scored
    // frame — one groupBy(bin) pass; means/rates from exact decimal
    // sums, 4-dp floor truncation both engines, ECE via a window over
    // the <= nBins-row frame.
    Q(
      "q_calibration",
      s"""WITH sc AS (
         |  SELECT least(1.0, len(${tkSql("text")}) / 400.0) AS score,
         |    contains(lower(text), 'data') AS y
         |  FROM documents),
         |g AS (
         |  SELECT CAST(greatest(0, least(9, CAST(floor(score * 10) AS INT))) AS INT) AS bin,
         |    count(*) AS n,
         |    sum(CAST(score AS DECIMAL(18,6))) AS ssum,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
         |  FROM sc GROUP BY 1),
         |w AS (
         |  SELECT bin, CAST(n AS BIGINT) AS n,
         |    floor(CAST(ssum AS DOUBLE) / n * 1e4) / 1e4 AS mean_score,
         |    floor(CAST(pos AS DOUBLE) / n * 1e4) / 1e4 AS frac_pos
         |  FROM g)
         |SELECT bin, n, mean_score, frac_pos,
         |  abs(mean_score - frac_pos) AS gap,
         |  floor(CAST(sum(CAST(abs(mean_score - frac_pos) AS DECIMAL(18,6)) * n) OVER ()
         |      AS DOUBLE)
         |    / CAST(sum(n) OVER () AS DOUBLE) * 1e4) / 1e4 AS ece
         |FROM w ORDER BY bin""".stripMargin
    ) { (s, dir) =>
      val d = scoredLabels(s, dir)
      graft.operators.Stats.calibration(d, col("score"), col("y"), nBins = 10)
    },

    // C137: Hosmer-Lemeshow on the same score/label frame as
    // q_calibration — decile edges as exact interpolated percentiles
    // of the 6-dp micro score (broadcast, never an ntile sort),
    // per-bin exact integer micro-sums, chi2_{g-2} terms 7-dp
    // truncated.
    Q(
      "q_hosmer_lemeshow", {
        val ranks = (1 until 10).map(i => i / 10.0).mkString(", ")
        val binSql = (1 to 9).map(i =>
          s"CASE WHEN CAST(s6 AS DOUBLE) > e[$i] THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH sc AS (
           |  SELECT CAST(round(least(1.0, len(${tkSql("text")}) / 400.0), 6) * 1e6
           |      AS BIGINT) AS s6,
           |    CASE WHEN contains(lower(text), 'data') THEN 1 ELSE 0 END AS y
           |  FROM documents),
           |ed AS (SELECT quantile_cont(s6, [$ranks]) AS e FROM sc),
           |pb AS (
           |  SELECT ($binSql) AS bin, s6, y
           |  FROM sc CROSS JOIN ed),
           |g AS (
           |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(y) AS BIGINT) AS o, CAST(sum(s6) AS BIGINT) AS se
           |  FROM pb GROUP BY bin),
           |t AS (
           |  SELECT bin, n, o, CAST(se AS DOUBLE) / 1e6 AS e FROM g),
           |agg AS (
           |  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS g,
           |    sum(CASE WHEN e <= 0.0 OR e >= CAST(n AS DOUBLE)
           |      THEN CAST(NULL AS DECIMAL(20,7))
           |      ELSE CAST(floor(
           |        (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
           |        / (e * (1.0 - e / CAST(n AS DOUBLE))) * 1e7) / 1e7
           |        AS DECIMAL(20,7)) END) AS hl,
           |    max(CASE WHEN e <= 0.0 OR e >= CAST(n AS DOUBLE)
           |      THEN 1 ELSE 0 END) AS anybad
           |  FROM t)
           |SELECT n, g,
           |  CASE WHEN g < 3 THEN 0 ELSE g - 2 END AS dof,
           |  CASE WHEN g < 3 OR anybad = 1 OR hl IS NULL THEN 0.0
           |       ELSE floor(greatest(0.0, CAST(hl AS DOUBLE)) * 1e4) / 1e4
           |  END AS hl_stat,
           |  (g < 3 OR anybad = 1 OR hl IS NULL) AS degenerate
           |FROM agg""".stripMargin
      }
    ) { (s, dir) =>
      val d = scoredLabels(s, dir)
      graft.operators.Stats.hosmerLemeshow(d, col("score"), col("y"),
        bins = 10)
    },

    // C72: Murphy decomposition of the Brier score over the same
    // scored frame as q_calibration — reliability/resolution/
    // uncertainty plus the empirical brier, every term truncated into
    // exact decimals before the bounded-bin rollup.
    Q(
      "q_brier",
      s"""WITH sc AS (
         |  SELECT round(least(1.0, len(${tkSql("text")}) / 400.0), 6) AS s,
         |    contains(lower(text), 'data') AS y
         |  FROM documents),
         |rows_ AS (
         |  SELECT s, y,
         |    CAST(greatest(0, least(9, CAST(floor(s * 10) AS INT))) AS INT) AS bin,
         |    CAST(floor((s - CAST(y AS INT)) * (s - CAST(y AS INT)) * 1e7) / 1e7
         |      AS DECIMAL(28,7)) AS sq
         |  FROM sc),
         |g AS (
         |  SELECT bin, count(*) AS n,
         |    sum(CAST(s AS DECIMAL(18,6))) AS ssum,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         |    sum(sq) AS sq
         |  FROM rows_ GROUP BY 1),
         |t AS (
         |  SELECT g.*, sum(n) OVER () AS nn, sum(pos) OVER () AS posall,
         |    sum(sq) OVER () AS sqall
         |  FROM g),
         |t2 AS (
         |  SELECT t.*,
         |    CAST(posall AS DOUBLE) / nn AS ybar,
         |    CAST(ssum AS DOUBLE) / n AS sk,
         |    CAST(pos AS DOUBLE) / n AS yk
         |  FROM t),
         |t3 AS (
         |  SELECT t2.*,
         |    CAST(floor((sk - yk) * (sk - yk) * n * 1e7) / 1e7
         |      AS DECIMAL(28,7)) AS rel,
         |    CAST(floor((yk - ybar) * (yk - ybar) * n * 1e7) / 1e7
         |      AS DECIMAL(28,7)) AS res
         |  FROM t2)
         |SELECT CAST(max(nn) AS BIGINT) AS n,
         |  floor(CAST(max(sqall) AS DOUBLE) / max(nn) * 1e4) / 1e4 AS brier,
         |  floor(CAST(sum(rel) AS DOUBLE) / max(nn) * 1e4) / 1e4 AS reliability,
         |  floor(CAST(sum(res) AS DOUBLE) / max(nn) * 1e4) / 1e4 AS resolution,
         |  floor(max(ybar) * (1.0 - max(ybar)) * 1e4) / 1e4 AS uncertainty
         |FROM t3""".stripMargin
    ) { (s, dir) =>
      val d = scoredLabels(s, dir)
      graft.operators.Stats.brierDecomposition(d, col("score"), col("y"),
        nBins = 10)
    },

    // C67: isotonic calibration by pool-adjacent-violators — the FIT
    // half of D60's diagnostic. Scores/labels derive from integer
    // hashes of doc_id (exact in both engines); empirical bucket rates
    // are noisy-increasing, so PAV genuinely pools. The oracle replays
    // the sequential pool-merge loop with a recursive CTE carrying the
    // pool stack as three parallel lists — one action (merge or
    // consume) per step, exact integer cross-multiply violation test,
    // the q_pack_bins recursion precedent.
    Q(
      "q_isotonic",
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, (doc_id * 37) % 101 AS si FROM documents),
        |sc AS (
        |  SELECT CAST(si AS DOUBLE) / 100.0 AS s,
        |    ((doc_id * 53 + 11) % 100) * 100 < si * 70 + 1500 AS y
        |  FROM src),
        |g AS (
        |  SELECT CAST(least(floor(s * 20), 19) AS INT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM sc GROUP BY 1),
        |arrs AS (
        |  SELECT list(bucket ORDER BY bucket) AS ib,
        |    list(n ORDER BY bucket) AS inn,
        |    list(n_pos ORDER BY bucket) AS isy
        |  FROM g),
        |pav AS (
        |  SELECT 0 AS step, ib, inn, isy,
        |    CAST([] AS INTEGER[]) AS plo, CAST([] AS BIGINT[]) AS pn,
        |    CAST([] AS BIGINT[]) AS psy, 0 AS idx
        |  FROM arrs
        |  UNION ALL
        |  SELECT step + 1, ib, inn, isy,
        |    CASE WHEN viol THEN plo[1:len(plo) - 1]
        |         ELSE list_append(plo, ib[idx + 1]) END,
        |    CASE WHEN viol THEN pn[1:len(pn) - 2] || [pn[-2] + pn[-1]]
        |         ELSE list_append(pn, inn[idx + 1]) END,
        |    CASE WHEN viol THEN psy[1:len(psy) - 2] || [psy[-2] + psy[-1]]
        |         ELSE list_append(psy, isy[idx + 1]) END,
        |    CASE WHEN viol THEN idx ELSE idx + 1 END
        |  FROM (
        |    SELECT p.*,
        |      len(p.psy) >= 2 AND p.psy[-2] * p.pn[-1] > p.psy[-1] * p.pn[-2] AS viol
        |    FROM pav p)
        |  WHERE viol OR idx < len(ib)),
        |fin AS (SELECT * FROM pav ORDER BY step DESC LIMIT 1),
        |pools0 AS (
        |  SELECT unnest(range(1, len(plo) + 1)) AS j, plo, pn, psy FROM fin),
        |pools AS (
        |  SELECT plo[j] AS pool_start, pn[j] AS pool_n, psy[j] AS pool_pos,
        |    CASE WHEN j < len(plo) THEN plo[j + 1] ELSE 2147483647 END AS nxt
        |  FROM pools0)
        |SELECT g.bucket, g.bucket / 20.0 AS score_lo, g.n, g.n_pos,
        |  p.pool_start, p.pool_n, p.pool_pos,
        |  round(CAST(p.pool_pos AS DOUBLE) / p.pool_n, 6) AS calibrated
        |FROM g JOIN pools p ON g.bucket >= p.pool_start AND g.bucket < p.nxt
        |ORDER BY g.bucket""".stripMargin
    ) { (s, dir) =>
      val si = pmod(col("doc_id") * 37, lit(101L))
      val d = table(s, dir, "documents").select(
        (si.cast("double") / 100.0).as("score"),
        (pmod(col("doc_id") * 53 + 11, lit(100L)) * 100 < si * 70 + 1500).as("y"))
      graft.operators.Stats.isotonicCalibration(d, col("score"), col("y"),
          buckets = 20)
        .orderBy("bucket")
    },

    // C71: quantile normalization of per-source n_chars distributions
    // onto src0's — pure integer rank mapping ((r−1)(n_ref−1) div
    // (n−1)), so both engines must agree exactly; the equi-rank join
    // pulls the reference value.
    Q(
      "q_quantile_norm",
      """WITH t AS (
        |  SELECT source AS group_key, doc_id AS id,
        |    CAST(n_chars AS DOUBLE) AS value
        |  FROM documents),
        |rk AS (
        |  SELECT group_key, id, value,
        |    CAST(row_number() OVER (PARTITION BY group_key
        |      ORDER BY value, id) AS BIGINT) AS r,
        |    count(*) OVER (PARTITION BY group_key) AS n
        |  FROM t),
        |ref AS (
        |  SELECT r AS ref_r, value AS normalized FROM rk
        |  WHERE group_key = 'src0'),
        |nr AS (SELECT count(*) AS nref FROM ref),
        |m AS (
        |  SELECT group_key, id, value,
        |    CASE WHEN n > 1 THEN (r - 1) * (nref - 1) // (n - 1) + 1
        |         ELSE (nref - 1) // 2 + 1 END AS ref_r
        |  FROM rk CROSS JOIN nr)
        |SELECT group_key, id, value, ref.normalized
        |FROM m JOIN ref USING (ref_r)
        |ORDER BY group_key, id""".stripMargin
    ) { (s, dir) =>
      graft.operators.Profile.quantileNormalize(
          table(s, dir, "documents"), col("source"), col("doc_id"),
          col("n_chars"), referenceGroup = "src0")
        .orderBy("group_key", "id")
    },

    // C77: Benford first-digit audit on lineitem prices — floor before
    // the long cast (Spark truncates a double→long cast, DuckDB
    // rounds; floor makes them agree), digits from the integer's
    // string form, expected shares as shared Scala literals.
    Q(
      "q_benford", {
        val exp = (1 to 9).map(d =>
          s"WHEN digit = $d THEN ${math.log10(1.0 + 1.0 / d)}")
          .mkString("CASE ", " ", " ELSE 0.0 END")
        s"""WITH v AS (
           |  SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v FROM lineitem),
           |t AS (
           |  SELECT CAST(coalesce(sum(CASE WHEN v > 0 THEN 1 END), 0) AS BIGINT) AS n_ok,
           |    CAST(coalesce(sum(CASE WHEN v IS NULL OR NOT (v > 0) THEN 1 END), 0)
           |      AS BIGINT) AS n_excluded
           |  FROM v),
           |d AS (
           |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM v WHERE v > 0 GROUP BY 1),
           |g AS (SELECT unnest(range(1, 10)) AS dg),
           |j AS (
           |  SELECT CAST(g.dg AS INT) AS digit, coalesce(d.n, 0) AS n
           |  FROM g LEFT JOIN d ON d.digit = g.dg),
           |e AS (SELECT j.digit, j.n, $exp AS pe, t.n_ok, t.n_excluded
           |      FROM j CROSS JOIN t),
           |c AS (
           |  SELECT *, CAST(floor(CASE WHEN n_ok > 0
           |    THEN (CAST(n AS DOUBLE) - pe * n_ok) * (CAST(n AS DOUBLE) - pe * n_ok)
           |      / (pe * n_ok)
           |    ELSE 0.0 END * 1e7) / 1e7 AS DECIMAL(28,7)) AS ct
           |  FROM e)
           |SELECT digit, n,
           |  CASE WHEN n_ok > 0
           |    THEN floor(CAST(n AS DOUBLE) / n_ok * 1e4) / 1e4
           |    ELSE CAST(0.0 AS DOUBLE) END AS p_observed,
           |  floor(pe * 1e4) / 1e4 AS p_expected,
           |  floor(CAST(sum(ct) OVER () AS DOUBLE) * 1e4) / 1e4 AS chi2,
           |  n_excluded
           |FROM c ORDER BY digit""".stripMargin
      }
    ) { (s, dir) =>
      graft.operators.Profile.benford(table(s, dir, "lineitem"),
          floor(col("l_extendedprice")))
        .orderBy("digit")
    },

    // C75: functional-dependency discovery over customer's candidate
    // columns — custkey determines everything (it's the key), the
    // low-cardinality pair violates both ways; all six pairs in one
    // aggregate pass (no NULLs in these columns, so the oracle's
    // plain DISTINCT equals the operator's null-safe struct wrap).
    Q(
      "q_fd_discovery", {
        val cols = Seq("c_custkey", "c_nationkey", "c_mktsegment")
        val pairs = for (a <- cols; b <- cols if a != b) yield (a, b)
        val aggs = (cols.map(c => s"count(DISTINCT $c) AS d_$c") ++
          pairs.map { case (a, b) =>
            s"count(DISTINCT ($a, $b)) AS d_${a}__$b" }).mkString(",\n    ")
        val rows = pairs.map { case (a, b) =>
          s"""SELECT '$a' AS determinant, '$b' AS dependent,
             |  CAST(d_$a AS BIGINT) AS n_det_values,
             |  CAST(d_${a}__$b AS BIGINT) AS n_pair_values,
             |  CAST(d_${a}__$b - d_$a AS BIGINT) AS n_violations,
             |  d_${a}__$b = d_$a AS holds
             |FROM m""".stripMargin }.mkString("\nUNION ALL\n")
        s"""WITH m AS (
           |  SELECT $aggs
           |  FROM customer)
           |$rows
           |ORDER BY determinant, dependent""".stripMargin
      }
    ) { (s, dir) =>
      graft.operators.Profile.functionalDependencies(
          table(s, dir, "customer"),
          Seq("c_custkey", "c_nationkey", "c_mktsegment"))
        .orderBy("determinant", "dependent")
    },

    // C74: mutual information between source and language — the
    // how-many-bits companion to C51's chi-squared yes/no; per-cell
    // and per-margin terms truncated 7 dp into exact decimal sums,
    // ln2 interpolated once.
    Q(
      "q_mutual_info", {
        val ln2 = math.log(2.0)
        s"""WITH cells AS (
           |  SELECT CAST(source AS VARCHAR) AS a, CAST(lang AS VARCHAR) AS b,
           |    count(*) AS n
           |  FROM documents GROUP BY 1, 2),
           |ra AS (SELECT a, sum(n) AS na FROM cells GROUP BY 1),
           |rb AS (SELECT b, sum(n) AS nb FROM cells GROUP BY 1),
           |tot AS (SELECT sum(n) AS nn FROM cells),
           |ha AS (
           |  SELECT sum(CAST(floor((-(CAST(na AS DOUBLE) / nn))
           |    * ln(CAST(na AS DOUBLE) / nn) / $ln2 * 1e7) / 1e7
           |    AS DECIMAL(20,7))) AS ha
           |  FROM ra CROSS JOIN tot),
           |hb AS (
           |  SELECT sum(CAST(floor((-(CAST(nb AS DOUBLE) / nn))
           |    * ln(CAST(nb AS DOUBLE) / nn) / $ln2 * 1e7) / 1e7
           |    AS DECIMAL(20,7))) AS hb
           |  FROM rb CROSS JOIN tot),
           |mi AS (
           |  SELECT sum(CAST(floor(CAST(cells.n AS DOUBLE) / nn
           |      * ln(CAST(cells.n AS DOUBLE) * nn
           |        / (CAST(na AS DOUBLE) * nb)) / $ln2 * 1e7) / 1e7
           |      AS DECIMAL(20,7))) AS mi_sum,
           |    CAST(max(nn) AS BIGINT) AS n
           |  FROM cells
           |    JOIN ra ON cells.a IS NOT DISTINCT FROM ra.a
           |    JOIN rb ON cells.b IS NOT DISTINCT FROM rb.b
           |    CROSS JOIN tot)
           |SELECT mi.n,
           |  floor(CAST(mi_sum AS DOUBLE) * 1e4) / 1e4 AS mi,
           |  floor(CAST(ha AS DOUBLE) * 1e4) / 1e4 AS h_a,
           |  floor(CAST(hb AS DOUBLE) * 1e4) / 1e4 AS h_b,
           |  CASE WHEN ha > 0 AND hb > 0 THEN
           |    floor(CAST(mi_sum AS DOUBLE)
           |      / sqrt(CAST(ha AS DOUBLE) * CAST(hb AS DOUBLE)) * 1e4) / 1e4
           |  ELSE CAST(0.0 AS DOUBLE) END AS nmi
           |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin
      }
    ) { (s, dir) =>
      graft.operators.Stats.mutualInformation(
        table(s, dir, "documents"), col("source"), col("lang"))
    },

    // C51: chi-squared independence of two categoricals — contingency
    // cells from one partial-agg pass, margins by null-safe joins over
    // the bounded cell frame, per-cell terms truncated 7 dp into exact
    // decimals (order-independent sum), chi2/Cramér's V truncated 4 dp.
    Q(
      "q_chi_squared",
      s"""WITH $contingencySql,
        |terms AS (
        |  SELECT floor(
        |    (CAST(cells.n AS DOUBLE)
        |       - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE))
        |    * (CAST(cells.n AS DOUBLE)
        |       - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE))
        |    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE))
        |    * 1e7) / 1e7 AS t7
        |  FROM cells JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN t),
        |x AS (SELECT sum(CAST(t7 AS DECIMAL(20,7))) AS chi2 FROM terms)
        |SELECT CAST(tot AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        |  CASE WHEN (r - 1) * (c - 1) = 0 OR chi2 IS NULL THEN 0.0
        |       ELSE floor(CAST(chi2 AS DOUBLE) * 1e4) / 1e4 END AS chi2,
        |  CASE WHEN (r - 1) * (c - 1) = 0 OR chi2 IS NULL THEN 0.0
        |       ELSE floor(sqrt(CAST(chi2 AS DOUBLE)
        |         / (CAST(tot AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))) * 1e4) / 1e4
        |  END AS cramers_v
        |FROM t CROSS JOIN nr CROSS JOIN nc CROSS JOIN x""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.chiSquared(
        table(s, dir, "lineitem"), col("l_returnflag"), col("l_linestatus"))
    },

    // C134: G-test (log-likelihood ratio) of independence on the same
    // contingency table as q_chi_squared — additive over nested
    // partitions where chi2 is only approximately. Per-cell o·ln(o/e)
    // 7-dp truncated into exact decimals; ln() on fixed-order doubles
    // of exact longs (the bartlett discipline).
    Q(
      "q_g_test",
      s"""WITH $contingencySql,
        |terms AS (
        |  SELECT CASE WHEN cells.n > 0 THEN
        |    CAST(floor(CAST(cells.n AS DOUBLE)
        |      * ln(CAST(cells.n AS DOUBLE)
        |        / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE)))
        |      * 1e7) / 1e7 AS DECIMAL(20,7))
        |    ELSE CAST(0 AS DECIMAL(20,7)) END AS t7
        |  FROM cells JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN t),
        |x AS (SELECT sum(t7) AS g2 FROM terms)
        |SELECT CAST(tot AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        |  CASE WHEN (r - 1) * (c - 1) = 0 OR g2 IS NULL THEN 0.0
        |       ELSE floor(greatest(0.0, CAST(g2 AS DOUBLE) * 2.0) * 1e4) / 1e4
        |  END AS g_stat,
        |  ((r - 1) * (c - 1) = 0 OR g2 IS NULL) AS degenerate
        |FROM t CROSS JOIN nr CROSS JOIN nc CROSS JOIN x""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.gTest(
        table(s, dir, "lineitem"), col("l_returnflag"), col("l_linestatus"))
    },

    // C135: Mood's median test — per-event-type values against the
    // POOLED 6-dp-micro median ((a+b)/2 of integers, exactly
    // representable both engines); chi2 over the 2xk table.
    Q(
      "q_mood_median",
      """WITH t AS (
        |  SELECT event_type AS g,
        |    CAST(round(CAST(value AS DOUBLE), 6) * 1e6 AS BIGINT) AS v6
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |med AS (SELECT quantile_cont(v6, 0.5) AS m6 FROM t),
        |perg AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN CAST(v6 AS DOUBLE) > m6 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ab
        |  FROM t CROSS JOIN med GROUP BY g),
        |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nn,
        |    CAST(coalesce(sum(ab), 0) AS BIGINT) AS a,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM perg),
        |terms AS (
        |  SELECT CAST(floor((
        |      coalesce(
        |        (CAST(ab AS DOUBLE) - CAST(n AS DOUBLE) * CAST(a AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(ab AS DOUBLE) - CAST(n AS DOUBLE) * CAST(a AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / nullif(CAST(n AS DOUBLE) * CAST(a AS DOUBLE) / CAST(nn AS DOUBLE), 0.0), 0.0)
        |    + coalesce(
        |        (CAST(n - ab AS DOUBLE) - CAST(n AS DOUBLE) * CAST(nn - a AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(n - ab AS DOUBLE) - CAST(n AS DOUBLE) * CAST(nn - a AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / nullif(CAST(n AS DOUBLE) * CAST(nn - a AS DOUBLE) / CAST(nn AS DOUBLE), 0.0), 0.0)
        |    ) * 1e7) / 1e7 AS DECIMAL(20,7)) AS t7
        |  FROM perg CROSS JOIN tot),
        |x AS (SELECT sum(t7) AS chi2 FROM terms)
        |SELECT nn AS n, k,
        |  CASE WHEN k > 0 THEN k - 1 ELSE 0 END AS dof,
        |  CASE WHEN k < 2 OR a = 0 OR a = nn OR chi2 IS NULL THEN 0.0
        |       ELSE floor(greatest(0.0, CAST(chi2 AS DOUBLE)) * 1e4) / 1e4
        |  END AS chi2,
        |  a AS n_above_total,
        |  (k < 2 OR a = 0 OR a = nn OR chi2 IS NULL) AS degenerate
        |FROM tot CROSS JOIN x""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.moodMedian(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"))
    },

    // C103: Cochran-Armitage trend — does return rate trend with line
    // number (the ordered exposure C51 would waste)? All moments exact
    // longs from one partial-agg pass, one double z.
    Q(
      "q_cochran_armitage",
      """WITH g AS (
        |  SELECT CAST(l_linenumber AS BIGINT) AS w,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(r) AS BIGINT) AS rr,
        |    CAST(sum(w * r) AS BIGINT) AS t,
        |    CAST(sum(w * n) AS BIGINT) AS w1,
        |    CAST(sum(w * w * n) AS BIGINT) AS w2
        |  FROM g),
        |d AS (
        |  SELECT *,
        |    CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE) AS pbar,
        |    CAST(t AS DOUBLE) - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)
        |      * CAST(w1 AS DOUBLE) AS num,
        |    (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (CAST(w2 AS DOUBLE)
        |         - CAST(w1 AS DOUBLE) * CAST(w1 AS DOUBLE) / CAST(nn AS DOUBLE))
        |      AS vart
        |  FROM m),
        |r AS (
        |  SELECT nn AS n, k AS n_groups, rr AS successes,
        |    (nn = 0 OR rr = 0 OR rr = nn OR vart <= 0.0) AS degenerate,
        |    CASE WHEN nn = 0 OR rr = 0 OR rr = nn OR vart <= 0.0 THEN 0.0
        |      ELSE sign(num / sqrt(vart))
        |        * (floor(abs(num / sqrt(vart)) * 1e4) / 1e4) + 0.0 END AS z
        |  FROM d)
        |SELECT n, n_groups, successes, z,
        |  (NOT degenerate AND abs(z) > 1.96) AS significant, degenerate
        |FROM r""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.cochranArmitage(table(s, dir, "lineitem"),
        col("l_linenumber"), col("l_returnflag") === "R")
    },

    // C106: Wald-Wolfowitz runs test — do "busy hours" (count >= 3)
    // clump per event type? One keyed lag window counts runs; exact
    // integer moments, one fixed-order double z.
    Q(
      "q_runs_test",
      """WITH b AS (
        |  SELECT event_type AS key,
        |    (epoch_ns(ts) // 3600000000000) * 3600 AS x,
        |    (count(*) >= 3) AS f
        |  FROM events GROUP BY 1, 2),
        |mk AS (
        |  SELECT key, f,
        |    CASE WHEN lag(f) OVER (PARTITION BY key ORDER BY x) IS NULL
        |      OR lag(f) OVER (PARTITION BY key ORDER BY x) <> f
        |      THEN 1 ELSE 0 END AS nw
        |  FROM b),
        |m AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |    CAST(sum(nw) AS BIGINT) AS runs
        |  FROM mk GROUP BY 1),
        |d AS (
        |  SELECT *,
        |    2.0 * CAST(n_true AS DOUBLE) * CAST(n - n_true AS DOUBLE) AS two,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM m),
        |e AS (
        |  SELECT key, n, n_true, runs,
        |    two / nd + 1.0 AS mu,
        |    two * (two - nd) / (nd * nd * (nd - 1.0)) AS var_r
        |  FROM d),
        |r AS (
        |  SELECT key, n, n_true, runs,
        |    (n < 2 OR n_true = 0 OR n_true = n
        |      OR coalesce(var_r, 0.0) <= 0.0) AS degenerate,
        |    CASE WHEN n < 2 OR n_true = 0 OR n_true = n
        |        OR coalesce(var_r, 0.0) <= 0.0 THEN 0.0
        |      ELSE sign((CAST(runs AS DOUBLE) - mu) / sqrt(var_r))
        |        * (floor(abs((CAST(runs AS DOUBLE) - mu) / sqrt(var_r)) * 1e4) / 1e4)
        |        + 0.0 END AS z
        |  FROM e)
        |SELECT key, n, n_true, runs, z,
        |  (NOT degenerate AND abs(z) > 1.96) AS significant, degenerate
        |FROM r ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val buckets = graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"),
          (expr("ts_ns div 3600000000000") * 3600).as("bucket_s"))
        .agg((count(lit(1)) >= 3).as("busy"))
      graft.operators.Stats.runsTest(buckets, col("event_type"),
          col("bucket_s"), col("busy"))
        .orderBy("key")
    },

    // C104: partial correlation — quantity vs extended price with the
    // discount lane partialled out; nine exact decimal sums, raw-r
    // formula in one fixed double order, 4-dp toward zero on report.
    Q(
      "q_partial_corr",
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(l_discount AS DECIMAL(19,6))) AS sz,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS syy,
        |    sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS szz,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS sxz,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS syz
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |d AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
        |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
        |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |           * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz,
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS vx,
        |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vy,
        |    (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) AS vz
        |  FROM m),
        |e AS (
        |  SELECT *, (1.0 - rxz * rxz) * (1.0 - ryz * ryz) AS denom,
        |    (n < 3 OR vx <= 0.0 OR vy <= 0.0 OR vz <= 0.0
        |      OR (1.0 - rxz * rxz) * (1.0 - ryz * ryz) <= 0.0) AS degenerate
        |  FROM d)
        |SELECT n,
        |  CASE WHEN degenerate THEN 0.0
        |    ELSE sign(rxy) * (floor(abs(rxy) * 1e4) / 1e4) + 0.0 END AS r_xy,
        |  CASE WHEN degenerate THEN 0.0
        |    ELSE sign(rxz) * (floor(abs(rxz) * 1e4) / 1e4) + 0.0 END AS r_xz,
        |  CASE WHEN degenerate THEN 0.0
        |    ELSE sign(ryz) * (floor(abs(ryz) * 1e4) / 1e4) + 0.0 END AS r_yz,
        |  CASE WHEN degenerate THEN 0.0
        |    ELSE sign((rxy - rxz * ryz) / sqrt(denom))
        |      * (floor(abs((rxy - rxz * ryz) / sqrt(denom)) * 1e4) / 1e4) + 0.0
        |    END AS partial_r,
        |  degenerate
        |FROM e""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.partialCorrelation(table(s, dir, "lineitem"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    },

    // C105: Jonckheere-Terpstra ordered-alternative test per return
    // flag — does the (5000-bucketed) price trend with line number?
    // S replays on the cnt-weighted cell frame (7 groups × ≤22 value
    // buckets per key — bounded), tie moments declaratively, the
    // three variance terms in the same double order as the kernel.
    Q(
      "q_jonckheere",
      """WITH t AS (
        |  SELECT l_returnflag AS key, CAST(l_linenumber AS DOUBLE) AS x,
        |    CAST(floor(l_extendedprice / 5000.0) AS DOUBLE) AS v
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linenumber IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |c AS (SELECT key, x, v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t GROUP BY 1, 2, 3),
        |nn AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
        |sv AS (
        |  SELECT a.key,
        |    CAST(coalesce(sum(CASE
        |      WHEN (b.x - a.x) * (b.v - a.v) > 0 THEN a.cnt * b.cnt
        |      WHEN (b.x - a.x) * (b.v - a.v) < 0 THEN -(a.cnt * b.cnt)
        |      ELSE 0 END), 0) AS BIGINT) AS s
        |  FROM c a JOIN c b
        |    ON a.key = b.key AND (a.x < b.x OR (a.x = b.x AND a.v < b.v))
        |  GROUP BY 1),
        |tx AS (
        |  SELECT key, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS x25,
        |    CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS x12,
        |    CAST(sum(t * (t - 1)) AS BIGINT) AS x1
        |  FROM (SELECT key, x, sum(cnt) AS t FROM c GROUP BY 1, 2) GROUP BY 1),
        |ty AS (
        |  SELECT key, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS y25,
        |    CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS y12,
        |    CAST(sum(t * (t - 1)) AS BIGINT) AS y1
        |  FROM (SELECT key, v, sum(cnt) AS t FROM c GROUP BY 1, 2) GROUP BY 1),
        |d AS (
        |  SELECT nn.key, nn.n, coalesce(sv.s, 0) AS s,
        |    (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)
        |       * (CAST(nn.n AS DOUBLE) * 2.0 + 5.0)
        |     - CAST(coalesce(x25, 0) AS DOUBLE)
        |     - CAST(coalesce(y25, 0) AS DOUBLE)) / 18.0
        |    + CASE WHEN nn.n < 3 THEN 0.0
        |      ELSE CAST(coalesce(x12, 0) AS DOUBLE) * CAST(coalesce(y12, 0) AS DOUBLE)
        |        / (9.0 * CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)
        |           * (CAST(nn.n AS DOUBLE) - 2.0)) END
        |    + CAST(coalesce(x1, 0) AS DOUBLE) * CAST(coalesce(y1, 0) AS DOUBLE)
        |      / (2.0 * CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)) AS var_s
        |  FROM nn LEFT JOIN sv ON sv.key = nn.key
        |          LEFT JOIN tx ON tx.key = nn.key
        |          LEFT JOIN ty ON ty.key = nn.key),
        |r AS (
        |  SELECT key, n, s, (n < 2 OR var_s <= 0.0) AS degenerate,
        |    CASE WHEN n < 2 OR var_s <= 0.0 THEN 0.0
        |      ELSE sign(CAST(s AS DOUBLE) / sqrt(var_s))
        |        * (floor(abs(CAST(s AS DOUBLE) / sqrt(var_s)) * 1e4) / 1e4) + 0.0
        |      END AS z
        |  FROM d)
        |SELECT key, n, s, z, (NOT degenerate AND abs(z) > 1.96) AS significant,
        |  degenerate
        |FROM r ORDER BY key""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.jonckheereTerpstra(table(s, dir, "lineitem"),
          col("l_returnflag"), col("l_linenumber"),
          floor(col("l_extendedprice") / 5000.0))
        .orderBy("key")
    },

    // C52: two-sample Kolmogorov-Smirnov — D as an exact-integer
    // supremum over the grouped distinct-value frame (quantized 4 dp;
    // prices are 2 dp so quantization is lossless), one division at
    // the end. Open vs finished orders on o_totalprice.
    Q(
      "q_ks_test",
      s"""WITH $openFinishedPricesSql,
        |c AS (
        |  SELECT
        |    sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM g),
        |t AS (SELECT coalesce(sum(na), 0) AS ta, coalesce(sum(nb), 0) AS tb FROM g),
        |s AS (SELECT max(abs(ca * tb - cb * ta)) AS sup FROM c CROSS JOIN t)
        |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |  CASE WHEN ta = 0 OR tb = 0 OR sup IS NULL THEN 0.0
        |       ELSE floor(CAST(sup AS DOUBLE)
        |         / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) * 1e6) / 1e6 END AS d,
        |  CASE WHEN ta = 0 OR tb = 0 OR sup IS NULL THEN 0.0
        |       ELSE floor(1.358 * sqrt((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
        |         / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))) * 1e6) / 1e6 END AS d_crit,
        |  (CASE WHEN ta = 0 OR tb = 0 OR sup IS NULL THEN 0.0
        |        ELSE floor(CAST(sup AS DOUBLE)
        |          / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) * 1e6) / 1e6 END)
        |  > (CASE WHEN ta = 0 OR tb = 0 OR sup IS NULL THEN 0.0
        |          ELSE floor(1.358 * sqrt((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
        |            / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))) * 1e6) / 1e6 END)
        |  AND (CASE WHEN ta = 0 OR tb = 0 OR sup IS NULL THEN 0.0
        |            ELSE floor(1.358 * sqrt((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
        |              / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))) * 1e6) / 1e6 END) > 0
        |  AS significant
        |FROM t CROSS JOIN s""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.ksTest(
        table(s, dir, "orders"), col("o_orderstatus"), col("o_totalprice"),
        groupA = "O", groupB = "F")
    },

    // C136: two-sample Cramér-von Mises on the same O-vs-F totalprice
    // split as q_ks_test — the integrated-gap companion to KS's
    // supremum. Exact integer CDF gaps, per-value terms 9-dp
    // truncated into exact decimals.
    Q(
      "q_cvm",
      s"""WITH $openFinishedPricesSql,
        |c AS (
        |  SELECT na, nb,
        |    sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM g),
        |t AS (SELECT coalesce(sum(na), 0) AS ta, coalesce(sum(nb), 0) AS tb FROM g),
        |terms AS (
        |  SELECT CAST(floor(
        |    CAST(na + nb AS DOUBLE)
        |    * (CAST(abs(CAST(ca AS DECIMAL(19,0)) * tb
        |         - CAST(cb AS DECIMAL(19,0)) * ta) AS DOUBLE)
        |       / CAST(ta AS DOUBLE) / CAST(tb AS DOUBLE))
        |    * (CAST(abs(CAST(ca AS DECIMAL(19,0)) * tb
        |         - CAST(cb AS DECIMAL(19,0)) * ta) AS DOUBLE)
        |       / CAST(ta AS DOUBLE) / CAST(tb AS DOUBLE))
        |    * 1e9) / 1e9 AS DECIMAL(28,9)) AS t9
        |  FROM c CROSS JOIN t),
        |s AS (SELECT sum(t9) AS sm FROM terms)
        |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |  CASE WHEN ta = 0 OR tb = 0 OR sm IS NULL THEN 0.0
        |       ELSE floor(CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |         / ((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
        |            * (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)))
        |         * CAST(sm AS DOUBLE) * 1e4) / 1e4 END AS t_stat,
        |  (ta > 0 AND tb > 0 AND sm IS NOT NULL AND
        |   CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |     / ((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
        |        * (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)))
        |     * CAST(sm AS DOUBLE) > 0.461) AS significant,
        |  (ta = 0 OR tb = 0 OR sm IS NULL) AS degenerate
        |FROM t CROSS JOIN s""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.cramerVonMises(
        table(s, dir, "orders"), col("o_orderstatus"), col("o_totalprice"),
        groupA = "O", groupB = "F")
    },

    // C36: declarative data-quality gate — six constraint families
    // over lineitem/orders in one report; row-predicate checks share
    // one aggregation pass (PlanSpec pins it).
    Q(
      "q_quality_checks",
      """WITH rc AS (
        |  SELECT 'not_null(l_orderkey)' AS c,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v,
        |    0 AS o
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_quantity, 1.0, 50.0)',
        |    CAST(sum(CASE WHEN l_quantity IS NOT NULL
        |          AND (l_quantity < 1.0 OR l_quantity > 50.0)
        |        THEN 1 ELSE 0 END) AS BIGINT), 1
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'accepted_values(l_returnflag)',
        |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL
        |          AND l_returnflag NOT IN ('A', 'N', 'R')
        |        THEN 1 ELSE 0 END) AS BIGINT), 2
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'violates(discount_gt_tax)',
        |    CAST(sum(CASE WHEN l_discount > l_tax THEN 1 ELSE 0 END) AS BIGINT), 3
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)',
        |    CAST(coalesce(sum(n - 1), 0) AS BIGINT), 4
        |  FROM (SELECT count(*) AS n FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'foreign_key(l_orderkey)', CAST(count(*) AS BIGINT), 5
        |  FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        |  ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT c AS "check", v AS n_violations, v = 0 AS passed
        |FROM rc ORDER BY o""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Quality
      import graft.operators.Quality._
      Quality.report(table(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1.0, 50.0),
        AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        Violates("discount_gt_tax", col("l_discount") > col("l_tax")),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey("l_orderkey", table(s, dir, "orders"), "o_orderkey")))
    },

    // C35: mergeable HLL distinct sketches — per-shard sketch build,
    // corpus-wide union WITHOUT re-reading shards. Sketch estimates
    // are engine-specific, so the portable output is the
    // bounded-verdict shape: exact counts plus a within-envelope
    // boolean each engine computes from ITS OWN merged estimate. The
    // envelope is 5× the configured rsd (lgK=12 → rsd 1.625%, 3σ
    // 4.9%) with an absolute floor of 3 for tiny groups (DuckDB's HLL
    // has no exact sparse mode and is ±1 even on 25-distinct groups).
    // ProfileSpec still proves shard-merged == whole-corpus and
    // bounds the raw error.
    Q(
      "q_distinct_sketch",
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
        |  abs(CAST(approx_count_distinct(text) AS DOUBLE)
        |      - count(DISTINCT text))
        |    <= greatest(0.05 * count(DISTINCT text), 3.0) AS within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      // per-(source, shard) sketches of content fingerprints — the
      // frame a real pipeline persists — then merged per source and
      // judged against the exact distinct count
      val docs = table(s, dir, "documents")
      val perShard = docs
        .withColumn("shard", col("doc_id") % 4)
        .groupBy(col("source"), col("shard"))
        .agg(hll_sketch_agg(md5(col("text")), lit(12)).as("sketch"))
      val merged = Profile.mergeSketches(perShard, col("source"), col("sketch"))
        .withColumnRenamed("grp", "source")
      val exact = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("exact_distinct"))
      exact.join(merged, Seq("source"))
        .select(col("source"), col("n_docs"), col("exact_distinct"),
          (abs(col("approx_distinct").cast("double") - col("exact_distinct"))
            <= greatest(lit(0.05) * col("exact_distinct"), lit(3.0)))
            .as("within_bound"))
        .orderBy("source")
    },

    // C58: mergeable KLL quantile sketches — per-(source, shard)
    // sketches of document length, merged per source into p50/p90/p99.
    // Estimates are engine-specific (KLL compaction here, t-digest in
    // DuckDB), so the portable output is the bounded-verdict shape:
    // the exact absorbed count plus per-rank booleans checking each
    // engine's OWN estimate against the exact p(q±0.05) value window —
    // 3× KLL k=200's published ~1.65% rank error (p99's upper clamp is
    // the max). ProfileSpec still pins sub-k exactness and the raw
    // rank-error envelope.
    Q(
      "q_quantile_sketch",
      """SELECT source,
        |  CAST(count(n_chars) AS BIGINT) AS n,
        |  CAST(approx_quantile(n_chars, 0.5) AS DOUBLE)
        |    BETWEEN CAST(quantile_cont(n_chars, 0.45) AS DOUBLE)
        |        AND CAST(quantile_cont(n_chars, 0.55) AS DOUBLE)
        |    AS p50_within,
        |  CAST(approx_quantile(n_chars, 0.9) AS DOUBLE)
        |    BETWEEN CAST(quantile_cont(n_chars, 0.85) AS DOUBLE)
        |        AND CAST(quantile_cont(n_chars, 0.95) AS DOUBLE)
        |    AS p90_within,
        |  CAST(approx_quantile(n_chars, 0.99) AS DOUBLE)
        |    BETWEEN CAST(quantile_cont(n_chars, 0.94) AS DOUBLE)
        |        AND CAST(max(n_chars) AS DOUBLE)
        |    AS p99_within
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val perShard = docs
        .withColumn("shard", col("doc_id") % 4)
        .groupBy(col("source"), col("shard"))
        .agg(graft.functions.KllQuantileSketch.kllSketch(col("n_chars")).as("sketch"))
      val est = Profile.quantileMerge(perShard, col("source"), col("sketch"))
        .withColumnRenamed("grp", "source")
      val exact = docs.groupBy("source").agg(
        expr("percentile(n_chars, 0.45)").as("__l50"),
        expr("percentile(n_chars, 0.55)").as("__h50"),
        expr("percentile(n_chars, 0.85)").as("__l90"),
        expr("percentile(n_chars, 0.95)").as("__h90"),
        expr("percentile(n_chars, 0.94)").as("__l99"),
        max(col("n_chars")).cast("double").as("__h99"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("n"),
          (col("p50") >= col("__l50") && col("p50") <= col("__h50")).as("p50_within"),
          (col("p90") >= col("__l90") && col("p90") <= col("__h90")).as("p90_within"),
          (col("p99") >= col("__l99") && col("p99") <= col("__h99")).as("p99_within"))
        .orderBy("source")
    },

    // C55: per-key OLS trend fit — slope/intercept/R² of hourly event
    // volume per event_type from one exact-decimal moments pass; both
    // engines replay the identical double derivation order.
    Q(
      "q_trend_fit", {
        def d(c: String) = s"CAST($c AS DOUBLE)"
        val varX = s"(${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")})"
        val varY = s"(${d("n")} * ${d("syy")} - ${d("sy")} * ${d("sy")})"
        val cov = s"(${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")})"
        val slope = s"($cov / $varX)"
        val icept = s"((${d("sy")} - $slope * ${d("sx")}) / ${d("n")})"
        val r2 = s"least(1.0, greatest(0.0, $cov * $cov / ($varX * $varY)))"
        val degen = s"n < 2 OR $varX = 0.0"
        s"""WITH b AS (
           |  SELECT event_type AS key,
           |    epoch_ns(ts) // 3600000000000 AS x,
           |    CAST(count(*) AS DOUBLE) AS y
           |  FROM events GROUP BY 1, 2),
           |m AS (
           |  SELECT key, count(*) AS n,
           |    sum(CAST(x AS DECIMAL(38,6))) AS sx,
           |    sum(CAST(y AS DECIMAL(38,6))) AS sy,
           |    sum(CAST(x AS DECIMAL(38,6)) * CAST(y AS DECIMAL(38,6))) AS sxy,
           |    sum(CAST(x AS DECIMAL(38,6)) * CAST(x AS DECIMAL(38,6))) AS sxx,
           |    sum(CAST(y AS DECIMAL(38,6)) * CAST(y AS DECIMAL(38,6))) AS syy
           |  FROM b GROUP BY 1)
           |SELECT key, CAST(n AS BIGINT) AS n,
           |  CASE WHEN $degen THEN 0.0 ELSE ${truncZeroSql(slope, 6)} END AS slope,
           |  CASE WHEN $degen THEN 0.0 ELSE ${truncZeroSql(icept, 6)} END AS intercept,
           |  CASE WHEN $degen THEN 0.0
           |       WHEN $varY = 0.0 THEN 0.0
           |       ELSE floor($r2 * 1e4) / 1e4 END AS r2
           |FROM m ORDER BY key""".stripMargin
      }
    ) { (s, dir) =>
      val b = graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type").as("key"),
          expr("ts_ns div 3600000000000").as("x"))
        .agg(count(lit(1)).cast("double").as("y"))
      graft.operators.Stats.trendFit(b, col("key"), col("x"), col("y"))
        .orderBy("key")
    },

    // C54: classical seasonal decomposition — hourly event counts per
    // event_type, period 25 (odd, ~daily smoothing): trend = centered
    // 25-point MA (full windows only), seasonal = centered per-phase
    // mean of the detrended series, residual = the rest. All three
    // replay from exact decimal sums + floor truncation.
    Q(
      "q_seasonal",
      s"""WITH $hourlyCountsSql,
         |$seasonalDecomposeSql
        |SELECT key, CAST(bucket AS BIGINT) AS bucket, value, trend, seasonal,
        |  CASE WHEN trend IS NOT NULL THEN
        |    sign(value - trend - seasonal)
        |      * (floor(abs(value - trend - seasonal) * 1e4) / 1e4) + 0.0 END AS residual
        |FROM o ORDER BY key, bucket""".stripMargin
    ) { (s, dir) =>
      val b = hourlyCounts(s, dir)
      graft.operators.Stats.seasonalDecompose(
          b, col("key"), col("bucket"), col("value"), period = 25)
        .orderBy("key", "bucket")
    },

    // C100: Wang-Hyndman trend/seasonal strength over the same
    // period-25 decomposition — the one-number "is it seasonal"
    // readout; exact 1e4 integer lanes on the decompose grid, one
    // double ratio each.
    Q(
      "q_seasonal_strength",
      s"""WITH $hourlyCountsSql,
         |$seasonalDecomposeSql,
        |dec AS (
        |  SELECT key, trend, seasonal,
        |    CASE WHEN trend IS NOT NULL THEN
        |      sign(value - trend - seasonal)
        |        * (floor(abs(value - trend - seasonal) * 1e4) / 1e4) + 0.0 END AS residual
        |  FROM o),
        |lanes AS (
        |  SELECT key,
        |    CAST(round(residual * 1e4) AS BIGINT) AS r,
        |    CAST(round((trend + residual) * 1e4) AS BIGINT) AS trl,
        |    CAST(round((seasonal + residual) * 1e4) AS BIGINT) AS srl
        |  FROM dec WHERE residual IS NOT NULL),
        |m AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(r AS DECIMAL(19,0))) AS r1,
        |    sum(CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0))) AS r2,
        |    sum(CAST(trl AS DECIMAL(19,0))) AS t1,
        |    sum(CAST(trl AS DECIMAL(19,0)) * CAST(trl AS DECIMAL(19,0))) AS t2,
        |    sum(CAST(srl AS DECIMAL(19,0))) AS s1,
        |    sum(CAST(srl AS DECIMAL(19,0)) * CAST(srl AS DECIMAL(19,0))) AS s2
        |  FROM lanes GROUP BY 1)
        |SELECT key, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(t2 AS DOUBLE)
        |      - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor(greatest(0.0, 1.0
        |      - (CAST(n AS DOUBLE) * CAST(r2 AS DOUBLE)
        |         - CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(t2 AS DOUBLE)
        |         - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))) * 1e4) / 1e4
        |  END AS f_trend,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor(greatest(0.0, 1.0
        |      - (CAST(n AS DOUBLE) * CAST(r2 AS DOUBLE)
        |         - CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) * 1e4) / 1e4
        |  END AS f_seasonal,
        |  (CAST(n AS DOUBLE) * CAST(t2 AS DOUBLE)
        |     - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) <= 0.0
        |   OR CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) <= 0.0) AS degenerate
        |FROM m ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val b = hourlyCounts(s, dir)
      graft.operators.Stats.decompositionStrength(
          b, col("key"), col("bucket"), col("value"), period = 25)
        .orderBy("key")
    },

    // C53: Count-Min frequency sketch — build over corpus tokens (one
    // pass), point-query the exact top-20 heavy terms through the
    // sketch, report exact vs estimate side by side. EXACT oracle
    // since r10: the cell hash is xxhash64(term, depth) — the string
    // replay chained through the variable-seed hashInt stage — and
    // bucket = unsigned % 2048 (== Spark's signed pmod because
    // 2^64 ≡ 0 mod 2048); cells are plain counts, the estimate a min
    // over the term's 4 cells. Mergeability/no-undercount bounds stay
    // in ProfileSpec.
    Q("q_cms_heavy",
      s"""WITH RECURSIVE
         |tok AS (
         |  SELECT unnest(${tkSql("text")}) AS term
         |  FROM documents),
         |tcnt AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM tok GROUP BY term),
         |shd AS (SELECT DISTINCT term AS s FROM tok),
         |${XxSql.xxh64Ctes("shd")},
         |hu AS (SELECT s, CASE WHEN h < 0 THEN h::HUGEINT + 18446744073709551616
         |                      ELSE h::HUGEINT END AS h FROM hsx),
         |hd0 AS (SELECT s, d, h FROM hu CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d)),
         |${XxSql.hashIntVarCtes("ci", "hd0", "d", Seq("s", "d"), "cih")},
         |bkt AS (SELECT s, d, (h % 2048)::INT AS b FROM cih),
         |cells AS (SELECT d, b, sum(exact_cnt)::BIGINT AS cnt
         |          FROM bkt JOIN tcnt ON tcnt.term = bkt.s GROUP BY d, b),
         |top AS (SELECT term, exact_cnt FROM tcnt
         |        ORDER BY exact_cnt DESC, term ASC LIMIT 20)
         |SELECT t.term, t.exact_cnt, min(c.cnt) AS cms_est
         |FROM top t
         |JOIN bkt ON bkt.s = t.term
         |JOIN cells c ON c.d = bkt.d AND c.b = bkt.b
         |GROUP BY t.term, t.exact_cnt
         |ORDER BY exact_cnt DESC, term ASC""".stripMargin) { (s, dir) =>
      val toks = table(s, dir, "documents")
        .select(explode(graft.functions.tokens(col("text"))).as("term"))
      val sketch = Profile.countMinSketch(toks, col("term"), width = 2048, depth = 4)
      val top = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term").asc).limit(20)
      Profile.cmsEstimate(top, col("term"), sketch, width = 2048, depth = 4)
        .join(top, Seq("term"))
        .select(col("term"), col("exact_cnt"), col("cms_est"))
        .orderBy(col("exact_cnt").desc, col("term").asc)
    },

    // C34: per-group boxplot — exact interpolated quartiles + 1.5·IQR
    // whisker outlier counts; whisker bounds from RAW quartiles, only
    // reported quartiles truncated (4 dp).
    Q(
      "q_boxplot",
      """WITH q AS (
        |  SELECT event_type AS grp, count(*) AS n,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.5) AS q2,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1)
        |SELECT grp, CAST(q.n AS BIGINT) AS n,
        |  floor(q1 * 1e4) / 1e4 AS p25,
        |  floor(q2 * 1e4) / 1e4 AS p50,
        |  floor(q3 * 1e4) / 1e4 AS p75,
        |  CAST(sum(CASE WHEN e.value < q1 - 1.5 * (q3 - q1)
        |                  OR e.value > q3 + 1.5 * (q3 - q1)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN q ON e.event_type = q.grp
        |GROUP BY grp, q.n, q1, q2, q3
        |ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      Profile.boxplot(graft.sources.Tables.events(s, dir),
          col("event_type"), col("value"))
        .orderBy("grp")
    },

    // C31: schema-drift report — the "after" snapshot drops
    // c_nationkey, adds c_tier, and nulls out every 7th name; the
    // report must classify added/removed/common and track the
    // null-count and cardinality movement.
    Q(
      "q_schema_drift", {
        def side(tbl: String, cols: Seq[String]): String =
          cols.map(c =>
            s"""SELECT '$c' AS col_name,
               |  CAST(count(*) - count($c) AS BIGINT) AS nulls,
               |  CAST(count(DISTINCT $c) AS BIGINT) AS dist
               |FROM $tbl""".stripMargin).mkString("", "\nUNION ALL\n", "")
        val beforeCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        val afterCols = Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_tier")
        s"""WITH aft AS (
           |  SELECT c_custkey,
           |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS c_name,
           |    c_acctbal, c_mktsegment,
           |    CASE WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'std' END AS c_tier
           |  FROM customer),
           |pb AS (${side("customer", beforeCols)}),
           |pa AS (${side("aft", afterCols)})
           |SELECT coalesce(pb.col_name, pa.col_name) AS col_name,
           |  CASE WHEN pb.col_name IS NULL THEN 'added'
           |       WHEN pa.col_name IS NULL THEN 'removed'
           |       ELSE 'common' END AS status,
           |  pb.nulls AS nulls_before, pa.nulls AS nulls_after,
           |  pb.dist AS distinct_before, pa.dist AS distinct_after
           |FROM pb FULL JOIN pa ON pb.col_name = pa.col_name
           |ORDER BY col_name""".stripMargin
      }
    ) { (s, dir) =>
      val before = table(s, dir, "customer")
      val after = before.select(
        col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_name")).as("c_name"),
        col("c_acctbal"), col("c_mktsegment"),
        when(col("c_acctbal") >= 5000, "gold").otherwise("std").as("c_tier"))
      Profile.schemaDrift(before, after, exactDistinct = true)
        .orderBy("col_name")
    },

    // C50: k-anonymity / l-diversity audit — equivalence classes over
    // the (nation, segment) quasi-identifiers with account balance as
    // the sensitive attribute; class size and distinct-sensitive
    // counts drive the two privacy flags. Thresholds sit inside the
    // class-size distribution so both flag values occur.
    Q(
      "q_k_anonymity",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
        |  (count(*) >= 12) AS k_anonymous,
        |  (count(DISTINCT c_acctbal) >= 10) AS l_diverse
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin
    ) { (s, dir) =>
      Profile.kAnonymity(table(s, dir, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment")), col("c_acctbal"),
          k = 12, l = 10)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // C101: t-closeness — the distributional tier above C50: per
    // (segment) class, total-variation distance of the nation
    // distribution vs global, on exact |cnt_cv·N − cnt_v·Nc| integer
    // lanes with one double division.
    Q(
      "q_t_closeness",
      """WITH cv AS (
        |  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS cnt_cv
        |  FROM customer GROUP BY 1, 2),
        |cl AS (
        |  SELECT c_mktsegment, CAST(sum(cnt_cv) AS BIGINT) AS class_size
        |  FROM cv GROUP BY 1),
        |gv AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS cnt_v FROM customer
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt_v) AS BIGINT) AS n FROM gv),
        |grid AS (
        |  SELECT cl.c_mktsegment, cl.class_size, tot.n,
        |    abs(coalesce(cv.cnt_cv, 0) * tot.n - gv.cnt_v * cl.class_size) AS diff
        |  FROM cl CROSS JOIN gv CROSS JOIN tot
        |  LEFT JOIN cv ON cv.c_mktsegment = cl.c_mktsegment
        |    AND cv.c_nationkey = gv.c_nationkey)
        |SELECT c_mktsegment, class_size,
        |  floor(CAST(sum(diff) AS DOUBLE)
        |    / (2.0 * CAST(class_size AS DOUBLE) * CAST(n AS DOUBLE)) * 1e4) / 1e4
        |    AS tvd,
        |  floor(CAST(sum(diff) AS DOUBLE)
        |    / (2.0 * CAST(class_size AS DOUBLE) * CAST(n AS DOUBLE)) * 1e4) / 1e4
        |    <= 0.05 AS t_close
        |FROM grid GROUP BY 1, 2, n
        |ORDER BY c_mktsegment""".stripMargin
    ) { (s, dir) =>
      Profile.tCloseness(table(s, dir, "customer"),
          Seq(col("c_mktsegment").as("c_mktsegment")), col("c_nationkey"),
          t = 0.05)
        .orderBy("c_mktsegment")
    },

    // C25: fixed-width histogram of extended price — map-side-combined
    // groupBy on the bin id, O(nBins) result regardless of input size.
    Q(
      "q_histogram",
      """SELECT
        |  CAST(least(21, greatest(0, floor(l_extendedprice / 5000.0))) AS INTEGER) AS bin,
        |  CAST(round(CAST(least(21, greatest(0, floor(l_extendedprice / 5000.0))) AS INTEGER) * 5000.0, 4) AS DOUBLE) AS bin_lo,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1, 2 ORDER BY bin""".stripMargin
    ) { (s, dir) =>
      Profile.histogram(table(s, dir, "lineitem"),
          col("l_extendedprice"), lo = 0.0, hi = 110000.0, nBins = 22)
        .orderBy("bin")
    },

    // C65: autocorrelation of hourly event volumes per type, lags
    // 1..3, over a zero-filled dense grid (the ACF row-lag contract).
    Q(
      "q_acf",
      s"""WITH ${acfChainSql(3)}
         |$acfSelectSql
         |ORDER BY a.key, a.lag""".stripMargin
    ) { (s, dir) =>
      val dense = zeroFillHours(hourlyCounts(s, dir), "value")
      graft.operators.Stats.autocorrelation(dense, col("key"), col("bucket"),
          col("value"), maxLag = 3)
        .orderBy("key", "lag")
    },

    // C66: cross-correlation of hourly event count vs value mass per
    // type, lags -2..2 on the shared zero-filled grid.
    Q(
      "q_xcorr", {
        def shifted(l: Int): String =
          if (l < 0) s"lag(cy6, ${-l}) OVER (PARTITION BY key ORDER BY bucket)"
          else if (l == 0) "cy6"
          else s"lead(cy6, $l) OVER (PARTITION BY key ORDER BY bucket)"
        def lagSel(l: Int): String =
          s"""SELECT key, $l AS lag,
             |  CAST(cx6 AS DECIMAL(38,0)) * (${shifted(l)}) AS p
             |FROM c""".stripMargin
        s"""WITH b AS (
           |  SELECT event_type AS key,
           |    epoch_ns(ts) // 3600000000000 AS bucket,
           |    CAST(count(*) AS DOUBLE) AS x,
           |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
           |  FROM events GROUP BY 1, 2),
           |${zeroFillHoursSql("x", "y")},
           |mu AS (
           |  SELECT key,
           |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mx,
           |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS my
           |  FROM d GROUP BY 1),
           |c AS (
           |  SELECT d.key, d.bucket,
           |    CAST((d.x - mu.mx) * 1e6 AS DECIMAL(18,0)) AS cx6,
           |    CAST((d.y - mu.my) * 1e6 AS DECIMAL(18,0)) AS cy6
           |  FROM d JOIN mu ON d.key = mu.key),
           |den AS (
           |  SELECT key,
           |    sum(CAST(cx6 AS DECIMAL(38,0)) * cx6) AS dx,
           |    sum(CAST(cy6 AS DECIMAL(38,0)) * cy6) AS dy
           |  FROM c GROUP BY 1),
           |l AS (
           |  ${(-2 to 2).map(lagSel).mkString("\n|  UNION ALL\n|  ")}),
           |a AS (
           |  SELECT key, lag, CAST(count(p) AS BIGINT) AS n_pairs,
           |    coalesce(sum(p), 0) AS num
           |  FROM l GROUP BY 1, 2)
           |SELECT a.key, a.lag, a.n_pairs,
           |  CASE WHEN CAST(den.dx AS DOUBLE) <= 0.0
           |      OR CAST(den.dy AS DOUBLE) <= 0.0 THEN CAST(0.0 AS DOUBLE)
           |    ELSE sign(CAST(a.num AS DOUBLE)
           |        / sqrt(CAST(den.dx AS DOUBLE) * CAST(den.dy AS DOUBLE)))
           |      * (floor(abs(CAST(a.num AS DOUBLE)
           |        / sqrt(CAST(den.dx AS DOUBLE) * CAST(den.dy AS DOUBLE)))
           |        * 1e4) / 1e4) + 0.0
           |  END AS xcorr,
           |  CAST(den.dx AS DOUBLE) <= 0.0 OR CAST(den.dy AS DOUBLE) <= 0.0
           |    AS degenerate
           |FROM a JOIN den ON a.key = den.key
           |ORDER BY a.key, a.lag""".stripMargin
      }
    ) { (s, dir) =>
      val counts = graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type").as("key"),
          expr("ts_ns div 3600000000000").as("bucket"))
        .agg(count(lit(1)).cast("double").as("x"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("y"))
      val dense = zeroFillHours(counts, "x", "y")
      graft.operators.Stats.crossCorrelation(dense, col("key"), col("bucket"),
          col("x"), col("y"), maxLag = 2)
        .orderBy("key", "lag")
    },

    // C64: Mann-Whitney U test on the q_auc scored frame — same value
    // machinery, reported as a TEST (U, tie-corrected z, verdict).
    Q(
      "q_mann_whitney",
      s"""WITH sc AS (
         |  SELECT least(1.0, len(${tkSql("text")}) / 400.0) AS v,
         |    contains(lower(text), 'data') AS a
         |  FROM documents),
         |g AS (
         |  SELECT round(v, 6) AS s,
         |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb
         |  FROM sc GROUP BY 1),
         |c AS (
         |  SELECT na, nb, na + nb AS t,
         |    coalesce(sum(nb) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM g),
         |m AS (
         |  SELECT
         |    CAST(coalesce(sum(CAST(na AS DECIMAL(19,0))
         |      * (CAST(cumb AS DECIMAL(19,0)) * 2
         |         + CAST(nb AS DECIMAL(19,0)))), 0) AS DECIMAL(38,0)) AS u2,
         |    CAST(coalesce(sum(CAST(t AS DECIMAL(13,0))
         |      * CAST(t AS DECIMAL(13,0)) * CAST(t AS DECIMAL(13,0))
         |      - CAST(t AS DECIMAL(13,0))), 0) AS DECIMAL(38,0)) AS tc,
         |    CAST(coalesce(sum(na), 0) AS BIGINT) AS na,
         |    CAST(coalesce(sum(nb), 0) AS BIGINT) AS nb
         |  FROM c),
         |d AS (
         |  SELECT na, nb, u2, tc,
         |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
         |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS n,
         |    CAST(u2 AS DOUBLE) / 2.0 AS u
         |  FROM m),
         |e AS (
         |  SELECT *,
         |    nad * nbd / 12.0 * ((n + 1.0) - CAST(tc AS DOUBLE) / (n * (n - 1.0)))
         |      AS varu
         |  FROM d)
         |SELECT na AS n_a, nb AS n_b, u,
         |  CASE WHEN na = 0 OR nb = 0 OR varu <= 0.0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE sign((u - nad * nbd / 2.0) / sqrt(varu))
         |      * (floor(abs((u - nad * nbd / 2.0) / sqrt(varu)) * 1e4) / 1e4)
         |      + 0.0
         |  END AS z,
         |  NOT (na = 0 OR nb = 0 OR varu <= 0.0)
         |    AND abs(CASE WHEN na = 0 OR nb = 0 OR varu <= 0.0
         |        THEN CAST(0.0 AS DOUBLE)
         |      ELSE sign((u - nad * nbd / 2.0) / sqrt(varu))
         |        * (floor(abs((u - nad * nbd / 2.0) / sqrt(varu)) * 1e4) / 1e4)
         |        + 0.0 END) > 1.96 AS significant,
         |  na = 0 OR nb = 0 OR varu <= 0.0 AS degenerate
         |FROM e""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        least(lit(1.0), size(graft.functions.tokens(col("text"))) / lit(400.0))
          .as("v"),
        lower(col("text")).contains("data").as("a"))
      graft.operators.Stats.mannWhitney(d, col("v"), col("a"))
    },

    // C63: Gini concentration of document mass over sources — the
    // corpus-balance number the mixture planners exist to push down.
    Q(
      "q_gini",
      """WITH c AS (
        |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS w
        |  FROM documents GROUP BY 1 HAVING count(*) > 0),
        |r AS (
        |  SELECT grp, w,
        |    CAST(row_number() OVER (ORDER BY w ASC, grp ASC) AS BIGINT) AS i
        |  FROM c),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(w) AS BIGINT) AS total,
        |    CAST(coalesce(sum(CAST(i AS DECIMAL(19,0))
        |      * CAST(w AS DECIMAL(19,0))), 0) AS DECIMAL(38,0)) AS iw
        |  FROM r)
        |SELECT n_groups, total,
        |  CASE WHEN n_groups < 1 OR total = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE floor((2.0 * CAST(iw AS DOUBLE)
        |        / (CAST(n_groups AS DOUBLE) * CAST(total AS DOUBLE))
        |      - (CAST(n_groups AS DOUBLE) + 1.0) / CAST(n_groups AS DOUBLE))
        |      * 1e4) / 1e4
        |  END AS gini
        |FROM m""".stripMargin
    ) { (s, dir) =>
      Profile.gini(table(s, dir, "documents"), col("source"))
    },

    // C62: Spearman rank correlation between two derived judge scores
    // — a monotone transform plus bounded noise keeps ρ high but < 1
    // and plants plenty of ties (the midrank path).
    Q(
      "q_spearman",
      """WITH t AS (
        |  SELECT round(CAST(n_chars AS DOUBLE), 6) AS a,
        |    round(CAST(n_chars + (doc_id % 7) * 10 AS DOUBLE), 6) AS b
        |  FROM documents),
        |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |ra AS (
        |  SELECT a,
        |    2 * coalesce(sum(cnt) OVER (ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS rx
        |  FROM ca),
        |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |rb AS (
        |  SELECT b,
        |    2 * coalesce(sum(cnt) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS ry
        |  FROM cb),
        |j AS (
        |  SELECT ra.rx, rb.ry FROM t
        |  JOIN ra ON t.a = ra.a JOIN rb ON t.b = rb.b),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rx AS DECIMAL(19,0))) AS sa,
        |    sum(CAST(ry AS DECIMAL(19,0))) AS sb,
        |    sum(CAST(rx AS DECIMAL(19,0)) * CAST(rx AS DECIMAL(19,0))) AS saa,
        |    sum(CAST(ry AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0))) AS sbb,
        |    sum(CAST(rx AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0))) AS sab
        |  FROM j)
        |SELECT n,
        |  CASE WHEN n < 2
        |      OR n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) <= 0.0
        |      OR n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) <= 0.0
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE sign((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |        / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |          * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))))
        |      * (floor(abs((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |        / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |          * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))))
        |        * 1e4) / 1e4) + 0.0
        |  END AS rho,
        |  n < 2
        |    OR n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) <= 0.0
        |    OR n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) <= 0.0
        |    AS degenerate
        |FROM m""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      graft.operators.Stats.spearman(d,
        col("n_chars"), col("n_chars") + (col("doc_id") % 7) * 10)
    },

    // C96: Kendall τ-b per key — doc length vs a 7-cycle of doc_id
    // plants heavy ties on BOTH sides (the tie-corrected denominator
    // path). The oracle replays the pair semantics BRUTE-FORCE (25
    // rows/source → 300 pairs — constant at any SF since it keys on
    // source) against the engine's O(n log n) merge-count kernel, so
    // a single miscounted inversion hash-fails.
    Q(
      "q_kendall_tau",
      """WITH t AS (
        |  SELECT source AS key, CAST(n_chars AS DOUBLE) AS x,
        |    CAST(doc_id % 7 AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |n AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |p AS (
        |  SELECT a.key,
        |    CAST(coalesce(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1
        |      WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN -1 ELSE 0 END), 0) AS BIGINT) AS s,
        |    CAST(coalesce(sum(CASE WHEN a.x <> b.x THEN 1 ELSE 0 END), 0) AS BIGINT) AS nx,
        |    CAST(coalesce(sum(CASE WHEN a.y <> b.y THEN 1 ELSE 0 END), 0) AS BIGINT) AS ny
        |  FROM t a JOIN t b ON a.key = b.key AND a.rn < b.rn
        |  GROUP BY 1)
        |SELECT n.key, n.n, coalesce(p.s, 0) AS s,
        |  CASE WHEN n.n < 2 OR coalesce(p.nx, 0) <= 0 OR coalesce(p.ny, 0) <= 0
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE sign(CAST(p.s AS DOUBLE) / sqrt(CAST(p.nx AS DOUBLE) * CAST(p.ny AS DOUBLE)))
        |      * (floor(abs(CAST(p.s AS DOUBLE) / sqrt(CAST(p.nx AS DOUBLE) * CAST(p.ny AS DOUBLE)))
        |        * 1e4) / 1e4) + 0.0
        |  END AS tau_b,
        |  (n.n < 2 OR coalesce(p.nx, 0) <= 0 OR coalesce(p.ny, 0) <= 0) AS degenerate
        |FROM n LEFT JOIN p ON n.key = p.key
        |ORDER BY n.key""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.kendallTau(table(s, dir, "documents"),
        col("source"), col("n_chars"), col("doc_id") % 7)
        .orderBy("key")
    },

    // C60: mergeable frequent-items (Misra-Gries family) sketch —
    // per-source sketches union into corpus-wide top tokens WITHOUT
    // re-reading a shard. Estimates are engine-specific, but the
    // library bound is DETERMINISTIC (lower ≤ true ≤ upper always, for
    // tracked and untracked items alike), so the portable output is
    // the bounded-verdict shape: the EXACT top-20 tokens and counts
    // (both engines agree) plus a within_bound boolean the engine
    // computes from its own merged sketch — the oracle asserts the
    // contract as TRUE, the engine verifies it empirically.
    Q(
      "q_freq_sketch",
      s"""WITH tok AS (
         |  SELECT unnest(${tkSql("text")}) AS item
        |  FROM documents),
        |c AS (SELECT item, CAST(count(*) AS BIGINT) AS exact_n
        |      FROM tok GROUP BY 1)
        |SELECT item, exact_n, TRUE AS within_bound
        |FROM c ORDER BY exact_n DESC, item LIMIT 20""".stripMargin
    ) { (s, dir) =>
      import graft.functions.FreqItemsSketch._
      import graft.functions.tokens
      val toks = table(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .transform(materialize(_))
      val merged = toks.groupBy("source")
        .agg(freqSketch(col("tok"), 256).as("sk"))
        .agg(freqMerge(col("sk"), 256).as("m"))
      val exactTop = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok").asc).limit(20)
      exactTop.crossJoin(broadcast(merged)) // 20 × 1-row sketch attach
        .withColumn("__b", freqBounds(col("m"), col("tok")))
        .select(col("tok").as("item"), col("exact_n"),
          (col("__b.lower_bound") <= col("exact_n")
            && col("exact_n") <= col("__b.upper_bound")).as("within_bound"))
        .orderBy(col("exact_n").desc, col("item").asc)
    },

    // C59: Benjamini-Hochberg step-up FDR over one hypothesis per
    // doc-group. Derivation: per-group base p = min scrambled hash
    // (uniform-ish), %7 groups scaled into the discovery range, %13
    // groups untested (NULL p). The window ranks an ALREADY AGGREGATED
    // 80-row frame — the legal global-window class.
    Q(
      "q_bh_fdr",
      """WITH h AS (
        |  SELECT doc_id % 80 AS g, (doc_id * 7919) % 997 AS hv
        |  FROM documents),
        |a AS (
        |  SELECT g, min(hv) / CAST(996.0 AS DOUBLE) AS base FROM h GROUP BY 1),
        |t AS (
        |  SELECT g AS key,
        |    CASE WHEN g % 13 = 0 THEN NULL
        |         WHEN g % 7 = 0 THEN base * CAST(0.001 AS DOUBLE)
        |         ELSE base END AS p_value
        |  FROM a),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM t),
        |r AS (
        |  SELECT t.key, t.p_value, mm.m,
        |    CAST(row_number() OVER (
        |      ORDER BY coalesce(t.p_value, CAST(2.0 AS DOUBLE)) ASC, t.key ASC)
        |      AS BIGINT) AS rank
        |  FROM t CROSS JOIN mm),
        |c AS (
        |  SELECT *,
        |    CAST(0.05 AS DOUBLE) * rank / m AS bh_threshold,
        |    p_value IS NOT NULL
        |      AND p_value <= CAST(0.05 AS DOUBLE) * rank / m AS disc
        |  FROM r),
        |k AS (
        |  SELECT CAST(coalesce(max(CASE WHEN disc THEN rank END), 0) AS BIGINT)
        |    AS kstar
        |  FROM c)
        |SELECT c.key, c.p_value, c.rank, c.m, c.bh_threshold,
        |  c.rank <= k.kstar AS discovery,
        |  c.p_value IS NULL AS untested
        |FROM c CROSS JOIN k ORDER BY c.key""".stripMargin
    ) { (s, dir) =>
      val hyp = plantedPValues(s, dir)
      graft.operators.Stats.benjaminiHochberg(hyp, col("key"), col("p"),
          q = 0.05)
        .orderBy("key")
    },

    // C119: empirical-Bayes beta-binomial shrinkage of per-user click
    // rates — 2/3 must not outrank 180/300; method-of-moments prior
    // on 9-dp decimal lanes, alpha/beta derived once, broadcast back.
    Q(
      "q_eb_shrinkage",
      """WITH per AS (
        |  SELECT user_id AS key,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY user_id),
        |r AS (
        |  SELECT key, x, n,
        |    CAST(floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) / 1e9
        |      AS DECIMAL(19,9)) AS p
        |  FROM per WHERE n > 0),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    coalesce(sum(p), CAST(0 AS DECIMAL(19,9))) AS sp,
        |    coalesce(sum(CAST(p * p AS DECIMAL(38,18))),
        |      CAST(0 AS DECIMAL(38,18))) AS spp
        |  FROM r),
        |pr AS (
        |  SELECT k,
        |    CAST(sp AS DOUBLE) / CAST(k AS DOUBLE) AS mu,
        |    coalesce((CAST(spp AS DOUBLE)
        |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(k AS DOUBLE))
        |      / nullif(CAST(k AS DOUBLE) - 1.0, 0.0), 0.0) AS v
        |  FROM mom),
        |pr2 AS (
        |  SELECT k, mu, v,
        |    coalesce(mu * (1.0 - mu) / nullif(v, 0.0) - 1.0, 0.0) AS kappa
        |  FROM pr)
        |SELECT key, x, n,
        |  floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * 1e6) / 1e6 AS rate,
        |  CASE WHEN k < 2 OR v <= 0.0 OR kappa <= 0.0
        |    THEN floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * 1e6) / 1e6
        |    ELSE floor((CAST(x AS DOUBLE) + mu * kappa)
        |      / (CAST(n AS DOUBLE) + mu * kappa + (1.0 - mu) * kappa) * 1e6)
        |      / 1e6 END AS shrunk_rate,
        |  CASE WHEN k < 2 OR v <= 0.0 OR kappa <= 0.0 THEN 0.0
        |    ELSE floor(mu * kappa * 1e6) / 1e6 END AS alpha,
        |  CASE WHEN k < 2 OR v <= 0.0 OR kappa <= 0.0 THEN 0.0
        |    ELSE floor((1.0 - mu) * kappa * 1e6) / 1e6 END AS beta,
        |  (k < 2 OR v <= 0.0 OR kappa <= 0.0) AS degenerate
        |FROM r, pr2 ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
      graft.operators.Stats.ebShrink(ev, col("user_id"),
          (col("event_type") === "click").cast("long"), lit(1L))
        .orderBy("key")
    },

    // C120: Lorenz curve deciles of per-doc character mass per source
    // — q_gini's number unpacked into the curve; integer-exact bins
    // and cumulative sums over the (source × 10) frame.
    Q(
      "q_lorenz",
      """WITH t AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS m
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
        |r AS (
        |  SELECT grp, m,
        |    row_number() OVER (PARTITION BY grp ORDER BY m) AS rk,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM t),
        |b AS (
        |  SELECT grp, CAST((rk - 1) * 10 // n + 1 AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS c,
        |    CAST(coalesce(sum(m), 0) AS BIGINT) AS s
        |  FROM r GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, bin,
        |    CAST(sum(c) OVER cw AS BIGINT) AS cc,
        |    CAST(sum(s) OVER cw AS BIGINT) AS cs,
        |    CAST(sum(c) OVER tw AS BIGINT) AS tc,
        |    CAST(sum(s) OVER tw AS BIGINT) AS ts
        |  FROM b
        |  WINDOW cw AS (PARTITION BY grp ORDER BY bin
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         tw AS (PARTITION BY grp))
        |SELECT grp, bin, cc AS cum_rows,
        |  floor(CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE) * 1e6) / 1e6
        |    AS cum_row_share,
        |  CASE WHEN ts = 0 THEN 0.0
        |    ELSE floor(CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE) * 1e6) / 1e6
        |    END AS cum_mass_share
        |FROM c ORDER BY grp, bin""".stripMargin
    ) { (s, dir) =>
      graft.operators.Profile.lorenzCurve(table(s, dir, "documents"),
          col("source"), col("n_chars"), nBins = 10)
        .orderBy("grp", "bin")
    },

    // C121: Holm-Bonferroni step-down over the q_bh_fdr hypothesis
    // feed — the family-wise sibling (any false positive vs a false
    // discovery RATE); running max over the bounded hypothesis frame.
    Q(
      "q_holm",
      """WITH h AS (
        |  SELECT g AS key,
        |    CASE WHEN g % 13 = 0 THEN NULL
        |         WHEN g % 7 = 0 THEN base * 0.001
        |         ELSE base END AS p
        |  FROM (
        |    SELECT g, min(hv) / 996.0 AS base
        |    FROM (SELECT doc_id % 80 AS g, (doc_id * 7919) % 997 AS hv
        |          FROM documents)
        |    GROUP BY g)),
        |t AS (SELECT key, p FROM h WHERE p IS NOT NULL),
        |r AS (
        |  SELECT key, p,
        |    CAST(row_number() OVER (ORDER BY p, key) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM t),
        |a AS (
        |  SELECT key, p, rk, m,
        |    max(least(1.0, CAST(m - rk + 1 AS DOUBLE) * p))
        |      OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS adj
        |  FROM r)
        |SELECT key, p AS p_value, rk AS rank, m,
        |  floor(adj * 1e6) / 1e6 AS adj_p,
        |  adj <= 0.05 AS discovery, false AS untested
        |FROM a
        |UNION ALL
        |SELECT key, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), false, true
        |FROM h WHERE p IS NULL
        |ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val hyp = plantedPValues(s, dir)
      graft.operators.Stats.holmBonferroni(hyp, col("key"), col("p"),
          alpha = 0.05)
        .orderBy("key")
    },

    // C122: dominant-period detection per event type — the q_acf frame
    // read as a verdict (keyed top-1 over lags >= 2 with the 2/sqrt(n)
    // white-noise gate); the probe to run before committing any
    // seasonal period.
    Q(
      "q_dominant_period",
      s"""WITH ${acfChainSql(36)},
         |acf AS (
         |  $acfSelectSql
         |  WHERE a.lag >= 2),
         |top AS (
         |  SELECT key, lag, n_pairs, acf, degenerate,
         |    row_number() OVER (PARTITION BY key ORDER BY acf DESC, lag ASC)
         |      AS r
         |  FROM acf)
         |SELECT key, CAST(lag AS INT) AS period, acf AS acf_peak,
         |  CAST(n_pairs + lag AS BIGINT) AS n,
         |  (NOT degenerate)
         |    AND acf > 2.0 / sqrt(CAST(n_pairs + lag AS DOUBLE))
         |    AS significant,
         |  degenerate
         |FROM top WHERE r = 1 ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val dense = zeroFillHours(hourlyCounts(s, dir), "value")
      graft.operators.Stats.dominantPeriod(dense, col("key"), col("bucket"),
          col("value"), maxLag = 36)
        .orderBy("key")
    },

    // C110: Cliff's delta for click-vs-view values — the ordinal
    // effect size next to q_effect_size's standardized family,
    // derived from the q_mann_whitney bounded rank frame (2U integer
    // lanes), never the quadratic pair walk.
    Q(
      "q_cliffs_delta",
      """WITH v AS (
        |  SELECT CAST(value AS DOUBLE) AS val, event_type = 'click' AS a
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
        |g AS (
        |  SELECT round(val, 6) AS s,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM v GROUP BY 1),
        |c AS (
        |  SELECT na, nb,
        |    coalesce(sum(nb) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM g),
        |m AS (
        |  SELECT
        |    CAST(coalesce(sum(CAST(na AS DECIMAL(19,0))
        |      * (CAST(cumb AS DECIMAL(19,0)) * 2
        |         + CAST(nb AS DECIMAL(19,0)))), 0) AS DECIMAL(38,0)) AS u2,
        |    CAST(coalesce(sum(na), 0) AS BIGINT) AS na,
        |    CAST(coalesce(sum(nb), 0) AS BIGINT) AS nb
        |  FROM c),
        |d AS (
        |  SELECT na, nb,
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |      ELSE sign(CAST(u2 - CAST(na AS DECIMAL(19,0))
        |          * CAST(nb AS DECIMAL(19,0)) AS DOUBLE)
        |          / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
        |        * (floor(abs(CAST(u2 - CAST(na AS DECIMAL(19,0))
        |          * CAST(nb AS DECIMAL(19,0)) AS DOUBLE)
        |          / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1e4) / 1e4)
        |        + 0.0 END AS delta
        |  FROM m)
        |SELECT na AS n_a, nb AS n_b, delta,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude,
        |  (na = 0 OR nb = 0) AS degenerate
        |FROM d""".stripMargin
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
      graft.operators.Stats.cliffsDelta(ev, col("value"),
        col("event_type") === "click")
    },

    // C111: 1-D Wasserstein (earth mover's) distance between the
    // click and view value distributions — the actionable-units drift
    // number next to q_ks_test's supremum; exact integer CDF-gap
    // numerators over the bounded quantized frame.
    Q(
      "q_emd",
      """WITH v AS (
        |  SELECT CAST(value AS DOUBLE) AS val, event_type AS et
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
        |g AS (
        |  SELECT round(val, 2) AS s,
        |    CAST(sum(CASE WHEN et = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN et = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM v GROUP BY 1),
        |c AS (
        |  SELECT s, na, nb,
        |    CAST(sum(na) OVER cw AS BIGINT) AS ca,
        |    CAST(sum(nb) OVER cw AS BIGINT) AS cb,
        |    lead(s) OVER (ORDER BY s) - s AS gap
        |  FROM g
        |  WINDOW cw AS (ORDER BY s
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (
        |  SELECT CAST(coalesce(sum(na), 0) AS BIGINT) AS ta,
        |    CAST(coalesce(sum(nb), 0) AS BIGINT) AS tb
        |  FROM g),
        |terms AS (
        |  SELECT CAST(floor(
        |    CAST(abs(CAST(ca AS DECIMAL(19,0)) * CAST(tb AS DECIMAL(19,0))
        |      - CAST(cb AS DECIMAL(19,0)) * CAST(ta AS DECIMAL(19,0)))
        |      AS DOUBLE)
        |    / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) * gap * 1e9) / 1e9
        |    AS DECIMAL(28,9)) AS t
        |  FROM c, tot WHERE gap IS NOT NULL),
        |s2 AS (SELECT coalesce(sum(t), CAST(0 AS DECIMAL(28,9))) AS s FROM terms)
        |SELECT ta AS n_a, tb AS n_b,
        |  CASE WHEN ta = 0 OR tb = 0 THEN 0.0
        |    ELSE floor(CAST(s AS DOUBLE) * 1e6) / 1e6 END AS emd
        |FROM tot, s2""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.wasserstein1d(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"), groupA = "click", groupB = "view",
        dp = 2)
    },

    // C112: Hill tail-index per event type — "does this value column
    // even have a finite variance?" The heavy-tail diagnostic to run
    // before trusting bootstrap CIs; keyed top-51 window, 9-dp
    // truncated log-excess terms, exact decimal sum.
    Q(
      "q_hill_tail",
      """WITH t AS (
        |  SELECT event_type AS key, CAST(value AS DOUBLE) AS x
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |r AS (
        |  SELECT key, x,
        |    row_number() OVER (PARTITION BY key ORDER BY x DESC) AS rk,
        |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n
        |  FROM t),
        |th AS (SELECT key, x AS xk, n FROM r WHERE rk = least(51, n)),
        |kept AS (
        |  SELECT r.key,
        |    CAST(floor(ln(r.x / th.xk) * 1e9) / 1e9 AS DECIMAL(28,9)) AS tt
        |  FROM r JOIN th ON r.key = th.key
        |  WHERE r.rk < least(51, r.n)),
        |m AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS k_used, sum(tt) AS s
        |  FROM kept GROUP BY key)
        |SELECT th.key, th.n AS n, coalesce(m.k_used, 0) AS k_used,
        |  CASE WHEN th.n < 52
        |      OR CAST(m.s AS DOUBLE) / CAST(m.k_used AS DOUBLE) <= 0.0
        |    THEN 0.0
        |    ELSE floor(CAST(m.s AS DOUBLE) / CAST(m.k_used AS DOUBLE) * 1e4)
        |      / 1e4 END AS hill_h,
        |  CASE WHEN th.n < 52
        |      OR CAST(m.s AS DOUBLE) / CAST(m.k_used AS DOUBLE) <= 0.0
        |    THEN 0.0
        |    ELSE floor(1.0 / (CAST(m.s AS DOUBLE) / CAST(m.k_used AS DOUBLE))
        |      * 1e4) / 1e4 END AS alpha,
        |  (th.n < 52 OR CAST(m.s AS DOUBLE) / CAST(m.k_used AS DOUBLE) <= 0.0)
        |    AS degenerate
        |FROM th LEFT JOIN m ON th.key = m.key ORDER BY th.key""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.hillTail(graft.sources.Tables.events(s, dir),
          col("event_type"), col("value"), k = 50)
        .orderBy("key")
    },

    // C113: sign-flip randomization test on per-user click-minus-view
    // paired differences — a distribution-free p-value with NO RNG:
    // permutation b flips user u by the parity of hashMod(u·65 + b),
    // so the oracle replays the identical 64 pseudo-permutations.
    Q(
      "q_signflip_test", {
        val flip = Sampling.hashModSql("(u * 65 + b)", "2")
        s"""WITH d0 AS (
           |  SELECT user_id AS u,
           |    sum(CASE WHEN event_type = 'click'
           |        THEN CAST(value AS DECIMAL(18,6)) END) AS sa,
           |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
           |    sum(CASE WHEN event_type = 'view'
           |        THEN CAST(value AS DECIMAL(18,6)) END) AS sb,
           |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
           |  FROM events
           |  WHERE user_id IS NOT NULL AND value IS NOT NULL
           |    AND event_type IN ('click', 'view')
           |  GROUP BY u),
           |d1 AS (
           |  SELECT u, CAST(floor((CAST(sa AS DOUBLE) / ca
           |    - CAST(sb AS DOUBLE) / cb) * 1e6) / 1e6 AS DECIMAL(24,6)) AS d
           |  FROM d0 WHERE sa IS NOT NULL AND sb IS NOT NULL),
           |perms AS (
           |  SELECT b,
           |    sum(CASE WHEN b = 0 THEN d
           |        WHEN $flip = 0 THEN d ELSE -d END) AS tt
           |  FROM d1, (SELECT unnest(range(0, 65)) AS b)
           |  GROUP BY b),
           |tobs AS (SELECT tt AS tobs FROM perms WHERE b = 0),
           |m AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_perms,
           |    CAST(sum(CASE WHEN abs(tt) >= abs(tobs) THEN 1 ELSE 0 END)
           |      AS BIGINT) AS ge,
           |    max(tobs) AS tobs
           |  FROM perms, tobs WHERE b > 0),
           |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects FROM d1)
           |SELECT n_subjects,
           |  sign(CAST(tobs AS DOUBLE))
           |    * (floor(abs(CAST(tobs AS DOUBLE)) * 1e4) / 1e4) + 0.0 AS t_obs,
           |  n_perms,
           |  floor(CAST(ge + 1 AS DOUBLE) / CAST(n_perms + 1 AS DOUBLE) * 1e6)
           |    / 1e6 AS p_value,
           |  floor(CAST(ge + 1 AS DOUBLE) / CAST(n_perms + 1 AS DOUBLE) * 1e6)
           |    / 1e6 < 0.05 AS significant
           |FROM ns, m""".stripMargin
      }
    ) { (s, dir) =>
      graft.operators.Stats.signFlipTest(graft.sources.Tables.events(s, dir),
        col("user_id"), col("event_type"), col("value"),
        groupA = "click", groupB = "view", b = 64)
    },

    // C123: Ljung-Box portmanteau on the hourly-count series per event
    // type — the q_acf frame aggregated to ONE white-noise verdict:
    // Q = n(n+2)·Σ r_k²/(n−k) over lags 1..3 with r_k the published
    // 4-dp autocorrelations, so the oracle replays C65 then the sum.
    Q(
      "q_ljung_box",
      s"""WITH ${acfChainSql(3)},
         |r AS (
         |  $acfSelectSql),
         |g AS (
         |  SELECT key,
         |    max(CASE WHEN lag = 1 THEN n_pairs + 1 END) AS n,
         |    max(lag) AS max_lag,
         |    sum(CASE WHEN n_pairs > 0
         |      THEN CAST(floor(acf * acf / n_pairs * 1e9) / 1e9
         |        AS DECIMAL(28,9)) END) AS s,
         |    bool_or(degenerate) AS deg0
         |  FROM r GROUP BY key),
         |g2 AS (SELECT key, n, max_lag, s,
         |    (deg0 OR n <= max_lag) AS degenerate FROM g)
         |SELECT key, max_lag, n,
         |  CASE WHEN degenerate THEN 0.0
         |    ELSE floor(CAST(n AS DOUBLE) * (n + 2) * CAST(s AS DOUBLE)
         |      * 1e4) / 1e4 END AS q_stat,
         |  (NOT degenerate) AND
         |    CAST(n AS DOUBLE) * (n + 2) * CAST(s AS DOUBLE) > 7.815
         |    AS significant,
         |  degenerate
         |FROM g2 ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val dense = zeroFillHours(hourlyCounts(s, dir), "value")
      graft.operators.Stats.ljungBox(dense, col("key"), col("bucket"),
          col("value"), maxLag = 3, critical = 7.815)
        .orderBy("key")
    },

    // C140: PACF (lags 1-3) on the same dense hourly series — the
    // Durbin-Levinson closed forms over the q_ljung_box ACF chain,
    // n from the lag-1 row, nullif-guarded denominators.
    Q(
      "q_pacf",
      s"""WITH ${acfChainSql(3)},
         |r AS (
         |  $acfSelectSql),
         |pv AS (
         |  SELECT key,
         |    max(CASE WHEN lag = 1 THEN n_pairs + 1 END) AS n,
         |    max(CASE WHEN lag = 1 THEN acf END) AS r1,
         |    max(CASE WHEN lag = 2 THEN acf END) AS r2,
         |    max(CASE WHEN lag = 3 THEN acf END) AS r3,
         |    bool_or(degenerate) AS deg
         |  FROM r GROUP BY key),
         |f AS (
         |  SELECT key, n, r1, r2, r3, deg,
         |    (r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0) AS p2
         |  FROM pv),
         |f2 AS (
         |  SELECT *, r1 * (1.0 - p2) AS phi21 FROM f),
         |f3 AS (
         |  SELECT *,
         |    (r3 - phi21 * r2 - p2 * r1)
         |      / nullif(1.0 - phi21 * r1 - p2 * r2, 0.0) AS p3
         |  FROM f2),
         |g AS (SELECT *,
         |    (deg OR n <= 3 OR p2 IS NULL OR p3 IS NULL) AS degenerate
         |  FROM f3)
         |SELECT key, n,
         |  CASE WHEN degenerate THEN 0.0
         |    ELSE sign(r1) * (floor(abs(r1) * 1e4) / 1e4) + 0.0 END AS pacf1,
         |  CASE WHEN degenerate THEN 0.0
         |    ELSE sign(p2) * (floor(abs(p2) * 1e4) / 1e4) + 0.0 END AS pacf2,
         |  CASE WHEN degenerate THEN 0.0
         |    ELSE sign(p3) * (floor(abs(p3) * 1e4) / 1e4) + 0.0 END AS pacf3,
         |  degenerate
         |FROM g ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val dense = zeroFillHours(hourlyCounts(s, dir), "value")
      graft.operators.Stats.pacf(dense, col("key"), col("bucket"),
          col("value"))
        .orderBy("key")
    },

    // C126: KPSS level-stationarity score on the same dense hourly
    // series — partial sums of the demeaned 6-dp lanes, all-integer
    // arithmetic, 0.463 the 5% level-test critical value.
    Q(
      "q_kpss",
      s"""WITH $hourlyCountsSql,
         |${zeroFillHoursSql("value")},
         |$demeanSql,
        |s AS (
        |  SELECT key, bucket, c6,
        |    CAST(sum(c6) OVER (PARTITION BY key ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(19,0)) AS ps
        |  FROM c),
        |g AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(ps * ps AS DECIMAL(38,0))) AS ss,
        |    sum(CAST(c6 AS DECIMAL(38,0)) * c6) AS cc
        |  FROM s GROUP BY key)
        |SELECT key, n,
        |  CASE WHEN CAST(cc AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor(CAST(ss AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(cc AS DOUBLE)) * 1e4) / 1e4
        |    END AS kpss,
        |  CAST(cc AS DOUBLE) > 0.0 AND
        |    CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(cc AS DOUBLE))
        |      > 0.463 AS significant,
        |  CAST(cc AS DOUBLE) <= 0.0 AS degenerate
        |FROM g ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val dense = zeroFillHours(hourlyCounts(s, dir), "value")
      graft.operators.Stats.kpss(dense, col("key"), col("bucket"), col("value"))
        .orderBy("key")
    },

    // C125: Durbin-Watson on the hourly-count series per event type —
    // residuals of the per-key OLS trend line, lag-difference ratio.
    Q(
      "q_durbin_watson",
      s"""WITH $hourlyTrendSumsSql,
         |$trendResidualsSql,
        |lagd AS (
        |  SELECT key, n, flatx, e6,
        |    CAST(e6 - lag(e6, 1) OVER (PARTITION BY key ORDER BY x, e6)
        |      AS DECIMAL(19,0)) AS dd
        |  FROM r6),
        |g AS (
        |  SELECT key, max(n) AS n, bool_or(flatx) AS fx,
        |    sum(CAST(dd * dd AS DECIMAL(38,0))) AS num,
        |    sum(CAST(e6 AS DECIMAL(38,0)) * e6) AS den
        |  FROM lagd GROUP BY key)
        |SELECT key, n,
        |  CASE WHEN fx OR n < 3 OR CAST(den AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e4) / 1e4
        |    END AS dw,
        |  CASE WHEN fx OR n < 3 OR CAST(den AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE sign(1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2.0)
        |      * (floor(abs(1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |        / 2.0) * 1e4) / 1e4) + 0.0 END AS rho_approx,
        |  (fx OR n < 3 OR CAST(den AS DOUBLE) <= 0.0) AS degenerate
        |FROM g ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val counts = hourlyCounts(s, dir)
      graft.operators.Stats.durbinWatson(counts, col("key"),
          col("bucket"), col("value"))
        .orderBy("key")
    },

    // C133: Breusch-Pagan heteroscedasticity on the hourly-count trend
    // fit — LM = n·R²(e² ~ x), the third OLS diagnostic next to
    // q_durbin_watson and q_cooks_distance.
    Q(
      "q_breusch_pagan",
      s"""WITH $hourlyTrendSumsSql,
         |$trendResidualsSql,
        |rz AS (
        |  SELECT key, x, n, flatx,
        |    floor(CAST(e6 AS DOUBLE) * CAST(e6 AS DOUBLE) / 1e12 * 1e6) / 1e6
        |      AS z
        |  FROM r6),
        |aux AS (
        |  SELECT key, max(n) AS n, bool_or(flatx) AS fx,
        |    sum(CAST(x AS DECIMAL(19,6))) AS ax,
        |    sum(CAST(z AS DECIMAL(19,6))) AS az,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6))) AS axz,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS axx,
        |    sum(CAST(z AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6))) AS azz
        |  FROM rz GROUP BY key),
        |d AS (
        |  SELECT key, n, fx,
        |    CAST(n AS DOUBLE) * CAST(axx AS DOUBLE)
        |      - CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE) AS avx,
        |    CAST(n AS DOUBLE) * CAST(azz AS DOUBLE)
        |      - CAST(az AS DOUBLE) * CAST(az AS DOUBLE) AS avz,
        |    CAST(n AS DOUBLE) * CAST(axz AS DOUBLE)
        |      - CAST(ax AS DOUBLE) * CAST(az AS DOUBLE) AS acov
        |  FROM aux)
        |SELECT key, n,
        |  CASE WHEN fx OR n < 4 OR avx <= 0.0 OR avz <= 0.0 THEN 0.0
        |    ELSE floor(CAST(n AS DOUBLE) * acov * acov / (avx * avz) * 1e4)
        |      / 1e4 END AS lm_stat,
        |  (NOT (fx OR n < 4 OR avx <= 0.0 OR avz <= 0.0)) AND
        |    CAST(n AS DOUBLE) * acov * acov / (avx * avz) > 3.841
        |    AS significant,
        |  (fx OR n < 4 OR avx <= 0.0 OR avz <= 0.0) AS degenerate
        |FROM d ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val counts = hourlyCounts(s, dir)
      graft.operators.Stats.breuschPagan(counts, col("key"),
          col("bucket"), col("value"))
        .orderBy("key")
    },

    // C132: contingency cell diagnostics — q_chi_squared's verdict
    // decomposed: adjusted standardized residuals over the completed
    // returnflag × linestatus grid name the driving cells.
    Q(
      "q_cell_residuals",
      """WITH cells AS (
        |  SELECT l_returnflag AS a, l_linestatus AS b,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells),
        |grid AS (
        |  SELECT ra.a, rb.b, ra.rt, rb.ct, t.tot,
        |    coalesce(cells.n, 0) AS n_obs
        |  FROM ra CROSS JOIN rb CROSS JOIN t
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = rb.b),
        |p AS (
        |  SELECT a, b, n_obs,
        |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE) AS e,
        |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE)
        |      * (1.0 - CAST(rt AS DOUBLE) / CAST(tot AS DOUBLE))
        |      * (1.0 - CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE)) AS adj
        |  FROM grid)
        |SELECT a, b, n_obs,
        |  floor(e * 1e4) / 1e4 AS expected,
        |  CASE WHEN adj <= 0.0 THEN 0.0
        |    ELSE sign((CAST(n_obs AS DOUBLE) - e) / sqrt(adj))
        |      * (floor(abs((CAST(n_obs AS DOUBLE) - e) / sqrt(adj)) * 1e4)
        |        / 1e4) + 0.0 END AS std_residual,
        |  adj > 0.0 AND abs((CAST(n_obs AS DOUBLE) - e) / sqrt(adj)) > 2.0
        |    AS outlier,
        |  adj <= 0.0 AS degenerate
        |FROM p ORDER BY a, b""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.contingencyCells(table(s, dir, "lineitem"),
          col("l_returnflag"), col("l_linestatus"), critical = 2.0)
        .orderBy("a", "b")
    },

    // C131: forecastability — seasonal-naive (lag 24) vs naive (lag 1)
    // MAE ratio on the dense hourly series: does a daily period HELP?
    Q(
      "q_forecastability",
      s"""WITH $hourlyCountsSql,
         |${zeroFillHoursSql("value")},
        |v AS (
        |  SELECT key, bucket, CAST(value * 1e6 AS DECIMAL(18,0)) AS v6
        |  FROM d),
        |l AS (
        |  SELECT key, bucket, v6,
        |    CAST(abs(v6 - lag(v6, 1) OVER w) AS DECIMAL(28,0)) AS e1,
        |    CAST(abs(v6 - lag(v6, 24) OVER w) AS DECIMAL(28,0)) AS em
        |  FROM v WINDOW w AS (PARTITION BY key ORDER BY bucket)),
        |g AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(e1) AS BIGINT) AS n1, coalesce(sum(e1), 0) AS s1,
        |    CAST(count(em) AS BIGINT) AS nm, coalesce(sum(em), 0) AS sm
        |  FROM l GROUP BY key)
        |SELECT key, n,
        |  CASE WHEN n1 = 0 THEN 0.0
        |    ELSE floor(CAST(s1 AS DOUBLE) / 1e6 / CAST(n1 AS DOUBLE) * 1e4)
        |      / 1e4 END AS mae_naive,
        |  CASE WHEN nm = 0 THEN 0.0
        |    ELSE floor(CAST(sm AS DOUBLE) / 1e6 / CAST(nm AS DOUBLE) * 1e4)
        |      / 1e4 END AS mae_seasonal,
        |  CASE WHEN n1 = 0 OR nm = 0 OR CAST(s1 AS DOUBLE) <= 0.0 THEN 0.0
        |    ELSE floor((CAST(sm AS DOUBLE) / 1e6 / CAST(nm AS DOUBLE))
        |      / (CAST(s1 AS DOUBLE) / 1e6 / CAST(n1 AS DOUBLE)) * 1e4) / 1e4
        |    END AS mase_ratio,
        |  n1 > 0 AND nm > 0 AND CAST(s1 AS DOUBLE) > 0.0 AND
        |    (CAST(sm AS DOUBLE) / 1e6 / CAST(nm AS DOUBLE))
        |      / (CAST(s1 AS DOUBLE) / 1e6 / CAST(n1 AS DOUBLE)) < 1.0
        |    AS seasonal_helps,
        |  (n1 = 0 OR nm = 0 OR CAST(s1 AS DOUBLE) <= 0.0) AS degenerate
        |FROM g ORDER BY key""".stripMargin
    ) { (s, dir) =>
      val dense = zeroFillHours(hourlyCounts(s, dir), "value")
      graft.operators.Stats.forecastability(dense, col("key"), col("bucket"),
          col("value"), period = 24)
        .orderBy("key")
    },

    // C130: Cook's distance + leverage on the hourly-count trend fit —
    // which hours own each event type's trend line; 4/n influence cut.
    Q(
      "q_cooks_distance",
      s"""WITH $hourlyTrendSumsSql,
        |f AS (
        |  SELECT key, n, CAST(sx AS DOUBLE) / n AS mx,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0
        |      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS sxxc,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 AS flatx
        |  FROM m),
        |r AS (
        |  SELECT b.key, b.x, f.n, f.flatx, f.mx, f.sxxc,
        |    b.y - f.slope * b.x AS e
        |  FROM b JOIN f ON b.key = f.key),
        |emu AS (
        |  SELECT key,
        |    CAST(sum(CAST(e AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu
        |  FROM r GROUP BY key),
        |r6 AS (
        |  SELECT r.key, r.x, r.n, r.flatx, r.mx, r.sxxc,
        |    CAST((r.e - emu.mu) * 1e6 AS DECIMAL(18,0)) AS e6
        |  FROM r JOIN emu ON r.key = emu.key),
        |sse AS (
        |  SELECT key, sum(CAST(e6 AS DECIMAL(38,0)) * e6) AS sse12
        |  FROM r6 GROUP BY key),
        |p AS (
        |  SELECT r6.key, r6.x,
        |    1.0 / r6.n + CASE WHEN r6.sxxc <= 0.0 THEN 0.0
        |      ELSE (r6.x - r6.mx) * (r6.x - r6.mx) / r6.sxxc END AS h,
        |    CAST(r6.e6 AS DOUBLE) * CAST(r6.e6 AS DOUBLE) / 1e12 AS e2,
        |    CAST(sse.sse12 AS DOUBLE) / 1e12 / (r6.n - 2.0) AS s2,
        |    (r6.flatx OR r6.n < 4 OR CAST(sse.sse12 AS DOUBLE) <= 0.0)
        |      AS bad,
        |    r6.n AS n
        |  FROM r6 JOIN sse ON r6.key = sse.key)
        |SELECT key, x,
        |  floor(h * 1e4) / 1e4 AS leverage,
        |  CASE WHEN bad OR h >= 1.0 - 1e-9 THEN 0.0
        |    ELSE floor(e2 * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) * 1e4)
        |      / 1e4 END AS cooks_d,
        |  (NOT bad) AND (h >= 1.0 - 1e-9 OR
        |    e2 * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) > 4.0 / n)
        |    AS influential,
        |  (bad OR h >= 1.0 - 1e-9) AS degenerate
        |FROM p ORDER BY key, x""".stripMargin
    ) { (s, dir) =>
      val counts = hourlyCounts(s, dir)
      graft.operators.Stats.cooksDistance(counts, col("key"),
          col("bucket"), col("value"))
        .orderBy("key", "x")
    },

    // C124: Bartlett's equal-variance test over event values by type —
    // the parametric tier next to q_brown_forsythe, per-group ln terms
    // truncated 9-dp before the cross-group sums.
    Q(
      "q_bartlett",
      """WITH g AS (
        |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS ni,
        |    sum(CAST(value AS DECIMAL(19,6))) AS s,
        |    sum(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)))
        |      AS ss
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY grp),
        |v AS (
        |  SELECT ni,
        |    (CAST(ni AS DOUBLE) * CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      / (CAST(ni AS DOUBLE) * (CAST(ni AS DOUBLE) - 1.0)) AS s2
        |  FROM g),
        |t AS (
        |  SELECT ni,
        |    CAST(floor(coalesce(CASE WHEN ni >= 2 AND s2 > 0.0
        |      THEN (CAST(ni AS DOUBLE) - 1.0) * ln(s2) END, 0.0) * 1e9) / 1e9
        |      AS DECIMAL(28,9)) AS lnterm,
        |    CAST(floor(coalesce(CASE WHEN ni >= 2
        |      THEN 1.0 / (CAST(ni AS DOUBLE) - 1.0) END, 0.0) * 1e9) / 1e9
        |      AS DECIMAL(28,9)) AS invterm,
        |    CAST(floor(coalesce(CASE WHEN ni >= 2 AND s2 > 0.0
        |      THEN (CAST(ni AS DOUBLE) - 1.0) * s2 END, 0.0) * 1e9) / 1e9
        |      AS DECIMAL(28,9)) AS ssterm,
        |    (ni < 2 OR s2 <= 0.0) AS bad
        |  FROM v),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n,
        |    sum(lnterm) AS sln, sum(invterm) AS sinv, sum(ssterm) AS sss,
        |    bool_or(bad) AS degenerate
        |  FROM t),
        |x AS (
        |  SELECT k, n, degenerate,
        |    CAST(sss AS DOUBLE) / (CAST(n AS DOUBLE) - k) AS pooled,
        |    1.0 + (CAST(sinv AS DOUBLE) - 1.0 / (CAST(n AS DOUBLE) - k))
        |      / (3.0 * (CAST(k AS DOUBLE) - 1.0)) AS c,
        |    CAST(sln AS DOUBLE) AS sln
        |  FROM m)
        |SELECT k, n,
        |  CASE WHEN degenerate OR k < 2 OR CAST(n AS DOUBLE) - k <= 0.0
        |    THEN 0.0
        |    ELSE sign(((CAST(n AS DOUBLE) - k) * ln(pooled) - sln) / c)
        |      * (floor(abs(((CAST(n AS DOUBLE) - k) * ln(pooled) - sln) / c)
        |        * 1e4) / 1e4) + 0.0 END AS chi2,
        |  k - 1 AS df,
        |  (NOT (degenerate OR k < 2 OR CAST(n AS DOUBLE) - k <= 0.0)) AND
        |    ((CAST(n AS DOUBLE) - k) * ln(pooled) - sln) / c > 9.488
        |    AS significant,
        |  (degenerate OR k < 2 OR CAST(n AS DOUBLE) - k <= 0.0) AS degenerate
        |FROM x""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.bartlett(graft.sources.Tables.events(s, dir),
        col("event_type"), col("value"), critical = 9.488)
    },

    // C128: Grubbs' max-deviation outlier statistic over event values
    // per type, with the winning point pinned by the (dev6, value)
    // struct max.
    Q(
      "q_grubbs",
      """WITH t AS (
        |  SELECT event_type AS key, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(v AS DECIMAL(19,6))) AS s,
        |    sum(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6))) AS ss
        |  FROM t GROUP BY key),
        |mv AS (
        |  SELECT key, n, CAST(s AS DOUBLE) / n AS mu,
        |    CASE WHEN n >= 2 THEN (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |    ELSE 0.0 END AS s2
        |  FROM m),
        |d AS (
        |  SELECT t.key, mv.n, mv.s2, t.v,
        |    CAST(floor(abs(t.v - mv.mu) * 1e6) AS BIGINT) AS dev6
        |  FROM t JOIN mv ON t.key = mv.key),
        |md AS (SELECT key, max(dev6) AS mdev FROM d GROUP BY key),
        |w AS (
        |  SELECT d.key, max(d.v) AS wv
        |  FROM d JOIN md ON d.key = md.key AND d.dev6 = md.mdev
        |  GROUP BY d.key),
        |g AS (
        |  SELECT d.key, max(d.n) AS n, max(d.s2) AS s2, max(d.dev6) AS mdev
        |  FROM d GROUP BY d.key)
        |SELECT g.key, g.n,
        |  CASE WHEN g.n < 3 OR g.s2 <= 0.0 THEN 0.0
        |    ELSE floor(CAST(g.mdev AS DOUBLE) / 1e6 / sqrt(g.s2) * 1e4) / 1e4
        |    END AS g_stat,
        |  CASE WHEN g.n < 3 OR g.s2 <= 0.0 THEN NULL ELSE w.wv END
        |    AS outlier_value,
        |  g.n >= 3 AND g.s2 > 0.0 AND
        |    CAST(g.mdev AS DOUBLE) / 1e6 / sqrt(g.s2) > 3.0 AS significant,
        |  (g.n < 3 OR g.s2 <= 0.0) AS degenerate
        |FROM g JOIN w ON g.key = w.key
        |ORDER BY g.key""".stripMargin
    ) { (s, dir) =>
      graft.operators.Stats.grubbs(graft.sources.Tables.events(s, dir),
          col("event_type"), col("value"), critical = 3.0)
        .orderBy("key")
    }
  )
}
