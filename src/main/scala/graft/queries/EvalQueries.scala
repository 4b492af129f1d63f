package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Eval, Sampling}

/** Model-eval & annotation analytics queries (SURVEY §2.D90-D93).
  *
  * The testdata has no eval tables, so both engines derive the same
  * deterministic frames from `documents`:
  *
  *   - ROLLOUTS: problem group = `doc_id % 40`; "correct" =
  *     `n_chars % 7 = 0` (~14% pass), answers = `n_chars % 10` with
  *     `doc_id % 17 = 0` rows abstaining (NULL answer).
  *   - PAIRED GRADES: system A correct = `n_chars % 7 = 0`, system B
  *     correct = `n_chars % 5 = 0`; `doc_id % 31 = 0` rows ungraded
  *     by A, `doc_id % 37 = 0` by B (exercises the skip path).
  *   - ANNOTATIONS: labelA = `n_chars % 3`, labelB =
  *     `(n_chars + doc_id) % 3`; `doc_id % 23 = 0` rows unlabeled by
  *     A (NULL is a real label class).
  */
object EvalQueries {

  /** The q_chrf oracle: whitespace-stripped char n-grams n = 1..6 per
    * side, clipped matches, per-order P/R, order-averages over the
    * measurable orders, β = 2 fold — every sum in the fixed 1..6
    * textual order (the ngramOverlap wide-column replay).
    */
  private def chrfOracle: String = {
    val ns = 1 to 6
    val wideCols = ns.map(n =>
      s"""    sum(CASE WHEN n=$n THEN m END) AS m$n, sum(CASE WHEN n=$n THEN dc END) AS dc$n, sum(CASE WHEN n=$n THEN dr END) AS dr$n""")
      .mkString(",\n")
    def measSum(d: String) = ns.map(n =>
      s"CASE WHEN coalesce($d$n,0) > 0 THEN 1 ELSE 0 END").mkString(" + ")
    def ratioSum(d: String) = ns.map(n =>
      s"CASE WHEN coalesce($d$n,0) > 0 THEN CAST(m$n AS DOUBLE)/CAST($d$n AS DOUBLE) ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id AS id,
       |    regexp_replace(substring(text, 1,
       |      CAST(greatest(CAST(floor(length(text) * 4 / 5) AS BIGINT), 1) AS INT)),
       |      '\\s+', '', 'g') AS c,
       |    regexp_replace(text, '\\s+', '', 'g') AS r
       |  FROM documents),
       |cg AS (
       |  SELECT id, n, unnest(list_transform(range(1, length(c) - n + 2),
       |      i -> substring(c, CAST(i AS INT), CAST(n AS INT)))) AS g
       |  FROM tk, unnest(generate_series(1, 6)) AS gg(n)
       |  WHERE length(c) >= n),
       |rg AS (
       |  SELECT id, n, unnest(list_transform(range(1, length(r) - n + 2),
       |      i -> substring(r, CAST(i AS INT), CAST(n AS INT)))) AS g
       |  FROM tk, unnest(generate_series(1, 6)) AS gg(n)
       |  WHERE length(r) >= n),
       |ccnt AS (SELECT id, n, g, CAST(count(*) AS BIGINT) AS cc FROM cg GROUP BY 1,2,3),
       |rcnt AS (SELECT id, n, g, CAST(count(*) AS BIGINT) AS cr FROM rg GROUP BY 1,2,3),
       |j AS (SELECT coalesce(cc.id, rc.id) AS id, coalesce(cc.n, rc.n) AS n,
       |    least(coalesce(cc.cc, 0), coalesce(rc.cr, 0)) AS m,
       |    coalesce(cc.cc, 0) AS dc, coalesce(rc.cr, 0) AS dr
       |  FROM ccnt cc FULL OUTER JOIN rcnt rc
       |    ON cc.id = rc.id AND cc.n = rc.n AND cc.g = rc.g),
       |pern AS (SELECT id, n, CAST(sum(m) AS BIGINT) AS m,
       |    CAST(sum(dc) AS BIGINT) AS dc, CAST(sum(dr) AS BIGINT) AS dr
       |  FROM j GROUP BY 1, 2),
       |wide AS (SELECT id,
       |$wideCols
       |  FROM pern GROUP BY id),
       |lens AS (SELECT id, CAST(length(c) AS BIGINT) AS len_cand,
       |    CAST(length(r) AS BIGINT) AS len_ref FROM tk),
       |fin AS (SELECT l.id, len_cand, len_ref,
       |    ${measSum("dc")} AS mp, ${measSum("dr")} AS mr,
       |    ${ratioSum("dc")} AS sp, ${ratioSum("dr")} AS sr
       |  FROM lens l LEFT JOIN wide w USING (id))
       |SELECT id, len_cand, len_ref,
       |  CASE WHEN mp > 0 THEN floor(sp / mp * 1e4) / 1e4 END AS chrp,
       |  CASE WHEN mr > 0 THEN floor(sr / mr * 1e4) / 1e4 END AS chrr,
       |  CASE WHEN mp > 0 AND mr > 0 THEN
       |    CASE WHEN sp / mp + sr / mr > 0.0
       |      THEN floor(5.0 * (sp / mp) * (sr / mr)
       |        / (4.0 * (sp / mp) + (sr / mr)) * 1e4) / 1e4
       |      ELSE 0.0 END
       |  END AS chrf2
       |FROM fin
       |ORDER BY id""".stripMargin
  }

  /** The recursive LCS dynamic program over `p`(pid, ca, cb): row i of
    * the DP table per pair, the inner j-loop flattened through the
    * prefix-max identity; row len(ca) holds the LCS length at [len(cb) + 1].
    */
  private val lcsRowsSql: String =
    """dp(pid, i, row) AS (
      |  SELECT pid, 0, list_transform(range(0, len(cb) + 1), x -> CAST(0 AS BIGINT))
      |  FROM p
      |  UNION ALL
      |  SELECT q.pid AS pid, d.i + 1 AS i,
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(q.cb) + 1), j ->
      |        greatest(d.row[j + 1],
      |          list_max(list_transform(range(1, j + 1), k ->
      |            d.row[k] + CASE WHEN q.ca[d.i + 1] = q.cb[k]
      |              THEN 1 ELSE 0 END))))) AS row
      |  FROM dp d JOIN p q ON q.pid = d.pid AND d.i < len(q.ca))""".stripMargin

  val all: Seq[Q] = Seq(

    // C87: Cochran's Q across three graded "systems" (the n_chars mod
    // families), with system c skipping every 41st item to exercise
    // the incomplete-block exclusion. Exact integer counts, decimal
    // square lanes, one double division, 4-dp floor.
    Q(
      "q_cochran_q",
      """WITH g AS (
        |  SELECT doc_id AS i, 'a' AS s, (n_chars % 7 = 0) AS x FROM documents
        |  UNION ALL SELECT doc_id, 'b', (n_chars % 5 = 0) FROM documents
        |  UNION ALL SELECT doc_id, 'c', (n_chars % 3 = 0) FROM documents
        |    WHERE doc_id % 41 != 0),
        |t AS (SELECT i, s, CASE WHEN x THEN 1 ELSE 0 END AS x FROM g),
        |kk AS (SELECT count(DISTINCT s) AS k FROM t),
        |pi AS (SELECT i, count(*) AS n, sum(x) AS l FROM t GROUP BY 1),
        |it AS (SELECT pi.i, pi.n, pi.l, (pi.n = kk.k) AS complete
        |  FROM pi CROSS JOIN kk),
        |li AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN complete THEN 1 END), 0) AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(CASE WHEN NOT complete THEN 1 END), 0) AS BIGINT) AS n_excluded,
        |    CAST(coalesce(sum(CASE WHEN complete THEN l END), 0) AS BIGINT) AS sl,
        |    CAST(coalesce(sum(CASE WHEN complete
        |      THEN CAST(l AS DECIMAL(19,0)) * CAST(l AS DECIMAL(19,0)) END), 0)
        |      AS DECIMAL(38,0)) AS sl2
        |  FROM it),
        |r AS (SELECT t.i, t.s, t.x FROM t JOIN it ON t.i = it.i AND it.complete),
        |gj AS (SELECT
        |    CAST(coalesce(sum(g), 0) AS BIGINT) AS sg,
        |    CAST(coalesce(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0))), 0)
        |      AS DECIMAL(38,0)) AS sg2
        |  FROM (SELECT s, sum(x) AS g FROM r GROUP BY 1)),
        |d AS (SELECT li.*, gj.*, kk.k, CAST(kk.k AS DOUBLE) AS kd
        |  FROM li CROSS JOIN gj CROSS JOIN kk)
        |SELECT n_items, n_excluded, CAST(k AS BIGINT) AS k,
        |  CASE WHEN k > 0 THEN k - 1 ELSE 0 END AS dof,
        |  CASE WHEN k < 2 OR (kd * CAST(sl AS DOUBLE) - CAST(sl2 AS DOUBLE)) <= 0.0
        |    THEN 0.0
        |    ELSE floor((kd - 1.0)
        |      * (kd * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |      / (kd * CAST(sl AS DOUBLE) - CAST(sl2 AS DOUBLE)) * 1e4) / 1e4 END AS q,
        |  (k < 2 OR (kd * CAST(sl AS DOUBLE) - CAST(sl2 AS DOUBLE)) <= 0.0)
        |    AS degenerate
        |FROM d""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val a = d.select(col("doc_id").as("i"), lit("a").as("s"),
        (col("n_chars") % 7 === 0).as("x"))
      val b = d.select(col("doc_id").as("i"), lit("b").as("s"),
        (col("n_chars") % 5 === 0).as("x"))
      val c = d.filter(col("doc_id") % 41 =!= 0)
        .select(col("doc_id").as("i"), lit("c").as("s"),
          (col("n_chars") % 3 === 0).as("x"))
      Eval.cochranQ(a.unionByName(b).unionByName(c),
        col("i"), col("s"), col("x"))
    },

    // C88: Friedman rank test across three scoring "systems" (mod
    // families, heavy ties), system c skipping every 43rd item —
    // within-item mid-ranks on exact 2·rank lanes, tie correction on
    // decimal cube lanes, exact replay.
    Q(
      "q_friedman",
      """WITH g AS (
        |  SELECT doc_id AS i, 'a' AS s, CAST(n_chars % 7 AS DOUBLE) AS v
        |  FROM documents
        |  UNION ALL SELECT doc_id, 'b', CAST(n_chars % 5 AS DOUBLE) FROM documents
        |  UNION ALL SELECT doc_id, 'c', CAST((n_chars + doc_id) % 9 AS DOUBLE)
        |    FROM documents WHERE doc_id % 43 != 0),
        |t AS (SELECT i, s, round(v, 6) AS v FROM g),
        |kk AS (SELECT count(DISTINCT s) AS k FROM t),
        |pi AS (SELECT i, count(*) AS n FROM t GROUP BY 1),
        |fl AS (SELECT pi.i, (pi.n = kk.k) AS complete FROM pi CROSS JOIN kk),
        |cnt AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN complete THEN 1 END), 0) AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(CASE WHEN NOT complete THEN 1 END), 0) AS BIGINT)
        |      AS n_excluded
        |  FROM fl),
        |r AS (SELECT t.i, t.s, t.v FROM t JOIN fl ON t.i = fl.i AND fl.complete),
        |vg AS (SELECT i, v, CAST(count(*) AS BIGINT) AS t FROM r GROUP BY 1, 2),
        |vc AS (SELECT i, v, t,
        |    coalesce(sum(t) OVER (PARTITION BY i ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    CAST(CAST(t AS DECIMAL(13,0)) * CAST(t AS DECIMAL(13,0))
        |      * CAST(t AS DECIMAL(13,0)) - t AS DECIMAL(38,0)) AS tc
        |  FROM vg),
        |ties AS (SELECT CAST(coalesce(sum(tc), 0) AS DECIMAL(38,0)) AS sumtc FROM vc),
        |ps AS (SELECT s, CAST(sum(cum * 2 + t + 1) AS BIGINT) AS sr2
        |  FROM r JOIN vc USING (i, v) GROUP BY s),
        |sq AS (SELECT sum(CAST(floor(CAST(sr2 AS DOUBLE) * CAST(sr2 AS DOUBLE)
        |    / 4.0 * 1e7) / 1e7 AS DECIMAL(30,7))) AS sq FROM ps),
        |d AS (SELECT cnt.n_items, cnt.n_excluded, kk.k,
        |    CAST(kk.k AS DOUBLE) AS kd, CAST(cnt.n_items AS DOUBLE) AS nd,
        |    sq.sq, ties.sumtc,
        |    CAST(CAST(CAST(cnt.n_items AS DECIMAL(13,0))
        |      * (CAST(kk.k AS DECIMAL(13,0)) * CAST(kk.k AS DECIMAL(13,0))
        |         * CAST(kk.k AS DECIMAL(13,0)) - kk.k) AS DECIMAL(38,0)) AS DOUBLE)
        |      AS nk3
        |  FROM cnt CROSS JOIN kk CROSS JOIN sq CROSS JOIN ties),
        |e AS (SELECT *,
        |    greatest(0.0, 12.0 / (nd * kd * (kd + 1.0)) * CAST(sq AS DOUBLE)
        |      - 3.0 * nd * (kd + 1.0)) AS chi2,
        |    1.0 - CAST(sumtc AS DOUBLE) / nk3 AS corr
        |  FROM d)
        |SELECT n_items, n_excluded, CAST(k AS BIGINT) AS k,
        |  CASE WHEN k > 0 THEN k - 1 ELSE 0 END AS dof,
        |  CASE WHEN k < 2 OR n_items < 1 OR corr <= 0.0 THEN 0.0
        |       ELSE floor(chi2 * 1e4) / 1e4 END AS chi2,
        |  CASE WHEN k < 2 OR n_items < 1 OR corr <= 0.0 THEN 0.0
        |       ELSE floor(chi2 / corr * 1e4) / 1e4 END AS chi2_adj,
        |  (k < 2 OR n_items < 1 OR corr <= 0.0) AS degenerate
        |FROM e""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val a = d.select(col("doc_id").as("i"), lit("a").as("s"),
        (col("n_chars") % 7).cast("double").as("v"))
      val b = d.select(col("doc_id").as("i"), lit("b").as("s"),
        (col("n_chars") % 5).cast("double").as("v"))
      val c = d.filter(col("doc_id") % 43 =!= 0)
        .select(col("doc_id").as("i"), lit("c").as("s"),
          ((col("n_chars") + col("doc_id")) % 9).cast("double").as("v"))
      Eval.friedman(a.unionByName(b).unionByName(c),
        col("i"), col("s"), col("v"))
    },

    // C139: Page's L trend test — four ORDERED "checkpoints" score
    // every doc with a planted upward tilt (+0.3 per step), every
    // 43rd doc misses checkpoint 4 (the incomplete-block exclusion
    // path). The fixture's ordinals are already 1..k, so the SQL
    // weight is j itself (the operator dense-ranks arbitrary
    // ordinals to the same 1..k).
    Q(
      "q_page_trend",
      """WITH g AS (
        |  SELECT doc_id AS i, j,
        |    round(CAST((n_chars + j * doc_id) % 11 AS DOUBLE) + j * 0.3, 6) AS v
        |  FROM documents CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j)
        |  WHERE NOT (j = 4 AND doc_id % 43 = 0)),
        |kk AS (SELECT count(DISTINCT j) AS k FROM g),
        |pi AS (SELECT i, count(*) AS n FROM g GROUP BY 1),
        |fl AS (SELECT pi.i, (pi.n = kk.k) AS complete FROM pi CROSS JOIN kk),
        |cnt AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN complete THEN 1 END), 0) AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(CASE WHEN NOT complete THEN 1 END), 0) AS BIGINT)
        |      AS n_excluded
        |  FROM fl),
        |r AS (SELECT g.i, g.j, g.v FROM g JOIN fl ON g.i = fl.i AND fl.complete),
        |vg AS (SELECT i, v, CAST(count(*) AS BIGINT) AS t FROM r GROUP BY 1, 2),
        |vc AS (SELECT i, v, t,
        |    coalesce(sum(t) OVER (PARTITION BY i ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM vg),
        |l2 AS (SELECT CAST(coalesce(sum(CAST(r.j AS DECIMAL(19,0))
        |      * (vc.cum * 2 + vc.t + 1)), 0) AS DECIMAL(38,0)) AS l2
        |  FROM r JOIN vc ON r.i = vc.i AND r.v = vc.v),
        |d AS (SELECT cnt.n_items, cnt.n_excluded, kk.k,
        |    CAST(cnt.n_items AS DOUBLE) AS nd, CAST(kk.k AS DOUBLE) AS kd,
        |    CAST(l2.l2 AS DOUBLE) / 2.0 AS l
        |  FROM cnt CROSS JOIN kk CROSS JOIN l2),
        |e AS (SELECT *,
        |    (l - nd * kd * (kd + 1.0) * (kd + 1.0) / 4.0)
        |      / sqrt(nd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0) AS zv,
        |    (k < 3 OR n_items < 1) AS degenerate
        |  FROM d)
        |SELECT n_items, n_excluded, CAST(k AS BIGINT) AS k,
        |  CASE WHEN degenerate THEN 0.0 ELSE floor(l * 1e4) / 1e4 END AS l_stat,
        |  CASE WHEN degenerate THEN 0.0
        |       ELSE sign(zv) * (floor(abs(zv) * 1e4) / 1e4) + 0.0 END AS z,
        |  (NOT degenerate) AND abs(zv) > 1.96 AS significant,
        |  degenerate
        |FROM e""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val steps = (1 to 4).map { j =>
        d.filter(if (j == 4) col("doc_id") % 43 =!= 0 else lit(true))
          .select(col("doc_id").as("i"), lit(j.toLong).as("j"),
            round((col("n_chars") + lit(j) * col("doc_id")) % 11 +
              lit(j * 0.3), 6).as("v"))
      }.reduce(_ unionByName _)
      Eval.pageTrend(steps, col("i"), col("j"), col("v"))
    },

    // D121: Wilson score intervals for per-problem pass rates — the
    // closed-form binomial CI on the pass_at_k rollout frame; exact
    // (n, successes) integers, the fixed textual interval derivation,
    // clamped bounds, 6-dp floors.
    Q(
      "q_wilson", {
        val z = 1.96
        val z2 = z * z
        s"""WITH t AS (
           |  SELECT doc_id % 40 AS grp, (n_chars % 7 = 0) AS ok FROM documents),
           |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CASE WHEN ok THEN 1 ELSE 0 END), 0) AS BIGINT)
           |      AS successes
           |  FROM t GROUP BY 1),
           |d AS (SELECT grp, n, successes,
           |    CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
           |    CAST(n AS DOUBLE) AS nd
           |  FROM g),
           |e AS (SELECT grp, n, successes, p, nd,
           |    1.0 + $z2 / nd AS denom FROM d)
           |SELECT grp, n, successes,
           |  floor(p * 1e6) / 1e6 AS rate,
           |  floor(greatest(0.0, (p + $z2 / (nd * 2.0)) / denom
           |    - $z * sqrt(p * (1.0 - p) / nd + $z2 / (nd * nd * 4.0)) / denom)
           |    * 1e6) / 1e6 AS ci_lo,
           |  floor(least(1.0, (p + $z2 / (nd * 2.0)) / denom
           |    + $z * sqrt(p * (1.0 - p) / nd + $z2 / (nd * nd * 4.0)) / denom)
           |    * 1e6) / 1e6 AS ci_hi
           |FROM e ORDER BY grp""".stripMargin
      }
    ) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select((col("doc_id") % 40).as("pk"), (col("n_chars") % 7 === 0).as("ok"))
      Eval.wilsonInterval(t, col("pk"), col("ok")).orderBy("grp")
    },

    // D118: chrF character n-gram F-score — candidate = the 4/5
    // character prefix, reference = the original text (the
    // q_ngram_overlap pairing at character level). Exact oracle: the
    // stripped strings, the 6 gram levels, clipped counts, and the
    // fixed-order averages replay on identical doubles.
    Q("q_chrf", chrfOracle) { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val cand = col("text").substr(lit(1),
        greatest(floor(length(col("text")) * 4 / 5), lit(1)).cast("int"))
      val pairs = d.select(col("id"), cand.as("cand"), col("text").as("ref"))
      Eval.chrF(pairs, col("id"), col("cand"), col("ref"))
        .orderBy("id")
    },

    // D134: ROUGE-L — reference = the doc, candidate = the doc with
    // every 4th token substituted (in-order agreement survives, the
    // substitutions cost LCS). The oracle replays the rolling-row DP
    // as a recursive CTE carrying the dp row as a list, with the
    // inner j-loop flattened through the prefix-max identity
    // dp'[j] = max(dp[j], max_{k≤j}(dp[k−1] + eq(i,k))).
    Q(
      "q_rouge_l",
      s"""WITH RECURSIVE d0 AS (
         |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents WHERE doc_id < 100),
         |p AS (
         |  SELECT doc_id AS pid,
         |    list_transform(tk, (t, i) ->
         |      CASE WHEN i % 4 = 0 THEN 'x' ELSE t END)[1:24] AS ca,
         |    tk[1:24] AS cb
         |  FROM d0),
         |$lcsRowsSql,
         |lc AS (
         |  SELECT d.pid, len(q.ca) AS n_cand, len(q.cb) AS n_ref,
         |    d.row[len(q.cb) + 1] AS lcs
         |  FROM dp d JOIN p q ON q.pid = d.pid AND d.i = len(q.ca))
         |SELECT pid AS id, CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_ref AS BIGINT) AS n_ref, CAST(lcs AS BIGINT) AS lcs,
         |  CASE WHEN n_cand > 0
         |    THEN floor(CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE) * 1e4) / 1e4
         |    END AS rouge_p,
         |  CASE WHEN n_ref > 0
         |    THEN floor(CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE) * 1e4) / 1e4
         |    END AS rouge_r,
         |  CASE WHEN n_cand > 0 AND n_ref > 0 THEN
         |    CASE WHEN CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE)
         |           + CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE) > 0.0
         |      THEN floor(2.0 * (CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE))
         |        * (CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE))
         |        / (CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE)
         |          + CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE)) * 1e4) / 1e4
         |      ELSE 0.0 END
         |    END AS rouge_lf
         |FROM lc ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").filter(col("doc_id") < 100)
      val cand = array_join(
        transform(graft.functions.tokens(col("text")),
          (t, i) => when((i + 1) % 4 === 0, lit("x")).otherwise(t)),
        " ")
      val pairs = d.select(col("doc_id").as("id"),
        cand.as("cand"), col("text").as("ref"))
      Eval.rougeL(pairs, col("id"), col("cand"), col("ref"), maxTokens = 24)
        .orderBy("id")
    },

    // D136: corpus self-similarity (the self-BLEU analog) — adjacent
    // doc pairs per source scored with ROUGE-L; group means on exact
    // 1e4 lanes. The mode-collapse detector for synthetic corpora.
    Q(
      "q_self_rouge",
      s"""WITH RECURSIVE d0 AS (
         |  SELECT source, doc_id, ${tkSql("text")} AS tk FROM documents),
         |ord AS (
         |  SELECT source, doc_id, tk,
         |    lead(tk) OVER (PARTITION BY source ORDER BY doc_id) AS tk2
         |  FROM d0),
         |p AS (
         |  SELECT doc_id AS pid, source, tk[1:24] AS ca, tk2[1:24] AS cb
         |  FROM ord WHERE tk2 IS NOT NULL),
         |$lcsRowsSql,
         |lc AS (
         |  SELECT q.source, len(q.ca) AS nc, len(q.cb) AS nr,
         |    d.row[len(q.cb) + 1] AS lcs
         |  FROM dp d JOIN p q ON q.pid = d.pid AND d.i = len(q.ca)),
         |f AS (
         |  SELECT source,
         |    CASE WHEN nc > 0 AND nr > 0 THEN
         |      CASE WHEN CAST(lcs AS DOUBLE) / CAST(nc AS DOUBLE)
         |             + CAST(lcs AS DOUBLE) / CAST(nr AS DOUBLE) > 0.0
         |        THEN floor(2.0 * (CAST(lcs AS DOUBLE) / CAST(nc AS DOUBLE))
         |          * (CAST(lcs AS DOUBLE) / CAST(nr AS DOUBLE))
         |          / (CAST(lcs AS DOUBLE) / CAST(nc AS DOUBLE)
         |            + CAST(lcs AS DOUBLE) / CAST(nr AS DOUBLE)) * 1e4) / 1e4
         |        ELSE 0.0 END
         |      END AS flf
         |  FROM lc)
         |SELECT source AS key, CAST(count(*) AS BIGINT) AS n_pairs,
         |  floor(CAST(sum(CAST(round(flf * 1e4) AS BIGINT)) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) / 1e4 AS mean_rouge_lf,
         |  max(flf) AS max_rouge_lf
         |FROM f GROUP BY 1 ORDER BY key""".stripMargin
    ) { (s, dir) =>
      Eval.selfSimilarity(table(s, dir, "documents"),
          col("source"), col("doc_id"), col("text"), maxTokens = 24)
        .orderBy("key")
    },

    // D90: unbiased pass@k (k = 4) per problem from sampled attempts.
    Q(
      "q_pass_at_k",
      """WITH t AS (
        |  SELECT doc_id % 40 AS problem_key, (n_chars % 7 = 0) AS ok
        |  FROM documents),
        |a AS (
        |  SELECT problem_key, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(coalesce(sum(CASE WHEN ok THEN 1 END), 0) AS BIGINT)
        |      AS n_correct
        |  FROM t GROUP BY 1)
        |SELECT problem_key, n_samples, n_correct,
        |  CASE
        |    WHEN n_samples < 4 THEN NULL
        |    WHEN n_samples - n_correct < 4 THEN CAST(1.0 AS DOUBLE)
        |    ELSE floor((CAST(1.0 AS DOUBLE)
        |      - CAST((n_samples - n_correct) * (n_samples - n_correct - 1)
        |             * (n_samples - n_correct - 2) * (n_samples - n_correct - 3)
        |          AS DOUBLE)
        |        / CAST(n_samples * (n_samples - 1) * (n_samples - 2)
        |             * (n_samples - 3) AS DOUBLE)) * 1e4) / 1e4
        |  END AS pass_at_4,
        |  n_samples < 4 AS undersampled
        |FROM a ORDER BY problem_key""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        (col("doc_id") % 40).as("pk"), (col("n_chars") % 7 === 0).as("ok"))
      Eval.passAtK(docs, col("pk"), col("ok"), k = 4).orderBy("problem_key")
    },

    // D91: self-consistency majority vote with abstentions.
    Q(
      "q_majority_vote",
      """WITH t AS (
        |  SELECT doc_id % 40 AS problem_key,
        |    CASE WHEN doc_id % 17 = 0 THEN NULL
        |         ELSE CAST(n_chars % 10 AS VARCHAR) END AS answer
        |  FROM documents),
        |v AS (
        |  SELECT problem_key, answer, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY 1, 2),
        |top AS (
        |  SELECT problem_key, answer AS consensus, cnt AS consensus_votes,
        |    row_number() OVER (PARTITION BY problem_key
        |      ORDER BY cnt DESC, answer ASC) AS rn
        |  FROM v WHERE answer IS NOT NULL),
        |a AS (
        |  SELECT problem_key, CAST(sum(cnt) AS BIGINT) AS n_samples,
        |    CAST(coalesce(sum(cnt) FILTER (WHERE answer IS NOT NULL), 0)
        |      AS BIGINT) AS n_voted,
        |    CAST(count(answer) AS BIGINT) AS n_distinct_answers
        |  FROM v GROUP BY 1)
        |SELECT a.problem_key, a.n_samples, a.n_voted, a.n_distinct_answers,
        |  w.consensus, w.consensus_votes,
        |  CASE WHEN a.n_voted > 0 THEN
        |    floor(CAST(w.consensus_votes AS DOUBLE) / a.n_voted * 1e4) / 1e4
        |  END AS agreement
        |FROM a LEFT JOIN (SELECT * FROM top WHERE rn = 1) w
        |  ON a.problem_key = w.problem_key
        |ORDER BY a.problem_key""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        (col("doc_id") % 40).as("pk"),
        when(col("doc_id") % 17 === 0, lit(null))
          .otherwise((col("n_chars") % 10).cast("string")).as("ans"))
      Eval.majorityVote(docs, col("pk"), col("ans")).orderBy("problem_key")
    },

    // D92: McNemar paired comparison of two graders on the same items.
    Q(
      "q_mcnemar",
      """WITH t AS (
        |  SELECT
        |    CASE WHEN doc_id % 31 = 0 THEN NULL
        |         ELSE (n_chars % 7 = 0) END AS a,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL
        |         ELSE (n_chars % 5 = 0) END AS b
        |  FROM documents),
        |g AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL
        |      THEN 1 END), 0) AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(CASE WHEN a IS NULL OR b IS NULL
        |      THEN 1 END), 0) AS BIGINT) AS n_skipped,
        |    CAST(coalesce(sum(CASE WHEN a AND b THEN 1 END), 0) AS BIGINT)
        |      AS both_correct,
        |    CAST(coalesce(sum(CASE WHEN NOT a AND NOT b THEN 1 END), 0)
        |      AS BIGINT) AS neither_correct,
        |    CAST(coalesce(sum(CASE WHEN a AND NOT b THEN 1 END), 0) AS BIGINT)
        |      AS a_only,
        |    CAST(coalesce(sum(CASE WHEN NOT a AND b THEN 1 END), 0) AS BIGINT)
        |      AS b_only
        |  FROM t),
        |c AS (
        |  SELECT *,
        |    a_only + b_only AS disc,
        |    CASE WHEN a_only + b_only = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE floor(CAST((abs(a_only - b_only) - 1)
        |          * (abs(a_only - b_only) - 1) AS DOUBLE)
        |        / CAST(a_only + b_only AS DOUBLE) * 1e4) / 1e4
        |    END AS chi2
        |  FROM g)
        |SELECT n_items, n_skipped, both_correct, neither_correct,
        |  a_only, b_only,
        |  CASE WHEN n_items > 0 THEN
        |    floor(CAST(both_correct + a_only AS DOUBLE) / n_items * 1e4) / 1e4
        |  END AS acc_a,
        |  CASE WHEN n_items > 0 THEN
        |    floor(CAST(both_correct + b_only AS DOUBLE) / n_items * 1e4) / 1e4
        |  END AS acc_b,
        |  chi2,
        |  disc > 0 AND chi2 > CAST(3.8415 AS DOUBLE) AS significant
        |FROM c""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        when(col("doc_id") % 31 === 0, lit(null))
          .otherwise(col("n_chars") % 7 === 0).as("a"),
        when(col("doc_id") % 37 === 0, lit(null))
          .otherwise(col("n_chars") % 5 === 0).as("b"))
      Eval.mcnemar(docs, col("a"), col("b"))
    },

    // D93: Cohen's kappa between two deterministic annotators; NULL
    // (unlabeled by A) is a real class.
    Q(
      "q_cohen_kappa",
      """WITH t AS (
        |  SELECT
        |    CASE WHEN doc_id % 23 = 0 THEN NULL
        |         ELSE CAST(n_chars % 3 AS VARCHAR) END AS la,
        |    CAST((n_chars + doc_id) % 3 AS VARCHAR) AS lb
        |  FROM documents),
        |cells AS (
        |  SELECT la, lb, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT la, CAST(sum(cnt) AS BIGINT) AS row_n FROM cells GROUP BY 1),
        |c AS (SELECT lb, CAST(sum(cnt) AS BIGINT) AS col_n FROM cells GROUP BY 1),
        |pe AS (
        |  SELECT CAST(coalesce(sum(r.row_n * c.col_n), 0) AS BIGINT) AS pe_num
        |  FROM r JOIN c ON r.la IS NOT DISTINCT FROM c.lb),
        |tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(CASE WHEN la IS NOT DISTINCT FROM lb
        |      THEN cnt END), 0) AS BIGINT) AS n_agree
        |  FROM cells)
        |SELECT n_items, n_agree,
        |  floor(CAST(n_agree AS DOUBLE) / n_items * 1e4) / 1e4 AS p_observed,
        |  floor(CAST(pe_num AS DOUBLE) / (CAST(n_items AS DOUBLE)
        |    * CAST(n_items AS DOUBLE)) * 1e4) / 1e4 AS p_expected,
        |  CASE WHEN pe_num = n_items * n_items THEN CAST(0.0 AS DOUBLE)
        |    ELSE sign((CAST(n_agree AS DOUBLE) / n_items
        |        - CAST(pe_num AS DOUBLE) / (CAST(n_items AS DOUBLE)
        |            * CAST(n_items AS DOUBLE)))
        |      / (CAST(1.0 AS DOUBLE) - CAST(pe_num AS DOUBLE)
        |          / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))))
        |      * (floor(abs((CAST(n_agree AS DOUBLE) / n_items
        |        - CAST(pe_num AS DOUBLE) / (CAST(n_items AS DOUBLE)
        |            * CAST(n_items AS DOUBLE)))
        |      / (CAST(1.0 AS DOUBLE) - CAST(pe_num AS DOUBLE)
        |          / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))))
        |        * 1e4) / 1e4) + 0.0
        |  END AS kappa,
        |  pe_num = n_items * n_items AS degenerate
        |FROM tot CROSS JOIN pe""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        when(col("doc_id") % 23 === 0, lit(null))
          .otherwise((col("n_chars") % 3).cast("string")).as("la"),
        ((col("n_chars") + col("doc_id")) % 3).cast("string").as("lb"))
      Eval.cohenKappa(docs, col("la"), col("lb"))
    },

    // D110: Fleiss' kappa over a synthetic rater pool — ~97 items,
    // each rated by its doc_id-residue cohort, category = n_chars % 4,
    // every 41st rating unlabeled (dropped). The oracle replays the
    // exact lanes: integer n_ij/c_j² arithmetic, P_i truncated to a
    // 7-dp decimal before the order-independent mean, 4-dp reporting.
    Q(
      "q_fleiss_kappa",
      """WITH r AS (
        |  SELECT CAST(doc_id % 97 AS VARCHAR) AS i,
        |    CASE WHEN doc_id % 41 = 0 THEN NULL
        |         ELSE CAST(n_chars % 4 AS VARCHAR) END AS c
        |  FROM documents),
        |rr AS (SELECT i, c FROM r WHERE i IS NOT NULL AND c IS NOT NULL),
        |cells AS (SELECT i, c, CAST(count(*) AS BIGINT) AS nij
        |          FROM rr GROUP BY 1, 2),
        |items AS (
        |  SELECT i, CAST(sum(nij) AS BIGINT) AS ni,
        |    CAST(sum(nij * nij) AS BIGINT) AS ssq
        |  FROM cells GROUP BY 1 HAVING CAST(sum(nij) AS BIGINT) >= 2),
        |pb AS (
        |  SELECT coalesce(sum(CAST(floor(
        |      CAST(ssq - ni AS DOUBLE) / CAST(ni * (ni - 1) AS DOUBLE) * 1e7)
        |      / 1e7 AS DECIMAL(18,7))), CAST(0 AS DECIMAL(18,7))) AS pnum,
        |    CAST(count(*) AS BIGINT) AS n_items
        |  FROM items),
        |cat AS (SELECT c, CAST(sum(nij) AS BIGINT) AS cj
        |        FROM cells JOIN items USING (i) GROUP BY c),
        |ch AS (
        |  SELECT coalesce(sum(CAST(cj AS DECIMAL(38,0)) * CAST(cj AS DECIMAL(38,0))),
        |      CAST(0 AS DECIMAL(38,0))) AS csq,
        |    CAST(coalesce(sum(cj), 0) AS BIGINT) AS n_ratings,
        |    CAST(count(*) AS BIGINT) AS n_categories
        |  FROM cat)
        |SELECT n_items, n_ratings, n_categories,
        |  CASE WHEN n_items = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE floor(CAST(pnum AS DOUBLE) / CAST(n_items AS DOUBLE) * 1e4) / 1e4
        |  END AS p_bar,
        |  CASE WHEN n_items = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE floor(CAST(csq AS DOUBLE)
        |      / (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)) * 1e4) / 1e4
        |  END AS p_expected,
        |  CASE WHEN n_items = 0 OR CAST(csq AS DOUBLE)
        |      = CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE sign((CAST(pnum AS DOUBLE) / CAST(n_items AS DOUBLE)
        |        - CAST(csq AS DOUBLE)
        |          / (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)))
        |      / (CAST(1.0 AS DOUBLE) - CAST(csq AS DOUBLE)
        |          / (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE))))
        |      * (floor(abs((CAST(pnum AS DOUBLE) / CAST(n_items AS DOUBLE)
        |        - CAST(csq AS DOUBLE)
        |          / (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)))
        |      / (CAST(1.0 AS DOUBLE) - CAST(csq AS DOUBLE)
        |          / (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE))))
        |        * 1e4) / 1e4) + 0.0
        |  END AS kappa,
        |  (n_items = 0 OR CAST(csq AS DOUBLE)
        |    = CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)) AS degenerate
        |FROM pb CROSS JOIN ch""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        pmod(col("doc_id"), lit(97L)).as("it"),
        when(col("doc_id") % 41 === 0, lit(null))
          .otherwise((col("n_chars") % 4).cast("string")).as("cat"))
      Eval.fleissKappa(docs, col("it"), col("cat"))
    },

    // D116: Krippendorff's alpha over the same synthetic rater pool
    // family as D110 (89-item cohorts, 5 categories, 37-cycle
    // missing) — the oracle replays the coincidence-diagonal lanes,
    // integer margins, and the two final divisions.
    Q(
      "q_krippendorff",
      """WITH r AS (
        |  SELECT CAST(doc_id % 89 AS VARCHAR) AS i,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL
        |         ELSE CAST((n_chars + doc_id) % 5 AS VARCHAR) END AS c
        |  FROM documents),
        |rr AS (SELECT i, c FROM r WHERE i IS NOT NULL AND c IS NOT NULL),
        |cells AS (SELECT i, c, CAST(count(*) AS BIGINT) AS nic
        |          FROM rr GROUP BY 1, 2),
        |items AS (
        |  SELECT i, CAST(sum(nic) AS BIGINT) AS ni,
        |    CAST(sum(nic * (nic - 1)) AS BIGINT) AS diagnum
        |  FROM cells GROUP BY 1 HAVING CAST(sum(nic) AS BIGINT) >= 2),
        |aa AS (
        |  SELECT coalesce(sum(CAST(floor(
        |      CAST(diagnum AS DOUBLE) / CAST(ni - 1 AS DOUBLE) * 1e7) / 1e7
        |      AS DECIMAL(18,7))), CAST(0 AS DECIMAL(18,7))) AS asum,
        |    CAST(count(*) AS BIGINT) AS n_items
        |  FROM items),
        |mg AS (SELECT c, CAST(sum(nic) AS BIGINT) AS nc
        |       FROM cells JOIN items USING (i) GROUP BY c),
        |mm AS (
        |  SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS nn,
        |    coalesce(sum(CAST(nc AS DECIMAL(38,0)) * CAST(nc AS DECIMAL(38,0))),
        |      CAST(0 AS DECIMAL(38,0))) AS ncsq,
        |    CAST(count(*) AS BIGINT) AS n_categories
        |  FROM mg)
        |SELECT n_items, nn AS n_pairable, n_categories,
        |  CASE WHEN nn = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE floor((CAST(nn AS DOUBLE) - CAST(asum AS DOUBLE)) * 1e4) / 1e4
        |  END AS d_o,
        |  CASE WHEN nn < 2 OR (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |      - CAST(ncsq AS DOUBLE)) / (CAST(nn AS DOUBLE) - 1.0) <= 0.0
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE floor((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |      - CAST(ncsq AS DOUBLE)) / (CAST(nn AS DOUBLE) - 1.0) * 1e4) / 1e4
        |  END AS d_e,
        |  CASE WHEN nn < 2 OR (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |      - CAST(ncsq AS DOUBLE)) / (CAST(nn AS DOUBLE) - 1.0) <= 0.0
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE sign(1.0 - (CAST(nn AS DOUBLE) - CAST(asum AS DOUBLE))
        |        / ((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(ncsq AS DOUBLE))
        |          / (CAST(nn AS DOUBLE) - 1.0)))
        |      * (floor(abs(1.0 - (CAST(nn AS DOUBLE) - CAST(asum AS DOUBLE))
        |        / ((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(ncsq AS DOUBLE))
        |          / (CAST(nn AS DOUBLE) - 1.0))) * 1e4) / 1e4) + 0.0
        |  END AS alpha,
        |  (nn < 2 OR (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |    - CAST(ncsq AS DOUBLE)) / (CAST(nn AS DOUBLE) - 1.0) <= 0.0)
        |    AS degenerate
        |FROM aa CROSS JOIN mm""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        pmod(col("doc_id"), lit(89L)).as("it"),
        when(col("doc_id") % 37 === 0, lit(null))
          .otherwise(((col("n_chars") + col("doc_id")) % 5).cast("string"))
          .as("cat"))
      Eval.krippendorffAlpha(docs, col("it"), col("cat"))
    },

    // D137: Kendall's W — three deterministic pseudo-raters score every
    // doc on incomparable scales; the concordance of their ORDERINGS
    // replays from doubled midranks + the tie correction.
    Q(
      "q_kendall_w",
      """WITH lng AS (
        |  SELECT doc_id AS i, 'r1' AS r, CAST(n_chars AS DOUBLE) AS s FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'r2', CAST(n_chars + doc_id % 7 AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'r3', CAST(n_chars % 101 AS DOUBLE) FROM documents),
        |vf AS (SELECT r, s, CAST(count(*) AS BIGINT) AS cnt FROM lng GROUP BY 1, 2),
        |rk AS (
        |  SELECT r, s,
        |    2 * coalesce(sum(cnt) OVER (PARTITION BY r ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS rr
        |  FROM vf),
        |rw AS (SELECT lng.i, rk.rr FROM lng JOIN rk ON lng.r = rk.r AND lng.s = rk.s),
        |per AS (
        |  SELECT i, CAST(sum(rr) AS DECIMAL(19,0)) AS ri,
        |    CAST(count(*) AS BIGINT) AS mi
        |  FROM rw GROUP BY 1),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(ri * ri) AS sr2,
        |    max(mi) AS mmax, min(mi) AS mmin
        |  FROM per),
        |tt AS (
        |  SELECT CAST(sum(CAST(cnt AS DECIMAL(13,0)) * CAST(cnt AS DECIMAL(13,0))
        |      * CAST(cnt AS DECIMAL(13,0)) - CAST(cnt AS DECIMAL(13,0)))
        |      AS DECIMAL(38,0)) AS t,
        |    CAST(count(DISTINCT r) AS BIGINT) AS m
        |  FROM vf),
        |e AS (
        |  SELECT n, m, mmax, mmin,
        |    3.0 * CAST(sr2 AS DOUBLE)
        |      - 3.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) * 2.0 + 2.0) * (CAST(n AS DOUBLE) * 2.0 + 2.0)
        |        / 4.0 AS num,
        |    CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
        |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)
        |      - CAST(m AS DOUBLE) * CAST(t AS DOUBLE) AS den
        |  FROM mo CROSS JOIN tt)
        |SELECT n AS n_items, m AS n_raters,
        |  CASE WHEN m < 2 OR n < 2 OR mmax <> mmin OR mmax <> m OR den <= 0.0
        |    THEN 0.0
        |    ELSE floor(greatest(0.0, num / den) * 1e4) / 1e4 END AS w,
        |  (m < 2 OR n < 2 OR mmax <> mmin OR mmax <> m OR den <= 0.0) AS degenerate
        |FROM e""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val lng = d.select(col("doc_id").as("i"), lit("r1").as("r"),
          col("n_chars").cast("double").as("s"))
        .unionByName(d.select(col("doc_id").as("i"), lit("r2").as("r"),
          (col("n_chars") + col("doc_id") % 7).cast("double").as("s")))
        .unionByName(d.select(col("doc_id").as("i"), lit("r3").as("r"),
          (col("n_chars") % 101).cast("double").as("s")))
      Eval.kendallW(lng, col("i"), col("r"), col("s"))
    },

    // D113: multi-class classification report — truth = source, the
    // predictor mislabels every 7th doc as the phantom class 'noise'
    // (exercising the n_true=0 → recall NULL → macro-0 path) and every
    // 31st label is NULL (dropped). Exact oracle on integer cells +
    // 7-dp macro lanes.
    Q(
      "q_class_report",
      """WITH t AS (
        |  SELECT CASE WHEN doc_id % 31 = 0 THEN NULL ELSE source END AS y,
        |    CASE WHEN doc_id % 7 = 0 THEN 'noise' ELSE source END AS p
        |  FROM documents),
        |cells AS (SELECT y, p, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t WHERE y IS NOT NULL AND p IS NOT NULL GROUP BY 1, 2),
        |bt AS (SELECT y AS class, CAST(sum(cnt) AS BIGINT) AS n_true,
        |    CAST(coalesce(sum(CASE WHEN y = p THEN cnt END), 0) AS BIGINT) AS tp
        |  FROM cells GROUP BY 1),
        |bp AS (SELECT p AS class, CAST(sum(cnt) AS BIGINT) AS n_pred
        |  FROM cells GROUP BY 1),
        |cls AS (SELECT class FROM bt UNION SELECT class FROM bp),
        |per AS (SELECT c.class,
        |    coalesce(bt.n_true, 0) AS n_true, coalesce(bp.n_pred, 0) AS n_pred,
        |    coalesce(bt.tp, 0) AS tp
        |  FROM cls c LEFT JOIN bt USING (class) LEFT JOIN bp USING (class)),
        |pm AS (SELECT class, n_true, n_pred, tp,
        |    CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS pr,
        |    CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END AS rc
        |  FROM per),
        |pf AS (SELECT *, CASE WHEN pr IS NOT NULL AND rc IS NOT NULL THEN
        |    CASE WHEN pr + rc = 0 THEN 0.0 ELSE 2.0 * pr * rc / (pr + rc) END
        |  END AS f1 FROM pm),
        |mac AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(coalesce(sum(n_true), 0) AS BIGINT) AS n_true,
        |    CAST(coalesce(sum(n_pred), 0) AS BIGINT) AS n_pred,
        |    CAST(coalesce(sum(tp), 0) AS BIGINT) AS tp,
        |    sum(CAST(floor(coalesce(pr, 0.0) * 1e7) / 1e7 AS DECIMAL(18,7))) AS sp,
        |    sum(CAST(floor(coalesce(rc, 0.0) * 1e7) / 1e7 AS DECIMAL(18,7))) AS sr,
        |    sum(CAST(floor(coalesce(f1, 0.0) * 1e7) / 1e7 AS DECIMAL(18,7))) AS sf
        |  FROM pf)
        |SELECT class, n_true, n_pred, tp,
        |  floor(pr * 1e4) / 1e4 AS "precision",
        |  floor(rc * 1e4) / 1e4 AS recall,
        |  floor(f1 * 1e4) / 1e4 AS f1
        |FROM pf
        |UNION ALL
        |SELECT '__macro__', n_true, n_pred, tp,
        |  floor(CAST(sp AS DOUBLE) / k * 1e4) / 1e4,
        |  floor(CAST(sr AS DOUBLE) / k * 1e4) / 1e4,
        |  floor(CAST(sf AS DOUBLE) / k * 1e4) / 1e4
        |FROM mac
        |UNION ALL
        |SELECT '__micro__', n_true, n_pred, tp, a, a, a
        |FROM (SELECT n_true, n_pred, tp,
        |    CASE WHEN n_true > 0
        |      THEN floor(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) * 1e4) / 1e4
        |    END AS a FROM mac)
        |ORDER BY class""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        when(col("doc_id") % 31 === 0, lit(null)).otherwise(col("source")).as("y"),
        when(col("doc_id") % 7 === 0, lit("noise")).otherwise(col("source")).as("p"))
      Eval.classReport(d, col("y"), col("p")).orderBy("class")
    },

    // D112: BLEU/ROUGE n-gram overlap — candidate = the 4/5 token
    // truncation, reference = the original text (the corpus's own
    // planted-rendition pair family). The oracle replays the token
    // slice, the four gram levels, clipped-min counts, and the
    // sqrt(sqrt(product)) BLEU core on identical doubles.
    Q(
      "q_ngram_overlap",
      s"""WITH tk1 AS (
        |  SELECT doc_id AS id,
        |    ${tkSql("text")} AS rt
        |  FROM documents),
        |pairs AS (SELECT id, rt,
        |    rt[1:greatest(CAST(floor(len(rt) * 4 / 5) AS BIGINT), 1)] AS ct
        |  FROM tk1),
        |cg AS (
        |  SELECT id, n, unnest(list_transform(range(1, len(ct) - n + 2),
        |      i -> array_to_string(ct[i:i+n-1], ' '))) AS g
        |  FROM pairs, unnest(generate_series(1, 4)) AS gg(n)
        |  WHERE len(ct) >= n),
        |rg AS (
        |  SELECT id, n, unnest(list_transform(range(1, len(rt) - n + 2),
        |      i -> array_to_string(rt[i:i+n-1], ' '))) AS g
        |  FROM pairs, unnest(generate_series(1, 4)) AS gg(n)
        |  WHERE len(rt) >= n),
        |ccnt AS (SELECT id, n, g, CAST(count(*) AS BIGINT) AS cc
        |         FROM cg GROUP BY 1, 2, 3),
        |rcnt AS (SELECT id, n, g, CAST(count(*) AS BIGINT) AS cr
        |         FROM rg GROUP BY 1, 2, 3),
        |j AS (SELECT coalesce(c.id, r.id) AS id, coalesce(c.n, r.n) AS n,
        |    least(coalesce(cc, 0), coalesce(cr, 0)) AS m,
        |    coalesce(cc, 0) AS dc, coalesce(cr, 0) AS dr
        |  FROM ccnt c FULL OUTER JOIN rcnt r
        |    ON c.id = r.id AND c.n = r.n AND c.g = r.g),
        |pern AS (SELECT id, n, CAST(sum(m) AS BIGINT) AS m,
        |    CAST(sum(dc) AS BIGINT) AS dc, CAST(sum(dr) AS BIGINT) AS dr
        |  FROM j GROUP BY 1, 2),
        |wide AS (SELECT id,
        |    sum(CASE WHEN n=1 THEN m END) AS m1, sum(CASE WHEN n=1 THEN dc END) AS dc1, sum(CASE WHEN n=1 THEN dr END) AS dr1,
        |    sum(CASE WHEN n=2 THEN m END) AS m2, sum(CASE WHEN n=2 THEN dc END) AS dc2, sum(CASE WHEN n=2 THEN dr END) AS dr2,
        |    sum(CASE WHEN n=3 THEN m END) AS m3, sum(CASE WHEN n=3 THEN dc END) AS dc3, sum(CASE WHEN n=3 THEN dr END) AS dr3,
        |    sum(CASE WHEN n=4 THEN m END) AS m4, sum(CASE WHEN n=4 THEN dc END) AS dc4, sum(CASE WHEN n=4 THEN dr END) AS dr4
        |  FROM pern GROUP BY id),
        |lens AS (SELECT id, CAST(len(ct) AS BIGINT) AS len_cand,
        |    CAST(len(rt) AS BIGINT) AS len_ref FROM pairs)
        |SELECT l.id, len_cand, len_ref,
        |  CASE WHEN coalesce(dc1,0) > 0 THEN floor(CAST(m1 AS DOUBLE)/CAST(dc1 AS DOUBLE)*1e4)/1e4 END AS p1,
        |  CASE WHEN coalesce(dc2,0) > 0 THEN floor(CAST(m2 AS DOUBLE)/CAST(dc2 AS DOUBLE)*1e4)/1e4 END AS p2,
        |  CASE WHEN coalesce(dc3,0) > 0 THEN floor(CAST(m3 AS DOUBLE)/CAST(dc3 AS DOUBLE)*1e4)/1e4 END AS p3,
        |  CASE WHEN coalesce(dc4,0) > 0 THEN floor(CAST(m4 AS DOUBLE)/CAST(dc4 AS DOUBLE)*1e4)/1e4 END AS p4,
        |  CASE WHEN coalesce(dr1,0) > 0 THEN floor(CAST(m1 AS DOUBLE)/CAST(dr1 AS DOUBLE)*1e4)/1e4 END AS rouge1_recall,
        |  CASE WHEN coalesce(dr2,0) > 0 THEN floor(CAST(m2 AS DOUBLE)/CAST(dr2 AS DOUBLE)*1e4)/1e4 END AS rouge2_recall,
        |  CASE WHEN coalesce(dc1,0) > 0 AND coalesce(dc2,0) > 0
        |       AND coalesce(dc3,0) > 0 AND coalesce(dc4,0) > 0
        |    THEN floor(sqrt(sqrt(
        |        ((CAST(m1 AS DOUBLE)/CAST(dc1 AS DOUBLE))
        |         * (CAST(m2 AS DOUBLE)/CAST(dc2 AS DOUBLE)))
        |        * (CAST(m3 AS DOUBLE)/CAST(dc3 AS DOUBLE))
        |        * (CAST(m4 AS DOUBLE)/CAST(dc4 AS DOUBLE)))) * 1e4)/1e4
        |  END AS bleu_p,
        |  CASE WHEN len_ref > 0
        |    THEN floor(CAST(len_cand AS DOUBLE)/CAST(len_ref AS DOUBLE)*1e4)/1e4
        |  END AS length_ratio
        |FROM lens l LEFT JOIN wide w USING (id)
        |ORDER BY id""".stripMargin
    ) { (s, dir) =>
      import graft.functions.tokens
      val d = table(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val tk = tokens(col("text"))
      val cand = array_join(slice(tk, lit(1),
        greatest(floor(size(tk) * 4 / 5), lit(1)).cast("int")), " ")
      val pairs = d.select(col("id"), cand.as("cand"), col("text").as("ref"))
      Eval.ngramOverlap(pairs, col("id"), col("cand"), col("ref"))
        .orderBy("id")
    },

    // D104: retrieval quality vs a label-match gold set — brute top-10
    // per query scored against "same label as the query" relevance:
    // hits/P/R@10, MRR, binary nDCG@10. Discounts and ideal-DCG are
    // Scala-computed literals shared by both engines (log2 ulp
    // differences would poison the hash), DCG sums run in exact 7-dp
    // decimals.
    Q(
      "q_retrieval_metrics", {
        val k = 10
        val discCase = (1 to k).map(i =>
          s"WHEN rank = $i THEN CAST(${Eval.ndcgDiscount(i)} AS DECIMAL(11,7))")
          .mkString("CASE ", " ", " END")
        val idcgCase = (1 to k).map(m => s"WHEN $m THEN ${Eval.idcgAt(m)}")
          .mkString("CASE least(ng.n_gold, 10) ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
        s"""WITH c AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
           |q AS (
           |  SELECT vec_id AS query_id, v AS qv, label AS qlabel
           |  FROM c WHERE vec_id < 10),
           |s AS (
           |  SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, v) AS cs
           |  FROM q, c WHERE c.vec_id <> q.query_id),
           |r AS (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY round(cs, 6) DESC, vec_id) AS rank
           |  FROM s),
           |res AS (SELECT query_id, vec_id AS d, rank FROM r WHERE rank <= 10),
           |g AS (
           |  SELECT DISTINCT q.query_id, c.vec_id AS d
           |  FROM q JOIN c ON c.label = q.qlabel AND c.vec_id <> q.query_id),
           |ng AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_gold
           |       FROM g GROUP BY 1),
           |j AS (
           |  SELECT res.query_id, res.rank, g.d IS NOT NULL AS rel
           |  FROM res LEFT JOIN g
           |    ON g.query_id = res.query_id AND g.d = res.d),
           |pq AS (
           |  SELECT query_id,
           |    CAST(coalesce(sum(CASE WHEN rel THEN 1 END), 0) AS BIGINT) AS hits,
           |    min(CASE WHEN rel THEN rank END) AS first_rel,
           |    sum(CASE WHEN rel THEN $discCase END) AS dcg
           |  FROM j GROUP BY 1)
           |SELECT query_id, coalesce(ng.n_gold, 0) AS n_gold,
           |  coalesce(pq.hits, 0) AS hits,
           |  round(CAST(coalesce(pq.hits, 0) AS DOUBLE) / 10, 4) AS precision_at_10,
           |  CASE WHEN coalesce(ng.n_gold, 0) = 0 THEN CAST(0.0 AS DOUBLE)
           |    ELSE round(CAST(coalesce(pq.hits, 0) AS DOUBLE) / ng.n_gold, 4)
           |  END AS recall_at_10,
           |  CASE WHEN first_rel IS NULL THEN CAST(0.0 AS DOUBLE)
           |    ELSE round(1.0 / first_rel, 4) END AS mrr,
           |  CASE WHEN coalesce(ng.n_gold, 0) = 0 OR dcg IS NULL
           |    THEN CAST(0.0 AS DOUBLE)
           |    ELSE round(CAST(dcg AS DOUBLE) / ($idcgCase), 4)
           |  END AS ndcg_at_10
           |FROM pq FULL JOIN ng USING (query_id)
           |ORDER BY query_id""".stripMargin
      }
    ) { (s, dir) =>
      val e = table(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      val q = e.filter(col("vec_id") < 10)
      val results = graft.operators.Similarity.bruteForceTopK(
        corpus = e, queries = q,
        corpusId = col("vec_id"), corpusVec = col("v"),
        queryId = col("vec_id"), queryVec = col("v"), k = 10)
      val gold = q.select(col("vec_id").as("qid"), col("label").as("ql"))
        .join(e.select(col("vec_id").as("did"), col("label")),
          col("label") === col("ql") && col("did") =!= col("qid"))
        .select(col("qid"), col("did"))
      Eval.retrievalMetrics(results, col("query_id"), col("vec_id"),
          col("rank"), gold, col("qid"), col("did"), k = 10)
        .orderBy("query_id")
    },

    // D103: seeded Poisson-bootstrap CIs for per-type event-value
    // means — B=200 resamples, weights from the portable hash +
    // Poisson(1) inverse-CDF cuts, rank-based percentile bounds. The
    // oracle replays hash, cuts, decimal mean lanes, and the rank
    // formula verbatim; α/2 interpolates as the IEEE value Spark
    // computes (NOT the decimal literal 0.025 — they differ in the
    // last ulp and sit exactly on a ceil boundary at B=200).
    Q(
      "q_bootstrap_ci", {
        val alpha = 1.0 - 0.95
        val b = Sampling.hashBucketSql("(id * 10007 + r)")
        val cuts = Eval.poissonCuts
        val wExpr = cuts.zipWithIndex
          .map { case (c, w) => s"WHEN bkt <= $c THEN $w" }
          .mkString("CASE ", " ", s" ELSE ${cuts.size} END")
        s"""WITH e AS (
           |  SELECT event_type AS grp, event_id AS id, value AS v FROM events
        |  WHERE value IS NOT NULL),
           |pt AS (
           |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
           |    round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE)
           |      / count(*), 6) AS point_mean
           |  FROM e GROUP BY 1),
           |x AS (
           |  SELECT grp, id, v, unnest(range(0, 200)) AS r FROM e),
           |wt AS (
           |  SELECT grp, r, v, $wExpr AS w
           |  FROM (SELECT grp, id, v, r, $b AS bkt FROM x)),
           |m AS (
           |  SELECT grp, r,
           |    round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6)) * w) AS DOUBLE)
           |      / sum(w), 6) AS m
           |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0),
           |rk AS (
           |  SELECT grp, r, m,
           |    row_number() OVER (PARTITION BY grp ORDER BY m, r) AS rk,
           |    count(*) OVER (PARTITION BY grp) AS beff
           |  FROM m),
           |ci AS (
           |  SELECT grp,
           |    max(CASE WHEN rk = greatest(1, CAST(ceil(${alpha / 2} * beff) AS BIGINT))
           |        THEN m END) AS ci_lo,
           |    max(CASE WHEN rk = CAST(ceil(${1.0 - alpha / 2} * beff) AS BIGINT)
           |        THEN m END) AS ci_hi,
           |    CAST(max(beff) AS BIGINT) AS n_resamples
           |  FROM rk GROUP BY 1)
           |SELECT pt.grp AS group_key, pt.n, pt.point_mean,
           |  ci.ci_lo, ci.ci_hi, coalesce(ci.n_resamples, 0) AS n_resamples
           |FROM pt LEFT JOIN ci ON ci.grp = pt.grp
           |ORDER BY group_key""".stripMargin
      }
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      Eval.bootstrapCI(ev, col("event_type"), col("event_id"), col("value"),
          b = 200, level = 0.95)
        .orderBy("group_key")
    },

    // D142: rank-biased overlap between two per-language document
    // rankings (by chars vs by tokens) — "did swapping the scorer
    // change what the top of the list SHOWS?" Top-weighted where
    // Kendall τ is uniform; the geometric weights 9^(d−1)/(d·10^(d−1))
    // join in as exact decimal literals, so no libm pow() anywhere.
    Q(
      "q_rbo", {
        val depthVals = (1 to 20).map(d =>
          s"($d, ${BigInt(9).pow(d - 1)}, ${BigInt(d) * BigInt(10).pow(d - 1)})")
          .mkString(", ")
        s"""WITH d AS (
           |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS sa,
           |    CAST(len(${tkSql("text")}) AS DOUBLE) AS sb
           |  FROM documents),
           |r AS (
           |  SELECT lang, greatest(ra, rb) AS mr FROM (
           |    SELECT lang,
           |      row_number() OVER (PARTITION BY lang
           |        ORDER BY sa DESC, doc_id) AS ra,
           |      row_number() OVER (PARTITION BY lang
           |        ORDER BY sb DESC, doc_id) AS rb
           |    FROM d)
           |  WHERE ra <= 20 AND rb <= 20),
           |dep AS (SELECT * FROM (VALUES $depthVals) AS t(dd, n9, den)),
           |xd AS (
           |  SELECT lang, dd, n9, den, CAST(count(*) AS BIGINT) AS x
           |  FROM r JOIN dep ON dep.dd >= r.mr GROUP BY 1, 2, 3, 4),
           |terms AS (
           |  SELECT lang, dd, x,
           |    CAST(floor(CAST(CAST(x AS DECIMAL(19,0))
           |      * CAST(n9 AS DECIMAL(38,0)) AS DOUBLE)
           |      / CAST(CAST(den AS DECIMAL(38,0)) AS DOUBLE) * 1e9) / 1e9
           |      AS DECIMAL(28,9)) AS t
           |  FROM xd),
           |agg AS (
           |  SELECT lang, sum(t) AS s,
           |    coalesce(max(CASE WHEN dd = 20 THEN x END), 0) AS xk
           |  FROM terms GROUP BY lang)
           |SELECT d.lang AS group_key,
           |  coalesce(floor(CAST(xk AS DOUBLE) / 20 * 1e6) / 1e6, 0.0)
           |    AS overlap_at_k,
           |  coalesce(floor((CAST(1.0 AS DOUBLE) - CAST(9.0 AS DOUBLE) / 10)
           |    * CAST(s AS DOUBLE) * 1e6) / 1e6, 0.0) AS rbo
           |FROM (SELECT DISTINCT lang FROM d) d
           |LEFT JOIN agg ON agg.lang = d.lang
           |ORDER BY group_key""".stripMargin
      }
    ) { (s, dir) =>
      import graft.functions.tokens
      val d = graft.sources.Tables.load(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        col("n_chars").cast("double").as("sa"),
        size(tokens(col("text"))).cast("double").as("sb"))
      Eval.rbo(d, col("lang"), col("doc_id"), col("sa"), col("sb"), k = 20)
        .orderBy("group_key")
    }
  )
}
