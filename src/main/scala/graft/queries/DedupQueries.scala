package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.tokens
import graft.operators.{Dedup, Packing, Sampling, Similarity, TextMetrics}

/** Near-duplicate detection and similarity search (SURVEY §2.D2-D7).
  *
  * The testdata corpus has no planted near-duplicates at small SFs, so
  * each dedup query derives a deterministic perturbed rendition of
  * every document/embedding (truncation, an extra token, a nudged
  * vector component) and must find exactly those pairs. Where the
  * kernel is SQL-expressible (n-gram Jaccard, blocked cosine, ANN) the
  * oracle recomputes it independently in DuckDB; the seeded-hash
  * variants (MinHash, SimHash) are rows-only here and exactness-tested
  * in DedupSpec.
  */
object DedupQueries {

  /** The planted rendition's text: the first 4/5 of `text`'s tokens
    * (at least one), space-joined.
    */
  private def truncatedText(text: Column): Column =
    // tokens(text) bound as a lambda variable (array-wrap trick, see
    // functions.shingles): referencing it twice in one projection would
    // tokenize each row twice under interpreted HOF eval
    array_join(
      flatten(transform(array(tokens(text)), tk =>
        slice(tk, lit(1), greatest(floor(size(tk) * 4 / 5), lit(1)).cast("int")))),
      " ")

  /** `d`(id, text) ∪ its [[truncatedText]] renditions at id + 1000000. */
  private def withTruncated(d: DataFrame): DataFrame =
    d.unionByName(d.select(
      (col("id") + 1000000).as("id"), truncatedText(col("text")).as("text")))

  /** documents ∪ word-truncated rendition (first 4/5 of the tokens,
    * id + 1000000) — the planted near-dup corpus.
    */
  private def truncatedDocs(s: SparkSession, dir: String): DataFrame =
    // scaleOut BEFORE the (interpreted, tokenizing) truncation
    // projection: the raw text shuffles once and the expensive per-row
    // work runs at full parallelism instead of on the file's splits
    withTruncated(graft.operators.scaleOut(
      table(s, dir, "documents").select(col("doc_id").as("id"), col("text"))))

  /** [[truncatedDocs]] with an ABSOLUTE deterministic cap on the BASE
    * docs (hash-bucket order, doc_id tiebreak — the q_audit_* idiom)
    * BEFORE renditions derive, so every kept base doc keeps its
    * planted rendition and the frame is ≤ 2·cap rows at ANY scale
    * factor. This is what makes the composed-flagship oracles
    * sf1-feasible (r14: the uncapped minhash replay exhausted DuckDB's
    * address space) — the cap is inert below it (sf0.01's 600 docs
    * pass through untouched), and a TakeOrderedAndProject, never a
    * global sort, above it.
    */
  private def truncatedDocsCapped(s: SparkSession, dir: String,
      cap: Int): DataFrame = {
    val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
    val base = table(s, dir, "documents")
      .orderBy(bkt, col("doc_id")).limit(cap)
      .select(col("doc_id").as("id"), col("text"))
    withTruncated(graft.operators.scaleOut(base))
  }

  /** `tk0`(doc_id, tk): [[tkSql]] over `src`(doc_id, text). */
  private def tk0Sql(src: String): String =
    s"""tk0 AS (
       |  SELECT doc_id, ${tkSql("text")} AS tk
       |  FROM $src)""".stripMargin

  /** DuckDB twin of the truncated corpus over `src`(doc_id, text):
    * [[tk0Sql]] then `docs`(id, tk), renditions at doc_id + `offset`.
    */
  private def truncatedDocsFromSql(src: String, offset: Long = 1000000L): String =
    s"""${tk0Sql(src)},
       |docs AS (
       |  SELECT doc_id AS id, tk FROM tk0
       |  UNION ALL
       |  SELECT doc_id + $offset, tk[1:greatest(CAST(floor(len(tk) * 4 / 5) AS BIGINT), 1)] FROM tk0)""".stripMargin

  /** DuckDB twin of [[truncatedDocsCapped]] — ends in `docs`(id, tk). */
  private def truncatedDocsCappedSql(cap: Int): String = {
    val b = graft.operators.Sampling.hashBucketSql("doc_id")
    s"""tkc AS (
       |  SELECT doc_id, text FROM documents ORDER BY $b, doc_id LIMIT $cap),
       |${truncatedDocsFromSql("tkc")}""".stripMargin
  }

  /** DuckDB twin of [[truncatedDocs]]. */
  private val truncatedDocsSql: String = truncatedDocsFromSql("documents")

  /** `e`(id, v): every embedding as a DOUBLE list. */
  private val embeddingVecsSql: String =
    """e AS MATERIALIZED (
      |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** The ANN oracles' answer over `adc`(query_id, id, adc_dist): each
    * query's 5 nearest ids by 6-dp rounded distance, id tiebreak.
    */
  private val adcTop5Sql: String =
    """SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(adc_dist, 4) AS adc_dist
      |FROM (
      |  SELECT query_id, id AS vec_id, adc_dist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      round(adc_dist, 6) ASC, id ASC) AS rank
      |  FROM adc)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** CTE chain replaying [[graft.operators.Similarity]]'s power
    * iteration over the embeddings table — the q_embed_pc /
    * q_embed_abtt oracle core. Replayable at all because the kernel's
    * distributed sums ride INTEGER micro-unit lanes (per-row 7-dp
    * floor into longs: order-independent, no decimal→double cast
    * ambiguity, `.toDouble / 1e7` exact-then-correctly-rounded) and
    * everything else is row-local or driver-scalar IEEE arithmetic in
    * a fixed association order (the dot is a left fold on both
    * engines; norm/eigen sums are written out left-associatively
    * here to mirror the kernel's Array.sum). Ends with the carried
    * `w$rounds` holding the UNSIGNED iterate, plus `c` (centered
    * vectors), `mean`, and the id-carrying `e` in scope.
    */
  private def powerIterationCtes(d: Int, rounds: Int): String = {
    def lanes(term: Int => String): String =
      (1 to d).map(i =>
        s"CAST(sum(CAST(floor((${term(i)}) * 1e7) AS BIGINT)) AS BIGINT) AS s$i")
        .mkString(", ")
    def unlane: String =
      (1 to d).map(i => s"CAST(s$i AS DOUBLE) / 1e7").mkString("[", ", ", "]")
    val parts = Seq.newBuilder[String]
    parts += s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE len(embedding) = $d)""".stripMargin
    parts += s"""msum AS MATERIALIZED (
       |  SELECT ${lanes(i => s"v[$i]")}, count(*) AS n FROM e)""".stripMargin
    parts += s"""mean AS MATERIALIZED (
       |  SELECT ${(1 to d).map(i => s"CAST(s$i AS DOUBLE) / 1e7 / n").mkString("[", ", ", "]")} AS m
       |  FROM msum)""".stripMargin
    parts += s"""c AS MATERIALIZED (
       |  SELECT id, v, ${(1 to d).map(i => s"v[$i] - m[$i]").mkString("[", ", ", "]")} AS c
       |  FROM e, mean)""".stripMargin
    parts += s"""w0 AS MATERIALIZED (SELECT ${
      Seq.fill(d)(s"CAST(${1.0 / math.sqrt(d.toDouble)} AS DOUBLE)").mkString("[", ", ", "]")} AS w)"""
    val norm = (1 to d).map(i => s"s[$i] * s[$i]").mkString(" + ")
    for (r <- 1 to rounds) {
      parts += s"""mv$r AS MATERIALIZED (
         |  SELECT ${lanes(i => s"c[$i] * list_dot_product(c, w)")}
         |  FROM c, w${r - 1})""".stripMargin
      parts += s"""w$r AS MATERIALIZED (
         |  SELECT CASE WHEN sqrt($norm) > 0
         |    THEN list_transform(s, x -> x / sqrt($norm))
         |    ELSE (SELECT w FROM w${r - 1}) END AS w
         |  FROM (SELECT $unlane AS s FROM mv$r))""".stripMargin
    }
    parts += s"""mvE AS MATERIALIZED (
       |  SELECT ${lanes(i => s"c[$i] * list_dot_product(c, w)")}
       |  FROM c, w$rounds)""".stripMargin
    parts += s"""eig AS MATERIALIZED (
       |  SELECT (${(1 to d).map(i => s"s[$i] * w[$i]").mkString(" + ")}) AS eigen
       |  FROM (SELECT $unlane AS s FROM mvE), w$rounds)""".stripMargin
    parts += s"""piv AS MATERIALIZED (
       |  SELECT CASE WHEN w[pi] < 0 THEN -1.0 ELSE 1.0 END AS sgn
       |  FROM w$rounds, (SELECT i AS pi FROM w$rounds, unnest(generate_series(1, $d)) AS g(i)
       |                  ORDER BY abs(w[i]) DESC, i ASC LIMIT 1))""".stripMargin
    "WITH " + parts.result().mkString(",\n")
  }

  /** The q_embed_pc oracle: sign-pinned loadings + eigenvalue share. */
  private def embedPcOracle(d: Int = 64, rounds: Int = 8): String =
    s"""${powerIterationCtes(d, rounds)},
       |tot AS MATERIALIZED (
       |  SELECT CAST(sum(CAST(floor(list_dot_product(c, c) * 1e7) AS BIGINT)) AS DOUBLE)
       |    / 1e7 AS tv
       |  FROM c)
       |SELECT CAST(i - 1 AS INT) AS component_pos,
       |  floor(sgn * w[i] * 1e6) / 1e6 + 0.0 AS loading,
       |  CASE WHEN tv > 0 THEN floor(eigen / tv * 1e4) / 1e4 ELSE 0.0 END AS eigenvalue_share
       |FROM w$rounds, piv, eig, tot, unnest(generate_series(1, $d)) AS g(i)
       |ORDER BY component_pos""".stripMargin

  /** The q_embed_abtt oracle: project the pinned direction out of
    * every centered vector, removed_share vs the original norm.
    */
  private def embedAbttOracle(d: Int = 64, rounds: Int = 8): String =
    s"""${powerIterationCtes(d, rounds)},
       |u AS MATERIALIZED (
       |  SELECT list_transform(w, x -> sgn * x) AS u FROM w$rounds, piv)
       |SELECT id,
       |  floor((1.0 - list_dot_product(cp, cp) /
       |    (CASE WHEN list_dot_product(v, v) = 0.0 THEN 1.0
       |          ELSE list_dot_product(v, v) END))
       |    * 1e4) / 1e4 AS removed_share
       |FROM (
       |  SELECT id, v, ${(1 to d).map(i => s"c[$i] - u[$i] * p").mkString("[", ", ", "]")} AS cp
       |  FROM (SELECT id, v, c, u, list_dot_product(c, u) AS p FROM c, u))
       |ORDER BY id""".stripMargin

  /** CTE chain replaying [[graft.operators.Similarity.trainIvfCentroids]]
    * + the final assignment over an `e (id, v)` CTE the caller
    * provides — the IVF-family oracle core. Replayable because the
    * Lloyd re-estimation rides the integer micro-unit lanes (exact
    * sums / 1e7 / n) and the assignment distance ‖c‖² − 2·v·c is
    * row-local left-fold arithmetic with the first-min-index
    * tiebreak, identical IEEE on both engines. Rounds unroll
    * statically (no recursion — k is a TABLE, so auto-k callers work
    * unchanged); empty clusters keep their previous centroid via the
    * left join. Ends with `idx (id, v, cluster)` and `cen$iters` in
    * scope.
    */
  private def ivfLloydCtes(
      iters: Int, d: Int, kExpr: String, train: String = "e"): String = {
    def assign(name: String, cen: String, over: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT id, v, cluster FROM (
         |    SELECT id, v, cluster,
         |      row_number() OVER (PARTITION BY id ORDER BY d ASC, cluster ASC) AS rn
         |    FROM (
         |      SELECT e.id, e.v, c.cluster,
         |        list_dot_product(c.cen, c.cen) - list_dot_product(e.v, c.cen) * 2.0 AS d
         |      FROM $over e, $cen c))
         |  WHERE rn = 1)""".stripMargin
    val parts = Seq.newBuilder[String]
    // seed replay: distinct-vector pool keyed by min id, ordered by
    // SIGNED xxhash64(id) asc — chain the staged hashLong CTEs from
    // the fixed seed 42, re-sign the HUGEINT
    parts += s"""ivd AS (SELECT v, min(id) AS id FROM $train GROUP BY v),
       |ivh0 AS (SELECT id, v, 42::HUGEINT AS h FROM ivd),
       |${XxSql.hashLongCtes("ivh", "ivh0", "id", Seq("id", "v"), "ivhh")},
       |ivhs AS (SELECT id, v,
       |  CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS hs
       |  FROM ivhh),
       |cen0 AS MATERIALIZED (
       |  SELECT CAST(rn - 1 AS INT) AS cluster, v AS cen
       |  FROM (SELECT id, v, row_number() OVER (ORDER BY hs, id) AS rn FROM ivhs)
       |  WHERE rn <= ($kExpr))""".stripMargin
    var prev = "cen0"
    for (r <- 1 to iters) {
      parts += assign(s"asg$r", prev, train)
      parts += s"""mean$r AS MATERIALIZED (
         |  SELECT cluster, list(m ORDER BY pos) AS cen FROM (
         |    SELECT cluster, pos,
         |      CAST(sum(CAST(floor(x * 1e7) AS BIGINT)) AS DOUBLE) / 1e7 / count(*) AS m
         |    FROM (SELECT cluster, i AS pos, v[i] AS x
         |          FROM asg$r, unnest(generate_series(1, $d)) AS g(i))
         |    GROUP BY cluster, pos)
         |  GROUP BY cluster)""".stripMargin
      parts += s"""cen$r AS MATERIALIZED (
         |  SELECT c.cluster, coalesce(m.cen, c.cen) AS cen
         |  FROM $prev c LEFT JOIN mean$r m USING (cluster))""".stripMargin
      prev = s"cen$r"
    }
    parts += assign("idx", prev, "e") // final index: the FULL corpus
    parts.result().mkString(",\n")
  }

  /** Row-local cosine with the kernel's zero-norm guard, as SQL. */
  private def cosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0.0
       |  THEN 0.0
       |  ELSE list_dot_product($a, $b) /
       |    (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END""".stripMargin

  /** `probe`(query_id, qv, cluster): the 4 centroids of `cen` nearest
    * each query (ids < 10), centroid-id tiebreak.
    */
  private def ivfProbeSql(cen: String): String =
    s"""probe AS MATERIALIZED (
       |  SELECT query_id, qv, cluster FROM (
       |    SELECT q.id AS query_id, q.v AS qv, c.cluster,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_dot_product(c.cen, c.cen) - list_dot_product(q.v, c.cen) * 2.0 ASC,
       |        c.cluster ASC) AS pr
       |    FROM (SELECT id, v FROM e WHERE id < 10) q, $cen c)
       |  WHERE pr <= 4)""".stripMargin

  /** The q_ann_ivf oracle: 5 Lloyd rounds + nProbe=4 probing + top-5. */
  private def annIvfOracle: String =
    s"""WITH $embeddingVecsSql,
       |${ivfLloydCtes(iters = 5, d = 64, kExpr = "16")},
       |${ivfProbeSql("cen5")}
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cos_sim, 4) AS cos_sim
       |FROM (
       |  SELECT query_id, i.id AS vec_id,
       |    ${cosSql("i.v", "qv")} AS cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      round(${cosSql("i.v", "qv")}, 6) DESC, i.id ASC) AS rank
       |  FROM idx i JOIN probe USING (cluster)
       |  WHERE i.id != query_id)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The q_cluster_quality oracle: 3 Lloyd rounds (k=8), then the
    * simplified-silhouette / Davies-Bouldin arithmetic — per-point
    * distances row-local IEEE, s and a truncated to 7-dp decimals
    * before the cluster sums, the k×k DB pair max skipping
    * coincident-centroid pairs, 4-dp reporting (silhouette
    * toward-zero).
    */
  private def clusterQualityOracle: String =
    s"""WITH $embeddingVecsSql,
       |${ivfLloydCtes(iters = 3, d = 64, kExpr = "8")},
       |iv AS (SELECT id, cluster, v, list_dot_product(v, v) AS vv FROM idx),
       |pts AS (SELECT i.id, i.cluster, c.cluster AS j,
       |    sqrt(greatest(0.0, list_dot_product(c.cen, c.cen)
       |      - list_dot_product(i.v, c.cen) * 2.0 + i.vv)) AS d
       |  FROM iv i, cen3 c),
       |ab AS (SELECT id, cluster,
       |    min(CASE WHEN j = cluster THEN d END) AS a,
       |    min(CASE WHEN j != cluster THEN d END) AS b
       |  FROM pts GROUP BY id, cluster),
       |si AS (SELECT cluster,
       |    CAST(floor((CASE WHEN greatest(a, b) = 0.0 THEN 0.0
       |                     ELSE (b - a) / greatest(a, b) END) * 1e7) / 1e7
       |      AS DECIMAL(18,7)) AS sd,
       |    CAST(floor(a * 1e7) / 1e7 AS DECIMAL(18,7)) AS ad
       |  FROM ab),
       |pc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       |    sum(sd) AS ssum, sum(ad) AS asum FROM si GROUP BY cluster),
       |sg AS (SELECT p.cluster, CAST(p.asum AS DOUBLE) / p.n AS sig, c.cen
       |  FROM pc p JOIN cen3 c USING (cluster)),
       |pr AS (SELECT x.cluster AS cluster,
       |    CASE WHEN sqrt(greatest(0.0, list_dot_product(x.cen, x.cen)
       |        - list_dot_product(x.cen, y.cen) * 2.0
       |        + list_dot_product(y.cen, y.cen))) > 0.0
       |      THEN (x.sig + y.sig)
       |        / sqrt(greatest(0.0, list_dot_product(x.cen, x.cen)
       |            - list_dot_product(x.cen, y.cen) * 2.0
       |            + list_dot_product(y.cen, y.cen)))
       |    END AS r
       |  FROM sg x, sg y WHERE x.cluster != y.cluster),
       |db AS (SELECT cluster, max(r) AS dbr FROM pr GROUP BY cluster)
       |SELECT p.cluster, p.n,
       |  sign(CAST(p.ssum AS DOUBLE) / p.n)
       |    * (floor(abs(CAST(p.ssum AS DOUBLE) / p.n) * 1e4) / 1e4) + 0.0
       |    AS mean_silhouette,
       |  floor(CAST(p.asum AS DOUBLE) / p.n * 1e4) / 1e4 AS sigma,
       |  floor(dbr * 1e4) / 1e4 AS db_r
       |FROM pc p LEFT JOIN db USING (cluster)
       |ORDER BY cluster""".stripMargin

  /** The q_kcenter oracle: greedy farthest-point-first replay — the
    * xxhash64(min id) seed over the distinct-vector pool, then k−1
    * rounds each carrying the running min squared L2 (row-local IEEE
    * `‖c‖² − 2·v·c + ‖v‖²`, the annIvfOracle association) and taking
    * the (dm DESC, id ASC) top-1. Gaps floor-truncated 4 dp.
    */
  private def kCenterOracle(k: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |ev AS MATERIALIZED (SELECT id, v, list_dot_product(v, v) AS vv FROM e),
       |kcd AS (SELECT v, min(id) AS id FROM e GROUP BY v),
       |kch0 AS (SELECT id, v, 42::HUGEINT AS h FROM kcd),
       |${XxSql.hashLongCtes("kch", "kch0", "id", Seq("id", "v"), "kchh")},
       |kchs AS (SELECT id, v,
       |  CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS hs
       |  FROM kchh),
       |s0 AS MATERIALIZED (SELECT id, v FROM kchs ORDER BY hs, id LIMIT 1)""".stripMargin
    for (r <- 1 until k) {
      val prevPts = if (r == 1) "ev" else s"u${r - 1}"
      val prevCen = if (r == 1) "s0" else s"p${r - 1}"
      val prevDm = if (r == 1) "CAST('infinity' AS DOUBLE)" else "e.dm"
      parts += s"""u$r AS MATERIALIZED (
         |  SELECT e.id, e.v, e.vv,
         |    least($prevDm,
         |      list_dot_product(c.v, c.v) - list_dot_product(e.v, c.v) * 2.0 + e.vv) AS dm
         |  FROM $prevPts e CROSS JOIN $prevCen c)""".stripMargin
      parts += s"""p$r AS MATERIALIZED (
         |  SELECT id, v, dm FROM u$r ORDER BY dm DESC, id ASC LIMIT 1)""".stripMargin
    }
    val rows = (s"SELECT CAST(0 AS INT) AS rank, id, CAST(NULL AS DOUBLE) AS gap FROM s0" +:
      (1 until k).map(r =>
        s"SELECT CAST($r AS INT), id, floor(dm * 1e4) / 1e4 FROM p$r")).mkString("\nUNION ALL ")
    s"""WITH ${parts.result().mkString(",\n")}
       |SELECT rank, id, gap FROM (
       |$rows)
       |ORDER BY rank""".stripMargin
  }

  /** CTE chain replaying [[graft.operators.Similarity.trainPqCodebooks]]
    * over a 64-dim `(id, v)` source CTE — the PQ-family oracle core,
    * the Lloyd template per subspace: sliced subvectors, seeded
    * codebooks (the k distinct vectors with lowest xxhash64(min id),
    * sliced), `iters` rounds of
    * argmin assignment + integer-lane re-estimation. Ends with `sl`
    * and the final `bk$iters` codebook table in scope.
    */
  private def pqCtes(iters: Int, m: Int, subd: Int, src: String): String = {
    val k = 16
    val parts = Seq.newBuilder[String]
    parts += s"""sl AS MATERIALIZED (
       |  SELECT id, s AS sub, v[s * $subd + 1 : s * $subd + $subd] AS sv
       |  FROM $src, unnest(generate_series(0, ${m - 1})) AS g(s))""".stripMargin
    parts += s"""pqd AS (SELECT v, min(id) AS id FROM $src GROUP BY v),
       |pqh0 AS (SELECT id, v, 42::HUGEINT AS h FROM pqd),
       |${XxSql.hashLongCtes("pqh", "pqh0", "id", Seq("id", "v"), "pqhh")},
       |pqhs AS (SELECT id, v,
       |  CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS hs
       |  FROM pqhh),
       |bk0 AS MATERIALIZED (
       |  SELECT s AS sub, CAST(rn - 1 AS INT) AS code,
       |    v[s * $subd + 1 : s * $subd + $subd] AS cw
       |  FROM (SELECT id, v, row_number() OVER (ORDER BY hs, id) AS rn FROM pqhs) x,
       |    unnest(generate_series(0, ${m - 1})) AS g(s)
       |  WHERE rn <= $k)""".stripMargin
    var prev = "bk0"
    for (r <- 1 to iters) {
      parts += s"""cd$r AS MATERIALIZED (
         |  SELECT id, sub, sv, code FROM (
         |    SELECT id, sub, sv, code,
         |      row_number() OVER (PARTITION BY id, sub ORDER BY d ASC, code ASC) AS rn
         |    FROM (
         |      SELECT sl.id, sl.sub, sl.sv, b.code,
         |        list_dot_product(b.cw, b.cw) - list_dot_product(sl.sv, b.cw) * 2.0 AS d
         |      FROM sl JOIN $prev b USING (sub)))
         |  WHERE rn = 1)""".stripMargin
      parts += s"""mn$r AS MATERIALIZED (
         |  SELECT sub, code, list(m ORDER BY pos) AS cw FROM (
         |    SELECT sub, code, pos,
         |      CAST(sum(CAST(floor(x * 1e7) AS BIGINT)) AS DOUBLE) / 1e7 / count(*) AS m
         |    FROM (SELECT sub, code, i AS pos, sv[i] AS x
         |          FROM cd$r, unnest(generate_series(1, $subd)) AS g(i))
         |    GROUP BY sub, code, pos)
         |  GROUP BY sub, code)""".stripMargin
      parts += s"""bk$r AS MATERIALIZED (
         |  SELECT b.sub, b.code, coalesce(m.cw, b.cw) AS cw
         |  FROM $prev b LEFT JOIN mn$r m USING (sub, code))""".stripMargin
      prev = s"bk$r"
    }
    parts.result().mkString(",\n")
  }

  /** Subvector→codeword squared distance as the kernel's LEFT-FOLD
    * chain (the pqLut `aggregate` order — t1 + t2 + … is the same
    * IEEE association since the fold's 0.0 seed is an exact
    * identity over the non-negative squares).
    */
  private def pqLutChain(qcol: String, subd: Int): String =
    (1 to subd).map(p =>
      s"($qcol[sub * $subd + $p] - cw[$p]) * ($qcol[sub * $subd + $p] - cw[$p])")
      .mkString(" + ")

  /** ADC sum as adcDist's left fold over the sub-ordered LUT list. */
  private def adcChain(m: Int): String =
    (1 to m).map(s => s"l[$s]").mkString(" + ")

  /** PQ encode-under-final-books CTE body (the argmin projection). */
  private def pqEncodeSql(bk: String): String =
    s"""SELECT id, sub, code FROM (
       |    SELECT sl.id, sl.sub, b.code,
       |      row_number() OVER (PARTITION BY sl.id, sl.sub ORDER BY
       |        list_dot_product(b.cw, b.cw) - list_dot_product(sl.sv, b.cw) * 2.0 ASC,
       |        b.code ASC) AS rn
       |    FROM sl JOIN $bk b USING (sub))
       |  WHERE rn = 1""".stripMargin

  /** The q_ann_pq oracle: 3 codebook rounds, full-corpus encode,
    * per-query LUT, left-fold ADC, top-5.
    */
  private def annPqOracle: String =
    s"""WITH $embeddingVecsSql,
       |${pqCtes(iters = 3, m = 8, subd = 8, src = "e")},
       |enc AS MATERIALIZED (
       |  ${pqEncodeSql("bk3")}),
       |lut AS MATERIALIZED (
       |  SELECT query_id, sub, code, ${pqLutChain("qv", 8)} AS ld
       |  FROM (SELECT id AS query_id, v AS qv FROM e WHERE id < 10), bk3),
       |adc AS MATERIALIZED (
       |  SELECT query_id, id, ${adcChain(8)} AS adc_dist FROM (
       |    SELECT l.query_id, enc.id, list(l.ld ORDER BY l.sub) AS l
       |    FROM enc JOIN lut l USING (sub, code)
       |    WHERE enc.id != l.query_id
       |    GROUP BY l.query_id, enc.id))
       |$adcTop5Sql""".stripMargin

  /** The q_ann_ivfpq oracle (IVFADC): coarse Lloyd replay (3 rounds,
    * k=8), cell-relative residuals, residual codebook replay, the
    * nProbe=2 probe with a per-(query, cell) residual LUT, left-fold
    * ADC over the probed cells' members.
    */
  private def annIvfPqOracle: String =
    s"""WITH $embeddingVecsSql,
       |${ivfLloydCtes(iters = 3, d = 64, kExpr = "8")},
       |resid AS MATERIALIZED (
       |  SELECT i.id, i.cluster,
       |    list_transform(generate_series(1, 64), p -> i.v[p] - c.cen[p]) AS v
       |  FROM idx i JOIN cen3 c USING (cluster)),
       |${pqCtes(iters = 3, m = 8, subd = 8, src = "resid")},
       |pidx AS MATERIALIZED (
       |  SELECT r.id, r.cluster, enc.sub, enc.code
       |  FROM resid r JOIN (
       |    ${pqEncodeSql("bk3")}) enc USING (id)),
       |probe AS MATERIALIZED (
       |  SELECT query_id, cluster, qr FROM (
       |    SELECT q.id AS query_id, c.cluster,
       |      list_transform(generate_series(1, 64), p -> q.v[p] - c.cen[p]) AS qr,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_dot_product(c.cen, c.cen) - list_dot_product(q.v, c.cen) * 2.0 ASC,
       |        c.cluster ASC) AS pr
       |    FROM (SELECT id, v FROM e WHERE id < 10) q, cen3 c)
       |  WHERE pr <= 2),
       |lut AS MATERIALIZED (
       |  SELECT query_id, cluster, sub, code, ${pqLutChain("qr", 8)} AS ld
       |  FROM probe, bk3),
       |adc AS MATERIALIZED (
       |  SELECT query_id, id, ${adcChain(8)} AS adc_dist FROM (
       |    SELECT l.query_id, p.id, list(l.ld ORDER BY l.sub) AS l
       |    FROM pidx p JOIN lut l USING (cluster, sub, code)
       |    WHERE p.id != l.query_id
       |    GROUP BY l.query_id, p.id))
       |$adcTop5Sql""".stripMargin

  /** The q_lsh_plan oracle: the S-curve integral replayed on the
    * 9-dp integer lanes, one row per divisor band count.
    */
  private def lshPlanOracle: String = {
    val nPerms = 64
    val divisors = (1 to nPerms).filter(nPerms % _ == 0)
    s"""WITH g AS (
       |  SELECT (i + 0.5) / 1000.0 AS s
       |  FROM unnest(generate_series(0, 999)) AS t(i)),
       |br AS (
       |  SELECT CAST(b AS INT) AS b, CAST($nPerms // b AS INT) AS r
       |  FROM unnest(${divisors.mkString("[", ", ", "]")}) AS t(b)),
       |terms AS (
       |  SELECT b, r, s, 1.0 - pow(1.0 - pow(s, r), b) AS p FROM br, g),
       |agg AS (
       |  SELECT b, r,
       |    CAST(sum(CASE WHEN s < 0.5
       |      THEN CAST(floor(p * 1e9) AS BIGINT) ELSE 0 END) AS DOUBLE)
       |      / 1e9 / 1000 AS fpv,
       |    CAST(sum(CASE WHEN s >= 0.5
       |      THEN CAST(floor((1.0 - p) * 1e9) AS BIGINT) ELSE 0 END) AS DOUBLE)
       |      / 1e9 / 1000 AS fnv
       |  FROM terms GROUP BY b, r),
       |pl AS (
       |  SELECT b AS bands, r AS rows_per_band,
       |    floor(pow(1.0 - pow(0.5, 1.0 / b), 1.0 / r) * 1e6) / 1e6 AS s50,
       |    floor(fpv * 1e6) / 1e6 AS fp_area,
       |    floor(fnv * 1e6) / 1e6 AS fn_area,
       |    floor((fpv + fnv) * 1e6) / 1e6 AS cost
       |  FROM agg),
       |best AS (
       |  SELECT min(bands) AS bb FROM pl
       |  WHERE cost = (SELECT min(cost) FROM pl))
       |SELECT bands, rows_per_band, s50, fp_area, fn_area, cost,
       |  bands = bb AS recommended
       |FROM pl, best ORDER BY bands""".stripMargin
  }

  /** The q_hard_negatives oracle: the Lloyd replay (3 rounds, k=8)
    * plus the banded probe — identical to the q_ann_ivf probe but
    * with the [simLo, simHi) filter on the 6-dp sim key.
    */
  private def hardNegativesOracle: String =
    s"""WITH $embeddingVecsSql,
       |${ivfLloydCtes(iters = 3, d = 64, kExpr = "8")},
       |${ivfProbeSql("cen3")}
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cos_sim, 4) AS cos_sim
       |FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      round(cos_sim, 6) DESC, vec_id ASC) AS rank
       |  FROM (
       |    SELECT query_id, i.id AS vec_id,
       |      ${cosSql("i.v", "qv")} AS cos_sim
       |    FROM idx i JOIN probe USING (cluster)
       |    WHERE i.id != query_id)
       |  WHERE round(cos_sim, 6) >= 0.3 AND round(cos_sim, 6) < 0.9)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The q_dedup_semantic oracle: the full SemDeDup chain replayed —
    * perturbed-twin corpus, 25% hash-sample training (the portable
    * bucket formula), auto-k = max(16, ceil(n/200)), 2 Lloyd rounds
    * on the integer lanes, full-corpus assignment, within-cluster
    * cosine pairs at 0.995 (4-dp round, the kernel's), min-label CC
    * (ccUnrollSql — planted diameters are 1), min-id survivor
    * anti-join.
    */
  private def dedupSemanticOracle: String = {
    val bucket = Sampling.hashBucketSql("id")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    [CAST(embedding[1] AS DOUBLE) + 0.05] ||
       |      list_transform(embedding[2:64], x -> CAST(x AS DOUBLE))
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |ts AS MATERIALIZED (
       |  SELECT id, v FROM e WHERE $bucket < 250),
       |kk AS MATERIALIZED (
       |  SELECT greatest(16, CAST(ceil(count(*) / 200.0) AS INT)) AS k FROM e),
       |${ivfLloydCtes(iters = 2, d = 64, kExpr = "SELECT k FROM kk", train = "ts")},
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM idx a JOIN idx b ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE round(${cosSql("a.v", "b.v")}, 4) >= 0.995),
       |$pairsCcSql,
       |drops AS (SELECT id AS drop_id FROM l8 WHERE id != comp)
       |SELECT id AS vec_id FROM e
       |WHERE id NOT IN (SELECT drop_id FROM drops)
       |ORDER BY vec_id""".stripMargin
  }

  /** The min-label connected-components propagation unroll shared by
    * every CC-backed oracle (clusters, star twin, splits, entity
    * resolution): `rounds` iterations over a `sym` edge CTE and an
    * `l0` seed. ONE definition on purpose — five drifting copies of
    * this template is how oracles silently diverge (review).
    */
  private def ccUnrollSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.id,
         |    least(l.comp, coalesce((SELECT min(l2.comp)
         |      FROM sym e JOIN l${i - 1} l2 ON l2.id = e.b
         |      WHERE e.a = l.id), l.comp)) AS comp
         |  FROM l${i - 1} l)""".stripMargin
    }.mkString(",\n")

  /** Min-label CC over a `pairs`(id_a, id_b) CTE: both edge directions
    * `sym`, the seed `l0`, then [[ccUnrollSql]] → `l8`(id, comp).
    * MATERIALIZED: each round references the previous one twice;
    * inlined CTEs would re-evaluate the whole chain per reference
    * (exponential in rounds).
    */
  private val pairsCcSql: String =
    s"""sym AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS comp FROM sym),
       |${ccUnrollSql(8)}""".stripMargin

  /** `Dedup.ngramJaccard`'s df-capped 5-shingle index over `docs`(id,
    * tk): shingles `sh`, `rare` (df 2..20), `idx`,
    * `inter`(id_a, id_b, n_inter) and `sizes`(id, n_sh).
    */
  private val shingleIndexSql: String =
    """sh AS (
      |  SELECT DISTINCT id, array_to_string(tk[i:i+4], ' ') AS s
      |  FROM (SELECT id, tk, unnest(range(1, len(tk) - 3)) AS i
      |        FROM docs WHERE len(tk) >= 5)),
      |rare AS (
      |  SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 20),
      |idx AS (SELECT id, s FROM sh WHERE s IN (SELECT s FROM rare)),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.id < b.id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)""".stripMargin

  /** `pairs`(id_a, id_b) at Jaccard ≥ 0.5 from `inter`(id_a, id_b,
    * n_inter) and `sizes`(id, n_sh), then [[pairsCcSql]] →
    * `l8`(id, comp).
    */
  private val interClustersSql: String =
    s"""pairs AS (
       |  SELECT id_a, id_b
       |  FROM inter
       |  JOIN sizes na ON na.id = id_a
       |  JOIN sizes nb ON nb.id = id_b
       |  WHERE round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 4) >= 0.5),
       |$pairsCcSql""".stripMargin

  /** DuckDB twin of [[jaccardPairs]] over [[truncatedDocs]] fed to CC:
    * [[truncatedDocsSql]], [[shingleIndexSql]] and
    * [[interClustersSql]] → `l8`(id, comp). The oracle unrolls the
    * propagation 8 rounds (planted-corpus component diameters are
    * tiny, so it matches Spark's run to fixpoint).
    */
  private val jaccardClustersSql: String =
    s"""$truncatedDocsSql,
       |$shingleIndexSql,
       |$interClustersSql""".stripMargin

  /** q_dedup_clusters and q_dedup_clusters_star share one contract,
    * so one oracle: the component label of every paired doc.
    */
  private val dedupClustersOracle: String =
    s"""WITH $jaccardClustersSql
       |SELECT id, comp FROM l8 ORDER BY id""".stripMargin

  /** The entity-resolution fixture's originals, (id, nm, blk):
    * customer names carrying a decorrelating tag (custkey·7919 mod 1e5).
    */
  private def taggedCustomers(customer: DataFrame): DataFrame =
    customer.select(
      col("c_custkey").as("id"),
      concat(col("c_name"), lit("-"),
        pmod(col("c_custkey") * 7919L, lit(100000L))).as("nm"),
      col("c_nationkey").as("blk"))

  /** Typo twins of [[taggedCustomers]] rows at id + 1000000: the
    * character at position id % 10 + 5 dropped.
    */
  private def customerTypos(c0: DataFrame): DataFrame = {
    val p = (pmod(col("id"), lit(10L)) + 5).cast("int")
    c0.select(
      (col("id") + 1000000L).as("id"),
      concat(col("nm").substr(lit(1), p - 1),
        col("nm").substr(p + 1, lit(1000))).as("nm"),
      col("blk"))
  }

  /** DuckDB twin of [[taggedCustomers]] (`c0`) and [[customerTypos]]
    * (`t`) over `customer`.
    */
  private val customerTyposSql: String =
    """c0 AS (
      |  SELECT c_custkey AS id,
      |    c_name || '-' || (c_custkey * 7919) % 100000 AS nm,
      |    c_nationkey AS blk
      |  FROM customer),
      |t AS (
      |  SELECT id0 + 1000000 AS id,
      |    substr(nm, 1, p - 1) || substr(nm, p + 1) AS nm, blk
      |  FROM (SELECT id AS id0, CAST((id % 10) + 5 AS INT) AS p, nm, blk
      |        FROM c0))""".stripMargin

  /** The incremental exact-dedup fixture over `documents`(doc_id, text):
    * the corpus is doc_id < `split`; the shard holds the fresh docs, a
    * copy of every corpus doc (+1000000) and of every fresh doc
    * (+2000000).
    */
  private def incrementalShard(s: SparkSession, dir: String,
      split: Int): (DataFrame, DataFrame) = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") < split)
    val fresh = d.filter(col("doc_id") >= split)
    val shard = fresh
      .unionByName(corpus.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(fresh.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    (corpus, shard)
  }

  /** The oracle of both incremental exact-dedup queries over
    * [[incrementalShard]]: the shard's min-id winner per md5, minus
    * every text the corpus already holds.
    */
  private def incrementalDedupOracle(split: Int): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < $split),
       |shard AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= $split
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < $split
       |  UNION ALL
       |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id >= $split),
       |k AS (SELECT min(doc_id) AS keep_id FROM shard GROUP BY md5(text)),
       |surv AS (SELECT doc_id, text FROM shard
       |         WHERE doc_id IN (SELECT keep_id FROM k))
       |SELECT doc_id FROM surv
       |WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)
       |ORDER BY doc_id""".stripMargin

  /** Every source's distinct document fingerprints, `fp`(src, f), with
    * every 7th doc mirrored into a synthetic 'mirror' source.
    */
  private val mirroredSourcesSql: String =
    s"""u AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 7 = 0),
       |fp AS (
       |  SELECT DISTINCT source AS src,
       |    ${normFingerprintSql("text")} AS f
       |  FROM u)""".stripMargin

  /** DuckDB twin of the seeded hyperplane LSH bucket over the 64-dim
    * vector column `v`: 8 sign bits of `Similarity.hyperplanes(64, 8,
    * 42)`, the plane constants inlined.
    */
  private[queries] def lshBucketSql(v: String): String =
    Similarity.hyperplanes(dim = 64, nPlanes = 8, seed = 42L).zipWithIndex.map {
      case (p, i) =>
        val arr = p.mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product($v, $arr) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", "\n      + ", ")")

  /** `c`(c_custkey, c_name) as (id, t) ∪ a typo twin of every name
    * at id + 1000000: character 6 replaced by 'X'.
    */
  private def withNameTypos(c: DataFrame): DataFrame =
    c.select(col("c_custkey").as("id"), col("c_name").as("t"))
      .unionByName(c.select(
        (col("c_custkey") + 1000000).as("id"),
        concat(substring(col("c_name"), 1, 5), lit("X"),
          substring(col("c_name"), 7, 1000000)).as("t")))

  /** DuckDB twin of [[withNameTypos]] over `customer` (rows matching
    * `where`, when given): the CTE `u`(id, t).
    */
  private def nameTyposSql(where: String = ""): String = {
    val filter = if (where.isEmpty) "" else s" WHERE $where"
    s"""u AS (
       |  SELECT c_custkey AS id, c_name AS t FROM customer$filter
       |  UNION ALL
       |  SELECT c_custkey + 1000000,
       |    substr(c_name, 1, 5) || 'X' || substr(c_name, 7)
       |  FROM customer$filter)""".stripMargin
  }

  /** `embeddings` as (vec_id, v), the vector cast to a DOUBLE array. */
  private[queries] def embeddingVecs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The planted-boilerplate fixture, (doc_id, text): every fifth doc
    * ends with the same newsletter sentence.
    */
  private def boilerplateDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"),
          lit(" subscribe to our newsletter today for fresh offers")))
          .otherwise(col("text")).as("text"))

  /** DuckDB twin of [[boilerplateDocs]] (`d`), tokenized as
    * `tk0`(doc_id, tk).
    */
  private val boilerplateDocsSql: String =
    s"""d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN text ||
       |      ' subscribe to our newsletter today for fresh offers'
       |    ELSE text END AS text
       |  FROM documents),
       |tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM d)""".stripMargin

  /** The near-dup pairs every Jaccard-cluster query reads: 5-shingle
    * Jaccard ≥ 0.5 over a df ≤ 20 index.
    */
  private def jaccardPairs(docs: DataFrame): DataFrame =
    Dedup.ngramJaccard(docs, col("id"), col("text"),
      n = 5, dfCap = 20, threshold = 0.5)

  /** Shared CTE prefix for the MinHash oracles: the truncated corpus,
    * its 5-shingles, the [[XxSql]] xxhash64 replay, the affine
    * permutation signatures (params inlined from the engine's own
    * generator), and the 16 band buckets — everything through
    * `bkt`(id, b, sig, bucket). Exactly `Dedup.minHashSignatures` +
    * `minHashBuckets` semantics, replayed in DuckDB.
    */
  private[queries] def minHashOracleSql(tail: String, docsSql: String = truncatedDocsSql): String =
    s"""WITH RECURSIVE
       |$docsSql,
       |dsh AS (SELECT id, unnest(list_transform(range(1, len(tk)-3), i -> array_to_string(tk[i:i+4], ' '))) AS s
       |        FROM docs WHERE len(tk) >= 5),
       |shd AS (SELECT DISTINCT s FROM dsh),
       |${XxSql.xxh64Ctes("shd")},
       |hm AS (SELECT s, ((h % 2147483647) + 2147483647) % 2147483647 AS hm FROM hsx),
       |prm(j, a, b) AS (VALUES ${XxSql.minHashParamsValues(64)}),
       |sigj AS (SELECT d.id, p.j, min((t.hm * p.a + p.b) % 2147483647) AS v
       |         FROM dsh d JOIN hm t ON d.s = t.s CROSS JOIN prm p GROUP BY d.id, p.j),
       |sigl AS (SELECT id, list(v ORDER BY j) AS sig FROM sigj GROUP BY id),
       |hib(b, h0) AS (VALUES ${XxSql.bandSeedValues(16)}),
       |bk0 AS (SELECT id, b, sig, h0 AS h FROM sigl CROSS JOIN hib),
       |${XxSql.bandBucketCtes("bk0", "bkt", 4)},
       |$tail""".stripMargin

  /** est_jaccard = round(agree/64, 4) HALF_UP on integer lanes:
    * floor(agree·10⁴/64 + ½) = (agree·625 + 2) // 4, then /10⁴ —
    * engine-portable (DuckDB's round() half-rounds differently).
    */
  private[queries] val estJaccardSql =
    "(list_sum(list_transform(range(1, 65), i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))*625 + 2) // 4"

  /** MinHash candidate pairs over the band buckets `bkt`: buckets
    * holding 2..200 ids (`cap`), their in-bucket pairs (`cand`) and
    * the estimated-Jaccard lanes `est`(id_a, id_b, e4).
    */
  private val bucketPairsSql: String =
    s"""cap AS (SELECT id, bucket FROM (
       |          SELECT id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS nn FROM bkt)
       |        WHERE nn BETWEEN 2 AND 200),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM cap x JOIN cap y ON x.bucket = y.bucket AND x.id < y.id),
       |est AS (SELECT c.id_a, c.id_b, $estJaccardSql AS e4
       |        FROM cand c JOIN sigl sa ON c.id_a = sa.id JOIN sigl sb ON c.id_b = sb.id)""".stripMargin

  /** Audit-sample corpus: the truncated-docs corpus carrying BOTH the
    * token list and the winnowable STRING form (raw text for base ids,
    * space-joined sliced tokens for renditions — exactly what
    * `truncatedDocs` feeds the operators), hash-cut on the base id via
    * the engine's own `Sampling.hashBucketSql` twin, optionally capped
    * by the audits' deterministic (bucket, id) top-N. Ends in
    * `docs`(id, tk, s).
    */
  private def sampledTruncDocsSql(fracBuckets: Int, cap: Option[Int]): String = {
    val bucketExpr = graft.operators.Sampling.hashBucketSql("(id % 1000000)")
    val capSql = cap.map(n => s" ORDER BY $bucketExpr, id LIMIT $n").getOrElse("")
    s"""tk1 AS (
       |  SELECT doc_id, text, ${tkSql("text")} AS tk
       |  FROM documents),
       |docsall AS (
       |  SELECT doc_id AS id, tk, text AS s FROM tk1
       |  UNION ALL
       |  SELECT doc_id + 1000000, tkt, array_to_string(tkt, ' ')
       |  FROM (SELECT doc_id, tk[1:greatest(CAST(floor(len(tk) * 4 / 5) AS BIGINT), 1)] AS tkt FROM tk1)),
       |docs AS (SELECT id, tk, s FROM docsall WHERE $bucketExpr < $fracBuckets$capSql)""".stripMargin
  }

  /** `Dedup.prefixFilterJaccard` at threshold 0.5 over
    * [[truncatedDocsSql]]: 5-shingles `sh`, `sizes`(id, n_sh), the
    * df-ordered prefixes `pref`, candidate pairs `cand` and their
    * verified intersections `inter`(id_a, id_b, n_inter).
    */
  private val prefixInterSql: String =
    s"""$truncatedDocsSql,
       |sh AS (
       |  SELECT DISTINCT id, array_to_string(tk[i:i+4], ' ') AS s
       |  FROM (SELECT id, tk, unnest(range(1, len(tk) - 3)) AS i
       |        FROM docs WHERE len(tk) >= 5)),
       |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       |dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |pref AS (
       |  SELECT id, s FROM (
       |    SELECT sh.id, sh.s, sizes.n_sh,
       |      row_number() OVER (PARTITION BY sh.id ORDER BY d.df, sh.s) AS pos
       |    FROM sh JOIN dfreq d USING (s) JOIN sizes USING (id))
       |  WHERE pos <= n_sh - ceil(CAST(0.5 AS DOUBLE) * n_sh) + 1),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM pref a JOIN pref b ON a.s = b.s AND a.id < b.id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh x ON x.id = c.id_a
       |  JOIN sh y ON y.id = c.id_b AND y.s = x.s
       |  GROUP BY 1, 2)""".stripMargin

  /** `Dedup.prefixFilterJaccard` truth-tier replay over `docs`(id, tk):
    * emits `{pre}pairs`(id_a, id_b) — the q_dedup_prefix oracle chain
    * with prefixed CTE names so it composes next to a found tier.
    */
  private def prefixJaccardCtes(threshold: Double, pre: String): String =
    s"""${pre}sh AS (
       |  SELECT DISTINCT id, array_to_string(tk[i:i+4], ' ') AS s
       |  FROM (SELECT id, tk, unnest(range(1, len(tk) - 3)) AS i
       |        FROM docs WHERE len(tk) >= 5)),
       |${pre}sizes AS (SELECT id, count(*) AS n_sh FROM ${pre}sh GROUP BY id),
       |${pre}dfreq AS (SELECT s, count(*) AS df FROM ${pre}sh GROUP BY s),
       |${pre}pref AS (
       |  SELECT id, s FROM (
       |    SELECT t.id, t.s, z.n_sh,
       |      row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.s) AS pos
       |    FROM ${pre}sh t JOIN ${pre}dfreq d USING (s) JOIN ${pre}sizes z USING (id))
       |  WHERE pos <= n_sh - ceil(CAST($threshold AS DOUBLE) * n_sh) + 1),
       |${pre}cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM ${pre}pref a JOIN ${pre}pref b ON a.s = b.s AND a.id < b.id),
       |${pre}inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM ${pre}cand c
       |  JOIN ${pre}sh x ON x.id = c.id_a
       |  JOIN ${pre}sh y ON y.id = c.id_b AND y.s = x.s
       |  GROUP BY 1, 2),
       |${pre}pairs AS (
       |  SELECT id_a, id_b
       |  FROM ${pre}inter
       |  JOIN ${pre}sizes na ON na.id = id_a
       |  JOIN ${pre}sizes nb ON nb.id = id_b
       |  WHERE round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 4) >= $threshold)""".stripMargin

  /** `Dedup.auditPairs` replay: orientation-normalized distinct pairs,
    * left-join hit count, 4-dp TRUNCATED P/R/F1 with the kernel's
    * exact double association order. Emits `{pre}row`(n_found,
    * n_truth, n_hit, precision, recall, f1) from pair CTEs
    * `found`/`truth` (columns id_a, id_b).
    */
  private def auditRowCtes(found: String, truth: String, pre: String): String =
    s"""${pre}fn AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM $found),
       |${pre}tn AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM $truth),
       |${pre}fh AS (SELECT COUNT(*)::BIGINT AS n_found, COALESCE(SUM(t.__t), 0)::BIGINT AS n_hit
       |        FROM ${pre}fn f LEFT JOIN (SELECT a, b, 1 AS __t FROM ${pre}tn) t USING (a, b)),
       |${pre}th AS (SELECT COUNT(*)::BIGINT AS n_truth FROM ${pre}tn),
       |${pre}pr AS (SELECT n_found, n_truth, n_hit,
       |    CASE WHEN n_found > 0 THEN floor(n_hit::DOUBLE / n_found * 1e4) / 1e4 ELSE 0.0 END AS "precision",
       |    CASE WHEN n_truth > 0 THEN floor(n_hit::DOUBLE / n_truth * 1e4) / 1e4 ELSE 0.0 END AS recall
       |  FROM ${pre}fh CROSS JOIN ${pre}th),
       |${pre}row AS (SELECT n_found, n_truth, n_hit, "precision", recall,
       |    CASE WHEN "precision" + recall > 0
       |      THEN floor((2 * "precision") * recall / ("precision" + recall) * 1e4) / 1e4
       |      ELSE 0.0 END AS f1
       |  FROM ${pre}pr)""".stripMargin

  /** SimHash signature replay: Charikar bit votes over per-token
    * xxhash64 ([[XxSql]]) — each token occurrence votes its 64 bits,
    * bit kept when the tally is positive, token-less docs sign 0
    * (exactly `functions.SimHash64`). `docsCte` must end in
    * `docs`(id, tk); emits `sigs`(id, sig BIGINT). The pair tails are
    * brute all-pairs Hamming: `hammingPairs`' 4×16-bit pigeonhole
    * blocking is recall-LOSSLESS at maxDist ≤ 3 and has no bucket
    * cap, so blocked output == brute output by construction.
    */
  private def simHashSigSql(docsCte: String): String =
    s"""WITH RECURSIVE
       |$docsCte,
       |dtk AS (SELECT id, unnest(tk) AS s FROM docs),
       |shd AS (SELECT DISTINCT s FROM dtk),
       |${XxSql.xxh64Ctes("shd")},
       |sxu AS (SELECT s, (CASE WHEN h < 0 THEN h::HUGEINT + 18446744073709551616 ELSE h::HUGEINT END) AS u FROM hsx),
       |bits(bb, p2) AS (VALUES ${(0 until 64).map(b => s"($b,${BigInt(1) << b}::HUGEINT)").mkString(",")}),
       |votes AS (SELECT d.id, b.bb, b.p2, SUM(((t.u // b.p2) % 2)::BIGINT) AS setcnt, COUNT(*) AS tot
       |          FROM dtk d JOIN sxu t ON d.s = t.s CROSS JOIN bits b GROUP BY d.id, b.bb, b.p2),
       |sigu AS (SELECT id, SUM(CASE WHEN 2*setcnt > tot THEN p2 ELSE 0::HUGEINT END) AS su FROM votes GROUP BY id),
       |sigs AS (SELECT d.id, COALESCE((CASE WHEN s.su >= 9223372036854775808 THEN s.su - 18446744073709551616 ELSE s.su END)::BIGINT, 0) AS sig
       |         FROM (SELECT id FROM docs) d LEFT JOIN sigu s ON d.id = s.id)""".stripMargin

  /** The planted-banner line fixture: each doc's 8-token `lines` plus one
    * cookie-banner line (line_no = -1) per doc, their fingerprints `fp`,
    * doc frequencies `df`(f, dfreq) and the doc count `nd`(n_docs).
    */
  private val bannerLinesSql: String =
    s"""tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
       |s AS (SELECT doc_id, tk, len(tk) AS n FROM tk0 WHERE len(tk) >= 1),
       |seg AS (
       |  SELECT doc_id, CAST(start // 8 AS INT) AS line_no,
       |    array_to_string(tk[start + 1 : start + 8], ' ') AS line
       |  FROM (SELECT doc_id, n, tk, unnest(range(0, n, 8)) AS start FROM s)),
       |lines AS (
       |  SELECT * FROM seg
       |  UNION ALL
       |  SELECT doc_id, -1 AS line_no,
       |    'all rights reserved accept our cookie policy' AS line
       |  FROM s),
       |fp AS (
       |  SELECT *, ${normFingerprintSql("line")} AS f
       |  FROM lines),
       |df AS (
       |  SELECT f, count(*) AS dfreq
       |  FROM (SELECT DISTINCT f, doc_id FROM fp) GROUP BY 1),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM lines)""".stripMargin

  val all: Seq[Q] = Seq(

    // D2: MinHash + LSH near-dup pairs on the planted corpus. EXACT
    // oracle: the seeded family replays in DuckDB via the XxSql
    // xxhash64 reimplementation (byte lists + wrapping HUGEINT
    // arithmetic), the engine-generated permutation params inlined.
    Q("q_dedup_minhash",
      minHashOracleSql(
        s"""$bucketPairsSql
          |SELECT id_a, id_b, e4 / 10000.0 AS est_jaccard FROM est
          |WHERE e4 >= 5000 ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
      Dedup.minHashLSH(truncatedDocs(s, dir), col("id"), col("text"),
          numHashes = 64, bands = 16, shingleSize = 5,
          threshold = 0.5, maxBucket = 200)
        .orderBy("id_a", "id_b")
    },

    // D3: SimHash near-dup pairs (custom Catalyst Expression) — the
    // perturbation appends one token, keeping Hamming distance small.
    // EXACT oracle: per-token xxhash64 replay + bit votes; appending
    // " zzz" tokenizes to list_append(tk, 'zzz') because tokenization
    // splits on whitespace after the punctuation strip.
    Q("q_dedup_simhash",
      simHashSigSql(
        s"""${tk0Sql("documents")},
          |docs AS (
          |  SELECT doc_id AS id, tk FROM tk0
          |  UNION ALL
          |  SELECT doc_id + 1000000, list_append(tk, 'zzz') FROM tk0)""".stripMargin) +
        """
          |SELECT x.id AS id_a, y.id AS id_b, bit_count(xor(x.sig, y.sig))::INTEGER AS hamming
          |FROM sigs x JOIN sigs y ON x.id < y.id
          |WHERE bit_count(xor(x.sig, y.sig)) <= 3
          |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val d = graft.operators.scaleOut(
        table(s, dir, "documents").select(col("doc_id").as("id"), col("text")))
      val pert = d.select(
        (col("id") + 1000000).as("id"),
        concat(col("text"), lit(" zzz")).as("text"))
      Dedup.simHash(d.unionByName(pert), col("id"), col("text"), maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    // D3b: INCREMENTAL SimHash — a shard (fresh docs + one-token
    // perturbations of corpus docs) pairs against the STORED corpus
    // signature index; the corpus is never re-signed. EXACT oracle:
    // same signature replay, bipartite shard × corpus brute Hamming
    // (the chunk blocking is lossless at maxDist 3, uncapped).
    Q("q_dedup_simhash_incr",
      simHashSigSql(
        s"""${tk0Sql("documents")},
          |docs AS (
          |  SELECT doc_id AS id, tk FROM tk0
          |  UNION ALL
          |  SELECT doc_id + 1000000, list_append(tk, 'zzz') FROM tk0 WHERE doc_id < 300)""".stripMargin) +
        """
          |SELECT x.id AS shard_id, y.id AS corpus_id, bit_count(xor(x.sig, y.sig))::INTEGER AS hamming
          |FROM (SELECT * FROM sigs WHERE id >= 300) x
          |JOIN (SELECT * FROM sigs WHERE id < 300) y ON true
          |WHERE bit_count(xor(x.sig, y.sig)) <= 3
          |ORDER BY shard_id, corpus_id""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val corpus = d.filter(col("id") < 300)
      val shard = d.filter(col("id") >= 300).unionByName(
        corpus.select((col("id") + 1000000).as("id"),
          concat(col("text"), lit(" zzz")).as("text")))
      val index = Dedup.simHashSignatures(corpus, col("id"), col("text"))
      Dedup.simHashIncremental(shard, col("id"), col("text"), index, maxDist = 3)
        .orderBy("shard_id", "corpus_id")
    },

    // D4: exact n-gram Jaccard over a df-capped inverted index — fully
    // SQL-expressible, so the oracle recomputes shingling, the inverted
    // index, and |∩|/|∪| from scratch.
    Q(
      "q_dedup_jaccard",
      s"""WITH $truncatedDocsSql,
         |$shingleIndexSql
         |SELECT id_a, id_b,
         |  round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 4) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.id = id_a
         |JOIN sizes nb ON nb.id = id_b
         |WHERE round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 4) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      jaccardPairs(truncatedDocs(s, dir)).orderBy("id_a", "id_b")
    },

    // D4c: DIRECTIONAL containment (asymmetric Jaccard) over the same
    // planted 80%-truncation workload — every truncated copy is
    // CONTAINED in its source near 1.0 while the source-in-copy
    // direction reads ~0.8; the oracle replays both directions of the
    // df-capped index.
    Q(
      "q_dedup_containment",
      s"""WITH $truncatedDocsSql,
         |$shingleIndexSql,
         |scored AS (
         |  SELECT id_a, id_b, n_inter, na.n_sh AS n_a, nb.n_sh AS n_b
         |  FROM inter
         |  JOIN sizes na ON na.id = id_a
         |  JOIN sizes nb ON nb.id = id_b),
         |dirs AS (
         |  SELECT id_a AS id_inner, id_b AS id_outer,
         |    n_a AS n_inner, n_b AS n_outer,
         |    round(n_inter * 1.0 / n_a, 4) AS containment
         |  FROM scored
         |  UNION ALL
         |  SELECT id_b, id_a, n_b, n_a, round(n_inter * 1.0 / n_b, 4)
         |  FROM scored)
         |SELECT id_inner, id_outer, CAST(n_inner AS BIGINT) AS n_inner,
         |  CAST(n_outer AS BIGINT) AS n_outer, containment
         |FROM dirs WHERE containment >= 0.7
         |ORDER BY id_inner, id_outer""".stripMargin
    ) { (s, dir) =>
      Dedup.ngramContainment(truncatedDocs(s, dir), col("id"), col("text"),
          n = 5, dfCap = 20, threshold = 0.7)
        .orderBy("id_inner", "id_outer")
    },

    // D4b: EXACT-recall prefix-filtered Jaccard join (PPJoin-family) —
    // no df cap, provably every pair ≥ threshold. The oracle rebuilds
    // the frequency-ordered prefixes on shingle STRINGS (its own tie
    // order); exactness makes the tiebreak irrelevant: both engines
    // must emit the identical verified pair set.
    Q(
      "q_dedup_prefix",
      s"""WITH $prefixInterSql
         |SELECT id_a, id_b,
         |  round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 4) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.id = id_a
         |JOIN sizes nb ON nb.id = id_b
         |WHERE round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 4) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      Dedup.prefixFilterJaccard(truncatedDocs(s, dir), col("id"), col("text"),
          n = 5, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // D5: blocked embedding-cosine near-dup. Planted rendition nudges
    // the first component by +0.1 (unit-norm corpus → cosine ≈ 0.995);
    // label blocking keeps the pair join block-local.
    Q(
      "q_dedup_embedding",
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |u AS (
        |  SELECT * FROM e
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_concat([v[1] + 0.1], v[2:]), label FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
        |FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      val e = table(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
      val pert = e.select(
        (col("vec_id") + 1000000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + lit(0.1)), slice(col("v"), 2, 63)).as("v"),
        col("label"))
      Dedup.embeddingCosine(e.unionByName(pert), col("vec_id"), col("v"),
          col("label"), threshold = 0.99)
        .orderBy("id_a", "id_b")
    },

    // D16: connected components over the jaccard pair list — the
    // transitive-closure step that turns pairs into keep-one-per-
    // cluster decisions. Spark runs min-label propagation to fixpoint;
    // the oracle unrolls the same propagation 8 rounds (planted-corpus
    // component diameters are tiny, so both converge).
    Q("q_dedup_clusters", dedupClustersOracle) { (s, dir) =>
      Dedup.connectedComponents(jaccardPairs(truncatedDocs(s, dir)),
          col("id_a"), col("id_b"))
        .orderBy("id")
    },

    // D16c: the SAME transitive closure through the alternating
    // large-star/small-star algorithm (O(log n) rounds — the deep-
    // graph escape hatch). Identical contract, so it must hit the
    // identical oracle the min-label variant hits.
    Q("q_dedup_clusters_star", dedupClustersOracle) { (s, dir) =>
      Dedup.connectedComponentsStar(jaccardPairs(truncatedDocs(s, dir)),
          col("id_a"), col("id_b"))
        .orderBy("id")
    },

    // D16b: cluster-winner dedup under a QUALITY policy — same pair
    // list and propagation as q_dedup_clusters, but each cluster keeps
    // its best-scoring member (pseudo-score id % 7 — deterministic and
    // portable — stands in for quality/recency), not the min id. The
    // oracle unrolls the propagation then replays the ranking window.
    Q(
      "q_dedup_best",
      s"""WITH $jaccardClustersSql,
         |m AS (SELECT id, comp, CAST(id % 7 AS DOUBLE) AS q FROM l8),
         |w AS (
         |  SELECT id,
         |    first_value(id) OVER (PARTITION BY comp ORDER BY q DESC, id) AS keep_id
         |  FROM m)
         |SELECT id AS drop_id, keep_id FROM w WHERE id <> keep_id
         |ORDER BY drop_id""".stripMargin
    ) { (s, dir) =>
      val docs = truncatedDocs(s, dir)
      val pairs = jaccardPairs(docs)
      Dedup.keepBestPerCluster(pairs, col("id_a"), col("id_b"),
          docs.select(col("id"), (col("id") % 7).cast("double").as("q")),
          col("id"), col("q"))
        .orderBy("drop_id")
    },

    // D5b: embedding near-dup with NO label — blocked on the seeded
    // hyperplane LSH bucket (the 100 TB unlabeled path). The oracle
    // replays the identical plane constants, so bucketing, pairing,
    // and cosine all hash-match.
    Q(
      "q_dedup_embedding_lsh",
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |u AS (
         |  SELECT * FROM e
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_concat([v[1] + 0.1], v[2:]) FROM e),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM u)
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |  round(list_cosine_similarity(a.v, b2.v), 4) AS cos_sim
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE round(list_cosine_similarity(a.v, b2.v), 4) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val pert = e.select(
        (col("vec_id") + 1000000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + lit(0.1)), slice(col("v"), 2, 63)).as("v"))
      Dedup.embeddingCosineLSH(e.unionByName(pert), col("vec_id"), col("v"),
          threshold = 0.99, dim = 64, nPlanes = 8, seed = 42L)
        .orderBy("id_a", "id_b")
    },

    // D11c: winnowing near-copy pairs — each planted rendition keeps
    // the full original text behind a new prefix, so the winnowing
    // guarantee forces shared fingerprints. Wraparound hashes aren't
    // DuckDB-expressible → rows-only; exactness in TextMetricsSpec.
    // EXACT oracle: the rolling-hash winnow replays positionally in
    // DuckDB (XxSql.winnowFpCtes), then the df-capped inverted index
    // and the shared-fingerprint count replay declaratively.
    Q("q_dedup_winnow",
      s"""WITH docs AS (
         |  SELECT doc_id AS id, text AS s FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'prefixed rendition ' || text FROM documents),
         |${XxSql.winnowFpCtes("docs")},
         |fps AS (SELECT DISTINCT id, h AS fp FROM wfp),
         |idx AS (SELECT id, fp FROM (
         |          SELECT id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps)
         |        WHERE df BETWEEN 2 AND 20)
         |SELECT a.id AS id_a, b.id AS id_b, COUNT(*)::BIGINT AS n_shared
         |FROM idx a JOIN idx b ON a.fp = b.fp AND a.id < b.id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val d = graft.operators.scaleOut(
        table(s, dir, "documents").select(col("doc_id").as("id"), col("text")))
      val pert = d.select(
        (col("id") + 1000000).as("id"),
        concat(lit("prefixed rendition "), col("text")).as("text"))
      Dedup.winnowPairs(d.unionByName(pert), col("id"), col("text"))
        .orderBy("id_a", "id_b")
    },

    // D1b: surviving rows after exact dedup (the filter form callers
    // compose into pipelines; q_dedup_exact is the group form).
    Q(
      "q_dedup_keep",
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Dedup.exactKeep(table(s, dir, "documents"), col("text"), col("doc_id"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // D6: brute-force cosine top-k (the exact ANN baseline): ten query
    // vectors broadcast across the corpus, rank = round(sim, 6) with id
    // tiebreak so both engines order identically.
    Q(
      "q_ann_topk",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_cosine_similarity(qv, v) AS cs
        |  FROM q, c WHERE c.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, vec_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY round(cs, 6) DESC, vec_id) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cs, 4) AS cos_sim
        |FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      Similarity.bruteForceTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          corpusId = col("vec_id"), corpusVec = col("v"),
          queryId = col("vec_id"), queryVec = col("v"), k = 10)
        .orderBy("query_id", "rank")
    },

    // D133: margin-based bitext match scoring (ratio margin, k=4) —
    // even vec_ids under 100 play source (the q_ann_topk bounded-query
    // discipline: src is constant-sized at any SF, so the benched
    // product stays LINEAR in corpus), odd play target; a source only keeps
    // its best target when the cosine beats both neighborhoods'
    // average (the hubness correction raw cosine lacks). Neighborhood
    // sums replay on floor(cos·1e7) integer lanes so no float
    // reduction order leaks into the hash.
    Q(
      "q_bitext_margin",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id AS src_id, v AS sv FROM e
        |      WHERE vec_id % 2 = 0 AND vec_id < 100),
        |t AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
        |sc AS (
        |  SELECT src_id, tgt_id, list_cosine_similarity(sv, tv) AS cs,
        |    CAST(floor(list_cosine_similarity(sv, tv) * 1e7) AS BIGINT) AS cs7
        |  FROM s, t),
        |nns AS (
        |  SELECT src_id, sum(cs7) AS sx, count(*) AS cns FROM (
        |    SELECT src_id, cs7, row_number() OVER (PARTITION BY src_id
        |      ORDER BY round(cs, 6) DESC, tgt_id ASC) AS r
        |    FROM sc) WHERE r <= 4 GROUP BY 1),
        |nnt AS (
        |  SELECT tgt_id, sum(cs7) AS sy, count(*) AS cnt FROM (
        |    SELECT tgt_id, cs7, row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY round(cs, 6) DESC, src_id ASC) AS r
        |    FROM sc) WHERE r <= 4 GROUP BY 1),
        |m AS (
        |  SELECT sc.src_id, sc.tgt_id, cs,
        |    cs / (CAST(sx + sy AS DOUBLE) / (CAST(cns + cnt AS DOUBLE) * 1e7)) AS margin
        |  FROM sc JOIN nns USING (src_id) JOIN nnt USING (tgt_id)
        |  WHERE CAST(sx + sy AS DOUBLE) / (CAST(cns + cnt AS DOUBLE) * 1e7) > 0.0),
        |r AS (
        |  SELECT src_id, tgt_id, cs, margin,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY round(margin, 6) DESC, tgt_id ASC) AS rank
        |  FROM m)
        |SELECT src_id, tgt_id, round(cs, 4) AS cos_sim, round(margin, 4) AS margin
        |FROM r WHERE rank = 1 AND margin >= 1.0
        |ORDER BY src_id""".stripMargin
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      Similarity.marginMatch(
          src = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 100),
          tgt = e.filter(col("vec_id") % 2 === 1),
          srcId = col("vec_id"), srcVec = col("v"),
          tgtId = col("vec_id"), tgtVec = col("v"),
          k = 4, minMargin = 1.0)
        .orderBy("src_id")
    },

    // D7c: MULTI-PROBE LSH ANN — queries probe their bucket plus every
    // Hamming-1 neighbor bucket (one flipped sign bit); the corpus
    // index stays one-bucket-per-vector. The oracle replays the SAME
    // seeded planes AND the same probe fan-out, so the two engines see
    // identical candidate sets and the top-k must agree exactly.
    Q(
      "q_ann_lsh_multiprobe", {
        val nPlanes = 8
        val probeList = ("bucket" +: (0 until nPlanes).map(i =>
          s"xor(bucket, ${1L << i})")).mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e),
           |qp AS (
           |  SELECT vec_id AS query_id, unnest($probeList) AS bucket
           |  FROM b WHERE vec_id < 10),
           |cand AS (
           |  SELECT DISTINCT qp.query_id, c.vec_id
           |  FROM b c JOIN qp USING (bucket) WHERE c.vec_id <> qp.query_id),
           |s AS (
           |  SELECT cand.query_id, cand.vec_id,
           |    list_cosine_similarity(eq.v, ec.v) AS cs
           |  FROM cand
           |  JOIN e eq ON eq.vec_id = cand.query_id
           |  JOIN e ec ON ec.vec_id = cand.vec_id),
           |r AS (
           |  SELECT query_id, vec_id, cs,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY round(cs, 6) DESC, vec_id) AS rank
           |  FROM s)
           |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cs, 4) AS cos_sim
           |FROM r WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin
      }
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      Similarity.lshTopKMultiProbe(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          corpusId = col("vec_id"), corpusVec = col("v"),
          queryId = col("vec_id"), queryVec = col("v"),
          k = 10, dim = 64, nPlanes = 8, seed = 42L)
        .orderBy("query_id", "rank")
    },

    // D47: reciprocal-rank fusion — hybrid retrieval merging the dense
    // cosine top-10 with a freshness prior (highest vec_ids), exact
    // integer contribution lanes so both engines sum identically.
    Q(
      "q_hybrid_rrf",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_cosine_similarity(qv, v) AS cs
        |  FROM q, c WHERE c.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY round(cs, 6) DESC, vec_id) AS rank
        |  FROM s),
        |m AS (SELECT max(vec_id) AS mx FROM c),
        |rec AS (
        |  SELECT q.query_id, c.vec_id AS doc_id,
        |    CAST(mx - c.vec_id + 1 AS INT) AS rank
        |  FROM c, m, q WHERE c.vec_id > mx - 10),
        |u AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    1000000000000 // (60 + rank) AS cc
        |  FROM r WHERE rank <= 10
        |  UNION ALL
        |  SELECT query_id, doc_id, 1000000000000 // (60 + rank) FROM rec),
        |f AS (
        |  SELECT query_id, doc_id, CAST(sum(cc) AS BIGINT) AS rrf_e12
        |  FROM u GROUP BY 1, 2)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_e12 DESC, doc_id) AS INT) AS fused_rank,
        |  doc_id, rrf_e12
        |FROM f
        |QUALIFY fused_rank <= 10
        |ORDER BY query_id, fused_rank""".stripMargin
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val dense = Similarity.bruteForceTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          corpusId = col("vec_id"), corpusVec = col("v"),
          queryId = col("vec_id"), queryVec = col("v"), k = 10)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val queryIds = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"))
      val mx = e.agg(max(col("vec_id")).as("mx"))
      val recent = e.crossJoin(broadcast(mx))
        .filter(col("vec_id") > col("mx") - 10)
        .select(col("vec_id").as("doc_id"),
          (col("mx") - col("vec_id") + 1).cast("int").as("rank"))
        .crossJoin(broadcast(queryIds))
      Similarity.rrfFuse(Seq(dense, recent), k0 = 60, topK = 10)
        .orderBy("query_id", "fused_rank")
    },

    // D7: LSH ANN — the oracle embeds the SAME seeded hyperplane
    // constants (Similarity.hyperplanes) so DuckDB buckets identically
    // and the in-bucket top-k must agree value-for-value.
    Q(
      "q_ann_lsh",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v,
         |    ${lshBucketSql("v")} AS bucket
         |  FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
         |s AS (
         |  SELECT q.query_id, b.vec_id, list_cosine_similarity(qv, b.v) AS cs
         |  FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cs,
         |    row_number() OVER (PARTITION BY query_id ORDER BY round(cs, 6) DESC, vec_id) AS rank
         |  FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cs, 4) AS cos_sim
         |FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      Similarity.lshTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          corpusId = col("vec_id"), corpusVec = col("v"),
          queryId = col("vec_id"), queryVec = col("v"),
          k = 5, dim = 64, nPlanes = 8, seed = 42L)
        .orderBy("query_id", "rank")
    },

    // D7b: ANN via IVF (FAISS-style inverted file) — deterministic
    // seeded k-means coarse quantizer, nProbe bucket probing. EXACT
    // oracle (ivfLloydCtes): Lloyd re-estimation rides integer
    // micro-unit lanes, assignment distance is row-local left-fold
    // IEEE with a first-min tiebreak, so all 5 rounds + the probe
    // replay bit-for-bit; recall-vs-brute specs unchanged.
    Q("q_ann_ivf", annIvfOracle) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      Similarity.ivfTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          corpusId = col("vec_id"), corpusVec = col("v"),
          queryId = col("vec_id"), queryVec = col("v"),
          k = 5, nCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    },

    // D111: cluster-quality diagnostics over the trained IVF
    // quantizer — simplified silhouette + Davies-Bouldin per cluster,
    // the measurement that decides k before an index config commits.
    // Exact oracle: the Lloyd replay hands the identical centroids to
    // the identical row-local distance arithmetic.
    Q("q_cluster_quality", clusterQualityOracle) { (s, dir) =>
      val e = table(s, dir, "embeddings").select(
        col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      val centroids = Similarity.trainIvfCentroids(
        e, col("id"), col("v"), nCentroids = 8, iters = 3)
      Similarity.clusterQuality(e, col("id"), col("v"), centroids)
        .orderBy("cluster")
    },

    // D126: Matryoshka truncation audit — adjacent-id embedding pairs,
    // prefix dims 8/16/32/64 (64 = full, a built-in zero-delta sanity
    // row). Exact oracle: list slices + the cosSql kernel + 7-dp
    // deviation lanes replay.
    Q(
      "q_matryoshka",
      s"""WITH e AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |p AS (SELECT a.v AS va, b.v AS vb
         |  FROM e a JOIN e b ON b.id = a.id + 1 WHERE a.id % 2 = 0),
         |x AS (SELECT va, vb, ${cosSql("va", "vb")} AS fullc FROM p),
         |dd AS (SELECT dim, va[1:dim] AS sa, vb[1:dim] AS sb, fullc
         |  FROM x, unnest([8, 16, 32, 64]) AS t(dim)),
         |c AS (SELECT dim, fullc, ${cosSql("sa", "sb")} AS cd FROM dd),
         |g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_pairs,
         |    sum(CAST(floor(abs(cd - fullc) * 1e7) / 1e7 AS DECIMAL(20,7))) AS sad,
         |    max(CAST(floor(abs(cd - fullc) * 1e7) / 1e7 AS DECIMAL(20,7))) AS mad,
         |    sum(CAST(sign(cd) * (floor(abs(cd) * 1e7) / 1e7) AS DECIMAL(20,7)))
         |      AS scd
         |  FROM c GROUP BY 1)
         |SELECT dim, n_pairs,
         |  sign(CAST(scd AS DOUBLE) / n_pairs)
         |    * (floor(abs(CAST(scd AS DOUBLE) / n_pairs) * 1e6) / 1e6) + 0.0
         |    AS mean_cos_prefix,
         |  floor(CAST(sad AS DOUBLE) / n_pairs * 1e6) / 1e6 AS mean_abs_delta,
         |  floor(CAST(mad AS DOUBLE) * 1e6) / 1e6 AS max_abs_delta
         |FROM g ORDER BY dim""".stripMargin
    ) { (s, dir) =>
      val e = table(s, dir, "embeddings").select(
        col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      val a = e.where(col("id") % 2 === 0)
        .select(col("id").as("aid"), col("v").as("va"))
      val b = e.select((col("id") - 1).as("aid"), col("v").as("vb"))
      val pairs = a.join(b, "aid").select(col("va"), col("vb"))
      Similarity.matryoshkaAudit(pairs, col("va"), col("vb"),
          dims = Seq(8, 16, 32, 64))
        .orderBy("dim")
    },

    // D117: greedy k-center coreset selection (farthest-point-first) —
    // the diversity-budget data-selection pick sequence over the
    // embedding corpus. Exact oracle: the seed hash, every running
    // min-distance, and every (dm DESC, id ASC) top-1 replay in SQL;
    // gaps are floor-truncated 4 dp on identical IEEE doubles.
    Q("q_kcenter", kCenterOracle(k = 8)) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.kCenterSelect(e, col("vec_id"), col("embedding"), k = 8)
        .orderBy("rank")
    },

    // D114: similarity-ordered sequence packing (cluster-approximated
    // In-Context Pretraining) — IVF cells as coherence units, each
    // packing independently under the 512-token budget. Exact oracle:
    // Lloyd replay + the exclusive-running-sum window + integer
    // div/mod, all deterministic.
    Q("q_pack_similar",
      s"""WITH $embeddingVecsSql,
         |${ivfLloydCtes(iters = 3, d = 64, kExpr = "8")},
         |tk AS (SELECT doc_id AS id,
         |    CAST(len(${tkSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |j AS (SELECT i.id, i.cluster, t.n_tokens FROM idx i JOIN tk t USING (id)),
         |c AS (SELECT id, cluster, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY cluster ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM j)
         |SELECT id, cluster, n_tokens,
         |  CAST(cum // 512 AS BIGINT) AS seq_id,
         |  CAST(cum % 512 AS BIGINT) AS tok_offset
         |FROM c ORDER BY cluster, id""".stripMargin) { (s, dir) =>
      import graft.functions.tokens
      val e = table(s, dir, "embeddings").select(
        col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      val d = table(s, dir, "documents").select(
        col("doc_id").as("id"), size(tokens(col("text"))).cast("long").as("n_toks"))
      val cents = Similarity.trainIvfCentroids(
        e, col("id"), col("v"), nCentroids = 8, iters = 3)
      Packing.packBySimilarity(e.join(d, "id"), col("id"), col("v"),
          col("n_toks"), cents, budget = 512)
        .orderBy("cluster", "id")
    },

    // D57: product-quantization ANN (Jégou et al., TPAMI'11) — train
    // per-subspace codebooks (m=8, k=16 → 8 B/vector, a 64× memory
    // cut), encode the corpus, search by asymmetric distance (per-query
    // LUT, corpus side pays m lookups + adds, zero dot products).
    // Codebook training replays exactly (pqCtes — the Lloyd template
    // per subspace on integer lanes), and the ADC sum mirrors
    // adcDist's left fold; DedupSpec keeps the exact-quantization /
    // round-trip / planted-twin specs.
    Q("q_ann_pq", annPqOracle) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val books = Similarity.trainPqCodebooks(
        e, col("vec_id"), col("v"), dim = 64, m = 8, k = 16, iters = 3)
      Similarity.pqTopK(
          Similarity.pqEncode(e, col("vec_id"), col("v"), books),
          e.filter(col("vec_id") < 10), col("vec_id"), col("v"), books, k = 5)
        .orderBy("query_id", "rank")
    },

    // D57b: IVF-PQ (IVFADC, Jégou et al. TPAMI'11 §V) — coarse cells
    // route the probe, PQ codes of the RESIDUAL carry geometry; each
    // (query, probed cell) builds its own LUT from the cell-relative
    // residual. EXACT oracle: coarse Lloyd + residual codebooks both
    // replay on integer lanes, the per-(query, cell) residual LUT and
    // left-fold ADC mirror the kernel; DedupSpec pins exact recovery
    // on clustered data and planted-twin recall.
    Q("q_ann_ivfpq", annIvfPqOracle) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val centroids = Similarity.trainIvfCentroids(
        e, col("vec_id"), col("v"), nCentroids = 8, iters = 3)
      val books = Similarity.trainPqCodebooks(
        Similarity.ivfResiduals(e, col("vec_id"), col("v"), centroids),
        col("id"), col("v"), dim = 64, m = 8, k = 16, iters = 3)
      val index = Similarity.ivfPqIndex(e, col("vec_id"), col("v"), centroids, books)
      Similarity.ivfPqTopK(index, centroids, books,
          e.filter(col("vec_id") < 10), col("vec_id"), col("v"), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // D76: marginal-novelty scoring — candidates = docs 250+, plus
    // exact copies of reference docs (novelty must be 0 for those);
    // reference = docs < 250. Per-doc distinct 8-gram coverage
    // replayed exactly.
    Q(
      "q_novelty",
      s"""WITH tk AS (
         |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |cand0 AS (
         |  SELECT doc_id AS id, tk FROM tk WHERE doc_id >= 250
         |  UNION ALL
         |  SELECT doc_id + 1000000, tk FROM tk WHERE doc_id < 50),
         |csh AS (
         |  SELECT DISTINCT id, array_to_string(tk[i:i+7], ' ') AS s
         |  FROM (SELECT id, tk, unnest(range(1, len(tk) - 6)) AS i
         |        FROM cand0 WHERE len(tk) >= 8)),
         |rsh AS (
         |  SELECT DISTINCT array_to_string(tk[i:i+7], ' ') AS s
         |  FROM (SELECT tk, unnest(range(1, len(tk) - 6)) AS i
         |        FROM tk WHERE doc_id < 250 AND len(tk) >= 8)),
         |j AS (
         |  SELECT c.id, r.s IS NOT NULL AS hit
         |  FROM csh c LEFT JOIN rsh r ON c.s = r.s)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  floor(CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 1e4) / 1e4 AS novelty
         |FROM j GROUP BY id ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val cand = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id").as("id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000).as("id"), col("text")))
      Dedup.marginalNovelty(cand, col("id"), col("text"),
          docs.filter(col("doc_id") < 250), col("text"), n = 8)
        .orderBy("id")
    },

    // D77: leakage-proof cluster-aware splits — near-dup pairs from
    // the exact prefix-filter tier cluster first, the split hash runs
    // on the CLUSTER id, so a doc and its 0.8-Jaccard twin can never
    // straddle train/test. Oracle = the q_dedup_prefix pair chain
    // feeding the q_dedup_clusters propagation unroll, with the
    // hashBucketSql split rule on the cluster id (weights 0.9/0.1 →
    // bucket cut at 900); the spec additionally proves the
    // no-straddle invariant.
    Q(
      "q_split_by_cluster", {
        val b = graft.operators.Sampling.hashBucketSql("cluster")
        s"""WITH $prefixInterSql,
           |$interClustersSql,
           |wc AS (
           |  SELECT d.id, coalesce(l.comp, d.id) AS cluster
           |  FROM (SELECT DISTINCT id FROM docs) d
           |  LEFT JOIN l8 l ON l.id = d.id)
           |SELECT id, cluster,
           |  CASE WHEN $b < 900 THEN 'train' ELSE 'test' END AS split
           |FROM wc ORDER BY id""".stripMargin
      }
    ) { (s, dir) =>
      val docs = truncatedDocs(s, dir)
      val pairs = Dedup.prefixFilterJaccard(docs, col("id"), col("text"),
        n = 5, threshold = 0.5)
      Dedup.splitByCluster(docs.select(col("id")), col("id"),
          pairs, col("id_a"), col("id_b"),
          weights = Seq("train" -> 0.9, "test" -> 0.1))
        .orderBy("id")
    },

    // C68: entity resolution on `customer` — names get a decorrelating
    // pseudorandom tag (custkey·7919 mod 1e5, injective over the key
    // range, so any two ORIGINALS differ in ≥2 edit positions and
    // maxDist=1 admits exactly the planted pairs); the planted twin
    // drops one character at a key-dependent position (distance
    // exactly 1). Blocking key = nation + the name's last 6 chars —
    // the planted edits happen strictly BEFORE the suffix, so the
    // suffix is deletion-invariant AND discriminative (the injective
    // tag lives there): block sizes stay O(1) as the table grows,
    // where nation alone went quadratic (measured: 2.5 s → 81 s at
    // 10×; suffix blocking is flat). The general pattern at scale is
    // MULTI-PASS blocking — union pair lists from several
    // edit-region-invariant keys — each pass block-bounded like this
    // one. Components are pairs (diameter 1) → the 8-round CC unroll
    // is exact.
    Q(
      "q_entity_resolve",
      s"""WITH $customerTyposSql,
         |u AS (SELECT * FROM c0 UNION ALL SELECT * FROM t),
         |ub AS (SELECT id, nm, blk || '|' || right(nm, 6) AS bkey FROM u),
         |bn AS (SELECT bkey, count(*) AS bcnt FROM ub GROUP BY 1),
         |cap AS (
         |  SELECT ub.id, ub.nm, ub.bkey FROM ub JOIN bn USING (bkey)
         |  WHERE bn.bcnt <= 10000 AND bn.bcnt >= 2),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM cap a JOIN cap b
         |    ON a.bkey = b.bkey AND a.id < b.id
         |   AND levenshtein(a.nm, b.nm) <= 1),
         |$pairsCcSql,
         |wc AS (
         |  SELECT u.id, coalesce(l.comp, u.id) AS cluster
         |  FROM u LEFT JOIN l8 l ON l.id = u.id)
         |SELECT id, cluster, id = cluster AS is_rep
         |FROM wc ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val c0 = taggedCustomers(table(s, dir, "customer"))
      val typo = customerTypos(c0)
      Dedup.entityResolve(c0.unionByName(typo), col("id"), col("nm"),
          concat(col("blk"), lit("|"), expr("right(nm, 6)")), maxDist = 1)
        .orderBy("id")
    },

    // C68b: INCREMENTAL entity resolution — the typo renditions arrive
    // as a new shard against the stored resolved originals (every
    // original is its own cluster: the injective tag keeps originals
    // ≥2 edits apart). Bipartite join only — no CC needed, so the
    // oracle is one levenshtein join + min-cluster + coalesce.
    Q(
      "q_entity_resolve_incr",
      s"""WITH $customerTyposSql,
        |corpus AS (
        |  SELECT id AS cid, nm AS cn, blk || '|' || right(nm, 6) AS cbk,
        |    id AS ccl
        |  FROM c0),
        |shard AS (
        |  SELECT id, nm, blk || '|' || right(nm, 6) AS bk FROM t),
        |m AS (
        |  SELECT s.id, min(c.ccl) AS mcl
        |  FROM shard s JOIN corpus c
        |    ON s.bk = c.cbk AND levenshtein(s.nm, c.cn) <= 1
        |  GROUP BY 1)
        |SELECT s.id, coalesce(m.mcl, s.id) AS cluster,
        |  m.mcl IS NOT NULL AS matched
        |FROM shard s LEFT JOIN m ON m.id = s.id
        |ORDER BY s.id""".stripMargin
    ) { (s, dir) =>
      val c0 = taggedCustomers(table(s, dir, "customer"))
      val typo = customerTypos(c0)
      val bkey = concat(col("blk"), lit("|"), expr("right(nm, 6)"))
      val resolved = c0.select(col("id"), col("nm"), bkey.as("bk"),
        col("id").as("cluster"))
      Dedup.entityResolveIncremental(typo, col("id"), col("nm"), bkey,
          resolved, col("id"), col("nm"), col("bk"), col("cluster"),
          maxDist = 1)
        .orderBy("id")
    },

    // D75: cross-source contamination matrix — every 7th doc's text
    // is mirrored into a synthetic 'mirror' source (7 is coprime with
    // the 20-source round-robin, so every source gets mirrored docs);
    // pairs collapse src_a < src_b; ubiquitous-fingerprint guard
    // replayed.
    Q(
      "q_source_overlap",
      s"""WITH $mirroredSourcesSql,
        |b AS (
        |  SELECT src, f FROM (
        |    SELECT src, f, count(*) OVER (PARTITION BY f) AS ns FROM fp)
        |  WHERE ns <= 50)
        |SELECT a.src AS src_a, b2.src AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_fps
        |FROM b a JOIN b b2 ON a.f = b2.f AND a.src < b2.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val u = docs.select(col("source"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(lit("mirror").as("source"), col("text")))
      Dedup.sourceOverlap(u, col("source"), col("text"), maxSources = 50)
        .orderBy("src_a", "src_b")
    },

    // D129: theta-sketch source-overlap — D75's scale path: per-source
    // THETA sketches intersect pairwise instead of the fingerprint
    // self-join. Bounded-verdict oracle (the sketch-tier contract):
    // exact overlap and set sizes are portable; within_bound checks
    // the engine's own intersection estimate against 5% rel / abs-3
    // (under-capacity sketches are exact, so the contract holds with
    // zero slack consumed — the oracle asserts it TRUE). lgK = 14:
    // nominal capacity must COVER the largest per-source set at the
    // biggest swept scale (sf1's mirror source holds 7142 fps; the
    // default 2^12 left it estimating and 6 pairs broke the 5% bound —
    // the r14 sweep catch; above-capacity intersection error scales
    // with the SET sizes, not the overlap, so capacity is the
    // contract, not slack).
    Q(
      "q_source_overlap_sketch",
      s"""WITH $mirroredSourcesSql,
        |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY 1),
        |ov AS (
        |  SELECT a.src AS src_a, b.src AS src_b,
        |    CAST(count(*) AS BIGINT) AS exact_overlap
        |  FROM fp a JOIN fp b ON a.f = b.f AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT ov.src_a, ov.src_b, ov.exact_overlap,
        |  sa.n AS n_a, sb.n AS n_b, TRUE AS within_bound
        |FROM ov JOIN sz sa ON sa.src = ov.src_a
        |        JOIN sz sb ON sb.src = ov.src_b
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      import graft.functions.normFingerprint
      val docs = table(s, dir, "documents")
      val u = docs.select(col("source"), col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(lit("mirror").as("source"), col("doc_id"), col("text")))
      val est = Dedup.sourceOverlapSketch(u, col("source"), col("text"),
        pmod(col("doc_id"), lit(4)), lgK = 14)
      val fps = u.select(col("source").as("src"),
        normFingerprint(col("text")).as("f")).distinct().localCheckpoint()
      val sz = fps.groupBy("src").agg(count(lit(1)).as("n"))
      val ov = fps.as("a")
        .join(fps.as("b"), col("a.f") === col("b.f") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      ov.join(est, Seq("src_a", "src_b"))
        .join(broadcast(sz.withColumnsRenamed(Map("src" -> "src_a", "n" -> "n_a"))),
          Seq("src_a"))
        .join(broadcast(sz.withColumnsRenamed(Map("src" -> "src_b", "n" -> "n_b"))),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("exact_overlap"),
          col("n_a"), col("n_b"),
          (abs(col("overlap_est") - col("exact_overlap"))
            <= greatest(lit(0.05) * col("exact_overlap"), lit(3.0)))
            .as("within_bound"))
        .orderBy("src_a", "src_b")
    },

    // D138: theta-sketch set DIFFERENCE — the a-not-b completing
    // D129's set algebra: "how many fingerprints are NEW in this
    // shard vs the corpus" answered from two kilobyte sketch blobs
    // without re-touching either side. Shard = all fresh docs plus
    // every 3rd corpus doc mirrored (known-duplicate mass the diff
    // must EXCLUDE). Bounded-verdict oracle (the D129 contract):
    // exact set sizes and the exact a-not-b count are portable;
    // within_bound checks the engine's own estimate against 5% rel /
    // abs-3 — lgK=13 keeps both sides under nominal capacity through
    // sf0.1, where set ops over exact sketches are exact, so the
    // oracle asserts TRUE with zero slack consumed.
    Q(
      "q_theta_diff",
      s"""WITH fpc AS (
         |  SELECT DISTINCT ${normFingerprintSql("text")} AS f
        |  FROM documents WHERE doc_id < 300),
        |fps AS (
         |  SELECT DISTINCT ${normFingerprintSql("text")} AS f
        |  FROM (
        |    SELECT text FROM documents WHERE doc_id >= 300
        |    UNION ALL
        |    SELECT text FROM documents WHERE doc_id < 300 AND doc_id % 3 = 0))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM fps) AS n_shard_fps,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fpc) AS n_corpus_fps,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fps
        |   WHERE f NOT IN (SELECT f FROM fpc)) AS exact_new,
        |  TRUE AS within_bound""".stripMargin
    ) { (s, dir) =>
      import graft.functions.normFingerprint
      import graft.functions.ThetaSketch
      val docs = table(s, dir, "documents")
      val fpC = docs.filter(col("doc_id") < 300)
        .select(normFingerprint(col("text")).as("f")).distinct()
        .localCheckpoint()
      val fpS = docs.filter(col("doc_id") >= 300).select(col("text"))
        .unionByName(docs.filter(col("doc_id") < 300
            && pmod(col("doc_id"), lit(3)) === 0).select(col("text")))
        .select(normFingerprint(col("text")).as("f")).distinct()
        .localCheckpoint()
      val skC = fpC.agg(ThetaSketch.thetaSketch(col("f"), lgK = 13).as("__skc"),
        count(lit(1)).as("n_corpus_fps"))
      val skS = fpS.agg(ThetaSketch.thetaSketch(col("f"), lgK = 13).as("__sks"),
        count(lit(1)).as("n_shard_fps"))
      val exact = fpS.join(fpC, Seq("f"), "left_anti")
        .agg(count(lit(1)).as("exact_new"))
      skS.crossJoin(skC).crossJoin(exact)
        .select(col("n_shard_fps"), col("n_corpus_fps"), col("exact_new"),
          (abs(ThetaSketch.thetaDiffEstimate(col("__sks"), col("__skc"))
              - col("exact_new").cast("double"))
            <= greatest(lit(0.05) * col("exact_new").cast("double"), lit(3.0)))
            .as("within_bound"))
    },

    // D69: hard-negative mining — per query, top-5 corpus vectors
    // with cosine in [0.3, 0.9): informative negatives below the
    // near-dup band (the planted-twin spec proves twins are excluded).
    // IVF-routed; EXACT oracle since the Lloyd trainer replays
    // (integer lanes) — the probe adds only the banded sim filter.
    Q("q_hard_negatives", hardNegativesOracle) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val centroids = Similarity.trainIvfCentroids(
        e, col("vec_id"), col("v"), nCentroids = 8, iters = 3)
      val index = Similarity.ivfAssign(e, col("vec_id"), col("v"), centroids)
      Similarity.ivfHardNegatives(index, centroids,
          e.filter(col("vec_id") < 10), col("vec_id"), col("v"),
          simLo = 0.3, simHi = 0.9, k = 5, nProbe = 4)
        .orderBy("query_id", "rank")
    },

    // D70: LSH banding planner — the S-curve decision table for 64
    // permutations at threshold 0.5 (the shipped minHashLSH config).
    // EXACT oracle: the integral terms floor onto 9-dp integer lanes
    // (absorbing libm pow variance), so the grid sum replays in SQL.
    Q("q_lsh_plan", lshPlanOracle) { (s, _) =>
      Dedup.lshPlan(s, nPerms = 64, threshold = 0.5)
        .orderBy("bands")
    },

    // D43: SemDeDup semantic dedup — k-means cells block the cosine
    // join; planted near-identical copies of corpus vectors (fresh ids
    // +1000000) are swallowed wherever base and copy co-assign (a few
    // straddle a cell boundary at larger SFs — the paper's documented
    // recall caveat; deterministic either way). The k-means quantizer
    // is an iterative driver-metadata artifact, EXACT-replayed since
    // r10 (the q_ann_ivf Lloyd CTEs on the sampled training frame +
    // within-cluster cosine pairs + the shared CC unroll); planted-
    // recall exactness and the min-id survivor policy stay asserted
    // in DedupSpec.
    Q("q_dedup_semantic", dedupSemanticOracle) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val pert = e.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 1000000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + lit(0.05)), slice(col("v"), 2, 63)).as("v"))
      // near-identical copies co-assign under ANY centroid set (their
      // score vectors are essentially identical), so the quantizer can
      // train cheap: 2 Lloyd rounds on a 25% hash sample — the knobs a
      // 100 TB run would use (FAISS trains coarse quantizers on
      // slivers). nCentroids = 0 → auto k = ⌈n/200⌉: bounded cells
      // keep the within-cell pair join LINEAR in corpus size (fixed
      // k=16 measured 38× cost at 30× data)
      Dedup.semanticDedup(e.unionByName(pert), col("vec_id"), col("v"),
          threshold = 0.995, nCentroids = 0, iters = 2, trainFraction = 0.25)
        .select("vec_id").orderBy("vec_id")
    },

    // D1c: incremental exact dedup — a new shard (fresh docs + copies
    // of corpus docs + intra-shard duplicates) dedups against the
    // existing corpus' fingerprint INDEX, never the corpus itself. The
    // oracle replays both stages (within-shard min-id winner, then the
    // index anti-join) from scratch.
    Q(
      "q_dedup_incremental",
      incrementalDedupOracle(split = 300)
    ) { (s, dir) =>
      val (corpus, shard) = incrementalShard(s, dir, split = 300)
      val index = Dedup.fingerprintIndex(corpus, col("text"))
      Dedup.exactIncremental(shard, col("text"), col("doc_id"), index, col("fp"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // D1d: incremental exact dedup via Bloom pre-filter — EXACT same
    // semantics (no false negatives; false positives removed by the
    // confirm anti-join), so the oracle is the same two-stage replay;
    // 250-doc corpus split keeps the query distinct from
    // q_dedup_incremental.
    Q(
      "q_dedup_incremental_bloom",
      incrementalDedupOracle(split = 250)
    ) { (s, dir) =>
      val (corpus, shard) = incrementalShard(s, dir, split = 250)
      val index = Dedup.fingerprintIndex(corpus, col("text"))
      Dedup.exactIncrementalBloom(shard, col("text"), col("doc_id"), index, col("fp"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // D2b: incremental MinHash — the shard's truncated renditions pair
    // against the corpus' STORED signature index (no corpus re-sign,
    // bipartite bucket join). Seeded hash family → rows-only; DedupSpec
    // asserts planted recall and shard↔corpus orientation. The shard
    // id marker is 10^12 (not the corpus-wide 10^6 rendition offset):
    // this oracle is the ONE place membership is INFERRED from the id,
    // and BenchScale replicas carry ids up to factor×10^8 — a 10^6
    // sentinel mis-classified every replica doc as shard at sf1 (the
    // r14 sweep's one true construction bug).
    Q("q_dedup_minhash_incr",
      minHashOracleSql(
        """corpb AS (SELECT id, bucket FROM (
          |            SELECT id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS nn
          |            FROM (SELECT id, bucket FROM bkt WHERE id < 1000000000000))
          |          WHERE nn <= 200),
          |shrdb AS (SELECT id, bucket FROM bkt WHERE id >= 1000000000000),
          |cand AS (SELECT DISTINCT x.id AS shard_id, y.id AS corpus_id
          |         FROM shrdb x JOIN corpb y ON x.bucket = y.bucket),
          |est AS (SELECT c.shard_id, c.corpus_id, """.stripMargin + estJaccardSql + """ AS e4
          |        FROM cand c JOIN sigl sa ON c.shard_id = sa.id JOIN sigl sb ON c.corpus_id = sb.id)
          |SELECT shard_id, corpus_id, e4 / 10000.0 AS est_jaccard FROM est
          |WHERE e4 >= 5000 ORDER BY shard_id, corpus_id""".stripMargin,
        docsSql =
          truncatedDocsFromSql("documents", offset = 1000000000000L))) { (s, dir) =>
      val d = graft.operators.scaleOut(
        table(s, dir, "documents").select(col("doc_id").as("id"), col("text")))
      // the corpus signature index a real pipeline would read from
      // parquet; built here from the same table
      val corpusSigs = Dedup.minHashSignatures(d, col("id"), col("text"))
      val shard = d.select(
        (col("id") + 1000000000000L).as("id"), truncatedText(col("text")).as("text"))
      Dedup.minHashLSHIncremental(shard, col("id"), col("text"), corpusSigs,
          numHashes = 64, bands = 16, shingleSize = 5,
          threshold = 0.5, maxBucket = 200)
        .orderBy("shard_id", "corpus_id")
    },

    // D34: edit-distance near-dup — customer names plus a planted
    // one-character substitution at position 6; names share the
    // "Customer#" prefix, so blocking is on the LAST 4 characters
    // (which the mid-string edit preserves). Both engines' levenshtein
    // have identical unit costs.
    Q(
      "q_dedup_editdist",
      s"""WITH ${nameTyposSql()},
        |d AS (SELECT id, t, substr(t, length(t) - 3, 4) AS blk FROM u)
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.t, b.t) AS INT) AS dist
        |FROM d a JOIN d b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.t, b.t) <= 2
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      val u = withNameTypos(table(s, dir, "customer"))
      Dedup.editDistancePairs(u, col("id"), col("t"),
          block = substring(col("t"), -4, 4), maxDist = 2)
        .withColumn("dist", col("dist").cast("int"))
        // seam (r17): the declared ORDER BY's range partitioner first
        // SAMPLES its child for split bounds and then recomputes it to
        // shuffle — and the child's final stage here is the whole
        // block-join + levenshtein probe, so the quadratic kernel ran
        // TWICE (measured: two ~equal dominant stages at the 10x
        // replica, 6.6 s wall). The checkpoint makes the probe run
        // once; the sort reads materialized pair rows. Same rows,
        // same order, half the kernel work.
        .localCheckpoint()
        .orderBy("id_a", "id_b")
    },

    // D131: sorted-neighborhood near-dup candidates — the SORT-based
    // blocking alternative to D34's equality blocks: the same planted
    // mid-string substitution, but sorted on the REVERSED name (the
    // preserved suffix becomes a shared prefix, so each planted twin
    // is its original's immediate sort neighbor) and compared only
    // against the next 3 records per 1-char block. The oracle replays
    // the window semantics with row_number offsets.
    Q(
      "q_dedup_snm",
      s"""WITH ${nameTyposSql()},
        |d AS (SELECT id, reverse(t) AS sk FROM u),
        |b AS (
        |  SELECT id, sk, substr(sk, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substr(sk, 1, 1)
        |      ORDER BY sk, id) AS rn
        |  FROM d),
        |p AS (
        |  SELECT a.id AS id_a, b2.id AS id_b,
        |    CAST(levenshtein(a.sk, b2.sk) AS BIGINT) AS dist
        |  FROM b a JOIN b b2 ON a.blk = b2.blk AND b2.rn - a.rn BETWEEN 1 AND 3)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 2
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      val u = withNameTypos(table(s, dir, "customer"))
      Dedup.sortedNeighbors(u, col("id"), reverse(col("t")),
          window = 4, maxDist = 2, blockPrefix = 1)
        // seam (r17): same range-partitioner double-eval as
        // q_dedup_editdist — the sort's sampling pass re-ran the
        // window + levenshtein stage; checkpoint makes it run once
        .localCheckpoint()
        .orderBy("id_a", "id_b")
    },

    // D135: SNM recall/precision audit — the D48 audit discipline for
    // the new blocking family: found = the windowed SNM candidates,
    // truth = the UNBLOCKED brute pair set (custkey < 200 keeps the
    // brute side constant-cost at any SF — the audit class). Precision
    // is 1 by construction (levenshtein is reversal-invariant, so every
    // window pair satisfies the truth predicate); recall reads SNM's
    // honest miss profile (pairs whose reversed forms land > window−1
    // apart in sort order).
    Q(
      "q_audit_snm",
      s"""WITH ${nameTyposSql(where = "c_custkey < 200")},
        |d AS (SELECT id, reverse(t) AS sk FROM u),
        |b AS (
        |  SELECT id, sk, substr(sk, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substr(sk, 1, 1)
        |      ORDER BY sk, id) AS rn
        |  FROM d),
        |fn AS (
        |  SELECT DISTINCT least(a.id, b2.id) AS a, greatest(a.id, b2.id) AS b
        |  FROM b a JOIN b b2 ON a.blk = b2.blk AND b2.rn - a.rn BETWEEN 1 AND 3
        |  WHERE levenshtein(a.sk, b2.sk) <= 2),
        |tp AS (
        |  SELECT DISTINCT least(x.id, y.id) AS a, greatest(x.id, y.id) AS b
        |  FROM u x JOIN u y ON x.id < y.id
        |  WHERE levenshtein(x.t, y.t) <= 2),
        |fh AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_found,
        |    CAST(coalesce(sum(CASE WHEN tp.a IS NOT NULL THEN 1 END), 0) AS BIGINT)
        |      AS n_hit
        |  FROM fn LEFT JOIN tp ON fn.a = tp.a AND fn.b = tp.b),
        |th AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tp),
        |pr AS (
        |  SELECT n_found, n_truth, n_hit,
        |    CASE WHEN n_found > 0
        |      THEN floor(CAST(n_hit AS DOUBLE) / n_found * 1e4) / 1e4
        |      ELSE 0.0 END AS precision,
        |    CASE WHEN n_truth > 0
        |      THEN floor(CAST(n_hit AS DOUBLE) / n_truth * 1e4) / 1e4
        |      ELSE 0.0 END AS recall
        |  FROM fh CROSS JOIN th)
        |SELECT n_found, n_truth, n_hit, precision, recall,
        |  CASE WHEN precision + recall > 0
        |    THEN floor(2 * precision * recall / (precision + recall) * 1e4) / 1e4
        |    ELSE 0.0 END AS f1
        |FROM pr""".stripMargin
    ) { (s, dir) =>
      val u = withNameTypos(table(s, dir, "customer").filter(col("c_custkey") < 200))
      val found = Dedup.sortedNeighbors(u, col("id"), reverse(col("t")),
        window = 4, maxDist = 2, blockPrefix = 1)
      val right = u.select(col("id").as("__id2"), col("t").as("__t2"))
      val truth = u.join(right,
          col("id") < col("__id2") && levenshtein(col("t"), col("__t2")) <= 2)
        .select(col("id").as("id_a"), col("__id2").as("id_b"))
      Dedup.auditPairs(found, truth)
    },

    // D33: time-windowed exact dedup — per (user, event_type) content
    // key, keep only burst-starting events (> 1h since the previous
    // occurrence, chained); the batch analogue of
    // dropDuplicatesWithinWatermark.
    Q(
      "q_dedup_within",
      """WITH x AS (
        |  SELECT event_id,
        |    CAST(user_id AS VARCHAR) || '|' || event_type AS k,
        |    epoch_us(ts) AS t
        |  FROM events),
        |y AS (
        |  SELECT *, lag(t) OVER (PARTITION BY md5(k) ORDER BY t, event_id) AS prev
        |  FROM x)
        |SELECT event_id FROM y
        |WHERE prev IS NULL OR t - prev > 3600000000
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("k",
          concat(col("user_id").cast("string"), lit("|"), col("event_type")))
      Dedup.exactKeepWithin(ev, col("k"), col("event_id"), col("ts_us"),
          windowUs = 3600000000L)
        .select("event_id")
        .orderBy("event_id")
    },

    // D32: per-label embedding centroids (long format) — 7-dp
    // truncation + exact decimal sums (GraphOps.pageRank's
    // determinism contract), 1-based dims matching SQL subscripts.
    Q(
      "q_embedding_centroid",
      """WITH x AS (
        |  SELECT label, CAST(i AS BIGINT) AS dim,
        |    floor(CAST(embedding[i] AS DOUBLE) * 1e7) / 1e7 AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i))
        |SELECT label, dim,
        |  floor(CAST(sum(CAST(v AS DECIMAL(28,7))) AS DOUBLE) / count(*) * 1e7) / 1e7
        |    AS mean_v
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin
    ) { (s, dir) =>
      Similarity.centroids(table(s, dir, "embeddings"),
          col("label"), col("embedding"))
        .select(col("grp").as("label"), col("dim").cast("long").as("dim"),
          col("mean_v"))
        .orderBy("label", "dim")
    },

    // D122: per-doc template score — the same planted-banner fixture
    // as q_dedup_lines, but MEASURING instead of excising: every doc
    // carries exactly one 100%-df line, so n_boiler = 1 and the ratio
    // is 1/(segments+1). Exact oracle over the same fingerprint CTEs.
    Q(
      "q_template_score",
      s"""WITH $bannerLinesSql,
         |bset AS (
         |  SELECT f, 1 AS b FROM df CROSS JOIN nd
         |  WHERE df.dfreq > nd.n_docs * 0.5)
         |SELECT fp.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(coalesce(sum(b), 0) AS BIGINT) AS n_boiler,
         |  floor(CAST(coalesce(sum(b), 0) AS DOUBLE) / count(*) * 1e6) / 1e6
         |    AS boiler_ratio
         |FROM fp LEFT JOIN bset USING (f)
         |GROUP BY fp.doc_id ORDER BY fp.doc_id""".stripMargin
    ) { (s, dir) =>
      val seg = TextMetrics.chunkTokens(table(s, dir, "documents"),
          col("doc_id"), col("text"), chunkSize = 8, stride = 8)
        .select(col("id").as("doc_id"), col("chunk_text").as("line"))
      val planted = table(s, dir, "documents")
        .join(seg.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          lit("all rights reserved accept our cookie policy").as("line"))
      Dedup.boilerplateScore(seg.unionByName(planted),
          col("doc_id"), col("line"), maxDocFrac = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D29: line-level boilerplate removal — documents are segmented
    // into 8-token "lines" plus one PLANTED boilerplate line per doc
    // (the cookie-banner fixture, line_no = -1, present in 100% of
    // docs); lines in > 50% of docs are dropped, so exactly the
    // planted line disappears and every content line survives. Both
    // engines reassemble the survivors in line order.
    Q(
      "q_dedup_lines",
      s"""WITH $bannerLinesSql,
         |kept AS (
         |  SELECT fp.doc_id, fp.line_no, fp.line
         |  FROM fp JOIN df USING (f) CROSS JOIN nd
         |  WHERE df.dfreq <= nd.n_docs * 0.5)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |  md5(string_agg(line, ' | ' ORDER BY line_no)) AS clean_md5
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val seg = TextMetrics.chunkTokens(table(s, dir, "documents"),
          col("doc_id"), col("text"), chunkSize = 8, stride = 8)
        .select(col("id").as("doc_id"), col("chunk_id").as("line_no"),
          col("chunk_text").as("line"))
      val planted = table(s, dir, "documents")
        .join(seg.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit(-1).as("line_no"),
          lit("all rights reserved accept our cookie policy").as("line"))
      val kept = Dedup.dropBoilerplateLines(
        seg.unionByName(planted),
        col("doc_id"), col("line_no"), col("line"), maxDocFrac = 0.5)
      kept.groupBy("id")
        .agg(
          count(lit(1)).as("n_lines"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
              x => x.getField("line")),
            " | ")).as("clean_md5"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D51: substring-level exact dedup (Lee et al., ACL'22) — every
    // token 10-gram occurring more than once corpus-wide keeps only
    // its first (id, start) occurrence; later copies lose the covered
    // positions. Planted renditions: doc_id % 3 = 0 docs share a
    // 13-token boilerplate tail (cross-doc dup — the first such doc
    // keeps it), % 3 = 1 docs repeat their own text (within-doc dup —
    // the second copy is stripped). Both engines rebuild the survivor
    // text in position order.
    Q(
      "q_dedup_spans", {
        val boiler =
          "this content is provided by the example corporation all rights reserved worldwide"
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN text || ' $boiler'
           |         WHEN doc_id % 3 = 1 THEN text || ' ' || text
           |         ELSE text END AS text
           |  FROM documents),
           |tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM d),
           |sp AS (
           |  SELECT doc_id, tk, unnest(range(0, len(tk) - 9)) AS start
           |  FROM tk0 WHERE len(tk) >= 10),
           |sh AS (
           |  SELECT doc_id, start,
           |    array_to_string(tk[start + 1 : start + 10], ' ') AS shingle
           |  FROM sp),
           |w AS (
           |  SELECT doc_id, start,
           |    count(*) OVER (PARTITION BY shingle) AS cnt,
           |    row_number() OVER (PARTITION BY shingle ORDER BY doc_id, start) AS rn
           |  FROM sh),
           |lose AS (
           |  SELECT DISTINCT doc_id, pos FROM (
           |    SELECT doc_id, unnest(range(start, start + 10)) AS pos
           |    FROM w WHERE cnt >= 2 AND rn >= 2)),
           |$keptTermsSql,
           |agg AS (
           |  SELECT doc_id, count(*) AS n_kept,
           |    string_agg(term, ' ' ORDER BY pos) AS cleaned
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
           |  CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS n_dup_tokens,
           |  round(CASE WHEN len(tk) = 0 THEN 0.0
           |    ELSE (len(tk) - coalesce(n_kept, 0)) * 1.0 / len(tk) END, 4)
           |    AS dup_ratio,
           |  coalesce(cleaned, '') AS cleaned_text
           |FROM tk0 t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val boiler =
        "this content is provided by the example corporation all rights reserved worldwide"
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" " + boiler)))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.dedupSpans(planted, col("doc_id"), col("text"), k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D37: blocked sorted-neighborhood candidate pairs (merge/purge) —
    // rows sorted by a normalized 40-char prefix key within first-char
    // blocks, each row paired with its 3 predecessors; the planted
    // truncated rendition shares its original's prefix, so every
    // planted pair is sort-adjacent. Fully SQL-expressible: the oracle
    // replays the rank/window-distance construction with row_number.
    Q(
      "q_dedup_sorted",
      s"""WITH $truncatedDocsSql,
         |k AS (SELECT id, substr(array_to_string(tk, ' '), 1, 40) AS key FROM docs),
         |r AS (
         |  SELECT id, key, substr(key, 1, 1) AS blk,
         |    row_number() OVER (PARTITION BY substr(key, 1, 1) ORDER BY key, id) AS rn
         |  FROM k)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(levenshtein(a.key, b.key) AS INT) AS dist
         |FROM r a JOIN r b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3
         |WHERE levenshtein(a.key, b.key) <= 2
         |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      val keyed = truncatedDocs(s, dir).select(col("id"),
        substring(array_join(tokens(col("text")), " "), 1, 40).as("k"))
      Dedup.sortedNeighborhood(keyed, col("id"), col("k"),
          block = substring(col("k"), 1, 1), window = 3)
        .withColumn("dist", levenshtein(col("key_a"), col("key_b")).cast("int"))
        .filter(col("dist") <= 2)
        .select(col("id_a"), col("id_b"), col("dist"))
        .orderBy("id_a", "id_b")
    },

    // D38: two-stage near-dup — MinHash-LSH candidates confirmed by
    // exact shingle-set Jaccard (recall stage + precision stage). The
    // EXACT oracle since r10: the XxSql replay generates the est-tier
    // candidates, the exact-Jaccard confirm recomputes shingle overlap
    // declaratively (LEFT JOIN so zero-overlap candidates read 0).
    // r15: the corpus is the 1500-base-doc CAPPED frame (inert at
    // sf0.01's 600 docs; renditions derive AFTER the cap so planted
    // pairs stay whole) — the r14 sf1 sweep's uncapped exact-confirm
    // replay needed >100 GB DuckDB temp, so the flagship was
    // unverifiable exactly where scale bugs would compose. The
    // full-corpus scale exercise lives in the constituent tiers
    // (q_dedup_minhash, q_dedup_prefix — sf1 hash-green, uncapped).
    Q("q_dedup_verified",
      minHashOracleSql(docsSql = truncatedDocsCappedSql(1500), tail =
        s"""$bucketPairsSql,
          |cpairs AS (SELECT id_a, id_b, e4 / 10000.0 AS est_jaccard FROM est WHERE e4 >= 4000),
          |vsh AS (SELECT DISTINCT id, array_to_string(tk[i:i+4], ' ') AS s
          |        FROM (SELECT id, tk, unnest(range(1, len(tk) - 3)) AS i
          |              FROM docs WHERE len(tk) >= 5)),
          |vsizes AS (SELECT id, count(*) AS n_sh FROM vsh GROUP BY id),
          |vint AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
          |         FROM cpairs p JOIN vsh x ON x.id = p.id_a
          |         JOIN vsh y ON y.id = p.id_b AND y.s = x.s GROUP BY 1, 2)
          |SELECT p.id_a, p.id_b, p.est_jaccard,
          |  round(COALESCE(i.n_inter, 0) * 1.0 / (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 4) AS jaccard
          |FROM cpairs p
          |LEFT JOIN vint i ON i.id_a = p.id_a AND i.id_b = p.id_b
          |JOIN vsizes na ON na.id = p.id_a JOIN vsizes nb ON nb.id = p.id_b
          |WHERE round(COALESCE(i.n_inter, 0) * 1.0 / (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 4) >= 0.5
          |ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      Dedup.minHashLSHVerified(truncatedDocsCapped(s, dir, 1500),
          col("id"), col("text"),
          estThreshold = 0.4, jaccardThreshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // D48: sketch-tier audit — MinHash-LSH candidates scored against
    // prefixFilterJaccard's exact-recall ground truth at the same
    // threshold: the one-row completeness report a recall-tier choice
    // rests on. Both tiers run on a deterministic hash-cut AUDIT
    // SAMPLE (half the corpus), exactly the discipline the operator
    // doc mandates at scale — the exact truth tier is quadratic-ish
    // in candidate mass and must never see the full frame. The cut
    // keys on the BASE doc id (id % 1000000) so a doc and its planted
    // rendition land on the same side and within-sample P/R stays
    // meaningful. EXACT oracle since r10: the XxSql replay generates
    // the found tier, the q_dedup_prefix chain the truth tier, and
    // auditRowCtes the truncated P/R/F1 arithmetic.
    Q("q_dedup_audit",
      minHashOracleSql(
        s"""$bucketPairsSql,
          |found AS (SELECT id_a, id_b FROM est WHERE e4 >= 5000),
          |""".stripMargin + prefixJaccardCtes(0.5, "pj") + ",\n" +
          auditRowCtes("found", "pjpairs", "ad") + "\n" +
          """SELECT n_found, n_truth, n_hit, "precision", recall, f1 FROM adrow""",
        docsSql = sampledTruncDocsSql(500, None))) { (s, dir) =>
      val d = Sampling.hashSample(truncatedDocs(s, dir),
          pmod(col("id"), lit(1000000L)), fraction = 0.5)
        .localCheckpoint()
      val found = Dedup.minHashLSH(d, col("id"), col("text"),
        numHashes = 64, bands = 16, shingleSize = 5,
        threshold = 0.5, maxBucket = 200)
      // NO checkpoint seam here (r17): unlike the absolutely-capped
      // audit samples (q_audit_simhash's 4000 rows), this tier rides a
      // fraction cut, so its truth pair list GROWS with the corpus —
      // measured at the 10x replica, materializing it cost more than
      // auditPairs' double read saves (11.7 -> 15.6 s A/B)
      val truth = Dedup.prefixFilterJaccard(d, col("id"), col("text"),
        n = 5, threshold = 0.5)
      Dedup.auditPairs(found, truth)
    },

    // D3 audit: the SimHash tier scored two ways on a deterministic
    // quarter hash-cut (base-id keyed, the q_dedup_audit discipline —
    // tighter than the MinHash audit's half because the brute truth
    // tier is quadratic in the sample). Row 1: blocked candidates vs
    // BRUTE all-pairs Hamming at the same radius — the pigeonhole
    // guarantee as measured fact, P = R = 1.0 expected (DedupSpec
    // asserts the floor). Row 2: the same candidates vs exact 5-gram
    // Jaccard ≥ 0.7 — what hd ≤ 3 is worth as a NEAR-IDENTICAL-text
    // detector, the honest cross-metric recall number the planted
    // twins alone can't give. EXACT oracle since r10: the simhash
    // replay signs the capped sample; tier 1's truth is the brute
    // Hamming set, which EQUALS the blocked found set (pigeonhole is
    // lossless at radius 3), so both tiers replay from one pair CTE.
    Q("q_audit_simhash",
      simHashSigSql(sampledTruncDocsSql(250, Some(4000))) + ",\n" +
        """found AS (SELECT x.id AS id_a, y.id AS id_b
          |          FROM sigs x JOIN sigs y ON x.id < y.id
          |          WHERE bit_count(xor(x.sig, y.sig)) <= 3),
          |""".stripMargin + prefixJaccardCtes(0.7, "pj") + ",\n" +
        auditRowCtes("found", "found", "h") + ",\n" +
        auditRowCtes("found", "pjpairs", "j") + "\n" +
        """SELECT 'simhash_vs_brute_hamming' AS tier, n_found, n_truth, n_hit, "precision", recall, f1 FROM hrow
          |UNION ALL
          |SELECT 'simhash_vs_jaccard07' AS tier, n_found, n_truth, n_hit, "precision", recall, f1 FROM jrow
          |ORDER BY tier""".stripMargin) { (s, dir) =>
      // fraction-based cut FIRST (base-id keyed so planted pairs stay
      // together), then an ABSOLUTE row cap via distributed top-N in
      // (bucket, id) order: the brute truth tier is quadratic in the
      // sample, so a fraction alone would be a hidden quadratic term
      // at corpus scale — the cap makes the audit cost a CONSTANT at
      // any SF (TakeOrderedAndProject, never a global window)
      val base = pmod(col("id"), lit(1000000L))
      val d = Sampling.hashSample(truncatedDocs(s, dir), base, fraction = 0.25)
        .orderBy(Sampling.hashBucket(base), col("id")).limit(4000)
        .localCheckpoint()
      val sigs = Dedup.simHashSignatures(d, col("id"), col("text"))
        .localCheckpoint()
      // checkpoint the PAIR frames too (r17): auditPairs reads its
      // truth side twice (hit join + size count) and `found` feeds
      // both tiers, so without the seams the banding join, the brute
      // probe and the 5-gram jaccard tier each re-execute per use —
      // audit-capped frames, so the materialization is sample-sized.
      // The three tiers depend on d/sigs but NOT on each other, so
      // their seams materialize CONCURRENTLY (guide §2.6) instead of
      // serializing three short job chains.
      val Seq(found, truthHam, truthJac) = graft.operators.checkpointPar(
        Dedup.hammingPairs(sigs, maxDist = 3, nChunks = 4),
        Dedup.hammingPairsBrute(sigs, maxDist = 3),
        Dedup.prefixFilterJaccard(d, col("id"), col("text"),
          n = 5, threshold = 0.7))
      Dedup.auditPairs(found, truthHam)
        .withColumn("tier", lit("simhash_vs_brute_hamming"))
        .unionByName(Dedup.auditPairs(found, truthJac)
          .withColumn("tier", lit("simhash_vs_jaccard07")))
        .select("tier", "n_found", "n_truth", "n_hit",
          "precision", "recall", "f1")
        .orderBy("tier")
    },

    // D11c audit: the winnowing tier vs exact 5-gram Jaccard ≥ 0.7 on
    // the same quarter hash-cut. Winnowing's guarantee is structural
    // (any shared run ≥ w + k − 1 chars forces a shared fingerprint),
    // so recall against near-identical truth should be ~1 while
    // precision reports how much the 2-shared-fingerprint cut
    // over-pairs — the number a dfCap/minShared tuning decision needs.
    // EXACT oracle since r10: winnowFpCtes replays the fingerprints
    // over the sampled corpus strings (raw text for base ids, joined
    // tokens for renditions), the df-capped index the found tier.
    Q("q_audit_winnow",
      s"""WITH RECURSIVE
         |${sampledTruncDocsSql(250, None)},
         |${XxSql.winnowFpCtes("(SELECT id, s FROM docs)")},
         |wfps AS (SELECT DISTINCT id, h AS fp FROM wfp),
         |widx AS (SELECT id, fp FROM (
         |           SELECT id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM wfps)
         |         WHERE df BETWEEN 2 AND 20),
         |found AS (SELECT a.id AS id_a, b.id AS id_b
         |          FROM widx a JOIN widx b ON a.fp = b.fp AND a.id < b.id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |${prefixJaccardCtes(0.7, "pj")},
         |${auditRowCtes("found", "pjpairs", "ad")}
         |SELECT 'winnow_vs_jaccard07' AS tier, n_found, n_truth, n_hit, "precision", recall, f1 FROM adrow""".stripMargin) { (s, dir) =>
      val d = Sampling.hashSample(truncatedDocs(s, dir),
          pmod(col("id"), lit(1000000L)), fraction = 0.25)
        .localCheckpoint()
      val found = Dedup.winnowPairs(d, col("id"), col("text"))
      // seam: auditPairs reads truth twice (hit join + size count);
      // the jaccard tier is the query's dominant stage. (r17 cont.:
      // a concurrent checkpointPar(found, truth) was A/B'd here —
      // flat at sf0.1, and it adds a materialization of `found` that
      // the merged plan doesn't need — so the truth-only seam stays.)
      val truth = Dedup.prefixFilterJaccard(d, col("id"), col("text"),
        n = 5, threshold = 0.7)
        .localCheckpoint()
      Dedup.auditPairs(found, truth)
        .withColumn("tier", lit("winnow_vs_jaccard07"))
        .select("tier", "n_found", "n_truth", "n_hit",
          "precision", "recall", "f1")
    },

    // C68 audit: entity-resolution BLOCKING recall as a measured
    // number — C68 switched nation-blocking → (nation|name-suffix)
    // blocking after a measured 2.5→81 s quadratic blowup at 10×, and
    // this row prices what that switch costs in recall instead of
    // assuming it free. Two planted rendition classes: MID typos
    // (deletion at char 5..14 — suffix-invariant, both blockings
    // catch) and TAIL typos (deletion 2 chars from the end — INSIDE
    // the right(nm,6) window, suffix blocking's structural blind
    // spot). Both strategies' blocked pair lists score against BRUTE
    // all-pairs levenshtein ≤ 1 truth (no blocking) on the same
    // deterministic sample: even customers, ORDER BY id, ABSOLUTE
    // 600-entity cap — the quadratic truth tier costs a constant at
    // any SF (the q_audit_simhash contract). Precision is
    // structurally 1.0 (blocked pairs re-check the distance inside
    // the join); recall is the honest number — expect ~1.0 for
    // nation blocking and ~0.5 for suffix blocking on this mix.
    Q("q_audit_entity", {
        val ents =
          """c0 AS (
            |  SELECT id, nm, blk FROM (
            |    SELECT c_custkey AS id,
            |      c_name || '-' || (c_custkey * 7919) % 100000 AS nm,
            |      c_nationkey AS blk
            |    FROM customer WHERE c_custkey % 2 = 0
            |    ORDER BY c_custkey LIMIT 600)),
            |t AS (
            |  SELECT id0 + 1000000 AS id,
            |    substr(nm, 1, p - 1) || substr(nm, p + 1) AS nm, blk
            |  FROM (SELECT id AS id0, CAST((id % 10) + 5 AS INT) AS p, nm, blk
            |        FROM c0)),
            |t2 AS (
            |  SELECT id + 2000000 AS id,
            |    substr(nm, 1, len(nm) - 3) || substr(nm, len(nm) - 1, 1000) AS nm,
            |    blk
            |  FROM c0),
            |u AS MATERIALIZED (
            |  SELECT * FROM c0 UNION ALL SELECT * FROM t
            |  UNION ALL SELECT * FROM t2),
            |truth AS MATERIALIZED (
            |  SELECT a.id AS id_a, b.id AS id_b FROM u a JOIN u b
            |  ON a.id < b.id AND levenshtein(a.nm, b.nm) <= 1)""".stripMargin
        def blocked(cte: String, bkey: String): String =
          s"""${cte}b AS (SELECT id, nm, $bkey AS bkey FROM u),
             |${cte}n AS (SELECT bkey, count(*) AS c FROM ${cte}b GROUP BY 1),
             |${cte}c AS (SELECT ${cte}b.* FROM ${cte}b JOIN ${cte}n USING (bkey)
             |        WHERE c BETWEEN 2 AND 10000),
             |${cte}found AS (
             |  SELECT a.id AS id_a, b.id AS id_b FROM ${cte}c a JOIN ${cte}c b
             |  ON a.bkey = b.bkey AND a.id < b.id
             |   AND levenshtein(a.nm, b.nm) <= 1)""".stripMargin
        s"""WITH $ents,
           |${blocked("sb", "blk || '|' || right(nm, 6)")},
           |${blocked("nb", "CAST(blk AS VARCHAR)")},
           |${auditRowCtes("sbfound", "truth", "s")},
           |${auditRowCtes("nbfound", "truth", "n")}
           |SELECT 'nation_block_vs_brute_lev1' AS tier, n_found, n_truth, n_hit, "precision", recall, f1 FROM nrow
           |UNION ALL
           |SELECT 'suffix_block_vs_brute_lev1' AS tier, n_found, n_truth, n_hit, "precision", recall, f1 FROM srow
           |ORDER BY tier""".stripMargin
      }) { (s, dir) =>
      val c0 = taggedCustomers(
          table(s, dir, "customer").filter(col("c_custkey") % 2 === 0))
        .orderBy("id").limit(600)
      val typo = customerTypos(c0)
      val tailTypo = c0.select(
        (col("id") + 2000000L).as("id"),
        concat(col("nm").substr(lit(1), length(col("nm")) - 3),
          col("nm").substr(length(col("nm")) - 1, lit(1000))).as("nm"),
        col("blk"))
      val u = c0.unionByName(typo).unionByName(tailTypo).localCheckpoint()
      val truth = Dedup.levenshteinPairsBrute(u, col("id"), col("nm"), maxDist = 1)
        .localCheckpoint()
      val sfound = Dedup.entityPairs(u, col("id"), col("nm"),
        concat(col("blk"), lit("|"), expr("right(nm, 6)")), maxDist = 1)
      val nfound = Dedup.entityPairs(u, col("id"), col("nm"),
        col("blk").cast("string"), maxDist = 1)
      Dedup.auditPairs(nfound, truth)
        .withColumn("tier", lit("nation_block_vs_brute_lev1"))
        .unionByName(Dedup.auditPairs(sfound, truth)
          .withColumn("tier", lit("suffix_block_vs_brute_lev1")))
        .select("tier", "n_found", "n_truth", "n_hit",
          "precision", "recall", "f1")
        .orderBy("tier")
    },

    // D95: int8 embedding quantization + per-vector distortion audit.
    // The query projects the codes as a comma-joined string (qvec_csv):
    // the oracle harness hash-sorts frames with pandas, which cannot
    // lexsort a raw array<tinyint> column; the operator itself keeps
    // the array form.
    Q(
      "q_embed_int8",
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx
        |  FROM e),
        |s AS (
        |  SELECT vec_id, v, mx, mx / 127.0 AS scale, mx = 0.0 AS degenerate,
        |    CASE WHEN mx = 0.0
        |      THEN list_transform(v, x -> CAST(0 AS TINYINT))
        |      ELSE list_transform(v, x -> CAST(trunc(
        |        least(greatest(x / (mx / 127.0), -127.0), 127.0)) AS TINYINT))
        |    END AS qvec
        |  FROM m)
        |SELECT vec_id, array_to_string(qvec, ',') AS qvec_csv, scale,
        |  CASE WHEN degenerate THEN CAST(0.0 AS DOUBLE)
        |    ELSE round(list_cosine_similarity(v,
        |      list_transform(qvec, q -> q * scale)), 4)
        |  END AS cos_distortion,
        |  degenerate
        |FROM s ORDER BY vec_id""".stripMargin
    ) { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.quantizeInt8(e, col("vec_id"), col("embedding"))
        .withColumn("qvec_csv", array_join(col("qvec"), ","))
        .select(col("vec_id"), col("qvec_csv"), col("scale"),
          col("cos_distortion"), col("degenerate"))
        .orderBy("vec_id")
    },

    // D99: top principal component by distributed power iteration —
    // EXACT oracle (powerIterationCtes): the kernel's sums ride
    // integer micro-unit lanes, so all 8 matvec rounds replay
    // bit-for-bit; norm/eigen written left-associatively to mirror
    // the driver's Array.sum folds.
    Q("q_embed_pc", embedPcOracle()) { (s, dir) =>
      Similarity.principalComponent(table(s, dir, "embeddings"),
          col("embedding"), rounds = 8)
        .orderBy("component_pos")
    },

    // D101: Johnson-Lindenstrauss random projection 64 → 8 dims with a
    // per-vector norm-distortion audit. The seeded Gaussian planes are
    // literals shared by both engines (q_ann_lsh contract), components
    // round to 6 dp, and the norm fold replays left-associatively, so
    // every value must match exactly.
    Q(
      "q_embed_jl", {
        val planes = Similarity.hyperplanes(dim = 64, nPlanes = 8, seed = 42L)
        val scale = 1.0 / math.sqrt(8.0)
        val pCols = planes.zipWithIndex.map { case (p, i) =>
          s"round(list_dot_product(v, ${p.mkString("[", ", ", "]")}) * $scale, 6) AS p${i + 1}"
        }.mkString(",\n        |    ")
        val sumP = (1 to 8).map(i => s"p$i * p$i").mkString(" + ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |p AS (
           |  SELECT vec_id, v,
           |    $pCols
           |  FROM e)
           |SELECT vec_id, ${(1 to 8).map(i => s"p$i").mkString(", ")},
           |  CASE WHEN sqrt(list_dot_product(v, v)) > 0
           |    THEN round(sqrt($sumP) / sqrt(list_dot_product(v, v)), 4)
           |  END AS norm_ratio
           |FROM p ORDER BY vec_id""".stripMargin
      }
    ) { (s, dir) =>
      val p = Similarity.randomProjection(table(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), dim = 64, outDim = 8)
      p.select(col("vec_id") +:
          (1 to 8).map(i => element_at(col("proj"), i).as(s"p$i")) :+
          col("norm_ratio"): _*)
        .orderBy("vec_id")
    },

    // D102: MMR diversified selection over each query's brute-force
    // top-12 — greedy λ·rel − (1−λ)·max-sim re-ranking to a diverse
    // top-4. The oracle unrolls the 3 greedy rounds (anti-join the
    // selected set, max rounded cosine to it, window pick) — the
    // q_bradley_terry unroll precedent on the retrieval side.
    Q(
      "q_mmr", {
        val lam = 0.7
        val oneMinus = s"${1.0 - lam}" // IEEE 1−0.7, NOT the literal 0.3
        def step(t: Int) =
          s"""rem$t AS (
             |  SELECT c.* FROM cand c
             |  WHERE NOT EXISTS (SELECT 1 FROM all${t - 1} s
             |    WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)),
             |ms$t AS (
             |  SELECT r.query_id, r.doc_id,
             |    max(round(list_cosine_similarity(r.v, s.v), 6)) AS msim
             |  FROM rem$t r JOIN all${t - 1} s ON s.query_id = r.query_id
             |  GROUP BY 1, 2),
             |a$t AS (
             |  SELECT r.query_id, r.doc_id, r.rel, r.v,
             |    $lam * r.rel - $oneMinus * m.msim AS score
             |  FROM rem$t r JOIN ms$t m
             |    ON m.query_id = r.query_id AND m.doc_id = r.doc_id),
             |sel$t AS (
             |  SELECT query_id, doc_id, rel, v, $t AS mmr_rank,
             |    round(score, 6) AS mmr_score
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS rn FROM a$t)
             |  WHERE rn = 1),
             |all$t AS (
             |  SELECT query_id, doc_id, v FROM all${t - 1}
             |  UNION ALL SELECT query_id, doc_id, v FROM sel$t)""".stripMargin
        val steps = (2 to 4).map(step).mkString(",\n")
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
           |s AS (
           |  SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, v) AS cs
           |  FROM q, c WHERE c.vec_id <> q.query_id),
           |r AS (
           |  SELECT query_id, vec_id, cs,
           |    row_number() OVER (PARTITION BY query_id ORDER BY round(cs, 6) DESC, vec_id) AS rank
           |  FROM s),
           |cand AS (
           |  SELECT r.query_id, r.vec_id AS doc_id, round(r.cs, 4) AS rel, c2.v
           |  FROM r JOIN c c2 ON c2.vec_id = r.vec_id WHERE r.rank <= 12),
           |a1 AS (SELECT query_id, doc_id, rel, v, $lam * rel AS score FROM cand),
           |sel1 AS (
           |  SELECT query_id, doc_id, rel, v, 1 AS mmr_rank,
           |    round(score, 6) AS mmr_score
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id) AS rn FROM a1)
           |  WHERE rn = 1),
           |all1 AS (SELECT query_id, doc_id, v FROM sel1),
           |$steps
           |SELECT query_id, mmr_rank, doc_id, rel, mmr_score
           |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
           |      UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4)
           |ORDER BY query_id, mmr_rank""".stripMargin
      }
    ) { (s, dir) =>
      val e = embeddingVecs(s, dir)
      val topk = Similarity.bruteForceTopK(
        corpus = e, queries = e.filter(col("vec_id") < 5),
        corpusId = col("vec_id"), corpusVec = col("v"),
        queryId = col("vec_id"), queryVec = col("v"), k = 12)
      val cand = topk.join(e, Seq("vec_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("cos_sim").as("rel"), col("v"))
      Similarity.mmrSelect(cand, col("query_id"), col("doc_id"),
          col("rel"), col("v"), k = 4, lambda = 0.7)
        .orderBy("query_id", "mmr_rank")
    },

    // D99b: ABTT debiasing — mean + top component projected out;
    // reports the per-vector removed norm share. EXACT oracle: the
    // power-iteration replay plus a row-local projection (left-fold
    // dots, 4-dp floor).
    Q("q_embed_abtt", embedAbttOracle()) { (s, dir) =>
      Similarity.removeTopComponents(table(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), nComponents = 1, rounds = 8)
        .select(col("id"), col("removed_share"))
        .orderBy("id")
    },

    // D145: exact TF-weighted Jaccard verify — planted DOUBLED docs
    // (text||' '||text) score exactly 0.5 on the multiset ratio where
    // set Jaccard would read 1.0 (the lie this tier exists to catch);
    // cross pairs (doc, doc+1) stay honest-low. Candidates are the
    // planted map — the verify tier's contract is "any recall tier's
    // candidate frame".
    Q(
      "q_dedup_wjaccard",
      s"""WITH u AS (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000, text || ' ' || text
         |  FROM documents WHERE doc_id % 7 = 0),
         |cand AS (
         |  SELECT doc_id AS id_a, doc_id + 200000 AS id_b
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT d1.doc_id, d2.doc_id
         |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
         |  WHERE d1.doc_id % 11 = 0),
         |tf AS (
         |  SELECT id, t AS tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT id, unnest(${tkSql("text")}) AS t FROM u)
         |  GROUP BY id, t),
         |a AS (
         |  SELECT c.id_a, c.id_b, tf.tok, tf.tf AS tfa
         |  FROM cand c JOIN tf ON c.id_a = tf.id),
         |b AS (
         |  SELECT c.id_a, c.id_b, tf.tok, tf.tf AS tfb
         |  FROM cand c JOIN tf ON c.id_b = tf.id),
         |j AS (
         |  SELECT coalesce(a.id_a, b.id_a) AS id_a,
         |    coalesce(a.id_b, b.id_b) AS id_b,
         |    coalesce(a.tfa, 0) AS tfa, coalesce(b.tfb, 0) AS tfb
         |  FROM a FULL JOIN b
         |    ON a.id_a = b.id_a AND a.id_b = b.id_b AND a.tok = b.tok),
         |g AS (
         |  SELECT id_a, id_b,
         |    CAST(sum(least(tfa, tfb)) AS BIGINT) AS n_inter_tf,
         |    CAST(sum(greatest(tfa, tfb)) AS BIGINT) AS n_union_tf
         |  FROM j GROUP BY id_a, id_b),
         |anch AS (
         |  SELECT c.id_a, c.id_b,
         |    coalesce(g.n_inter_tf, 0) AS n_inter_tf,
         |    coalesce(g.n_union_tf, 0) AS n_union_tf
         |  FROM cand c LEFT JOIN g USING (id_a, id_b))
         |SELECT id_a, id_b, n_inter_tf, n_union_tf,
         |  CASE WHEN n_union_tf = 0 THEN 0.0
         |    ELSE floor(CAST(n_inter_tf AS DOUBLE) / CAST(n_union_tf AS DOUBLE)
         |      * 1e4) / 1e4 END AS weighted_jaccard,
         |  CASE WHEN n_union_tf = 0 THEN 0.0
         |    ELSE floor(CAST(n_inter_tf AS DOUBLE) / CAST(n_union_tf AS DOUBLE)
         |      * 1e4) / 1e4 END >= 0.4 AS is_dup
         |FROM anch ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val u = d.select(col("doc_id").as("id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
      val cand = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
        .unionByName(d.as("d1")
          .join(d.as("d2"), col("d2.doc_id") === col("d1.doc_id") + 1)
          .filter(col("d1.doc_id") % 11 === 0)
          .select(col("d1.doc_id").as("id_a"), col("d2.doc_id").as("id_b")))
      Dedup.weightedJaccardVerify(u, col("id"), col("text"), cand,
          threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // D147: duplication-aware loss weights — the q_dedup_clusters
    // component replay extended by one size aggregation: every corpus
    // doc appears, cluster members weigh 1/|cluster|, singletons 1.0.
    Q(
      "q_dup_weights",
      s"""WITH $jaccardClustersSql,
         |csz AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
         |        FROM l8 GROUP BY comp)
         |SELECT d.id AS doc_id,
         |  coalesce(csz.sz, 1) AS cluster_size,
         |  floor(1.0 / coalesce(csz.sz, 1) * 1e6) / 1e6 AS weight
         |FROM (SELECT id FROM docs) d
         |LEFT JOIN l8 ON l8.id = d.id
         |LEFT JOIN csz ON csz.comp = l8.comp
         |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = truncatedDocs(s, dir)
      val pairs = jaccardPairs(docs)
      Dedup.duplicationWeights(docs, col("id"), pairs)
        .orderBy("doc_id")
    },

    // D146: duplicated-n-gram coverage (ONION) — every fifth doc gets
    // a shared boilerplate suffix, pushing its trigram coverage up
    // against the natural lorem baseline; df >= 5, flag above 0.5.
    Q(
      "q_dup_coverage",
      s"""WITH $boilerplateDocsSql,
         |occ AS (
         |  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
         |        FROM tk0 WHERE len(tk) >= 3)),
         |dfreq AS (
         |  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM occ)
         |  GROUP BY sh HAVING count(*) >= 5),
         |per AS (
         |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |  FROM occ o JOIN dfreq USING (sh)
         |  GROUP BY o.doc_id),
         |tot AS (
         |  SELECT doc_id, CAST(greatest(len(tk) - 2, 0) AS BIGINT) AS n_grams
         |  FROM tk0)
         |SELECT t.doc_id, t.n_grams,
         |  coalesce(p.n_dup, 0) AS n_dup_grams,
         |  CASE WHEN t.n_grams = 0 THEN 0.0
         |    ELSE floor(CAST(coalesce(p.n_dup, 0) AS DOUBLE) / t.n_grams
         |      * 1e4) / 1e4 END AS dup_coverage,
         |  CASE WHEN t.n_grams = 0 THEN 0.0
         |    ELSE floor(CAST(coalesce(p.n_dup, 0) AS DOUBLE) / t.n_grams
         |      * 1e4) / 1e4 END > 0.5 AS flagged,
         |  t.n_grams = 0 AS too_short
         |FROM tot t LEFT JOIN per p USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    ) { (s, dir) =>
      val d2 = boilerplateDocs(s, dir)
      Dedup.duplicatedNgramCoverage(d2, col("doc_id"), col("text"),
          n = 3, minDf = 5, maxCoverage = 0.5)
        .orderBy("doc_id")
    },

    // D149: duplicated-n-gram TRIM — the same planted-boilerplate
    // fixture as q_dup_coverage, but the duplicated trigram spans are
    // EXCISED and the doc rebuilt (the keptq position-anti-join idiom
    // from q_corpus_build's mask stage).
    Q(
      "q_dup_trim",
      s"""WITH $boilerplateDocsSql,
         |occ AS (
         |  SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+2], ' ') AS sh
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
         |        FROM tk0 WHERE len(tk) >= 3)),
         |dfreq AS (
         |  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM occ)
         |  GROUP BY sh HAVING count(*) >= 5),
         |lose AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT o.doc_id, unnest(range(o.start, o.start + 3)) AS pos
         |    FROM occ o JOIN dfreq USING (sh))),
         |$keptTermsSql,
         |reb AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(term ORDER BY pos), ' ') AS trimmed
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk0)
         |SELECT t.doc_id, t.n_tokens,
         |  t.n_tokens - coalesce(r.n_kept, 0) AS n_dropped,
         |  CASE WHEN t.n_tokens = 0 THEN 0.0
         |    ELSE floor(CAST(t.n_tokens - coalesce(r.n_kept, 0) AS DOUBLE)
         |      / t.n_tokens * 1e4) / 1e4 END AS drop_ratio,
         |  coalesce(r.trimmed, '') AS trimmed_text
         |FROM tot t LEFT JOIN reb r USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    ) { (s, dir) =>
      val d2 = boilerplateDocs(s, dir)
      Dedup.duplicatedNgramTrim(d2, col("doc_id"), col("text"),
          n = 3, minDf = 5)
        .orderBy("doc_id")
    },

    // D148: cluster-aware k-fold CV assignment — the q_dup_weights
    // near-dup clusters hashed to 5 folds; every cluster member (a
    // doc and its 4/5-truncated rendition) must land in the SAME
    // fold, singletons hash their own id.
    Q(
      "q_cv_folds", {
        val fold = graft.operators.Sampling.hashModSql("cluster", "5")
        s"""WITH $jaccardClustersSql,
           |asg AS (
           |  SELECT d.id, coalesce(l8.comp, d.id) AS cluster
           |  FROM (SELECT id FROM docs) d
           |  LEFT JOIN l8 ON l8.id = d.id)
           |SELECT id, CAST(cluster AS BIGINT) AS cluster,
           |  CAST($fold AS INT) AS fold
           |FROM asg ORDER BY id""".stripMargin
      }
    ) { (s, dir) =>
      val docs = truncatedDocs(s, dir)
      val pairs = jaccardPairs(docs)
      Dedup.cvFolds(docs, col("id"), pairs, col("id_a"), col("id_b"), k = 5)
        .orderBy("id")
    }
  )
}
