package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.RollingHashWinnow
import graft.operators.{Sampling, TextMetrics}

/** Text-analysis queries (SURVEY §2.D8-D11) over `documents`.
  *
  * The oracle twins re-express the SAME deterministic heuristics in
  * DuckDB SQL (list/regex kernels), so every value — ratios, argmax
  * language, fingerprints — must match exactly. Tokenization is the
  * shared contract: lower → strip [^\p{L}\p{Nd}\s] → split \s+ →
  * drop empties.
  */
object TextQueries {

  // planted foreign-script renditions for q_text_script — ONE literal
  // each, interpolated into both the Spark plan and the SQL twin
  private val plantRu = "привет мир это тестовый документ"
  private val plantZh = "你好世界这是一个测试文档"
  private val plantAr = "مرحبا بالعالم هذه وثيقة اختبار"

  /** Term counts per source, `tf`(src, w, ct), with the per-source
    * totals `srct`(src, st) and per-term totals `ttot`(w, c_t).
    */
  private val sourceTermCountsSql: String =
    s"""tf AS (
       |  SELECT src, w, CAST(count(*) AS BIGINT) AS ct
       |  FROM (SELECT source AS src, unnest(${tkSql("text")}) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |srct AS (SELECT src, CAST(sum(ct) AS BIGINT) AS st FROM tf GROUP BY 1),
       |ttot AS (SELECT w, CAST(sum(ct) AS BIGINT) AS c_t FROM tf GROUP BY 1)""".stripMargin

  val all: Seq[Q] = Seq(

    // D8: marker-word language ID — argmax hit count with list-order
    // priority, zero hits → 'und'.
    Q(
      "q_text_langid",
      s"""WITH t AS (
         |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |h AS (
         |  SELECT doc_id,
         |          $langHitsSql
         |  FROM t),
         |b AS (SELECT *, $bestHitsSql AS best FROM h)
         |SELECT doc_id,
         |  CASE WHEN best = 0 THEN 'und' $langCasesSql END AS lang_pred,
         |  CAST(best AS BIGINT) AS lang_hits
         |FROM b ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.withLangId(table(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("lang_pred"), col("lang_hits").cast("long"))
        .orderBy("doc_id")
    },

    // D8b: writing-system detection — per-script character counts +
    // dominant script, over a corpus with planted Cyrillic/Han/Arabic
    // docs (hash-bucket selected). Java regex spells the classes
    // \p{IsXxx}, RE2 (DuckDB) spells the SAME Unicode script property
    // \p{Xxx} — counts agree exactly.
    Q(
      "q_text_script", {
        val b = Sampling.hashBucketSql("doc_id")
        val classesSql = TextMetrics.scriptClasses.map { case (n, re) =>
          n -> re.replace("Is", "")
        }
        val countCols = classesSql.map { case (n, re) =>
          s"CAST(length(t2) - length(regexp_replace(t2, '$re', '', 'g')) AS BIGINT) AS n_$n"
        }.mkString(",\n          ")
        val names = classesSql.map(_._1)
        val best = names.map(n => s"n_$n").mkString("greatest(", ", ", ")")
        val cases = names.map(n => s"WHEN n_$n = best THEN '$n'").mkString(" ")
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN $b < 30 THEN '$plantRu'
           |         WHEN $b < 60 THEN '$plantZh'
           |         WHEN $b < 90 THEN '$plantAr'
           |         ELSE text END AS t2
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |          $countCols
           |  FROM d),
           |b2 AS (SELECT *, $best AS best FROM c)
           |SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic,
           |  CASE WHEN best = 0 THEN 'und' $cases END AS dominant_script
           |FROM b2 ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val bkt = Sampling.hashBucket(col("doc_id"))
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        when(bkt < 30, lit(plantRu))
          .when(bkt < 60, lit(plantZh))
          .when(bkt < 90, lit(plantAr))
          .otherwise(col("text")).as("text"))
      TextMetrics.withScripts(planted, col("text"))
        .select(col("doc_id"), col("n_latin"), col("n_cyrillic"),
          col("n_han"), col("n_arabic"), col("dominant_script"))
        .orderBy("doc_id")
    },

    // D9: quality signals + composite score (C4/Gopher-style cheap
    // filters). Ratios are int/int double divisions → bit-identical.
    Q(
      "q_text_quality",
      s"""WITH t AS (
         |  SELECT doc_id, text, ${tkSql("text")} AS tk FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    len(tk) AS n_tokens,
         |    CASE WHEN len(tk) > 0
         |      THEN list_sum(list_transform(tk, t -> len(t))) * 1.0 / len(tk)
         |      ELSE 0.0 END AS mean_tok_len,
         |    CASE WHEN len(text) > 0
         |      THEN (len(text) - len(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) * 1.0 / len(text)
         |      ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN len(text) > 0
         |      THEN (len(text) - len(regexp_replace(text, '[A-Z]', '', 'g'))) * 1.0 / len(text)
         |      ELSE 0.0 END AS upper_ratio,
         |    CASE WHEN len(tk) > 0
         |      THEN len(list_filter(tk, t -> t IN $stopListSql)) * 1.0 / len(tk)
         |      ELSE 0.0 END AS stop_ratio
         |  FROM t)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(mean_tok_len, 4) AS mean_tok_len,
         |  round(punct_ratio, 4) AS punct_ratio,
         |  round(upper_ratio, 4) AS upper_ratio,
         |  round(stop_ratio, 4) AS stop_ratio,
         |  $qualityScoreSql AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.withQuality(table(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
          col("punct_ratio"), col("upper_ratio"), col("stop_ratio"), col("quality"))
        .orderBy("doc_id")
    },

    // D10: whitespace vs BPE-ish sub-word token counts.
    Q(
      "q_text_tokens",
      s"""SELECT doc_id,
         |  CAST(len(${tkSql("text")}) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.withTokenCounts(table(s, dir, "documents"), col("text"))
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens")
        .orderBy("doc_id")
    },

    // D79: Gopher composite quality gate — the published row-local
    // rule bundle with per-rule flags; stop list and thresholds
    // replayed from the shared constants.
    Q(
      "q_gopher_gate", {
        val stops = TextMetrics.gopherStopwords.map(s => s"'$s'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id AS id, text, ${tkSql("text")} AS tk FROM documents),
           |m AS (
           |  SELECT id, len(tk) AS n,
           |    CAST(length(array_to_string(tk, '')) AS DOUBLE) AS chars,
           |    len(list_filter(tk, x -> regexp_matches(x, '\\p{L}'))) AS alpha,
           |    len(list_filter(tk, x -> x IN ($stops))) AS stop,
           |    length(text) - length(replace(text, '#', '')) AS hashes,
           |    (length(text) - length(replace(text, '...', ''))) / 3 AS ellipses
           |  FROM t),
           |r AS (
           |  SELECT id, n,
           |    n >= 50 AND n <= 100000 AS r1,
           |    n > 0 AND chars / n >= 3.0 AND chars / n <= 10.0 AS r2,
           |    n > 0 AND CAST(hashes + ellipses AS DOUBLE) / n <= 0.1 AS r3,
           |    n > 0 AND CAST(alpha AS DOUBLE) / n >= 0.8 AS r4,
           |    stop >= 2 AS r5
           |  FROM m)
           |SELECT id, CAST(n AS BIGINT) AS n_words,
           |  r1 AS r_word_count, r2 AS r_mean_word_len, r3 AS r_symbol_ratio,
           |  r4 AS r_alpha_words, r5 AS r_stop_hits,
           |  r1 AND r2 AND r3 AND r4 AND r5 AS pass
           |FROM r ORDER BY id""".stripMargin
      }
    ) { (s, dir) =>
      TextMetrics.gopherGate(table(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("id")
    },

    // D72: degenerate-repetition (looping) detector — planted
    // "loop loop loop loop" tails on every 5th doc must dominate
    // max_token_run; gaps-and-islands replayed identically.
    Q(
      "q_token_loops",
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' loop loop loop loop'
         |         ELSE text END AS t
         |  FROM documents),
         |tk AS (SELECT doc_id, ${tkSql("t")} AS l FROM p),
         |e AS (
         |  SELECT doc_id, unnest(l) AS tok,
         |    unnest(generate_series(1, len(l))) AS pos
         |  FROM tk),
         |r AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN tok = lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
         |         THEN 1 ELSE 0 END AS rep,
         |    pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
         |  FROM e),
         |runs AS (
         |  SELECT doc_id, tok, grp, count(*) AS run, sum(rep) AS reps
         |  FROM r GROUP BY 1, 2, 3),
         |o AS (
         |  SELECT doc_id, max(run) AS mx, sum(reps) AS reps FROM runs GROUP BY 1)
         |SELECT d.doc_id AS id,
         |  CAST(coalesce(mx, 0) AS BIGINT) AS max_token_run,
         |  CAST(coalesce(reps, 0) AS BIGINT) AS n_immediate_repeats
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN o USING (doc_id) ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" loop loop loop loop")))
          .otherwise(col("text")).as("text"))
      TextMetrics.tokenLoops(planted, col("doc_id"), col("text"))
        .orderBy("id")
    },

    // D73: per-source PII scorecard — planted email/URL/digit-run on
    // every 3rd doc; per-type occurrence counts + docs-with-any, the
    // before/after report around a redact pass. Oracle generated from
    // the SAME piiPatterns table.
    Q(
      "q_pii_report", {
        val pii = " contact bob.smith+x@mail.example.org see https://ex.org/a id 1234567"
        val cnts = TextMetrics.piiPatterns.map { case (n, p) =>
          s"len(regexp_extract_all(t, '$p')) AS c_$n"
        }.mkString(",\n    ")
        val anyC = TextMetrics.piiPatterns.map { case (n, _) => s"c_$n > 0" }.mkString(" OR ")
        val sums = TextMetrics.piiPatterns.map { case (n, _) =>
          s"CAST(sum(c_$n) AS BIGINT) AS n_$n"
        }.mkString(", ")
        s"""WITH p AS (
           |  SELECT source,
           |    CASE WHEN doc_id % 3 = 0 THEN text || '$pii' ELSE text END AS t
           |  FROM documents),
           |c AS (
           |  SELECT source,
           |    $cnts
           |  FROM p)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN $anyC THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           |  $sums
           |FROM c GROUP BY source ORDER BY source""".stripMargin
      }
    ) { (s, dir) =>
      val pii = " contact bob.smith+x@mail.example.org see https://ex.org/a id 1234567"
      val planted = table(s, dir, "documents").select(col("source"),
        when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(pii)))
          .otherwise(col("text")).as("text"))
      TextMetrics.piiReport(planted, col("source"), col("text"))
        .orderBy("source")
    },

    // D74: document-format router — json/html/markdown/code wrappers
    // planted by doc_id residue; ordered CASE shared verbatim.
    Q(
      "q_format_detect",
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '{"body": "' || text || '"}'
        |      WHEN 1 THEN '<html><body><p>' || text || '</p></body></html>'
        |      WHEN 2 THEN '# Title' || chr(10) || '- item one' || chr(10) || '- item two'
        |        || chr(10) || text
        |      WHEN 3 THEN 'def f() { return 1; } import x; def g() { return 2; } ' || text
        |      ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(trim(t), '^[\[{]') AND regexp_matches(trim(t), '[\]}]$')
        |       THEN 'json'
        |       WHEN len(regexp_extract_all(lower(t),
        |         '</?(html|head|body|div|span|p|a|table|li|ul|br|h[1-6])[ >]')) >= 2
        |       THEN 'html'
        |       WHEN len(regexp_extract_all(t,
        |         '(?m)^#{1,6} |^- |^\* |^```|\[[^\]]+\]\([^)]+\)')) >= 2
        |       THEN 'markdown'
        |       WHEN len(regexp_extract_all(t,
        |         '[{};]|=>|\breturn\b|\bdef\b|\bvoid\b|\bimport\b')) >= 8
        |       THEN 'code'
        |       ELSE 'prose' END AS format
        |FROM p ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("{\"body\": \""), col("text"), lit("\"}")))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit("# Title\n- item one\n- item two\n"), col("text")))
          .when(pmod(col("doc_id"), lit(5)) === 3,
            concat(lit("def f() { return 1; } import x; def g() { return 2; } "),
              col("text")))
          .otherwise(col("text")).as("t"))
      planted.select(col("doc_id"),
          TextMetrics.detectFormat(col("t")).as("format"))
        .orderBy("doc_id")
    },

    // D66: per-language tokenizer fertility — chars per BPE-ish token
    // and BPE-per-word by language, the tokenizer-fairness dashboard.
    Q(
      "q_tokenizer_fertility",
      s"""WITH g AS (
         |  SELECT lang AS grp, count(*) AS n_docs,
         |    sum(length(text)) AS n_chars,
         |    sum(len(${tkSql("text")})) AS n_ws_tokens,
         |    sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')))
         |      AS n_bpe_tokens
         |  FROM documents GROUP BY 1)
         |SELECT grp, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
         |  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
         |  CASE WHEN n_bpe_tokens = 0 THEN 0.0
         |       ELSE floor(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE) * 1e4)
         |         / 1e4 END AS chars_per_bpe_token,
         |  CASE WHEN n_ws_tokens = 0 THEN 0.0
         |       ELSE floor(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE) * 1e4)
         |         / 1e4 END AS bpe_per_ws_token
         |FROM g ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      TextMetrics.tokenizerFertility(
          table(s, dir, "documents"), col("lang"), col("text"))
        .orderBy("grp")
    },

    // D67: per-doc language consistency — head/tail halves language-ID
    // independently; docs with a planted Spanish tail (every 7th) must
    // flag inconsistent wherever the tail half's markers win.
    Q(
      "q_lang_consistency", {
        val langs = TextMetrics.langMarkers.map(_._1)
        def hitCols(tag: String) = TextMetrics.langMarkers.map { case (l, ms) =>
          s"len(list_filter(${tag}tk, t -> t IN ${inListSql(ms)})) AS ${tag}h_$l"
        }.mkString(",\n    ")
        def bestOf(tag: String) = langs.map(l => s"${tag}h_$l").mkString("greatest(", ", ", ")")
        def caseOf(tag: String) =
          s"CASE WHEN ${tag}best = 0 THEN 'und' " +
            langs.map(l => s"WHEN ${tag}h_$l = ${tag}best THEN '$l'").mkString(" ") + " END"
        val es = Seq.fill(8)("el perro y la casa de los gatos con una que").mkString(" ", " ", "")
        s"""WITH p AS (
           |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || '$es' ELSE text END AS t
           |  FROM documents),
           |s AS (
           |  SELECT doc_id,
           |    substr(t, 1, CAST(length(t) // 2 AS INT)) AS head,
           |    substr(t, CAST(length(t) // 2 AS INT) + 1, length(t)) AS tail
           |  FROM p),
           |k AS (
           |  SELECT doc_id, ${tkSql("head")} AS htk, ${tkSql("tail")} AS ttk FROM s),
           |h AS (
           |  SELECT doc_id,
           |    ${hitCols("h")},
           |    ${hitCols("t")}
           |  FROM k),
           |b AS (SELECT *, ${bestOf("h")} AS hbest, ${bestOf("t")} AS tbest FROM h),
           |o AS (
           |  SELECT doc_id AS id, ${caseOf("h")} AS lang_head, ${caseOf("t")} AS lang_tail
           |  FROM b)
           |SELECT id, lang_head, lang_tail, lang_head = lang_tail AS consistent
           |FROM o ORDER BY id""".stripMargin
      }
    ) { (s, dir) =>
      val es = Seq.fill(8)("el perro y la casa de los gatos con una que")
        .mkString(" ", " ", "")
      val planted = table(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(es)))
          .otherwise(col("text")).as("text"))
      TextMetrics.langConsistency(planted, col("doc_id"), col("text"))
        .orderBy("id")
    },

    // D11a: normalized-content fingerprint. Each document gets a noisy
    // rendition (upper-case + trailing punctuation) planted alongside
    // it; normalization must collapse both to the same md5, so every
    // fingerprint group has exactly two members.
    Q(
      "q_fingerprint",
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || ' , ' FROM documents),
        |f AS (
        |  SELECT doc_id,
         |    ${normFingerprintSql("text")} AS fp
        |  FROM docs)
        |SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM f GROUP BY fp ORDER BY keep_id""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val noisy = d.select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(upper(col("text")), lit(" , ")).as("text"))
      TextMetrics.withFingerprint(d.unionByName(noisy), col("text"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },

    // D9b: within-document repetition ratio (Gopher-style duplicate
    // n-gram filter): 1 - distinct/total 3-gram shingles. Repetitive
    // boilerplate scores high; the planted rendition doubles the text
    // to guarantee non-trivial values at every SF.
    Q(
      "q_text_repetition", {
        val tk = tkSql("text")
        s"""WITH d AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, text || ' ' || text FROM documents),
           |t AS (SELECT doc_id, $tk AS tk FROM d),
           |sh AS (
           |  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS s
           |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
           |        FROM t WHERE len(tk) >= 3))
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_sh,
           |  CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
           |  round(1.0 - count(DISTINCT s) * 1.0 / count(*), 4) AS rep_ratio
           |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = d.select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", col("text"), col("text")).as("text"))
      // count distinct over 64-bit shingle hashes, not strings — the
      // distinct-aggregation shuffles 8-byte keys (collision odds
      // ~1e-9 per corpus perturb one count at most)
      val sh = graft.operators.scaleOut(d.unionByName(doubled))
        .select(col("doc_id"),
          explode(graft.functions.shingles(graft.functions.tokens(col("text")), 3)).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      sh.groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_sh"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("doc_id"), col("n_sh"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_sh"), 4).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // D13: PII/URL redaction — every document gets a planted email,
    // URL, and long digit run; the scrub must normalize all three.
    Q(
      "q_text_redact",
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or id 123456' || doc_id
        |         || ' via https://example.com/x' || doc_id AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[\p{L}\p{Nd}._%+-]+@[\p{L}\p{Nd}.-]+\.[\p{L}]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM d ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or id 123456"), col("doc_id").cast("string"),
          lit(" via https://example.com/x"), col("doc_id").cast("string")).as("text"))
      planted
        .select(col("doc_id"), TextMetrics.redact(col("text")).as("redacted"))
        .orderBy("doc_id")
    },

    // D124: consistent PII pseudonymization — docs share planted
    // emails (doc_id % 5) so the SAME address maps to the SAME
    // pseudonym across docs; the digit-run ref is per-doc. Exact
    // oracle: the split/extract/interleave rebuild with md5-derived
    // tokens replays list-for-list; the full rebuilt text is compared.
    Q(
      "q_pseudonymize",
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id % 5 AS VARCHAR)
        |         || '@example.com ref ' || CAST(doc_id * 7919 + 100000000 AS VARCHAR)
        |         AS tx
        |  FROM documents),
        |e1 AS (SELECT doc_id,
        |    regexp_split_to_array(tx,
        |      '[\p{L}\p{Nd}._%+-]+@[\p{L}\p{Nd}.-]+\.[\p{L}]{2,}') AS segs,
        |    regexp_extract_all(tx,
        |      '[\p{L}\p{Nd}._%+-]+@[\p{L}\p{Nd}.-]+\.[\p{L}]{2,}') AS ms
        |  FROM d),
        |r1 AS (SELECT doc_id, array_to_string(list_transform(
        |    range(1, len(segs) + 1),
        |    i -> segs[i] || CASE WHEN i <= len(ms)
        |      THEN '<EMAIL:' || translate(substr(md5(ms[i]), 1, 8),
        |        '0123456789', 'ghijklmnop') || '>' ELSE '' END),
        |    '') AS tx
        |  FROM e1),
        |e2 AS (SELECT doc_id,
        |    regexp_split_to_array(tx, '[0-9]{6,}') AS segs,
        |    regexp_extract_all(tx, '[0-9]{6,}') AS ms
        |  FROM r1)
        |SELECT doc_id, array_to_string(list_transform(
        |    range(1, len(segs) + 1),
        |    i -> segs[i] || CASE WHEN i <= len(ms)
        |      THEN '<NUM:' || translate(substr(md5(ms[i]), 1, 8),
        |        '0123456789', 'ghijklmnop') || '>' ELSE '' END),
        |    '') AS pseudo_text
        |FROM e2 ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user"), (col("doc_id") % 5).cast("string"),
          lit("@example.com ref "),
          (col("doc_id") * 7919 + 100000000L).cast("string")).as("tx"))
      planted
        .select(col("doc_id"),
          TextMetrics.pseudonymize(col("tx")).as("pseudo_text"))
        .orderBy("doc_id")
    },

    // D11b: winnowing fingerprints (custom Catalyst Expression). The
    // wraparound rolling hash is not expressible in DuckDB's checked
    // BIGINT arithmetic → rows-only here; exactness is covered by the
    // planted shared-substring spec in TextMetricsSpec.
    // EXACT oracle since r10: XxSql.winnowFpCtes replays the rolling
    // k-gram hash + rightmost-min window selection positionally.
    Q("q_fingerprint_winnow",
      s"""WITH docs AS (SELECT doc_id AS id, text AS s FROM documents),
         |${XxSql.winnowFpCtes("docs")},
         |agg AS (SELECT id, COUNT(*)::BIGINT AS n_fp, COUNT(DISTINCT h)::BIGINT AS n_distinct_fp
         |        FROM wfp GROUP BY id)
         |SELECT d.doc_id, COALESCE(a.n_fp, 0)::BIGINT AS n_fp,
         |       COALESCE(a.n_distinct_fp, 0)::BIGINT AS n_distinct_fp
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          RollingHashWinnow.winnowFingerprint(col("text"), k = 8, w = 16).as("fps"))
        .select(
          col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          size(array_distinct(col("fps"))).cast("long").as("n_distinct_fp"))
        .orderBy("doc_id")
    },

    // D22: overlapping token-window chunking (context-window splitter):
    // 128-token chunks every 64 tokens; trailing chunks short, every
    // token covered. DuckDB unrolls the same windows via range().
    Q(
      "q_text_chunk",
      s"""WITH tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |s AS (SELECT doc_id, tk, len(tk) AS n FROM tk0 WHERE len(tk) >= 1),
         |c AS (SELECT doc_id, n, tk, unnest(range(0, n, 64)) AS start FROM s)
         |SELECT doc_id AS id, CAST(start // 64 AS INT) AS chunk_id,
         |  array_to_string(tk[start + 1 : start + 128], ' ') AS chunk_text,
         |  CAST(least(128, n - start) AS BIGINT) AS n_tokens
         |FROM c ORDER BY id, chunk_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.chunkTokens(table(s, dir, "documents"),
          col("doc_id"), col("text"), chunkSize = 128, stride = 64)
        .orderBy("id", "chunk_id")
    },

    // B21: accent/diacritic folding — the Portuguese-corpus
    // normalization the reference's domain runs on (ação == acao as a
    // join/dedup key): NFD + drop combining marks vs DuckDB's native
    // strip_accents, byte-identical on decomposable text.
    Q(
      "q_strip_accents",
      """SELECT doc_id,
        |  strip_accents(text || ' ação café coração àéõü ELÉTRICA') AS folded,
        |  md5(strip_accents(text || ' ação café coração àéõü ELÉTRICA')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = concat(col("text"), lit(" ação café coração àéõü ELÉTRICA"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.UnicodeNormalize.stripAccents(planted).as("folded"),
          md5(graft.functions.UnicodeNormalize.stripAccents(planted)).as("fp"))
        .orderBy("doc_id")
    },

    // D23: Unicode NFC normalization (custom codegen'd Expression over
    // java.text.Normalizer) — the corpus is ASCII, so each doc is
    // decorated with DECOMPOSED sequences (e + U+0301, n + U+0303);
    // NFC must compose them (é, ñ): code-point count drops by exactly
    // 2 and the md5 fingerprints must agree byte-for-byte with
    // DuckDB's nfc_normalize.
    Q(
      "q_nfc_normalize", {
        val deco = "text || ' cafe' || chr(769) || ' nin' || chr(771) || 'o'"
        s"""SELECT doc_id,
           |  length($deco) AS n_raw,
           |  length(nfc_normalize($deco)) AS n_nfc,
           |  md5(nfc_normalize($deco)) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      // DECOMPOSED combining marks (mirror the oracle's chr(769)/chr(771)),
      // written as escapes so no encoding pass can silently compose them
      val deco = concat(col("text"), lit(" cafe\u0301 nin\u0303o"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          length(deco).cast("long").as("n_raw"),
          length(graft.functions.UnicodeNormalize.nfc(deco)).cast("long").as("n_nfc"),
          md5(graft.functions.UnicodeNormalize.nfc(deco)).as("fp"))
        .orderBy("doc_id")
    },

    // D24: corpus heavy hitters \u2014 the 20 bigrams present in the most
    // documents (document frequency over distinct-per-doc shingles),
    // deterministic tie on the shingle text. Spark plans the
    // orderBy+limit as TakeOrderedAndProject (distributed top-k);
    // DuckDB recomputes the frequency table from scratch.
    Q(
      "q_heavy_shingles",
      s"""WITH tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+1], ' ') AS shingle
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
         |        FROM tk0 WHERE len(tk) >= 2))
         |SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
         |FROM sh GROUP BY shingle
         |ORDER BY n_docs DESC, shingle LIMIT 20""".stripMargin
    ) { (s, dir) =>
      TextMetrics.topShingles(table(s, dir, "documents"),
          col("doc_id"), col("text"), n = 2, k = 20)
        // re-sort the 20-row result so the dumped row order is pinned
        // regardless of how the limit's partitions coalesce
        .orderBy(col("n_docs").desc, col("shingle").asc)
    },

    // D109: binary-blob contamination — every 13th doc gets a 123-char
    // base64 payload, every 17th a 64-char hex digest; run extraction,
    // lengths, ratio, and the flag replay in both engines (the planted
    // blob uses only [A-Za-z0-9+/] so both regexes see identical runs).
    Q(
      "q_binary_blobs",
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' ' ||
        |      repeat('QmFzZTY0IQ==', 10) || 'A/+'
        |    WHEN doc_id % 17 = 0 THEN text || ' ' || repeat('deadbeef', 8)
        |    ELSE text END AS t
        |  FROM documents),
        |r AS (
        |  SELECT doc_id AS id, t,
        |    regexp_extract_all(t, '[A-Za-z0-9+/=]{40,}') AS b64,
        |    regexp_extract_all(t, '[0-9a-fA-F]{32,}') AS hex
        |  FROM d)
        |SELECT id,
        |  CAST(len(b64) AS BIGINT) AS n_b64_runs,
        |  CAST(coalesce(list_max(list_transform(b64, s -> length(s))), 0)
        |    AS BIGINT) AS max_b64_len,
        |  CASE WHEN length(t) > 0 THEN
        |    floor(CAST(coalesce(list_sum(list_transform(b64, s -> length(s))), 0) AS DOUBLE)
        |      / length(t) * 1e4) / 1e4
        |  ELSE CAST(0.0 AS DOUBLE) END AS b64_char_ratio,
        |  CAST(len(hex) AS BIGINT) AS n_hex_runs,
        |  CAST(coalesce(list_max(list_transform(hex, s -> length(s))), 0)
        |    AS BIGINT) AS max_hex_len,
        |  CASE WHEN length(t) > 0 THEN
        |    floor(CAST(coalesce(list_sum(list_transform(hex, s -> length(s))), 0) AS DOUBLE)
        |      / length(t) * 1e4) / 1e4
        |  ELSE CAST(0.0 AS DOUBLE) END AS hex_char_ratio,
        |  b64_char_ratio > 0.3 OR hex_char_ratio > 0.3
        |    OR max_b64_len >= 120 OR max_hex_len >= 120 AS flagged
        |FROM r ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" "),
            concat_ws("", (1 to 10).map(_ => lit("QmFzZTY0IQ==")): _*),
            lit("A/+")))
          .when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" "),
              concat_ws("", (1 to 8).map(_ => lit("deadbeef")): _*)))
          .otherwise(col("text")).as("t"))
      TextMetrics.binaryBlobStats(d, col("doc_id"), col("t"),
          hugeRun = 120)
        .orderBy("id")
    },

    // D108: vocabulary growth over ingest-order buckets (50 docs per
    // bucket) — new-term counts/rates and cumulative vocab; exact
    // distinct arithmetic, one bounded ordered pass for the cumsum.
    Q(
      "q_vocab_growth",
      s"""WITH tb AS (
         |  SELECT DISTINCT bucket, term FROM (
         |    SELECT doc_id // 50 AS bucket, unnest(${tkSql("text")}) AS term
         |    FROM documents)),
         |fr AS (SELECT term, min(bucket) AS fb FROM tb GROUP BY 1),
         |used AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_terms_used
         |  FROM tb GROUP BY 1),
         |fresh AS (
         |  SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new_terms
         |  FROM fr GROUP BY 1)
         |SELECT u.bucket, u.n_terms_used,
         |  coalesce(f.n_new_terms, 0) AS n_new_terms,
         |  floor(CAST(coalesce(f.n_new_terms, 0) AS DOUBLE)
         |    / u.n_terms_used * 1e4) / 1e4 AS new_ratio,
         |  CAST(sum(coalesce(f.n_new_terms, 0)) OVER (
         |    ORDER BY u.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         |FROM used u LEFT JOIN fresh f ON f.bucket = u.bucket
         |ORDER BY u.bucket""".stripMargin
    ) { (s, dir) =>
      TextMetrics.vocabGrowth(table(s, dir, "documents"),
          expr("doc_id div 50"), col("text"))
        .orderBy("bucket")
    },

    // D107: top-50 PMI collocations over the corpus — bigrams beating
    // independence (min pair count 5 prunes unstable tails); one ln on
    // an exact integer ratio, 7-dp round, (prev, cur) tiebreaks.
    Q(
      "q_pmi_bigrams",
      s"""WITH tk0 AS (SELECT ${tkSql("text")} AS tk FROM documents),
         |uni AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(tk) AS w FROM tk0) GROUP BY 1),
         |tu AS (SELECT sum(n) AS nu FROM uni),
         |bi AS (
         |  SELECT tk[i] AS prev, tk[i + 1] AS cur,
         |    CAST(count(*) AS BIGINT) AS n_pair
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
         |        FROM tk0 WHERE len(tk) >= 2)
         |  GROUP BY 1, 2),
         |tb AS (SELECT sum(n_pair) AS nb FROM bi),
         |s AS (
         |  SELECT bi.prev, bi.cur, bi.n_pair,
         |    round(ln(CAST(bi.n_pair AS DOUBLE) * tu.nu * tu.nu
         |      / (CAST(tb.nb AS DOUBLE) * a.n * c.n)), 7) AS pmi
         |  FROM bi
         |  JOIN uni a ON a.w = bi.prev
         |  JOIN uni c ON c.w = bi.cur
         |  CROSS JOIN tu CROSS JOIN tb
         |  WHERE bi.n_pair >= 5)
         |SELECT prev, cur, n_pair, pmi
         |FROM s ORDER BY pmi DESC, prev, cur LIMIT 50""".stripMargin
    ) { (s, dir) =>
      TextMetrics.pmiBigrams(table(s, dir, "documents"), col("text"),
        minCount = 5, k = 50)
    },

    // D106: distinct-n diversity ratios per source — distinct/total
    // n-grams at n = 1..3, the templated-source detector; counts are
    // exact integers, ratio 4-dp floor.
    Q(
      "q_distinct_ngrams",
      s"""WITH tk0 AS (
         |  SELECT source AS group_key, ${tkSql("text")} AS tk FROM documents),
         |g1 AS (
         |  SELECT group_key, 1 AS n, CAST(count(*) AS BIGINT) AS n_total,
         |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
         |  FROM (SELECT group_key, unnest(tk) AS g FROM tk0) GROUP BY 1),
         |g2 AS (
         |  SELECT group_key, 2 AS n, CAST(count(*) AS BIGINT) AS n_total,
         |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
         |  FROM (SELECT group_key, array_to_string(tk[i:i+1], ' ') AS g
         |        FROM (SELECT group_key, tk, unnest(range(1, len(tk))) AS i
         |              FROM tk0 WHERE len(tk) >= 2)) GROUP BY 1),
         |g3 AS (
         |  SELECT group_key, 3 AS n, CAST(count(*) AS BIGINT) AS n_total,
         |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
         |  FROM (SELECT group_key, array_to_string(tk[i:i+2], ' ') AS g
         |        FROM (SELECT group_key, tk, unnest(range(1, len(tk) - 1)) AS i
         |              FROM tk0 WHERE len(tk) >= 3)) GROUP BY 1),
         |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         |      UNION ALL SELECT * FROM g3)
         |SELECT group_key, n, n_total, n_distinct,
         |  floor(CAST(n_distinct AS DOUBLE) / n_total * 1e4) / 1e4
         |    AS distinct_ratio
         |FROM u ORDER BY group_key, n""".stripMargin
    ) { (s, dir) =>
      TextMetrics.distinctNgramRatios(table(s, dir, "documents"),
          col("source"), col("text"), maxN = 3)
        .orderBy("group_key", "n")
    },

    // D105: pairwise Jensen-Shannon divergence between source unigram
    // distributions — the distributional complement to
    // q_source_overlap's fingerprint matrix. Shared-vocabulary join
    // only (exclusive masses fall out of the shared sums); ln2
    // interpolated as the one Scala constant; 7-dp decimal term sums.
    Q(
      "q_source_jsd", {
        val ln2 = math.log(2.0)
        s"""WITH tk AS (
           |  SELECT source AS src, unnest(${tkSql("text")}) AS term
           |  FROM documents),
           |cnt AS (SELECT src, term, count(*) AS n FROM tk GROUP BY 1, 2),
           |tot AS (SELECT src, sum(n) AS tot FROM cnt GROUP BY 1),
           |p AS (
           |  SELECT cnt.src, cnt.term,
           |    floor(CAST(cnt.n AS DOUBLE) / tot.tot * 1e7) / 1e7 AS p
           |  FROM cnt JOIN tot USING (src)),
           |pt AS (
           |  SELECT a.src AS src_a, b.src AS src_b, a.p AS pa, b.p AS pb
           |  FROM p a JOIN p b ON a.term = b.term AND a.src < b.src),
           |terms AS (
           |  SELECT src_a, src_b,
           |    CAST(floor((pa / 2 * (ln(2.0 * pa / (pa + pb)) / $ln2)
           |      + pb / 2 * (ln(2.0 * pb / (pa + pb)) / $ln2)) * 1e7) / 1e7
           |      AS DECIMAL(20,7)) AS js,
           |    CAST(pa AS DECIMAL(20,7)) AS pa7,
           |    CAST(pb AS DECIMAL(20,7)) AS pb7
           |  FROM pt),
           |shared AS (
           |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_terms,
           |    floor(((1.0 - CAST(sum(pa7) AS DOUBLE)) / 2
           |      + (1.0 - CAST(sum(pb7) AS DOUBLE)) / 2
           |      + CAST(sum(js) AS DOUBLE)) * 1e4) / 1e4 AS jsd
           |  FROM terms GROUP BY 1, 2),
           |ap AS (
           |  SELECT a.src AS src_a, b.src AS src_b
           |  FROM tot a, tot b WHERE a.src < b.src)
           |SELECT ap.src_a, ap.src_b,
           |  coalesce(s.n_shared_terms, 0) AS n_shared_terms,
           |  coalesce(s.jsd, CAST(1.0 AS DOUBLE)) AS jsd
           |FROM ap LEFT JOIN shared s
           |  ON s.src_a = ap.src_a AND s.src_b = ap.src_b
           |ORDER BY ap.src_a, ap.src_b""".stripMargin
      }
    ) { (s, dir) =>
      TextMetrics.sourceDivergence(table(s, dir, "documents"),
          col("source"), col("text"))
        .orderBy("src_a", "src_b")
    },

    // D26: per-source corpus report — the dashboard feed the reference
    // exists to produce (rmd:33 'fazer agregações'), over the curation
    // metrics: doc/token counts, exact-decimal mean quality, language
    // and quality-gate pass counts per source. One scan, one partial-
    // aggregated groupBy.
    Q(
      "q_source_report",
      s"""WITH t AS (
         |  SELECT source, text, ${tkSql("text")} AS tk FROM documents),
         |m AS (
         |  SELECT source,
         |    $qualitySignalsSql,
         |    $langHitsSql
         |  FROM t),
         |b AS (SELECT *, $bestHitsSql AS best FROM m),
         |q AS (
         |  SELECT source, n_tokens,
         |    $qualityScoreSql AS quality,
         |    CASE WHEN best = 0 THEN 'und' $langCasesSql END AS lang_pred
         |  FROM b)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_quality,
         |  CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |FROM q GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val scored = TextMetrics.withLangId(
        TextMetrics.withQuality(
          table(s, dir, "documents").select(col("source"), col("text")), col("text")),
        col("text"))
      scored.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("quality").cast("decimal(18,4)")).cast("double") / count(lit(1)), 4)
            .as("avg_quality"),
          sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_pass"))
        .orderBy("source")
    },

    // D25: unigram LM quality score — per-term add-one-smoothed
    // log-prob (rounded 7 dp), per-doc mean over EXACT decimal sums so
    // partitioning/order can't perturb the value; DuckDB rebuilds the
    // model and replays the identical arithmetic.
    Q(
      "q_unigram_logprob",
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${tkSql("text")}) AS term FROM documents),
         |tf AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
         |tot AS (SELECT sum(n) AS n_total, count(*) AS vocab FROM tf),
         |lp AS (
         |  SELECT term,
         |    CAST(round(ln((n + 1) * 1.0 / (n_total + vocab)), 7) AS DECIMAL(18,7)) AS lp
         |  FROM tf CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(lp) / count(*) AS DOUBLE), 4) AS avg_logprob
         |FROM t JOIN lp USING (term)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.unigramLogProb(table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D25b: CCNet-style perplexity bucketing — langid + unigram LM
    // score + per-LANGUAGE ntile quality tiers (the head/middle/tail
    // partitioning web-corpus curation keeps/samples/drops by). The
    // oracle replays all three stages; ordering uses the ROUNDED score
    // + doc_id tiebreak on both sides so bucket boundaries are
    // engine-portable.
    Q(
      "q_perplexity_buckets",
      s"""WITH tk0 AS (
         |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |h AS (SELECT doc_id, $langHitsSql FROM tk0),
         |b AS (SELECT *, $bestHitsSql AS best FROM h),
         |langid AS (
         |  SELECT doc_id,
         |    CASE WHEN best = 0 THEN 'und' $langCasesSql END AS lang
         |  FROM b),
         |t AS (SELECT doc_id, unnest(tk) AS term FROM tk0),
         |tf AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
         |tot AS (SELECT sum(n) AS n_total, count(*) AS vocab FROM tf),
         |lp AS (
         |  SELECT term,
         |    CAST(round(ln((n + 1) * 1.0 / (n_total + vocab)), 7) AS DECIMAL(18,7)) AS lp
         |  FROM tf CROSS JOIN tot),
         |scored AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(CAST(sum(lp) / count(*) AS DOUBLE), 4) AS avg_logprob
         |  FROM t JOIN lp USING (term)
         |  GROUP BY doc_id)
         |SELECT s.doc_id, lang, n_tokens, avg_logprob,
         |  CAST(ntile(4) OVER (PARTITION BY lang
         |    ORDER BY avg_logprob DESC, s.doc_id) AS INT) AS bucket
         |FROM scored s JOIN langid USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.perplexityBuckets(table(s, dir, "documents"),
          col("doc_id"), col("text"), nBuckets = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D50: DSIR importance weighting — per-doc mean log-ratio of a
    // target (source = src0) unigram distribution vs the raw corpus,
    // add-one smoothed over the shared vocab; selected = more
    // target-like than the corpus average. Each ln is rounded to 7 dp
    // BEFORE subtraction so both engines subtract identical doubles.
    Q(
      "q_dsir_weights",
      s"""WITH tk0 AS (
         |  SELECT doc_id, (source = 'src0') AS tgt, ${tkSql("text")} AS tk
         |  FROM documents),
         |t AS (SELECT doc_id, tgt, unnest(tk) AS feat FROM tk0),
         |tf AS (
         |  SELECT feat, count(*) AS n_raw,
         |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_tgt
         |  FROM t GROUP BY 1),
         |tot AS (
         |  SELECT sum(n_raw) AS raw_total, sum(n_tgt) AS tgt_total,
         |    count(*) AS vocab
         |  FROM tf),
         |lr AS (
         |  SELECT feat,
         |    CAST(round(ln((n_tgt + 1) * 1.0 / (tgt_total + vocab)), 7) -
         |         round(ln((n_raw + 1) * 1.0 / (raw_total + vocab)), 7)
         |      AS DECIMAL(18,7)) AS lr
         |  FROM tf CROSS JOIN tot),
         |scored AS (
         |  -- + 0.0 normalizes NEGATIVE ZERO: DuckDB's round() keeps
         |  -- the sign of a tiny negative mean (-0.0) where Spark's
         |  -- BigDecimal rounding cannot produce one — caught by the
         |  -- r15 sf1 sweep (160 replica docs round to zero from below)
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(CAST(sum(lr) / count(*) AS DOUBLE), 4) + 0.0 AS avg_log_ratio
         |  FROM t JOIN lr USING (feat)
         |  GROUP BY doc_id)
         |SELECT doc_id, n_tokens, avg_log_ratio,
         |  (avg_log_ratio > 0) AS selected
         |FROM scored ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.dsirWeights(table(s, dir, "documents"),
          col("doc_id"), col("text"), col("source") === "src0")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D54: linear text-classifier apply — sigmoid(bias + Σ w(token))
    // over a planted 5-term weight table (the fastText-style quality
    // gate's inference pass). Weights/bias truncate at 7 dp, the logit
    // sums exact decimals, and the decision flag compares the exact
    // logit to 0 so sigmoid's libm ulp can never flip it.
    Q(
      "q_text_classify",
      s"""WITH wt(term, wgt) AS (VALUES
         |    ('spark', 2.5), ('window', 1.5), ('table', 0.8),
         |    ('slow', -2.0), ('scan', -0.6)),
         |wtt AS (
         |  SELECT term, CAST(floor(wgt * 1e7) / 1e7 AS DECIMAL(18,7)) AS w
         |  FROM wt),
         |tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |t AS (SELECT doc_id, unnest(tk) AS term FROM tk0),
         |j AS (SELECT t.doc_id, w FROM t LEFT JOIN wtt USING (term)),
         |g AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(w) AS BIGINT) AS n_hits,
         |    sum(coalesce(w, CAST(0 AS DECIMAL(18,7)))) +
         |      CAST(floor(-0.5 * 1e7) / 1e7 AS DECIMAL(18,7)) AS z
         |  FROM j GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_hits,
         |  round(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 4) AS score,
         |  (z >= 0) AS positive
         |FROM g ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val w = Seq("spark" -> 2.5, "window" -> 1.5, "table" -> 0.8,
        "slow" -> -2.0, "scan" -> -0.6).toDF("term", "weight")
      TextMetrics.linearTextScore(table(s, dir, "documents"),
          col("doc_id"), col("text"), broadcast(w), col("term"), col("weight"),
          bias = -0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D56: logistic-regression TRAINING (the missing half of D54's
    // gate loop): even/odd doc ids get opposing planted markers, the
    // model trains as a weight TABLE (nothing model-sized on the
    // driver), and the learned marker/bias rows come back. The oracle
    // UNROLLS all 8 full-batch GD rounds in CTEs (the q_bradley_terry
    // precedent): the 7-dp residual / 10-dp weight rounding contract
    // exists precisely so both engines' decimal lanes agree exactly;
    // the only cross-engine float surface is exp() inside the sigmoid,
    // rounded to 7 dp before re-entering exact arithmetic.
    Q(
      "q_train_classifier", {
        val bias = "chr(0) || 'bias'"
        def gd(prev: Int, i: Int) =
          s"""res$i AS MATERIALIZED (
             |  SELECT d.id, d.y,
             |    CAST(round(1.0 / (1.0 + exp(-CAST(sum(w.w * d.cnt) AS DOUBLE))) - d.y, 7)
             |      AS DECIMAL(11,7)) AS r
             |  FROM docterm d JOIN w$prev w USING (term)
             |  GROUP BY d.id, d.y),
             |grad$i AS MATERIALIZED (
             |  SELECT d.term, sum(r.r * d.cnt) AS g
             |  FROM docterm d JOIN res$i r ON r.id = d.id
             |  GROUP BY d.term),
             |w$i AS MATERIALIZED (
             |  SELECT w.term,
             |    CAST(round(CAST(w.w AS DOUBLE) * 1.0
             |        - (1.0 / (SELECT n FROM nn)) * CAST(coalesce(g.g, 0) AS DOUBLE), 10)
             |      AS DECIMAL(20,10)) AS w
             |  FROM w$prev w LEFT JOIN grad$i g USING (term))""".stripMargin
        val rounds = (1 to 8).map(i => gd(i - 1, i)).mkString(",\n")
        s"""WITH lab AS (
           |  SELECT doc_id AS id,
           |    CAST(doc_id % 2 = 0 AS DOUBLE) AS y,
           |    CASE WHEN doc_id % 2 = 0
           |      THEN text || ' flubwort flubwort pristine'
           |      ELSE text || ' grotwort grotwort shoddy' END AS t
           |  FROM documents),
           |tk AS (SELECT id, y, ${tkSql("t")} AS tk FROM lab),
           |cnts AS (
           |  SELECT id, y, term, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT id, y, unnest(tk) AS term FROM tk)
           |  GROUP BY 1, 2, 3),
           |docterm AS MATERIALIZED (
           |  SELECT * FROM cnts
           |  UNION ALL
           |  SELECT DISTINCT id, y, $bias AS term, CAST(1 AS BIGINT) AS cnt
           |  FROM cnts),
           |nn AS (SELECT count(*) AS n FROM docterm WHERE term = $bias),
           |w0 AS MATERIALIZED (
           |  SELECT DISTINCT term, CAST(0 AS DECIMAL(20,10)) AS w FROM docterm),
           |$rounds
           |SELECT term, round(CAST(w AS DOUBLE), 6) AS weight
           |FROM w8
           |WHERE term IN ($bias, 'flubwort', 'pristine', 'grotwort', 'shoddy')
           |ORDER BY term""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), (col("doc_id") % 2 === 0).as("y"))
        .select(col("doc_id"), col("y"),
          when(col("y"), concat(col("text"), lit(" flubwort flubwort pristine")))
            .otherwise(concat(col("text"), lit(" grotwort grotwort shoddy")))
            .as("text"))
      graft.operators.Classify.trainLogistic(
          d, col("doc_id"), col("text"), col("y"),
          iters = 8, learningRate = 1.0)
        .filter(col("term").isin(
          graft.operators.Classify.BiasTerm,
          "flubwort", "pristine", "grotwort", "shoddy"))
        .select(col("term"), round(col("weight"), 6).as("weight"))
        .orderBy("term")
    },

    // D62: sentence segmentation — one RE2-safe extraction pattern
    // shared verbatim by both engines; empties drop, positions keep
    // gaps (order key, not dense index).
    Q(
      "q_sentences",
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(
        |      text || '. Planted second! A third?? ! Done...',
        |      '[^.!?]+[.!?]*') AS l
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
        |  FROM t)
        |SELECT doc_id AS id, CAST(i - 1 AS INT) AS sent_pos,
        |  trim(l[i]) AS sentence
        |FROM u
        |WHERE length(trim(l[i])) > 0
        |ORDER BY id, sent_pos""".stripMargin
    ) { (s, dir) =>
      // terminators planted: the synthetic docs are mostly single-run
      TextMetrics.splitSentences(
          table(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), lit(". Planted second! A third?? ! Done...")).as("text")),
          col("doc_id"), col("text"))
        .orderBy("id", "sent_pos")
    },

    // D63: Flesch reading-ease readability — explicit-approximation
    // contract (regex sentence/syllable estimators, shared tokenizer),
    // exact-long counts, ratios truncated 4 dp, flesch toward-zero
    // (it goes negative on dense text).
    Q(
      "q_readability",
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    CAST(len(regexp_extract_all(text, '[^.!?\\s][^.!?]*')) AS BIGINT)
         |      AS n_sentences,
         |    CAST(len(${tkSql("text")}) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         |      AS n_syllables
         |  FROM documents)
         |SELECT id, n_sentences, n_words, n_syllables,
         |  CASE WHEN n_sentences = 0 OR n_words = 0 THEN 0.0
         |       ELSE floor(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) * 1e4)
         |         / 1e4 END AS words_per_sentence,
         |  CASE WHEN n_sentences = 0 OR n_words = 0 THEN 0.0
         |       ELSE floor(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) * 1e4)
         |         / 1e4 END AS syllables_per_word,
         |  CASE WHEN n_sentences = 0 OR n_words = 0 THEN 0.0
         |       ELSE sign(206.835
         |           - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |           - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
         |         * (floor(abs(206.835
         |           - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |           - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
         |           * 1e4) / 1e4) + 0.0 END AS flesch
         |FROM m ORDER BY id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.readability(
          table(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("id")
    },

    // D64: mojibake repair + detection — the fix chain AND the oracle
    // SQL are both GENERATED from TextMetrics.mojibakeMap (one source
    // of truth); every artifact planted once per doc, so hits
    // exercises every mapping and the fixed text md5-matches.
    Q(
      "q_fix_mojibake", {
        val m = TextMetrics.mojibakeMap
        val plant = m.map(_._1).mkString(" ")
        val fixed = m.foldLeft("t") { case (acc, (b, g)) => s"replace($acc, '$b', '$g')" }
        val hits = m.map { case (b, _) =>
          s"(length(t) - length(replace(t, '$b', ''))) / ${b.length}"
        }.mkString("\n    + ")
        s"""WITH p AS (
           |  SELECT doc_id, text || ' $plant' AS t FROM documents)
           |SELECT doc_id,
           |  CAST($hits AS BIGINT) AS n_artifacts,
           |  md5($fixed) AS fixed_md5
           |FROM p ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val planted = concat(col("text"),
        lit(" " + TextMetrics.mojibakeMap.map(_._1).mkString(" ")))
      table(s, dir, "documents").select(
          col("doc_id"),
          TextMetrics.mojibakeHits(planted).as("n_artifacts"),
          md5(TextMetrics.fixMojibake(planted)).as("fixed_md5"))
        .orderBy("doc_id")
    },

    // D65: control-character hygiene — planted NUL/BEL/CR/newline-runs
    // normalize identically in both engines (CRLF→LF, C0/DEL strip,
    // 3+ newlines collapse), compared by md5 + length.
    Q(
      "q_clean_control",
      """WITH p AS (
        |  SELECT doc_id,
        |    text || chr(7) || ' x' || chr(13) || chr(10) || 'y'
        |      || chr(13) || chr(10) || chr(10) || chr(10) || chr(10) || 'z' AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(t, '\r\n?', chr(10), 'g'),
        |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\n{3,}', chr(10) || chr(10), 'g') AS cleaned
        |  FROM p)
        |SELECT doc_id, CAST(length(cleaned) AS BIGINT) AS n_chars,
        |  md5(cleaned) AS cleaned_md5
        |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = concat(col("text"), lit("\u0007 x\r\ny\r\n\n\n\nz"))
      val cleaned = TextMetrics.cleanControlChars(planted)
      table(s, dir, "documents").select(
          col("doc_id"),
          length(cleaned).cast("long").as("n_chars"),
          md5(cleaned).as("cleaned_md5"))
        .orderBy("doc_id")
    },

    // D46: domain-blocklist curation with suffix semantics — a
    // registrable-domain entry blocks every subdomain; an exact-host
    // entry blocks only that host. Both planted URL shapes exercised.
    Q(
      "q_blocklist_filter",
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' https://' || source || '.pages.example.com/p/' ||
        |        CAST(doc_id AS VARCHAR)
        |    WHEN doc_id % 5 = 0
        |      THEN text || ' http://ads.tracker-net.org/x'
        |    ELSE text END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(lower(text),
        |      'https?://([^/\s"'']+)', 1))) AS h
        |  FROM t),
        |p AS (SELECT doc_id, string_split(h, '.') AS parts FROM u),
        |e AS (SELECT doc_id, parts,
        |        unnest(range(0, greatest(len(parts) - 1, 1))) AS i FROM p),
        |hit AS (
        |  SELECT DISTINCT doc_id FROM e
        |  WHERE array_to_string(parts[CAST(i + 1 AS INT):], '.')
        |    IN ('tracker-net.org', 'src3.pages.example.com'))
        |SELECT doc_id FROM t WHERE doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" https://"), col("source"),
            lit(".pages.example.com/p/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" http://ads.tracker-net.org/x")))
          .otherwise(col("text")).as("text"))
      import s.implicits._
      val blocklist = Seq("tracker-net.org", "src3.pages.example.com").toDF("domain")
      TextMetrics.dropBlockedDomains(planted, col("doc_id"), col("text"),
          blocklist, col("domain"))
        .select("doc_id").orderBy("doc_id")
    },

    // D44: interpolated bigram LM scoring — word-ORDER-sensitive
    // quality signal one tier above the unigram model. The oracle
    // trains the identical bigram + backoff model and replays the
    // identical IEEE expression shape (explicit DOUBLE casts keep
    // DuckDB's decimal literals out of the float path).
    Q(
      "q_bigram_logprob",
      s"""WITH d AS (SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |t AS (SELECT doc_id, unnest(tk) AS term FROM d),
         |tf AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
         |tot AS (SELECT sum(n) AS n_total, count(*) AS vocab FROM tf),
         |bi AS (
         |  SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
         |        FROM d WHERE len(tk) >= 2)),
         |cb AS (SELECT prev, cur, count(*) AS nb FROM bi GROUP BY 1, 2),
         |cp AS (SELECT prev, count(*) AS np FROM bi GROUP BY 1),
         |lp AS (
         |  SELECT cb.prev, cb.cur,
         |    CAST(round(ln(CAST(0.75 AS DOUBLE) * nb / np +
         |      CAST(0.25 AS DOUBLE) * (tf.n + 1) / (n_total + vocab)), 7)
         |      AS DECIMAL(18,7)) AS lp
         |  FROM cb JOIN cp USING (prev) JOIN tf ON tf.term = cb.cur
         |  CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(lp) / count(*) AS DOUBLE), 4) AS avg_logprob
         |FROM bi JOIN lp ON bi.prev = lp.prev AND bi.cur = lp.cur
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.bigramLogProb(table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D119: Kneser-Ney smoothed bigram scoring — absolute discounting
    // + continuation-unigram backoff, the principled tier above D44's
    // JM interpolation. The oracle rebuilds the identical count/type
    // tables and replays the fixed expression shape
    // disc + (D·nf/np)·(nc/nt) with the 1e-10 clamp and 7-dp ln lane.
    Q(
      "q_kn_logprob",
      s"""WITH d AS (SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
         |bi AS (
         |  SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
         |        FROM d WHERE len(tk) >= 2)),
         |cb AS (SELECT prev, cur, count(*) AS nb FROM bi GROUP BY 1, 2),
         |ctx AS (SELECT prev, sum(nb) AS np, count(*) AS nf FROM cb GROUP BY 1),
         |cont AS (SELECT cur, count(*) AS nc FROM cb GROUP BY 1),
         |types AS (SELECT count(*) AS nt FROM cb),
         |lp AS (
         |  SELECT cb.prev, cb.cur,
         |    CAST(round(ln(greatest(
         |      greatest(CAST(nb AS DOUBLE) - CAST(0.75 AS DOUBLE), 0.0) / np +
         |      CAST(0.75 AS DOUBLE) * nf / np * (CAST(nc AS DOUBLE) / nt),
         |      CAST(1e-10 AS DOUBLE))), 7) AS DECIMAL(18,7)) AS lp
         |  FROM cb JOIN ctx USING (prev) JOIN cont USING (cur)
         |  CROSS JOIN types)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(lp) / count(*) AS DOUBLE), 4) AS avg_logprob
         |FROM bi JOIN lp ON bi.prev = lp.prev AND bi.cur = lp.cur
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.knBigramLogProb(table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D120: Good-Turing frequency-of-frequencies over token TRIGRAMS
    // (the corpus's 31-word vocabulary has no low-frequency unigram
    // classes; the trigram table has 16k types spread over r=1..8) —
    // Turing-adjusted counts r* and the unseen-type mass N1/N; exact
    // integer classes, one double division per ratio, 6-dp floors.
    Q(
      "q_good_turing",
      s"""WITH d AS (SELECT ${tkSql("text")} AS tk FROM documents),
         |t AS (SELECT tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS term
         |  FROM (SELECT tk, unnest(range(1, len(tk) - 1)) AS i
         |        FROM d WHERE len(tk) >= 3)),
         |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
         |ff AS (SELECT n AS r, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM tf),
         |none AS (SELECT CAST(coalesce(sum(n_r), 0) AS BIGINT) AS n1
         |  FROM ff WHERE r = 1),
         |nxt AS (SELECT r - 1 AS r, n_r AS n_next FROM ff)
         |SELECT ff.r, ff.n_r, coalesce(nxt.n_next, 0) AS n_next,
         |  CASE WHEN coalesce(nxt.n_next, 0) > 0
         |    THEN floor(CAST(ff.r + 1 AS DOUBLE) * n_next / n_r * 1e6) / 1e6
         |  END AS r_star,
         |  CASE WHEN total > 0
         |    THEN floor(CAST(n1 AS DOUBLE) / total * 1e6) / 1e6
         |    ELSE 0.0 END AS p_unseen,
         |  total AS total_tokens
         |FROM ff LEFT JOIN nxt USING (r) CROSS JOIN tot CROSS JOIN none
         |WHERE ff.r <= 10 ORDER BY r""".stripMargin
    ) { (s, dir) =>
      TextMetrics.goodTuring(table(s, dir, "documents"), col("text"),
          gramN = 3)
        .orderBy("r")
    },

    // D31: Zipf head coverage — fraction of token instances covered by
    // the k most frequent terms; counts exact longs, ratio truncated
    // at 6 dp (repr-independent).
    Q(
      "q_zipf_coverage",
      s"""WITH t AS (
         |  SELECT unnest(${tkSql("text")}) AS term FROM documents),
         |tf AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
         |tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM tf),
         |top AS (
         |  SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS r
         |  FROM tf ORDER BY n DESC, term LIMIT 500),
         |ks AS (SELECT unnest([10, 100, 500]) AS k),
         |j AS (
         |  SELECT ks.k, CAST(sum(top.n) AS BIGINT) AS top_tokens
         |  FROM ks LEFT JOIN top ON top.r <= ks.k GROUP BY ks.k)
         |SELECT k, top_tokens, CAST(total AS BIGINT) AS total_tokens,
         |  vocab AS n_vocab,
         |  floor(top_tokens / total * 1e6) / 1e6 AS coverage
         |FROM j CROSS JOIN tot ORDER BY k""".stripMargin
    ) { (s, dir) =>
      TextMetrics.zipfCoverage(table(s, dir, "documents"), col("text"),
          ks = Seq(10, 100, 500))
        .orderBy("k")
    },

    // D27: HTML boilerplate strip — documents get a deterministic HTML
    // wrapper planted (tags, a script element, escaped entities), both
    // engines strip it with the same RE2-safe regex chain; cleaned
    // text must round-trip to the original except for the planted
    // literal "<" entity text.
    Q(
      "q_text_strip_html",
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 < 2;</script>' ||
        |    '<style>p { color: red; }</style></head><body class="doc">' ||
        |    '<h1>Doc ' || doc_id || '</h1><p>' || text ||
        |    '</p><br/>&amp; more &lt;escaped&gt; &quot;text&quot;</body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(
        |                    regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |                    '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |                  '(?s)<[^>]+>', ' ', 'g'),
        |                '&lt;', '<', 'g'),
        |              '&gt;', '>', 'g'),
        |            '&quot;', '"', 'g'),
        |          '&#39;', '''', 'g'),
        |        '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, substr(clean, 1, 60) AS clean_head,
        |  CAST(len(clean) AS BIGINT) AS clean_len
        |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>" +
            "<style>p { color: red; }</style></head><body class=\"doc\">" +
            "<h1>Doc "),
          col("doc_id"), lit("</h1><p>"), col("text"),
          lit("</p><br/>&amp; more &lt;escaped&gt; &quot;text&quot;</body></html>"))
          .as("html"))
      planted
        .select(col("doc_id"), TextMetrics.stripHtml(col("html")).as("clean"))
        .select(col("doc_id"),
          substring(col("clean"), 1, 60).as("clean_head"),
          length(col("clean")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },

    // D28: per-source token-distribution entropy — corpus-balance
    // metric; per-term n·ln(n) TRUNCATED at 7 dp (repr-independent),
    // exact decimal sums, H = ln(N) − Σ/N truncated at 4 dp.
    Q(
      "q_token_entropy",
      s"""WITH t AS (
         |  SELECT source, unnest(${tkSql("text")}) AS term FROM documents),
         |tf AS (SELECT source, term, count(*) AS n FROM t GROUP BY 1, 2)
         |SELECT source,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_vocab,
         |  floor((ln(CAST(sum(n) AS DOUBLE)) -
         |    CAST(sum(CAST(floor(n * ln(CAST(n AS DOUBLE)) * 1e7) / 1e7 AS DECIMAL(28,7))) AS DOUBLE)
         |      / sum(n)) * 1e4) / 1e4 AS entropy
         |FROM tf GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      TextMetrics.tokenEntropy(table(s, dir, "documents"),
          col("source"), col("text"))
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    },

    // D35: BM25 retrieval scoring against a fixed query-term set —
    // per-term weights truncated 7 dp, decimal sums, 4-dp truncated
    // score; the oracle mirrors the IEEE expression shape literally.
    Q(
      "q_bm25",
      s"""WITH tk AS (
         |  SELECT doc_id AS id, ${tkSql("text")} AS tk FROM documents),
         |base AS (
         |  SELECT id, len(tk) AS dl,
         |    list_filter(tk, t -> t IN ('spark', 'join', 'vector')) AS q
         |  FROM tk),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base),
         |tf AS (
         |  SELECT id, dl, term, count(*) AS tf
         |  FROM (SELECT id, dl, unnest(q) AS term FROM base)
         |  GROUP BY 1, 2, 3),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |w AS (
         |  SELECT id,
         |    floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |        (tf * (1.2 + 1.0)) /
         |        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
         |          (CAST(sum_dl AS DOUBLE) / n_docs))) * 1e7) / 1e7 AS w
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
         |SELECT id,
         |  floor(CAST(sum(CAST(w AS DECIMAL(28,7))) AS DOUBLE) * 1e4) / 1e4 AS score
         |FROM w GROUP BY id ORDER BY id""".stripMargin
    ) { (s, dir) =>
      TextMetrics.bm25(table(s, dir, "documents"), col("doc_id"), col("text"),
          Seq("spark", "join", "vector"))
        .orderBy("id")
    },

    // D36: URL domain extraction + per-domain aggregation — the
    // dimension web curation keys on (blocklists, domain priors, and
    // the capPerGroup feed). URLs are planted deterministically (the
    // synthetic corpus has none), identically in both engines.
    Q(
      "q_domain_stats",
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' see https://' || source || '.example.com/p/' ||
        |        CAST(doc_id AS VARCHAR) || ' and http://mirror-' || source ||
        |        '.example.org/x'
        |      ELSE text END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), 'https?://([^/\s"'']+)', 1)) AS h
        |  FROM t),
        |d AS (SELECT doc_id, h AS domain FROM u)
        |SELECT domain,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM d GROUP BY domain ORDER BY domain""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" see https://"), col("source"),
            lit(".example.com/p/"), col("doc_id").cast("string"),
            lit(" and http://mirror-"), col("source"), lit(".example.org/x")))
          .otherwise(col("text")).as("text"))
      planted
        .select(col("doc_id"),
          explode(TextMetrics.urlDomains(col("text"))).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain")
    },

    // D52: URL canonicalization — five planted renditions per logical
    // page (case-mangled host, default ports, tracking params,
    // fragments, param order, trailing slash); canonical-URL grouping
    // must merge the four example.com variants of each gid into ONE
    // row and all mirror variants into one. Both engines replay the
    // identical regex/sort normalization.
    Q(
      "q_url_canonical",
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'https://WWW.Example.COM/path/p' ||
        |        CAST(doc_id // 5 AS VARCHAR) || '/?utm_source=x&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://www.example.com:443/path/p' ||
        |        CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
        |      WHEN 2 THEN 'https://www.example.com/path/p' ||
        |        CAST(doc_id // 5 AS VARCHAR) || '/?b=2&a=1&gclid=zz'
        |      WHEN 3 THEN 'https://www.example.com/path/p' ||
        |        CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2&utm_campaign=y&fbclid=q'
        |      ELSE 'HTTP://Mirror.example.ORG:80/x/y/?ref=home' END AS url
        |  FROM documents),
        |u0 AS (
        |  SELECT doc_id, trim(url) AS orig,
        |    regexp_replace(trim(url), '#.*$', '') AS u
        |  FROM d),
        |p AS (
        |  SELECT doc_id, orig,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
        |      AS hostport,
        |    regexp_replace(regexp_extract(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
        |    regexp_extract(u, '\?([^#]*)', 1) AS q
        |  FROM u0),
        |c AS (
        |  SELECT doc_id, orig, scheme, hostport, path,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=|$)')
        |        AND len(x) > 0)), '&'), '') AS cq
        |  FROM p),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' OR hostport = '' THEN orig
        |         ELSE scheme || '://' || host || path ||
        |           CASE WHEN cq = '' THEN '' ELSE '?' || cq END END AS url
        |  FROM c)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM canon GROUP BY url ORDER BY url""".stripMargin
    ) { (s, dir) =>
      val gid = floor(col("doc_id") / 5).cast("long").cast("string")
      val url = when(col("doc_id") % 5 === 0,
          concat(lit("https://WWW.Example.COM/path/p"), gid,
            lit("/?utm_source=x&b=2&a=1#frag")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://www.example.com:443/path/p"), gid, lit("?a=1&b=2")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://www.example.com/path/p"), gid,
            lit("/?b=2&a=1&gclid=zz")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("https://www.example.com/path/p"), gid,
            lit("?a=1&b=2&utm_campaign=y&fbclid=q")))
        .otherwise(lit("HTTP://Mirror.example.ORG:80/x/y/?ref=home"))
      table(s, dir, "documents")
        .select(col("doc_id"), TextMetrics.canonicalizeUrl(url).as("url"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("url")
    },

    // D39: line-shape metrics (Gopher-family document filters over
    // LINES: duplicate-line mass, bullet/ellipsis formatting). The
    // synthetic corpus is single-line prose, so each doc gets a
    // planted multi-line rendition — a duplicated bullet pair, a
    // teaser line, and a whitespace-only line that must be dropped —
    // identically in both engines.
    Q(
      "q_doc_shape",
      """WITH d AS (
        |  SELECT doc_id,
        |    text || chr(10) || '- item ' || CAST(doc_id % 3 AS VARCHAR)
        |         || chr(10) || '- item ' || CAST(doc_id % 3 AS VARCHAR)
        |         || chr(10) || 'Read more...'
        |         || chr(10) || '   ' AS text
        |  FROM documents),
        |l0 AS (
        |  SELECT doc_id, trim(l) AS line
        |  FROM d, unnest(string_split(text, chr(10))) AS u(l)),
        |l AS (SELECT doc_id, line FROM l0 WHERE length(line) > 0),
        |pl AS (
        |  SELECT doc_id, line, count(*) AS cnt, length(line) AS chars,
        |    CASE WHEN substr(line, 1, 1) IN ('-', '*', '•') THEN count(*) ELSE 0 END AS bullet_cnt,
        |    CASE WHEN line LIKE '%...' OR line LIKE '%…' THEN count(*) ELSE 0 END AS ellipsis_cnt
        |  FROM l GROUP BY doc_id, line)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_lines,
        |  CAST(count(*) AS BIGINT) AS n_distinct_lines,
        |  round((sum(cnt) - count(*)) * 1.0 / sum(cnt), 4) AS dup_line_ratio,
        |  round(sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) * 1.0
        |    / sum(cnt * chars), 4) AS dup_char_ratio,
        |  round(sum(bullet_cnt) * 1.0 / sum(cnt), 4) AS bullet_ratio,
        |  round(sum(ellipsis_cnt) * 1.0 / sum(cnt), 4) AS ellipsis_ratio
        |FROM pl GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          lit("\n- item "), (col("doc_id") % 3).cast("string"),
          lit("\n- item "), (col("doc_id") % 3).cast("string"),
          lit("\nRead more..."),
          lit("\n   ")).as("text"))
      TextMetrics.docShape(planted, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D40: DEFLATE compression ratio — tokenization-free long-range
    // repetition proxy. Half the corpus is planted with an 8× repeat
    // of its own text (compresses hard). The compressed length itself
    // is a JDK-zlib artifact, so the portable output is the BOUNDED-
    // VERDICT shape (the sketch-tier contract): the exact input byte
    // length plus two booleans the engine computes from ITS OWN
    // deflate output — `within_upper` (zlib's deterministic
    // stored-block expansion bound, ≤ len + 64 at these sizes) and
    // `planted_compresses` (an 8× self-repeat of a ≥32-byte unit must
    // land under 50% — the LZ77 window covers every repeat). The
    // oracle asserts both contracts TRUE and replays the byte length;
    // raw-ratio bounds stay in TextMetricsSpec.
    Q(
      "q_compress_ratio",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN 8 * octet_length(encode(text)) + 7
        |       ELSE octet_length(encode(text)) END AS BIGINT) AS octet_len,
        |  doc_id % 2 = 0 AS planted,
        |  TRUE AS within_upper,
        |  TRUE AS planted_compresses
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws(" ", (0 until 8).map(_ => col("text")): _*))
          .otherwise(col("text")).as("text"))
      val planted = col("doc_id") % 2 === 0
      TextMetrics.withCompressionRatio(d, col("text"))
        .select(col("doc_id"), col("octet_len"), planted.as("planted"),
          (col("deflate_len") <= col("octet_len") + lit(64L)).as("within_upper"),
          (!(planted && col("octet_len") >= 256) ||
            col("deflate_len") * 2 <= col("octet_len")).as("planted_compresses"))
        .orderBy("doc_id")
    },

    // D73b: Luhn-validated card-number scorecard — a VALID test PAN
    // planted on the 31-cycle, a same-length checksum-FAILING run on
    // the 37-cycle: length alone can't tell them apart, Luhn can.
    Q(
      "q_cc_luhn",
      """WITH t AS (
        |  SELECT source,
        |    text
        |      || CASE WHEN doc_id % 31 = 0
        |           THEN ' card 4111111111111111 ok' ELSE '' END
        |      || CASE WHEN doc_id % 37 = 0
        |           THEN ' num 4111111111111112 bad' ELSE '' END AS txt
        |  FROM documents),
        |r AS (
        |  SELECT source, regexp_extract_all(txt, '[0-9]{13,19}') AS runs
        |  FROM t),
        |v AS (
        |  SELECT source, len(runs) AS cand,
        |    len(list_filter(runs, run ->
        |      list_sum(list_transform(range(1, len(run) + 1), i ->
        |        CASE WHEN (len(run) - i) % 2 = 0
        |               THEN CAST(substr(run, i, 1) AS INTEGER)
        |             WHEN CAST(substr(run, i, 1) AS INTEGER) < 5
        |               THEN 2 * CAST(substr(run, i, 1) AS INTEGER)
        |             ELSE 2 * CAST(substr(run, i, 1) AS INTEGER) - 9
        |        END)) % 10 = 0)) AS valid
        |  FROM r)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(cand) AS BIGINT) AS n_candidates,
        |  CAST(sum(valid) AS BIGINT) AS n_luhn_valid,
        |  CAST(coalesce(sum(CASE WHEN valid > 0 THEN 1 END), 0) AS BIGINT)
        |    AS docs_with_valid_cc
        |FROM v GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 31 === 0, lit(" card 4111111111111111 ok"))
            .otherwise(lit("")),
          when(col("doc_id") % 37 === 0, lit(" num 4111111111111112 bad"))
            .otherwise(lit(""))).as("txt"))
      TextMetrics.ccLuhnReport(planted, col("source"), col("txt"))
        .orderBy("source")
    },

    // D144: lexical-richness profile per source — TTR, hapax share,
    // and Yule's K (length-insensitive repeat rate) from the one
    // (source, word) frequency pass; Σm²V_m in exact integer lanes.
    Q(
      "q_lexical_richness",
      s"""WITH wf AS (
         |  SELECT grp, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT source AS grp, unnest(${tkSql("text")}) AS w
         |        FROM documents)
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |    CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS m2
         |  FROM wf GROUP BY grp)
         |SELECT grp, n_tokens, n_types, n_hapax,
         |  floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e6) / 1e6
         |    AS ttr,
         |  floor(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) * 1e6) / 1e6
         |    AS hapax_ratio,
         |  floor((CAST(m2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
         |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
         |    * 1e4 * 1e6) / 1e6 AS yule_k
         |FROM m ORDER BY grp""".stripMargin
    ) { (s, dir) =>
      TextMetrics.lexicalRichness(table(s, dir, "documents"),
          col("source"), col("text"))
        .orderBy("grp")
    },

    // D140: Gries' DP dispersion for the top-20 corpus terms — the
    // boilerplate-vs-common-language drilldown: high frequency with
    // LOW dispersion is template text. Exact integer |st·C − ct·T|
    // numerators over the bounded term×source grid.
    Q(
      "q_term_dispersion",
      s"""WITH $sourceTermCountsSql,
         |top AS (
         |  SELECT w, c_t FROM
         |    (SELECT w, c_t, row_number() OVER (ORDER BY c_t DESC, w) AS r
         |     FROM ttot)
         |  WHERE r <= 20),
         |tot AS (SELECT CAST(sum(st) AS BIGINT) AS t_tot FROM srct),
         |grid AS (
         |  SELECT top.w, top.c_t, tot.t_tot,
         |    CAST(abs(CAST(srct.st AS DECIMAL(19,0))
         |        * CAST(top.c_t AS DECIMAL(19,0))
         |      - CAST(coalesce(tf.ct, 0) AS DECIMAL(19,0))
         |        * CAST(tot.t_tot AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS num
         |  FROM top CROSS JOIN srct
         |  LEFT JOIN tf ON tf.w = top.w AND tf.src = srct.src
         |  CROSS JOIN tot)
         |SELECT w AS term, c_t AS term_count,
         |  floor(CAST(sum(num) AS DOUBLE)
         |    / (CAST(t_tot AS DOUBLE) * CAST(c_t AS DOUBLE)) / 2.0 * 1e6) / 1e6
         |    AS dp_dispersion
         |FROM grid GROUP BY w, c_t, t_tot
         |ORDER BY term""".stripMargin
    ) { (s, dir) =>
      TextMetrics.termDispersion(table(s, dir, "documents"),
          col("source"), col("text"), k = 20)
        .orderBy("term")
    },

    // D141: Burrows' Delta stylometry distance between source pairs —
    // z-scored per-mille rates of the top-30 corpus words, mean |Δz|
    // per pair; decimal truncation lanes around every cross-source
    // sum so both engines walk identical moments.
    Q(
      "q_burrows_delta",
      s"""WITH $sourceTermCountsSql,
         |top AS (
         |  SELECT w FROM
         |    (SELECT w, row_number() OVER (ORDER BY c_t DESC, w) AS r FROM ttot)
         |  WHERE r <= 30),
         |rates AS (
         |  SELECT top.w, srct.src,
         |    CAST(floor(CAST(coalesce(tf.ct, 0) AS DOUBLE)
         |      / CAST(srct.st AS DOUBLE) * 1000.0 * 1e9) / 1e9
         |      AS DECIMAL(28,9)) AS f
         |  FROM top CROSS JOIN srct
         |  LEFT JOIN tf ON tf.w = top.w AND tf.src = srct.src),
         |mom AS (
         |  SELECT w, CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM rates GROUP BY w),
         |devs AS (
         |  SELECT rates.w, rates.src, rates.f, mom.mu, mom.n,
         |    CAST(floor((CAST(rates.f AS DOUBLE) - mom.mu)
         |      * (CAST(rates.f AS DOUBLE) - mom.mu) * 1e9) / 1e9
         |      AS DECIMAL(28,9)) AS d2
         |  FROM rates JOIN mom ON mom.w = rates.w),
         |sig AS (
         |  SELECT w, mu, sqrt(CAST(sum(d2) AS DOUBLE) / CAST(n AS DOUBLE))
         |    AS sigma
         |  FROM devs GROUP BY w, mu, n),
         |z AS (
         |  SELECT rates.w, rates.src,
         |    CASE WHEN sig.sigma = 0.0 THEN CAST(0 AS DECIMAL(18,6))
         |      ELSE CAST(floor((CAST(rates.f AS DOUBLE) - sig.mu)
         |        / sig.sigma * 1e6) / 1e6 AS DECIMAL(18,6)) END AS z
         |  FROM rates JOIN sig ON sig.w = rates.w),
         |pairs AS (
         |  SELECT a.src AS source_a, b.src AS source_b, abs(a.z - b.z) AS az
         |  FROM z a JOIN z b ON a.w = b.w AND a.src < b.src)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_terms,
         |  floor(CAST(sum(az) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e4) / 1e4
         |    AS delta
         |FROM pairs GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin
    ) { (s, dir) =>
      TextMetrics.burrowsDelta(table(s, dir, "documents"),
          col("source"), col("text"), m = 30)
        .orderBy("source_a", "source_b")
    }
  )
}
