package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, Packing, Quality, Sampling, TextMetrics, Unigram, materialize}

/** Corpus-curation queries (SURVEY §2.D16-D19): corpus statistics
  * (TF-IDF), deterministic sampling / dataset splits, and sequence
  * packing — the reproducibility-critical steps between "cleaned
  * documents" and "training batches". All three are fully
  * SQL-expressible, so each has an exact DuckDB twin.
  */
object CurationQueries {

  /** Planted "leaked eval question" for the span-decontamination
    * queries — appended to every 7th doc so partial contamination has
    * a known geometry (no quotes: it rides inside oracle SQL literals).
    */
  private val evalQuestion =
    "which year did the treaty of westphalia end the thirty years war"

  /** Recursive-CTE replay of [[Bpe.trainModel]]'s greedy merge loop —
    * the q_pack_bins state-carrying precedent scaled up: the state is
    * the whole distinct-word table as a list of (w, syms, freq)
    * structs in ONE row per round. Each round a correlated subquery
    * unnests the carried words, explodes adjacent symbol pairs via
    * generate_series, and picks the top pair (freq desc, then left/
    * right asc — the trainer's exact tiebreak). The merge applies with
    * the DOUBLE-SPACE trick: RE2 (DuckDB's regex) has no lookarounds,
    * so every delimiter is doubled first, giving each token a private
    * space on both sides; a plain non-overlapping replace() of
    * ' a  b ' → ' ab ' then consumes only private spaces, which is
    * exactly the greedy left-to-right pairing of `Bpe.mergeWord`, and
    * a whitespace collapse restores single delimiters. Recursion stops
    * when no pair reaches minPairFreq = 2 (top IS NULL), the trainer's
    * exhaustion arm. Ends with `lexicon AS (w, syms)` — the final
    * segmentation table, plus `bpe` still in scope for the merge list.
    */
  private def bpeLexiconCte(numMerges: Int): String =
    s"""WITH RECURSIVE wf AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(${tkSql("text")}) AS w FROM documents) GROUP BY w),
       |init AS (
       |  SELECT list(struct_pack(
       |    w := w,
       |    syms := trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>',
       |    freq := freq)) AS words
       |  FROM wf),
       |bpe AS (
       |  SELECT 0 AS r,
       |    CAST([] AS STRUCT(rank BIGINT, lft VARCHAR, rgt VARCHAR, pf BIGINT)[]) AS merges,
       |    words
       |  FROM init
       |  UNION ALL
       |  SELECT r + 1,
       |    list_append(merges,
       |      {'rank': r + 1, 'lft': top.a, 'rgt': top.b, 'pf': CAST(top.pf AS BIGINT)}),
       |    list_transform(words, x -> struct_pack(
       |      w := x.w,
       |      syms := trim(regexp_replace(
       |        replace('  ' || replace(x.syms, ' ', '  ') || '  ',
       |          ' ' || top.a || '  ' || top.b || ' ',
       |          ' ' || top.a || top.b || ' '),
       |        ' +', ' ', 'g')),
       |      freq := x.freq))
       |  FROM (
       |    SELECT r, merges, words,
       |      (SELECT {'a': a, 'b': b, 'pf': pf} FROM (
       |         SELECT ss[i] AS a, ss[i + 1] AS b, sum(freq) AS pf
       |         FROM (SELECT string_split(u.x.syms, ' ') AS ss, u.x.freq AS freq
       |               FROM unnest(bpe.words) AS u(x)),
       |              unnest(generate_series(1, len(ss) - 1)) AS g(i)
       |         GROUP BY 1, 2
       |         HAVING sum(freq) >= 2
       |         ORDER BY pf DESC, a ASC, b ASC
       |         LIMIT 1)) AS top
       |    FROM bpe WHERE r < $numMerges)
       |  WHERE top IS NOT NULL),
       |lexicon AS (
       |  SELECT u.x.w AS w, u.x.syms AS syms
       |  FROM (SELECT words FROM bpe WHERE r = (SELECT max(r) FROM bpe)),
       |    unnest(words) AS u(x))""".stripMargin

  /** The smoothed grid log-prob map over a (piece, cnt) CTE `cnts`,
    * as a parenthesized CTE body: `mp` = piece → 7-dp floored
    * ln((cnt + 0.5) / (Σcnt + 0.5·|pieces|)).
    */
  private def unigramLogProbsSql(cnts: String): String =
    s"""(
       |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS mp
       |  FROM (
       |    SELECT piece,
       |      floor(ln((CAST(cnt AS DOUBLE) + 0.5) /
       |        (CAST((SELECT sum(cnt) FROM $cnts) AS DOUBLE)
       |          + 0.5 * (SELECT count(*) FROM $cnts))) * 1e7) / 1e7 AS lp
       |    FROM $cnts))""".stripMargin

  /** One recursive Viterbi pass `name` over `words` under the model CTE
    * `model`(mp): best log-prob prefix, back-pointers and unknown
    * flags per position, pieces up to `maxLen`, the -1000 unknown
    * single-character fallback.
    */
  private def unigramViterbiSql(name: String, model: String, maxLen: Int): String =
    s"""$name AS (
       |  SELECT w, freq, length(w) AS n, 0 AS i,
       |    [CAST(0.0 AS DOUBLE)] AS best, CAST([] AS INT[]) AS back,
       |    CAST([] AS BOOLEAN[]) AS unk
       |  FROM words
       |  UNION ALL
       |  SELECT w, freq, n, i + 1,
       |    list_append(best, CASE WHEN usefb THEN best[i + 1] + (-1000.0) ELSE cb.s END),
       |    list_append(back, CASE WHEN usefb THEN i ELSE cb.j END),
       |    list_append(unk, usefb)
       |  FROM (
       |    SELECT w, freq, n, i, best, back, unk, cb,
       |      (cb.s IS NULL OR best[i + 1] + (-1000.0) > cb.s) AS usefb
       |    FROM (
       |      SELECT v.w, v.freq, v.n, v.i, v.best, v.back, v.unk,
       |        (SELECT {'s': s, 'j': j} FROM (
       |           SELECT v.best[j + 1] + map_extract(m.mp, v.w[j + 1:v.i + 1])[1] AS s,
       |             j
       |           FROM unnest(generate_series(greatest(0, v.i + 1 - $maxLen), v.i)) AS g(j))
       |         WHERE s IS NOT NULL ORDER BY s DESC, j ASC LIMIT 1) AS cb
       |      FROM $name v, $model m WHERE v.i < v.n)))""".stripMargin

  /** The recursive back-trace `name` over the finished Viterbi CTE `vit`:
    * one (piece, punk) row per segment of every word.
    */
  private def unigramBacktrackSql(name: String, vit: String): String =
    s"""$name AS (
       |  SELECT w, freq, back, unk, n AS p, CAST(NULL AS VARCHAR) AS piece, false AS punk
       |  FROM $vit WHERE i = n
       |  UNION ALL
       |  SELECT w, freq, back, unk, back[p] AS p,
       |    w[back[p] + 1:p] AS piece, unk[p] AS punk
       |  FROM $name WHERE p > 0)""".stripMargin

  /** Recursive-CTE replay of [[Unigram.train]]'s Viterbi-EM loop —
    * the q_train_classifier round-unroll pattern plus a per-round
    * lattice-DP recursion. Replayable at all because the kernel's
    * model is engine-portable by construction: piece counts are exact
    * integers, log-probs are floored onto the 7-dp grid (absorbing
    * the libm ln() last-ulp divergence), and the Viterbi DP is then
    * pure IEEE double addition in a fixed association order with
    * pinned tie-breaks (max score, smallest split point, strict-><
    * unk fallback) — so both engines take bit-identical paths.
    *
    * Structure per EM pass: model as a one-row MAP CTE; a DP
    * recursion advances every distinct word in lockstep over
    * character positions carrying (best[], back[], unk[]) lists; a
    * backtrace recursion walks the pointers into pieces; a partial
    * agg re-counts. Prune rounds are GUARDED (complementary WHERE on
    * the carried size vs the floor), so the unroll count only needs
    * to be an upper bound — extra rounds pass state through
    * untouched, exactly like the kernel's loop exit. Seed ≤ 400 and
    * pruneFactor 0.75 bound the true round count at 6; 7 are
    * generated. State CTEs are MATERIALIZED — without it DuckDB
    * inlines each round's chain into the next and the plan grows
    * exponentially.
    */
  private def unigramTrainCtes(
      rounds: Int = 7,
      vocabSize: Int = 80,
      seedSize: Int = 400,
      maxLen: Int = 6): (String, String) = {
    def emcSql(name: String, bt: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM $bt WHERE piece IS NOT NULL AND NOT punk GROUP BY piece)""".stripMargin
    val parts = Seq.newBuilder[String]
    parts += s"""words AS MATERIALIZED (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(${tkSql("text")}) AS w FROM documents) GROUP BY w)""".stripMargin
    parts += s"""cand AS MATERIALIZED (
       |  SELECT piece, sum(freq) AS cnt FROM (
       |    SELECT w[i + 1:i + l] AS piece, freq
       |    FROM words, unnest(generate_series(0, length(w) - 1)) AS a(i),
       |         unnest(generate_series(1, $maxLen)) AS b(l)
       |    WHERE i + l <= length(w))
       |  GROUP BY piece)""".stripMargin
    parts += "nsing AS MATERIALIZED (SELECT count(*) AS ns FROM cand WHERE length(piece) = 1)"
    parts += s"""seed AS MATERIALIZED (
       |  SELECT piece, cnt FROM cand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
       |    FROM cand WHERE length(piece) > 1)
       |  WHERE rk <= $seedSize - (SELECT ns FROM nsing))""".stripMargin
    parts += s"m_seed AS MATERIALIZED ${unigramLogProbsSql("seed")}"
    parts += unigramViterbiSql("vit0", "m_seed", maxLen)
    parts += unigramBacktrackSql("bt0", "vit0")
    parts += emcSql("emc0", "bt0")
    parts += s"""c0 AS MATERIALIZED (
       |  SELECT s.piece, coalesce(e.cnt, 0) AS cnt
       |  FROM seed s LEFT JOIN emc0 e USING (piece))""".stripMargin
    var prev = "c0"
    for (r <- 1 to rounds) {
      parts += s"""fl$r AS MATERIALIZED (SELECT greatest($vocabSize, (SELECT ns FROM nsing)) AS fs,
         |  (SELECT count(*) FROM $prev) AS sz)""".stripMargin
      parts += s"""pr$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM $prev WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
         |    FROM $prev WHERE length(piece) > 1)
         |  WHERE rk <= greatest((SELECT fs FROM fl$r),
         |      CAST((SELECT sz FROM fl$r) * 0.75 AS INT)) - (SELECT ns FROM nsing))""".stripMargin
      parts += s"m$r AS MATERIALIZED ${unigramLogProbsSql(s"pr$r")}"
      parts += unigramViterbiSql(s"vit$r", s"m$r", maxLen)
      parts += unigramBacktrackSql(s"bt$r", s"vit$r")
      parts += emcSql(s"emc$r", s"bt$r")
      parts += s"""c$r AS MATERIALIZED (
         |  SELECT p.piece, coalesce(e.cnt, 0) AS cnt
         |  FROM pr$r p LEFT JOIN emc$r e USING (piece)
         |  WHERE (SELECT sz FROM fl$r) > (SELECT fs FROM fl$r)
         |  UNION ALL
         |  SELECT piece, cnt FROM $prev
         |  WHERE (SELECT sz FROM fl$r) <= (SELECT fs FROM fl$r))""".stripMargin
      prev = s"c$r"
    }
    ("WITH RECURSIVE\n" + parts.result().mkString(",\n"), prev)
  }

  /** The q_unigram_train oracle: final counts + grid log-probs. */
  private def unigramTrainOracle: String = {
    val (ctes, fin) = unigramTrainCtes()
    s"""$ctes
       |SELECT piece,
       |  floor(ln((CAST(cnt AS DOUBLE) + 0.5) /
       |    (CAST((SELECT sum(cnt) FROM $fin) AS DOUBLE)
       |      + 0.5 * (SELECT count(*) FROM $fin))) * 1e7) / 1e7 AS log_prob,
       |  CAST(cnt AS BIGINT) AS piece_count
       |FROM $fin ORDER BY piece""".stripMargin
  }

  /** The q_unigram_segment oracle: one more Viterbi pass under the
    * FINAL model (the kernel recomputes log-probs from the returned
    * counts, which differ from the last EM pass's model), then
    * per-document accounting over the word occurrences.
    */
  private def unigramSegmentOracle: String = {
    val (ctes, fin) = unigramTrainCtes()
    s"""$ctes,
       |m_fin AS ${unigramLogProbsSql(fin)},
       |${unigramViterbiSql("vitf", "m_fin", maxLen = 6)},
       |${unigramBacktrackSql("btf", "vitf")},
       |wcounts AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS INT) AS np,
       |    CAST(sum(CASE WHEN punk THEN 1 ELSE 0 END) AS INT) AS nu
       |  FROM btf WHERE piece IS NOT NULL GROUP BY w),
       |occ AS (
       |  SELECT doc_id AS id, unnest(${tkSql("text")}) AS w FROM documents)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(sum(nu) AS BIGINT) AS n_unk_pieces,
       |  floor(CAST(sum(np) AS DOUBLE) / count(*) * 1e4) / 1e4 AS pieces_per_word
       |FROM occ JOIN wcounts USING (w)
       |GROUP BY id ORDER BY id""".stripMargin
  }

  /** The q_bpe_merges oracle: 30-round replay, merge list unnested. */
  private def bpeMergesOracle: String =
    s"""${bpeLexiconCte(30)}
       |SELECT CAST(m.rank AS INT) AS rank, m.lft AS "left", m.rgt AS "right",
       |  m.lft || m.rgt AS merged, CAST(m.pf AS BIGINT) AS freq
       |FROM (SELECT unnest(merges) AS m
       |      FROM bpe WHERE r = (SELECT max(r) FROM bpe))
       |ORDER BY rank""".stripMargin

  /** The D128 WordPiece vocabulary replay: frequency-ranked subword
    * inventory over the corpus word table — emits `vocab`(piece, cont).
    */
  private def wordpieceVocabCtes: String =
    s"""wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(${tkSql("text")}) AS w FROM documents)
       |  GROUP BY w),
       |pos AS (
       |  SELECT w, cnt, p.pos FROM wf,
       |    LATERAL (SELECT unnest(range(0, length(w))) AS pos) p),
       |charp AS (
       |  SELECT substr(w, pos + 1, 1) AS piece, pos > 0 AS cont
       |  FROM pos GROUP BY 1, 2),
       |multi AS (
       |  SELECT piece, cont FROM (
       |    SELECT substr(w, pos + 1, ll.l) AS piece, pos > 0 AS cont,
       |      sum(cnt) AS freq
       |    FROM pos, LATERAL (SELECT unnest(range(2, 7)) AS l) ll
       |    WHERE pos + ll.l <= length(w)
       |    GROUP BY 1, 2)
       |  ORDER BY freq DESC, cont ASC, piece ASC LIMIT 200),
       |vocab AS (
       |  SELECT piece, cont FROM charp
       |  UNION ALL SELECT piece, cont FROM multi)""".stripMargin

  /** Greedy longest-match segmentation replay over `<wordsCte>`(w):
    * emits `seg`(w, pos, acc, np) — read the completed rows with
    * `pos = length(w)`. Own-corpus vocab never dead-ends (every char
    * per alignment class is in), so completion is total.
    */
  private def wordpieceSegCtes(wordsCte: String): String =
    s"""cand AS (
       |  SELECT pw.w, pw.pos, max(length(v.piece)) AS l
       |  FROM (SELECT t.w, p.pos FROM $wordsCte t,
       |          LATERAL (SELECT unnest(range(0, length(t.w))) AS pos) p) pw
       |  JOIN vocab v ON v.cont = (pw.pos > 0)
       |    AND v.piece = substr(pw.w, pw.pos + 1, length(v.piece))
       |  GROUP BY pw.w, pw.pos),
       |seg(w, pos, acc, np) AS (
       |  SELECT w, 0, '', 0 FROM $wordsCte
       |  UNION ALL
       |  SELECT s.w, s.pos + c.l,
       |    CASE WHEN s.acc = '' THEN '' ELSE s.acc || ' ' END
       |      || CASE WHEN s.pos > 0 THEN '##' ELSE '' END
       |      || substr(s.w, s.pos + 1, c.l),
       |    s.np + 1
       |  FROM seg s JOIN cand c ON c.w = s.w AND c.pos = s.pos
       |  WHERE s.pos < length(s.w))""".stripMargin

  /** documents ∪ an exact-duplicate rendition (doc_id + 1000000),
    * scored by `TextMetrics.withQuality` and `withLangId`: the input
    * of every curation cascade.
    */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    TextMetrics.withLangId(
      TextMetrics.withQuality(d.unionByName(planted), col("text")), col("text"))
  }

  /** DuckDB twin of [[scoredDocs]]: ends in `q`(doc_id, text, quality,
    * best, lang_pred).
    */
  private val scoredDocsSql: String =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents),
       |t AS (SELECT doc_id, text, ${tkSql("text")} AS tk FROM docs),
       |m AS (
       |  SELECT doc_id, text,
       |    $qualitySignalsSql,
       |    $langHitsSql
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text,
       |    $qualityScoreSql AS quality,
       |    $bestHitsSql AS best,
       |    CASE WHEN $bestHitsSql = 0 THEN 'und' $langCasesSql END AS lang_pred
       |  FROM m)""".stripMargin

  /** The q_decontaminate / q_decontaminate_bloom oracle: each doc's
    * share of 5-shingles found among the shingles of the probe docs
    * (hash bucket < `probeBuckets` of 1000).
    */
  private def decontaminationOracle(probeBuckets: Int): String = {
    val b = Sampling.hashBucketSql("doc_id")
    s"""WITH tk0 AS (
       |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS s
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
       |        FROM tk0 WHERE len(tk) >= 5)),
       |probe AS (
       |  SELECT DISTINCT s FROM sh
       |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE $b < $probeBuckets)),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
       |hit AS (
       |  SELECT doc_id, count(*) AS n_contaminated
       |  FROM sh WHERE s IN (SELECT s FROM probe) GROUP BY 1)
       |SELECT t.doc_id AS id, CAST(n_shingles AS BIGINT) AS n_shingles,
       |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  round(coalesce(n_contaminated, 0) * 1.0 / n_shingles, 4) AS contamination
       |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
       |ORDER BY id""".stripMargin
  }

  /** (doc_id, shard = doc_id mod 8, n_toks): the budgeting and packing
    * queries' per-document token counts.
    */
  private def shardedTokenCounts(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("doc_id"),
      pmod(col("doc_id"), lit(8L)).as("shard"),
      size(graft.functions.tokens(col("text"))).cast("long").as("n_toks"))

  val all: Seq[Q] = Seq(

    // D17: per-document top-3 TF-IDF terms. Smoothed idf; ties break
    // on term; scores rounded to 4 dp on both engines.
    Q(
      "q_tfidf_topterms",
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${tkSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |s AS (
         |  SELECT doc_id, term,
         |    round(tf * ln((n_docs + 1) * 1.0 / (df + 1)), 4) AS score
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |r AS (
         |  SELECT doc_id, term, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |  FROM s)
         |SELECT doc_id AS id, CAST(rank AS INT) AS rank, term, score
         |FROM r WHERE rank <= 3
         |ORDER BY id, rank""".stripMargin
    ) { (s, dir) =>
      TextMetrics.tfidfTopTerms(table(s, dir, "documents"), col("doc_id"), col("text"), k = 3)
        .orderBy("id", "rank")
    },

    // D18: deterministic per-mille bucketing → 90/5/5 split assignment
    // plus a 10% hash sample, all pure integer arithmetic replayed
    // exactly by the oracle (same rows on every engine and run).
    Q(
      "q_sample_split", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""SELECT doc_id,
           |  CAST($b AS BIGINT) AS bucket,
           |  CASE WHEN $b < 900 THEN 'train'
           |       WHEN $b < 950 THEN 'val'
           |       ELSE 'test' END AS split,
           |  CAST($b < 100 AS INT) AS in_sample
           |FROM documents
           |ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      Sampling.splitAssign(table(s, dir, "documents"), col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(
          col("doc_id"),
          Sampling.hashBucket(col("doc_id")).as("bucket"),
          col("split"),
          (Sampling.hashBucket(col("doc_id")) < 100).cast("int").as("in_sample"))
        .orderBy("doc_id")
    },

    // D18b: stratified sampling — exactly ceil(25% × |stratum|) docs
    // per language, hash-bucket order with doc_id tiebreak; DuckDB
    // replays the identical rank arithmetic.
    Q(
      "q_stratified_sample", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH s AS (
           |  SELECT doc_id, lang,
           |    row_number() OVER (PARTITION BY lang ORDER BY $b, doc_id) AS rk,
           |    count(*) OVER (PARTITION BY lang) AS n
           |  FROM documents)
           |SELECT doc_id, lang FROM s
           |WHERE rk <= ceil(0.25 * n)
           |ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      Sampling.stratifiedSample(
          table(s, dir, "documents").select(col("doc_id"), col("lang")),
          group = col("lang"), key = col("doc_id"), fraction = 0.25)
        .orderBy("doc_id")
    },

    // D20: the curation pipeline END-TO-END — quality gate → language
    // gate → exact dedup (keep min-id winner) → deterministic split —
    // proving the operators compose into the real corpus-prep job, with
    // the whole chain replayed in DuckDB. A planted exact-duplicate
    // rendition of every doc must be swallowed by the dedup stage.
    Q(
      "q_corpus_curate", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH $scoredDocsSql,
           |f AS (SELECT * FROM q WHERE quality >= 0.5 AND lang_pred <> 'und'),
           |k AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id FROM f GROUP BY 1),
           |s AS (SELECT doc_id, lang_pred, quality FROM f
           |      WHERE doc_id IN (SELECT keep_id FROM k))
           |SELECT doc_id, lang_pred, quality,
           |  CASE WHEN $b < 900 THEN 'train'
           |       WHEN $b < 950 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val scored = scoredDocs(s, dir)
      val gated = scored.filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      val kept = Dedup.exactKeep(gated, col("text"), col("doc_id"))
      Sampling.splitAssign(kept, col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("lang_pred"), col("quality"), col("split"))
        .orderBy("doc_id")
    },

    // D55: curation ATTRITION report — the same cascade as
    // q_corpus_curate, but reporting per-stage entered/survived/dropped
    // counts instead of the survivor rows: the observability step that
    // catches "a gate silently ate 40% of the corpus" before a 100 TB
    // run commits. All three stage flags evaluate in ONE scan
    // (Quality.attrition); the dedup-winner flag is a partitioned
    // window over the prior survivors, materialized before the
    // aggregate. The oracle replays flags, window, and cascade sums.
    Q(
      "q_curation_attrition",
      s"""WITH $scoredDocsSql,
         |w AS (
         |  SELECT *, doc_id = min(CASE WHEN quality >= 0.5 AND lang_pred <> 'und'
         |                              THEN doc_id END) OVER (PARTITION BY text) AS is_winner
         |  FROM q),
         |f AS (
         |  SELECT count(*) AS n0,
         |    sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS s1,
         |    sum(CASE WHEN quality >= 0.5 AND lang_pred <> 'und' THEN 1 ELSE 0 END) AS s2,
         |    sum(CASE WHEN quality >= 0.5 AND lang_pred <> 'und'
         |             AND coalesce(is_winner, false) THEN 1 ELSE 0 END) AS s3
         |  FROM w),
         |st AS (
         |  SELECT 1 AS stage_idx, 'quality_gate' AS stage, n0 AS docs_in, s1 AS docs_out, n0 AS total FROM f
         |  UNION ALL
         |  SELECT 2, 'lang_gate', s1, s2, n0 FROM f
         |  UNION ALL
         |  SELECT 3, 'exact_dedup', s2, s3, n0 FROM f)
         |SELECT stage_idx, stage,
         |  CAST(docs_in AS BIGINT) AS docs_in,
         |  CAST(docs_out AS BIGINT) AS docs_out,
         |  CAST(docs_in - docs_out AS BIGINT) AS dropped,
         |  CASE WHEN docs_in = 0 THEN 0.0
         |       ELSE round((docs_in - docs_out) * 1.0 / docs_in, 4) END AS drop_rate,
         |  CASE WHEN total = 0 THEN 0.0
         |       ELSE round(docs_out * 1.0 / total, 4) END AS survival_rate
         |FROM st ORDER BY stage_idx""".stripMargin
    ) { (s, dir) =>
      val scored = scoredDocs(s, dir)
      val prior = col("quality") >= 0.5 && col("lang_pred") =!= "und"
      val byText = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
      val staged = scored.withColumn("is_winner",
        col("doc_id") === min(when(prior, col("doc_id"))).over(byText))
      graft.operators.Quality.attrition(staged, Seq(
          "quality_gate" -> (col("quality") >= 0.5),
          "lang_gate" -> (col("lang_pred") =!= "und"),
          "exact_dedup" -> col("is_winner")))
        .orderBy("stage_idx")
    },

    // D21: benchmark decontamination — every doc scored by the fraction
    // of its 5-gram shingles found in a deterministic 5% "benchmark"
    // probe set. Probe docs themselves must score 1.0; the oracle
    // recomputes the bipartite overlap from scratch.
    Q(
      "q_decontaminate",
      decontaminationOracle(probeBuckets = 50)
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = Sampling.hashSample(d, col("doc_id"), 0.05)
      Dedup.contamination(d, col("doc_id"), col("text"), probes, col("text"), n = 5)
        .orderBy("id")
    },

    // D21c: EMBEDDING-level decontamination — semantically-perturbed
    // probe copies of every 25th corpus vector must flag their source
    // doc; the oracle replays the identical seeded hyperplane buckets
    // (q_dedup_embedding_lsh pattern) INCLUDING the probe-side
    // Hamming-1 multi-probe fanout, and the exact cosine confirm.
    Q(
      "q_decontaminate_semantic",
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (
         |  SELECT list_concat([v[1] + 0.05], v[2:]) AS pv
         |  FROM e WHERE vec_id % 25 = 0),
         |cb AS (SELECT vec_id, v, ${DedupQueries.lshBucketSql("v")} AS bucket FROM e),
         |pb0 AS (SELECT pv, ${DedupQueries.lshBucketSql("pv")} AS b FROM p),
         |pb AS (SELECT pv, unnest(${
           (Seq("b") ++ (0 until 8).map(i => s"xor(b, ${1L << i})"))
             .mkString("[", ", ", "]")}) AS bucket FROM pb0),
         |hits AS (
         |  SELECT cb.vec_id AS id,
         |    round(list_cosine_similarity(cb.v, pb.pv), 4) AS cs
         |  FROM cb JOIN pb USING (bucket)
         |  WHERE round(list_cosine_similarity(cb.v, pb.pv), 4) >= 0.99)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_probe_hits, max(cs) AS max_cos
         |FROM hits GROUP BY id ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val e = DedupQueries.embeddingVecs(s, dir)
      val probes = e.filter(col("vec_id") % 25 === 0).select(
        concat(array(element_at(col("v"), 1) + lit(0.05)), slice(col("v"), 2, 63)).as("pv"))
      Dedup.contaminationEmbedding(e, col("vec_id"), col("v"),
          probes, col("pv"), threshold = 0.99)
        .orderBy("id")
    },

    // D21b: decontamination via Bloom pre-filter — EXACT same semantics
    // (no false negatives + exact confirm-join), so the oracle is the
    // same bipartite overlap recomputed from scratch; the corpus side
    // drops non-candidates before the shuffle. 8% probe slice to keep
    // the query distinct from q_decontaminate.
    Q(
      "q_decontaminate_bloom",
      decontaminationOracle(probeBuckets = 80)
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = Sampling.hashSample(d, col("doc_id"), 0.08)
      Dedup.contaminationBloom(d, col("doc_id"), col("text"), probes, col("text"), n = 5)
        .orderBy("id")
    },

    // D21d: SPAN-level decontamination — merged token intervals covered
    // by probe 5-grams (mask-don't-drop); an eval question planted at
    // the TAIL of every 7th doc must surface as a partial span (the
    // operator's point: the rest of those docs is clean), while the 4%
    // probe-slice docs flag whole-doc; the oracle replays the planting,
    // positioned shingles, semi-join, and gaps-and-islands merge.
    Q(
      "q_decontaminate_spans", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' $evalQuestion'
           |         ELSE text END AS text
           |  FROM documents),
           |tk0 AS (SELECT doc_id, ${tkSql("text")} AS tk FROM d),
           |sh AS (
           |  SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+4], ' ') AS s
           |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
           |        FROM tk0 WHERE len(tk) >= 5)),
           |rawtk AS (
           |  SELECT ${tkSql("text")} AS tk FROM documents WHERE $b < 40),
           |probe AS (
           |  SELECT DISTINCT array_to_string(tk[i:i+4], ' ') AS s
           |  FROM (SELECT tk, unnest(range(1, len(tk) - 3)) AS i
           |        FROM rawtk WHERE len(tk) >= 5)
           |  UNION
           |  SELECT DISTINCT array_to_string(ptk[i:i+4], ' ') AS s
           |  FROM (SELECT ptk, unnest(range(1, len(ptk) - 3)) AS i
           |        FROM (SELECT ${tkSql(s"'$evalQuestion'")} AS ptk))),
           |hits AS (SELECT doc_id, start FROM sh WHERE s IN (SELECT s FROM probe)),
           |o AS (
           |  SELECT doc_id, start,
           |    CASE WHEN lag(start) OVER w IS NULL
           |           OR start > lag(start) OVER w + 5 THEN 1 ELSE 0 END AS ni
           |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
           |isl AS (
           |  SELECT doc_id, start,
           |    sum(ni) OVER (PARTITION BY doc_id ORDER BY start
           |      ROWS UNBOUNDED PRECEDING) AS island
           |  FROM o)
           |SELECT doc_id AS id, CAST(min(start) AS BIGINT) AS span_start,
           |  CAST(max(start) + 5 AS BIGINT) AS span_end,
           |  CAST(max(start) + 5 - min(start) AS BIGINT) AS span_tokens,
           |  CAST(count(*) AS BIGINT) AS n_gram_hits
           |FROM isl GROUP BY doc_id, island
           |ORDER BY id, span_start""".stripMargin
      }
    ) { (s, dir) =>
      import s.implicits._
      val base = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val d = base.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" " + evalQuestion)))
          .otherwise(col("text")).as("text"))
      val probes = Sampling.hashSample(base, col("doc_id"), 0.04)
        .select(col("text"))
        .unionByName(Seq(evalQuestion).toDF("text"))
      Dedup.contaminationSpans(d, col("doc_id"), col("text"), probes, col("text"), n = 5)
        .orderBy("id", "span_start")
    },

    // D21e: masked decontamination rebuild — contaminated positions
    // excised, document re-assembled from survivors (q_dedup_spans'
    // rebuild oracle pointed at benchmark overlap).
    Q(
      "q_decontaminate_mask", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH tk0 AS (
           |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents),
           |sh AS (
           |  SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+4], ' ') AS s
           |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
           |        FROM tk0 WHERE len(tk) >= 5)),
           |probe AS (
           |  SELECT DISTINCT s FROM sh
           |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE $b < 30)),
           |hits AS (SELECT doc_id, start FROM sh WHERE s IN (SELECT s FROM probe)),
           |lose AS (
           |  SELECT DISTINCT doc_id, pos FROM (
           |    SELECT doc_id, unnest(range(start, start + 5)) AS pos FROM hits)),
           |$keptTermsSql,
           |agg AS (
           |  SELECT doc_id, count(*) AS n_kept,
           |    string_agg(term, ' ' ORDER BY pos) AS cleaned
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id AS id, CAST(len(tk) AS BIGINT) AS n_tokens,
           |  CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS n_masked,
           |  round(CASE WHEN len(tk) = 0 THEN 0.0
           |    ELSE (len(tk) - coalesce(n_kept, 0)) * 1.0 / len(tk) END, 4)
           |    AS masked_ratio,
           |  coalesce(cleaned, '') AS cleaned_text
           |FROM tk0 t LEFT JOIN agg USING (doc_id) ORDER BY id""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = Sampling.hashSample(d, col("doc_id"), 0.03)
      Dedup.maskContamination(d, col("doc_id"), col("text"), probes, col("text"), n = 5)
        .orderBy("id")
    },

    // C22: interval attribution — each purchase joined to the same
    // user's clicks in the preceding hour (equi-join on user with a
    // two-sided time bound, the batch twin of streaming E4
    // intervalJoin; StreamingSpec proves stream==batch on this table).
    Q(
      "q_interval_attribution",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events)
        |SELECT p.user_id AS user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |  CAST(p.ts_us - c.ts_us AS BIGINT) AS lag_us
        |FROM e p JOIN e c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts_us >= p.ts_us - 3600000000 AND c.ts_us <= p.ts_us
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("ts_us"), col("event_type"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_us"))
      p.join(c, Seq("user_id"))
        .filter(col("c_us") >= col("p_us") - 3600000000L && col("c_us") <= col("p_us"))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          (col("p_us") - col("c_us")).as("lag_us"))
        .orderBy("user_id", "purchase_id", "click_id")
    },

    // C57: multi-touch attribution — C22's pair list promoted to
    // credit assignment: each purchase's value split across the
    // preceding hour's click/view touches under linear, first-touch,
    // and last-touch models in one pass; per-touch credits truncate
    // 7 dp into exact decimal lanes before the channel rollup so both
    // engines sum identical amounts in any order.
    Q(
      "q_attribution_credit", {
        def d7(e: String) =
          s"CAST(sign($e) * (floor(abs($e) * 1e7) / 1e7) AS DECIMAL(28,7))"
        s"""WITH e AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
           |  FROM events),
           |conv AS (
           |  SELECT user_id, event_id AS conv_id, ts_us AS cts,
           |    CAST(value AS DOUBLE) AS cv
           |  FROM e WHERE event_type = 'purchase'),
           |touch AS (
           |  SELECT user_id, event_id AS touch_id, ts_us AS tts,
           |    event_type AS channel
           |  FROM e WHERE event_type IN ('click', 'view')),
           |pairs AS (
           |  SELECT c.conv_id, c.cv, t.channel, t.touch_id, t.tts
           |  FROM conv c JOIN touch t
           |    ON c.user_id = t.user_id
           |   AND t.tts >= c.cts - 3600000000 AND t.tts <= c.cts),
           |r AS (
           |  SELECT *,
           |    row_number() OVER (PARTITION BY conv_id ORDER BY tts, touch_id) AS rn,
           |    count(*) OVER (PARTITION BY conv_id) AS n
           |  FROM pairs),
           |cr AS (
           |  SELECT channel, conv_id,
           |    ${d7("cv / n")} AS lin,
           |    CASE WHEN rn = 1 THEN ${d7("cv")}
           |         ELSE CAST(0 AS DECIMAL(28,7)) END AS fi,
           |    CASE WHEN rn = n THEN ${d7("cv")}
           |         ELSE CAST(0 AS DECIMAL(28,7)) END AS la
           |  FROM r)
           |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           |  CAST(sum(lin) AS DOUBLE) AS credit_linear,
           |  CAST(sum(fi) AS DOUBLE) AS credit_first,
           |  CAST(sum(la) AS DOUBLE) AS credit_last
           |FROM cr GROUP BY channel ORDER BY channel""".stripMargin
      }
    ) { (s, dir) =>
      val ev = graft.sources.Tables.events(s, dir)
      graft.operators.Behavior.attributionCredit(ev,
          col("user_id"), col("event_id"), expr("ts_ns div 1000"),
          col("event_type"), col("value"),
          conversionType = "purchase", touchTypes = Seq("click", "view"),
          lookbackUs = 3600000000L)
        .orderBy("channel")
    },

    // C21: quantile bucketing — ntile quartiles per event type with a
    // deterministic tiebreak, the binning step behind stratified
    // quality thresholds.
    Q(
      "q_quantile_bucket",
      """WITH n AS (
        |  SELECT event_type, value,
        |    ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
        |  FROM events)
        |SELECT event_type, CAST(quartile AS INT) AS quartile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(value), 4) AS lo,
        |  round(max(value), 4) AS hi
        |FROM n GROUP BY 1, 2
        |ORDER BY event_type, quartile""".stripMargin
    ) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      graft.sources.Tables.events(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("event_type"), col("quartile").cast("int").as("quartile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"))
        .orderBy("event_type", "quartile")
    },

    // D18c: deterministic data-mixture sampling — per-source keep
    // rates (100% / 50% / 25% / 10%, default 5%), pure integer bucket
    // arithmetic replayed exactly by the oracle: row-identical
    // mixtures on every run and engine.
    Q(
      "q_mixture_sample", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""SELECT doc_id, source FROM documents
           |WHERE $b < CASE source
           |  WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
           |  WHEN 'src2' THEN 250 WHEN 'src3' THEN 100
           |  ELSE 50 END
           |ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      Sampling.mixtureSample(
          table(s, dir, "documents").select(col("doc_id"), col("source")),
          group = col("source"), key = col("doc_id"),
          rates = Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
          defaultRate = 0.05)
        .orderBy("doc_id")
    },

    // D41: BPE vocabulary induction — the tokenizer-training pass.
    // One corpus scan (word frequencies to the driver), then every
    // merge round is heap arithmetic on the driver-side word table —
    // no Spark job per round. The greedy loop is exact integer
    // arithmetic with a deterministic tiebreak, so the oracle replays
    // ALL 30 rounds with a recursive CTE carrying the distinct-word
    // table as list state (the q_pack_bins FFD precedent): per round a
    // correlated subquery unnests the carried words, explodes adjacent
    // symbol pairs, and picks the top pair (freq desc, left asc, right
    // asc); the merge applies via the double-space trick — RE2 has no
    // lookarounds, so doubling every delimiter gives each token a
    // private space on each side and plain left-to-right replace() of
    // ' a  b ' reproduces the trainer's greedy non-overlapping merge
    // (proven equal to `Bpe.mergeWord` on the shared-delimiter
    // 'a a a a' ladder in BpeSpec). No maxWords: the word-table guard
    // fails loudly rather than truncate.
    Q("q_bpe_merges", bpeMergesOracle) { (s, dir) =>
      Bpe.train(table(s, dir, "documents").select(col("text")),
          col("text"), numMerges = 30)
        .orderBy("rank")
    },

    // D41d: the same trainer under an EXPLICIT word-table cap — the
    // tail-sampling contract a realistic-vocab (32k) run on a web-scale
    // corpus uses. The cap sits above this corpus's distinct-word
    // count, so the result must equal q_bpe_merges exactly: same
    // oracle, so the driver's hash check covers the capped path too.
    Q("q_bpe_local", bpeMergesOracle) { (s, dir) =>
      Bpe.trainModel(table(s, dir, "documents").select(col("text")),
          col("text"), numMerges = 30, maxWords = Some(Bpe.defaultMaxWords))._1
        .orderBy("rank")
    },

    // D41b: trained-tokenizer corpus accounting — segment the corpus
    // with the lexicon its own BPE run induced; per-doc subword / OOV
    // counts are the honest token budget feed. Oracle: replay the
    // 10-round training (bpeLexiconCte), then left-join each
    // tokenized word to the carried lexicon; unseen words fall back
    // to character segmentation (len + 1 symbols).
    Q(
      "q_bpe_segment",
      s"""${bpeLexiconCte(10)},
         |dw AS (
         |  SELECT doc_id, unnest(${tkSql("text")}) AS w FROM documents),
         |j AS (
         |  SELECT doc_id,
         |    coalesce(len(string_split(l.syms, ' ')), length(dw.w) + 1) AS n_sub,
         |    CASE WHEN l.w IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM dw LEFT JOIN lexicon l ON dw.w = l.w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(oov) AS BIGINT) AS n_oov_words
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val (_, lexicon) = Bpe.trainModel(d.select(col("text")), col("text"), numMerges = 10)
      Bpe.segment(d, col("doc_id"), col("text"), lexicon)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // D41c: model-feed id encoding — the corpus encoded to dense
    // subword ids under its own trained lexicon, LONG format (no
    // per-doc array reassembly; the writer orders by id/word/sym as
    // it packs). Oracle: the same 10-round lexicon replay, vocab =
    // distinct symbols with dense lexicographic row_number ids, words
    // positioned by generate_series over the token array.
    Q(
      "q_bpe_ids",
      s"""${bpeLexiconCte(10)},
         |vocab AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS sym_id
         |  FROM (SELECT DISTINCT unnest(string_split(syms, ' ')) AS sym FROM lexicon)),
         |unk AS (SELECT count(*) AS unk_id FROM vocab),
         |dw AS (
         |  SELECT doc_id, tk[i] AS w, CAST(i - 1 AS INT) AS word_pos
         |  FROM (SELECT doc_id, ${tkSql("text")} AS tk FROM documents WHERE doc_id < 50),
         |    unnest(generate_series(1, len(tk))) AS g(i)),
         |seg AS (
         |  SELECT doc_id, word_pos,
         |    string_split(coalesce(l.syms,
         |      trim(regexp_replace(dw.w, '(.)', '\\1 ', 'g')) || ' </w>'), ' ') AS symlist
         |  FROM dw LEFT JOIN lexicon l ON dw.w = l.w),
         |ex AS (
         |  SELECT doc_id, word_pos, CAST(i - 1 AS INT) AS sym_pos, symlist[i] AS sym
         |  FROM seg, unnest(generate_series(1, len(symlist))) AS g(i))
         |SELECT doc_id, word_pos, sym_pos,
         |  CAST(coalesce(v.sym_id, unk_id) AS BIGINT) AS sym_id,
         |  v.sym_id IS NULL AS is_unk
         |FROM ex LEFT JOIN vocab v ON ex.sym = v.sym CROSS JOIN unk
         |ORDER BY doc_id, word_pos, sym_pos""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val (_, lexicon) = Bpe.trainModel(d.select(col("text")), col("text"), numMerges = 10)
      Bpe.encodeIds(d.filter(col("doc_id") < 50), col("doc_id"), col("text"), lexicon)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "word_pos", "sym_pos")
    },

    // D132: bounded-vocab ID round-trip audit — with the symbol table
    // capped at 28 (chars + only the hottest merges survive the cut),
    // genuinely lossy words appear and the per-source fidelity is a
    // real coverage number, not a tautology. Oracle: the same 10-round
    // lexicon replay, occurrence-weighted symbol ranking (freq DESC,
    // sym ASC), word-level any-unk flag on the distinct-word frame.
    Q(
      "q_bpe_roundtrip",
      s"""${bpeLexiconCte(10)},
         |dw AS (
         |  SELECT source AS key, unnest(${tkSql("text")}) AS w FROM documents),
         |occ AS (SELECT key, w, CAST(count(*) AS BIGINT) AS n_occ
         |        FROM dw GROUP BY 1, 2),
         |segd AS (
         |  SELECT d.w, string_split(coalesce(l.syms,
         |    trim(regexp_replace(d.w, '(.)', '\\1 ', 'g')) || ' </w>'), ' ') AS symlist
         |  FROM (SELECT DISTINCT w FROM occ) d LEFT JOIN lexicon l ON d.w = l.w),
         |wocc AS (SELECT w, sum(n_occ) AS w_occ FROM occ GROUP BY 1),
         |symfreq AS (
         |  SELECT sym, sum(w_occ) AS freq FROM (
         |    SELECT s.w, unnest(s.symlist) AS sym FROM segd s) e
         |  JOIN wocc ON e.w = wocc.w
         |  GROUP BY 1),
         |topk AS (SELECT sym FROM symfreq ORDER BY freq DESC, sym ASC LIMIT 28),
         |lossy AS (
         |  SELECT e.w, max(CASE WHEN t.sym IS NULL THEN 1 ELSE 0 END) AS lossy
         |  FROM (SELECT w, unnest(symlist) AS sym FROM segd) e
         |  LEFT JOIN topk t ON e.sym = t.sym
         |  GROUP BY 1)
         |SELECT occ.key, CAST(sum(n_occ) AS BIGINT) AS n_words,
         |  CAST(sum(lossy * n_occ) AS BIGINT) AS n_lossy_words,
         |  floor((1 - CAST(sum(lossy * n_occ) AS DOUBLE)
         |    / CAST(sum(n_occ) AS DOUBLE)) * 1e4) / 1e4 AS fidelity
         |FROM occ JOIN lossy ON occ.w = lossy.w
         |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents")
      val (_, lexicon) = Bpe.trainModel(d.select(col("text")), col("text"), numMerges = 10)
      Bpe.roundTrip(d, col("source"), col("text"), lexicon, vocabSize = 28)
        .orderBy("key")
    },

    // D128: WordPiece tokenization — the third tokenizer family next
    // to BPE (D41) and unigram-LM (D96): frequency-ranked subword
    // vocabulary (all single chars per alignment class + top-200
    // multi-char substrings), then greedy longest-match-first
    // segmentation with ## continuations. Exact oracle: the vocab
    // ranking replays declaratively and the greedy walk replays as a
    // recursive CTE stepping each word's position by the longest
    // vocab match (no ties possible: the match at a position/length
    // IS the substring).
    Q(
      "q_wordpiece",
      // concatenation, NOT nested stripMargin: the helpers contain
      // `||` concat operators that an outer stripMargin would eat
      "WITH RECURSIVE " + wordpieceVocabCtes + ",\n" +
        "topw AS (SELECT w, cnt FROM wf ORDER BY cnt DESC, w ASC LIMIT 100),\n" +
        wordpieceSegCtes("topw") + "\n" +
        """SELECT t.w, t.cnt, s.acc AS pieces, CAST(s.np AS BIGINT) AS n_pieces
          |FROM topw t JOIN seg s ON s.w = t.w AND s.pos = length(t.w)
          |ORDER BY t.cnt DESC, t.w ASC""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Wordpiece
      val d = table(s, dir, "documents")
      // ONE tokenize pass feeds both the vocabulary and the word
      // ranking (the r11 review find: buildVocab + a separate wf
      // aggregate paid the corpus-wide tokenize twice)
      val wf = Wordpiece.wordFrequencies(d.select(col("text")), col("text"))
      val vocab = Wordpiece.buildVocabFromWords(wf,
        maxPieces = 200, maxPieceLen = 6).transform(materialize(_))
      val topw = wf.orderBy(col("cnt").desc, col("w").asc).limit(100)
        .transform(materialize(_))
      Wordpiece.segmentWords(topw.select("w"), vocab)
        .join(topw, Seq("w"))
        .select(col("w"), col("cnt"), col("pieces"), col("n_pieces"))
        .orderBy(col("cnt").desc, col("w").asc)
    },

    // D130: WordPiece id encoding — q_bpe_ids' shape for the D128
    // family: the 50-doc subset encodes to dense display-form ids
    // (## continuations; collision-free, the tokenizer never emits
    // '#') under the full-corpus vocab. Oracle: the shared vocab +
    // greedy-seg replay over the subset's distinct words, pieces
    // exploded by position, ids by row_number over sorted display
    // forms.
    Q(
      "q_wordpiece_ids",
      "WITH RECURSIVE " + wordpieceVocabCtes + ",\n" +
        """vids AS (
          |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT)
          |    AS sym_id
          |  FROM (SELECT DISTINCT CASE WHEN cont THEN '##' || piece
          |                             ELSE piece END AS sym FROM vocab)),
          |""".stripMargin +
        s"""dw AS (
           |  SELECT doc_id, tk[i] AS w, CAST(i - 1 AS INT) AS word_pos
           |  FROM (SELECT doc_id, ${tkSql("text")} AS tk FROM documents
           |        WHERE doc_id < 50),
           |    unnest(generate_series(1, len(tk))) AS g(i)),
           |dwd AS (SELECT DISTINCT w FROM dw),
           |""".stripMargin +
        wordpieceSegCtes("dwd") + ",\n" +
        """pieces AS (
          |  SELECT w, string_split(acc, ' ') AS pl FROM seg
          |  WHERE pos = length(w)),
          |ex AS (
          |  SELECT dw.doc_id, dw.word_pos, CAST(i - 1 AS INT) AS piece_pos,
          |    pl[i] AS sym
          |  FROM dw JOIN pieces p ON dw.w = p.w,
          |    unnest(generate_series(1, len(pl))) AS g(i))
          |SELECT doc_id, word_pos, piece_pos,
          |  CAST(coalesce(v.sym_id, (SELECT count(*) FROM vids)) AS BIGINT)
          |    AS piece_id,
          |  v.sym_id IS NULL AS is_unk
          |FROM ex LEFT JOIN vids v ON ex.sym = v.sym
          |ORDER BY doc_id, word_pos, piece_pos""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Wordpiece
      val d = table(s, dir, "documents")
      val vocab = Wordpiece.buildVocab(d.select(col("text")), col("text"),
        maxPieces = 200, maxPieceLen = 6).transform(materialize(_))
      Wordpiece.encodeIds(d.filter(col("doc_id") < 50), col("doc_id"),
          col("text"), vocab)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "word_pos", "piece_pos")
    },

    // D49: deterministic source-interleaved training order — within
    // each shard, positions go round-robin across sources so no batch
    // span sees a single-crawl run; both engines replay the identical
    // two-window construction.
    Q(
      "q_interleave",
      """WITH r AS (
        |  SELECT doc_id, doc_id % 4 AS shard, source,
        |    row_number() OVER (
        |      PARTITION BY doc_id % 4, source ORDER BY doc_id) AS sr
        |  FROM documents)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, source,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY sr, source, doc_id) AS BIGINT) AS train_pos
        |FROM r
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Sampling.interleaveSources(
          table(s, dir, "documents")
            .select(col("doc_id"), pmod(col("doc_id"), lit(4L)).as("shard"), col("source")),
          col("shard"), col("source"), col("doc_id"))
        .select("doc_id", "shard", "source", "train_pos")
        .orderBy("doc_id")
    },

    // D18f: token-BUDGET mixture — per-source keep rates derived
    // in-plan (rate = min(1, budget·w/tokens)) so the sample hits a
    // 2000-token budget at 60/30/10 target shares; unlisted sources
    // drop. Both engines compute the identical double expression and
    // TRUNCATE the per-mille cut.
    Q(
      "q_budget_mixture", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH t AS (
           |  SELECT doc_id, source, len(${tkSql("text")}) AS n_toks
           |  FROM documents),
           |tot AS (SELECT source, sum(n_toks) AS tot FROM t GROUP BY source),
           |cut AS (
           |  SELECT source,
           |    floor(least(CAST(1.0 AS DOUBLE),
           |      CAST(2000 AS DOUBLE) * CASE source
           |        WHEN 'src0' THEN CAST(0.6 AS DOUBLE)
           |        WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
           |        WHEN 'src2' THEN CAST(0.1 AS DOUBLE) END / tot) * 1000) AS cut
           |  FROM tot WHERE source IN ('src0', 'src1', 'src2'))
           |SELECT t.doc_id, t.source, CAST(t.n_toks AS BIGINT) AS n_toks
           |FROM t JOIN cut USING (source)
           |WHERE $b < cut
           |ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        col("doc_id"), col("source"),
        size(graft.functions.tokens(col("text"))).cast("long").as("n_toks"))
      Sampling.mixtureToBudget(d,
          group = col("source"), key = col("doc_id"), tokenCount = col("n_toks"),
          weights = Seq("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1),
          budgetTokens = 2000L)
        .select(col("doc_id"), col("source"), col("n_toks"))
        .orderBy("doc_id")
    },

    // D78: curriculum ordering — 3 difficulty stages (token count,
    // short-first) from exact global percentile cutoffs, shuffled
    // within stage, positioned per shard. DuckDB quantile_cont ==
    // Spark percentile exactly (the boxplot contract).
    Q(
      "q_curriculum", {
        val scr = Sampling.shuffleScrambleSql("doc_id")
        s"""WITH d AS (
           |  SELECT doc_id, doc_id % 4 AS shard,
           |    CAST(len(${tkSql("text")}) AS DOUBLE) AS diff
           |  FROM documents),
           |c AS (
           |  SELECT quantile_cont(diff, 1.0/3) AS c1,
           |    quantile_cont(diff, 2.0/3) AS c2
           |  FROM d),
           |s AS (
           |  SELECT doc_id, shard, diff,
           |    1 + (CASE WHEN diff > c1 THEN 1 ELSE 0 END)
           |      + (CASE WHEN diff > c2 THEN 1 ELSE 0 END) AS stage
           |  FROM d CROSS JOIN c)
           |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           |  CAST(stage AS INT) AS stage,
           |  CAST(row_number() OVER (
           |    PARTITION BY shard ORDER BY stage, $scr, doc_id) AS BIGINT) AS train_pos
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        col("doc_id"),
        pmod(col("doc_id"), lit(4L)).as("shard"),
        size(graft.functions.tokens(col("text"))).cast("double").as("diff"))
      Sampling.curriculumOrder(d, col("doc_id"), col("diff"), col("shard"), nStages = 3)
        .select(col("doc_id"), col("shard"), col("stage").cast("int").as("stage"),
          col("train_pos"))
        .orderBy("doc_id")
    },

    // D71: deterministic shuffle-sharding — the pre-write global
    // shuffle: scramble hash (second Knuth multiplier, decoupled from
    // the sampling bucket), shard = scramble mod 8, dense per-shard
    // position in scramble order. Same (shard, position) on every
    // run/engine.
    Q(
      "q_shuffle_shards", {
        val scr = Sampling.shuffleScrambleSql("doc_id")
        s"""WITH t AS (SELECT doc_id, $scr AS scr FROM documents),
           |s AS (SELECT doc_id, CAST(scr % 8 AS INT) AS shard, scr FROM t)
           |SELECT doc_id, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY scr, doc_id) AS BIGINT)
           |    AS position
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      Sampling.shuffleShards(
          table(s, dir, "documents").select(col("doc_id")), col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("position"))
        .orderBy("doc_id")
    },

    // D71b: shard manifest — the loader-facing size table (rows +
    // tokens per shard) a training job reads before opening shards.
    Q(
      "q_shard_manifest", {
        val scr = Sampling.shuffleScrambleSql("doc_id")
        s"""WITH t AS (
           |  SELECT doc_id, CAST($scr % 8 AS INT) AS shard,
           |    len(${tkSql("text")}) AS n_toks
           |  FROM documents)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
           |FROM t GROUP BY shard ORDER BY shard""".stripMargin
      }
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select(col("doc_id"),
        size(graft.functions.tokens(col("text"))).cast("long").as("n_toks"))
      Sampling.shuffleShards(docs, col("doc_id"), nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .orderBy("shard")
    },

    // D143: consistent-hash shard REBALANCE plan, 8 -> 9 shards — the
    // minimal-movement proof before scheduling a migration: both
    // rings are pure-integer driver metadata (Sampling.ringIntervals,
    // shared verbatim with the oracle as VALUES), each doc range-joins
    // the two broadcast segment tables. Mod-sharding would move ~8/9
    // of the corpus; the ring moves ~1/9.
    Q(
      "q_consistent_hash", {
        def vals(iv: Seq[(Long, Long, Int)]): String =
          iv.map { case (lo, hi, s) => s"($lo, $hi, $s)" }.mkString(", ")
        val oldIv = vals(Sampling.ringIntervals(8, 32))
        val newIv = vals(Sampling.ringIntervals(9, 32))
        val pos = Sampling.hashModSql("doc_id", "1048576")
        s"""WITH t AS (SELECT doc_id, $pos AS pos FROM documents),
           |o AS (SELECT * FROM (VALUES $oldIv) AS o(lo, hi, shard_old)),
           |n AS (SELECT * FROM (VALUES $newIv) AS n(lo, hi, shard_new)),
           |j AS (
           |  SELECT t.doc_id, o.shard_old, n.shard_new
           |  FROM t
           |  JOIN o ON t.pos > o.lo AND t.pos <= o.hi
           |  JOIN n ON t.pos > n.lo AND t.pos <= n.hi)
           |SELECT CAST(shard_old AS INT) AS shard_old,
           |  CAST(shard_new AS INT) AS shard_new,
           |  shard_old <> shard_new AS moved,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM j GROUP BY 1, 2, 3
           |ORDER BY shard_old, shard_new""".stripMargin
      }
    ) { (s, dir) =>
      Sampling.consistentHashPlan(table(s, dir, "documents"),
          col("doc_id"), nOld = 8, nNew = 9, vnodes = 32)
        .groupBy(col("shard_old"), col("shard_new"), col("moved"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("shard_old", "shard_new")
    },

    // D68: first-come token-budget admission — exact ordered gate
    // (distinct from the probabilistic mixture thinning): per-shard
    // exclusive cumsum, admit while tokens_before < budget; the
    // straddling doc is admitted. Streaming twin: E12.
    Q(
      "q_admit_budget",
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 8 AS shard, len(${tkSql("text")}) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_toks,
         |    coalesce(sum(n_toks) OVER (
         |      PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
         |  FROM t)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(tb AS BIGINT) AS tokens_before
         |FROM c WHERE tb < 2000 ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = shardedTokenCounts(s, dir)
      Sampling.admitToBudget(docs, col("shard"), col("doc_id"),
          col("n_toks"), budget = 2000L)
        .select(col("doc_id"), col("shard"), col("n_toks"), col("tokens_before"))
        .orderBy("doc_id")
    },

    // D61: data-constrained epoch plan (Muennighoff et al. NeurIPS'23)
    // — when budget·w exceeds a source's mass the source REPEATS, up
    // to 4 epochs, and the unfillable deficit is reported. Budget =
    // 2× the three-source mass so all three regimes appear: src0
    // (w=.7) caps at 4 epochs with a deficit, src1 (w=.25) repeats
    // ~1.5×, src2 (w=.05) downsamples.
    Q(
      "q_epoch_plan",
      s"""WITH t AS (
         |  SELECT doc_id, source, len(${tkSql("text")}) AS n_toks
         |  FROM documents),
         |f AS (SELECT source, n_toks FROM t WHERE source IN ('src0', 'src1', 'src2')),
         |bud AS (SELECT 2 * sum(n_toks) AS budget FROM f),
         |tot AS (SELECT source, sum(n_toks) AS have FROM f GROUP BY source),
         |p AS (
         |  SELECT source, CAST(have AS BIGINT) AS have_tokens,
         |    CAST(floor(CAST(budget AS DOUBLE) * CASE source
         |      WHEN 'src0' THEN CAST(0.7 AS DOUBLE)
         |      WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
         |      WHEN 'src2' THEN CAST(0.05 AS DOUBLE) END) AS BIGINT) AS target_tokens,
         |    CAST(floor(CAST(4.0 AS DOUBLE) * CAST(have AS DOUBLE)) AS BIGINT) AS cap_tokens
         |  FROM tot CROSS JOIN bud),
         |p2 AS (
         |  SELECT source, have_tokens, target_tokens, cap_tokens,
         |    floor(least(CAST(4.0 AS DOUBLE),
         |      CAST(target_tokens AS DOUBLE) / CAST(have_tokens AS DOUBLE)) * 1e4) / 1e4
         |      AS epochs
         |  FROM p),
         |p3 AS (
         |  SELECT source, have_tokens, target_tokens, epochs,
         |    CAST(floor(epochs * CAST(have_tokens AS DOUBLE)) AS BIGINT) AS planned_tokens,
         |    cap_tokens
         |  FROM p2)
         |SELECT source, have_tokens, target_tokens, epochs, planned_tokens,
         |  greatest(CAST(0 AS BIGINT), target_tokens - planned_tokens) AS deficit_tokens,
         |  target_tokens > cap_tokens AS capped
         |FROM p3 ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
          col("doc_id"), col("source"),
          size(graft.functions.tokens(col("text"))).cast("long").as("n_toks"))
        .filter(col("source").isin("src0", "src1", "src2"))
      val budget = 2L * d.agg(sum("n_toks")).collect()(0).getLong(0)
      Sampling.epochPlan(d, col("source"), col("n_toks"),
          Seq("src0" -> 0.7, "src1" -> 0.25, "src2" -> 0.05),
          budgetTokens = budget)
        .orderBy("source")
    },

    // D61b: epoch materialization — floor(epochs) full copies plus a
    // deterministic hash-cut extra for the fractional remainder; the
    // epoch index survives as a column. Same plan math as
    // q_epoch_plan, replayed through generate_series.
    Q(
      "q_epochize", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH t AS (
           |  SELECT doc_id, source, len(${tkSql("text")}) AS n_toks
           |  FROM documents),
           |f AS (SELECT source, n_toks FROM t WHERE source IN ('src0', 'src1', 'src2')),
           |bud AS (SELECT 2 * sum(n_toks) AS budget FROM f),
           |tot AS (SELECT source, sum(n_toks) AS have FROM f GROUP BY source),
           |p AS (
           |  SELECT source, have,
           |    CAST(floor(CAST(budget AS DOUBLE) * CASE source
           |      WHEN 'src0' THEN CAST(0.7 AS DOUBLE)
           |      WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
           |      WHEN 'src2' THEN CAST(0.05 AS DOUBLE) END) AS BIGINT) AS target
           |  FROM tot CROSS JOIN bud),
           |p2 AS (
           |  SELECT source,
           |    floor(least(CAST(4.0 AS DOUBLE),
           |      CAST(target AS DOUBLE) / CAST(have AS DOUBLE)) * 1e4) / 1e4 AS epochs
           |  FROM p),
           |c AS (
           |  SELECT t.doc_id, t.source,
           |    CAST(floor(epochs) AS INT)
           |      + CASE WHEN $b < floor((epochs - floor(epochs)) * 1000)
           |             THEN 1 ELSE 0 END AS copies
           |  FROM t JOIN p2 USING (source)),
           |e AS (
           |  SELECT doc_id, source,
           |    unnest(generate_series(1, copies)) AS epoch
           |  FROM c)
           |SELECT doc_id, source, CAST(epoch AS INT) AS epoch
           |FROM e ORDER BY doc_id, epoch""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
          col("doc_id"), col("source"),
          size(graft.functions.tokens(col("text"))).cast("long").as("n_toks"))
        .filter(col("source").isin("src0", "src1", "src2"))
      val budget = 2L * d.agg(sum("n_toks")).collect()(0).getLong(0)
      Sampling.epochize(d, col("source"), col("doc_id"), col("n_toks"),
          Seq("src0" -> 0.7, "src1" -> 0.25, "src2" -> 0.05),
          budgetTokens = budget)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },

    // D19: concat-then-chunk sequence packing under a 512-token budget,
    // sharded 8 ways (the window is partitioned by construction).
    Q(
      "q_pack_sequences",
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    len(${tkSql("text")}) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_toks,
         |    coalesce(sum(n_toks) OVER (
         |      PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM t)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(cum // 512 AS BIGINT) AS seq_id,
         |  CAST(cum % 512 AS BIGINT) AS tok_offset
         |FROM c
         |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = shardedTokenCounts(s, dir)
      Packing.packSequences(docs, col("shard"), Seq(col("doc_id")),
          col("n_toks"), budget = 512)
        .select(col("doc_id"), col("shard"), col("n_toks"),
          col("seq_id").cast("long").as("seq_id"), col("tok_offset"))
        .orderBy("doc_id")
    },

    // D150: head+tail token truncation under a 96-token budget
    // (head 72 / tail 24) — long docs keep lead + conclusion with one
    // ellipsis marker; short docs pass through byte-identical.
    Q(
      "q_truncate_headtail",
      s"""WITH tk0 AS (
         |  SELECT doc_id, ${tkSql("text")} AS tk FROM documents)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(tk) <= 96 THEN CAST(len(tk) AS BIGINT)
         |    ELSE 72 END AS kept_head,
         |  CAST(CASE WHEN len(tk) <= 96 THEN 0 ELSE 24 END AS BIGINT)
         |    AS kept_tail,
         |  len(tk) > 96 AS was_truncated,
         |  CASE WHEN len(tk) <= 96 THEN array_to_string(tk, ' ')
         |    ELSE array_to_string(tk[1:72], ' ') || ' ... ' ||
         |      array_to_string(tk[len(tk) - 23:len(tk)], ' ')
         |  END AS truncated_text
         |FROM tk0 ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Packing.headTailTruncate(table(s, dir, "documents"),
          col("doc_id"), col("text"), budget = 96, headFrac = 0.75)
        .orderBy("doc_id")
    },

    // D139: the LLM-corpus pipeline END-TO-END — the D-family analogue
    // of B18's q_epe_pipeline: quality gate (D94-tier score) → span
    // decontamination with masked rebuild (D21d/D21e) → INCREMENTAL
    // MinHash dedup of the new shard against the corpus signature
    // index (D2b) → temperature mixture (D53) → sequence packing
    // (D19), ONE registered query with the whole chain replayed in
    // DuckDB. Fixture geometry: every 7th doc leaks the eval question
    // (the mask stage must excise it), corpus = doc_id < 250, shard =
    // fresh docs ≥ 250 PLUS 4/5-truncated renditions of corpus docs
    // (id+1e6) the dedup stage must swallow. Proves the operators
    // COMPOSE without plan blow-up — PlanSpec bounds the chain's
    // exchange count.
    Q(
      "q_corpus_build", {
        val b = Sampling.hashBucketSql("doc_id")
        val chainDocs =
          s"""dcap AS (
             |  SELECT doc_id, source, text FROM documents
             |  ORDER BY $b, doc_id LIMIT 3000),
             |d0 AS (
             |  SELECT doc_id, source,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' $evalQuestion'
             |         ELSE text END AS text
             |  FROM dcap),
             |rnd AS (
             |  SELECT doc_id + 1000000 AS doc_id, source,
             |    array_to_string(tk[1:greatest(CAST(floor(len(tk) * 4 / 5) AS INT), 1)], ' ') AS text
             |  FROM (SELECT doc_id, source, ${tkSql("text")} AS tk
             |        FROM d0 WHERE doc_id < 250)),
             |inp AS (SELECT * FROM d0 UNION ALL SELECT * FROM rnd),
             |tq AS (SELECT doc_id, source, text, ${tkSql("text")} AS tk FROM inp),
             |mq AS (
             |  SELECT doc_id, source, tk,
             |    $qualitySignalsSql
             |  FROM tq),
             |qq AS (
             |  SELECT doc_id, source, tk,
             |    $qualityScoreSql AS quality
             |  FROM mq),
             |fq AS (SELECT * FROM qq WHERE quality >= 0.5),
             |shq AS (
             |  SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+4], ' ') AS s
             |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
             |        FROM fq WHERE len(tk) >= 5)),
             |probe AS (
             |  SELECT DISTINCT array_to_string(ptk[i:i+4], ' ') AS s
             |  FROM (SELECT ptk, unnest(range(1, len(ptk) - 3)) AS i
             |        FROM (SELECT ${tkSql(s"'$evalQuestion'")} AS ptk))),
             |hits AS (SELECT doc_id, start FROM shq WHERE s IN (SELECT s FROM probe)),
             |lose AS (
             |  SELECT DISTINCT doc_id, pos FROM (
             |    SELECT doc_id, unnest(range(start, start + 5)) AS pos FROM hits)),
             |tp AS (
             |  SELECT doc_id, pos, tk[pos + 1] AS term FROM (
             |    SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos FROM fq)),
             |keptq AS (
             |  SELECT t.doc_id, t.pos, t.term
             |  FROM tp t LEFT JOIN lose l ON t.doc_id = l.doc_id AND t.pos = l.pos
             |  WHERE l.doc_id IS NULL),
             |ctk AS (
             |  SELECT doc_id, list(term ORDER BY pos) AS ctk,
             |    count(*) AS n_kept
             |  FROM keptq GROUP BY doc_id),
             |cln AS (
             |  SELECT f.doc_id, f.source, f.quality,
             |    len(f.tk) - coalesce(c.n_kept, 0) AS n_masked,
             |    coalesce(c.ctk, CAST([] AS VARCHAR[])) AS ctk
             |  FROM fq f LEFT JOIN ctk c USING (doc_id)),
             |docs AS (SELECT doc_id AS id, ctk AS tk FROM cln)""".stripMargin
        val tail =
          s"""corpb AS (SELECT id, bucket FROM (
             |            SELECT id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS nn
             |            FROM (SELECT id, bucket FROM bkt WHERE id < 250))
             |          WHERE nn <= 200),
             |shrdb AS (SELECT id, bucket FROM bkt WHERE id >= 250),
             |cand AS (SELECT DISTINCT x.id AS shard_id, y.id AS corpus_id
             |         FROM shrdb x JOIN corpb y ON x.bucket = y.bucket),
             |est AS (SELECT c.shard_id, c.corpus_id, ${DedupQueries.estJaccardSql} AS e4
             |        FROM cand c JOIN sigl sa ON c.shard_id = sa.id
             |                    JOIN sigl sb ON c.corpus_id = sb.id),
             |dup AS (SELECT DISTINCT shard_id FROM est WHERE e4 >= 5000),
             |surv AS (
             |  SELECT * FROM cln
             |  WHERE doc_id < 250 OR doc_id NOT IN (SELECT shard_id FROM dup)),
             |c2 AS (SELECT source, count(*) AS n FROM surv GROUP BY 1),
             |w2 AS (SELECT source, n, floor(sqrt(CAST(n AS DOUBLE)) * 1e7) / 1e7 AS w FROM c2),
             |tot2 AS (SELECT CAST(sum(CAST(w AS DECIMAL(28,7))) AS DOUBLE) AS wsum FROM w2),
             |r2 AS (SELECT source, least(1.0, 400.0 * w / wsum / n) AS rate
             |       FROM w2 CROSS JOIN tot2),
             |sel AS (
             |  SELECT s.* FROM surv s JOIN r2 USING (source)
             |  WHERE $b < floor(rate * 1000)),
             |pk AS (
             |  SELECT doc_id, source, quality, n_masked,
             |    len(ctk) AS n_toks, doc_id % 8 AS shard
             |  FROM sel),
             |cm AS (
             |  SELECT *, coalesce(sum(n_toks) OVER (
             |    PARTITION BY shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             |  FROM pk)
             |SELECT doc_id, source, quality,
             |  CAST(n_masked AS BIGINT) AS n_masked,
             |  CAST(n_toks AS BIGINT) AS n_toks,
             |  CAST(cum // 512 AS BIGINT) AS seq_id,
             |  CAST(cum % 512 AS BIGINT) AS tok_offset
             |FROM cm ORDER BY doc_id""".stripMargin
        DedupQueries.minHashOracleSql(tail, chainDocs)
      }
    ) { (s, dir) =>
      import s.implicits._
      import graft.functions.tokens
      // stage 0: fixture — leaked eval question on every 7th doc,
      // 4/5-truncated renditions of corpus docs as the shard's
      // known-duplicate mass. The input is CAPPED at 3000 docs by
      // deterministic hash-bucket order (inert at sf0.01's 600 docs;
      // TakeOrderedAndProject above it) so the DuckDB replay of the
      // composed chain stays feasible at ANY scale factor — the r14
      // sf1 sweep's uncapped recursive-CTE minhash replay exhausted
      // process address space, leaving the flagship unverifiable
      // exactly where scale bugs compose. Full-corpus scale coverage
      // lives in the constituent stages (q_gopher_gate,
      // q_decontaminate_spans, q_dedup_minhash_incr,
      // q_temperature_mixture, q_pack_sequences — all sf1 hash-green
      // uncapped) and in E46's streaming twin.
      val bkt = Sampling.hashBucket(col("doc_id"))
      val base = table(s, dir, "documents")
        .orderBy(bkt, col("doc_id")).limit(3000)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + evalQuestion)))
            .otherwise(col("text")).as("text"))
      val rend = base.filter(col("doc_id") < 250)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          array_join(
            slice(tokens(col("text")), lit(1),
              greatest(floor(size(tokens(col("text"))) * 4 / 5), lit(1))
                .cast("int")), " ").as("text"))
      val input = base.unionByName(rend)
      // stage 1: quality gate
      val gated = TextMetrics.withQuality(input, col("text"))
        .filter(col("quality") >= 0.5)
        .select(col("doc_id"), col("source"), col("quality"), col("text"))
      // stage 2: span decontamination, masked rebuild
      val probes = Seq(evalQuestion).toDF("text")
      val masked = Dedup.maskContamination(gated, col("doc_id"), col("text"),
          probes, col("text"), n = 5)
        .select(col("id").as("doc_id"), col("n_masked"), col("cleaned_text"))
      // stage seam: the cleaned frame feeds THREE consumers (corpus
      // signature build, shard, survivor join-back) — materialize once
      // (a real pipeline lands stage outputs in the lake) or the plan
      // re-inlines the whole upstream per consumer (measured: 217
      // exchanges un-checkpointed vs a bounded tail)
      val cleaned = masked.join(
        gated.select(col("doc_id"), col("source"), col("quality")), Seq("doc_id"))
        .transform(materialize(_))
      // stage 3: incremental MinHash dedup — shard vs the corpus
      // signature index (built once; a real pipeline reads it from
      // parquet)
      val corpus = cleaned.filter(col("doc_id") < 250)
      val corpusSigs = Dedup.minHashSignatures(corpus, col("doc_id"),
        col("cleaned_text"))
      val shard = cleaned.filter(col("doc_id") >= 250)
      val dups = Dedup.minHashLSHIncremental(shard, col("doc_id"),
          col("cleaned_text"), corpusSigs,
          numHashes = 64, bands = 16, shingleSize = 5,
          threshold = 0.5, maxBucket = 200)
        .select(col("shard_id").as("doc_id")).distinct()
      val survivors = corpus
        .unionByName(shard.join(dups, Seq("doc_id"), "left_anti"))
        .transform(materialize(_))
      // stage 4: temperature mixture over sources (n^0.5 tilt)
      val mixed = Sampling.temperatureMixture(survivors, col("source"),
        col("doc_id"), targetRows = 400, alpha = 0.5)
      // stage 5: sequence packing under a 512-token budget, 8 shards
      val toks = mixed.select(col("doc_id"), col("source"), col("quality"),
        col("n_masked"),
        size(tokens(col("cleaned_text"))).cast("long").as("n_toks"),
        pmod(col("doc_id"), lit(8L)).as("shard"))
      Packing.packSequences(toks, col("shard"), Seq(col("doc_id")),
          col("n_toks"), budget = 512)
        .select(col("doc_id"), col("source"), col("quality"), col("n_masked"),
          col("n_toks"), col("seq_id").cast("long").as("seq_id"),
          col("tok_offset"))
        .orderBy("doc_id")
    },

    // D123: FIM transformation — half the docs split at two
    // hash-drawn character offsets and re-serialized with sentinels
    // (PSM/SPM 50/50), the rest pass through. Exact oracle: the
    // portable hash idiom + code-point substring replay.
    Q(
      "q_fim", {
        val ap = graft.operators.Sampling.hashBucketSql("(doc_id * 31 + 3)")
        val sp = graft.operators.Sampling.hashBucketSql("(doc_id * 31 + 4)")
        val o1 = graft.operators.Sampling.hashModSql("(doc_id * 31 + 1)", "length(text) + 1")
        val o2 = graft.operators.Sampling.hashModSql("(doc_id * 31 + 2)", "length(text) + 1")
        s"""WITH b AS (
           |  SELECT doc_id AS id, text, length(text) AS len,
           |    text IS NOT NULL AND $ap < 500 AS apply_fim, $sp < 500 AS spm,
           |    least($o1, $o2) AS lo, greatest($o1, $o2) AS hi
           |  FROM documents),
           |p AS (SELECT id, apply_fim, spm, len, lo, hi, text,
           |    substring(text, 1, CAST(lo AS INT)) AS pre,
           |    substring(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)) AS mid,
           |    substring(text, CAST(hi + 1 AS INT), CAST(len - hi AS INT)) AS suf
           |  FROM b)
           |SELECT id,
           |  CASE WHEN NOT apply_fim THEN 'plain'
           |       WHEN spm THEN 'spm' ELSE 'psm' END AS mode,
           |  CASE WHEN NOT apply_fim THEN text
           |       WHEN spm THEN '<|fim_suf|>' || suf || '<|fim_pre|>' || pre
           |         || '<|fim_mid|>' || mid
           |       ELSE '<|fim_pre|>' || pre || '<|fim_suf|>' || suf
           |         || '<|fim_mid|>' || mid END AS fim_text,
           |  CASE WHEN apply_fim THEN CAST(lo AS BIGINT) END AS n_prefix,
           |  CASE WHEN apply_fim THEN CAST(hi - lo AS BIGINT) END AS n_middle,
           |  CASE WHEN apply_fim THEN CAST(len - hi AS BIGINT) END AS n_suffix
           |FROM p ORDER BY id""".stripMargin
      }
    ) { (s, dir) =>
      Packing.fimTransform(table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("id")
    },

    // D115: length-bucketed batch assignment + padding-waste report —
    // per-source 16-doc batches over the (n_tokens desc, id) order;
    // the report aggregates each batch's max/sum/waste/fill. Exact
    // oracle: one ranking window + integer div + a groupBy.
    Q(
      "q_length_batches",
      s"""WITH tk AS (
        |  SELECT source AS shard, doc_id AS id,
         |    CAST(len(${tkSql("text")}) AS BIGINT) AS n_tokens
        |  FROM documents),
        |a AS (SELECT shard, id, n_tokens,
        |    CAST((row_number() OVER (PARTITION BY shard
        |      ORDER BY n_tokens DESC, id ASC) - 1) // 16 AS BIGINT) AS batch_id
        |  FROM tk)
        |SELECT shard, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS token_sum,
        |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_waste,
        |  CASE WHEN count(*) * max(n_tokens) > 0
        |    THEN floor(CAST(sum(n_tokens) AS DOUBLE)
        |      / CAST(count(*) * max(n_tokens) AS DOUBLE) * 1e4) / 1e4
        |  END AS fill_ratio
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      import graft.functions.tokens
      val d = table(s, dir, "documents").select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("nt"))
      Packing.lengthBucketBatches(d, col("source"), col("doc_id"), col("nt"),
          batchSize = 16)
        .groupBy("shard", "batch_id")
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_tokens")).as("token_sum"),
          (count(lit(1)) * max(col("n_tokens")) - sum(col("n_tokens")))
            .as("padding_waste"),
          when(count(lit(1)) * max(col("n_tokens")) > 0,
            floor(sum(col("n_tokens")).cast("double")
              / (count(lit(1)) * max(col("n_tokens"))).cast("double") * 1e4) / 1e4)
            .as("fill_ratio"))
        .orderBy("shard", "batch_id")
    },

    // D19b: whole-document FFD bin packing under a 512-token budget —
    // the fine-tuning/eval packing mode (docs never split). The greedy
    // placement is sequential per shard, but DETERMINISTIC — the
    // oracle replays it exactly with a recursive CTE that steps
    // through each shard's (n_tokens desc, id asc) placement order
    // carrying the open-bin remaining-capacity LIST as state: first
    // bin with remaining >= n takes the doc, otherwise a new bin
    // opens at budget - n (negative for oversize docs, exactly like
    // the kernel, so nothing ever lands in an oversize bin).
    Q(
      "q_pack_bins",
      // NULLIF guards list_position's not-found value (0, not NULL, in
      // DuckDB 1.0) — without it the not-found case would slice with a
      // NEGATIVE index and the state list would double every step
      s"""WITH RECURSIVE tkn AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS VARCHAR) AS shard,
         |    CAST(len(${tkSql("text")}) AS BIGINT) AS n_toks
         |  FROM documents),
         |items AS (
         |  SELECT shard, doc_id AS id, n_toks AS n_tokens,
         |    row_number() OVER (PARTITION BY shard ORDER BY n_toks DESC, doc_id ASC) AS rn
         |  FROM tkn),
         |ffd AS (
         |  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS id,
         |    CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS bin_id,
         |    CAST([] AS BIGINT[]) AS bins
         |  FROM (SELECT DISTINCT shard FROM items)
         |  UNION ALL
         |  SELECT shard, rn, id, n_tokens,
         |    CAST(coalesce(pos, len(bins) + 1) - 1 AS BIGINT) AS bin_id,
         |    CASE WHEN pos IS NULL THEN list_append(bins, 512 - n_tokens)
         |      ELSE bins[1:pos - 1] || [bins[pos] - n_tokens] || bins[pos + 1:]
         |    END AS bins
         |  FROM (
         |    SELECT i.shard, i.rn, i.id, i.n_tokens, f.bins,
         |      NULLIF(list_position(
         |        list_transform(f.bins, b -> b >= i.n_tokens), true), 0) AS pos
         |    FROM ffd f JOIN items i ON i.shard = f.shard AND i.rn = f.rn + 1))
         |SELECT shard, id, n_tokens, bin_id, n_tokens > 512 AS oversize
         |FROM ffd WHERE rn > 0 ORDER BY id""".stripMargin
    ) { (s, dir) =>
      val docs = shardedTokenCounts(s, dir)
      Packing.binPackFFD(docs, col("shard"), col("doc_id"),
          col("n_toks"), budget = 512L)
        .orderBy("id")
    },

    // D18e: per-group row cap (domain capping) — at most 40 docs per
    // domain, where 17 of the 20 sources are lumped into one
    // mega-domain so the cap actually bites (the small domains pass
    // through whole, exercising the under-cap path). The oracle
    // replays the selection rule directly: top-40 per domain by
    // (hash bucket, doc_id) order.
    Q(
      "q_cap_per_group", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN source
           |         ELSE 'web' END AS domain
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, domain,
           |    row_number() OVER (PARTITION BY domain ORDER BY $b, doc_id) AS rk
           |  FROM d)
           |SELECT doc_id, domain FROM s WHERE rk <= 40
           |ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        col("doc_id"),
        when(col("source").isin("src0", "src1", "src2"), col("source"))
          .otherwise(lit("web")).as("domain"))
      Sampling.capPerGroup(d, group = col("domain"), key = col("doc_id"),
          maxRows = 40)
        .orderBy("doc_id")
    },

    // D50b: effective sample size of importance weights per source —
    // every 97th doc carries a 1000× outlier weight (ESS collapses in
    // its group), every 89th a negative weight (excluded + reported);
    // weights are 3-dp decimals by construction (n_chars/1000), so the
    // 6-dp pre-round never sits on a cross-engine tie; 4-dp floors.
    Q(
      "q_ess",
      """WITH w AS (
        |  SELECT source AS group_key,
        |    CASE WHEN doc_id % 89 = 0 THEN -1.0
        |         WHEN doc_id % 97 = 0 THEN 1000.0
        |         ELSE CAST(n_chars AS DOUBLE) / 1000 END AS w
        |  FROM documents),
        |g AS (
        |  SELECT group_key,
        |    CAST(coalesce(sum(CASE WHEN w > 0 THEN 1 END), 0) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN w IS NULL OR NOT (w > 0) THEN 1 END), 0)
        |      AS BIGINT) AS n_dropped,
        |    sum(CASE WHEN w > 0 THEN CAST(round(w, 6) AS DECIMAL(24,6)) END) AS sw,
        |    sum(CASE WHEN w > 0 THEN CAST(round(w, 6) AS DECIMAL(24,6))
        |      * CAST(round(w, 6) AS DECIMAL(24,6)) END) AS sww
        |  FROM w GROUP BY 1)
        |SELECT group_key, n, n_dropped,
        |  floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |    / CAST(sww AS DOUBLE) * 1e4) / 1e4 AS ess,
        |  floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |    / CAST(sww AS DOUBLE) / n * 1e4) / 1e4 AS ess_ratio
        |FROM g ORDER BY group_key""".stripMargin
    ) { (s, dir) =>
      val d = table(s, dir, "documents").select(
        col("source"),
        when(col("doc_id") % 89 === 0, lit(-1.0))
          .when(col("doc_id") % 97 === 0, lit(1000.0))
          .otherwise(col("n_chars").cast("double") / 1000).as("w"))
      Sampling.effectiveSampleSize(d, col("source"), col("w"))
        .orderBy("group_key")
    },

    // D18d: per-ROW-weighted deterministic sampling — keep each doc
    // with probability equal to its own (length-derived) quality
    // weight; same hash-bucket family as the other sampling ops, so
    // the sample is nested under re-weighting.
    Q(
      "q_weighted_sample", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""SELECT doc_id, n_chars
           |FROM documents
           |WHERE $b < floor(least(1.0, greatest(0.0, n_chars / 400.0)) * 1000)
           |ORDER BY doc_id""".stripMargin
      }
    ) { (s, dir) =>
      Sampling.weightedSample(table(s, dir, "documents"),
          col("doc_id"), col("n_chars") / lit(400.0))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },

    // D53: temperature-based mixture sampling (mT5-style n^alpha
    // reweighting) — planted 60/30/10 group skew; at alpha = 0.5 the
    // sqrt weights tilt keep-rates toward the tail group. The oracle
    // replays the truncated-sqrt weights, exact-decimal denominator,
    // and per-mille hash cut; per-group before/after counts must
    // match exactly.
    Q(
      "q_temperature_mixture", {
        val b = Sampling.hashBucketSql("doc_id")
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 10 < 6 THEN 'big'
           |         WHEN doc_id % 10 < 9 THEN 'mid'
           |         ELSE 'small' END AS grp
           |  FROM documents),
           |c AS (SELECT grp, count(*) AS n FROM d GROUP BY 1),
           |w AS (
           |  SELECT grp, n, floor(sqrt(CAST(n AS DOUBLE)) * 1e7) / 1e7 AS w
           |  FROM c),
           |tot AS (
           |  SELECT CAST(sum(CAST(w AS DECIMAL(28,7))) AS DOUBLE) AS wsum FROM w),
           |r AS (
           |  SELECT grp, n, least(1.0, 250.0 * w / wsum / n) AS rate
           |  FROM w CROSS JOIN tot),
           |sel AS (
           |  SELECT d.doc_id, d.grp FROM d JOIN r USING (grp)
           |  WHERE $b < floor(rate * 1000)),
           |a AS (SELECT grp, count(*) AS n_after FROM sel GROUP BY 1)
           |SELECT c.grp, CAST(c.n AS BIGINT) AS n_before,
           |  CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after
           |FROM c LEFT JOIN a USING (grp) ORDER BY grp""".stripMargin
      }
    ) { (s, dir) =>
      val planted = table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 6, "big")
          .when(col("doc_id") % 10 < 9, "mid")
          .otherwise("small").as("grp"))
      val sel = Sampling.temperatureMixture(planted, col("grp"), col("doc_id"),
        targetRows = 250, alpha = 0.5)
      planted.groupBy("grp").agg(count(lit(1)).as("n_before"))
        .join(sel.groupBy("grp").agg(count(lit(1)).as("n_after")), Seq("grp"), "left")
        .select(col("grp"), col("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy("grp")
    },

    // D94: C4 heuristic filter suite over a planted multi-line page
    // per document (documents are single-line; both engines build the
    // identical rendition). Cycles plant each rule's trigger: %11 a
    // javascript line, %13 lorem ipsum, %17 a curly brace, %19 the
    // bad word — and the dropped-line rules fire on every page (one
    // 2-word line, one line with no terminal punctuation).
    Q(
      "q_c4_filter",
      """WITH p AS (
        |  SELECT doc_id,
        |    concat_ws(chr(10),
        |      substr(text, 1, 80) || '.',
        |      'too short',
        |      substr(text, 81, 60),
        |      CASE WHEN doc_id % 11 = 0
        |        THEN 'please enable JavaScript to view this page.'
        |        ELSE 'a perfectly fine sentence with enough words here.' END,
        |      CASE WHEN doc_id % 13 = 0
        |        THEN 'lorem ipsum dolor sit amet, consectetur adipiscing elit.'
        |        ELSE 'another good line that ends with a question mark?' END,
        |      CASE WHEN doc_id % 17 = 0
        |        THEN 'function f() { return 1; }'
        |        ELSE 'closing thought with words and punctuation!' END,
        |      CASE WHEN doc_id % 19 = 0
        |        THEN 'this line contains a naughtyword in plain sight.'
        |        ELSE 'final line to push the sentence count up.' END) AS page
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, page,
        |    string_split(page, chr(10)) AS lines,
        |    list_filter(string_split(page, chr(10)), l ->
        |      regexp_matches(rtrim(l), '[.!?"]$')
        |      AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |            w -> len(w) > 0)) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept_lines
        |  FROM p),
        |g AS (
        |  SELECT doc_id, page,
        |    array_to_string(kept_lines, chr(10)) AS clean_text,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(kept_lines) AS BIGINT) AS n_kept_lines
        |  FROM f)
        |SELECT doc_id, clean_text, n_lines, n_kept_lines,
        |  CAST(len(regexp_replace(clean_text, '[^.!?]', '', 'g')) AS BIGINT)
        |    AS n_sentences,
        |  contains(lower(page), 'lorem ipsum') AS has_lorem,
        |  contains(page, '{') AS has_brace,
        |  regexp_matches(lower(page),
        |    '(^|[^\p{L}\p{Nd}])(naughtyword)([^\p{L}\p{Nd}]|$)') AS has_bad_word,
        |  CAST(len(regexp_replace(clean_text, '[^.!?]', '', 'g')) AS BIGINT) >= 5
        |    AND NOT contains(lower(page), 'lorem ipsum')
        |    AND NOT contains(page, '{')
        |    AND NOT regexp_matches(lower(page),
        |      '(^|[^\p{L}\p{Nd}])(naughtyword)([^\p{L}\p{Nd}]|$)') AS kept
        |FROM g ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val page = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 80), lit(".")),
          lit("too short"),
          substring(col("text"), 81, 60),
          when(col("doc_id") % 11 === 0,
            lit("please enable JavaScript to view this page."))
            .otherwise(lit("a perfectly fine sentence with enough words here.")),
          when(col("doc_id") % 13 === 0,
            lit("lorem ipsum dolor sit amet, consectetur adipiscing elit."))
            .otherwise(lit("another good line that ends with a question mark?")),
          when(col("doc_id") % 17 === 0,
            lit("function f() { return 1; }"))
            .otherwise(lit("closing thought with words and punctuation!")),
          when(col("doc_id") % 19 === 0,
            lit("this line contains a naughtyword in plain sight."))
            .otherwise(lit("final line to push the sentence count up.")))
          .as("page"))
      Quality.c4Filter(page, col("doc_id"), col("page"),
          badWords = Seq("naughtyword"))
        .orderBy("doc_id")
    },

    // D96: unigram-LM (SentencePiece-style) tokenizer training — the
    // oracle replays the full Viterbi-EM loop (unigramTrainCtes):
    // grid-floored log-probs make every DP comparison pure IEEE
    // arithmetic, so the replay is bit-exact; exactness also pinned
    // by UnigramSpec's textbook corpus + determinism proof.
    Q("q_unigram_train", unigramTrainOracle) { (s, dir) =>
      Unigram.train(table(s, dir, "documents"), col("text"),
          vocabSize = 80, seedSize = 400, maxPieceLen = 6)
        .orderBy("piece")
    },

    // D96b: per-doc accounting under the trained unigram tokenizer.
    // Oracle: the training replay plus one final-model Viterbi pass
    // and per-doc aggregation (pieces_per_word on the 4-dp floor).
    Q("q_unigram_segment", unigramSegmentOracle) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val model = Unigram.train(docs, col("text"),
        vocabSize = 80, seedSize = 400, maxPieceLen = 6)
      Unigram.segmentCounts(docs, col("doc_id"), col("text"), model)
        .orderBy("id")
    },

    // D97: UniMax epoch-capped uniform token allocation; at sf0.01 the
    // budget sits below Σcap so the small sources saturate and the
    // rest share the waterline (the mixed regime the math exists for).
    Q(
      "q_unimax",
      """WITH t AS (
        |  SELECT source AS grp, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1 HAVING sum(n_chars) > 0),
        |c AS (
        |  SELECT grp, n_tokens,
        |    CAST(n_tokens AS DOUBLE) * 1.0 AS cap_tokens
        |  FROM t),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM c),
        |r AS (
        |  SELECT c.grp, c.n_tokens, c.cap_tokens, k.k,
        |    CAST(row_number() OVER (ORDER BY c.cap_tokens ASC, c.grp ASC)
        |      AS BIGINT) AS rn,
        |    coalesce(sum(c.cap_tokens) OVER (
        |      ORDER BY c.cap_tokens ASC, c.grp ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      CAST(0.0 AS DOUBLE)) AS cumprev
        |  FROM c CROSS JOIN k),
        |s AS (
        |  SELECT *,
        |    (CAST(140000.0 AS DOUBLE) - cumprev) / CAST(k - rn + 1 AS DOUBLE)
        |      AS lambda,
        |    cap_tokens <= (CAST(140000.0 AS DOUBLE) - cumprev)
        |      / CAST(k - rn + 1 AS DOUBLE) AS saturated
        |  FROM r),
        |wl AS (
        |  SELECT min_by(lambda, rn) FILTER (WHERE NOT saturated) AS wl FROM s)
        |SELECT s.grp AS "group", s.n_tokens, s.cap_tokens,
        |  floor((CASE WHEN s.saturated THEN s.cap_tokens ELSE wl.wl END)
        |    * 1e4) / 1e4 AS alloc_tokens,
        |  floor((CASE WHEN s.saturated THEN s.cap_tokens ELSE wl.wl END)
        |    / CAST(s.n_tokens AS DOUBLE) * 1e4) / 1e4 AS epochs,
        |  s.saturated
        |FROM s CROSS JOIN wl ORDER BY "group"""".stripMargin
    ) { (s, dir) =>
      Sampling.unimaxAllocation(table(s, dir, "documents"),
          col("source"), col("n_chars"), budgetTokens = 140000L,
          maxEpochs = 1.0)
        .orderBy("group")
    },

    // D98: DoReMi domain-weight estimation over per-(source, step)
    // excess losses derived from document stats. EXACT oracle since
    // the kernel's softmax terms floor onto 7-dp integer lanes
    // (absorbing libm exp's last-ulp variance — the unigram ln
    // precedent) and every sum after is exact integer arithmetic:
    // the trajectory replays step for step. The n_chars average is
    // integer-valued double sums (exact below 2^53 regardless of
    // order), and the cell quantization mirrors Spark's HALF_UP
    // decimal cast with DuckDB's round().
    Q(
      "q_doremi",
      """WITH t AS (
        |  SELECT source AS domain, doc_id % 5 AS step,
        |    CAST(round((avg(n_chars) / 1000.0 - 0.25) * 1e6) AS BIGINT) AS x6
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.domain, s.step, coalesce(t.x6, 0) AS x6
        |  FROM (SELECT DISTINCT domain FROM t) d
        |  CROSS JOIN (SELECT DISTINCT step FROM t) s
        |  LEFT JOIN t USING (domain, step)),
        |lg AS (
        |  SELECT domain, step,
        |    CAST(sum(x6) OVER (PARTITION BY domain ORDER BY step) AS DOUBLE)
        |      / 1e6 * 1.0 AS logit
        |  FROM grid),
        |mx AS (SELECT step, max(logit) AS mx FROM lg GROUP BY step),
        |ex AS (
        |  SELECT domain, step,
        |    CAST(floor(exp(logit - mx) * 1e7) AS BIGINT) AS e7
        |  FROM lg JOIN mx USING (step)),
        |z AS (SELECT step, sum(e7) AS z7 FROM ex GROUP BY step),
        |al AS (
        |  SELECT domain, step,
        |    CAST(e7 AS DOUBLE) / CAST(z7 AS DOUBLE) AS alpha
        |  FROM ex JOIN z USING (step))
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_steps,
        |  floor(CAST(sum(CAST(floor(alpha * 1e7) AS BIGINT)) AS DOUBLE)
        |    / 1e7 / count(*) * 1e4) / 1e4 AS weight,
        |  floor(max(alpha) * 1e4) / 1e4 AS peak_weight
        |FROM al GROUP BY domain ORDER BY domain""".stripMargin
    ) { (s, dir) =>
      val losses = table(s, dir, "documents")
        .groupBy(col("source").as("domain"), (col("doc_id") % 5).as("step"))
        .agg((avg(col("n_chars")) / 1000.0 - 0.25).as("excess"))
      Sampling.doremiWeights(losses, col("domain"), col("step"),
          col("excess"), eta = 1.0)
        .orderBy("domain")
    }
  )
}
