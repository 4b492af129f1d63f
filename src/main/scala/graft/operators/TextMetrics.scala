package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{normFingerprint, shingles, tokens}

/** Text-analysis operators for training-data curation (SURVEY §2.D8-D11):
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` so the whole
  * stage stays codegen'd — per-document work is a handful of regex and
  * array kernels, embarrassingly parallel, no shuffle at all until a
  * caller aggregates.
  */
object TextMetrics {

  /** Marker stopwords per language for the n-gram/marker heuristic.
    * Deterministic, tiny, and public-knowledge word lists; ties resolve
    * by list order (earlier wins), unknown → "und".
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "por", "con", "una"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "pour", "une", "sur", "avec", "pas"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "den"),
    "pt" -> Seq("o", "os", "um", "uma", "não", "mais", "como", "mas", "foi", "são"))

  /** Evaluate `f` over the token array with the array bound as a
    * LAMBDA VARIABLE: interpreted HOF eval re-runs any non-lambda-var
    * subtree once per reference, so sibling expressions that each
    * mention `tokens(text)` re-tokenize the document once APIECE.
    * Computing every metric inside one lambda (returning a struct)
    * tokenizes exactly once per row. See SURVEY §5 / functions.shingles.
    */
  private def overTokens(text: Column)(f: Column => Column): Column =
    get(transform(array(tokens(text)), f), lit(0))

  /** Per-language marker hit count over the token array. */
  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*)))

  /** Shared argmax-label fold (withLangId / withScripts): the label of
    * the largest count, ties breaking to the EARLIER entry (foldRight:
    * each earlier when() shadows later ones), all-zero → `default`.
    * Returns (label expr, best-count expr).
    */
  private def argmaxLabel(
      counts: Seq[(String, Column)], default: String): (Column, Column) = {
    val best = counts.map(_._2).reduce(greatest(_, _))
    val label = counts.foldRight(lit(default)) { case ((n, c), alt) =>
      when(c === best && best > 0, lit(n)).otherwise(alt)
    }
    (label, best)
  }

  /** Language-ID heuristic: argmax of marker hits, earlier language
    * wins ties, zero hits → "und". One tokenization per row: all five
    * marker counts come out of a single struct lambda, and the struct
    * lands in its OWN projection — CollapseProject refuses to inline an
    * expensive expression referenced more than once, so downstream
    * getFields read the materialized struct instead of re-running it.
    */
  def withLangId(df: DataFrame, text: Column): DataFrame = {
    val tmp = df.withColumn("__lm", langHitStruct(text))
    val hits = langMarkers.map { case (l, _) => l -> col("__lm").getField(s"h_$l") }
    val (lang, best) = argmaxLabel(hits, "und")
    tmp.withColumn("lang_pred", lang).withColumn("lang_hits", best).drop("__lm")
  }

  /** One-tokenization marker-hit struct for an arbitrary text column
    * (shared by [[withLangId]] and [[langConsistency]]).
    */
  private def langHitStruct(text: Column): Column =
    overTokens(text) { tk =>
      struct(langMarkers.map { case (l, ms) => markerHits(tk, ms).as(s"h_$l") }: _*)
    }

  /** Per-document language CONSISTENCY check — the "concatenated
    * crawl page" detector: language-ID the first and second character
    * halves independently and flag disagreement. A page whose head is
    * English and tail is Spanish is two documents glued together (or
    * boilerplate contamination) — a per-doc aggregate langid averages
    * that away; the split sees it. Pure codegen'd projection (two
    * half-tokenizations), no shuffle.
    *
    * Returns (id, lang_head, lang_tail, consistent) where
    * `consistent` = labels agree (two undecided halves agree too —
    * gate on lang_head != 'und' if decidedness matters).
    */
  def langConsistency(df: DataFrame, id: Column, text: Column): DataFrame = {
    val half = (length(text) / lit(2)).cast("int")
    val head = text.substr(lit(1), half)
    val tail = text.substr(half + lit(1), length(text))
    val tmp = df.select(id.as("id"),
      langHitStruct(head).as("__h"), langHitStruct(tail).as("__t"))
    def label(s: String) = argmaxLabel(
      langMarkers.map { case (l, _) => l -> col(s).getField(s"h_$l") }, "und")._1
    tmp.select(col("id"),
        label("__h").as("lang_head"), label("__t").as("lang_tail"))
      .withColumn("consistent", col("lang_head") === col("lang_tail"))
  }

  /** Per-group tokenizer fertility — the tokenizer-fairness dashboard
    * ("how many BPE-ish tokens does a character of each language
    * cost?"): chars / whitespace tokens / BPE-regex tokens per group
    * with 4-dp floor ratios. One partial-aggregated pass; the token
    * counters are [[withTokenCounts]]'s codegen'd regexes.
    */
  def tokenizerFertility(df: DataFrame, group: Column, text: Column): DataFrame = {
    val g = df.groupBy(group.as("grp")).agg(
      count(lit(1)).as("n_docs"),
      sum(length(text)).cast("long").as("n_chars"),
      sum(size(tokens(text))).cast("long").as("n_ws_tokens"),
      sum(size(regexp_extract_all(lower(text),
        lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))).cast("long").as("n_bpe_tokens"))
    g.select(col("grp"), col("n_docs"), col("n_chars"),
      col("n_ws_tokens"), col("n_bpe_tokens"),
      when(col("n_bpe_tokens") === 0, 0.0)
        .otherwise(Num.t4floor(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"))).as("chars_per_bpe_token"),
      when(col("n_ws_tokens") === 0, 0.0)
        .otherwise(Num.t4floor(col("n_bpe_tokens").cast("double") /
          col("n_ws_tokens").cast("double"))).as("bpe_per_ws_token"))
  }

  /** Writing-system (script) inventory, ordered: ties on count break
    * toward the EARLIER entry. Java regex spells Unicode scripts
    * `\p{IsXxx}`; RE2-based engines (the DuckDB oracle) spell the same
    * classes `\p{Xxx}` — the class CONTENTS are the Unicode script
    * property both ways, so counts agree exactly. BMP scripts only
    * (both engines count code points; supplementary-plane scripts
    * would be safe too but are not needed here).
    */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "\\p{IsLatin}",
    "cyrillic" -> "\\p{IsCyrillic}",
    "greek" -> "\\p{IsGreek}",
    "han" -> "\\p{IsHan}",
    "arabic" -> "\\p{IsArabic}",
    "hebrew" -> "\\p{IsHebrew}",
    "devanagari" -> "\\p{IsDevanagari}",
    "hangul" -> "\\p{IsHangul}",
    "kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]")

  /** Script detection — the multilingual-curation companion to
    * [[withLangId]] (language markers only separate languages SHARING
    * a script; script detection routes documents to the right
    * language-ID family in the first place, and catches wrong-script
    * contamination inside a monolingual corpus). Adds one `n_<script>`
    * character count per [[scriptClasses]] entry and
    * `dominant_script` (argmax, earlier entry wins ties, no script
    * characters at all → "und").
    *
    * Shape at scale: a pure codegen'd projection — one regexp_replace
    * per script class per row, no tokenization, no shuffle, no UDF.
    */
  def withScripts(df: DataFrame, text: Column): DataFrame = {
    val counts = scriptClasses.map { case (n, re) =>
      n -> (length(text) - length(regexp_replace(text, re, ""))).cast("long")
    }
    val tmp = counts.foldLeft(df) { case (d, (n, c)) => d.withColumn(s"n_$n", c) }
    val cols = scriptClasses.map { case (n, _) => n -> col(s"n_$n") }
    val (dominant, _) = argmaxLabel(cols, "und")
    tmp.withColumn("dominant_script", dominant)
  }

  /** Quality signals: token count, mean token length, punctuation
    * ratio, stopword ratio, uppercase ratio — the standard cheap
    * filters (Gopher/C4-style) — plus a [0,1] composite score.
    * All ratios are rounded to 4 dp (oracle contract).
    */
  def withQuality(df: DataFrame, text: Column): DataFrame = {
    val stop = langMarkers.flatMap(_._2).distinct
    // every token-derived count in ONE lambda → one tokenization/row;
    // the struct projection stays separate (see withLangId)
    val tokStruct = overTokens(text) { tk =>
      struct(
        size(tk).as("n_toks"),
        aggregate(tk, lit(0L), (acc, t) => acc + length(t)).as("tok_chars"),
        size(filter(tk, t => t.isin(stop.map(lit): _*))).as("n_stop"))
    }
    val tmp = df.withColumn("__qt", tokStruct)
    val nToks = col("__qt").getField("n_toks")
    val nChars = length(text)
    val nPunct = length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))
    val nUpper = length(text) - length(regexp_replace(text, "[A-Z]", ""))
    val meanTokLen = when(nToks > 0,
      col("__qt").getField("tok_chars").cast("double") / nToks).otherwise(0.0)
    val punctRatio = when(nChars > 0, nPunct.cast("double") / nChars).otherwise(0.0)
    val upperRatio = when(nChars > 0, nUpper.cast("double") / nChars).otherwise(0.0)
    val stopRatio = when(nToks > 0,
      col("__qt").getField("n_stop").cast("double") / nToks).otherwise(0.0)
    // Composite: in-range token length, some stopwords, low punctuation.
    val score =
      (when(meanTokLen >= 3 && meanTokLen <= 10, 0.4).otherwise(0.0)
        + when(stopRatio >= 0.05, 0.3).otherwise(0.0)
        + when(punctRatio <= 0.1, 0.2).otherwise(0.0)
        + when(nToks >= 10 && nToks <= 10000, 0.1).otherwise(0.0))
    tmp.withColumn("n_tokens", nToks.cast("long"))
      .withColumn("mean_tok_len", round(meanTokLen, 4))
      .withColumn("punct_ratio", round(punctRatio, 4))
      .withColumn("upper_ratio", round(upperRatio, 4))
      .withColumn("stop_ratio", round(stopRatio, 4))
      .withColumn("quality", round(score, 4))
      .drop("__qt")
  }

  /** Token counts: whitespace words and a BPE-ish sub-word regex
    * (letter runs, digit runs, single punctuation marks — the GPT-2
    * pre-tokenizer shape without the library). Both engines see the
    * same ASCII-safe pattern.
    */
  def withTokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_ws_tokens", size(tokens(text)).cast("long"))
      .withColumn("n_bpe_tokens",
        size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long"))

  /** Normalized-content fingerprint (D11a): lower, strip punctuation,
    * collapse whitespace, md5.
    */
  def withFingerprint(df: DataFrame, text: Column): DataFrame =
    df.withColumn("fp", normFingerprint(text))

  /** PII/URL scrubbing for training corpora: emails → <EMAIL>, URLs →
    * <URL>, long digit runs (ids, phone numbers) → <NUM>. Pure
    * codegen'd regexp_replace chain; order (email, url, num) is part
    * of the contract.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[\\p{L}\\p{Nd}._%+-]+@[\\p{L}\\p{Nd}.-]+\\.[\\p{L}]{2,}", "<EMAIL>"),
        "https?://[^\\s]+", "<URL>"),
      "[0-9]{6,}", "<NUM>")

  /** CONSISTENT PII pseudonymization — [[redact]]'s referential
    * upgrade: `<EMAIL>` destroys the fact that two documents cite the
    * SAME address, which co-reference, dedup, and abuse analysis all
    * need; here every match is replaced by a type-tagged pseudonym
    * derived from the match itself (`<EMAIL:8-hex-of-md5>`), so
    * identity survives while the value does not. RNG-free and
    * engine-portable (md5 is bit-identical in both engines).
    *
    * Declarative interleave, no UDF and no custom kernel: per
    * pattern, `split` yields the between-match segments,
    * `regexp_extract_all` the matches, and one `zip_with`
    * reassembles segment‖pseudonym pairs (splits are always
    * matches+1, so the final null-padded pair contributes its
    * segment alone). Types chain email → long-digit-run in [[redact]]
    * order; the chain order is part of the contract, and pseudonym
    * hex maps digits to letters (g..p) so an earlier type's token can
    * never re-match a later type's digit-run pattern. One codegen'd
    * projection, zero shuffle.
    */
  def pseudonymize(text: Column): Column = {
    def one(c: Column, pattern: String, tag: String): Column = {
      val segs = split(c, pattern, -1)
      val ms = regexp_extract_all(c, lit(pattern), lit(0))
      array_join(zip_with(segs, ms, (s, m) =>
        concat(s, when(m.isNotNull,
          concat(lit(s"<$tag:"),
            translate(substring(md5(m), 1, 8), "0123456789", "ghijklmnop"),
            lit(">")))
          .otherwise(lit("")))), "")
    }
    one(one(text,
      "[\\p{L}\\p{Nd}._%+-]+@[\\p{L}\\p{Nd}.-]+\\.[\\p{L}]{2,}", "EMAIL"),
      "[0-9]{6,}", "NUM")
  }

  /** HTML boilerplate stripping — the first pass over crawled corpora:
    * drop script/style elements WITH their contents (code/CSS is not
    * prose), drop every remaining tag, unescape the five standard
    * entities, collapse runs of whitespace, trim. Pure codegen'd
    * regexp_replace chain, embarrassingly parallel, zero shuffle;
    * order (script/style → tags → entities → whitespace) is part of
    * the contract — entities unescape AFTER tag removal so text like
    * `&lt;p&gt;` survives as literal "<p>" rather than being eaten.
    * `(?is)` = dot-matches-newline + case-insensitive, so multi-line
    * and SCRIPT/Script elements strip too. Script and style strip in
    * two separate passes (no backreference) so the SAME patterns run
    * under DuckDB's RE2 in the oracle twin.
    */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(
      regexp_replace(text, "(?is)<script\\b[^>]*>.*?</script\\s*>", " "),
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noTags = regexp_replace(noScript, "(?s)<[^>]+>", " ")
    val unescaped = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noTags, "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Sentence segmentation — one row per non-empty sentence with its
    * position. The splitter is a single RE2-safe extraction
    * (`[^.!?]+[.!?]*`: a run of non-terminators plus its trailing
    * terminators), so the SAME pattern runs under the DuckDB oracle;
    * entries that trim to empty (inter-terminator whitespace) drop,
    * leaving gaps in `sent_pos` — position is an ORDER key, not a
    * dense index (renumbering would cost a per-doc window; ordering
    * doesn't). Pure codegen'd projection + posexplode: no shuffle, no
    * window, no HOF.
    */
  def splitSentences(df: DataFrame, id: Column, text: Column): DataFrame =
    scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"),
        posexplode(regexp_extract_all(col("__t"), lit("[^.!?]+[.!?]*"), lit(0)))
          .as(Seq("sent_pos", "__raw")))
      .select(col("id"), col("sent_pos"), trim(col("__raw")).as("sentence"))
      .where(length(col("sentence")) > 0)

  /** Flesch reading-ease readability per document — the classic
    * curation gate companion to [[withQuality]] (a corpus of 8-word
    * headline fragments and a corpus of 60-word legalese sentences
    * both "pass length checks"; readability separates them).
    *
    * Approximations are explicit contract: sentences = non-empty
    * `[^.!?]+` runs (counted WITHOUT materializing them:
    * `[^.!?\s][^.!?]*` matches exactly the runs containing a
    * non-space char); words = the shared tokenizer; syllables =
    * vowel-group runs `[aeiouy]+` over the lowered text (the standard
    * cheap estimator). flesch = 206.835 − 1.015·w/s − 84.6·syl/w on
    * exact-long ratios, truncated 4 dp TOWARD ZERO (it goes negative
    * on dense text — twoSampleZ's sign-symmetric contract); docs with
    * zero sentences or words report 0.0 ratios and flesch 0.0 rather
    * than an ANSI divide error. Pure codegen'd projection.
    */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val nSent = size(regexp_extract_all(text, lit("[^.!?\\s][^.!?]*"), lit(0))).cast("long")
    val nWords = size(tokens(text)).cast("long")
    val nSyl = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0))).cast("long")
    val d = df.select(id.as("id"), nSent.as("n_sentences"), nWords.as("n_words"),
      nSyl.as("n_syllables"))
    val degenerate = col("n_sentences") === 0 || col("n_words") === 0
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    d.select(col("id"), col("n_sentences"), col("n_words"), col("n_syllables"),
      when(degenerate, 0.0).otherwise(Num.t4floor(wps)).as("words_per_sentence"),
      when(degenerate, 0.0).otherwise(Num.t4floor(spw)).as("syllables_per_word"),
      when(degenerate, 0.0)
        .otherwise(Num.t4zero(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw))
        .as("flesch"))
  }

  /** UTF-8-decoded-as-Latin-1 artifact pairs ("mojibake"): the
    * double-encoding survivors that plague crawled corpora (Ã© for é,
    * â€™ for a right quote). Public so oracle twins can be GENERATED
    * from the same table — one source of truth for both engines.
    * Longest patterns first: every 3-char `â€x` artifact must rewrite
    * before any 2-char `Ãx` pass could see its tail.
    */
  val mojibakeMap: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“",
    "â€”" -> "—", "â€“" -> "–", "â€¦" -> "…",
    "Ã¡" -> "á", "Ã¢" -> "â", "Ã£" -> "ã", "Ã©" -> "é", "Ãª" -> "ê",
    "Ã­" -> "í", "Ã³" -> "ó", "Ã´" -> "ô", "Ãµ" -> "õ", "Ãº" -> "ú",
    "Ã§" -> "ç", "Ã±" -> "ñ")

  /** Repair [[mojibakeMap]] artifacts — a chained literal `replace`
    * (codegen'd, shuffle-free; order = the map's, part of the
    * contract). Deliberately a FIXED public mapping, not a charset
    * transcode: the common artifacts repair deterministically in any
    * engine, and text without artifacts passes through untouched.
    */
  def fixMojibake(text: Column): Column =
    mojibakeMap.foldLeft(text) { case (c, (bad, good)) =>
      call_function("replace", c, lit(bad), lit(good))
    }

  /** Artifact occurrence count — the detection score for a "needs
    * re-crawl/re-decode" gate. Computed as Σ over the map of
    * (len − len(after literal removal)) / len(pattern): O(|map|)
    * codegen'd passes, no regex class subtleties, exactly replayable.
    */
  def mojibakeHits(text: Column): Column =
    mojibakeMap.map { case (bad, _) =>
      (length(text) - length(call_function("replace", text, lit(bad), lit("")))) /
        lit(bad.length)
    }.reduce(_ + _).cast("long")

  /** Control-character hygiene: CRLF/CR normalize to LF, C0 controls
    * (except TAB/LF) and DEL strip, runs of 3+ newlines collapse to a
    * paragraph break. The standard pre-tokenization scrub; pure
    * codegen'd regexp chain, order (normalize → strip → collapse) is
    * part of the contract.
    */
  def cleanControlChars(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, "\\r\\n?", "\n"),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "\\n{3,}", "\n\n")

  /** Stopword list for the [[gopherGate]] stop-hit rule (public: the
    * oracle twin replays it).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was")

  /** Gopher-style composite quality gate (Rae et al. 2021, §A1.1 —
    * the published row-local rule bundle, minus the line-shape rules
    * which live in [[docShape]] to compose on top): per doc, one
    * boolean per rule plus the conjunction —
    *  - `r_word_count`: 50 ≤ words ≤ 100 000
    *  - `r_mean_word_len`: mean token length in [3, 10]
    *  - `r_symbol_ratio`: ('#' + '…'-as-'...') per word ≤ 0.1
    *  - `r_alpha_words`: ≥ 80% of tokens contain a letter
    *  - `r_stop_hits`: ≥ 2 [[gopherStopwords]] occurrences
    * Reporting the PER-RULE flags (not just the verdict) is the
    * operator's point: feed them to `Quality.attrition` to see which
    * rule eats the corpus. One tokenization per row (the withQuality
    * struct discipline), otherwise pure codegen'd counts.
    */
  def gopherGate(df: DataFrame, id: Column, text: Column): DataFrame = {
    // tokenize the RENAMED column — the caller's `text` expression no
    // longer resolves after the projection below
    val tkStruct = overTokens(col("__t")) { tk =>
      struct(
        size(tk).as("n"),
        length(array_join(tk, "")).as("chars"),
        size(filter(tk, t => t.rlike("\\p{L}"))).as("alpha"),
        size(filter(tk, t => t.isin(gopherStopwords.map(lit): _*))).as("stop"))
    }
    val tmp = df.select(id.as("id"), text.as("__t")).withColumn("__g", tkStruct)
    val n = col("__g").getField("n")
    val meanLen = col("__g").getField("chars").cast("double") / n
    val hashes = length(col("__t")) -
      length(call_function("replace", col("__t"), lit("#"), lit("")))
    val ellipses = (length(col("__t")) -
      length(call_function("replace", col("__t"), lit("..."), lit("")))) / lit(3)
    val symbolRatio = (hashes + ellipses).cast("double") / n
    val alphaFrac = col("__g").getField("alpha").cast("double") / n
    val r1 = n >= 50 && n <= 100000
    val r2 = n > 0 && meanLen >= 3.0 && meanLen <= 10.0
    val r3 = n > 0 && symbolRatio <= 0.1
    val r4 = n > 0 && alphaFrac >= 0.8
    val r5 = col("__g").getField("stop") >= 2
    tmp.select(col("id"), n.cast("long").as("n_words"),
      r1.as("r_word_count"), r2.as("r_mean_word_len"), r3.as("r_symbol_ratio"),
      r4.as("r_alpha_words"), r5.as("r_stop_hits"),
      (r1 && r2 && r3 && r4 && r5).as("pass"))
  }

  /** Degenerate-repetition (looping) detector — catches "the the the
    * the" and looping phrases that slip past whole-doc repetition
    * ratios (D9b) because the rest of the document is diverse: per
    * doc, the count of immediate token repeats (token == previous
    * token) and the LONGEST run of one token, via the standard
    * gaps-and-islands (pos − rank-within-token = run id). Docs with
    * no tokens report zeros.
    *
    * Two keyed (per-doc) window passes over the exploded token frame
    * — partitions bounded by document length, never global; one
    * tokenize.
    */
  def tokenLoops(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), posexplode(tokens(col("__t"))).as(Seq("pos", "tok")))
    val byPos = Window.partitionBy(col("id")).orderBy(col("pos"))
    val byTok = Window.partitionBy(col("id"), col("tok")).orderBy(col("pos"))
    val runs = toks
      .withColumn("__rep",
        when(col("tok") === lag(col("tok"), 1).over(byPos), 1L).otherwise(0L))
      .withColumn("__grp", col("pos") - row_number().over(byTok))
    val perRun = runs.groupBy("id", "tok", "__grp")
      .agg(count(lit(1)).as("__run"), sum(col("__rep")).as("__reps"))
    val out = perRun.groupBy("id")
      .agg(max(col("__run")).as("max_token_run"),
        sum(col("__reps")).as("n_immediate_repeats"))
    // docs that tokenize to nothing still report a row of zeros
    df.select(id.as("id")).distinct()
      .join(out, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("max_token_run"), lit(0L)).as("max_token_run"),
        coalesce(col("n_immediate_repeats"), lit(0L)).as("n_immediate_repeats"))
  }

  /** Shared PII patterns ([[redact]]'s, public so report twins can be
    * generated from one source of truth).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[\\p{L}\\p{Nd}._%+-]+@[\\p{L}\\p{Nd}.-]+\\.[\\p{L}]{2,}",
    "url" -> "https?://[^\\s]+",
    "long_digits" -> "[0-9]{6,}")

  /** Per-source PII scorecard — the observability half of [[redact]]:
    * how much of each kind of PII does each source carry, BEFORE
    * committing a redaction pass (and after, to prove it worked). One
    * partial-aggregated pass; per-type occurrence counts plus the
    * docs-with-any count.
    */
  def piiReport(df: DataFrame, source: Column, text: Column): DataFrame = {
    val counts = piiPatterns.map { case (name, p) =>
      size(regexp_extract_all(text, lit(p), lit(0))).cast("long").as(s"__$name")
    }
    val d = df.select(source.as("source") +: counts: _*)
    val anyPii = piiPatterns.map { case (n, _) => col(s"__$n") > 0 }.reduce(_ || _)
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(when(anyPii, 1L).otherwise(0L)).as("docs_with_pii")) ++
      piiPatterns.map { case (n, _) => sum(col(s"__$n")).as(s"n_$n") }
    d.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  /** Luhn checksum validity of a digit string — the mod-10 check every
    * real payment-card number passes. Position parity from the RIGHT
    * decides doubling, so the whole check is a pure map+sum (no fold
    * state): contribution = d at even positions, 2d−9·[d≥5] at odd —
    * one codegen-friendly `aggregate` over a generated index array.
    * Empty/non-digit input reports false rather than erroring.
    */
  def luhnValid(digits: Column): Column = {
    val L = length(digits)
    val total = aggregate(
      transform(sequence(lit(1), L), i => {
        val d = digits.substr(i, lit(1)).cast("int")
        when((L - i) % 2 === 0, d)
          .otherwise(when(d < 5, d * 2).otherwise(d * 2 - 9))
      }),
      lit(0), (acc, x) => acc + x)
    // sequence(1, 0) would generate DESCENDING [1,0] — guard short input
    when(L < 1 || !digits.rlike("^[0-9]+$"), lit(false))
      .otherwise(total % 10 === 0)
  }

  /** D73b: Luhn-validated card-number scorecard — the precision tier
    * over [[piiReport]]'s `long_digits` recall tier: a 16-digit order
    * id and a real PAN look identical to a length regex, and redacting
    * on length alone mangles harmless ids corpus-wide. Per source:
    * candidate runs (13-19 digits — the PAN length range), how many
    * pass Luhn, and how many docs carry a validated number. One
    * partial-aggregated pass, extraction + checksum fully codegen'd;
    * runs longer than 19 digits greedy-match their first 19 (and
    * essentially never checksum — documented, lookbehind-free so the
    * regex stays portable to RE2-class engines).
    */
  def ccLuhnReport(df: DataFrame, source: Column, text: Column): DataFrame = {
    val runs = regexp_extract_all(text, lit("[0-9]{13,19}"), lit(0))
    val d = df.select(source.as("source"), runs.as("__runs"))
      .withColumn("__valid",
        size(filter(col("__runs"), r => luhnValid(r))).cast("long"))
      .withColumn("__cand", size(col("__runs")).cast("long"))
    d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("__cand")).as("n_candidates"),
      sum(col("__valid")).as("n_luhn_valid"),
      coalesce(sum(when(col("__valid") > 0, 1L)), lit(0L))
        .as("docs_with_valid_cc"))
  }

  /** Coarse document-format router: json / html / markdown / code /
    * prose by ordered regex cues (first match wins — the order IS the
    * contract; a JSON blob full of braces must not land in "code").
    * Pure codegen'd CASE over count/anchor regexes, shared verbatim
    * with the oracle. The routing step in front of format-specific
    * pipelines (stripHtml for html, fence extraction for markdown…).
    */
  def detectFormat(text: Column): Column = {
    val t = trim(text)
    val htmlTags = size(regexp_extract_all(lower(text),
      lit("</?(html|head|body|div|span|p|a|table|li|ul|br|h[1-6])[ >]"), lit(0)))
    val mdCues = size(regexp_extract_all(text,
      lit("(?m)^#{1,6} |^- |^\\* |^```|\\[[^\\]]+\\]\\([^)]+\\)"), lit(0)))
    val codeCues = size(regexp_extract_all(text,
      lit("[{};]|=>|\\breturn\\b|\\bdef\\b|\\bvoid\\b|\\bimport\\b"), lit(0)))
    when(t.rlike("^[\\[{]") && t.rlike("[\\]}]$"), "json")
      .when(htmlTags >= 2, "html")
      .when(mdCues >= 2, "markdown")
      .when(codeCues >= 8, "code")
      .otherwise("prose")
  }

  /** Per-group token-distribution Shannon entropy (nats) — the
    * corpus-balance metric a mixture designer reads per source: low
    * entropy = repetitive/boilerplate-dominated source, high entropy =
    * diverse vocabulary. Also returns token and vocabulary counts.
    *
    * Shape at scale: one explode → one partial-aggregated
    * (group, term) count → one partial-aggregated per-group sum —
    * both shuffles keyed and map-side combined, no windows, no
    * driver round-trips. Determinism: the per-term contribution
    * n·ln(n) is TRUNCATED at 7 dp (repr-independent, unlike round —
    * see GraphOps.pageRank), summed over exact decimals
    * (order-independent), and the final entropy
    * H = ln(N) − Σ n·ln(n)/N is truncated at 4 dp — identical on any
    * engine/partitioning.
    */
  def tokenEntropy(df: DataFrame, group: Column, text: Column): DataFrame = {
    // truncation, not round(): the per-row 7/4-dp reductions must be
    // repr-independent across engines (see GraphOps.pageRank)
    def t4(c: Column): Column = Num.t4floor(c)
    val toks = df.select(group.as("grp"), explode(tokens(text)).as("term"))
    val tf = toks.groupBy("grp", "term").agg(count(lit(1)).as("n"))
    tf.groupBy("grp")
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(Num.t7floor(col("n") * log(col("n").cast("double")))
          .cast("decimal(28,7)")).as("__nlogn"))
      .select(
        col("grp"),
        col("n_tokens"),
        col("n_vocab"),
        t4(
          log(col("n_tokens").cast("double")) -
            (col("__nlogn").cast("double") / col("n_tokens")))
          .as("entropy"))
  }

  /** Overlapping token-window chunking — the context-window splitter a
    * training pipeline runs right before tokenization/packing: each
    * document becomes ceil(n/stride) chunks of up to `chunkSize`
    * tokens starting at 0, stride, 2·stride, … (< n), so consecutive
    * chunks overlap by `chunkSize - stride` tokens and every token is
    * covered. Trailing chunks may be short; documents with zero tokens
    * emit nothing.
    *
    * Shape at scale: one projection materializes the token array, one
    * generate (posexplode over a `sequence` of starts — start count is
    * data-dependent, never collected), one projection slices — all
    * codegen'd builtins, embarrassingly parallel, zero shuffle. The
    * slice reads the generate's output ATTRIBUTE, not the token
    * expression tree, so the document is tokenized exactly once (the
    * interpreted-HOF re-evaluation trap, SURVEY §5).
    *
    * Returns (id, chunk_id, chunk_text, n_tokens).
    */
  def chunkTokens(
      df: DataFrame,
      id: Column,
      text: Column,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize]: stride=$stride chunkSize=$chunkSize")
    df.select(id.as("id"), tokens(text).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") >= 1)
      .select(col("id"), col("__toks"), col("__n"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("chunk_id", "__start")))
      .select(col("id"), col("chunk_id").cast("int").as("chunk_id"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize), col("__n") - col("__start")).cast("long").as("n_tokens"))
  }

  /** Corpus-level heavy hitters: the `k` word n-grams present in the
    * most documents — the boilerplate detector behind df-caps and
    * shingle blocklists (headers, disclaimers, navigation chrome all
    * surface here first on web corpora).
    *
    * Shape at scale: explode distinct-per-doc shingles →
    * partial-aggregated groupBy(shingle) → `orderBy(...).limit(k)`,
    * which Spark plans as TakeOrderedAndProject: each partition keeps
    * its own top-k and only k-row heaps travel — no global sort, no
    * single-partition window. Ties break on the shingle text so the
    * result is deterministic. Returns (shingle, n_docs).
    */
  def topShingles(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      k: Int): DataFrame = {
    val sh = graft.operators.scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        explode(array_distinct(graft.functions.shingles(tokens(col("__text")), n)))
          .as("shingle"))
    sh.groupBy("shingle").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("shingle").asc)
      .limit(k)
  }

  /** Unigram language-model scoring — the statistical quality filter
    * (CCNet-style: score each document by how "in-distribution" its
    * tokens are for the corpus; outliers — boilerplate, gibberish,
    * wrong-language text — score low). The "model" is the corpus' own
    * add-one-smoothed unigram distribution:
    * lp(term) = ln((count+1) / (n_total + vocab)); a document's score
    * is the mean lp of its token instances.
    *
    * Shape at scale: one explode + partial-aggregated term count (the
    * model — persist it to reuse across shards), a term-keyed join
    * back (broadcastable for bounded vocabularies), one per-doc
    * aggregate. Determinism: lp is rounded to 7 dp per TERM, then
    * per-doc sums run over exact decimals — order-independent, so any
    * engine/partitioning yields identical scores (the oracle replays
    * them exactly). Returns (id, n_tokens, avg_logprob).
    */
  def unigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    // one repartition by term materializes the tokenize+explode scan
    // behind a single exchange read by BOTH the tf aggregation and the
    // probe side of the join (ReusedExchange — same pattern as
    // ngramJaccard's shingle exchange); without it the interpreted
    // tokenization runs twice over the corpus
    val toks = graft.operators.scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), explode(tokens(col("__text"))).as("term"))
      .repartition(col("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("n"))
    val tot = tf.agg(sum(col("n")).as("n_total"), count(lit(1)).as("vocab"))
    val lp = tf.crossJoin(broadcast(tot))
      .withColumn("lp",
        round(log((col("n") + 1).cast("double") / (col("n_total") + col("vocab"))), 7))
      .select(col("term"), col("lp"))
    // term-keyed sort-merge join over the shared partitioning — NOT a
    // broadcast: the vocabulary is corpus-derived and unbounded on a
    // web corpus, so forcing it onto the driver would cap scale
    toks.join(lp, "term")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round((sum(col("lp").cast("decimal(18,7)")) / count(lit(1))).cast("double"), 4)
          .as("avg_logprob"))
  }

  /** Interpolated BIGRAM language-model scoring — the next tier above
    * [[unigramLogProb]] (KenLM-without-the-KenLM: corpus-trained
    * bigram ML estimate, linearly interpolated with the add-one
    * unigram as backoff so unseen bigrams never hit −∞):
    * p(cur|prev) = λ·c(prev,cur)/c(prev) + (1−λ)·p_uni(cur).
    * A document's score is the mean ln p over its bigram positions —
    * sensitive to scrambled word ORDER where the unigram model is
    * blind (bag-of-words gibberish scores in-distribution on unigrams
    * but out-of-distribution here).
    *
    * Shape at scale: the corpus is tokenized ONCE and localCheckpoint'd
    * (the bigram explode and the unigram term explode both read the
    * materialized blocks — the bm25 pattern); the bigram/context/
    * unigram tables are partial-aggregated counts (persist them as the
    * model artifact); scoring is two keyed joins back. Determinism:
    * per-bigram lp rounded to 7 dp, per-doc sums over exact decimals
    * (unigramLogProb's contract). Docs with < 2 tokens have no bigram
    * positions and drop out, exactly like token-less docs in the
    * unigram scorer. Returns (id, n_bigrams, avg_logprob).
    */
  def bigramLogProb(
      df: DataFrame, id: Column, text: Column, lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda in (0,1): pure ML would send unseen bigrams to -inf")
    val tk = graft.operators.scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), tokens(col("__text")).as("tk"))
      .localCheckpoint()
    val toks = tk.select(col("id"), explode(col("tk")).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("n"))
    val tot = tf.agg(sum(col("n")).as("n_total"), count(lit(1)).as("vocab"))
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(col("id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
      .select(col("id"),
        element_at(col("tk"), col("i")).as("prev"),
        element_at(col("tk"), col("i") + 1).as("cur"))
    val cb = bi.groupBy("prev", "cur").agg(count(lit(1)).as("nb"))
    val cp = bi.groupBy("prev").agg(count(lit(1)).as("np"))
    // expression SHAPE is part of the cross-engine contract: both
    // engines compute ((λ·nb)/np) + (((1−λ)·(n+1))/(n_total+vocab))
    // over IEEE doubles, then round to 7 dp (the proven unigram shape)
    val lp = cb.join(cp, "prev")
      .join(tf.withColumnRenamed("term", "cur"), "cur")
      .crossJoin(broadcast(tot))
      .withColumn("lp", round(log(
        lit(lambda) * col("nb") / col("np") +
          lit(1 - lambda) * (col("n") + 1) / (col("n_total") + col("vocab"))), 7))
      .select(col("prev"), col("cur"), col("lp"))
    bi.join(lp, Seq("prev", "cur"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((sum(col("lp").cast("decimal(18,7)")) / count(lit(1))).cast("double"), 4)
          .as("avg_logprob"))
  }

  /** Kneser-Ney smoothed bigram scoring (Kneser & Ney '95, the
    * absolute-discount form with a single discount D) — the
    * PRINCIPLED tier above [[bigramLogProb]]'s Jelinek-Mercer
    * interpolation: discounting frees exactly D of probability mass
    * per SEEN bigram type, and the freed mass backs off to the
    * CONTINUATION unigram — how many distinct contexts a word
    * completes, not how often it occurs ("Francisco" is frequent but
    * completes almost nothing except "San Francisco"; its raw count
    * inflates a JM backoff, its continuation count does not — the
    * canonical failure KN exists to fix).
    *
    *   p(w|v) = max(c(v,w) − D, 0)/c(v) + D·N₁₊(v·)/c(v) · p_cont(w)
    *   p_cont(w) = N₁₊(·w) / N₁₊(··)
    *
    * Determinism: D = 0.75 is exact in binary; all counts and type
    * counts are exact integers; p derives in double with the fixed
    * textual order `disc + (D·nf/np)·(nc/nt)`, clamps at 1e-10 (a
    * scorer applied outside its training corpus must not emit −∞),
    * and ln rounds to 7 dp (the proven bigram lane); per-doc means
    * run over exact decimals. Scoring joins are INNER (the D44
    * contract: self-scoring covers every position; cross-corpus
    * scoring persists the model tables and owns its miss policy).
    * Docs with < 2 tokens drop out. Returns (id, n_bigrams,
    * avg_logprob).
    *
    * Shape at scale: one tokenize pass (localCheckpoint), the model =
    * three partial-aggregated count tables over the bigram frame
    * (persistable artifacts), scoring = two keyed joins back — the
    * bigramLogProb plan with continuation tables instead of raw
    * unigrams.
    */
  def knBigramLogProb(
      df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount in (0,1)")
    val tk = graft.operators.scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), tokens(col("__text")).as("tk"))
      .localCheckpoint()
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(col("id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
      .select(col("id"),
        element_at(col("tk"), col("i")).as("prev"),
        element_at(col("tk"), col("i") + 1).as("cur"))
    val cb = bi.groupBy("prev", "cur").agg(count(lit(1)).as("nb"))
    // c(v) and N1+(v·) from the TYPE table (np == the positional
    // context count by construction); N1+(·w) and N1+(··) likewise
    val ctx = cb.groupBy("prev").agg(sum(col("nb")).as("np"),
      count(lit(1)).as("nf"))
    val cont = cb.groupBy("cur").agg(count(lit(1)).as("nc"))
    val types = cb.agg(count(lit(1)).as("nt"))
    val disc = greatest(col("nb").cast("double") - lit(discount), lit(0.0)) /
      col("np")
    val lam = lit(discount) * col("nf") / col("np")
    val pc = col("nc").cast("double") / col("nt")
    val lp = cb.join(ctx, "prev")
      .join(cont, "cur")
      .crossJoin(broadcast(types))
      .withColumn("lp", round(log(greatest(disc + lam * pc, lit(1e-10))), 7))
      .select(col("prev"), col("cur"), col("lp"))
    bi.join(lp, Seq("prev", "cur"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((sum(col("lp").cast("decimal(18,7)")) / count(lit(1))).cast("double"), 4)
          .as("avg_logprob"))
  }

  /** Good-Turing frequency-of-frequencies estimates (Good '53) — the
    * vocabulary-mass diagnostic next to [[zipfCoverage]] (head mass)
    * and vocab growth (D108): N_r = how many distinct terms occur
    * exactly r times, the Turing-adjusted count r* = (r+1)·N_{r+1}/N_r
    * (what a count of r is really "worth" once the unseen tail takes
    * its share), and the headline p_unseen = N_1/N — the probability
    * the NEXT token is a never-seen type, the number that says
    * whether a corpus's vocabulary is anywhere near collected.
    *
    * Shape at scale: one tokenize/explode pass to term counts
    * (partial-aggregated), one groupBy(count) collapse to the
    * frequency-of-frequencies frame (bounded by the number of
    * DISTINCT frequencies — tiny), a self-join on r+1 over that
    * bounded frame. Counts exact longs; r* and p_unseen are single
    * double divisions truncated 6 dp. Rows with no r+1 class report
    * r* NULL (unmeasurable, not 0 — the ngramOverlap contract).
    * `gramN` > 1 estimates over token n-grams instead of unigrams —
    * the estimate a bigram/trigram LM smoother actually consumes
    * (and the useful setting on small-vocabulary corpora, where
    * every UNIGRAM sits far above the low-frequency classes).
    * Returns (r, n_r, n_next, r_star, p_unseen, total_tokens) for
    * r ≤ maxR, ordered by r.
    */
  def goodTuring(df: DataFrame, text: Column, maxR: Int = 10,
      gramN: Int = 1): DataFrame = {
    require(maxR >= 1, "maxR must be >= 1")
    require(gramN >= 1 && gramN <= 8, "gramN in [1, 8]")
    val tf = graft.operators.scaleOut(df.select(text.as("__text")))
      .select(explode(shingles(tokens(col("__text")), gramN)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val ff = tf.groupBy(col("n").as("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint() // 3 consumers: rows, the r+1 join, N1
    val tot = tf.agg(coalesce(sum(col("n")), lit(0L)).as("total"))
    val n1 = ff.filter(col("r") === 1)
      .agg(coalesce(sum(col("n_r")), lit(0L)).as("__n1"))
    val nxt = ff.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
    ff.filter(col("r") <= maxR)
      .join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
      .select(
        col("r"), col("n_r"), coalesce(col("n_next"), lit(0L)).as("n_next"),
        when(coalesce(col("n_next"), lit(0L)) > 0,
          floor((col("r") + 1).cast("double") * col("n_next")
            / col("n_r") * 1e6) / 1e6).as("r_star"),
        when(col("total") > 0,
          floor(col("__n1").cast("double") / col("total") * 1e6) / 1e6)
          .otherwise(0.0).as("p_unseen"),
        col("total").as("total_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC'20): language-ID each document, score it with the
    * unigram LM, and split EACH LANGUAGE into `nBuckets` quality
    * tiers by LM score — the standard head/middle/tail partitioning
    * a web-corpus curation pipeline keeps/samples/drops by. Bucket 1
    * holds the most in-distribution documents of its language;
    * per-language bucketing is the point (a well-formed Portuguese
    * doc must not be ranked against English perplexities).
    *
    * Composes [[withLangId]] (per-row projection, one text scan) +
    * [[unigramLogProb]] (one tokenize/explode pass, term-keyed
    * aggregation) + a LANGUAGE-partitioned ntile window (languages
    * are bounded, so no global window; rounded score + id tiebreak
    * keeps the ordering deterministic and engine-portable). CCNet
    * trains its LM on a trusted corpus; here the corpus itself is the
    * model (documented choice — pass scores from a trusted-corpus LM
    * through the same bucketing if you have one). Docs with zero
    * tokens carry no score and are excluded, as in unigramLogProb.
    * Returns (id, lang, n_tokens, avg_logprob, bucket).
    */
  def perplexityBuckets(
      df: DataFrame, id: Column, text: Column, nBuckets: Int = 4): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val langs = withLangId(df.select(id.as("id"), text.as("__text")), col("__text"))
      .select(col("id"), col("lang_pred").as("lang"))
    val scored = unigramLogProb(df, id, text)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("id"))
    scored.join(langs, "id")
      .withColumn("bucket", ntile(nBuckets).over(w).cast("int"))
      .select(col("id"), col("lang"), col("n_tokens"),
        col("avg_logprob"), col("bucket"))
  }

  /** DSIR importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23): score
    * every document by how much more likely its tokens are under a
    * TARGET distribution (a trusted/in-domain subset, `isTarget`)
    * than under the raw-corpus distribution —
    * w(doc) = mean over tokens of [ln p_tgt(t) − ln p_raw(t)], both
    * add-one-smoothed over the shared vocabulary. Positive means
    * "more target-like than the corpus average"; resample/keep by
    * weight (compose with [[graft.operators.Sampling.weightedSample]]
    * or threshold at 0) to tilt a 100 TB crawl toward a domain
    * without training a classifier.
    *
    * `hashBuckets = Some(b)` switches term features to hashed n-gram
    * buckets (`xxhash64 mod b`) — DSIR's actual trick for unbounded
    * web vocabularies: the model artifact becomes a fixed b-row
    * table (broadcastable), at the cost of collision noise. Default
    * keeps exact terms so the oracle can replay the math.
    *
    * Shape at scale: ONE tokenize+explode pass behind a term-keyed
    * repartition read by both the count aggregation and the scoring
    * join (the unigramLogProb exchange-reuse pattern); the model is
    * one (feat, n_tgt, n_raw) table — persist it and score future
    * shards without re-reading the corpus. Determinism: each ln is
    * rounded to 7 dp BEFORE the subtraction (two engine-identical
    * doubles subtract to an engine-identical double), per-doc sums
    * run over exact decimals. Token-less docs drop out as in
    * unigramLogProb. Returns (id, n_tokens, avg_log_ratio, selected).
    */
  def dsirWeights(
      df: DataFrame,
      id: Column,
      text: Column,
      isTarget: Column,
      hashBuckets: Option[Int] = None): DataFrame = {
    hashBuckets.foreach(b => require(b > 0, "hashBuckets must be positive"))
    val feat = hashBuckets match {
      case Some(b) => pmod(xxhash64(col("__term")), lit(b.toLong)).cast("string")
      case None    => col("__term")
    }
    val toks = graft.operators.scaleOut(
        df.select(id.as("id"), isTarget.cast("boolean").as("__tgt"), text.as("__text")))
      .select(col("id"), col("__tgt"), explode(tokens(col("__text"))).as("__term"))
      .select(col("id"), col("__tgt"), feat.as("feat"))
      .repartition(col("feat"))
    val tf = toks.groupBy("feat").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("n_tgt"))
    val tot = tf.agg(
      sum(col("n_raw")).as("raw_total"),
      sum(col("n_tgt")).as("tgt_total"),
      count(lit(1)).as("vocab"))
    val lr = tf.crossJoin(broadcast(tot))
      .withColumn("lr",
        (round(log((col("n_tgt") + 1).cast("double") / (col("tgt_total") + col("vocab"))), 7) -
          round(log((col("n_raw") + 1).cast("double") / (col("raw_total") + col("vocab"))), 7))
          .cast("decimal(18,7)"))
      .select(col("feat"), col("lr"))
    toks.join(lr, "feat")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round((sum(col("lr")) / count(lit(1))).cast("double"), 4).as("avg_log_ratio"))
      .withColumn("selected", col("avg_log_ratio") > 0d)
  }

  /** Linear text-classifier APPLY (the fastText-style quality gate:
    * score = sigmoid(bias + Σ w(token)) over a bag-of-words weight
    * table — how production pipelines run a trained quality/toxicity/
    * domain classifier over a 100 TB corpus; training happens offline,
    * this is the distributed inference pass). Out-of-vocabulary tokens
    * contribute 0; `weights` is any (term, weight) frame — the model
    * artifact, persisted like the unigram LM's term table (wrap it in
    * `broadcast(...)` caller-side when the vocabulary is small).
    *
    * Determinism: weights and bias TRUNCATE at 7 dp and the per-doc
    * sum runs over exact decimals (order-independent); the decision
    * flag compares the exact-decimal logit against 0 — equivalent to
    * score ≥ 0.5 but immune to sigmoid's libm ulp skew — and the
    * reported score rounds the shared-double sigmoid to 4 dp. Docs
    * with zero tokens drop out (unigramLogProb's contract).
    * Returns (id, n_tokens, n_hits, score, positive).
    */
  def linearTextScore(
      df: DataFrame,
      id: Column,
      text: Column,
      weights: DataFrame,
      term: Column,
      weight: Column,
      bias: Double = 0.0): DataFrame = {
    val w = weights.select(term.as("term"),
      (floor(weight * 1e7) / 1e7).cast("decimal(18,7)").as("__w"))
    val biasDec = lit(math.floor(bias * 1e7) / 1e7).cast("decimal(18,7)")
    val toks = graft.operators.scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), explode(tokens(col("__text"))).as("term"))
    toks.join(w, Seq("term"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("__w")).as("n_hits"),
        sum(coalesce(col("__w"), lit(0).cast("decimal(18,7)"))).as("__zsum"))
      .withColumn("__z", col("__zsum") + biasDec)
      .select(col("id"), col("n_tokens"), col("n_hits"),
        round(lit(1.0) / (lit(1.0) + exp(-col("__z").cast("double"))), 4).as("score"),
        (col("__z") >= 0).as("positive"))
  }

  /** Zipf head coverage: for each k in `ks`, the fraction of all token
    * INSTANCES covered by the k most frequent terms — the one-line
    * answer to "how big must the vocabulary be" and a cheap
    * boilerplate smell test (a tiny head covering most of the corpus =
    * templated text).
    *
    * Shape at scale: one partial-aggregated term count, a distributed
    * top-max(k) (`orderBy.limit` plans TakeOrderedAndProject — only
    * max(ks) rows ever leave the executors), and arithmetic over a
    * driver-trivial frame. Counts stay exact longs; the ratio is
    * truncated at 6 dp (repr-independent, see GraphOps.pageRank).
    */
  def zipfCoverage(df: DataFrame, text: Column, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks must be positive")
    val tf = df.select(explode(tokens(text)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val total = tf.agg(sum(col("n")).as("total"), count(lit(1)).as("vocab"))
    // distributed top-max(k): TakeOrderedAndProject — only ks.max rows
    // leave the executors. The rank over that BOUNDED frame is a
    // windowless self-join count ("rows ahead or equal"), so no
    // single-partition WindowExec appears anywhere, at any scale.
    val top = tf.orderBy(col("n").desc, col("term").asc).limit(ks.max)
    val ranked = top.select(col("term").as("ta"), col("n").as("na"))
      .join(top.select(col("term").as("tb"), col("n").as("nb")),
        col("nb") > col("na") ||
          (col("nb") === col("na") && col("tb") <= col("ta")))
      .groupBy(col("ta"), col("na"))
      .agg(count(lit(1)).as("r"))
    val kFrame = {
      val s = df.sparkSession
      import s.implicits._
      ks.distinct.sorted.toDF("k")
    }
    kFrame.join(ranked, col("r") <= col("k"), "left")
      .groupBy("k").agg(sum(col("na")).as("top_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("top_tokens"), col("total").as("total_tokens"),
        col("vocab").as("n_vocab"),
        (floor(col("top_tokens") / col("total") * 1e6) / 1e6).as("coverage"))
  }

  /** Per-document top-k terms by TF-IDF — the corpus-statistics
    * primitive behind keyword extraction and topical filtering.
    *
    * Shape at scale: one explode over tokens, a partial-aggregated
    * (doc, term) count, a term-level document-frequency aggregate
    * joined back (broadcastable for bounded vocabularies), and a
    * per-doc ranking window — every join/window keyed, nothing
    * cartesian, no driver round-trip. Smoothed idf = ln((N+1)/(df+1)),
    * scores rounded to 4 dp (oracle contract); ties rank by term asc.
    */
  def tfidfTopTerms(
      df: DataFrame,
      id: Column,
      text: Column,
      k: Int): DataFrame = {
    val toks = df.select(id.as("id"), explode(tokens(text)).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = df.select(countDistinct(id).as("n_docs"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("score"))
  }

  /** Lower-cased host names of every URL in `text` (array<string>):
    * the key web-curation dimension — per-domain quality priors,
    * blocklists, and domain capping ([[Sampling.capPerGroup]]) all key
    * on it. One codegen'd `regexp_extract_all` per row, no shuffle;
    * the host is everything between `://` and the first `/`,
    * whitespace, or quote (ports and userinfo intentionally kept —
    * normalization beyond lowercasing is caller policy).
    */
  def urlDomains(text: Column): Column =
    regexp_extract_all(lower(text), lit("""https?://([^/\s"']+)"""), lit(1))

  /** URL canonicalization — the normalization pass BEFORE URL-keyed
    * dedup of a web crawl (the same page arrives as `HTTPS://WWW.…/`,
    * `…:443/…?utm_source=…`, `…/#fragment`, and a dozen other
    * renditions; naïve string dedup keeps them all): lowercase scheme
    * and host, drop the fragment, strip the scheme's default port
    * (:80/:443), trim trailing slashes off the path, drop tracking
    * parameters (`utm_*`, `gclid`, `fbclid`, `msclkid`, `ref`), and
    * sort the surviving query parameters so parameter ORDER stops
    * mattering. Path case, non-default ports, and parameter VALUES are
    * preserved — they distinguish real resources. A string that does
    * not parse as an absolute URL comes back trimmed but otherwise
    * untouched (flag-not-crash: curation decides what to do with it).
    *
    * Pure per-row regex/array kernels (codegen'd, no shuffle, no UDF)
    * so it runs inside any scan projection; dedup is then
    * `groupBy(canonicalizeUrl(url))` — one standard aggregate.
    */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(trim(url), "#.*$", "")
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1), "/+$", "")
    val q = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(q, "&"),
      p => !p.rlike("^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=|$)") && p =!= ""))
    val canonQ = array_join(kept, "&")
    when(scheme === "" || hostPort === "", trim(url))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ))))
  }

  /** Domain-blocklist curation (the UT1/adult-blocklist gate every web
    * corpus runs): drop documents whose text links to a blocked domain,
    * with SUFFIX semantics — blocklist entry `example.com` blocks the
    * exact host and every subdomain (`a.b.example.com`), the way
    * blocklists are published. A multi-label host is expanded to its
    * ≥2-label suffixes (plus single-label hosts matching whole), so
    * TLD-only entries can never wipe a corpus by accident.
    *
    * Shape at scale: host extraction is one codegen'd regexp per row
    * ([[urlDomains]]); the suffix explode is bounded by label count
    * (hosts are ~3-5 labels); the blocklist (config-sized) broadcasts
    * into a semi-join, and the final decision is one anti-join keyed
    * on id — no shuffle of the corpus body. Returns surviving rows.
    */
  def dropBlockedDomains(
      df: DataFrame,
      id: Column,
      text: Column,
      blocklist: DataFrame,
      domain: Column): DataFrame = {
    val hosts = df.select(id.as("__id"),
        explode(array_distinct(urlDomains(text))).as("host"))
      .withColumn("parts", split(col("host"), "\\."))
    val suffixes = hosts.select(col("__id"), col("parts"),
        explode(sequence(lit(0), greatest(size(col("parts")) - 2, lit(0)))).as("i"))
      .select(col("__id"),
        array_join(slice(col("parts"), col("i") + 1, size(col("parts"))), ".").as("sfx"))
    val blk = broadcast(blocklist.select(lower(domain).as("sfx")).distinct())
    val blockedIds = suffixes.join(blk, "sfx").select(col("__id")).distinct()
    df.join(blockedIds, id === col("__id"), "left_anti")
  }

  /** DEFLATE compression ratio (compressed bytes / raw bytes) — the
    * tokenization-free repetition proxy from the Gopher/RefinedWeb
    * filter family. Templated spam and crawler-loop boilerplate
    * compress far below natural prose, and unlike the 3-gram
    * repetition ratio (`q_text_repetition`) this catches LONG-RANGE
    * repetition (a paragraph pasted 50 lines apart).
    *
    * Shape at scale: one codegen'd per-row projection
    * ([[graft.functions.DeflateLen]]) — no tokenize, no shuffle, no
    * UDF. Empty docs get ratio 1.0 (nothing to judge). Rows-only
    * check: the compressed length is a JDK-zlib artifact, not
    * portable SQL; the spec plants compressible vs. incompressible
    * docs instead.
    */
  def withCompressionRatio(df: DataFrame, text: Column): DataFrame = {
    val raw = octet_length(text).cast("long")
    val comp = graft.functions.DeflateLen.deflateLen(text).cast("long")
    df.withColumn("octet_len", raw)
      .withColumn("deflate_len", comp)
      .withColumn("compress_ratio",
        when(col("octet_len") > 0,
          round(col("deflate_len") / col("octet_len"), 4)).otherwise(1.0))
  }

  /** Line-shape / formatting metrics per document — the Gopher-family
    * document filters that look at LINES rather than tokens:
    * duplicate-line fraction, fraction of characters inside duplicated
    * lines, bullet-start fraction, ellipsis-end fraction. High
    * duplicate-line mass flags navigation chrome / cookie banners;
    * bullet- and ellipsis-heavy pages are list stubs and teaser pages.
    *
    * Shape at scale: explode lines → ONE (id, line) partial-aggregated
    * groupBy (map-side combine collapses within-doc duplicates before
    * the shuffle) → one (id) aggregate. No window, no join, no HOF on
    * the per-line path. Lines are trimmed; empty lines don't count.
    * Documents with no non-empty line produce no row (there is no
    * shape to report); ratios rounded to 4 dp (oracle contract).
    */
  def docShape(df: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(split(col("__t"), "\n")).as("__raw"))
      .select(col("id"), trim(col("__raw")).as("line"))
      .where(length(col("line")) > 0)
    val perLine = lines
      .groupBy("id", "line").agg(count(lit(1)).as("cnt"))
      .select(col("id"), col("cnt"),
        (col("cnt") * length(col("line"))).as("line_chars"),
        when(substring(col("line"), 1, 1).isin("-", "*", "•"), col("cnt"))
          .otherwise(0L).as("bullet_cnt"),
        when(col("line").endsWith("...") || col("line").endsWith("…"), col("cnt"))
          .otherwise(0L).as("ellipsis_cnt"),
        when(col("cnt") > 1, col("cnt") * length(col("line")))
          .otherwise(0L).as("dup_chars"))
    perLine.groupBy("id")
      .agg(
        sum(col("cnt")).as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        sum(col("dup_chars")).as("__dup_chars"),
        sum(col("line_chars")).as("__line_chars"),
        sum(col("bullet_cnt")).as("__bullets"),
        sum(col("ellipsis_cnt")).as("__ellipses"))
      .select(col("id"),
        col("n_lines").cast("long").as("n_lines"),
        col("n_distinct_lines").cast("long").as("n_distinct_lines"),
        round((col("n_lines") - col("n_distinct_lines")) * lit(1.0) / col("n_lines"), 4)
          .as("dup_line_ratio"),
        round(col("__dup_chars") * lit(1.0) / col("__line_chars"), 4).as("dup_char_ratio"),
        round(col("__bullets") * lit(1.0) / col("n_lines"), 4).as("bullet_ratio"),
        round(col("__ellipses") * lit(1.0) / col("n_lines"), 4).as("ellipsis_ratio"))
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson/Spärck Jones probabilistic weighting) — the retrieval
    * scorer behind targeted corpus slicing ("pull the docs about X")
    * and retrieval-based decontamination.
    *
    * Shape at scale: one tokenize pass materialized once
    * (`localCheckpoint` — the corpus stats aggregate and the term
    * explode both read it); per-doc query-term occurrences are
    * filtered INSIDE the token array before the explode, so generated
    * rows are bounded by matches, not document length; the per-term
    * document frequency is a ≤|terms|-row broadcast; corpus N/avgdl
    * ride a broadcast scalar. No window, no self-join.
    *
    * Determinism contract: term weights truncated at 7 dp, summed as
    * decimal(28,7), final score truncated at 4 dp (floor of a shared
    * IEEE double is repr-independent — GraphOps.pageRank's contract);
    * the arithmetic expression shape is mirrored literally by the
    * oracle so both engines execute the same IEEE operation sequence.
    * Docs containing no query term are omitted (score 0).
    */
  def bm25(
      df: DataFrame,
      id: Column,
      text: Column,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), tokens(col("__text")).as("__tk"))
      .select(col("id"), size(col("__tk")).as("dl"),
        filter(col("__tk"), t => t.isInCollection(queryTerms)).as("__q"))
      .localCheckpoint()
    val stats = base.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base.select(col("id"), col("dl"), explode(col("__q")).as("term"))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("__w", Num.t7floor(
        col("__idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl")))))
      .groupBy("id")
      .agg((floor(sum(col("__w").cast("decimal(28,7)")).cast("double") * 1e4) / 1e4)
        .as("score"))
  }

  /** Pairwise Jensen-Shannon divergence between SOURCE unigram
    * distributions — the DISTRIBUTIONAL complement to
    * [[graft.operators.Dedup.sourceOverlap]]'s fingerprint matrix:
    * overlap finds sources that COPY each other; JSD finds sources
    * that merely sound alike (two news crawls with zero shared pages
    * still shouldn't both get full mixture weight). Symmetric, bounded
    * [0, 1] in bits, defined even with disjoint vocabularies.
    *
    * Identity used: terms present in only ONE side contribute exactly
    * p/2, so
    *
    *   JSD(P,Q) = (1 − Σ_shared p)/2 + (1 − Σ_shared q)/2
    *            + Σ_shared [p/2·log2(2p/(p+q)) + q/2·log2(2q/(p+q))]
    *
    * and only the SHARED-vocabulary join is ever materialized — the
    * per-term pair fan-out is bounded by sources² (config-sized), and
    * the exclusive masses fall out of the shared sums for free.
    *
    * Shape at scale: tokenize once, (source, term) partial-agg counts,
    * per-source totals as a broadcast-joined bounded frame, ONE
    * term-keyed self-join (source_a < source_b), partial-agg per pair.
    * Probabilities and per-term contributions truncate 7 dp into exact
    * decimals (order-independent sums); log2 = ln/ln 2 with the ln-2
    * constant fixed here (the unigramLogProb ln contract). Output per
    * source pair: (src_a, src_b, n_shared_terms, jsd) — jsd 4-dp floor.
    */
  def sourceDivergence(
      df: DataFrame,
      source: Column,
      text: Column): DataFrame = {
    val ln2 = math.log(2.0)
    val tk = graft.operators.scaleOut(
        df.select(source.as("src"), text.as("__text")))
      .select(col("src"), explode(tokens(col("__text"))).as("term"))
    val cnt = tk.groupBy("src", "term").agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("src").agg(sum(col("n")).as("__tot"))
    val p = cnt.join(broadcast(tot), "src")
      .select(col("src"), col("term"),
        Num.t7floor(col("n").cast("double") / col("__tot")).as("p"))
    val pairTerm = p.as("a")
      .join(p.as("b"), col("a.term") === col("b.term")
        && col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
    val m = col("pa") + col("pb")
    val js = col("pa") / 2 * (log(lit(2.0) * col("pa") / m) / ln2) +
      col("pb") / 2 * (log(lit(2.0) * col("pb") / m) / ln2)
    val shared = pairTerm
      .withColumn("__js", Num.t7floor(js).cast("decimal(20,7)"))
      .withColumn("__pa", col("pa").cast("decimal(20,7)"))
      .withColumn("__pb", col("pb").cast("decimal(20,7)"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_terms"),
        (floor(
          ((lit(1.0) - sum(col("__pa")).cast("double")) / 2 +
            (lit(1.0) - sum(col("__pb")).cast("double")) / 2 +
            sum(col("__js")).cast("double")) * 1e4) / 1e4).as("jsd"))
    // grid completion (bounded: sources² — the sourceOverlap class):
    // a pair with NO shared vocabulary has JSD exactly 1 and would
    // otherwise be silently ABSENT — the most-divergent pairs are the
    // ones a mixture designer most needs to see
    val allPairs = tot.select(col("src").as("src_a"))
      .crossJoin(broadcast(tot.select(col("src").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
    allPairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        coalesce(col("jsd"), lit(1.0)).as("jsd"))
  }

  /** BINARY-BLOB contamination stats — the "data URI / key dump /
    * minified payload pasted into a web page" detector: long unbroken
    * runs of base64-alphabet or hex characters are almost never
    * natural language, waste tokenizer budget catastrophically (a
    * 1 KB blob is ~700 junk BPE tokens), and sometimes ARE leaked
    * secrets. Per doc: run counts, longest run, and the fraction of
    * characters living inside runs; `flagged` gates on either a
    * dominant ratio or one huge run. Pure per-row regex projections
    * (map-only at any scale, the C4-filter class); thresholds are
    * config, flag-not-drop.
    */
  def binaryBlobStats(
      df: DataFrame,
      id: Column,
      text: Column,
      minB64Run: Int = 40,
      minHexRun: Int = 32,
      ratioThreshold: Double = 0.3,
      hugeRun: Int = 200): DataFrame = {
    require(minB64Run >= 8 && minHexRun >= 8, "run minimums >= 8")
    // group 0 = the whole match: Spark's regexp_extract_all defaults
    // to group 1 and errors on group-less patterns
    val b64 = regexp_extract_all(col("__t"),
      lit(s"[A-Za-z0-9+/=]{$minB64Run,}"), lit(0))
    val hex = regexp_extract_all(col("__t"),
      lit(s"[0-9a-fA-F]{$minHexRun,}"), lit(0))
    // coalesce: NULL text is an empty doc, not legacy size(NULL) = -1
    // run counts (caught in review)
    def ratio(runs: org.apache.spark.sql.Column) =
      when(length(col("__t")) > 0,
        floor(aggregate(transform(runs, s => length(s)),
          lit(0), (a, x) => a + x).cast("double")
          / length(col("__t")) * 1e4) / 1e4)
        .otherwise(lit(0.0))
    df.select(id.as("id"), coalesce(text, lit("")).as("__t"))
      .withColumn("__b64", b64)
      .withColumn("__hex", hex)
      .select(col("id"),
        size(col("__b64")).cast("long").as("n_b64_runs"),
        coalesce(array_max(transform(col("__b64"), s => length(s))), lit(0))
          .cast("long").as("max_b64_len"),
        ratio(col("__b64")).as("b64_char_ratio"),
        size(col("__hex")).cast("long").as("n_hex_runs"),
        coalesce(array_max(transform(col("__hex"), s => length(s))), lit(0))
          .cast("long").as("max_hex_len"),
        // hex gets its OWN ratio: any hex run >= minB64Run is also a
        // b64 run, so a document made of SHORT hex runs (a broken-up
        // digest dump) is invisible to the b64 ratio — caught in review
        ratio(col("__hex")).as("hex_char_ratio"))
      .withColumn("flagged",
        col("b64_char_ratio") > ratioThreshold
          || col("hex_char_ratio") > ratioThreshold
          || col("max_b64_len") >= hugeRun
          || col("max_hex_len") >= hugeRun)
  }

  /** VOCABULARY GROWTH over an ordered bucket axis — the crawl-drift
    * monitor: per bucket (ingest day, shard index, snapshot), how many
    * distinct terms were used, how many were NEVER seen in any earlier
    * bucket, their ratio, and the cumulative vocabulary. A healthy
    * corpus's new-term rate decays Heaps-style; a spike means the
    * crawl changed (new language, new spam family, an encoding bug
    * minting garbage tokens).
    *
    * Shape at scale: tokenize once, collapse to DISTINCT (term,
    * bucket) (partial agg), per-term first bucket (one keyed agg),
    * per-bucket counts, and ONE ordered window for the cumulative sum
    * over the bucket-sized frame (global window above an aggregate —
    * the registry-audit-legal class). Ratio 4-dp floor.
    */
  def vocabGrowth(
      df: DataFrame,
      bucket: Column,
      text: Column): DataFrame = {
    val tb = graft.operators.scaleOut(
        df.select(bucket.cast("long").as("bucket"), text.as("__text")))
      .select(col("bucket"), explode(tokens(col("__text"))).as("term"))
      .distinct()
    val first = tb.groupBy("term").agg(min(col("bucket")).as("__first"))
    val used = tb.groupBy("bucket").agg(count(lit(1)).as("n_terms_used"))
    val fresh = first.groupBy(col("__first").as("bucket"))
      .agg(count(lit(1)).as("n_new_terms"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy("bucket").rowsBetween(Long.MinValue, 0)
    used.join(fresh, Seq("bucket"), "left")
      .withColumn("n_new_terms", coalesce(col("n_new_terms"), lit(0L)))
      .withColumn("new_ratio",
        floor(col("n_new_terms").cast("double") / col("n_terms_used") * 1e4) / 1e4)
      .withColumn("cum_vocab", sum(col("n_new_terms")).over(wCum))
      .select(col("bucket"), col("n_terms_used"), col("n_new_terms"),
        col("new_ratio"), col("cum_vocab"))
  }

  /** Top-k PMI COLLOCATIONS — the phrase detector: bigrams whose
    * joint probability beats independence,
    * pmi = ln(n_ab·N_uni²/(N_bi·n_a·n_b)), the classic
    * word2phrase/tokenizer-vocab preprocessing step (a corpus's "new
    * york"s should enter the vocab as units) and a templated-
    * boilerplate tell (a collocation at huge counts is a template).
    *
    * Shape at scale: ONE tokenize pass (localCheckpoint) feeds both
    * the bigram and unigram partial-agg counts; totals ride in as
    * 1-row broadcasts; `minCount` prunes the long tail BEFORE the
    * top-k (rare pairs have unstable, inflated PMI — the standard
    * guard); the top-k itself is a distributed
    * TakeOrderedAndProject (orderBy+limit — never a global window).
    * PMI computes with one ln on an exact integer ratio argument and
    * rounds 7 dp (the unigramLogProb ln contract); ties break
    * (prev, cur).
    */
  def pmiBigrams(
      df: DataFrame,
      text: Column,
      minCount: Long = 5,
      k: Int = 100): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be >= 1")
    val tk = graft.operators.scaleOut(df.select(text.as("__text")))
      .select(tokens(col("__text")).as("tk"))
      .localCheckpoint()
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val totU = uni.agg(sum(col("n")).as("__nu"))
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(col("tk"), explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
      .select(element_at(col("tk"), col("i")).as("prev"),
        element_at(col("tk"), col("i") + 1).as("cur"))
      .groupBy("prev", "cur").agg(count(lit(1)).as("n_pair"))
    val totB = bi.agg(sum(col("n_pair")).as("__nb"))
    bi.filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("prev"), col("n").as("__na")), "prev")
      .join(uni.select(col("w").as("cur"), col("n").as("__nc")), "cur")
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .withColumn("pmi", round(log(
        col("n_pair").cast("double") * col("__nu") * col("__nu") /
          (col("__nb").cast("double") * col("__na") * col("__nc"))), 7))
      .select(col("prev"), col("cur"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("prev").asc, col("cur").asc)
      .limit(k)
  }

  /** Distinct-n-gram DIVERSITY ratios per group — the generation-
    * diversity metric (distinct-1/2/3) turned on corpora: a templated
    * or machine-degenerate source repeats its n-grams, so
    * distinct/total collapses toward 0 as n grows, where natural text
    * stays high at n = 2, 3. Catches what per-doc repetition scores
    * (D9b) can't: a source whose DOCUMENTS are individually clean but
    * collectively near-identical.
    *
    * Shape at scale: tokenize ONCE (localCheckpoint — the bm25
    * discipline), then per n one explode with multiplicity and one
    * partial-agg count + exact distinct per (group, n) — maxN keyed
    * shuffles over heavily pre-combined frames, never all-pairs.
    * Output: (group_key, n, n_total, n_distinct, distinct_ratio)
    * ratio 4-dp floor; groups with no n-grams at some n (every doc
    * shorter than n tokens) simply have no row at that n.
    */
  def distinctNgramRatios(
      df: DataFrame,
      group: Column,
      text: Column,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN in [1, 8]")
    val tk = graft.operators.scaleOut(
        df.select(group.as("group_key"), text.as("__text")))
      .select(col("group_key"), tokens(col("__text")).as("tk"))
      .localCheckpoint()
    (1 to maxN).map { n =>
      val grams =
        if (n == 1) tk.select(col("group_key"), explode(col("tk")).as("g"))
        else tk.filter(size(col("tk")) >= n)
          .select(col("group_key"),
            explode(graft.functions.shingles(col("tk"), n)).as("g"))
      grams.groupBy("group_key").agg(
        lit(n).as("n"),
        count(lit(1)).as("n_total"),
        countDistinct(col("g")).as("n_distinct"))
    }.reduce(_ unionByName _)
      .select(col("group_key"), col("n"), col("n_total"), col("n_distinct"),
        (floor(col("n_distinct").cast("double") / col("n_total") * 1e4) / 1e4)
          .as("distinct_ratio"))
  }

  /** Lexical-richness profile per group — the vocabulary-health
    * readout next to [[vocabGrowth]]'s curve and [[distinctNgrams]]'
    * diversity ratio: type-token ratio, hapax share, and Yule's K
    * (K = 10⁴·(Σ_m m²·V_m − N)/N², the repeat-rate statistic that,
    * unlike raw TTR, is length-insensitive — the standard "is this
    * source template-y or genuinely varied?" number).
    *
    * Shape at scale: ONE tokenize → (group, word) partial-agg pass;
    * everything else derives from that bounded frequency table.
    * Σ m²·V_m = Σ_w cnt_w² stays in exact integer lanes (decimal 38);
    * the three ratios are single double divisions, 6-dp floored.
    */
  def lexicalRichness(df: DataFrame, group: Column, text: Column): DataFrame = {
    val wf = graft.operators.scaleOut(
        df.select(group.as("grp"), text.as("__text")))
      .select(col("grp"), explode(tokens(col("__text"))).as("w"))
      .groupBy("grp", "w").agg(count(lit(1)).as("cnt"))
    val m = wf.groupBy("grp").agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"),
      sum((col("cnt").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("__m2"))
    val n = col("n_tokens").cast("double")
    m.select(
      col("grp"), col("n_tokens"), col("n_types"), col("n_hapax"),
      (floor(col("n_types").cast("double") / n * 1e6) / 1e6).as("ttr"),
      (floor(col("n_hapax").cast("double") /
        col("n_types").cast("double") * 1e6) / 1e6).as("hapax_ratio"),
      (floor((col("__m2").cast("double") - n) / (n * n) * 1e4 * 1e6) / 1e6)
        .as("yule_k"))
  }

  /** Gries' DP (deviation of proportions) — per-term DISPERSION across
    * sources: does "click here" live everywhere or in one crawl? The
    * per-term drilldown under [[sourceJsd]]'s corpus-level verdict;
    * dedup/quality gates read it to tell boilerplate (high frequency,
    * LOW dispersion) from genuinely common language (high both).
    * DP = Σ_s |share_of_tokens(s) − share_of_term(s)| / 2 ∈ [0, 1):
    * 0 = the term distributes exactly like the corpus, →1 = one
    * source owns it.
    *
    * Shape at scale: one tokenize pass → (source, term) counts; the
    * top-`k` term set is a config-sized driver decision replayed by
    * rank; the DP sum runs over the k×|sources| grid (bounded both
    * ways) with EXACT integer numerators — |st·C_t − ct·T| in decimal
    * lanes, one double division at the end, 6-dp floored. Terms
    * absent from a source contribute that source's full token share,
    * via the grid's left join.
    */
  def termDispersion(
      df: DataFrame,
      source: Column,
      text: Column,
      k: Int = 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = graft.operators.scaleOut(
        df.select(source.as("src"), text.as("__text")))
      .select(col("src"), explode(tokens(col("__text"))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    val srcTot = tf.groupBy("src").agg(sum(col("ct")).as("st"))
    val termTot = tf.groupBy("w").agg(sum(col("ct")).as("c_t"))
    // distributed top-k (TakeOrderedAndProject) — a global row_number
    // window here would single-partition-sort the whole vocabulary
    val top = termTot.orderBy(col("c_t").desc, col("w").asc).limit(k)
    val total = srcTot.agg(sum(col("st")).as("t_tot"))
    val grid = broadcast(top).crossJoin(srcTot)
      .join(tf, Seq("w", "src"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("w"), col("c_t"), col("t_tot"),
        abs(Num.b19(col("st")) * Num.b19(col("c_t")) - Num.b19(col("ct")) * Num.b19(col("t_tot")))
          .cast("decimal(38,0)").as("__num"))
    grid.groupBy("w", "c_t", "t_tot")
      .agg(sum(col("__num")).as("__s"))
      .select(col("w").as("term"), col("c_t").as("term_count"),
        (floor(col("__s").cast("double") /
          (col("t_tot").cast("double") * col("c_t").cast("double")) /
          2.0 * 1e6) / 1e6).as("dp_dispersion"))
  }

  /** Burrows' Delta — the stylometry distance between sources: z-score
    * each of the top-`m` corpus words' per-mille rate across sources,
    * then Δ(s₁,s₂) = mean_w |z₁ − z₂|. The classic authorship /
    * register-shift detector: two crawls of the same register sit
    * near 0, a forum vs a news source separates on function-word
    * rates alone.
    *
    * Shape at scale: one tokenize pass → (source, word) counts; the
    * top-m word set and the m×|sources| rate grid are config-sized.
    * Rates, means and squared deviations truncate into exact decimal
    * lanes before every cross-source sum (population σ over the
    * bounded source set), z-scores truncate 6 dp, and the pairwise
    * mean-|Δz| runs over the bounded source-pair grid. Degenerate
    * words (σ = 0 — same rate everywhere) contribute 0 to every pair,
    * the standard convention.
    */
  def burrowsDelta(
      df: DataFrame,
      source: Column,
      text: Column,
      m: Int = 30): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val tf = graft.operators.scaleOut(
        df.select(source.as("src"), text.as("__text")))
      .select(col("src"), explode(tokens(col("__text"))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    val srcTot = tf.groupBy("src").agg(sum(col("ct")).as("st"))
    val termTot = tf.groupBy("w").agg(sum(col("ct")).as("c_t"))
    // distributed top-m, not a vocabulary-wide global window
    val top = termTot.orderBy(col("c_t").desc, col("w").asc).limit(m)
      .select(col("w"))
    // per-mille rate, 9-dp truncated into an exact decimal so the
    // cross-source mean/variance sums are order-independent
    val rates = broadcast(top).crossJoin(srcTot)
      .join(tf, Seq("w", "src"), "left")
      .select(col("w"), col("src"),
        (floor(coalesce(col("ct"), lit(0L)).cast("double") /
          col("st").cast("double") * 1000.0 * 1e9) / 1e9)
          .cast("decimal(28,9)").as("__f"))
    val nSrc = srcTot.agg(count(lit(1)).as("__k"))
    val mom = rates.groupBy("w")
      .agg(sum(col("__f")).as("__sf"), count(lit(1)).as("__n"))
      .select(col("w"),
        (col("__sf").cast("double") / col("__n").cast("double")).as("__mu"),
        col("__n"))
    val devs = rates.join(broadcast(mom), "w")
      .select(col("w"), col("src"), col("__f"), col("__mu"), col("__n"),
        (floor((col("__f").cast("double") - col("__mu")) *
          (col("__f").cast("double") - col("__mu")) * 1e9) / 1e9)
          .cast("decimal(28,9)").as("__d2"))
    val sig = devs.groupBy("w", "__mu", "__n")
      .agg(sum(col("__d2")).as("__sd2"))
      .select(col("w"), col("__mu"),
        sqrt(col("__sd2").cast("double") / col("__n").cast("double"))
          .as("__sigma"))
    val z = rates.join(broadcast(sig), "w")
      .select(col("w"), col("src"),
        when(col("__sigma") === 0.0, lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)"))
          .otherwise((floor((col("__f").cast("double") - col("__mu")) /
            col("__sigma") * 1e6) / 1e6).cast("decimal(18,6)")).as("__z"))
    val pairs = z.as("a").join(z.as("b"),
        col("a.w") === col("b.w") && col("a.src") < col("b.src"))
      .select(col("a.src").as("source_a"), col("b.src").as("source_b"),
        abs(col("a.__z") - col("b.__z")).as("__az"))
    pairs.groupBy("source_a", "source_b")
      .agg(sum(col("__az")).as("__s"), count(lit(1)).as("n_terms"))
      .select(col("source_a"), col("source_b"), col("n_terms"),
        (floor(col("__s").cast("double") /
          col("n_terms").cast("double") * 1e4) / 1e4).as("delta"))
  }
}
