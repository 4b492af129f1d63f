package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.functions.tokens

/** WordPiece-style tokenization (Wu et al. '16; the BERT tokenizer
  * family) — the third member of the tokenizer triad next to BPE
  * ([[Bpe]]) and the unigram LM ([[Unigram]]): a SUBWORD VOCABULARY
  * is induced from the corpus, and words segment by GREEDY
  * LONGEST-MATCH-FIRST against it, continuation pieces carrying the
  * `##` prefix. The serving-side semantics (greedy longest match,
  * ## continuations, whole-word [UNK] on any dead end) are the
  * published WordPiece contract exactly; vocabulary INDUCTION here is
  * the frequency-ranked subword inventory (top corpus substrings per
  * alignment class) rather than the original likelihood-gain merge
  * loop — deterministic, one corpus pass, and SQL-replayable, which
  * is what makes q_wordpiece an exact-oracle query where BPE's
  * iterative trainer needs a recursive-CTE replay.
  *
  * Scale shape (the [[Bpe]] discipline): the corpus is touched ONCE
  * (tokenize → distinct-word frequency aggregate); vocabulary
  * induction and segmentation both run on the distinct-word table;
  * the vocabulary itself is driver metadata (alphabet + `maxPieces`
  * rows — the IVF-centroid class) broadcast into a row-local greedy
  * kernel. Per-document accounting is one keyed join of the corpus
  * word explode against the segmented word table.
  *
  * Determinism: piece ranking orders by (freq desc, cont asc, piece
  * asc) — a total order, so the `maxPieces` cut never depends on
  * partitioning; greedy matching has no ties (the match at a position
  * and length IS the substring). Characters are Unicode CODE POINTS
  * (the chrF substring contract), so the SQL twin lands on identical
  * splits.
  */
object Wordpiece {

  /** Unknown-word sentinel ([[segmentWords]]' dead-end contract). */
  val Unk = "[UNK]"

  /** Induce the vocabulary: every single character seen per alignment
    * class (word-initial vs `##` continuation — these guarantee any
    * corpus word segments without a dead end), plus the top
    * `maxPieces` multi-character substrings (length 2..`maxPieceLen`)
    * ranked by corpus frequency with multiplicity. Returns
    * (piece, cont, freq) — `cont` true for `##` continuation pieces
    * (the piece string itself carries no `##`).
    */
  def buildVocab(
      df: DataFrame,
      text: Column,
      maxPieces: Int = 200,
      maxPieceLen: Int = 6): DataFrame =
    buildVocabFromWords(wordFrequencies(df, text), maxPieces, maxPieceLen)

  /** The corpus word-frequency table (w, cnt) — the ONE tokenize pass
    * everything in this family derives from; callers that need both
    * the vocabulary and a word ranking (q_wordpiece) compute it once
    * and feed [[buildVocabFromWords]] instead of paying a second
    * corpus-wide tokenize.
    */
  def wordFrequencies(df: DataFrame, text: Column): DataFrame =
    scaleOut(df.select(text.as("__t")))
      .select(explode(tokens(col("__t"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .transform(materialize(_))

  /** [[buildVocab]] over a precomputed [[wordFrequencies]] frame. */
  def buildVocabFromWords(
      wordFreq: DataFrame,
      maxPieces: Int = 200,
      maxPieceLen: Int = 6): DataFrame = {
    require(maxPieces >= 0, "maxPieces must be >= 0")
    require(maxPieceLen >= 2, "maxPieceLen must be >= 2")
    val positions = wordFreq.select(col("w"), col("cnt"),
      explode(sequence(lit(0), length(col("w")) - 1)).as("pos"))
    val charPieces = positions
      .select(expr("substring(w, pos + 1, 1)").as("piece"),
        (col("pos") > 0).as("cont"), col("cnt"))
      .groupBy("piece", "cont").agg(sum(col("cnt")).as("freq"))
    val multiPieces = positions
      .select(col("w"), col("cnt"), col("pos"),
        explode(sequence(lit(2), lit(maxPieceLen))).as("l"))
      .filter(col("pos") + col("l") <= length(col("w")))
      .select(expr("substring(w, pos + 1, l)").as("piece"),
        (col("pos") > 0).as("cont"), col("cnt"))
      .groupBy("piece", "cont").agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("cont").asc, col("piece").asc)
      .limit(maxPieces)
    charPieces.unionByName(multiPieces)
  }

  /** Segment a distinct-word table (one `w` string column) by greedy
    * longest-match-first against the vocabulary: at each position
    * take the LONGEST vocab piece of the position's alignment class;
    * any dead end (a character the
    * vocabulary has never seen in that class) collapses the whole
    * word to [[Unk]] — the WordPiece serving contract. The vocabulary
    * collects to the driver (bounded metadata) and broadcasts into a
    * row-local partition kernel — zero shuffle beyond the input's.
    * Returns (w, pieces, n_pieces, is_unk): pieces space-joined with
    * `##` prefixes on continuations.
    */
  def segmentWords(words: DataFrame, vocab: DataFrame): DataFrame = {
    val entries = vocab.select(col("piece").cast("string"), col("cont").cast("boolean"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    val vset = entries.toSet
    val maxLen = if (entries.isEmpty) 1
      else entries.map(e => e._1.codePointCount(0, e._1.length)).max
    val schema = StructType(Seq(
      StructField("w", StringType),
      StructField("pieces", StringType),
      StructField("n_pieces", LongType),
      StructField("is_unk", BooleanType)))
    words.select(col("w").cast("string").as("w"))
      .filter(col("w").isNotNull)
      .mapPartitions { rows =>
        rows.map { r =>
          val w = r.getString(0)
          val cps = w.codePoints().toArray
          val out = Seq.newBuilder[String]
          var pos = 0
          var dead = false
          while (pos < cps.length && !dead) {
            var l = math.min(maxLen, cps.length - pos)
            var hit = -1
            while (l >= 1 && hit < 0) {
              val cand = new String(cps, pos, l)
              if (vset((cand, pos > 0))) hit = l
              l -= 1
            }
            if (hit < 0) dead = true
            else {
              val p = new String(cps, pos, hit)
              out += (if (pos > 0) "##" + p else p)
              pos += hit
            }
          }
          if (dead || cps.length == 0)
            org.apache.spark.sql.Row(w, Unk, 1L, true)
          else {
            val pieces = out.result()
            org.apache.spark.sql.Row(w, pieces.mkString(" "),
              pieces.length.toLong, false)
          }
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Encode a corpus to WORDPIECE IDS — [[Bpe.encodeIds]]'s shape for
    * this family: LONG format (id, word_pos, piece_pos, piece_id,
    * is_unk), one row per piece occurrence, no per-doc array
    * reassembly. The id space is the vocabulary's DISPLAY forms
    * (`##`-prefixed continuations — collision-free because the
    * tokenizer never emits `#`) with dense lexicographic ids, derived
    * once as driver metadata; a word that dead-ends segments to
    * [[Unk]], which is outside the vocabulary and encodes as
    * `unk_id` = vocab size with `is_unk` set.
    */
  def encodeIds(df: DataFrame, id: Column, text: Column, vocab: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val display = vocab.select(col("piece").cast("string"), col("cont").cast("boolean"))
      .collect()
      .map(r => (if (r.getBoolean(1)) "##" else "") + r.getString(0))
      .distinct.sorted
    val unkId = display.length.toLong
    val vocabDf = display.toSeq.zipWithIndex
      .map { case (s, i) => (s, i.toLong) }.toDF("sym", "sym_id")
    val words = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), posexplode(tokens(col("__t"))).as(Seq("word_pos", "w")))
    val segd = segmentWords(words.select("w").distinct(), vocab)
      .select(col("w"), col("pieces"))
    words.join(segd, Seq("w"))
      .select(col("id"), col("word_pos"),
        posexplode(split(col("pieces"), " ")).as(Seq("piece_pos", "sym")))
      .join(broadcast(vocabDf), Seq("sym"), "left")
      .select(col("id"), col("word_pos"), col("piece_pos"),
        coalesce(col("sym_id"), lit(unkId)).as("piece_id"),
        col("sym_id").isNull.as("is_unk"))
  }

  /** Per-document WordPiece accounting under a held vocabulary — the
    * [[Bpe.segment]] shape: tokenize once, segment the DISTINCT word
    * table, join back. Returns (id, n_words, n_pieces, n_unk_words).
    */
  def segment(df: DataFrame, id: Column, text: Column, vocab: DataFrame): DataFrame = {
    val words = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(tokens(col("__t"))).as("w"))
      .transform(materialize(_))
    val segd = segmentWords(words.select("w").distinct(), vocab)
      .select(col("w"), col("n_pieces"), col("is_unk"))
    words.join(segd, Seq("w"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_pieces"), lit(1L))).as("n_pieces"),
        sum(coalesce(col("is_unk").cast("long"), lit(1L))).as("n_unk_words"))
  }
}
