package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.tokens

/** BPE vocabulary induction (Sennrich et al., ACL'16 — the
  * tokenizer-training step of every LLM data pipeline): learn the
  * top-`numMerges` byte-pair merges from a corpus by repeatedly
  * merging the most frequent adjacent symbol pair.
  *
  * Scale shape: the CORPUS is touched exactly once (tokenize →
  * word-frequency aggregate, one partial-aggregated shuffle) and the
  * top words by (freq desc, w asc) are collected to the driver. BPE
  * training only ever reads that WORD-FREQUENCY table, whose size is
  * sublinear in corpus bytes (Heaps' law) — the same "model artifacts
  * are driver metadata" contract as IVF centroids and the subword
  * vocab (SURVEY §5 j). Every merge round is then heap arithmetic on
  * the driver: a TreeSet keyed (count desc, left asc, right asc) plus
  * a pair→words inverted index, so each merge touches only the words
  * containing its pair — the O(merges × touched symbols) algorithm
  * production tokenizer trainers use. No merge round schedules a
  * Spark job: 30 merges and 32k merges pay the same one corpus pass.
  *
  * Word-table guard: the result is exact (every distinct word
  * trains) unless the caller passes `maxWords`. Without it, a corpus
  * with more than [[defaultMaxWords]] distinct words fails loudly
  * rather than training on a silently truncated table. With it, only
  * the top `maxWords` words train and the Zipf tail later segments as
  * OOV char-splits ([[segment]] counts them in `n_oov_words`) — the
  * documented sampling contract of SentencePiece-class trainers.
  *
  * Determinism: ties on pair frequency break by code point (left
  * asc, right asc), so the merge table is a pure function of the
  * corpus; the q_bpe_merges oracle replays it as a recursive CTE.
  *
  * Returns (rank, left, right, merged, freq): rank 1 = first merge
  * learned, freq = the pair's corpus frequency when merged. Applying
  * the merges to encode text is a serving-side concern (the merge
  * table is tiny and exports to any tokenizer runtime); training is
  * the data-engine's job.
  */
object Bpe {

  /** End-of-word marker, kept out of the per-char alphabet. */
  val EndOfWord = "</w>"

  /** Distinct-word count past which a caller that did not pass
    * `maxWords` gets the word-table guard's failure instead of a
    * truncated training table. A table this size peaked at ~6.3 GB
    * driver heap over 32k merges (TOKENIZER_PROBE r14).
    */
  val defaultMaxWords: Int = 1000000

  def train(
      df: DataFrame,
      text: Column,
      numMerges: Int,
      minPairFreq: Long = 2L): DataFrame =
    trainModel(df, text, numMerges, minPairFreq)._1

  /** [[train]] plus the LEXICON it induces: (merges, lexicon) where
    * lexicon = (w, syms, freq) maps every training word to its final
    * space-joined subword segmentation — the join table [[segment]]
    * consumes. Persisting both is the whole tokenizer artifact.
    * `maxWords` and `allowLargeLexicon` are the word-table guard's
    * knobs (see [[Bpe]] and [[localTrainWordBound]]).
    */
  def trainModel(
      df: DataFrame,
      text: Column,
      numMerges: Int,
      minPairFreq: Long = 2L,
      maxWords: Option[Int] = None,
      allowLargeLexicon: Boolean = false): (DataFrame, DataFrame) = {
    val wordFreq = scaleOut(df.select(text.as("__text")))
      .select(explode(tokens(col("__text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    trainModelLocalFromWords(wordFreq, numMerges, minPairFreq, maxWords,
      allowLargeLexicon)
  }

  /** Code-point (== UTF-8 binary == Spark UTF8String) string order, so
    * driver-side tie-breaks agree with Spark's (and DuckDB's) string
    * `ORDER BY` even past the BMP (Java's compareTo orders by UTF-16
    * unit and ranks supplementary chars below U+E000..U+FFFF — wrong
    * for this).
    */
  private def cpCompare(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** MEASURED driver-heap bound for the merge loop (TOKENIZER_PROBE
    * r14, 32,768 merges): maxWords = 1M peaks at ~6.3 GB driver heap,
    * the full 4.24M-word Zipf lexicon at ~12.7 GB — roughly 3 GB per
    * million retained words. Past this bound a default driver dies in
    * an OutOfMemoryError with no hint of which knob caused it, so
    * [[trainModel]] fails LOUDLY at maxWords > this unless the caller
    * opts in (the senMaxN idiom: raising the cap is a deliberate act
    * with a sized JVM, never an accident).
    */
  val localTrainWordBound: Int = 4250000

  /** One greedy left-to-right BPE merge of (a, b) into `ab` over a
    * word's symbols: non-overlapping, so "a a a" → "aa a".
    */
  private[graft] def mergeWord(
      s: Array[String], a: String, b: String, ab: String): Array[String] = {
    val out = Array.newBuilder[String]
    var k = 0
    while (k < s.length) {
      if (k + 1 < s.length && s(k) == a && s(k + 1) == b) { out += ab; k += 2 }
      else { out += s(k); k += 1 }
    }
    out.result()
  }

  /** [[trainModel]] over a precomputed (w, freq) table — the
    * [[Wordpiece.buildVocabFromWords]] seam for this family: callers
    * that already paid the corpus tokenize pass (or probe harnesses
    * feeding synthetic Zipf vocabularies) skip straight to the merge
    * loop. Same word-table guard as [[trainModel]].
    */
  def trainModelLocalFromWords(
      wordFreqDf: DataFrame,
      numMerges: Int,
      minPairFreq: Long = 2L,
      maxWords: Option[Int] = None,
      allowLargeLexicon: Boolean = false): (DataFrame, DataFrame) = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val cap = maxWords.getOrElse(defaultMaxWords)
    require(cap >= 1, "maxWords must be >= 1")
    require(cap <= localTrainWordBound || allowLargeLexicon,
      s"maxWords=$cap exceeds the measured driver-heap bound " +
        s"($localTrainWordBound words ~ 12.7 GB peak heap; ~3 GB per " +
        "million retained words, TOKENIZER_PROBE r14). A lexicon this " +
        "size silently OOMs a default driver mid-merge-loop. Pass " +
        "allowLargeLexicon = true deliberately with a sized JVM, or " +
        "keep the cap and let the Zipf tail segment as OOV.")
    val spark = wordFreqDf.sparkSession
    // one row past the default cap tells "fits" from "would truncate"
    val wordFreq = wordFreqDf
      .select(col("w").cast("string").as("w"), col("freq").cast("long").as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(if (maxWords.isDefined) cap else cap + 1)
      .collect()
    if (wordFreq.length > cap)
      throw new IllegalArgumentException(
        s"BPE word-table guard: the corpus has more than $cap distinct " +
          "words, and training on the top ones only would silently change " +
          "the merges. Pass maxWords explicitly to train on the top-maxWords " +
          "words (the Zipf tail then segments as OOV).")

    import scala.collection.mutable
    val n = wordFreq.length
    val syms = new Array[Array[String]](n)
    val freqs = new Array[Long](n)
    val wtexts = new Array[String](n)
    var i = 0
    while (i < n) {
      val w = wordFreq(i).getString(0)
      wtexts(i) = w
      freqs(i) = wordFreq(i).getLong(1)
      val cps = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
      syms(i) = cps :+ EndOfWord
      i += 1
    }

    val cnt = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    implicit val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1) // count DESC
          if (c != 0) c
          else {
            val a = cpCompare(x._2, y._2) // left ASC
            if (a != 0) a else cpCompare(x._3, y._3) // right ASC
          }
        }
      }
    val heap = mutable.TreeSet.empty[(Long, String, String)]

    def pairsOf(s: Array[String]): Iterator[(String, String)] =
      (0 until s.length - 1).iterator.map(k => (s(k), s(k + 1)))

    def bump(p: (String, String), d: Long): Unit = {
      val old = cnt.getOrElse(p, 0L)
      val nu = old + d
      if (old > 0) heap.remove((old, p._1, p._2))
      if (nu > 0) {
        cnt(p) = nu
        heap.add((nu, p._1, p._2))
      } else cnt.remove(p)
    }

    i = 0
    while (i < n) {
      pairsOf(syms(i)).foreach { p =>
        bump(p, freqs(i))
        occ.getOrElseUpdate(p, mutable.Set.empty) += i
      }
      i += 1
    }

    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      if (heap.isEmpty || heap.head._1 < minPairFreq) exhausted = true
      else {
        val (pf, a, b) = heap.head
        val ab = a + b
        merges += ((rank, a, b, ab, pf))
        val touched = occ.getOrElse((a, b), mutable.Set.empty).toArray
        occ.remove((a, b))
        touched.foreach { wi =>
          val before = syms(wi)
          val after = mergeWord(before, a, b, ab)
          // pair-count delta for this word: retract old adjacencies,
          // assert new ones; inverted index follows presence
          pairsOf(before).foreach(p => bump(p, -freqs(wi)))
          pairsOf(after).foreach(p => bump(p, freqs(wi)))
          val oldSet = pairsOf(before).toSet
          val newSet = pairsOf(after).toSet
          (oldSet -- newSet).foreach { p =>
            occ.get(p).foreach { s => s -= wi; if (s.isEmpty) occ.remove(p) }
          }
          (newSet -- oldSet).foreach { p =>
            occ.getOrElseUpdate(p, mutable.Set.empty) += wi
          }
          syms(wi) = after
        }
        rank += 1
      }
    }

    import spark.implicits._
    val lexicon = (0 until n).map(k => (wtexts(k), syms(k).mkString(" "), freqs(k)))
      .toDF("w", "syms", "freq")
    (merges.result().toDF("rank", "left", "right", "merged", "freq"), lexicon)
  }

  /** Segment a corpus with a trained lexicon: per-doc subword counts
    * under the REAL learned tokenizer (vs the BPE-ish regex of
    * `TextMetrics.withTokenCounts`) — the token accounting that
    * budget planning ([[Sampling.mixtureToBudget]]) and sequence
    * packing ([[Packing.packSequences]]) should run on.
    *
    * Each tokenized word left-joins the lexicon (a keyed join; AQE
    * broadcasts it when it is small enough). Words unseen in training
    * fall back to their character segmentation — length + 1 symbols,
    * exactly what applying zero matching merges yields — and are
    * counted in `n_oov_words` so the caller can monitor lexicon
    * coverage drift between corpus snapshots.
    */
  def segment(df: DataFrame, id: Column, text: Column, lexicon: DataFrame): DataFrame = {
    val lex = lexicon.select(col("w"), size(split(col("syms"), " ")).as("__n_sub"))
    scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(tokens(col("__t"))).as("w"))
      .join(lex, Seq("w"), "left")
      .select(col("id"),
        coalesce(col("__n_sub"), length(col("w")) + 1).cast("long").as("n_sub"),
        col("__n_sub").isNull.cast("long").as("oov"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        sum(col("oov")).as("n_oov_words"))
  }

  /** Encode a corpus to SUBWORD IDS under a trained lexicon — the
    * model-feed step after [[segment]]'s accounting. Output is LONG
    * format (doc, word_pos, sym_pos, sym_id), one row per subword
    * occurrence, deliberately ([[Similarity.centroids]]' reasoning):
    * no per-doc array reassembly, so the whole encode is explodes +
    * keyed joins at any corpus size, and the sequence writer downstream
    * orders by (id, word_pos, sym_pos) as it packs.
    *
    * The vocabulary is the lexicon's distinct symbol set with DENSE
    * lexicographic ids — derived once and joined back (broadcastable:
    * vocabularies are config-sized). A symbol outside the vocabulary
    * (a character the training corpus never saw) encodes as `unk_id` =
    * vocab size; `is_unk` marks it for coverage monitoring. OOV WORDS
    * (absent from the lexicon) fall back to character segmentation,
    * [[segment]]'s contract.
    */
  def encodeIds(
      df: DataFrame, id: Column, text: Column, lexicon: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // vocab ids are MODEL METADATA (like the merge table and IVF
    // centroids): vocab-bounded driver list, sorted for determinism
    val vocab = lexicon
      .select(explode(split(col("syms"), " ")).as("sym")).distinct()
      .collect().map(_.getString(0)).sorted
    val unkId = vocab.length.toLong
    val vocabDf = vocab.toSeq.zipWithIndex
      .map { case (s, i) => (s, i.toLong) }.toDF("sym", "sym_id")
    val lex = lexicon.select(col("w"), col("syms"))
    val words = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), posexplode(tokens(col("__t"))).as(Seq("word_pos", "w")))
    // OOV words -> character segmentation + end-of-word marker (what
    // zero matching merges would leave)
    val seg = words.join(lex, Seq("w"), "left")
      .select(col("id"), col("word_pos"),
        split(coalesce(col("syms"),
          concat(trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" " + EndOfWord))),
          " ").as("__syms"))
    seg.select(col("id"), col("word_pos"),
        posexplode(col("__syms")).as(Seq("sym_pos", "sym")))
      .join(broadcast(vocabDf), Seq("sym"), "left")
      .select(col("id"), col("word_pos"), col("sym_pos"),
        coalesce(col("sym_id"), lit(unkId)).as("sym_id"),
        col("sym_id").isNull.as("is_unk"))
  }

  /** D132: tokenizer ID round-trip audit under a BOUNDED vocabulary —
    * the coverage question a fixed id budget forces: real model feeds
    * cap the symbol table, and every symbol that misses the cut
    * encodes as `unk`, so decode(encode(w)) ≠ w for any word carrying
    * one. A word round-trips exactly iff ALL its segmentation symbols
    * sit inside the top-`vocabSize` symbols by occurrence-weighted
    * corpus frequency (tie-break: freq DESC, symbol ASC —
    * deterministic); segmentation itself always concatenates back
    * (it partitions the word), so the unk id IS the only lossy step.
    *
    * Shape at scale: one tokenize pass → per-(group, word) occurrence
    * counts; segmentation + the lossy flag are computed on the
    * DISTINCT-WORD frame only (corpus-vocabulary-bounded, the
    * [[segment]] join discipline) and joined back; the symbol ranking
    * is one partial-agg over exploded distinct-word symbols weighted
    * by occurrences. Returns (key, n_words, n_lossy_words, fidelity)
    * — fidelity = 1 − lossy/total, 4-dp floor (non-negative).
    */
  def roundTrip(df: DataFrame, group: Column, text: Column,
      lexicon: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val words = scaleOut(df.select(group.cast("string").as("key"), text.as("__t")))
      .select(col("key"), explode(tokens(col("__t"))).as("w"))
    val occ = words.groupBy("key", "w").agg(count(lit(1)).as("n_occ"))
    val lex = lexicon.select(col("w"), col("syms"))
    val seg = occ.select("w").distinct()
      .join(lex, Seq("w"), "left")
      .select(col("w"),
        split(coalesce(col("syms"),
          concat(trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" " + EndOfWord))),
          " ").as("__syms"))
    val wOcc = occ.groupBy("w").agg(sum(col("n_occ")).as("__w_occ"))
    val topK = seg.join(wOcc, Seq("w"))
      .select(explode(col("__syms")).as("sym"), col("__w_occ"))
      .groupBy("sym").agg(sum(col("__w_occ")).as("__freq"))
      .orderBy(col("__freq").desc, col("sym").asc)
      .limit(vocabSize)
      .select(col("sym"), lit(1L).as("__in"))
    val lossy = seg.select(col("w"), explode(col("__syms")).as("sym"))
      .join(broadcast(topK), Seq("sym"), "left")
      .groupBy("w")
      .agg(max(when(col("__in").isNull, 1L).otherwise(0L)).as("__lossy"))
    occ.join(lossy, Seq("w"))
      .groupBy("key")
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("__lossy") * col("n_occ")).as("n_lossy_words"))
      .select(col("key"), col("n_words"), col("n_lossy_words"),
        (floor((lit(1.0) - col("n_lossy_words").cast("double")
          / col("n_words").cast("double")) * 1e4) / 1e4).as("fidelity"))
  }
}
