package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.tokens

/** Unigram-LM subword tokenizer (Kudo ACL'18, the SentencePiece
  * unigram model) — the OTHER major tokenizer family next to [[Bpe]]:
  * where BPE grows a vocabulary bottom-up by merging, unigram starts
  * from a large seed of candidate pieces and PRUNES toward the target
  * size under an EM-estimated piece-probability model; segmentation is
  * the Viterbi-best split under those probabilities.
  *
  * Simplifications vs the reference implementation, both documented
  * and deliberate:
  *   - HARD-EM (Viterbi counts) instead of full forward-backward
  *     expected counts — the standard "Viterbi EM" variant; counts
  *     stay exact integers so every aggregation is order-independent.
  *   - Count-based pruning (drop lowest-count non-essential pieces per
  *     round) instead of likelihood-loss ranking.
  *
  * Scale shape (the [[Bpe]] discipline): the corpus is touched ONCE
  * (word-frequency partial agg); every training pass after that runs
  * over the DISTINCT-WORD table (Heaps-law bounded, not corpus-sized);
  * the vocabulary is config-sized driver metadata (the IVF-centroid
  * contract) broadcast into a partition-local Viterbi kernel
  * ([[Packing.binPackFFD]]'s justified-mapPartitions class — lattice
  * DP has loop-carried state no expression tree expresses); piece
  * counts flow back through one partial-aggregated groupBy per EM
  * round. Segmentation Viterbi-decodes each distinct word once and
  * joins occurrences back (AQE-broadcastable keyed join — the
  * [[Bpe.segment]] shape). Determinism: no RNG anywhere — seed
  * selection, EM counts, pruning, and Viterbi tie-breaks are all
  * (count desc, piece asc) / first-maximizer rules, so retraining on
  * identical data is byte-identical.
  */
object Unigram {

  /** Log-prob floor used for unknown single characters at segmentation
    * time — harsher than any real piece so the decoder only falls back
    * when it must; flagged `is_unk` in the output.
    */
  val UnkLogProb: Double = -1e3

  private val pieceSchema = StructType(Seq(
    StructField("piece", StringType), StructField("cnt", LongType)))

  private val segSchema = StructType(Seq(
    StructField("w", StringType),
    StructField("piece_pos", IntegerType),
    StructField("piece", StringType),
    StructField("is_unk", BooleanType)))

  private val countSchema = StructType(Seq(
    StructField("w", StringType),
    StructField("__np", IntegerType),
    StructField("__nu", IntegerType)))

  /** Viterbi-best segmentation of one word under the model: maximize
    * the sum of piece log-probs; unknown single chars get
    * [[UnkLogProb]]. Tie-break: positions fill left to right and the
    * FIRST maximizer at each DP cell wins with split points scanned
    * ascending — i.e. the longest last-piece is preferred on exact
    * ties. Deterministic for a fixed model.
    */
  private[operators] def viterbi(
      word: String,
      vocab: java.util.HashMap[String, java.lang.Double],
      maxLen: Int): Array[(String, Boolean)] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    val unk = Array.fill(n + 1)(false)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val piece = word.substring(j, i)
        val lp = vocab.get(piece)
        if (lp != null && best(j) + lp > best(i)) {
          best(i) = best(j) + lp; back(i) = j; unk(i) = false
        }
        j += 1
      }
      // single-char unk fallback keeps every word decodable
      if (best(i - 1) + UnkLogProb > best(i)) {
        best(i) = best(i - 1) + UnkLogProb; back(i) = i - 1; unk(i) = true
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    var p = n
    while (p > 0) {
      val j = back(p)
      out += ((word.substring(j, p), unk(p)))
      p = j
    }
    out.reverseIterator.toArray
  }

  /** One hard-EM pass: Viterbi-decode every distinct word under the
    * current model, emit (piece, count·wordFreq) pairs (unk fallbacks
    * excluded — they are not vocabulary), partial-agg sum. Returns the
    * vocab-sized count frame collected as driver metadata.
    */
  private def emCounts(
      words: DataFrame, // (w, freq)
      vocab: Map[String, Double],
      maxLen: Int): Map[String, Long] = {
    val spark = words.sparkSession
    val bc = spark.sparkContext.broadcast(vocab)
    val counts = words.mapPartitions { rows =>
      val vm = new java.util.HashMap[String, java.lang.Double]()
      bc.value.foreach { case (k, v) => vm.put(k, v) }
      rows.flatMap { r =>
        val w = r.getString(0); val f = r.getLong(1)
        viterbi(w, vm, maxLen).iterator.collect {
          case (piece, false) => Row(piece, f)
        }
      }
    }(org.apache.spark.sql.Encoders.row(pieceSchema))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts
  }

  /** Smoothed log-probs from exact integer counts: (c + 0.5) /
    * (total + 0.5·V) — the [[Preference.bradleyTerry]] +0.5 discipline
    * keeps zero-count pieces finite until pruning removes them.
    *
    * Truncated to the 7-dp floor grid (the decimal-lane idiom): the
    * ratio itself is one correctly-rounded IEEE division (identical
    * bits on every engine), but ln() is libm-dependent at the last
    * ulp — the floor grid absorbs that, making the model (and every
    * downstream Viterbi comparison, which is then pure IEEE double
    * addition in a fixed order) engine-portable. This is what lets
    * the q_unigram_train oracle replay training bit-for-bit in DuckDB.
    */
  private def logProbs(counts: Map[String, Long]): Map[String, Double] = {
    val total = counts.values.sum.toDouble
    val v = counts.size
    counts.map { case (p, c) =>
      p -> math.floor(math.log((c + 0.5) / (total + 0.5 * v)) * 1e7) / 1e7
    }
  }

  /** Train a unigram-LM vocabulary of `vocabSize` pieces. Returns the
    * model frame (piece, log_prob, piece_count) ordered by piece —
    * persist it like any index artifact; [[segmentPieces]] /
    * [[segmentCounts]] consume it.
    *
    * Stages: (1) seed = the `seedSize` highest-frequency substrings
    * (length ≤ `maxPieceLen`, occurrence-counted × word frequency)
    * plus ALL single characters (never pruned — they guarantee
    * decodability); (2) hard-EM recount under the seed model;
    * (3) prune rounds — keep singles + the top `pruneFactor` fraction
    * of multi-char pieces by (count desc, piece asc), recount via EM,
    * until `vocabSize` is reached; (4) the final recount defines the
    * returned counts/probs.
    */
  def train(
      df: DataFrame,
      text: Column,
      vocabSize: Int,
      seedSize: Int = 2000,
      maxPieceLen: Int = 8,
      pruneFactor: Double = 0.75): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(pruneFactor > 0 && pruneFactor < 1, "pruneFactor in (0,1)")
    val spark = df.sparkSession
    // ONE corpus pass: distinct words + frequencies
    val wf = scaleOut(df.select(text.as("__text")))
      .select(explode(tokens(col("__text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .transform(materialize(_))
    // candidate substrings with occurrence multiplicity × word freq
    val cand = wf.select(
        explode(flatten(transform(
          sequence(lit(0), length(col("w")) - 1),
          s => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - s)),
            l => col("w").substr(s + 1, l))))).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .transform(materialize(_))
    val singles = cand.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val topMulti = cand.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(math.max(0, seedSize - singles.size))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var counts: Map[String, Long] = singles ++ topMulti
    // pieces the Viterbi never used keep a zero count (prune fodder)
    val em0 = emCounts(wf, logProbs(counts), maxPieceLen).withDefaultValue(0L)
    counts = counts.map { case (p, _) => p -> em0(p) }
    val floorSize = math.max(vocabSize, singles.size)
    while (counts.size > floorSize) {
      val target =
        math.max(floorSize, (counts.size * pruneFactor).toInt)
      val keepMulti = counts.iterator
        .filter { case (p, _) => p.length > 1 }
        .toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, target - singles.size))
      val kept = singles.keySet ++ keepMulti.map(_._1)
      val pruned = counts.filter { case (p, _) => kept(p) }
      val em = emCounts(wf, logProbs(pruned), maxPieceLen).withDefaultValue(0L)
      counts = pruned.map { case (p, _) => p -> em(p) }
    }
    val lp = logProbs(counts)
    import spark.implicits._
    counts.toSeq.map { case (p, c) => (p, lp(p), c) }
      .sortBy(_._1)
      .toDF("piece", "log_prob", "piece_count")
  }

  private def modelMap(model: DataFrame): Map[String, Double] =
    model.select(col("piece"), col("log_prob"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** Longest piece in the model bounds the Viterbi lookback. */
  private def modelMaxLen(m: Map[String, Double]): Int =
    if (m.isEmpty) 1 else m.keysIterator.map(_.length).max

  /** Viterbi-segment a corpus under a trained model, LONG format:
    * (id, word_pos, w, piece_pos, piece, is_unk) — one row per emitted
    * piece, no per-doc array reassembly ([[Bpe.encodeIds]] reasoning).
    * Each DISTINCT word decodes once; occurrences join the decoded
    * frame back (AQE-broadcastable keyed join).
    */
  def segmentPieces(
      df: DataFrame, id: Column, text: Column, model: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val m = modelMap(model)
    val maxLen = modelMaxLen(m)
    val bc = spark.sparkContext.broadcast(m)
    val occ = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), posexplode(tokens(col("__t"))).as(Seq("word_pos", "w")))
    val decoded = occ.select("w").distinct()
      .mapPartitions { rows =>
        val vm = new java.util.HashMap[String, java.lang.Double]()
        bc.value.foreach { case (k, v) => vm.put(k, v) }
        rows.flatMap { r =>
          val w = r.getString(0)
          viterbi(w, vm, maxLen).iterator.zipWithIndex.map {
            case ((piece, unk), i) => Row(w, i, piece, unk)
          }
        }
      }(org.apache.spark.sql.Encoders.row(segSchema))
    occ.join(decoded, Seq("w"))
      .select(col("id"), col("word_pos"), col("w"),
        col("piece_pos"), col("piece"), col("is_unk"))
  }

  /** Per-document accounting under the trained tokenizer — the honest
    * token-count feed for budget planning / packing, plus lexicon-
    * coverage drift (`n_unk_pieces`): (id, n_words, n_pieces,
    * n_unk_pieces, pieces_per_word 4-dp floor).
    */
  def segmentCounts(
      df: DataFrame, id: Column, text: Column, model: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val m = modelMap(model)
    val maxLen = modelMaxLen(m)
    val bc = spark.sparkContext.broadcast(m)
    val occ = scaleOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(tokens(col("__t"))).as("w"))
    // decode each distinct word once; carry only its counts
    val decoded = occ.select("w").distinct()
      .mapPartitions { rows =>
        val vm = new java.util.HashMap[String, java.lang.Double]()
        bc.value.foreach { case (k, v) => vm.put(k, v) }
        rows.map { r =>
          val w = r.getString(0)
          val pieces = viterbi(w, vm, maxLen)
          Row(w, pieces.length, pieces.count(_._2))
        }
      }(org.apache.spark.sql.Encoders.row(countSchema))
    occ.join(decoded, Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("__np").cast("long")).as("n_pieces"),
        sum(col("__nu").cast("long")).as("n_unk_pieces"))
      .withColumn("pieces_per_word",
        Num.t4floor(col("n_pieces").cast("double") / col("n_words")))
  }
}
