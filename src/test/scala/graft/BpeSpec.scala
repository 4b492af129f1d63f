package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train learns the classic merge sequence on the textbook corpus") {
    // Sennrich et al.'s worked example: low*5, lower*2, newest*6,
    // widest*3. Pair counts round 1: (e,s)=9, (s,t)=9, (t,</w>)=9 —
    // lexicographic tiebreak picks (e,s); then (es,t)=9, (est,</w>)=9,
    // then (l,o)=7 vs (o,w)=7 -> (l,o), then (lo,w)=7.
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    ).map(Tuple1(_)).toDF("text")
    val merges = Bpe.train(docs, col("text"), numMerges = 5)
      .orderBy("rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(merges == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L),
      (4, "l", "o", "lo", 7L),
      (5, "lo", "w", "low", 7L)))
  }

  test("merge is greedy left-to-right and respects symbol boundaries") {
    // "aaa" -> a a a </w>: merging (a,a) must produce aa a (one merge,
    // not an overlapping chain), and must NOT touch the "aa" inside a
    // longer symbol on later rounds
    val docs = Seq.fill(4)("aaa").map(Tuple1(_)).toDF("text")
    val merges = Bpe.train(docs, col("text"), numMerges = 3)
      .orderBy("rank").as[(Int, String, String, String, Long)].collect().toSeq
    // round 1: (a,a) counts PER OCCURRENCE (classic get_stats): twice
    // per word × freq 4 = 8, beating (a,</w>)=4 — and the greedy
    // left-to-right merge of "a a a" yields "aa a", never "a aa"
    assert(merges.head == ((1, "a", "a", "aa", 8L)))
    // whatever the tie order, after 3 rounds the word is one symbol:
    // total merges = 3 and the last merged symbol spells a a a </w>
    assert(merges.size == 3)
    assert(merges.last._4.replace("</w>", "").forall(_ == 'a'))
  }

  test("trainModel lexicon segments seen words; segment counts OOV by char fallback") {
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    ).map(Tuple1(_)).toDF("text")
    val (_, lexicon) = Bpe.trainModel(docs, col("text"), numMerges = 5)
    // after es, est, est</w>, lo, low: "low" -> [low, </w>],
    // "newest" -> [n, e, w, est</w>]
    val segs = lexicon.select("w", "syms").as[(String, String)].collect().toMap
    assert(segs("low") == "low </w>")
    assert(segs("newest") == "n e w est</w>")
    val corpus = Seq((1L, "low newest zzz")).toDF("id", "text")
    val out = Bpe.segment(corpus, col("id"), col("text"), lexicon)
      .as[(Long, Long, Long, Long)].head()
    // 2 (low) + 4 (newest) + 4 ("zzz" OOV: 3 chars + </w>) = 10
    assert(out == ((1L, 3L, 10L, 1L)))
  }

  test("encodeIds: dense lexicographic vocab, exact long-format ids, unk marking") {
    // 5 merges on the textbook corpus leave "low" fully merged as
    // symbols: low -> ["low", "</w>"]  (merges: es, est, est</w>, lo, low)
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    ).map(Tuple1(_)).toDF("text")
    val (_, lexicon) = Bpe.trainModel(docs, col("text"), numMerges = 5)
    // vocab = sorted distinct symbols of the lexicon
    val vocab = lexicon.select(explode(split(col("syms"), " ")).as("s"))
      .distinct().as[String].collect().sorted
    val symId = vocab.zipWithIndex.toMap
    val enc = Bpe.encodeIds(
        Seq((1L, "low"), (2L, "low zzz")).toDF("id", "text"),
        col("id"), col("text"), lexicon)
      .orderBy("id", "word_pos", "sym_pos")
      .as[(Long, Int, Int, Long, Boolean)].collect().toSeq
    // doc 1: "low" -> lexicon syms, every id resolvable, none unk
    val d1 = enc.filter(_._1 == 1L)
    assert(d1.map(_._4) == lexicon.filter(col("w") === "low")
      .select(split(col("syms"), " ")).as[Seq[String]].head()
      .map(s => symId(s).toLong))
    assert(d1.forall(!_._5))
    // doc 2's "zzz" is OOV: char fallback z z z </w>; 'z' is not in
    // the training alphabet -> unk id = |vocab|, flagged
    val d2z = enc.filter(t => t._1 == 2L && t._2 == 1)
    assert(d2z.length == 4)
    assert(d2z.take(3).forall(t => t._4 == vocab.length.toLong && t._5))
    // the fallback's "</w>" IS in the vocab -> real id, not unk
    assert(d2z.last._4 == symId("</w>").toLong && !d2z.last._5)
  }

  test("oracle double-space replace == mergeWord on shared-delimiter ladders") {
    // the q_bpe_merges oracle runs on DuckDB, whose RE2 regex has no
    // lookarounds; it doubles delimiters so plain replace() consumes
    // only private spaces. Pin that it equals the trainer's shipped
    // merge step on the adversarial shapes: runs of the same symbol
    // (shared delimiters), pair at start/end, merged-symbol adjacency.
    def shipped(syms: String, a: String, b: String): String =
      Bpe.mergeWord(syms.split(" "), a, b, a + b).mkString(" ")
    def oracle(syms: String, a: String, b: String): String = {
      val doubled = "  " + syms.replace(" ", "  ") + "  "
      val replaced = doubled.replace(s" $a  $b ", s" $a$b ")
      replaced.replaceAll(" +", " ").trim
    }
    val cases = Seq(
      ("a a a a", "a", "a"), // shared delimiters: greedy pairs -> "aa aa"
      ("a a a", "a", "a"), // odd run -> "aa a"
      ("x a a a y", "a", "a"),
      ("l o w </w>", "o", "w"),
      ("o w o w o w", "o", "w"), // every pair matches back-to-back
      ("a b a b", "b", "a"), // interior only: "a ba b"
      ("ab b ab b", "ab", "b"), // multi-char symbols
      ("a ab b", "a", "b"), // 'a b' never matches across 'ab'
      ("e r </w>", "e", "r"),
      ("x y", "y", "x")) // no match at all
    for ((s, a, b) <- cases)
      assert(shipped(s, a, b) == oracle(s, a, b),
        s"'$s' merge ($a,$b): shipped='${shipped(s, a, b)}' oracle='${oracle(s, a, b)}'")
    assert(shipped("a a a a", "a", "a") == "aa aa") // and the value itself
  }

  test("train is deterministic and stops when no pair clears minPairFreq") {
    val docs = Seq("unique words only here", "unique words only here")
      .map(Tuple1(_)).toDF("text")
    val a = Bpe.train(docs, col("text"), numMerges = 50)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val b = Bpe.train(docs, col("text"), numMerges = 50)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(a == b)
    // 4 words fully collapse; once every word is a single symbol there
    // are no adjacent pairs left and the loop must stop early
    assert(a.nonEmpty && a.size < 50)
  }

  test("roundTrip: bounded vocab marks exactly the words carrying cut symbols") {
    // hand lexicon: aa merged, bb/zz character-fallback. Weighted
    // symbol freq: </w>=5, aa=3, b=2, z=2 — vocabSize=3 keeps
    // {</w>, aa, b} (freq DESC, sym ASC tiebreak puts b before z),
    // so zz is the ONLY lossy word.
    val docs = Seq(("g1", "aa aa bb"), ("g2", "aa zz")).toDF("g", "text")
    val lexicon = Seq(("aa", "aa </w>"), ("bb", "b b </w>")).toDF("w", "syms")
    val rows = Bpe.roundTrip(docs, col("g"), col("text"), lexicon, vocabSize = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = rows("g1")
    assert(g1.getAs[Long]("n_words") == 3L && g1.getAs[Long]("n_lossy_words") == 0L
      && g1.getAs[Double]("fidelity") == 1.0, g1.toString)
    val g2 = rows("g2")
    assert(g2.getAs[Long]("n_words") == 2L && g2.getAs[Long]("n_lossy_words") == 1L
      && g2.getAs[Double]("fidelity") == 0.5, g2.toString)
    // a big-enough vocab makes every word clean (the bound IS the loss)
    val full = Bpe.roundTrip(docs, col("g"), col("text"), lexicon, vocabSize = 10)
      .collect()
    assert(full.forall(_.getAs[Long]("n_lossy_words") == 0L))
  }

  test("trainModel == BpeReference: merges AND lexicon, ties, early exhaustion") {
    // BpeReference is the distributed merge loop (one Spark job per
    // round) the shipped driver-heap trainer replaced. Two corpora:
    // (1) textbook + tie-heavy filler + words that fully collapse,
    // over MORE merges than the corpus supports so both hit the
    // exhaustion path; (2) a seeded random corpus over a tiny
    // alphabet (many equal pair counts) mixing BMP letters above
    // U+E000 with supplementary-plane letters, where UTF-16 order and
    // code-point order disagree — the heap's tie-break must follow
    // the code-point order Spark's string sort uses.
    val textbook = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
        Seq.fill(4)("aaa") ++ Seq.fill(2)("banana bandana")
    ).map(Tuple1(_)).toDF("text")
    val rng = new scala.util.Random(17)
    val alphabet = Seq("a", "b", "\uff41", "\uff42", "\ud840\udc00", "\ud801\udc28")
    val random = Seq.fill(60) {
      Seq.fill(1 + rng.nextInt(4)) {
        Seq.fill(1 + rng.nextInt(4))(alphabet(rng.nextInt(alphabet.size))).mkString
      }.mkString(" ")
    }.map(Tuple1(_)).toDF("text")
    for ((docs, numMerges) <- Seq((textbook, 40), (random, 25))) {
      val (rm, rl) = BpeReference.trainModel(docs, col("text"), numMerges)
      val (m, l) = Bpe.trainModel(docs, col("text"), numMerges)
      val rms = rm.orderBy("rank").as[(Int, String, String, String, Long)].collect().toSeq
      val ms = m.orderBy("rank").as[(Int, String, String, String, Long)].collect().toSeq
      assert(ms == rms)
      val rlx = rl.select("w", "syms", "freq").orderBy("w")
        .as[(String, String, Long)].collect().toSeq
      val lx = l.select("w", "syms", "freq").orderBy("w")
        .as[(String, String, Long)].collect().toSeq
      assert(lx == rlx)
    }
  }

  test("trainModel maxWords cap drops the Zipf tail from training, not from minPairFreq") {
    // 3 distinct words; cap at 2 keeps the two most frequent. The cut
    // word's pairs never enter the counts, so merges reflect only the
    // kept head — and the lexicon has exactly maxWords rows.
    val docs = (Seq.fill(6)("fee") ++ Seq.fill(4)("fie") ++ Seq.fill(1)("foe"))
      .map(Tuple1(_)).toDF("text")
    val (m, lx) = Bpe.trainModel(docs, col("text"), numMerges = 10,
      minPairFreq = 1L, maxWords = Some(2))
    assert(lx.count() == 2L)
    assert(lx.select("w").as[String].collect().toSet == Set("fee", "fie"))
    // no merge may mention 'o' (only 'foe' carries it)
    val syms = m.select("merged").as[String].collect()
    assert(syms.forall(!_.contains("o")))
  }

  test("trainModel fails loudly past the measured driver-heap word bound") {
    val docs = Seq("a b c").map(Tuple1(_)).toDF("text")
    // above the measured ~12.7 GB envelope: refuse unless opted in
    val e = intercept[IllegalArgumentException] {
      Bpe.trainModel(docs, col("text"), numMerges = 1,
        maxWords = Some(Bpe.localTrainWordBound + 1))
    }
    assert(e.getMessage.contains("driver-heap") &&
      e.getMessage.contains("allowLargeLexicon"), e.getMessage)
    // the deliberate opt-in path still trains
    val (m, lx) = Bpe.trainModel(docs, col("text"), numMerges = 1,
      minPairFreq = 1L, maxWords = Some(Bpe.localTrainWordBound + 1),
      allowLargeLexicon = true)
    assert(lx.count() == 3L && m.count() == 1L)
  }

  test("trainModel without maxWords fails with the word-table guard, never truncates") {
    // one distinct word past the default cap: training on the top
    // defaultMaxWords would silently change the merges, so the call
    // without an explicit maxWords must fail loudly and name the knob
    val wf = spark.range(Bpe.defaultMaxWords.toLong + 1)
      .select(concat(lit("w"), col("id").cast("string")).as("w"), lit(1L).as("freq"))
    val e = intercept[IllegalArgumentException] {
      Bpe.trainModelLocalFromWords(wf, numMerges = 1)
    }
    assert(e.getMessage.contains("word-table guard") &&
      e.getMessage.contains("maxWords"), e.getMessage)
    // passing maxWords explicitly opts into the tail-sampling contract
    val (_, lx) = Bpe.trainModelLocalFromWords(wf, numMerges = 1,
      minPairFreq = 1L, maxWords = Some(10))
    assert(lx.count() == 10L)
  }

  test("train runs a constant number of Spark jobs, independent of numMerges") {
    // the merge rounds are driver heap arithmetic: building the merge
    // table runs only the corpus word-frequency pass, so 30 merges
    // cost the same jobs as 5 (the distributed loop ran ~2 per merge)
    val sc = spark.sparkContext
    val docs = (1 to 300).map { i =>
      Tuple1(Seq.tabulate(3)(j => Integer.toString(i * 7 + j * 131, 5)).mkString(" "))
    }.toDF("text")
    def jobsFor(numMerges: Int): (Int, Long) = {
      val tag = s"bpe-jobs-$numMerges-${System.nanoTime()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag)
            jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty("graft.test.tag", tag)
      val merges = try Bpe.train(docs, col("text"), numMerges).collect().length
      finally {
        sc.setLocalProperty("graft.test.tag", null)
        ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      (jobs.get, merges.toLong)
    }
    val (j5, m5) = jobsFor(5)
    val (j30, m30) = jobsFor(30)
    assert(m5 == 5L && m30 == 30L) // neither run exhausted early
    assert(j5 >= 1 && j30 == j5 && j30 <= 5, s"jobs: 5 merges=$j5, 30 merges=$j30")
  }
}
