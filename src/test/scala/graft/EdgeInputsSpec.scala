package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Behavior, Bpe, Dedup, Eval, Sampling, Stats, TextMetrics}

/** Degenerate inputs the unit specs miss: every case builds one
  * operator over an empty input, a singleton, a one-group key,
  * all-equal values or a short series, then forces every row. Pass =
  * the frame materializes without throwing (an ANSI arithmetic error,
  * a raw NPE or an empty-reduce crash fails the case).
  */
class EdgeInputsSpec extends SparkSpec {
  import spark.implicits._

  /** One named case: build the operator's frame and force every
    * column of every row — `count()` would let column pruning drop the
    * output projection, where the degenerate divisions live.
    */
  private def edge(name: String)(frame: => DataFrame): Unit =
    test(name) { frame.collect() }

  // (g, b, v) series shapes; thunks, so no frame is built before its test
  private val series: Seq[(String, () => DataFrame)] = Seq(
    "empty" -> (() => Seq.empty[(String, Long, Double)].toDF("g", "b", "v")),
    "single" -> (() => Seq(("g", 1L, 5.0)).toDF("g", "b", "v")),
    "flat" -> (() => (0 until 5).map(i => ("g", i.toLong, 7.0)).toDF("g", "b", "v")),
    "short3" -> (() => (0 until 3).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "b", "v")))
  private def shape(nm: String): DataFrame = series.toMap.apply(nm)()

  for ((nm, df) <- series) {
    edge(s"ljungBox $nm")(Stats.ljungBox(df(), col("g"), col("b"), col("v"), maxLag = 3))
    edge(s"kpss $nm")(Stats.kpss(df(), col("g"), col("b"), col("v")))
    edge(s"durbinWatson $nm")(Stats.durbinWatson(df(), col("g"), col("b"), col("v")))
    edge(s"cooksDistance $nm")(Stats.cooksDistance(df(), col("g"), col("b"), col("v")))
    edge(s"grubbs $nm")(Stats.grubbs(df(), col("g"), col("v")))
    edge(s"bartlett $nm")(Stats.bartlett(df(), col("g"), col("v")))
    edge(s"forecastability $nm")(
      Stats.forecastability(df(), col("g"), col("b"), col("v"), period = 4))
    edge(s"rfm $nm")(Behavior.rfm(df().select(col("b").as("user_id"),
        (col("b") * 1000L).as("ts_ns"), col("v").as("value")),
      col("user_id"), col("ts_ns"), col("value")))
  }

  private val idDocs: Seq[(String, () => DataFrame)] = Seq(
    "emptyDocs" -> (() => Seq.empty[(Long, String)].toDF("id", "text")),
    "oneDoc" -> (() => Seq((1L, "just one document here")).toDF("id", "text")),
    "emptyText" -> (() => Seq((1L, ""), (2L, "   ")).toDF("id", "text")))
  private def emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")

  for ((nm, docs) <- idDocs) {
    edge(s"duplicatedNgramCoverage $nm")(
      Dedup.duplicatedNgramCoverage(docs(), col("id"), col("text"), 3, 2, 0.5))
    edge(s"weightedJaccardVerify $nm emptyPairs")(
      Dedup.weightedJaccardVerify(docs(), col("id"), col("text"), emptyPairs))
    edge(s"weightedJaccardVerify $nm onePair")(
      Dedup.weightedJaccardVerify(docs(), col("id"), col("text"),
        Seq((1L, 2L)).toDF("id_a", "id_b")))
    edge(s"duplicationWeights $nm")(
      Dedup.duplicationWeights(docs(), col("id"), emptyPairs))
  }

  edge("kruskalWallis empty")(Stats.kruskalWallis(shape("empty"), col("g"), col("v")))
  edge("kruskalWallis single")(Stats.kruskalWallis(shape("single"), col("g"), col("v")))
  edge("kruskalWallis all-tied")(Stats.kruskalWallis(shape("flat"), col("g"), col("v")))

  // kaplanMeier / logRank: empty, all-censored, single subject
  edge("km empty")(Stats.kaplanMeier(
    shape("empty").toDF("g", "dur", "obs").withColumn("obs", lit(true)),
    col("g"), col("dur"), col("obs")))
  edge("km all-censored")(Stats.kaplanMeier(
    Seq(("g", 1L, false), ("g", 2L, false)).toDF("g", "dur", "obs"),
    col("g"), col("dur"), col("obs")))
  edge("km single")(Stats.kaplanMeier(
    Seq(("g", 1L, true)).toDF("g", "dur", "obs"), col("g"), col("dur"), col("obs")))
  edge("logrank empty")(Stats.logRank(
    Seq.empty[(String, Long, Boolean)].toDF("g", "dur", "obs"),
    col("g"), col("dur"), col("obs"), "a", "b"))
  edge("logrank singleton-times")(Stats.logRank(
    Seq(("a", 1L, true), ("b", 1L, true)).toDF("g", "dur", "obs"),
    col("g"), col("dur"), col("obs"), "a", "b"))

  // cliffsDelta / wasserstein1d / hillTail: empty, one side, ties
  edge("cliffs empty")(Stats.cliffsDelta(
    Seq.empty[(Double, Boolean)].toDF("v", "a"), col("v"), col("a")))
  edge("cliffs all-ties")(Stats.cliffsDelta(
    Seq((1.0, true), (1.0, false), (1.0, true)).toDF("v", "a"), col("v"), col("a")))
  edge("emd empty")(Stats.wasserstein1d(
    Seq.empty[(String, Double)].toDF("g", "v"), col("g"), col("v"), "a", "b"))
  edge("emd one-side")(Stats.wasserstein1d(
    Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v"), col("g"), col("v"), "a", "b"))
  edge("emd single-value-both")(Stats.wasserstein1d(
    Seq(("a", 1.0), ("b", 1.0)).toDF("g", "v"), col("g"), col("v"), "a", "b"))
  edge("hill empty")(Stats.hillTail(shape("empty").select(col("g"), col("v")),
    col("g"), col("v"), k = 50))
  edge("hill all-equal")(Stats.hillTail(
    (1 to 100).map(_ => ("g", 5.0)).toDF("g", "v"), col("g"), col("v"), k = 10))
  edge("hill negatives-only")(Stats.hillTail(
    Seq(("g", -1.0), ("g", -2.0)).toDF("g", "v"), col("g"), col("v"), k = 10))

  // signFlipTest: empty, no paired subjects, one subject
  edge("signflip empty")(Stats.signFlipTest(
    Seq.empty[(Long, String, Double)].toDF("u", "g", "v"),
    col("u"), col("g"), col("v"), "a", "b"))
  edge("signflip unpaired")(Stats.signFlipTest(
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("u", "g", "v"),
    col("u"), col("g"), col("v"), "a", "b"))
  edge("signflip one-subject")(Stats.signFlipTest(
    Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("u", "g", "v"),
    col("u"), col("g"), col("v"), "a", "b"))

  // markovStationary: empty, one event per user (no transitions),
  // one state self-loops
  edge("markov empty")(Stats.markovStationary(
    Seq.empty[(Long, Long, Long, String)].toDF("u", "o", "tb", "s"),
    col("u"), col("o"), col("s"), col("tb")))
  edge("markov no-transitions")(Stats.markovStationary(
    Seq((1L, 0L, 0L, "a"), (2L, 0L, 0L, "b")).toDF("u", "o", "tb", "s"),
    col("u"), col("o"), col("s"), col("tb")))
  edge("markov one-state")(Stats.markovStationary(
    Seq((1L, 0L, 0L, "a"), (1L, 1L, 1L, "a")).toDF("u", "o", "tb", "s"),
    col("u"), col("o"), col("s"), col("tb")))

  // pageHinkley: empty, singleton, flat
  for (nm <- Seq("empty", "single", "flat"))
    edge(s"ph $nm")(Stats.pageHinkley(shape(nm), col("g"), col("b"), col("v")))

  // text metrics: empty corpus, blank strings, one source
  private def emptySrcDocs = Seq.empty[(String, String)].toDF("src", "text")
  edge("richness empty")(TextMetrics.lexicalRichness(emptySrcDocs, col("src"), col("text")))
  edge("richness blank")(TextMetrics.lexicalRichness(
    Seq(("s", ""), ("s", "   ")).toDF("src", "text"), col("src"), col("text")))
  edge("dispersion empty")(TextMetrics.termDispersion(emptySrcDocs, col("src"), col("text")))
  edge("dispersion one-source")(TextMetrics.termDispersion(
    Seq(("s", "a b c a")).toDF("src", "text"), col("src"), col("text")))
  edge("burrows empty")(TextMetrics.burrowsDelta(emptySrcDocs, col("src"), col("text")))
  edge("burrows one-source")(TextMetrics.burrowsDelta(
    Seq(("s", "a b c")).toDF("src", "text"), col("src"), col("text")))

  // rbo: empty, single item
  edge("rbo empty")(Eval.rbo(
    Seq.empty[(String, Long, Double, Double)].toDF("g", "id", "sa", "sb"),
    col("g"), col("id"), col("sa"), col("sb")))
  edge("rbo single")(Eval.rbo(
    Seq(("g", 1L, 1.0, 1.0)).toDF("g", "id", "sa", "sb"),
    col("g"), col("id"), col("sa"), col("sb")))

  // bpe trainer: empty corpus, single-char word
  edge("bpe-local empty")(Bpe.trainModel(
    Seq.empty[Tuple1[String]].toDF("text"), col("text"), 5)._1)
  edge("bpe-local single-char")(Bpe.trainModel(
    Seq(Tuple1("a a a")).toDF("text"), col("text"), 5)._1)

  // gTest / moodMedian / cramerVonMises / hosmerLemeshow / dunnTest /
  // pageTrend / rfmSketched / duplicatedNgramTrim / cvFolds
  private def emptyGv = Seq.empty[(String, Double)].toDF("g", "v")
  edge("gtest empty")(Stats.gTest(
    Seq.empty[(String, String)].toDF("a", "b"), col("a"), col("b")))
  edge("gtest one-cell")(Stats.gTest(Seq(("x", "y")).toDF("a", "b"), col("a"), col("b")))
  edge("mood empty")(Stats.moodMedian(emptyGv, col("g"), col("v")))
  edge("mood one-group")(Stats.moodMedian(
    Seq(("g", 1.0), ("g", 2.0)).toDF("g", "v"), col("g"), col("v")))
  edge("mood all-tied")(Stats.moodMedian(
    Seq(("a", 5.0), ("b", 5.0)).toDF("g", "v"), col("g"), col("v")))
  edge("cvm empty")(Stats.cramerVonMises(emptyGv, col("g"), col("v"), "a", "b"))
  edge("cvm one-side")(Stats.cramerVonMises(
    Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v"), col("g"), col("v"), "a", "b"))
  edge("hl empty")(Stats.hosmerLemeshow(
    Seq.empty[(Double, Boolean)].toDF("s", "y"), col("s"), col("y")))
  edge("hl one-score")(Stats.hosmerLemeshow(
    Seq((0.5, true), (0.5, false)).toDF("s", "y"), col("s"), col("y")))
  edge("dunn empty")(Stats.dunnTest(emptyGv, col("g"), col("v")))
  edge("dunn one-group")(Stats.dunnTest(
    Seq(("g", 1.0), ("g", 2.0)).toDF("g", "v"), col("g"), col("v")))
  edge("dunn all-tied")(Stats.dunnTest(
    Seq(("a", 5.0), ("b", 5.0)).toDF("g", "v"), col("g"), col("v")))
  edge("dunn single")(Stats.dunnTest(Seq(("a", 1.0)).toDF("g", "v"), col("g"), col("v")))
  edge("mannWhitney empty")(Stats.mannWhitney(
    Seq.empty[(Double, Boolean)].toDF("v", "a"), col("v"), col("a")))
  edge("mannWhitney single")(Stats.mannWhitney(
    Seq((1.0, true)).toDF("v", "a"), col("v"), col("a")))
  edge("page empty")(Eval.pageTrend(
    Seq.empty[(String, Long, Double)].toDF("i", "j", "v"), col("i"), col("j"), col("v")))
  edge("page k2")(Eval.pageTrend(
    Seq(("i", 1L, 1.0), ("i", 2L, 2.0)).toDF("i", "j", "v"), col("i"), col("j"), col("v")))
  edge("page all-tied")(Eval.pageTrend(
    (for { i <- 1 to 2; j <- 1 to 3 } yield (s"i$i", j.toLong, 1.0)).toDF("i", "j", "v"),
    col("i"), col("j"), col("v")))
  edge("rfm-sketched empty")(Behavior.rfmSketched(
    Seq.empty[(String, Long, Double)].toDF("u", "ts", "v"), col("u"), col("ts"), col("v")))
  edge("rfm-sketched single-user")(Behavior.rfmSketched(
    Seq(("u", 86400000000000L, 5.0)).toDF("u", "ts", "v"), col("u"), col("ts"), col("v")))
  edge("dup-trim empty")(Dedup.duplicatedNgramTrim(
    Seq.empty[(Long, String)].toDF("id", "text"), col("id"), col("text")))
  edge("dup-trim blank-doc")(Dedup.duplicatedNgramTrim(
    Seq((1L, ""), (2L, "a")).toDF("id", "text"), col("id"), col("text")))
  // dedupSpans / maskContamination: the excision rebuild with nothing
  // to excise (empty) and with a lone doc excised by its own repeats
  // or by itself as the probe (one-row)
  private def oneRow = Seq((1L, "a b a b a b")).toDF("id", "text")
  edge("dedup-spans empty")(Dedup.dedupSpans(
    Seq.empty[(Long, String)].toDF("id", "text"), col("id"), col("text")))
  edge("dedup-spans one-row")(Dedup.dedupSpans(oneRow, col("id"), col("text"), k = 2))
  edge("mask-contamination empty")(Dedup.maskContamination(
    Seq.empty[(Long, String)].toDF("id", "text"), col("id"), col("text"),
    Seq.empty[Tuple1[String]].toDF("text"), col("text")))
  edge("mask-contamination one-row")(Dedup.maskContamination(
    oneRow, col("id"), col("text"), oneRow, col("text"), n = 2))
  edge("cv-folds no-pairs")(Dedup.cvFolds(
    Seq((1L, "x")).toDF("id", "text"), col("id"), emptyPairs, col("id_a"), col("id_b")))
  edge("cv-folds empty")(Dedup.cvFolds(
    Seq.empty[(Long, String)].toDF("id", "text"), col("id"), emptyPairs,
    col("id_a"), col("id_b")))

  // two-phase stratifiedSample: the threshold join must treat the NULL
  // stratum / key like any other
  edge("strat empty")(Sampling.stratifiedSample(
    Seq.empty[(String, java.lang.Long)].toDF("g", "id"), col("g"), col("id"), 0.25))
  edge("strat null-group")(Sampling.stratifiedSample(
    Seq(("a", 1L), (null, 2L), (null, 3L)).toDF("g", "id"), col("g"), col("id"), 0.5))
  edge("strat null-key")(Sampling.stratifiedSample(
    Seq(("a", java.lang.Long.valueOf(1L)), ("a", null: java.lang.Long)).toDF("g", "id"),
    col("g"), col("id"), 0.5))
  edge("strat singleton-stratum")(Sampling.stratifiedSample(
    Seq(("a", 1L)).toDF("g", "id"), col("g"), col("id"), 0.01))
  edge("strat f=1 keeps all")(Sampling.stratifiedSample(
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "id"), col("g"), col("id"), 1.0))
}
