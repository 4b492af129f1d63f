package graft

/** Scratch (not registered): r13 edge harness — drive every NEW
  * operator through the degenerate shapes unit specs miss (empty
  * input, singleton, one-group key, all-equal values, short series).
  * Pass = no throw and a sane row count printed.
  */
object ScratchExplain {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = Engine.session("scratch-edge")
    import spark.implicits._
    import graft.operators.{Eval, Stats, TextMetrics}

    def runCase(name: String)(body: => Long): Unit =
      try println(f"$name%-42s rows=${body}")
      catch { case e: Throwable =>
        println(s"$name THREW: ${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
      }

    val empty = Seq.empty[(String, Long, Double)].toDF("g", "b", "v")
    val single = Seq(("g", 1L, 5.0)).toDF("g", "b", "v")
    val flat = (0 until 5).map(i => ("g", i.toLong, 7.0)).toDF("g", "b", "v")

    // kaplanMeier / logRank: empty, all-censored, single subject
    runCase("km empty")(Stats.kaplanMeier(
      empty.toDF("g", "dur", "obs").withColumn("obs", lit(true)),
      col("g"), col("dur"), col("obs")).count())
    runCase("km all-censored")(Stats.kaplanMeier(
      Seq(("g", 1L, false), ("g", 2L, false)).toDF("g", "dur", "obs"),
      col("g"), col("dur"), col("obs")).count())
    runCase("km single")(Stats.kaplanMeier(
      Seq(("g", 1L, true)).toDF("g", "dur", "obs"),
      col("g"), col("dur"), col("obs")).count())
    runCase("logrank empty")(Stats.logRank(
      Seq.empty[(String, Long, Boolean)].toDF("g", "dur", "obs"),
      col("g"), col("dur"), col("obs"), "a", "b").count())
    runCase("logrank singleton-times")(Stats.logRank(
      Seq(("a", 1L, true), ("b", 1L, true)).toDF("g", "dur", "obs"),
      col("g"), col("dur"), col("obs"), "a", "b").count())

    // cliffsDelta / wasserstein1d / hillTail: empty, one side, ties
    runCase("cliffs empty")(Stats.cliffsDelta(
      Seq.empty[(Double, Boolean)].toDF("v", "a"), col("v"), col("a")).count())
    runCase("cliffs all-ties")(Stats.cliffsDelta(
      Seq((1.0, true), (1.0, false), (1.0, true)).toDF("v", "a"),
      col("v"), col("a")).count())
    runCase("emd empty")(Stats.wasserstein1d(
      Seq.empty[(String, Double)].toDF("g", "v"), col("g"), col("v"),
      "a", "b").count())
    runCase("emd one-side")(Stats.wasserstein1d(
      Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v"), col("g"), col("v"),
      "a", "b").count())
    runCase("emd single-value-both")(Stats.wasserstein1d(
      Seq(("a", 1.0), ("b", 1.0)).toDF("g", "v"), col("g"), col("v"),
      "a", "b").count())
    runCase("hill empty")(Stats.hillTail(empty.select(col("g"), col("v")),
      col("g"), col("v"), k = 50).count())
    runCase("hill all-equal")(Stats.hillTail(
      (1 to 100).map(_ => ("g", 5.0)).toDF("g", "v"),
      col("g"), col("v"), k = 10).count())
    runCase("hill negatives-only")(Stats.hillTail(
      Seq(("g", -1.0), ("g", -2.0)).toDF("g", "v"),
      col("g"), col("v"), k = 10).count())

    // signFlipTest: empty, no-paired-subjects, one subject
    runCase("signflip empty")(Stats.signFlipTest(
      Seq.empty[(Long, String, Double)].toDF("u", "g", "v"),
      col("u"), col("g"), col("v"), "a", "b").count())
    runCase("signflip unpaired")(Stats.signFlipTest(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("u", "g", "v"),
      col("u"), col("g"), col("v"), "a", "b").count())
    runCase("signflip one-subject")(Stats.signFlipTest(
      Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("u", "g", "v"),
      col("u"), col("g"), col("v"), "a", "b").count())

    // markovStationary: empty, single event per user (no transitions),
    // one state self-loops
    runCase("markov empty")(Stats.markovStationary(
      Seq.empty[(Long, Long, Long, String)].toDF("u", "o", "tb", "s"),
      col("u"), col("o"), col("s"), col("tb")).count())
    runCase("markov no-transitions")(Stats.markovStationary(
      Seq((1L, 0L, 0L, "a"), (2L, 0L, 0L, "b")).toDF("u", "o", "tb", "s"),
      col("u"), col("o"), col("s"), col("tb")).count())
    runCase("markov one-state")(Stats.markovStationary(
      Seq((1L, 0L, 0L, "a"), (1L, 1L, 1L, "a")).toDF("u", "o", "tb", "s"),
      col("u"), col("o"), col("s"), col("tb")).count())

    // pageHinkley: empty, singleton, flat
    runCase("ph empty")(Stats.pageHinkley(empty, col("g"), col("b"),
      col("v")).count())
    runCase("ph single")(Stats.pageHinkley(single, col("g"), col("b"),
      col("v")).count())
    runCase("ph flat")(Stats.pageHinkley(flat, col("g"), col("b"),
      col("v")).count())

    // text wave: empty corpus, empty strings, single doc
    val emptyDocs = Seq.empty[(String, String)].toDF("src", "text")
    val blankDocs = Seq(("s", ""), ("s", "   ")).toDF("src", "text")
    runCase("richness empty")(TextMetrics.lexicalRichness(
      emptyDocs, col("src"), col("text")).count())
    runCase("richness blank")(TextMetrics.lexicalRichness(
      blankDocs, col("src"), col("text")).count())
    runCase("dispersion empty")(TextMetrics.termDispersion(
      emptyDocs, col("src"), col("text")).count())
    runCase("dispersion one-source")(TextMetrics.termDispersion(
      Seq(("s", "a b c a")).toDF("src", "text"), col("src"), col("text")).count())
    runCase("burrows empty")(TextMetrics.burrowsDelta(
      emptyDocs, col("src"), col("text")).count())
    runCase("burrows one-source")(TextMetrics.burrowsDelta(
      Seq(("s", "a b c")).toDF("src", "text"), col("src"), col("text")).count())

    // rbo: empty, single item, one group missing a prefix
    val er = Seq.empty[(String, Long, Double, Double)].toDF("g", "id", "sa", "sb")
    runCase("rbo empty")(Eval.rbo(er, col("g"), col("id"), col("sa"),
      col("sb")).count())
    runCase("rbo single")(Eval.rbo(
      Seq(("g", 1L, 1.0, 1.0)).toDF("g", "id", "sa", "sb"),
      col("g"), col("id"), col("sa"), col("sb")).count())

    // bpe trainer: empty corpus, single char word
    runCase("bpe-local empty")(graft.operators.Bpe.trainModel(
      Seq.empty[Tuple1[String]].toDF("text"), col("text"), 5)._1.count())
    runCase("bpe-local single-char")(graft.operators.Bpe.trainModel(
      Seq(Tuple1("a a a")).toDF("text"), col("text"), 5)._1.count())

    // r15 wave: gTest / moodMedian / cramerVonMises / hosmerLemeshow /
    // dunnTest / pageTrend / rfmSketched / duplicatedNgramTrim / cvFolds
    val eAb = Seq.empty[(String, String)].toDF("a", "b")
    runCase("gtest empty")(Stats.gTest(eAb, col("a"), col("b")).count())
    runCase("gtest one-cell")(Stats.gTest(
      Seq(("x", "y")).toDF("a", "b"), col("a"), col("b")).count())
    val eGv = Seq.empty[(String, Double)].toDF("g", "v")
    runCase("mood empty")(Stats.moodMedian(eGv, col("g"), col("v")).count())
    runCase("mood one-group")(Stats.moodMedian(
      Seq(("g", 1.0), ("g", 2.0)).toDF("g", "v"), col("g"), col("v")).count())
    runCase("mood all-tied")(Stats.moodMedian(
      Seq(("a", 5.0), ("b", 5.0)).toDF("g", "v"), col("g"), col("v")).count())
    runCase("cvm empty")(Stats.cramerVonMises(
      eGv, col("g"), col("v"), "a", "b").count())
    runCase("cvm one-side")(Stats.cramerVonMises(
      Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v"),
      col("g"), col("v"), "a", "b").count())
    val eSy = Seq.empty[(Double, Boolean)].toDF("s", "y")
    runCase("hl empty")(Stats.hosmerLemeshow(eSy, col("s"), col("y")).count())
    runCase("hl one-score")(Stats.hosmerLemeshow(
      Seq((0.5, true), (0.5, false)).toDF("s", "y"),
      col("s"), col("y")).count())
    runCase("dunn empty")(Stats.dunnTest(eGv, col("g"), col("v")).count())
    runCase("dunn one-group")(Stats.dunnTest(
      Seq(("g", 1.0), ("g", 2.0)).toDF("g", "v"), col("g"), col("v")).count())
    runCase("dunn all-tied")(Stats.dunnTest(
      Seq(("a", 5.0), ("b", 5.0)).toDF("g", "v"), col("g"), col("v")).count())
    val eIjv = Seq.empty[(String, Long, Double)].toDF("i", "j", "v")
    runCase("page empty")(Eval.pageTrend(eIjv, col("i"), col("j"),
      col("v")).count())
    runCase("page k2")(Eval.pageTrend(
      Seq(("i", 1L, 1.0), ("i", 2L, 2.0)).toDF("i", "j", "v"),
      col("i"), col("j"), col("v")).count())
    runCase("page all-tied")(Eval.pageTrend(
      (for { i <- 1 to 2; j <- 1 to 3 } yield (s"i$i", j.toLong, 1.0))
        .toDF("i", "j", "v"), col("i"), col("j"), col("v")).count())
    val eUsr = Seq.empty[(String, Long, Double)].toDF("u", "ts", "v")
    runCase("rfm-sketched empty")(graft.operators.Behavior.rfmSketched(
      eUsr, col("u"), col("ts"), col("v")).count())
    runCase("rfm-sketched single-user")(graft.operators.Behavior.rfmSketched(
      Seq(("u", 86400000000000L, 5.0)).toDF("u", "ts", "v"),
      col("u"), col("ts"), col("v")).count())
    val eDocs = Seq.empty[(Long, String)].toDF("id", "text")
    runCase("dup-trim empty")(graft.operators.Dedup.duplicatedNgramTrim(
      eDocs, col("id"), col("text")).count())
    runCase("dup-trim blank-doc")(graft.operators.Dedup.duplicatedNgramTrim(
      Seq((1L, ""), (2L, "a")).toDF("id", "text"),
      col("id"), col("text")).count())
    val ePairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    runCase("cv-folds no-pairs")(graft.operators.Dedup.cvFolds(
      Seq((1L, "x")).toDF("id", "text"), col("id"), ePairs,
      col("id_a"), col("id_b")).count())
    runCase("cv-folds empty")(graft.operators.Dedup.cvFolds(
      eDocs, col("id"), ePairs, col("id_a"), col("id_b")).count())

    // r16 wave: the two-phase stratifiedSample (empty, null group,
    // null key, singleton stratum, fraction 1.0) — the rewrite's
    // threshold join must treat the NULL stratum/bucket like any other
    val eSamp = Seq.empty[(String, java.lang.Long)].toDF("g", "id")
    runCase("strat empty")(graft.operators.Sampling.stratifiedSample(
      eSamp, col("g"), col("id"), 0.25).count())
    runCase("strat null-group")(graft.operators.Sampling.stratifiedSample(
      Seq(("a", 1L), (null, 2L), (null, 3L)).toDF("g", "id").toDF("g", "id"),
      col("g"), col("id"), 0.5).count())
    runCase("strat null-key")(graft.operators.Sampling.stratifiedSample(
      Seq(("a", java.lang.Long.valueOf(1L)), ("a", null: java.lang.Long))
        .toDF("g", "id"), col("g"), col("id"), 0.5).count())
    runCase("strat singleton-stratum")(graft.operators.Sampling.stratifiedSample(
      Seq(("a", 1L)).toDF("g", "id"), col("g"), col("id"), 0.01).count())
    runCase("strat f=1 keeps all")(graft.operators.Sampling.stratifiedSample(
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "id"),
      col("g"), col("id"), 1.0).count())

    println("edge harness: ALL CLEAR")
    spark.stop()
  }
}
