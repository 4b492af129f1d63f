package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Behavior, Dedup, Stats}

/** Hand-computed fixtures for the r14 diagnostics additions:
  * C123 Ljung-Box, C124 Bartlett, C125 Durbin-Watson, C126 KPSS,
  * C128 Grubbs, C129 RFM, D145 weighted-Jaccard verify, D146
  * duplicated-n-gram coverage.
  */
class DiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  test("grubbs: hand-computed G, winning point, degenerate small group") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),
      ("b", 5.0), ("b", 5.0)).toDF("k", "v")
    val out = Stats.grubbs(df, col("k"), col("v"), critical = 3.0)
      .orderBy("key").collect()
    val a = out(0)
    // mean 4, s2 = (4*114-256)/12 = 16.666.., G = 6/sqrt(s2) = 1.4696(9)
    assert(a.getLong(1) == 4L)
    assert(math.abs(a.getDouble(2) - 1.4696) < 1e-9, s"g=${a.getDouble(2)}")
    assert(a.getDouble(3) == 10.0)
    assert(!a.getBoolean(4) && !a.getBoolean(5))
    val b = out(1)
    assert(b.getBoolean(5), "n=2 must be degenerate")
    assert(b.getDouble(2) == 0.0 && b.isNullAt(3))
  }

  test("grubbs: tie on the max deviation resolves to the larger value") {
    val df = Seq(("a", 0.0), ("a", 10.0), ("a", -10.0), ("a", 0.0))
      .toDF("k", "v")
    val out = Stats.grubbs(df, col("k"), col("v")).collect()(0)
    assert(out.getDouble(3) == 10.0, "struct max must break the dev tie upward")
  }

  test("ljungBox: ramp is significant, flat is degenerate, white-ish is not") {
    val ramp = (0 until 40).map(i => ("r", i.toLong, i.toDouble)).toDF("k", "b", "v")
    val r = Stats.ljungBox(ramp, col("k"), col("b"), col("v"), maxLag = 3)
      .collect()(0)
    assert(r.getAs[Long]("n") == 40L && r.getAs[Int]("max_lag") == 3)
    assert(r.getAs[Double]("q_stat") > 7.815 && r.getAs[Boolean]("significant"))
    val flat = (0 until 40).map(i => ("f", i.toLong, 5.0)).toDF("k", "b", "v")
    val f = Stats.ljungBox(flat, col("k"), col("b"), col("v"), maxLag = 3)
      .collect()(0)
    assert(f.getAs[Boolean]("degenerate") && f.getAs[Double]("q_stat") == 0.0)
    // strict alternation has r1 ~ -1: hugely significant too — the
    // interesting non-significant case is near-zero autocorrelation
    // (murmur scramble: a multiplicative-mod walk keeps lag structure)
    val mixed = (0 until 40).map(i =>
      ("m", i.toLong,
        (scala.util.hashing.MurmurHash3.stringHash(i.toString) % 23).toDouble))
      .toDF("k", "b", "v")
    val m = Stats.ljungBox(mixed, col("k"), col("b"), col("v"), maxLag = 3)
      .collect()(0)
    assert(m.getAs[Double]("q_stat") < 7.815 && !m.getAs[Boolean]("significant"),
      s"hash-scramble series should look white: q=${m.getAs[Double]("q_stat")}")
    // r14 advice: a series SHORTER than the lag budget must report its
    // true length (lag-1 pairs + 1, not max(n_pairs + lag)) and flag
    // degenerate instead of publishing a statistic missing lag terms
    val short = Seq(("s", 0L, 1.0), ("s", 1L, 9.0)).toDF("k", "b", "v")
    val s = Stats.ljungBox(short, col("k"), col("b"), col("v"), maxLag = 3)
      .collect()(0)
    assert(s.getAs[Long]("n") == 2L,
      s"n must be the true series length, got ${s.getAs[Long]("n")}")
    assert(s.getAs[Boolean]("degenerate") && s.getAs[Double]("q_stat") == 0.0,
      "n <= maxLag must flag degenerate")
  }

  test("durbinWatson: duplicate-x rows stay deterministic via the residual tiebreak") {
    // two rows share x=2 with different y (hence different residuals):
    // the (x, e6) tiebreak pins one total order, so repeated runs over
    // shuffled input produce the identical statistic
    val rows = Seq(("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 2.0),
      ("a", 2.0, 8.0), ("a", 3.0, 7.0), ("a", 4.0, 9.0))
    val dws = (0 until 3).map { i =>
      val df = scala.util.Random.shuffle(rows).toDF("k", "x", "y")
        .repartition(4 + i)
      Stats.durbinWatson(df, col("k"), col("x"), col("y"))
        .collect()(0).getAs[Double]("dw")
    }
    assert(dws.distinct.size == 1, s"DW must not vary run-to-run: $dws")
  }

  test("bartlett: hand-computed chi2 on a 2-group variance split") {
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0).map(("a", _)) ++
      Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0).map(("b", _))).toDF("g", "v")
    val out = Stats.bartlett(df, col("g"), col("v"), critical = 3.841)
      .collect()(0)
    assert(out.getAs[Long]("k") == 2L && out.getAs[Long]("n") == 12L)
    // (10·ln(176.75) − (5·ln3.5 + 5·ln350)) / 1.1 = 14.7236...
    assert(math.abs(out.getAs[Double]("chi2") - 14.7236) < 0.01,
      s"chi2=${out.getAs[Double]("chi2")}")
    assert(out.getAs[Boolean]("significant") && !out.getAs[Boolean]("degenerate"))
    val eq = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val e = Stats.bartlett(eq, col("g"), col("v")).collect()(0)
    assert(math.abs(e.getAs[Double]("chi2")) < 1e-6 && !e.getAs[Boolean]("significant"))
    // a constant group explodes ln(s2): must flag, not NaN
    val cst = (Seq(1.0, 1.0, 1.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val c = Stats.bartlett(cst, col("g"), col("v")).collect()(0)
    assert(c.getAs[Boolean]("degenerate") && c.getAs[Double]("chi2") == 0.0)
  }

  test("bartlett: a one-row group reports the degenerate row") {
    // n(n−1) = 0 in that group's variance: flagged, not an ANSI throw
    val one = Stats.bartlett(Seq(("a", 1.0)).toDF("g", "v"), col("g"), col("v")).collect()
    assert(one.toSeq.map(_.toSeq) == Seq(Seq(1L, 1L, 0.0, 0L, false, true)))
    val mixed = Stats.bartlett(Seq(("a", 1.0), ("b", 1.0), ("b", 2.0), ("b", 4.0))
      .toDF("g", "v"), col("g"), col("v")).collect()
    assert(mixed.toSeq.map(_.toSeq) == Seq(Seq(2L, 4L, 0.0, 1L, false, true)))
  }

  test("wasserstein1d: one empty side reports emd 0") {
    // NA·NB = 0 under every interval term: the row must come back
    val out = Stats.wasserstein1d(Seq(("a", 1.0), ("a", 2.0), ("a", 5.0)).toDF("g", "v"),
      col("g"), col("v"), "a", "b").collect()
    assert(out.toSeq.map(_.toSeq) == Seq(Seq(3L, 0L, 0.0)))
  }

  test("dunnTest: a one-row input has no pairs and does not throw") {
    // N − 1 = 0 in the pooled rank variance
    assert(Stats.dunnTest(Seq(("a", 1.0)).toDF("g", "v"), col("g"), col("v"))
      .collect().isEmpty)
  }

  test("durbinWatson: alternation reads high, smooth walk low, perfect fit degenerate") {
    val alt = (0 until 30).map(i =>
      ("a", i.toDouble, (if (i % 2 == 0) 1.0 else -1.0))).toDF("k", "x", "y")
    val a = Stats.durbinWatson(alt, col("k"), col("x"), col("y")).collect()(0)
    assert(a.getAs[Double]("dw") > 2.5, s"alternating residuals: dw=${a.getAs[Double]("dw")}")
    assert(a.getAs[Double]("rho_approx") < 0.0)
    val smooth = (0 until 30).map(i =>
      ("s", i.toDouble, math.sin(i / 8.0) * 10.0)).toDF("k", "x", "y")
    val sm = Stats.durbinWatson(smooth, col("k"), col("x"), col("y")).collect()(0)
    assert(sm.getAs[Double]("dw") < 1.0, s"smooth residuals: dw=${sm.getAs[Double]("dw")}")
    val perfect = (0 until 10).map(i =>
      ("p", i.toDouble, 2.0 * i + 1.0)).toDF("k", "x", "y")
    val p = Stats.durbinWatson(perfect, col("k"), col("x"), col("y")).collect()(0)
    assert(p.getAs[Boolean]("degenerate"), "zero residual variance must flag")
  }

  test("kpss: trend blows the level test, stationary noise does not, flat degenerate") {
    val trend = (0 until 60).map(i => ("t", i.toLong, i.toDouble)).toDF("k", "b", "v")
    val t = Stats.kpss(trend, col("k"), col("b"), col("v")).collect()(0)
    assert(t.getAs[Double]("kpss") > 0.463 && t.getAs[Boolean]("significant"),
      s"kpss(trend)=${t.getAs[Double]("kpss")}")
    val noise = (0 until 60).map(i =>
      ("n", i.toLong, ((i * 2654435761L) % 13).toDouble)).toDF("k", "b", "v")
    val n = Stats.kpss(noise, col("k"), col("b"), col("v")).collect()(0)
    assert(n.getAs[Double]("kpss") < 0.463 && !n.getAs[Boolean]("significant"),
      s"kpss(noise)=${n.getAs[Double]("kpss")}")
    val flat = (0 until 10).map(i => ("f", i.toLong, 3.0)).toDF("k", "b", "v")
    val f = Stats.kpss(flat, col("k"), col("b"), col("v")).collect()(0)
    assert(f.getAs[Boolean]("degenerate"))
  }

  test("rfm: 5 distinct users land one per quintile on every axis") {
    val day = 86400L * 1000000000L
    // user u: last activity day u, u events, value mass 10·u
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map(i => (u.toLong, u.toLong * day - (i - 1), 10.0 * u / u))
    }
    val df = rows.toDF("user_id", "ts_ns", "value")
    val out = Behavior.rfm(df, col("user_id"), col("ts_ns"), col("value"))
      .orderBy("user_id").collect()
    // user 5: most recent + most frequent + biggest spender = 5-5-5
    val u5 = out(4)
    assert(u5.getAs[Int]("r_score") == 5 && u5.getAs[Int]("f_score") == 5 &&
      u5.getAs[Int]("m_score") == 5 && u5.getAs[String]("segment") == "5-5-5")
    val u1 = out(0)
    assert(u1.getAs[Int]("r_score") == 1 && u1.getAs[Int]("f_score") == 1 &&
      u1.getAs[String]("segment") == "1-1-1")
    assert(u1.getAs[Long]("recency_periods") == 4L)
    assert(out.map(_.getAs[Int]("f_score")).toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("pacf: closed forms match the ACF frame; AR-echo collapses at lag 2; degenerates flag") {
    // a smooth ramp: ACF high at every lag (all echo of lag 1), so
    // PACF must concentrate at lag 1
    val ramp = (0 until 40).map(i => ("r", i.toLong, i.toDouble)).toDF("k", "b", "v")
    val p = Stats.pacf(ramp, col("k"), col("b"), col("v")).collect()(0)
    assert(p.getAs[Long]("n") == 40L && !p.getAs[Boolean]("degenerate"))
    assert(p.getAs[Double]("pacf1") > 0.8, p.toString)
    assert(math.abs(p.getAs[Double]("pacf2")) < p.getAs[Double]("pacf1"))
    // self-consistency: pacf2 equals the Durbin-Levinson closed form
    // over the published 4-dp ACF values
    val acf = Stats.autocorrelation(ramp, col("k"), col("b"), col("v"), 3)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    val expP2 = (acf(2) - acf(1) * acf(1)) / (1.0 - acf(1) * acf(1))
    val t4 = math.signum(expP2) * math.floor(math.abs(expP2) * 1e4) / 1e4
    assert(p.getAs[Double]("pacf2") == t4,
      s"pacf2=${p.getAs[Double]("pacf2")} expected $t4")
    // flat series and too-short series flag degenerate
    val flat = (0 until 10).map(i => ("f", i.toLong, 5.0)).toDF("k", "b", "v")
    assert(Stats.pacf(flat, col("k"), col("b"), col("v")).collect()(0)
      .getAs[Boolean]("degenerate"))
    val short = (0 until 3).map(i => ("s", i.toLong, i * 2.0)).toDF("k", "b", "v")
    assert(Stats.pacf(short, col("k"), col("b"), col("v")).collect()(0)
      .getAs[Boolean]("degenerate"))
  }

  test("headTailTruncate: over-budget docs keep head+tail, short docs pass whole") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "short doc here")
    ).toDF("id", "text")
    val out = graft.operators.Packing.headTailTruncate(docs, col("id"),
        col("text"), budget = 6, headFrac = 0.5)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("truncated_text") == "a b c ... h i j",
      out(0).toString)
    assert(out(0).getAs[Long]("kept_head") == 3L &&
      out(0).getAs[Long]("kept_tail") == 3L &&
      out(0).getAs[Boolean]("was_truncated"))
    assert(out(1).getAs[String]("truncated_text") == "short doc here" &&
      !out(1).getAs[Boolean]("was_truncated") &&
      out(1).getAs[Long]("kept_tail") == 0L)
  }

  test("headTailTruncate never exceeds budget at the ceil==budget edge (r15 advice)") {
    // budget=2, headFrac=0.75: unclamped ceil(1.5)=2 kept 2+1=3 tokens
    // and flagged a 3-token doc truncated with nothing excised; the
    // clamp pins nHead=1, nTail=1 so head+tail == budget exactly
    val docs = Seq((1L, "x y z"), (2L, "x y")).toDF("id", "text")
    val out = graft.operators.Packing.headTailTruncate(docs, col("id"),
        col("text"), budget = 2, headFrac = 0.75)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("kept_head") + out(0).getAs[Long]("kept_tail") == 2L,
      out(0).toString)
    assert(out(0).getAs[String]("truncated_text") == "x ... z")
    assert(out(0).getAs[Boolean]("was_truncated"))
    // at-budget doc passes whole, untouched
    assert(out(1).getAs[String]("truncated_text") == "x y" &&
      !out(1).getAs[Boolean]("was_truncated"))
  }

  test("gTest: hand-computed G on a perfectly dependent 2x2, zero on independence") {
    // diagonal table: o=10, e=5 per filled cell -> G = 4*10*ln2
    val dep = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q")))
      .toDF("a", "b")
    val g = Stats.gTest(dep, col("a"), col("b")).collect()(0)
    assert(g.getAs[Long]("dof") == 1L)
    assert(math.abs(g.getAs[Double]("g_stat") - 40.0 * math.log(2.0)) < 0.001,
      s"g=${g.getAs[Double]("g_stat")}")
    // uniform table: o == e everywhere -> G = 0
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val g0 = Stats.gTest(ind, col("a"), col("b")).collect()(0)
    assert(g0.getAs[Double]("g_stat") == 0.0 && !g0.getAs[Boolean]("degenerate"))
    // single-column table: degenerate
    val deg = Seq(("x", "p"), ("y", "p")).toDF("a", "b")
    assert(Stats.gTest(deg, col("a"), col("b")).collect()(0)
      .getAs[Boolean]("degenerate"))
  }

  test("moodMedian: hand-computed chi2 on separated groups") {
    // pooled median of {1,2,3,7,8,9} = 5; above: a=0/3, b=3/3
    // per group: (o-e)^2/e over both cells = 1.5+1.5 -> chi2 = 6
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(7.0, 8.0, 9.0).map(("b", _))).toDF("g", "v")
    val out = Stats.moodMedian(df, col("g"), col("v")).collect()(0)
    assert(out.getAs[Long]("n") == 6L && out.getAs[Long]("k") == 2L)
    assert(out.getAs[Double]("chi2") == 6.0, s"chi2=${out.getAs[Double]("chi2")}")
    assert(out.getAs[Long]("n_above_total") == 3L)
    assert(!out.getAs[Boolean]("degenerate"))
    // all values equal: everything ties at the median -> degenerate
    val flat = Seq(("a", 5.0), ("b", 5.0), ("a", 5.0)).toDF("g", "v")
    assert(Stats.moodMedian(flat, col("g"), col("v")).collect()(0)
      .getAs[Boolean]("degenerate"))
  }

  test("cramerVonMises: hand-computed T, zero on identical samples") {
    // A={1,2}, B={3,4}: per-value terms 0.25+1+0.25+0 = 1.5,
    // T = (2*2/16)*1.5 = 0.375
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "v")
    val out = Stats.cramerVonMises(df, col("g"), col("v"), "a", "b")
      .collect()(0)
    assert(out.getAs[Double]("t_stat") == 0.375,
      s"t=${out.getAs[Double]("t_stat")}")
    // identical samples: every gap is 0
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val z = Stats.cramerVonMises(same, col("g"), col("v"), "a", "b")
      .collect()(0)
    assert(z.getAs[Double]("t_stat") == 0.0 && !z.getAs[Boolean]("significant"))
    // a large clean shift IS significant
    val big = ((1 to 200).map(i => ("a", i / 200.0)) ++
      (1 to 200).map(i => ("b", 2.0 + i / 200.0))).toDF("g", "v")
    assert(Stats.cramerVonMises(big, col("g"), col("v"), "a", "b")
      .collect()(0).getAs[Boolean]("significant"))
  }

  test("hosmerLemeshow: calibrated small, miscalibrated large, one-score degenerate") {
    // near-calibrated: within each score stratum the positive rate
    // equals the score
    val cal = (0 until 10).flatMap { b =>
      val p = (b + 0.5) / 10.0
      (0 until 40).map(i => (p + b * 1e-5, i < (40 * p).round))
    }.toDF("score", "y")
    val c = Stats.hosmerLemeshow(cal, col("score"), col("y")).collect()(0)
    assert(!c.getAs[Boolean]("degenerate") && c.getAs[Long]("g") >= 3L)
    val calHl = c.getAs[Double]("hl_stat")
    // grossly miscalibrated: same scores, labels inverted
    val mis = (0 until 10).flatMap { b =>
      val p = (b + 0.5) / 10.0
      (0 until 40).map(i => (p + b * 1e-5, i >= (40 * p).round))
    }.toDF("score", "y")
    val m = Stats.hosmerLemeshow(mis, col("score"), col("y")).collect()(0)
    assert(m.getAs[Double]("hl_stat") > calHl * 5,
      s"cal=$calHl mis=${m.getAs[Double]("hl_stat")}")
    // one distinct score: a single bin -> degenerate
    val one = (0 until 20).map(i => (0.5, i % 2 == 0)).toDF("score", "y")
    assert(Stats.hosmerLemeshow(one, col("score"), col("y")).collect()(0)
      .getAs[Boolean]("degenerate"))
  }

  test("dunnTest: hand-computed z on tie-free separated groups") {
    // pooled ranks 1..9: mean ranks 2/5/8, S^2 = 9*10/12 = 7.5,
    // z_ab = -3/sqrt(7.5*(2/3)) = -1.3416...
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _)) ++
      Seq(7.0, 8.0, 9.0).map(("c", _))).toDF("g", "v")
    val out = Stats.dunnTest(df, col("g"), col("v")).collect()
    assert(out.length == 3)
    val ab = out.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(ab.getAs[Double]("mean_rank_a") == 2.0 &&
      ab.getAs[Double]("mean_rank_b") == 5.0)
    assert(ab.getAs[Double]("z") == -1.3416, s"z=${ab.getAs[Double]("z")}")
    val ac = out.find(r => r.getString(0) == "a" && r.getString(1) == "c").get
    assert(ac.getAs[Double]("z") == -2.6832 && ac.getAs[Boolean]("significant"))
  }

  test("pageTrend: perfect monotone trend gives the closed-form L and z") {
    // 3 items, k=4, score = ordinal -> L = 3*(1+4+9+16) = 90,
    // mu = 75, sigma = 5 -> z = 3
    val df = (for { i <- 1 to 3; j <- 1 to 4 }
      yield (s"i$i", j.toLong, j.toDouble)).toDF("i", "j", "v")
    val out = graft.operators.Eval.pageTrend(df, col("i"), col("j"), col("v"))
      .collect()(0)
    assert(out.getAs[Long]("n_items") == 3L && out.getAs[Long]("k") == 4L)
    assert(out.getAs[Double]("l_stat") == 90.0 &&
      out.getAs[Double]("z") == 3.0 && out.getAs[Boolean]("significant"),
      out.toString)
    // non-1..k ordinals dense-rank to the same weights
    val df2 = (for { i <- 1 to 3; j <- 1 to 4 }
      yield (s"i$i", j * 100L + 7, j.toDouble)).toDF("i", "j", "v")
    val out2 = graft.operators.Eval.pageTrend(df2, col("i"), col("j"), col("v"))
      .collect()(0)
    assert(out2.getAs[Double]("l_stat") == 90.0 && out2.getAs[Double]("z") == 3.0)
    // an anti-monotone trend flags with z = -3
    val anti = (for { i <- 1 to 3; j <- 1 to 4 }
      yield (s"i$i", j.toLong, -j.toDouble)).toDF("i", "j", "v")
    assert(graft.operators.Eval.pageTrend(anti, col("i"), col("j"), col("v"))
      .collect()(0).getAs[Double]("z") == -3.0)
  }

  test("rfmSketched: sub-capacity scores match exact rfm; rfmScores auto-routes") {
    // n = 10 users, distinct metric values, n divisible by 5: the KLL
    // sketches stay exact (far below k=200 capacity) and the
    // inclusive-rank boundary rule reproduces ntile assignments
    // exactly, so sketched == exact row for row
    val day = 86400L * 1000000000L
    val rows = (1 to 10).flatMap { u =>
      (0 until u).map(i => (s"u$u", (u * 10 + i) * day, u * 3.0 + i))
    }
    val df = rows.toDF("user_id", "ts_ns", "value")
    val exact = Behavior.rfm(df, col("user_id"), col("ts_ns"), col("value"))
      .orderBy("user_id").collect().toSeq
    val sk = Behavior.rfmSketched(df, col("user_id"), col("ts_ns"), col("value"))
      .orderBy("user_id").collect().toSeq
    assert(sk == exact, s"sub-capacity sketched must equal exact:\n$sk\nvs\n$exact")
    // the rfmScores escape hatch: above the caller-set cardinality the
    // scorer routes through the sketched path (same rows here)
    val per = df.groupBy("user_id").agg(
      max(col("ts_ns")).as("__last"), count(lit(1)).as("frequency"),
      sum(col("value")).cast("double").as("monetary"))
    val routed = Behavior.rfmScores(per, sketchAbove = 5L)
      .orderBy("user_id").collect().toSeq
    assert(routed == exact, s"routed-sketched must equal exact here:\n$routed")
    // below the threshold the exact path runs unchanged
    val unrouted = Behavior.rfmScores(per, sketchAbove = 100L)
      .orderBy("user_id").collect().toSeq
    assert(unrouted == exact)
  }

  test("weightedJaccardVerify: multiset ratio where set Jaccard lies") {
    val docs = Seq((1L, "a a b"), (2L, "a b b"), (3L, "x y z"),
      (4L, "a a b a a b")).toDF("id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.weightedJaccardVerify(docs, col("id"), col("text"), cand,
        threshold = 0.4)
      .orderBy("id_b").collect()
    // {a:2,b:1} vs {a:1,b:2}: min 2, max 4 -> 0.5 (set Jaccard = 1.0)
    assert(out(0).getAs[Long]("n_inter_tf") == 2L &&
      out(0).getAs[Long]("n_union_tf") == 4L &&
      out(0).getAs[Double]("weighted_jaccard") == 0.5 &&
      out(0).getAs[Boolean]("is_dup"))
    // disjoint vocabularies: 0
    assert(out(1).getAs[Double]("weighted_jaccard") == 0.0 &&
      !out(1).getAs[Boolean]("is_dup"))
    // doc vs its doubling: exactly 0.5
    assert(out(2).getAs[Double]("weighted_jaccard") == 0.5)
    // a recall tier that emits the same pair k times (multi-band LSH)
    // must NOT inflate the counts k^2-fold or emit k verdict rows
    val dupCand = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val dup = Dedup.weightedJaccardVerify(docs, col("id"), col("text"),
        dupCand, threshold = 0.4).collect()
    assert(dup.length == 1, s"one verdict row per distinct pair: ${dup.toSeq}")
    assert(dup(0).getAs[Long]("n_inter_tf") == 2L &&
      dup(0).getAs[Long]("n_union_tf") == 4L &&
      dup(0).getAs[Double]("weighted_jaccard") == 0.5)
  }

  test("cooksDistance: outlier point dominates, perfect fit degenerate, leverage-1 guarded") {
    // a clean line with one blown-out point: that point owns the fit
    val pts = (0 until 20).map(i =>
      ("a", i.toDouble, if (i == 10) 50.0 else 2.0 * i)).toDF("k", "x", "y")
    val out = Stats.cooksDistance(pts, col("k"), col("x"), col("y"))
      .orderBy("x").collect()
    val d10 = out(10)
    assert(d10.getAs[Boolean]("influential"),
      s"the planted outlier must flag: ${d10}")
    assert(out.count(_.getAs[Boolean]("influential")) <= 3,
      "the clean points must not all flag")
    // perfect fit: zero residuals -> degenerate, D = 0
    val perfect = (0 until 10).map(i => ("p", i.toDouble, 3.0 * i))
      .toDF("k", "x", "y")
    val p = Stats.cooksDistance(perfect, col("k"), col("x"), col("y"))
      .collect()
    assert(p.forall(r => r.getAs[Boolean]("degenerate") &&
      r.getAs[Double]("cooks_d") == 0.0))
    // leverage ~1: the lone far point must not print infinities
    val lev = Seq(("l", 0.0, 1.0), ("l", 0.0, 2.0), ("l", 0.0, 1.5),
      ("l", 100.0, 9.0)).toDF("k", "x", "y")
    val lv = Stats.cooksDistance(lev, col("k"), col("x"), col("y"))
      .orderBy("x").collect()
    val far = lv(3)
    assert(far.getAs[Double]("leverage") > 0.9 &&
      !far.getAs[Double]("cooks_d").isInfinite)
  }

  test("duplicationWeights: cluster members share one doc's worth, singletons weigh 1") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.duplicationWeights(docs, col("id"), pairs)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("cluster_size")).toSeq == Seq(3L, 3L, 3L, 1L, 1L))
    assert(out(0).getAs[Double]("weight") == 0.333333)
    assert(out(3).getAs[Double]("weight") == 1.0)
    // total gradient mass: 3 dups count ~1, singletons 1 each
    val mass = out.map(_.getAs[Double]("weight")).sum
    assert(math.abs(mass - 3.0) < 1e-3)
  }

  test("forecastability: planted period helps, anti-period hurts, flat degenerate") {
    // period-4 sawtooth: lag-4 errors are 0, lag-1 errors are not
    val seasonal = (0 until 40).map(i =>
      ("s", i.toLong, (i % 4).toDouble * 3.0)).toDF("k", "b", "v")
    val s4 = Stats.forecastability(seasonal, col("k"), col("b"), col("v"),
      period = 4).collect()(0)
    assert(s4.getAs[Double]("mae_seasonal") == 0.0 &&
      s4.getAs[Double]("mase_ratio") == 0.0 &&
      s4.getAs[Boolean]("seasonal_helps"))
    // the same series at a WRONG period (3): seasonal lag sees the
    // sawtooth out of phase and must NOT help
    val s3 = Stats.forecastability(seasonal, col("k"), col("b"), col("v"),
      period = 3).collect()(0)
    assert(!s3.getAs[Boolean]("seasonal_helps"),
      s"wrong period must not help: ${s3}")
    val flat = (0 until 20).map(i => ("f", i.toLong, 2.0)).toDF("k", "b", "v")
    val f = Stats.forecastability(flat, col("k"), col("b"), col("v"),
      period = 4).collect()(0)
    assert(f.getAs[Boolean]("degenerate"))
  }

  test("E47 rfmMaintained: streamed snapshot scores identically to batch rfm") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val day = 86400L * 1000000000L
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map(i => (u.toLong, u.toLong * day + i, 2.5 * i))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_e47").toString
    val input = MemoryStream[(Long, Long, Double)](spark)
    val q = graft.streaming.EventStreams.rfmMaintained(
      input.toDF().toDF("user_id", "ts_ns", "value"),
      "user_id", "ts_ns", "value", s"$dir/snap", s"$dir/ckpt")
    try {
      val (h1, h2) = rows.splitAt(rows.size / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    val snap = graft.streaming.SnapshotStore.read(spark, s"$dir/snap").get
      .withColumn("monetary", col("monetary").cast("double"))
    val streamed = Behavior.rfmScores(snap).orderBy("user_id").collect().toSeq
    val batch = Behavior.rfm(rows.toDF("user_id", "ts_ns", "value"),
        col("user_id"), col("ts_ns"), col("value"))
      .orderBy("user_id").collect().toSeq
    assert(streamed == batch,
      s"stream-maintained RFM drifted from batch:\n$streamed\nvs\n$batch")
  }

  test("E49 hlMaintained: streamed calibration snapshot scores identically to batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val edges = (1 to 4).map(_ / 5.0)
    val rows = (0 until 200).map { i =>
      val p = (i % 100) / 100.0
      (p, (i * 37) % 100 < (100 * p).round)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_e49").toString
    val input = MemoryStream[(Double, Boolean)](spark)
    val q = graft.streaming.EventStreams.hlMaintained(
      input.toDF().toDF("score", "y"), "score", "y", edges,
      s"$dir/snap", s"$dir/ckpt")
    try {
      val (h1, h2) = rows.splitAt(rows.size / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    val snap = graft.streaming.SnapshotStore.read(spark, s"$dir/snap").get
    val streamed = graft.operators.Stats.hlFromBins(snap).collect()(0)
    val batch = graft.operators.Stats.hosmerLemeshowFixed(
      rows.toDF("score", "y"), col("score"), col("y"), edges).collect()(0)
    assert(streamed == batch,
      s"stream-maintained HL drifted from batch:\n$streamed\nvs\n$batch")
    assert(streamed.getAs[Long]("n") == 200L &&
      streamed.getAs[Long]("g") == 5L)
  }

  test("E48 dupCoverageMaintained: arrivals score against prior batches only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_e48").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.EventStreams.dupCoverageMaintained(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id",
      s"$dir/df", s"$dir/out", s"$dir/ckpt", n = 3, minDf = 2,
      maxCoverage = 0.4)
    try {
      // batch 0: "x y z" appears in two docs -> df 2, but NOTHING is
      // flagged (no prior corpus to score against)
      input.addData((1L, "x y z w"), (2L, "x y z q"))
      q.processAllAvailable()
      // batch 1: a doc made of batch-0 material flags; fresh text not
      input.addData((3L, "x y z r"), (4L, "p q r s"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("batch_id", "doc_id", "n_dup_grams", "flagged")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set((0L, 1L, 0L, false), (0L, 2L, 0L, false),
      (1L, 3L, 1L, true), (1L, 4L, 0L, false)), s"got $out")
    // the df table accumulated batch 0's AND batch 1's counts
    val df3 = spark.read.parquet(s"$dir/df")
      .groupBy("sh").agg(sum("df").as("df"))
      .filter(col("sh") === "x y z").select("df").as[Long].head()
    assert(df3 == 3L, s"x y z df must be 3, got $df3")
  }

  test("contingencyCells: hand-computed residuals, grid completion, degenerate 1-col") {
    // 2x2: a strong diagonal; off-diagonal cell (x,2) is EMPTY and
    // must still appear (grid completion) with a negative residual
    val df = (Seq.fill(8)(("x", "1")) ++ Seq.fill(2)(("y", "1")) ++
      Seq.fill(8)(("y", "2"))).toDF("g", "h")
    val out = Stats.contingencyCells(df, col("g"), col("h"))
      .orderBy("a", "b").collect()
    assert(out.length == 4, "completed 2x2 grid")
    val x2 = out(1) // (x, 2): observed 0
    assert(x2.getAs[Long]("n_obs") == 0L &&
      x2.getAs[Double]("std_residual") < -2.0 && x2.getAs[Boolean]("outlier"))
    // hand check (x,1): e = 8*10/18 = 4.444, adj = e*(10/18)*(8/18),
    // r = (8-4.4444)/sqrt(4.4444*0.5555*0.4444) = +3.3941
    val x1 = out(0)
    assert(math.abs(x1.getAs[Double]("expected") - 4.4444) < 1e-9)
    assert(math.abs(x1.getAs[Double]("std_residual") - 3.3941) < 1e-3,
      s"r=${x1.getAs[Double]("std_residual")}")
    // single-column table: adjusted denominator 0 -> degenerate
    val one = Seq(("x", "1"), ("y", "1")).toDF("g", "h")
    val d1 = Stats.contingencyCells(one, col("g"), col("h")).collect()
    assert(d1.forall(r => r.getAs[Boolean]("degenerate") &&
      r.getAs[Double]("std_residual") == 0.0))
  }

  test("breuschPagan: fanning variance flags, constant variance does not") {
    // residual spread grows with x: heteroscedastic by construction
    val fan = (1 to 60).map(i =>
      ("f", i.toDouble, 2.0 * i + (if (i % 2 == 0) i * 0.5 else -i * 0.5)))
      .toDF("k", "x", "y")
    val f = Stats.breuschPagan(fan, col("k"), col("x"), col("y")).collect()(0)
    assert(f.getAs[Double]("lm_stat") > 3.841 && f.getAs[Boolean]("significant"),
      s"fanning: lm=${f.getAs[Double]("lm_stat")}")
    // constant ±1 residuals: homoscedastic
    val const = (1 to 60).map(i =>
      ("c", i.toDouble, 2.0 * i + (if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("k", "x", "y")
    val c = Stats.breuschPagan(const, col("k"), col("x"), col("y")).collect()(0)
    assert(!c.getAs[Boolean]("significant"),
      s"constant: lm=${c.getAs[Double]("lm_stat")}")
    // perfect fit: zero residual variance -> degenerate
    val perfect = (1 to 10).map(i => ("p", i.toDouble, 3.0 * i)).toDF("k", "x", "y")
    val p = Stats.breuschPagan(perfect, col("k"), col("x"), col("y")).collect()(0)
    assert(p.getAs[Boolean]("degenerate"))
  }

  test("duplicatedNgramCoverage: df gate, per-doc coverage, short docs") {
    val docs = Seq((1L, "x y z w"), (2L, "x y z q"), (3L, "x y z r"),
      (4L, "p q")).toDF("id", "text")
    val out = Dedup.duplicatedNgramCoverage(docs, col("id"), col("text"),
        n = 3, minDf = 2, maxCoverage = 0.4)
      .orderBy("doc_id").collect()
    // "x y z" df=3 >= 2; each 4-token doc has 2 trigrams, 1 duplicated
    (0 until 3).foreach { i =>
      assert(out(i).getAs[Long]("n_grams") == 2L &&
        out(i).getAs[Long]("n_dup_grams") == 1L &&
        out(i).getAs[Double]("dup_coverage") == 0.5 &&
        out(i).getAs[Boolean]("flagged"))
    }
    val short = out(3)
    assert(short.getAs[Long]("n_grams") == 0L &&
      short.getAs[Boolean]("too_short") && !short.getAs[Boolean]("flagged"))
  }
}
