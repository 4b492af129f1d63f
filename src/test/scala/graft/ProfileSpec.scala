package graft

import org.apache.spark.sql.functions._

import graft.operators.{Profile, TextMetrics}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile counts rows, nulls, distincts and renders min/max per column") {
    val df = Seq(
      (Some(1), Some("a")),
      (Some(2), None),
      (Some(2), Some("b")),
      (None, Some("b"))).toDF("x", "s")
    val p = Profile.profile(df, Seq("x", "s"), exactDistinct = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(p("x") == ((4L, 1L, 2L, "1", "2")))
    assert(p("s") == ((4L, 1L, 2L, "a", "b")))
  }

  test("kAnonymity flags small classes and low sensitive diversity; null quasi forms its own class") {
    val rows = Seq(
      // class (10, "a"): 3 members, all same sensitive value
      (Some(10), "a", 100.0), (Some(10), "a", 100.0), (Some(10), "a", 100.0),
      // class (10, "b"): 2 members, 2 sensitive values
      (Some(10), "b", 1.0), (Some(10), "b", 2.0),
      // class (null, "a"): 1 member
      (None, "a", 5.0)).toDF("nat", "seg", "bal")
    val out = Profile.kAnonymity(rows,
        Seq(col("nat").as("nat"), col("seg").as("seg")), col("bal"), k = 3, l = 2)
      .select("nat", "seg", "class_size", "n_sensitive", "k_anonymous", "l_diverse")
      .collect().map(r => (Option(r.get(0)), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(out((Some(10), "a")) === ((3L, 1L, true, false)),
      s"size-3 single-value class: ${out((Some(10), "a"))}")
    assert(out((Some(10), "b")) === ((2L, 2L, false, true)),
      s"small diverse class: ${out((Some(10), "b"))}")
    assert(out((None, "a")) === ((1L, 1L, false, false)),
      s"null quasi class: ${out((None, "a"))}")
  }

  test("profile default (approx distinct) is exact at tiny cardinalities") {
    val df = Seq(1, 2, 3, 3).toDF("v")
    val Array(r) = Profile.profile(df, Seq("v")).collect()
    assert(r.getLong(3) == 3L)
  }

  test("histogram clamps out-of-range values into edge bins and drops nulls") {
    val df = Seq[Option[Double]](
      Some(-5.0), Some(0.0), Some(4.9), Some(5.0), Some(9.9),
      Some(25.0), None).toDF("v")
    // [0,10) in 2 bins of width 5: -5 clamps to bin 0, 25 clamps to bin 1
    val h = Profile.histogram(df, col("v"), lo = 0.0, hi = 10.0, nBins = 2)
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(h(0) == ((0.0, 3L)))
    assert(h(1) == ((5.0, 3L)))
  }

  test("schemaDrift classifies added/removed/common and tracks null movement") {
    val before = Seq((1, Some("a")), (2, Some("b"))).toDF("k", "dropme")
    val after = Seq((1, Some("x")), (2, None)).toDF("k", "newcol")
    val d = Profile.schemaDrift(before, after, exactDistinct = true)
      .collect()
      .map(r => r.getString(0) -> (r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(d("k") == (("common", Some(0L), Some(0L))))
    assert(d("dropme") == (("removed", Some(0L), None)))
    assert(d("newcol") == (("added", None, Some(1L))))
  }

  test("stripHtml drops script/style with contents, tags, entities; keeps escaped text") {
    val html = "<html><SCRIPT src='x'>var a = '<p>';</SCRIPT><style>p{}</style>" +
      "<p class=\"k\">Hello &amp; &lt;world&gt;</p>\n <b>bye</b></html>"
    val out = Seq(html).toDF("t")
      .select(TextMetrics.stripHtml(col("t")).as("c")).as[String].head()
    assert(out == "Hello & <world> bye")
  }

  test("correlations: perfect +1/-1, constant column reports 0, one pass over all pairs") {
    val df = Seq(
      (1.0, 2.0, -1.0, 7.0),
      (2.0, 4.0, -2.0, 7.0),
      (3.0, 6.0, -3.0, 7.0)).toDF("a", "b", "neg", "const")
    val c = Profile.correlations(df, Seq("a", "b", "neg", "const"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(c(("a", "b")) == 1.0, c.toString)          // b = 2a
    assert(c(("a", "neg")) == -1.0, c.toString)       // neg = -a
    assert(c(("a", "const")) == 0.0, c.toString)      // degenerate
    assert(c.size == 6)
  }

  test("standardize: hand-checked z-scores; constant and singleton groups scale to 0") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0),  // mean 2, std 1 -> z = -1, 0, 1
      ("c", 5.0), ("c", 5.0),              // constant -> std 0 -> z 0
      ("s", 9.0)                           // singleton -> z 0
    ).toDF("g", "v")
    val z = Profile.standardize(df, col("g"), col("v"))
      .select($"g", $"v", $"z").as[(String, Double, Double)].collect().toSet
    assert(z === Set(
      ("a", 1.0, -1.0), ("a", 2.0, 0.0), ("a", 3.0, 1.0),
      ("c", 5.0, 0.0), ("c", 5.0, 0.0), ("s", 9.0, 0.0)), z.toString)
  }

  test("standardize keeps null-group rows (null-safe moments join)") {
    val df = Seq(
      (Some("a"), 1.0), (Some("a"), 3.0),
      (None, 10.0), (None, 20.0), (None, 30.0)  // the null group
    ).toDF("g", "v")
    val out = Profile.standardize(df, col("g"), col("v"))
      .select($"v", $"z").as[(Double, Double)].collect().toSet
    // null-group rows survive WITH their own group's z-scores
    assert(out === Set(
      (1.0, -0.7072), (3.0, 0.7071),
      (10.0, -1.0), (20.0, 0.0), (30.0, 1.0)), out.toString)
  }

  test("correlations: columns whose names contain '__' don't collide aliases") {
    val df = Seq((1.0, 2.0, 3.0, 4.0), (2.0, 3.0, 5.0, 8.0), (3.0, 5.0, 6.0, 16.0))
      .toDF("x", "x__y", "y__z", "z")
    // (x, y__z) and (x__y, z) would both alias __sp_x__y__z under
    // name-based aliases — index-based aliases must keep all 6 pairs
    val c = Profile.correlations(df, Seq("x", "x__y", "y__z", "z")).collect()
    assert(c.length == 6, c.mkString(", "))
  }

  test("HLL sketches: shard-merged estimate == whole-corpus estimate, within 5% of exact") {
    val docs = sources.Tables.load(spark, sf, "documents")
      .select(col("source"), col("doc_id"))
    // shard → sketch → union must equal sketching the whole corpus
    // (register-max state is associative), and land near exact
    val perShard = docs.withColumn("shard", col("doc_id") % 4)
      .groupBy(col("source"), col("shard"))
      .agg(hll_sketch_agg(col("doc_id"), lit(12)).as("sketch"))
    val merged = Profile.mergeSketches(perShard, col("source"), col("sketch"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = Profile.distinctSketch(docs, col("source"), col("doc_id"))
    val wholeEst = Profile.mergeSketches(whole, col("grp"), col("sketch"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = docs.groupBy("source").agg(countDistinct("doc_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == wholeEst, "sharded union must equal whole-corpus sketch")
    for ((src, n) <- exact)
      assert(math.abs(merged(src) - n).toDouble / n < 0.05,
        s"$src: est ${merged(src)} vs exact $n")
  }

  test("KLL sketches: exact below k, absorbed n exact, empty sketch yields null quantile") {
    import spark.implicits._
    import graft.functions.KllQuantileSketch._
    // n = 100 < k = 200: every value retained, quantiles EXACT
    val df = (1 to 100).map(v => ("g", v.toDouble)).toDF("g", "v")
    val sk = df.groupBy("g").agg(kllSketch(col("v"), 200).as("s"))
    val out = sk.select(kllCount(col("s")).as("n"),
      kllQuantile(col("s"), 0.5).as("p50"),
      kllQuantile(col("s"), 1.0).as("p100")).head()
    assert(out.getLong(0) == 100L)
    assert(out.getDouble(1) == 50.0) // INCLUSIVE criterion: rank .5 → 50th value
    assert(out.getDouble(2) == 100.0)
    val empty = df.where(col("v") < 0).groupBy("g").agg(kllSketch(col("v")).as("s"))
      .select(kllQuantile(col("s"), 0.5))
    assert(empty.collect().isEmpty || empty.head().isNullAt(0))
  }

  test("KLL sketches: shard-merge estimates land within the rank-error envelope") {
    import spark.implicits._
    // 40k lognormal-ish values across 8 shards; k=200 → ~1.65% rank
    // error w.h.p.; assert a generous 4% rank envelope vs exact.
    val n = 40000
    val df = (1 to n).map { i =>
      val u = ((i.toLong * 2654435761L) % 1000003L).toDouble / 1000003.0
      (i % 8, math.exp(4.0 * u)) // deterministic, heavy-tailed
    }.toDF("shard", "v")
    val perShard = Profile.quantileSketch(df, col("shard"), col("v"))
      .withColumn("g", lit(1))
    val est = Profile.quantileMerge(perShard, col("g"), col("sketch"),
      ranks = Seq(0.5, 0.9, 0.99)).head()
    assert(est.getAs[Long]("n") == n.toLong)
    val sorted = df.select("v").as[Double].collect().sorted
    for ((r, cName) <- Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")) {
      val v = est.getAs[Double](cName)
      // the estimate's true rank must be within ±4% of the target rank
      val trueRank = sorted.count(_ <= v).toDouble / n
      assert(math.abs(trueRank - r) < 0.04,
        s"$cName: est $v has true rank $trueRank, want ~$r")
    }
  }

  test("weightedSample: weight 1 keeps everything, 0 nothing, nested under re-weighting") {
    val df = spark.range(0, 1000).toDF("id")
    import graft.operators.Sampling
    assert(Sampling.weightedSample(df, col("id"), lit(1.0)).count() == 1000L)
    assert(Sampling.weightedSample(df, col("id"), lit(0.0)).count() == 0L)
    val lo = Sampling.weightedSample(df, col("id"), lit(0.2))
      .as[Long].collect().toSet
    val hi = Sampling.weightedSample(df, col("id"), lit(0.6))
      .as[Long].collect().toSet
    assert(lo.subsetOf(hi), "raising the weight must never evict a row")
  }

  test("centroids: hand-checked per-group means, 1-based dims") {
    import graft.operators.Similarity
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 6.0f)),
      ("b", Array(10.0f, 0.0f))).toDF("g", "v")
    val c = Similarity.centroids(df, col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(c(("a", 1)) == 2.0 && c(("a", 2)) == 4.0)
    assert(c(("b", 1)) == 10.0 && c(("b", 2)) == 0.0)
  }

  test("zipfCoverage: exact head fractions on a known distribution") {
    import graft.operators.TextMetrics
    // corpus: "x" 6 times, "y" 3, "z" 1 -> total 10
    val df = Seq("x x x x x x y y y z").toDF("text")
    val z = TextMetrics.zipfCoverage(df, col("text"), ks = Seq(1, 2, 3))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(z(1) == ((6L, 10L, 0.6)))
    assert(z(2) == ((9L, 10L, 0.9)))
    assert(z(3) == ((10L, 10L, 1.0)))
  }

  test("tableDigest: order-insensitive, duplicate-sensitive, null-distinct") {
    import graft.operators.Profile
    val base = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("k", "v")
    def dig(df: org.apache.spark.sql.DataFrame) = {
      val r = Profile.tableDigest(df, Seq("k", "v")).head()
      (r.getLong(0), r.getString(1))
    }
    val d1 = dig(base)
    // row order / partitioning never matters
    assert(dig(base.orderBy(col("k").desc).repartition(7)) == d1)
    // any value change moves it
    assert(dig(base.withColumn("v", when(col("k") === 2, "B").otherwise(col("v")))) != d1)
    // a DUPLICATED row changes the digest (XOR folds would cancel)
    assert(dig(base.unionAll(base.limit(1))) != d1)
    // null is distinct from any real value
    assert(dig(base.na.fill("", Seq("v"))) != d1)
  }

  test("reconcile classifies equal/mismatch/only_left/only_right; all-null rows still count") {
    import graft.operators.Profile
    val l = Seq((1L, Some("x")), (2L, Some("y")), (3L, Some("z")), (5L, None: Option[String]))
      .toDF("k", "v")
    val r = Seq((1L, Some("x")), (2L, Some("Y")), (4L, Some("w")), (5L, None: Option[String]))
      .toDF("k", "v")
    val out = Profile.reconcile(l, r, Seq("k"), Seq("v"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(out == Map(1L -> "equal", 2L -> "mismatch", 3L -> "only_left",
      4L -> "only_right", 5L -> "equal"), s"got $out")
  }

  test("winsorize clamps to exact group percentiles; nulls stay null") {
    import graft.operators.Profile
    // group g: values 0..100 -> p05 = 5.0, p95 = 95.0 exactly
    val rows = (0 to 100).map(i => ("g", Some(i.toDouble))) :+ (("g", None: Option[Double]))
    // a NULL-group row must survive the bounds join (clamp, don't drop)
    val withNullGrp = rows.toDF("grp", "v").unionByName(
      Seq((None: Option[String], Some(42.0))).toDF("grp", "v"))
    assert(Profile.winsorize(withNullGrp, col("grp"), col("v")).count() == 103)
    val out = Profile.winsorize(rows.toDF("grp", "v"), col("grp"), col("v"))
      .select("v", "v_winsorized").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getDouble(0)) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(0.0) == 5.0 && out(3.0) == 5.0)
    assert(out(50.0) == 50.0)
    assert(out(97.0) == 95.0 && out(100.0) == 95.0)
    assert(out(null) == null)
  }

  test("robustStandardize: MAD scoring flags the outlier classic z masks") {
    import graft.operators.Profile
    // 9 values near 10 plus one wild outlier: median 10, MAD 1 ->
    // z_robust(1000) huge; the outlier can't inflate its own yardstick
    val vals = Seq(8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
      .toDF("id", "grp", "v")
    val out = Profile.robustStandardize(df, col("grp"), col("v"))
      .select("id", "z_robust").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(9L) > 100.0, s"outlier z_robust ${out(9L)}")
    // inliers stay small
    assert((0L to 8L).forall(i => math.abs(out(i)) < 3.0), s"got $out")
    // classic standardize, for contrast: the outlier inflates stddev so
    // much its own z stays small — the masking robust scoring avoids
    val classic = Profile.standardize(df, col("grp"), col("v"))
      .filter(col("id") === 9L).select("z").head().getDouble(0)
    assert(classic < 3.0, s"classic z $classic unexpectedly large")
  }

  test("psi: identical snapshots read ~0, a hard shift clears the 0.25 action line") {
    import graft.operators.Profile
    val base = (0 until 1000).map(i => Tuple1((i % 100).toDouble)).toDF("v")
    val same = Profile.psi(base, base, col("v"), lo = 0, hi = 100, nBins = 10)
      .head().getDouble(2)
    assert(math.abs(same) < 1e-9, s"identical snapshots psi $same")
    val shifted = (0 until 1000).map(i => Tuple1((i % 100).toDouble / 2))
      .toDF("v")
    val drift = Profile.psi(base, shifted, col("v"), lo = 0, hi = 100, nBins = 10)
      .head().getDouble(2)
    assert(drift > 0.25, s"hard shift psi $drift")
  }

  test("psiByGroup: drift localizes to the group that moved; one-sided groups report") {
    import graft.operators.Profile
    val pre = (0 until 300).map(i => (s"s${i % 3}", (i % 100).toDouble)).toDF("grp", "v")
    // s0 unchanged, s1 shifted hard, s2 missing entirely from `after`
    val post = (0 until 300).map(i => (s"s${i % 3}", (i % 100).toDouble))
      .filter(_._1 != "s2")
      .map { case (g, v) => (g, if (g == "s1") v / 2 else v) }
      .toDF("grp", "v")
    val out = Profile.psiByGroup(pre, post, col("grp"), col("v"),
        lo = 0, hi = 100, nBins = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(math.abs(out("s0")._2) < 1e-9, s"stable group drifted: ${out("s0")}")
    assert(out("s1")._2 > 0.25, s"shifted group under-reported: ${out("s1")}")
    // a vanished group's ALARM is n_after = 0 (an empty side smooths to
    // uniform, so its psi only measures the before-side's shape — the
    // operator doc gates on counts first, score second)
    assert(out("s2")._1 == 0L, s"vanished group: ${out("s2")}")
  }

  test("psiByGroup: a NULL group is a real group, not a dropped row") {
    import graft.operators.Profile
    // null-keyed rows (unattributed source) shift hard; named group is
    // stable — the null group must still report, with the drift
    val pre = (0 until 200).map(i =>
      (if (i % 2 == 0) None else Some("a"), (i % 100).toDouble)).toDF("grp", "v")
    val post = (0 until 200).map(i =>
      (if (i % 2 == 0) None else Some("a"),
        if (i % 2 == 0) (i % 100).toDouble / 2 else (i % 100).toDouble)).toDF("grp", "v")
    val rows = Profile.psiByGroup(pre, post, col("grp"), col("v"),
        lo = 0, hi = 100, nBins = 10)
      .collect().map(r =>
        (if (r.isNullAt(0)) null else r.getString(0)) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.contains(null), s"null group vanished: ${rows.keySet}")
    assert(rows(null)._1 == 100L && rows(null)._2 == 100L, s"null group counts: ${rows(null)}")
    assert(rows(null)._3 > 0.25, s"null group drift under-reported: ${rows(null)}")
    assert(math.abs(rows("a")._3) < 1e-9, s"stable group drifted: ${rows("a")}")
  }

  test("tokenEntropy: uniform distribution gives ln(k), degenerate gives 0") {
    val df = Seq(
      ("u", "a b c d"),     // 4 distinct, uniform -> ln(4)
      ("z", "x x x x")      // single token -> 0
    ).toDF("src", "text")
    val e = TextMetrics.tokenEntropy(df, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(e("u")._1 == 4L && e("u")._2 == 4L)
    assert(math.abs(e("u")._3 - math.log(4.0)) < 1e-3)
    assert(e("z") == ((4L, 1L, 0.0)))
  }

  test("countMinSketch: never undercounts, exact on light load, merge == whole") {
    // 100 distinct keys with known counts (key i appears i+1 times)
    val rows = (0 until 100).flatMap(i => Seq.fill(i + 1)(s"k$i"))
    val df = rows.toDF("k")
    val sketch = Profile.countMinSketch(df, $"k", width = 2048, depth = 4)
      .localCheckpoint()
    val keys = (0 until 100).map(i => s"k$i").toDF("k")
    val est = Profile.cmsEstimate(keys, $"k", sketch, width = 2048, depth = 4)
      .as[(String, Long)].collect().toMap
    val truth = (0 until 100).map(i => s"k$i" -> (i + 1L)).toMap
    // CMS never undercounts
    assert(truth.forall { case (k, n) => est(k) >= n })
    // 100 keys in 2048x4 cells: collisions essentially absent -> exact
    assert(truth.count { case (k, n) => est(k) == n } >= 95)
    // absent key estimates (near) zero under light load
    val miss = Profile.cmsEstimate(Seq("nope").toDF("k"), $"k", sketch, 2048, 4)
      .as[(String, Long)].collect().head._2
    assert(miss <= 2L)
    // mergeability is EXACT: sketch(a ++ b) == merge(sketch(a), sketch(b))
    val (a, b) = (rows.take(2000).toDF("k"), rows.drop(2000).toDF("k"))
    val merged = Profile.cmsMerge(Seq(
        Profile.countMinSketch(a, $"k", 2048, 4),
        Profile.countMinSketch(b, $"k", 2048, 4)))
      .as[(Int, Int, Long)].collect().toSet
    val whole = sketch.as[(Int, Int, Long)].collect().toSet
    assert(merged == whole)
  }

  test("trendFit: hand-computed OLS slope/intercept/R²; degenerate and flat keys report zeros") {
    val pts = Seq(
      // perfect ascending line y = 2x + 1
      ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 5.0),
      // flat series: slope 0, intercept 4, varY = 0 -> r2 reports 0
      ("b", 0.0, 4.0), ("b", 1.0, 4.0), ("b", 2.0, 4.0),
      // single point: degenerate (n < 2) -> all zeros
      ("c", 7.0, 9.0),
      // repeated x: varX = 0 -> degenerate -> all zeros
      ("d", 5.0, 1.0), ("d", 5.0, 2.0),
      // imperfect fit: slope 1/2, intercept 1/6 (6-dp floor), r2 3/4
      ("e", 0.0, 0.0), ("e", 1.0, 1.0), ("e", 2.0, 1.0),
      // perfect descending line y = -2x + 5: toward-zero truncation of negatives
      ("f", 0.0, 5.0), ("f", 1.0, 3.0), ("f", 2.0, 1.0)
    ).toDF("k", "x", "y")
    val out = operators.Stats.trendFit(pts, $"k", $"x", $"y")
      .orderBy("key")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(out(0) == (("a", 3L, 2.0, 1.0, 1.0)))
    assert(out(1) == (("b", 3L, 0.0, 4.0, 0.0)))
    assert(out(2) == (("c", 1L, 0.0, 0.0, 0.0)))
    assert(out(3) == (("d", 2L, 0.0, 0.0, 0.0)))
    assert(out(4) == (("e", 3L, 0.5, math.floor(1.0 / 6.0 * 1e6) / 1e6, 0.75)))
    assert(out(5) == (("f", 3L, -2.0, 5.0, 1.0)))
  }

  test("trimmedMean drops outliers winsorize would clamp; null-safe on groups and values") {
    import graft.operators.Profile
    // group g: 1..10 plus a 1000 outlier; trim [0.1, 0.9] cuts the
    // extremes OUT of the mean instead of voting them at the boundary
    val rows = ((1 to 10).map(i => (Some("g"), Some(i.toDouble))) :+
      ((Some("g"), Some(1000.0))) :+
      ((None: Option[String], Some(7.0))) :+      // null group still aggregates
      ((Some("g"), None: Option[Double]))          // null value ignored
      ).toDF("grp", "v")
    val out = Profile.trimmedMean(rows, col("grp"), col("v"),
      loQ = 0.1, hiQ = 0.9).orderBy(col("grp").asc_nulls_first).collect()
    val nullG = out(0)
    assert(nullG.isNullAt(0) && nullG.getAs[Long]("n") == 1L)
    assert(nullG.getAs[Double]("mean_trimmed") == 7.0)
    val g = out(1)
    assert(g.getAs[Long]("n") == 11L)
    assert(g.getAs[Long]("n_trimmed") == 2L) // the 1 and the 1000
    assert(g.getAs[Double]("mean_trimmed") < 10.0) // outlier really gone
    assert(g.getAs[Double]("mean_raw") > 90.0)     // raw mean poisoned
  }

  test("autocorrelation finds a planted period, signs alternation, flags flat series") {
    import graft.operators.Stats
    // key p: period-4 pattern over 80 buckets → ACF peaks at lag 4;
    // key a: alternating ±1 → lag 1 strongly negative, lag 2 positive;
    // key f: flat → degenerate
    val rows =
      (0L until 80L).map(b => ("p", b, Seq(10.0, 2.0, 5.0, 1.0)((b % 4).toInt))) ++
      (0L until 80L).map(b => ("a", b, if (b % 2 == 0) 1.0 else -1.0)) ++
      (0L until 80L).map(b => ("f", b, 3.0))
    val out = Stats.autocorrelation(rows.toDF("k", "b", "v"),
        col("k"), col("b"), col("v"), maxLag = 4)
      .collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Int]("lag")) -> r).toMap
    assert(out(("p", 4)).getAs[Double]("acf") > 0.9)
    assert(out(("p", 4)).getAs[Double]("acf") >
      out(("p", 1)).getAs[Double]("acf"))
    assert(out(("a", 1)).getAs[Double]("acf") < -0.9)
    assert(out(("a", 2)).getAs[Double]("acf") > 0.9)
    (1 to 4).foreach { l =>
      val f = out(("f", l))
      assert(f.getAs[Boolean]("degenerate") && f.getAs[Double]("acf") == 0.0)
    }
    assert(out(("p", 1)).getAs[Long]("n_pairs") == 79L)
  }

  test("crossCorrelation peaks at the planted lead and flags a flat side") {
    import graft.operators.Stats
    // y follows x by exactly 2 buckets → the peak sits at lag +2
    def x(b: Long) = Seq(9.0, 1.0, 4.0, 7.0, 2.0)((b % 5).toInt)
    val rows = (0L until 60L).map(b => ("k", b, x(b), x(math.max(0L, b - 2))))
    val out = Stats.crossCorrelation(rows.toDF("k", "b", "x", "y"),
        col("k"), col("b"), col("x"), col("y"), maxLag = 3)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("xcorr")).toMap
    assert(out(2) > 0.9, s"lag-2 corr ${out(2)}")
    assert(out.filter(_._1 != 2).values.forall(_ < out(2)))

    val flat = (0L until 20L).map(b => ("k", b, x(b), 5.0))
    val d = Stats.crossCorrelation(flat.toDF("k", "b", "x", "y"),
      col("k"), col("b"), col("x"), col("y"), maxLag = 2).collect()
    assert(d.forall(_.getAs[Boolean]("degenerate")))
    assert(d.forall(_.getAs[Double]("xcorr") == 0.0))
  }

  test("mannWhitney: exact U with half-credit ties, directional z, degenerate on all-tied") {
    import graft.operators.Stats
    // A = (1,2,3) all below B = (4,5,6): U (B-below-A pairs) = 0
    val sep = Seq((1.0, true), (2.0, true), (3.0, true),
      (4.0, false), (5.0, false), (6.0, false)).toDF("v", "a")
    val s1 = Stats.mannWhitney(sep, col("v"), col("a")).collect()(0)
    assert(s1.getAs[Double]("u") == 0.0)
    assert(s1.getAs[Double]("z") < 0) // A stochastically smaller
    // one tie: A=(1,2), B=(2,3) → U = 0.5 exactly (half credit)
    val tied = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "a")
    assert(Stats.mannWhitney(tied, col("v"), col("a")).collect()(0)
      .getAs[Double]("u") == 0.5)
    // everything tied: variance 0 → degenerate, z 0, not significant
    val allTied = Seq((7.0, true), (7.0, true), (7.0, false), (7.0, false))
      .toDF("v", "a")
    val s3 = Stats.mannWhitney(allTied, col("v"), col("a")).collect()(0)
    assert(s3.getAs[Boolean]("degenerate") && s3.getAs[Double]("z") == 0.0)
    assert(!s3.getAs[Boolean]("significant"))
  }

  test("mannWhitney: empty and one-row inputs report the degenerate row") {
    import graft.operators.Stats
    // n(n−1) = 0 in the tie correction: the row must come back, not an
    // ANSI divide-by-zero
    val empty = Stats.mannWhitney(Seq.empty[(Double, Boolean)].toDF("v", "a"),
      col("v"), col("a")).collect()
    assert(empty.toSeq.map(_.toSeq) == Seq(Seq(0L, 0L, 0.0, 0.0, false, true)))
    val single = Stats.mannWhitney(Seq((1.0, true)).toDF("v", "a"),
      col("v"), col("a")).collect()
    assert(single.toSeq.map(_.toSeq) == Seq(Seq(1L, 0L, 0.0, 0.0, false, true)))
  }

  test("gini: 0 on uniform masses, hand value on skew, 0 on a single group") {
    import graft.operators.Profile
    val uniform = Seq("a", "a", "b", "b", "c", "c").toDF("g")
    assert(Profile.gini(uniform, col("g")).collect()(0)
      .getAs[Double]("gini") == 0.0)
    // masses (1,1,8): G = 2·27/(3·10) − 4/3 = 0.4666…
    val skew = (Seq.fill(1)("a") ++ Seq.fill(1)("b") ++ Seq.fill(8)("c")).toDF("g")
    assert(Profile.gini(skew, col("g")).collect()(0)
      .getAs[Double]("gini") == 0.4666)
    val single = Seq("x", "x", "x").toDF("g")
    assert(Profile.gini(single, col("g")).collect()(0)
      .getAs[Double]("gini") == 0.0)
  }

  test("spearman: ±1 on monotone data, exact midranks on ties, invariant to monotone transforms") {
    import graft.operators.Stats
    val up = Seq((1.0, 10.0), (2.0, 40.0), (3.0, 90.0)).toDF("a", "b")
    assert(Stats.spearman(up, col("a"), col("b")).collect()(0)
      .getAs[Double]("rho") == 1.0)
    val down = Seq((1.0, 90.0), (2.0, 40.0), (3.0, 10.0)).toDF("a", "b")
    assert(Stats.spearman(down, col("a"), col("b")).collect()(0)
      .getAs[Double]("rho") == -1.0)
    // ties: a = (1,1,2) midranks (1.5,1.5,3) vs b = (3,5,9) →
    // Pearson on ranks = 1.5/sqrt(1.5*2) = 0.8660…
    val tied = Seq((1.0, 3.0), (1.0, 5.0), (2.0, 9.0)).toDF("a", "b")
    assert(Stats.spearman(tied, col("a"), col("b")).collect()(0)
      .getAs[Double]("rho") == 0.866)
    // rank-based: cubing one side changes Pearson, not Spearman
    val base = (1 to 20).map(i => (i.toDouble, (i % 7) * 10.0 + i))
    val r1 = Stats.spearman(base.toDF("a", "b"), col("a"), col("b"))
      .collect()(0).getAs[Double]("rho")
    val r2 = Stats.spearman(
      base.map { case (a, b) => (a * a * a, b) }.toDF("a", "b"),
      col("a"), col("b")).collect()(0).getAs[Double]("rho")
    assert(r1 == r2)
  }

  test("spearman: constant side and tiny n flag degenerate with rho 0") {
    import graft.operators.Stats
    val const = Seq((5.0, 1.0), (5.0, 2.0), (5.0, 3.0)).toDF("a", "b")
    val out = Stats.spearman(const, col("a"), col("b")).collect()(0)
    assert(out.getAs[Double]("rho") == 0.0 && out.getAs[Boolean]("degenerate"))
    val one = Stats.spearman(Seq((1.0, 2.0)).toDF("a", "b"),
      col("a"), col("b")).collect()(0)
    assert(one.getAs[Boolean]("degenerate"))
  }

  test("benjaminiHochberg: textbook step-down at q=0.05, ranks and thresholds exact") {
    import graft.operators.Stats
    // sorted p: .005 .01 .03 .04 .2 vs thresholds .01 .02 .03 .04 .05
    // → every one of the first four passes its own bar, k* = 4
    val df = Seq(("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", 0.005), ("e", 0.2))
      .toDF("k", "p")
    val out = Stats.benjaminiHochberg(df, col("k"), col("p"), q = 0.05)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("key")).toSeq == Seq("d", "a", "c", "b", "e"))
    assert(out.map(_.getAs[Boolean]("discovery")).toSeq ==
      Seq(true, true, true, true, false))
    assert(out(0).getAs[Double]("bh_threshold") == 0.05 * 1 / 5)
    assert(out.forall(_.getAs[Long]("m") == 5L))
  }

  test("benjaminiHochberg step-up: a rank that misses its own bar is still discovered below k*") {
    import graft.operators.Stats
    // sorted p: .004 .035 .045 vs thresholds .0166 .0333 .05 —
    // rank 2 fails ITS bar but rank 3 passes, so all 3 are discoveries
    val df = Seq(("x", 0.035), ("y", 0.004), ("z", 0.045)).toDF("k", "p")
    val out = Stats.benjaminiHochberg(df, col("k"), col("p"), q = 0.05)
      .orderBy("rank").collect()
    assert(out.forall(_.getAs[Boolean]("discovery")))
  }

  test("benjaminiHochberg: nulls rank last, count toward m, never discover; empty-safe") {
    import graft.operators.Stats
    val df = Seq(("a", Some(0.001)), ("b", None), ("c", Some(0.9)))
      .toDF("k", "p")
    val out = Stats.benjaminiHochberg(df, col("k"), col("p"), q = 0.05)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("key")).toSeq == Seq("a", "c", "b"))
    assert(out.forall(_.getAs[Long]("m") == 3L)) // null still in m
    assert(out(0).getAs[Boolean]("discovery"))   // .001 <= .05/3
    assert(!out(2).getAs[Boolean]("discovery"))
    assert(out(2).getAs[Boolean]("untested"))

    val none = Stats.benjaminiHochberg(
      Seq(("a", 0.9)).toDF("k", "p"), col("k"), col("p")).collect()
    assert(none.length == 1 && !none(0).getAs[Boolean]("discovery"))
  }

  test("benford: digit extraction, grid completion, exclusions, chi2 replication") {
    import spark.implicits._
    // digits: 1×3 (1, 12, 190), 2×1 (25), 9×1 (900); zero/negative/null excluded
    val df = Seq[Option[Long]](Some(1L), Some(12L), Some(190L), Some(25L),
      Some(900L), Some(0L), Some(-7L), None).toDF("v")
    val r = Profile.benford(df, col("v")).orderBy("digit").collect()
    assert(r.length == 9, "grid completes all nine digits")
    val byDigit = r.map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(byDigit(1) == 3L && byDigit(2) == 1L && byDigit(9) == 1L)
    assert(byDigit(5) == 0L, "absent digit surfaces at n=0")
    assert(r.head.getAs[Long]("n_excluded") == 3L)
    assert(r.head.getAs[Double]("p_observed") == 0.6)
    // chi2 identical on every row; replicate the op sequence exactly
    def t7(x: Double) = math.floor(x * 1e7) / 1e7
    val exp = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val ns = (1 to 9).map(d => byDigit(d).toDouble)
    val chi = (1 to 9).map { d =>
      val e = exp(d) * 5
      BigDecimal(t7((ns(d - 1) - e) * (ns(d - 1) - e) / e))
    }.sum
    val expChi = math.floor(chi.toDouble * 1e4) / 1e4
    assert(r.forall(_.getAs[Double]("chi2") == expChi),
      s"${r.head.getAs[Double]("chi2")} vs $expChi")
    // raw DOUBLE column: the operator floors before the long cast, so
    // 19.7 counts as first-digit 1 (truncation semantics) on every
    // engine — Spark's double→long cast truncates but DuckDB ROUNDS,
    // which without the floor made 19.7 count as digit 2 there
    val dd = Seq(19.7, 0.4, 2.9).toDF("v")
    val rd = Profile.benford(dd, col("v")).orderBy("digit").collect()
    val byD = rd.map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(byD(1) == 1L && byD(2) == 1L && byD(3) == 0L, s"${byD}")
    assert(rd.head.getAs[Long]("n_excluded") == 1L, "0.4 floors to 0: excluded")
  }

  test("functionalDependencies: violations counted, NULL is a det value, key holds both ways") {
    import spark.implicits._
    val df = Seq(
      (Some(1), "a"), (Some(1), "a"), // 1 -> a consistently
      (Some(2), "b"), (Some(2), "c"), // 2 -> {b, c}: violation
      (None, "x"), (None, "y")) // NULL det maps to two deps: violation
      .toDF("k", "v")
    val r = Profile.functionalDependencies(df, Seq("k", "v"))
      .orderBy("determinant")
      .as[(String, String, Long, Long, Long, Boolean)].collect()
    // k: distinct {1, 2, NULL} = 3; (k,v) pairs = 5 -> 2 violations
    assert(r(0) == (("k", "v", 3L, 5L, 2L, false)), s"${r(0)}")
    // v -> k: every value maps to one key -> holds
    assert(r(1) == (("v", "k", 5L, 5L, 0L, true)), s"${r(1)}")
    intercept[IllegalArgumentException] {
      Profile.functionalDependencies(df, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Profile.functionalDependencies(df, Seq("k", "k"))
    }
  }

  test("quantileNormalize: hand-mapped ranks, identity on the reference, singleton median, loud missing ref") {
    import spark.implicits._
    val df = Seq(
      ("ref", 1L, 10.0), ("ref", 2L, 20.0), ("ref", 3L, 30.0), ("ref", 4L, 40.0),
      ("g", 10L, 5.0), ("g", 11L, 100.0), // ranks 1,2 of n=2 -> ref 10, 40
      ("solo", 20L, 7.0)) // singleton -> ref median rank 2 -> 20
      .toDF("src", "id", "v")
    val r = Profile.quantileNormalize(df, col("src"), col("id"), col("v"), "ref")
      .orderBy("group_key", "id")
      .select("group_key", "id", "normalized")
      .as[(String, Long, Double)].collect()
    assert(r.toSeq == Seq(
      ("g", 10L, 10.0), ("g", 11L, 40.0),
      ("ref", 1L, 10.0), ("ref", 2L, 20.0), ("ref", 3L, 30.0), ("ref", 4L, 40.0),
      ("solo", 20L, 20.0)),
      s"got ${r.toSeq}")
    // the reference normalizes to ITSELF (identity) — asserted above
    // rank by (value, id): equal values break ties deterministically
    val tie = Seq(("ref", 1L, 1.0), ("ref", 2L, 2.0),
      ("g", 9L, 5.0), ("g", 8L, 5.0)).toDF("src", "id", "v")
    val rt = Profile.quantileNormalize(tie, col("src"), col("id"), col("v"), "ref")
      .filter(col("group_key") === "g").orderBy("id")
      .select("id", "normalized").as[(Long, Double)].collect()
    assert(rt.toSeq == Seq((8L, 1.0), (9L, 2.0)))
    val err = intercept[IllegalArgumentException] {
      Profile.quantileNormalize(df, col("src"), col("id"), col("v"), "nope")
    }
    assert(err.getMessage.contains("quantileNormalize"), err.getMessage)
  }

  test("tCloseness: hand-computed TVD; skewed class fails, balanced passes; absent values accounted") {
    import graft.operators.Profile
    // global: a=6, b=4, N=10. c1={a,a,a,a}: (|4*10-6*4| + |0-4*4|)
    // / (2*4*10) = 32/80 = 0.4 -- the absent value b contributes its
    // global share. c2={a,a,b,b}: (4+4)/80 = 0.1. c3={b,b}:
    // (12+12)/40 = 0.6. t=0.25 passes only the balanced class.
    val df = (Seq.fill(4)(("c1", "a")) ++ Seq(("c2", "a"), ("c2", "a"),
      ("c2", "b"), ("c2", "b"), ("c3", "b"), ("c3", "b"))).toDF("q", "v")
    val rows = Profile.tCloseness(df, Seq(col("q").as("q")), col("v"), t = 0.25)
      .collect().map(r => r.getString(0) -> r).toMap
    val c1 = rows("c1")
    assert(c1.getAs[Long]("class_size") == 4L && c1.getAs[Double]("tvd") == 0.4
      && !c1.getAs[Boolean]("t_close"), c1.toString)
    val c2 = rows("c2")
    assert(c2.getAs[Double]("tvd") == 0.1 && c2.getAs[Boolean]("t_close"), c2.toString)
    val c3 = rows("c3")
    assert(c3.getAs[Long]("class_size") == 2L && c3.getAs[Double]("tvd") == 0.6
      && !c3.getAs[Boolean]("t_close"), c3.toString)
  }
}
