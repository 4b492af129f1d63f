package graft

import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, RollingHashWinnow, SimHash64}

/** The SQL names registered by GraftFunctions must agree exactly with
  * the Column API for every custom expression.
  */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("simhash64 SQL name matches the Column API") {
    val df = Seq((1L, Seq("a", "b", "c")), (2L, Seq("x", "y"))).toDF("id", "toks")
    df.createOrReplaceTempView("t_sim")
    val viaSql = spark.sql("SELECT id, simhash64(toks) AS s FROM t_sim ORDER BY id")
      .as[(Long, Long)].collect().toSeq
    val viaCol = df.select($"id", SimHash64.simhash64($"toks").as("s")).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(viaSql == viaCol)
  }

  test("winnow_fingerprint SQL name matches the Column API incl. params") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    df.createOrReplaceTempView("t_win")
    val viaSql = spark.sql("SELECT winnow_fingerprint(text, 4, 8) AS f FROM t_win")
      .as[Seq[Long]].head()
    val viaCol = df.select(RollingHashWinnow.winnowFingerprint($"text", 4, 8).as("f"))
      .as[Seq[Long]].head()
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("dot_product SQL name matches the Column API") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    df.createOrReplaceTempView("t_dot")
    val viaSql = spark.sql("SELECT dot_product(a, b) AS d FROM t_dot").as[Double].head()
    val viaCol = df.select(DotProduct.dotProduct($"a", $"b").as("d")).as[Double].head()
    assert(viaSql == 32.0 && viaCol == 32.0)
  }

  test("SQL builders coerce argument types like the Column wrappers") {
    // int arrays: without the builder-side cast this read int-backed
    // ArrayData through getDouble — silently wrong values
    val d = spark.sql("SELECT dot_product(array(1, 2), array(3, 4)) AS d").as[Double].head()
    assert(d == 11.0, s"int-array dot_product returned $d")
    // int tokens / int text coerce instead of failing or misreading
    val viaSqlSim = spark.sql("SELECT simhash64(array(12, 34)) AS s").as[Long].head()
    val viaColSim = spark.range(1)
      .select(SimHash64.simhash64(array(lit("12"), lit("34"))).as("s")).as[Long].head()
    assert(viaSqlSim == viaColSim)
    val viaSqlWin = spark.sql("SELECT winnow_fingerprint(1234567890, 4, 8) AS f")
      .as[Seq[Long]].head()
    val viaColWin = spark.range(1)
      .select(RollingHashWinnow.winnowFingerprint(lit("1234567890"), 4, 8).as("f"))
      .as[Seq[Long]].head()
    assert(viaSqlWin == viaColWin)
  }

  test("array_agree_count matches the HOF fold and registers in SQL") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      (Seq(5L, 5L), Seq(5L, 5L)),
      (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
    df.createOrReplaceTempView("t_agree")
    val viaCol = df.select(
      graft.functions.ArrayAgreeCount.arrayAgreeCount($"a", $"b").as("n"))
      .as[Int].collect().toSeq
    assert(viaCol == Seq(3, 2, 0))
    // equals the interpreted HOF it replaced
    val viaHof = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).as("n")).as[Int].collect().toSeq
    assert(viaCol == viaHof)
    val viaSql = spark.sql(
      "SELECT array_agree_count(a, b) AS n FROM t_agree").as[Int].collect().toSeq
    assert(viaSql == viaCol)
    // int-array args coerce like the Column wrapper casts
    assert(spark.sql("SELECT array_agree_count(array(1, 2), array(1, 3)) AS n")
      .as[Int].head() == 1)
  }

  test("CollapseUnicodeNormalize rule removes redundant nested normalizations") {
    import graft.functions.UnicodeNormalize.{nfc, nfkc, normalize}
    // non-foldable, non-local input: a LocalRelation projection would be
    // evaluated away by ConvertToLocalRelation/ConstantFolding and hide
    // the rewrite under test
    val base = spark.range(1)
    def s = concat(lit("cafe\u0301 "), $"id".cast("string"))
    def nNormalizeNodes(c: org.apache.spark.sql.Column): Int = {
      val plan = base.select(c.as("x")).queryExecution.optimizedPlan.toString
      "unicode_normalize".r.findAllIn(plan).length
    }
    // idempotent same-form collapses to ONE node
    assert(nNormalizeNodes(nfc(nfc(s))) == 1)
    // NFKC absorbs an inner canonical NFC pass
    assert(nNormalizeNodes(nfkc(nfc(s))) == 1)
    // NFC after NFD is NOT redundant -- must keep both
    assert(nNormalizeNodes(nfc(normalize(s, "NFD"))) == 2)
    // and the rewrite preserves values
    val out = base.select(nfkc(nfc(s)).as("x")).as[String].head()
    assert(out == "caf\u00e9 0")
  }

  test("unicode_normalize SQL name matches the Column API and rejects bad forms") {
    // decomposed e + U+0301 must compose to é under NFC on both paths
    val df = Seq((1L, "cafe\u0301"), (2L, "plain")).toDF("id", "text")
    df.createOrReplaceTempView("t_nfc")
    val viaSql = spark.sql(
      "SELECT id, unicode_normalize(text) AS s, unicode_normalize(text, 'NFKC') AS k " +
        "FROM t_nfc ORDER BY id").as[(Long, String, String)].collect().toSeq
    val viaCol = df.select($"id",
        graft.functions.UnicodeNormalize.nfc($"text").as("s"),
        graft.functions.UnicodeNormalize.nfkc($"text").as("k"))
      .orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(viaSql == viaCol)
    assert(viaSql.head._2 == "caf\u00e9" && viaSql.head._2.length == 4)
    val err = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
    assert(err.getMessage.contains("NFX") || err.getMessage.contains("form"))
  }

  test("deflate_len SQL name matches the Column API and coerces non-strings") {
    val df = Seq((1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), (2L, "xyz")).toDF("id", "text")
    df.createOrReplaceTempView("t_defl")
    val viaSql = spark.sql("SELECT id, deflate_len(text) AS d FROM t_defl ORDER BY id")
      .as[(Long, Int)].collect().toSeq
    val viaCol = df.select($"id", graft.functions.DeflateLen.deflateLen($"text").as("d"))
      .orderBy("id").as[(Long, Int)].collect().toSeq
    assert(viaSql == viaCol)
    assert(viaSql.head._2 < 30, "a 30-char single-letter run must compress")
    // int argument coerces to its decimal string form, like the wrappers
    val viaSqlInt = spark.sql("SELECT deflate_len(1234567890) AS d").as[Int].head()
    val viaColInt = spark.range(1)
      .select(graft.functions.DeflateLen.deflateLen(lit("1234567890")).as("d")).as[Int].head()
    assert(viaSqlInt == viaColInt)
  }

  test("chrf_stats / token_gram_stats SQL names match the Column API incl. maxN") {
    import graft.functions.{ChrFStats, TokenGramStats}
    val df = Seq(
      (1L, "thecat", "thecats", Seq("the", "cat"), Seq("the", "cats")),
      (2L, "abc", "xyz", Seq("a"), Seq.empty[String]),
      (3L, null: String, "ref", null: Seq[String], Seq("ref")))
      .toDF("id", "cand", "ref", "ctoks", "rtoks")
    df.createOrReplaceTempView("t_gram")
    val chrSql = spark.sql(
      "SELECT id, chrf_stats(cand, ref) AS c6, chrf_stats(cand, ref, 2) AS c2 " +
        "FROM t_gram ORDER BY id").collect().map(_.toSeq)
    val chrCol = df.select($"id",
        ChrFStats.chrfStats($"cand", $"ref", 6).as("c6"),
        ChrFStats.chrfStats($"cand", $"ref", 2).as("c2"))
      .orderBy("id").collect().map(_.toSeq)
    assert(chrSql.toSeq == chrCol.toSeq)
    val tgSql = spark.sql(
      "SELECT id, token_gram_stats(ctoks, rtoks) AS g4, " +
        "token_gram_stats(ctoks, rtoks, 1) AS g1 FROM t_gram ORDER BY id")
      .collect().map(_.toSeq)
    val tgCol = df.select($"id",
        TokenGramStats.tokenGramStats($"ctoks", $"rtoks", 4).as("g4"),
        TokenGramStats.tokenGramStats($"ctoks", $"rtoks", 1).as("g1"))
      .orderBy("id").collect().map(_.toSeq)
    assert(tgSql.toSeq == tgCol.toSeq)
    // int-token arrays coerce like the Column wrapper casts
    assert(spark.sql(
      "SELECT token_gram_stats(array(1, 2), array(1, 2), 1) AS g").collect()(0)
      .getSeq[Long](0) == Seq(2L, 2L, 2L))
  }

  test("bloom_might_contain SQL name (hex binary literal) matches the Column API") {
    import org.apache.spark.util.sketch.BloomFilter
    val bloom = BloomFilter.create(1000, 0.01)
    Seq(2L, 4L, 6L, 8L).foreach(bloom.putLong)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    val hex = out.toByteArray.map(b => f"$b%02X").mkString
    val df = spark.range(10).toDF("id")
    df.createOrReplaceTempView("t_bloom")
    val viaSql = spark.sql(
      s"SELECT id, bloom_might_contain(id, X'$hex') AS hit FROM t_bloom ORDER BY id")
      .as[(Long, Boolean)].collect().toSeq
    val viaCol = df.select($"id",
        graft.functions.BloomMightContain.mightContain($"id", bloom).as("hit"))
      .orderBy("id").as[(Long, Boolean)].collect().toSeq
    assert(viaSql == viaCol)
    // no false negatives through the SQL path either
    Seq(2L, 4L, 6L, 8L).foreach(k => assert(viaSql(k.toInt)._2, s"missed $k"))
  }

  test("kll_* SQL names match the Column API across the sketch->merge->read chain") {
    import graft.functions.KllQuantileSketch._
    // < k values per group: zero compactions, sketches exact on both paths
    val df = (1 to 150).map(i => (i % 3, i.toDouble)).toDF("g", "v")
    df.createOrReplaceTempView("t_kll")
    val viaSql = spark.sql(
      """SELECT kll_quantile(kll_merge(sk), 0.5) AS med,
        |       kll_quantile(kll_merge(sk, 200), 0.9) AS p90,
        |       kll_count(kll_merge(sk)) AS n
        |FROM (SELECT kll_sketch(v) AS sk FROM t_kll GROUP BY g)""".stripMargin)
      .as[(Double, Double, Long)].head()
    val viaCol = df.groupBy("g").agg(kllSketch($"v").as("sk"))
      .agg(kllQuantile(kllMerge($"sk"), 0.5).as("med"),
        kllQuantile(kllMerge($"sk"), 0.9).as("p90"),
        kllCount(kllMerge($"sk")).as("n"))
      .as[(Double, Double, Long)].head()
    assert(viaSql == viaCol && viaSql._3 == 150L)
  }

  test("freq_* SQL names match the Column API across the sketch->merge->read chain") {
    import graft.functions.FreqItemsSketch._
    // 20 distinct items under capacity 64: sketches exact on both paths
    val df = (1 to 400).map(i => (i % 4, s"item${i % 20}")).toDF("g", "it")
    df.createOrReplaceTempView("t_freq")
    val viaSql = spark.sql(
      """SELECT freq_estimate(m, 'item7') AS e,
        |       freq_bounds(m, 'item7') AS b,
        |       freq_top_items(m, 3) AS top
        |FROM (SELECT freq_merge(sk, 64) AS m
        |      FROM (SELECT freq_sketch(it, 64) AS sk FROM t_freq GROUP BY g))""".stripMargin)
      .collect()(0)
    val viaCol = df.groupBy("g").agg(freqSketch($"it", 64).as("sk"))
      .agg(freqMerge($"sk", 64).as("m"))
      .select(freqEstimate($"m", lit("item7")).as("e"),
        freqBounds($"m", lit("item7")).as("b"),
        freqTopItems($"m", 3).as("top"))
      .collect()(0)
    assert(viaSql.toSeq.map(String.valueOf(_)) == viaCol.toSeq.map(String.valueOf(_)))
    assert(viaSql.getLong(0) == 20L)
    // int items coerce to strings like the Column wrapper casts
    assert(spark.sql("SELECT freq_estimate(freq_sketch(x, 64), '7') AS e " +
        "FROM (SELECT id % 10 AS x FROM range(100))").as[Long].head() == 10L)
  }

  test("lcs_len SQL name matches the Column API; hand-computed LCS incl. NULL/empty sides") {
    import graft.functions.LcsLen.lcsLen
    val df = Seq(
      (1L, Seq("a", "b", "c", "b", "d", "a", "b"), Seq("b", "d", "c", "a", "b", "a")),
      (2L, Seq("x", "y"), Seq("y", "x")),
      (3L, Seq("a", "a", "a"), Seq("a", "a")),
      (4L, Seq.empty[String], Seq("a")),
      (5L, Seq("same", "exact", "run"), Seq("same", "exact", "run")))
      .toDF("id", "ca", "cb")
    val viaCol = df.select($"id", lcsLen($"ca", $"cb").as("l"))
      .as[(Long, Long)].collect().toMap
    // classic textbook case: LCS(abcbdab, bdcaba) = 4
    assert(viaCol == Map(1L -> 4L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 3L), viaCol)
    df.createOrReplaceTempView("t_lcs")
    val viaSql = spark.sql("SELECT id, lcs_len(ca, cb) AS l FROM t_lcs")
      .as[(Long, Long)].collect().toMap
    assert(viaSql == viaCol)
    // NULL side counts as empty, never NULLs the output
    val n = Seq((9L, null.asInstanceOf[Seq[String]], Seq("a")))
      .toDF("id", "ca", "cb")
      .select(lcsLen($"ca", $"cb")).as[Long].head()
    assert(n == 0L)
  }

  test("every SQL name and arity builds exactly its Column wrapper's expression") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
    import org.apache.spark.util.sketch.BloomFilter
    import graft.functions._
    val bloom = BloomFilter.create(100, 0.01)
    bloom.putLong(7L)
    val bloomBytes = { val o = new java.io.ByteArrayOutputStream(); bloom.writeTo(o); o.toByteArray }
    val hex = bloomBytes.map(b => f"$b%02X").mkString
    val df = Seq((7L, Seq("a", "b", "c"), "abc", 1.5, Seq(1.0), Seq(1L), Array[Byte](1)))
      .toDF("id", "toks", "text", "v", "vec", "sig", "sk")
    // (SQL call, the same call through the Column wrapper): both must
    // analyze to one expression tree, or both must be rejected
    val cases: Seq[(String, () => Column)] = Seq(
      "simhash64(toks)" -> (() => SimHash64.simhash64($"toks")),
      "simhash64(toks, 7)" -> (() => SimHash64.simhash64($"toks", 7L)),
      "winnow_fingerprint(text)" -> (() => RollingHashWinnow.winnowFingerprint($"text")),
      "winnow_fingerprint(text, 4, 8)" ->
        (() => RollingHashWinnow.winnowFingerprint($"text", 4, 8)),
      "dot_product(vec, vec)" -> (() => DotProduct.dotProduct($"vec", $"vec")),
      "array_agree_count(sig, sig)" -> (() => ArrayAgreeCount.arrayAgreeCount($"sig", $"sig")),
      "minhash_signature(toks)" -> (() => MinHashSignature.minhashSignature($"toks")),
      "minhash_signature(toks, 16, 2)" ->
        (() => MinHashSignature.minhashSignature($"toks", 16, 2)),
      "minhash_signature(toks, 16, 2, 7)" ->
        (() => MinHashSignature.minhashSignature($"toks", 16, 2, 7L)),
      "unicode_normalize(text)" -> (() => UnicodeNormalize.normalize($"text")),
      "unicode_normalize(text, 'nfkc')" -> (() => UnicodeNormalize.normalize($"text", "nfkc")),
      "unicode_normalize(text, 'NFX')" -> (() => UnicodeNormalize.normalize($"text", "NFX")),
      "deflate_len(text)" -> (() => DeflateLen.deflateLen($"text")),
      "lcs_len(toks, toks)" -> (() => LcsLen.lcsLen($"toks", $"toks")),
      "chrf_stats(text, text)" -> (() => ChrFStats.chrfStats($"text", $"text")),
      "chrf_stats(text, text, 2)" -> (() => ChrFStats.chrfStats($"text", $"text", 2)),
      "token_gram_stats(toks, toks)" -> (() => TokenGramStats.tokenGramStats($"toks", $"toks")),
      "token_gram_stats(toks, toks, 2)" ->
        (() => TokenGramStats.tokenGramStats($"toks", $"toks", 2)),
      s"bloom_might_contain(id, X'$hex')" -> (() => BloomMightContain.mightContain($"id", bloom)),
      "kll_sketch(v)" -> (() => KllQuantileSketch.kllSketch($"v")),
      "kll_sketch(v, 400)" -> (() => KllQuantileSketch.kllSketch($"v", 400)),
      "kll_merge(sk)" -> (() => KllQuantileSketch.kllMerge($"sk")),
      "kll_merge(sk, 400)" -> (() => KllQuantileSketch.kllMerge($"sk", 400)),
      "kll_quantile(sk, 0.5D)" -> (() => KllQuantileSketch.kllQuantile($"sk", 0.5)),
      "kll_count(sk)" -> (() => KllQuantileSketch.kllCount($"sk")),
      "freq_sketch(text)" -> (() => FreqItemsSketch.freqSketch($"text")),
      "freq_sketch(text, 64)" -> (() => FreqItemsSketch.freqSketch($"text", 64)),
      "freq_sketch(text, 100)" -> (() => FreqItemsSketch.freqSketch($"text", 100)),
      "freq_merge(sk)" -> (() => FreqItemsSketch.freqMerge($"sk")),
      "freq_merge(sk, 64)" -> (() => FreqItemsSketch.freqMerge($"sk", 64)),
      "freq_merge(sk, 100)" -> (() => FreqItemsSketch.freqMerge($"sk", 100)),
      "freq_top_items(sk, 3)" -> (() => FreqItemsSketch.freqTopItems($"sk", 3)),
      "freq_estimate(sk, v)" -> (() => FreqItemsSketch.freqEstimate($"sk", $"v")),
      "freq_bounds(sk, v)" -> (() => FreqItemsSketch.freqBounds($"sk", $"v")),
      "theta_sketch(text)" -> (() => ThetaSketch.thetaSketch($"text")),
      "theta_sketch(text, 10)" -> (() => ThetaSketch.thetaSketch($"text", 10)),
      "theta_union(sk)" -> (() => ThetaSketch.thetaUnion($"sk")),
      "theta_union(sk, 10)" -> (() => ThetaSketch.thetaUnion($"sk", 10)),
      "theta_estimate(sk)" -> (() => ThetaSketch.thetaEstimate($"sk")),
      "theta_intersect_estimate(sk, sk)" -> (() => ThetaSketch.thetaIntersectEstimate($"sk", $"sk")),
      "theta_diff_estimate(sk, sk)" -> (() => ThetaSketch.thetaDiffEstimate($"sk", $"sk")))

    def projected(plan: LogicalPlan): Expression = (plan match {
      case p: Project => p.projectList.head
      case a: Aggregate => a.aggregateExpressions.head
    }) match { case Alias(e, _) => e }
    // constant casts fold (kll_quantile's SQL rank is a column that
    // happens to be a literal here), and equal filter bytes compare
    // equal (a byte array field compares by reference)
    val interned = scala.collection.mutable.Map.empty[Seq[Byte], Array[Byte]]
    def norm(e: Expression): Expression = e.transform {
      case c: Cast if c.foldable => Literal.create(c.eval(), c.dataType)
      case b: BloomMightContain =>
        b.copy(filterBytes = interned.getOrElseUpdate(b.filterBytes.toSeq, b.filterBytes))
    }
    def built(plan: => LogicalPlan) = scala.util.Try(norm(projected(plan)))
    val mismatches = cases.flatMap { case (call, wrapper) =>
      val viaSql = built(df.selectExpr(call).queryExecution.analyzed)
      val viaCol = built(df.select(wrapper()).queryExecution.analyzed)
      (viaSql, viaCol) match {
        // the wrapper's coercions stay out of an unaliased column name
        case (scala.util.Success(_), _) if df.selectExpr(call).columns.head.contains("CAST(") =>
          Some(s"$call: names its column ${df.selectExpr(call).columns.head}")
        case (scala.util.Success(a), scala.util.Success(b)) if a.semanticEquals(b) => None
        case (scala.util.Failure(_), scala.util.Failure(_)) => None
        case _ => Some(s"$call: SQL $viaSql vs Column $viaCol")
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))

    // the table covers every registered name in every arity its
    // builder accepts: any other arity is the usage error
    val arities = cases.map { case (call, _) =>
      spark.sessionState.sqlParser.parseExpression(call) match {
        case f: UnresolvedFunction => (f.nameParts.last, f.arguments.size)
      }
    }.groupBy(_._1).map { case (n, as) => n -> as.map(_._2).toSet }
    GraftFunctions.all.foreach { case (name, _, builder) =>
      val covered = arities.getOrElse(name, Set.empty)
      assert(covered.nonEmpty, s"$name has no SQL == Column case")
      (0 to 5).filterNot(covered).foreach { n =>
        val e = intercept[IllegalArgumentException](builder(Seq.fill(n)(Literal(1))))
        assert(e.getMessage.startsWith(s"$name("), s"$name accepts $n arguments untested")
      }
    }
  }
}
