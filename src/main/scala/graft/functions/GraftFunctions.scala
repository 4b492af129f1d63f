package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{BinaryType, StringType}

/** SQL-name registration for graft's custom Catalyst expressions, so
  * `spark.sql("SELECT simhash64(tokens), ...")` works exactly like the
  * Column API — a user of the reference switching to this library can
  * stay in pure SQL.
  *
  * Two registration paths:
  *  - `GraftFunctions.registerAll(spark)` — live session (Engine does
  *    this automatically);
  *  - `--conf spark.sql.extensions=graft.GraftExtensions` — builder
  *    time, for sessions the library doesn't construct.
  */
object GraftFunctions {

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringArg(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def intArg(e: Expression, what: String): Int = longArg(e, what).toInt

  private def binaryArg(e: Expression, what: String): Array[Byte] = e match {
    case Literal(v: Array[Byte], BinaryType) if v != null => v
    case other => throw new IllegalArgumentException(
      s"$what must be a binary literal, got $other")
  }

  private def c(e: Expression): Column = Shims.toColumn(e)

  /** One SQL name. `build` reads the literal arguments and calls the
    * Column wrapper, which is the only statement of the function's
    * casts, defaults and argument checks — so `spark.sql` and the
    * Column API build the same expression by construction (pinned per
    * name and arity in SqlFunctionsSpec). Any other arity fails with
    * `usage`. The wrapper's casts of the arguments are coercions, not
    * casts the SQL user wrote, so they lose the user-cast tag and stay
    * out of an unaliased call's column name (`chrf_stats(cand, ref)`).
    */
  private def fn(name: String, cls: Class[_], usage: String)(
      build: PartialFunction[Seq[Expression], Column])
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(cls.getName, name), (args: Seq[Expression]) => {
      val e = Shims.toCatalyst(build.applyOrElse(args,
        (_: Seq[Expression]) => throw new IllegalArgumentException(usage)))
      e.foreach {
        case coerce: Cast if args.exists(_ eq coerce.child) =>
          coerce.unsetTagValue(Cast.USER_SPECIFIED_CAST)
        case _ =>
      }
      e
    })

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("simhash64", classOf[SimHash64], "simhash64(tokens[, seed])") {
      case Seq(tokens) => SimHash64.simhash64(c(tokens))
      case Seq(tokens, seed) => SimHash64.simhash64(c(tokens), longArg(seed, "seed"))
    },
    fn("winnow_fingerprint", classOf[RollingHashWinnow], "winnow_fingerprint(text[, k, w])") {
      case Seq(text) => RollingHashWinnow.winnowFingerprint(c(text))
      case Seq(text, k, w) =>
        RollingHashWinnow.winnowFingerprint(c(text), intArg(k, "k"), intArg(w, "w"))
    },
    fn("dot_product", classOf[DotProduct], "dot_product(a, b)") {
      case Seq(a, b) => DotProduct.dotProduct(c(a), c(b))
    },
    fn("array_agree_count", classOf[ArrayAgreeCount], "array_agree_count(a, b)") {
      case Seq(a, b) => ArrayAgreeCount.arrayAgreeCount(c(a), c(b))
    },
    fn("minhash_signature", classOf[MinHashSignature],
        "minhash_signature(tokens[, numHashes, shingleSize[, seed]])") {
      case Seq(tokens) => MinHashSignature.minhashSignature(c(tokens))
      case Seq(tokens, numHashes, shingleSize) =>
        MinHashSignature.minhashSignature(c(tokens),
          intArg(numHashes, "numHashes"), intArg(shingleSize, "shingleSize"))
      case Seq(tokens, numHashes, shingleSize, seed) =>
        MinHashSignature.minhashSignature(c(tokens),
          intArg(numHashes, "numHashes"), intArg(shingleSize, "shingleSize"),
          longArg(seed, "seed"))
    },
    fn("unicode_normalize", classOf[UnicodeNormalize], "unicode_normalize(text[, form])") {
      case Seq(text) => UnicodeNormalize.normalize(c(text))
      case Seq(text, form) => UnicodeNormalize.normalize(c(text), stringArg(form, "form"))
    },
    fn("deflate_len", classOf[DeflateLen], "deflate_len(text)") {
      case Seq(text) => DeflateLen.deflateLen(c(text))
    },
    fn("lcs_len", classOf[LcsLen], "lcs_len(cand_tokens, ref_tokens)") {
      case Seq(a, b) => LcsLen.lcsLen(c(a), c(b))
    },
    fn("chrf_stats", classOf[ChrFStats], "chrf_stats(cand, ref[, maxN])") {
      case Seq(cand, ref) => ChrFStats.chrfStats(c(cand), c(ref))
      case Seq(cand, ref, n) => ChrFStats.chrfStats(c(cand), c(ref), intArg(n, "maxN"))
    },
    fn("token_gram_stats", classOf[TokenGramStats],
        "token_gram_stats(cand_tokens, ref_tokens[, maxN])") {
      case Seq(cand, ref) => TokenGramStats.tokenGramStats(c(cand), c(ref))
      case Seq(cand, ref, n) =>
        TokenGramStats.tokenGramStats(c(cand), c(ref), intArg(n, "maxN"))
    },
    // own constructor: SQL passes the persisted `BloomFilter` BYTES as
    // a binary literal, where the wrapper takes a `BloomFilter` object
    fn("bloom_might_contain", classOf[BloomMightContain],
        "bloom_might_contain(key, filterBytesLiteral)") {
      case Seq(key, filter) => c(BloomMightContain(
        Shims.toCatalyst(c(key).cast("long")), binaryArg(filter, "filter")))
    },
    fn("kll_sketch", classOf[KllSketchAgg], "kll_sketch(value[, k])") {
      case Seq(v) => KllQuantileSketch.kllSketch(c(v))
      case Seq(v, k) => KllQuantileSketch.kllSketch(c(v), intArg(k, "k"))
    },
    fn("kll_merge", classOf[KllMergeAgg], "kll_merge(sketch[, k])") {
      case Seq(s) => KllQuantileSketch.kllMerge(c(s))
      case Seq(s, k) => KllQuantileSketch.kllMerge(c(s), intArg(k, "k"))
    },
    // own constructor: SQL accepts a column-valued rank, where the
    // wrapper takes a Double
    fn("kll_quantile", classOf[KllQuantile], "kll_quantile(sketch, rank)") {
      case Seq(s, r) => c(KllQuantile(s, Shims.toCatalyst(c(r).cast("double"))))
    },
    fn("kll_count", classOf[KllCount], "kll_count(sketch)") {
      case Seq(s) => KllQuantileSketch.kllCount(c(s))
    },
    fn("freq_sketch", classOf[FreqSketchAgg], "freq_sketch(item[, maxMapSize])") {
      case Seq(v) => FreqItemsSketch.freqSketch(c(v))
      case Seq(v, m) => FreqItemsSketch.freqSketch(c(v), intArg(m, "maxMapSize"))
    },
    fn("freq_merge", classOf[FreqMergeAgg], "freq_merge(sketch[, maxMapSize])") {
      case Seq(s) => FreqItemsSketch.freqMerge(c(s))
      case Seq(s, m) => FreqItemsSketch.freqMerge(c(s), intArg(m, "maxMapSize"))
    },
    fn("freq_top_items", classOf[FreqTopItems], "freq_top_items(sketch, maxItems)") {
      case Seq(s, n) => FreqItemsSketch.freqTopItems(c(s), intArg(n, "maxItems"))
    },
    fn("freq_estimate", classOf[FreqEstimate], "freq_estimate(sketch, item)") {
      case Seq(s, item) => FreqItemsSketch.freqEstimate(c(s), c(item))
    },
    fn("freq_bounds", classOf[FreqBounds], "freq_bounds(sketch, item)") {
      case Seq(s, item) => FreqItemsSketch.freqBounds(c(s), c(item))
    },
    fn("theta_sketch", classOf[ThetaSketchAgg], "theta_sketch(item[, lgK])") {
      case Seq(v) => ThetaSketch.thetaSketch(c(v))
      case Seq(v, k) => ThetaSketch.thetaSketch(c(v), intArg(k, "lgK"))
    },
    fn("theta_union", classOf[ThetaUnionAgg], "theta_union(sketch[, lgK])") {
      case Seq(s) => ThetaSketch.thetaUnion(c(s))
      case Seq(s, k) => ThetaSketch.thetaUnion(c(s), intArg(k, "lgK"))
    },
    fn("theta_estimate", classOf[ThetaEstimate], "theta_estimate(sketch)") {
      case Seq(s) => ThetaSketch.thetaEstimate(c(s))
    },
    fn("theta_intersect_estimate", classOf[ThetaIntersectEstimate],
        "theta_intersect_estimate(a, b)") {
      case Seq(a, b) => ThetaSketch.thetaIntersectEstimate(c(a), c(b))
    },
    fn("theta_diff_estimate", classOf[ThetaDiffEstimate], "theta_diff_estimate(a, b)") {
      case Seq(a, b) => ThetaSketch.thetaDiffEstimate(c(a), c(b))
    })

  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, info, builder) =>
      Shims.registerFunction(spark, name, info, builder)
    }
}
