package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data profiling — the "look at what arrived" step every ingest needs
  * before wrangling (the reference eyeballs sheets by hand; at 100 TB
  * the profile IS the eyeball).
  *
  * Both operators are single-aggregation-pass shapes: no per-column
  * jobs, no driver-side loops over data — a profile of a 100 TB table
  * is one scan.
  */
object Profile {

  /** Order-insensitive content digest of selected columns — the
    * cross-snapshot equality check behind every migration/backfill
    * sign-off ("did the rewrite produce the same table?"). Each row
    * hashes to a 60-bit integer (md5 of a length-prefixed field
    * rendering — 15 hex chars so it fits a signed 64-bit
    * lane in ANY engine), and the digest is the EXACT decimal sum of
    * row hashes plus the row count: commutative, so partitioning and
    * row order never matter, and duplicates don't cancel the way a
    * XOR-fold digest silently would. One partial-aggregated scan, no
    * shuffle beyond the single-row reduce. Two tables are content-
    * equal iff (n_rows, digest) match.
    *
    * The digest is RETURNED AS A DECIMAL STRING, not DECIMAL(38,0):
    * int128-class output types serialize differently across engines
    * (Arrow decimal128 vs engine-native renderings) even when values
    * agree, which broke cross-engine comparison in round 4. A plain
    * base-10 string of the same exact integer is portable everywhere
    * and still supports the only operation a digest needs: equality.
    */
  def tableDigest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "digest needs at least one column")
    // LENGTH-PREFIXED field rendering ("3:abc", null -> "n"): a bare
    // delimiter join is injectable — ("ab","c") and ("a","bc") with a
    // delimiter-bearing value would render identically — and any
    // null-sentinel STRING collides with a real value equal to it;
    // length prefixes pin every field boundary unambiguously, in any
    // engine
    val rendered = concat_ws("\u0001",
      cols.map { c =>
        when(col(c).isNull, lit("n")).otherwise(
          concat(length(col(c).cast("string")).cast("string"), lit(":"),
            col(c).cast("string")))
      }: _*)
    val rowHash = conv(substring(md5(rendered), 1, 15), 16, 10).cast("decimal(20,0)")
    // scaleOut: the per-row render + md5 is a CPU kernel; a
    // single-split table must not digest through one task
    scaleOut(df.select(cols.map(col): _*)).agg(
      count(lit(1)).as("n_rows"),
      sum(rowHash).cast("decimal(38,0)").cast("string").as("digest"))
  }

  /** Row-level reconciliation of two snapshots sharing a key — the
    * drill-down when [[tableDigest]] says "not equal": full-outer join
    * on the key, each row classified `equal` / `mismatch` /
    * `only_left` / `only_right` by null-safe comparison of the value
    * columns. One keyed shuffle per side (co-partitioned by the join),
    * comparison is a codegen'd projection. Returns (key..., status);
    * aggregate it for the report, filter it for the diff.
    */
  def reconcile(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && valueCols.nonEmpty, "keys and valueCols required")
    val l = left.select((keys ++ valueCols).map(col): _*)
    val r = right.select((keys ++ valueCols).map(col): _*)
    val lAliased = l.select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__l_$c")): _*)
    val rAliased = r.select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__r_$c")): _*)
    // presence must come from the JOIN side, not value nullability: a
    // row whose every value column is null still exists — use a
    // sentinel presence flag per side
    val joinedFlagged = lAliased.withColumn("__l", lit(1))
      .join(rAliased.withColumn("__r", lit(1)), keys, "full_outer")
    val allEqual = valueCols.map(c => col(s"__l_$c") <=> col(s"__r_$c"))
      .reduce(_ && _)
    joinedFlagged.select(
      keys.map(col) :+
        when(col("__l").isNull, lit("only_right"))
          .when(col("__r").isNull, lit("only_left"))
          .when(allEqual, lit("equal"))
          .otherwise(lit("mismatch")).as("status"): _*)
  }

  /** Long-format column profile: one row per column with
    * (col_name, n_rows, n_nulls, n_distinct, min_val, max_val);
    * min/max rendered as strings so heterogeneous column types fit one
    * frame.
    *
    * Shape at scale: ALL columns' aggregates run in ONE aggregate node
    * over ONE scan; the wide single row then unpivots to long form via
    * an inline array — no shuffle beyond the aggregation itself.
    *
    * `exactDistinct = false` (default) uses HLL++ `approx_count_distinct`
    * — constant memory, one pass, the only sane default at scale.
    * `true` uses exact `count(distinct)`: Spark plans k distinct
    * aggregates as an Expand that replicates every input row k times —
    * fine for verification at small SF, a deliberate opt-in cost at
    * scale.
    */
  def profile(
      df: DataFrame,
      cols: Seq[String],
      exactDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      val nd =
        if (exactDistinct) countDistinct(col(c))
        else approx_count_distinct(col(c))
      Seq(
        count(col(c)).as(s"__${c}_nn"),
        nd.as(s"__${c}_nd"),
        min(col(c)).cast("string").as(s"__${c}_min"),
        max(col(c)).cast("string").as(s"__${c}_max"))
    }
    // scaleOut: k exact count(distinct)s EXPAND to k rows per input
    // row before the partial agg — a single-split table would push
    // that whole blow-up through one task (8 s at sf0.1, r10 find)
    val wide = scaleOut(df.select(cols.map(col): _*))
      .agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__${c}_nn")).as("n_nulls"),
        col(s"__${c}_nd").as("n_distinct"),
        col(s"__${c}_min").as("min_val"),
        col(s"__${c}_max").as("max_val"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Pairwise Pearson correlations over numeric columns, ALL pairs in
    * ONE aggregation pass over ONE scan (sums, squares and
    * cross-products are just more aggregate expressions — adding a
    * column costs k more aggregates, not another job). Rows with a
    * null in ANY profiled column are dropped first (listwise
    * deletion), so every pair sees the same n. Sums run over exact
    * 6-dp decimals (order-independent); the correlation itself is
    * derived in double and truncated at 4 dp (repr-independent).
    * Degenerate pairs (a constant column) report 0.0 rather than
    * NaN/divide-by-zero. Returns (col_a, col_b, n, corr) for each
    * unordered pair, col_a < col_b alphabetically.
    */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlations needs at least two columns")
    require(cols.distinct.size == cols.size, "duplicate columns in cols")
    def t4(c: Column): Column = Num.t4floor(c)
    def dec(c: String): Column = Num.dec(col(c))
    val sorted = cols.sorted
    // internal aggregate aliases are INDEX-based: name-based aliases
    // like __sp_a__b collide when column names themselves contain
    // "__" (e.g. (x, y__z) vs (x__y, z))
    val pairs = for {
      i <- sorted.indices; j <- (i + 1) until sorted.size
    } yield (i, j)
    val clean = df.na.drop(sorted)
    val aggs =
      sorted.indices.flatMap(i => Seq(
        sum(dec(sorted(i))).as(s"__s_$i"),
        sum(dec(sorted(i)) * dec(sorted(i))).as(s"__ss_$i"))) ++
      pairs.map { case (i, j) =>
        sum(dec(sorted(i)) * dec(sorted(j))).as(s"__sp_${i}_$j") }
    val wide = clean.agg(count(lit(1)).as("__n"), aggs: _*)
    def d(name: String): Column = col(name).cast("double")
    val n = col("__n").cast("double")
    val rows = pairs.map { case (i, j) =>
      val cov = n * d(s"__sp_${i}_$j") - d(s"__s_$i") * d(s"__s_$j")
      val va = n * d(s"__ss_$i") - d(s"__s_$i") * d(s"__s_$i")
      val vb = n * d(s"__ss_$j") - d(s"__s_$j") * d(s"__s_$j")
      struct(
        lit(sorted(i)).as("col_a"), lit(sorted(j)).as("col_b"),
        col("__n").as("n"),
        when(col("__n") < 2 || va <= 0.0 || vb <= 0.0, lit(0.0))
          .otherwise(t4(cov / sqrt(va * vb))).as("corr"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Per-group feature standardization — the ML-prep scaling step:
    * z-score (`(x − mean) / stddev`) with the mean and sample-stddev
    * computed over EXACT decimal sums (q_agg_stats' engine-portable
    * formulas), the z value truncated at 4 dp (repr-independent).
    * Degenerate groups (stddev 0, e.g. a constant column or a single
    * row) scale to 0.0 rather than raising an ANSI divide-by-zero.
    *
    * Shape at scale: one partial-aggregated moments pass, a broadcast
    * join of the tiny per-group moments frame, one codegen'd
    * projection. Adds `z` to the frame. Values are reduced to 6-dp
    * decimals for the order-independent sums; columns carrying more
    * than 6 meaningful decimals should be pre-scaled.
    */
  def standardize(df: DataFrame, group: Column, value: Column): DataFrame = {
    def t4(c: Column): Column = Num.t4floor(c)
    val d = df.withColumn("__g", group)
    val m = d.groupBy("__g").agg(
      count(value).as("__n"),
      sum(value.cast("decimal(18,6)")).as("__s"),
      sum((value.cast("decimal(18,6)") * value.cast("decimal(18,6)")))
        .as("__ss"))
    val mean = col("__s").cast("double") / col("__n")
    // greatest(0, ·): the exact decimal sums make cancellation rare,
    // but the double conversion can still leave a -1e-12 residue on a
    // near-constant group — sqrt of that must be 0, not NaN
    val variance = greatest(lit(0.0),
      (col("__ss").cast("double") -
        col("__s").cast("double") * col("__s").cast("double") / col("__n")) /
        (col("__n") - 1))
    val moments = m.select(col("__g").as("__mg"), mean.as("__mean"),
      when(col("__n") > 1, sqrt(variance)).otherwise(lit(0.0)).as("__std"))
    // null-safe join: groupBy produced a moments row for the null
    // group too, and a plain equi-join would silently drop every
    // null-group input row instead of matching it
    d.join(broadcast(moments), col("__g") <=> col("__mg"))
      .withColumn("z",
        when(col("__std") === 0.0 || value.isNull, lit(0.0))
          .otherwise(t4((value - col("__mean")) / col("__std"))))
      .drop("__g", "__mg", "__mean", "__std")
  }

  /** ROBUST per-group standardization — median/MAD instead of
    * mean/stddev ([[standardize]]): a handful of extreme outliers
    * moves the mean and inflates the stddev (masking the very rows
    * you're scoring), while the median and the median absolute
    * deviation ignore them — the outlier-scoring scaler that still
    * works ON data containing outliers. z_robust =
    * (x − median) / (1.4826·MAD), the normal-consistency constant, so
    * thresholds carry over from the z-score world.
    *
    * Shape at scale: two exact-percentile passes by construction (the
    * deviation needs the median first), each a tiny per-group frame
    * broadcast back. Degenerate groups (MAD = 0) and null values
    * score 0, 4-dp toward-zero truncation ([[Stats.twoSampleZ]]'s
    * symmetric-gate contract). Adds `z_robust`.
    */
  def robustStandardize(df: DataFrame, group: Column, value: Column): DataFrame = {
    def t4(c: Column): Column = Num.t4zero(c)
    val d = df.withColumn("__g", group)
    val med = d.groupBy("__g").agg(percentile(value, lit(0.5)).as("__med"))
    val withMed = d.join(broadcast(med.withColumnRenamed("__g", "__mg")),
      col("__g") <=> col("__mg"))
    val mad = withMed.groupBy("__g").agg(
      percentile(abs(value - col("__med")), lit(0.5)).as("__mad"))
    withMed.join(broadcast(mad.withColumnRenamed("__g", "__ag")),
        col("__g") <=> col("__ag"))
      .withColumn("z_robust",
        when(value.isNull || col("__mad") === 0.0 || col("__mad").isNull, lit(0.0))
          .otherwise(t4((value - col("__med")) / (col("__mad") * 1.4826))))
      .drop("__g", "__mg", "__ag", "__med", "__mad")
  }

  /** Population Stability Index between two snapshots of a metric —
    * THE model-monitoring drift number ("has the serving distribution
    * left the training distribution?"): both sides bin into the same
    * fixed-width grid ([[histogram]]'s clamped bins), and
    * PSI = Σ (p_i − q_i)·ln(p_i/q_i) over bin shares. Laplace-smoothed
    * shares ((n_i + 0.5) / (N + 0.5·k)) keep empty bins finite — the
    * usual convention, documented rather than silent. Rule of thumb:
    * < 0.1 stable, 0.1-0.25 drifting, > 0.25 act.
    *
    * Shape at scale: one partial-aggregated bin count per side
    * (O(nBins) results regardless of input), a bin-keyed outer join of
    * two ≤ nBins-row frames, one sum — driver-trivial after the scans.
    * Returns ONE row (n_before, n_after, psi), psi 6-dp truncated.
    */
  def psi(
      before: DataFrame,
      after: DataFrame,
      value: Column,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    val hb = histogram(before, value, lo, hi, nBins).select(col("bin"), col("n").as("nb"))
    val ha = histogram(after, value, lo, hi, nBins).select(col("bin"), col("n").as("na"))
    psiFromCounts(before.sparkSession, hb, ha, nBins)
  }

  /** The PSI core over ALREADY-BINNED counts — (bin, nb) vs (bin, na)
    * frames with the same `nBins` grid. Factored out so streaming
    * monitors ([[graft.streaming.EventStreams.psiDriftStream]]) can
    * score finalized windowed counts against a persisted baseline
    * histogram without re-scanning raw data. Smoothing/truncation
    * contract identical to [[psi]] (whose docstring owns it).
    */
  def psiFromCounts(
      spark: org.apache.spark.sql.SparkSession,
      hb: DataFrame,
      ha: DataFrame,
      nBins: Int): DataFrame = {
    // join onto the COMPLETE grid: histogram omits empty bins, but a
    // bin empty on both sides still carries a nonzero smoothed term
    // when the totals differ — dropping it would understate the
    // documented sum over all k bins. localCheckpoint: the <=nBins-row
    // frame feeds the totals AND the final sum; without it both
    // snapshot scans would run twice.
    val grid = spark.range(nBins)
      .select(col("id").cast("int").as("bin"))
    val joined = grid
      .join(hb, Seq("bin"), "left").join(ha, Seq("bin"), "left")
      .select(coalesce(col("nb"), lit(0L)).as("nb"), coalesce(col("na"), lit(0L)).as("na"))
      .localCheckpoint()
    val tot = joined.agg(sum(col("nb")).as("tb"), sum(col("na")).as("ta"))
    val k = lit(nBins.toDouble)
    val p = (col("nb") + 0.5) / (col("tb") + lit(0.5) * k)
    val q = (col("na") + 0.5) / (col("ta") + lit(0.5) * k)
    // per-bin terms truncate at 9 dp and sum over EXACT decimals: a
    // raw double sum would depend on which partition adds first, and
    // 6-dp floor sits one ulp away from flipping on a bad day
    joined.crossJoin(broadcast(tot))
      .select(col("tb"), col("ta"),
        (floor(((p - q) * log(p / q)) * 1e9) / 1e9).cast("decimal(28,9)").as("__term"))
      .groupBy("tb", "ta")
      .agg((floor(sum(col("__term")).cast("double") * 1e6) / 1e6).as("psi"))
      .select(col("tb").as("n_before"), col("ta").as("n_after"), col("psi"))
  }

  /** PER-GROUP [[psi]] — drift monitored per source/domain/language
    * rather than corpus-wide, so one shifted crawl can't hide inside
    * a stable aggregate (nor drag a drift alarm over every healthy
    * source). Same contract as psi (shared clamped grid, Laplace
    * smoothing over the COMPLETE grid, 9-dp decimal term sums, 6-dp
    * truncated psi); a group present on only one side still reports a
    * row — there `n_after = 0` (or `n_before = 0`) IS the alarm, not
    * the psi value: an empty side smooths to the uniform distribution,
    * so its psi measures only the populated side's divergence from
    * uniform (≈ 0 if that side is itself uniform). Gate on the counts
    * first, the score second. Returns (grp, n_before, n_after, psi).
    *
    * Shape at scale: one (group, bin) partial-aggregated count per
    * side — O(groups·nBins) results regardless of input — and the
    * term/sum arithmetic runs on that small frame.
    */
  def psiByGroup(
      before: DataFrame,
      after: DataFrame,
      group: Column,
      value: Column,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    def binned(df: DataFrame, alias: String) = {
      val bin = least(lit((nBins - 1).toLong),
        greatest(lit(0L), floor((value - lo) / w))).cast("int")
      df.filter(value.isNotNull)
        .groupBy(group.as("grp"), bin.as("bin"))
        .agg(count(lit(1)).as(alias))
    }
    val hb = binned(before, "nb")
    val ha = binned(after, "na")
    // complete grid: every group seen on either side × every bin.
    // All grp joins below are NULL-SAFE (<=>): groupBy treats null as
    // a real group, so a plain equi-join would silently drop it from
    // the report — the exact "one source vanishes from the monitor"
    // failure this operator exists to catch. EqualNullSafe is still an
    // equi-join key for the planner (hash-partitionable, no product).
    val groups = hb.select(col("grp")).unionByName(ha.select(col("grp"))).distinct()
    val grid = groups.crossJoin(
      before.sparkSession.range(nBins).select(col("id").cast("int").as("bin")))
    val withB = grid.join(hb.withColumnsRenamed(Map("grp" -> "__bg", "bin" -> "__bb")),
        col("grp") <=> col("__bg") && col("bin") === col("__bb"), "left")
      .select(col("grp"), col("bin"), col("nb"))
    val joined = withB.join(ha.withColumnsRenamed(Map("grp" -> "__ag", "bin" -> "__ab")),
        col("grp") <=> col("__ag") && col("bin") === col("__ab"), "left")
      .select(col("grp"),
        coalesce(col("nb"), lit(0L)).as("nb"), coalesce(col("na"), lit(0L)).as("na"))
      .localCheckpoint()
    val tot = joined.groupBy("grp")
      .agg(sum(col("nb")).as("tb"), sum(col("na")).as("ta"))
    val k = lit(nBins.toDouble)
    val p = (col("nb") + 0.5) / (col("tb") + lit(0.5) * k)
    val q = (col("na") + 0.5) / (col("ta") + lit(0.5) * k)
    joined.join(broadcast(tot.withColumnRenamed("grp", "__tg")),
        col("grp") <=> col("__tg"))
      .select(col("grp"), col("tb"), col("ta"),
        (floor(((p - q) * log(p / q)) * 1e9) / 1e9).cast("decimal(28,9)").as("__term"))
      .groupBy("grp", "tb", "ta")
      .agg((floor(sum(col("__term")).cast("double") * 1e6) / 1e6).as("psi"))
      .select(col("grp"), col("tb").as("n_before"), col("ta").as("n_after"), col("psi"))
  }

  /** Mergeable per-group distinct-count sketches (Datasketches HLL) —
    * the incremental-statistics pattern at 100 TB: each arriving shard
    * builds its own tiny binary sketch (this method), the sketches are
    * PERSISTED like any other index table, and [[mergeSketches]]
    * unions them into corpus-wide estimates WITHOUT re-reading a
    * single shard. Register state is a per-bucket max, so building is
    * insertion-order-independent — the same shard always yields the
    * same sketch bytes.
    */
  def distinctSketch(
      df: DataFrame,
      group: Column,
      value: Column,
      lgConfigK: Int = 12): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(hll_sketch_agg(value, lit(lgConfigK)).as("sketch"))

  /** Union persisted HLL sketches (one or many per group) into a
    * distinct-count estimate per group. Sketch union is associative
    * and commutative, so shard arrival order never changes the answer.
    */
  def mergeSketches(sketches: DataFrame, group: Column, sketch: Column): DataFrame =
    sketches.groupBy(group.as("grp"))
      .agg(hll_sketch_estimate(hll_union_agg(sketch, allowDifferentLgConfigK = lit(false)))
        .cast("long").as("approx_distinct"))

  /** Mergeable per-group QUANTILE sketches (KLL — see
    * [[graft.functions.KllQuantileSketch]]) — the third member of the
    * sketch triad next to [[distinctSketch]] (cardinality) and
    * [[countMinSketch]] (frequency): each shard builds a few-KB binary
    * sketch of a numeric column in one partial-aggregated pass,
    * persists it, and [[quantileMerge]] answers corpus-wide
    * percentiles without re-reading a shard — the scale story
    * `percentile_approx` (one-shot, nothing persistable) cannot tell.
    */
  def quantileSketch(
      df: DataFrame,
      group: Column,
      value: Column,
      k: Int = 200): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(graft.functions.KllQuantileSketch.kllSketch(value, k).as("sketch"))

  /** Union persisted KLL sketches per group and read off quantile
    * estimates (plus the exact absorbed count n carried in the sketch
    * header). Merge is associative/commutative — shard arrival order
    * never changes the estimate class or its error bound.
    */
  def quantileMerge(
      sketches: DataFrame,
      group: Column,
      sketch: Column,
      ranks: Seq[Double] = Seq(0.5, 0.9, 0.99),
      k: Int = 200): DataFrame = {
    import graft.functions.KllQuantileSketch._
    val merged = sketches.groupBy(group.as("grp"))
      .agg(kllMerge(sketch, k).as("__m"))
    val qCols = ranks.map(r =>
      kllQuantile(col("__m"), r).as(s"p${(r * 100).round}"))
    merged.select(col("grp") +: kllCount(col("__m")).as("n") +: qCols: _*)
  }

  /** Union per-group KLL sketch FRAMES into one sketch frame (grp,
    * sketch) — the shard/snapshot merge that keeps the result IN
    * sketch form (for persistence); [[quantileMerge]] is the
    * estimate-reading tier above it.
    */
  def quantileSketchUnion(sketches: Seq[DataFrame], k: Int = 200): DataFrame = {
    require(sketches.nonEmpty, "at least one sketch frame")
    sketches.reduce(_ unionByName _)
      .groupBy("grp")
      .agg(graft.functions.KllQuantileSketch.kllMerge(col("sketch"), k).as("sketch"))
  }

  /** Per-group frequent-items sketches ([[graft.functions.FreqItemsSketch]]
    * — the TOP-K member of the sketch quartet): one partial-agg pass
    * to a (grp, sketch) frame, persistable like any index artifact.
    */
  def freqSketchTable(
      df: DataFrame,
      group: Column,
      item: Column,
      maxMapSize: Int = 1024): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(graft.functions.FreqItemsSketch.freqSketch(item, maxMapSize)
        .as("sketch"))

  /** Union per-group frequent-items sketch FRAMES into one sketch
    * frame (grp, sketch) — [[quantileSketchUnion]]'s shape for the
    * top-k sketch; [[freqTop]] is the reading tier above it.
    */
  def freqSketchUnion(
      sketches: Seq[DataFrame], maxMapSize: Int = 1024): DataFrame = {
    require(sketches.nonEmpty, "at least one sketch frame")
    sketches.reduce(_ unionByName _)
      .groupBy("grp")
      .agg(graft.functions.FreqItemsSketch.freqMerge(col("sketch"), maxMapSize)
        .as("sketch"))
  }

  /** Per-group THETA sketches ([[graft.functions.ThetaSketch]] — the
    * SET-OPERATION member of the sketch family): one partial-agg pass
    * to a (grp, sketch) frame, persistable like any index artifact;
    * [[graft.operators.Dedup.sourceOverlapSketch]] is the
    * overlap-matrix consumer above it.
    */
  def thetaSketchTable(
      df: DataFrame,
      group: Column,
      item: Column,
      lgK: Int = 12): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(graft.functions.ThetaSketch.thetaSketch(item, lgK).as("sketch"))

  /** Union per-group theta sketch FRAMES into one sketch frame
    * (grp, sketch) — [[freqSketchUnion]]'s shape for the theta
    * family.
    */
  def thetaSketchUnion(sketches: Seq[DataFrame], lgK: Int = 12): DataFrame = {
    require(sketches.nonEmpty, "at least one sketch frame")
    sketches.reduce(_ unionByName _)
      .groupBy("grp")
      .agg(graft.functions.ThetaSketch.thetaUnion(col("sketch"), lgK)
        .as("sketch"))
  }

  /** Read the top heavy hitters per group off a sketch frame, LONG
    * format: (grp, rank, item, estimate, lower_bound, upper_bound).
    */
  def freqTop(sketches: DataFrame, maxItems: Int): DataFrame =
    sketches.select(col("grp"),
        posexplode(graft.functions.FreqItemsSketch.freqTopItems(
          col("sketch"), maxItems)).as(Seq("rank", "r")))
      .select(col("grp"), col("rank"), col("r.item"), col("r.estimate"),
        col("r.lower_bound"), col("r.upper_bound"))

  /** Mergeable Count-Min frequency sketch (Cormode & Muthukrishnan,
    * J. Algorithms 2005) — the FREQUENCY companion to [[distinctSketch]]
    * 's cardinality tier: each shard builds a ≤ depth·width-row count
    * table in one partial-aggregated pass, the tables PERSIST like any
    * index artifact, [[cmsMerge]] adds them cell-wise (exact
    * mergeability — the counts are plain sums), and [[cmsEstimate]]
    * answers "roughly how often does term X occur corpus-wide?"
    * without re-reading a shard. Guarantees: estimates NEVER
    * undercount; overcount ≤ 2N/width with probability ≥ 1−2^−depth.
    *
    * The per-row depth-fold is a codegen'd explode of `depth` seeded
    * xxhash64 buckets — no UDF, no shuffle beyond the one keyed
    * partial agg. Seeded-hash artifact ⇒ rows-only at the oracle
    * (the HLL/MinHash precedent); the spec pins exact mergeability
    * and the no-undercount bound instead.
    */
  def countMinSketch(
      df: DataFrame,
      key: Column,
      width: Int = 1024,
      depth: Int = 4): DataFrame = {
    require(width >= 2, "width must be >= 2")
    require(depth >= 1 && depth <= 16, "depth in [1, 16]")
    df.select(key.as("__k")).where(col("__k").isNotNull)
      .select(explode(cmsCoords(col("__k"), width, depth)).as("e"))
      .groupBy(col("e.d").as("depth"), col("e.b").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The CMS cell coordinates of one key as an array of `depth`
    * (d, b) structs — ONE definition shared by the batch build, the
    * probe, and the streaming twin (E30), so the hash family can
    * never silently diverge between them (the Num-object lesson).
    */
  private[graft] def cmsCoords(key: Column, width: Int, depth: Int): Column =
    array((0 until depth).map(i =>
      struct(lit(i).as("d"),
        pmod(xxhash64(key, lit(i)), lit(width.toLong)).cast("int")
          .as("b"))): _*)

  /** Cell-wise sum of persisted CMS tables (same width/depth — the
    * caller's contract, as with HLL's lgConfigK). Exactly equals the
    * sketch of the concatenated shards: CMS cells are plain counts.
    */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy("depth", "bucket").agg(sum(col("cnt")).as("cnt"))
  }

  /** Point-query a CMS: min over the depth rows of the key's bucket
    * counts (an absent cell is 0). The probe explodes each key to its
    * `depth` (depth, bucket) coordinates and left-joins the BROADCAST
    * sketch — probe cost O(|keys|·depth), corpus untouched. `width`
    * and `depth` must match the build.
    */
  def cmsEstimate(
      keys: DataFrame,
      key: Column,
      sketch: DataFrame,
      width: Int = 1024,
      depth: Int = 4): DataFrame =
    keys.select(key.as("term")).where(col("term").isNotNull)
      .select(col("term"), explode(cmsCoords(col("term"), width, depth)).as("e"))
      .join(broadcast(sketch.withColumnsRenamed(
        Map("depth" -> "__d", "bucket" -> "__b"))),
        col("e.d") === col("__d") && col("e.b") === col("__b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  /** Per-group boxplot statistics: exact interpolated quartiles plus
    * the count of 1.5·IQR whisker outliers — the distribution summary
    * behind data-quality dashboards and outlier triage.
    *
    * Two passes by construction (quartiles must exist before outliers
    * can be classified): one exact-percentile aggregation, then a
    * broadcast join of the tiny per-group quartile frame back onto the
    * data for a partial-aggregated outlier count. Whisker bounds are
    * computed from the RAW quartiles; only the REPORTED quartiles are
    * truncated (4 dp, repr-independent — see GraphOps.pageRank).
    */
  def boxplot(df: DataFrame, group: Column, value: Column): DataFrame = {
    def t4(c: Column): Column = Num.t4floor(c)
    val d = df.select(group.as("grp"), value.as("v"))
    val q = d.groupBy("grp").agg(
      count(lit(1)).as("n"),
      percentile(col("v"), lit(0.25)).as("q1"),
      percentile(col("v"), lit(0.5)).as("q2"),
      percentile(col("v"), lit(0.75)).as("q3"))
    val iqr = col("q3") - col("q1")
    d.join(broadcast(q), "grp")
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n"),
        t4(first(col("q1"))).as("p25"),
        t4(first(col("q2"))).as("p50"),
        t4(first(col("q3"))).as("p75"),
        sum(when(
          col("v") < col("q1") - lit(1.5) * iqr ||
            col("v") > col("q3") + lit(1.5) * iqr, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Per-group winsorization — the robust-statistics outlier
    * treatment (clamp, don't drop): values below the group's `loQ`
    * exact percentile rise to it, values above `hiQ` fall to it,
    * everything else passes through. The standard prep before means /
    * regressions over heavy-tailed metrics (prices, token counts,
    * session lengths) where trimming would bias and raw tails dominate.
    *
    * Shape at scale: boxplot's two-pass shape — one exact-percentile
    * aggregation producing a per-group bound frame (tiny by
    * construction), broadcast back, clamp as a codegen'd projection.
    * Null values stay null (both engines' greatest/least would
    * otherwise absorb them to a bound). The clamped value is reported
    * 4-dp-truncated (repr-independent); raw bounds drive the clamp.
    * Returns the input columns plus `v_winsorized`.
    */
  def winsorize(
      df: DataFrame,
      group: Column,
      value: Column,
      loQ: Double = 0.05,
      hiQ: Double = 0.95): DataFrame = {
    require(loQ >= 0 && loQ < hiQ && hiQ <= 1, "need 0 <= loQ < hiQ <= 1")
    val d = df.withColumn("__grp", group)
    val bounds = d.groupBy("__grp").agg(
      percentile(value, lit(loQ)).as("__lo"),
      percentile(value, lit(hiQ)).as("__hi"))
    // null-safe join (standardize's contract): groupBy produced a
    // bounds row for the null group too, and a plain equi-join would
    // silently drop every null-group input row — in an operator whose
    // whole point is "clamp, don't drop"
    d.join(broadcast(bounds.withColumnRenamed("__grp", "__bg")),
        col("__grp") <=> col("__bg"))
      .withColumn("v_winsorized",
        when(value.isNull, lit(null))
          .otherwise(Num.t4floor(least(greatest(value, col("__lo")), col("__hi")))))
      .drop("__grp", "__bg", "__lo", "__hi")
  }

  /** C63: Gini concentration over group masses — "how concentrated is
    * the corpus over domains/sources" as one number in [0, 1): 0 =
    * perfectly uniform, →1 = one group owns everything. The curation
    * observability stat behind every mixture decision ([[graft.operators.Sampling]]'s
    * temperature/UniMax planners exist precisely to push this DOWN).
    * One partial-agg pass to the ≤|groups| mass frame, one window over
    * that AGGREGATED frame (registry-audit class), exact integer
    * Σi·w_i lanes, the standard discrete form
    * G = 2Σi·w_i/(kΣw) − (k+1)/k derived once in double, 4-dp floor.
    */
  def gini(df: DataFrame, group: Column, mass: Column = lit(1L)): DataFrame = {
    val counts = df.groupBy(group.as("grp"))
      .agg(sum(mass.cast("long")).as("__w"))
      .filter(col("__w") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__w").asc, col("grp").asc)
    val ranked = counts.withColumn("__i", row_number().over(w).cast("long"))
    val m = ranked.agg(
      count(lit(1)).as("n_groups"),
      coalesce(sum(col("__w")), lit(0L)).as("total"),
      // cast BEFORE multiplying: a long·long product overflows at
      // (groups × heaviest-mass) ≥ 2^63
      coalesce(sum((col("__i").cast("decimal(19,0)") *
          col("__w").cast("decimal(19,0)")).cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("__iw"))
    val k = col("n_groups").cast("double")
    m.select(col("n_groups"), col("total"),
      when(col("n_groups") < 1 || col("total") === 0, lit(0.0))
        .otherwise(Num.t4floor(
          lit(2.0) * col("__iw").cast("double") /
            (k * col("total").cast("double")) - (k + 1.0) / k))
        .as("gini"))
  }

  /** Lorenz curve points per group — [[gini]]'s one number unpacked
    * into the curve a human reads: rank the group's rows by mass
    * ascending, cut into `nBins` equal-count bins, and report each
    * bin's CUMULATIVE share of rows and of mass ("the bottom 80% of
    * docs carry 23% of the tokens"). The shape decides between "one
    * whale" and "a heavy shoulder" — identical Ginis, different
    * mitigations.
    *
    * Shape at scale: one keyed rank window + one partial-agg groupBy
    * to the (group × nBins) frame; cumulative sums run over THAT
    * bounded frame. All mass arithmetic stays in exact integer/decimal
    * lanes; tie order inside equal masses is irrelevant to every
    * output (equal values commute in sums). Shares 6-dp floored.
    */
  def lorenzCurve(
      df: DataFrame,
      group: Column,
      mass: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, "nBins in [2, 1000]")
    val t = df.select(group.as("grp"), mass.cast("long").as("__m"))
      .filter(col("__m").isNotNull && col("__m") >= 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("__m").asc)
    val kw = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val binned = t
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(kw))
      // equal-count bins via pure integer arithmetic (engine-exact)
      .withColumn("__bin", ((col("__r") - 1) * nBins / col("__n") + 1).cast("int"))
    val per = binned.groupBy("grp", "__bin").agg(
      count(lit(1)).as("__c"),
      coalesce(sum(col("__m")), lit(0L)).as("__s"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("__bin").rowsBetween(Long.MinValue, 0)
    val tw = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    per
      .withColumn("__cc", sum(col("__c")).over(cw))
      .withColumn("__cs", sum(col("__s")).over(cw))
      .withColumn("__tc", sum(col("__c")).over(tw))
      .withColumn("__ts", sum(col("__s")).over(tw))
      .select(col("grp"), col("__bin").as("bin"),
        col("__cc").as("cum_rows"),
        (floor(col("__cc").cast("double") / col("__tc").cast("double") * 1e6)
          / 1e6).as("cum_row_share"),
        when(col("__ts") === 0, 0.0)
          .otherwise(floor(col("__cs").cast("double") /
            col("__ts").cast("double") * 1e6) / 1e6).as("cum_mass_share"))
  }

  /** C61: per-group TRIMMED mean — [[winsorize]]'s sibling with drop
    * instead of clamp semantics: values strictly OUTSIDE the exact
    * [loQ, hiQ] percentile bounds are excluded from the mean — the
    * robust aggregate for noisy reward/rater scores, where a handful
    * of pathological judgments should not move a group's estimate and
    * clamping would still let them vote at the boundary value. Same
    * two-pass shape: exact percentile bounds per group broadcast back
    * (null-safe — a null group still aggregates), one conditional
    * partial-agg mean over exact decimal sums, 4-dp floor. Reports
    * (group, n, n_trimmed, mean_raw, mean_trimmed) so the trim's
    * effect is visible, not silent.
    */
  def trimmedMean(
      df: DataFrame,
      group: Column,
      value: Column,
      loQ: Double = 0.05,
      hiQ: Double = 0.95): DataFrame = {
    require(loQ >= 0 && loQ < hiQ && hiQ <= 1, "need 0 <= loQ < hiQ <= 1")
    val d = df.select(group.as("grp"), value.cast("double").as("__v"))
    val bounds = d.groupBy("grp").agg(
      percentile(col("__v"), lit(loQ)).as("__lo"),
      percentile(col("__v"), lit(hiQ)).as("__hi"))
    val in = col("__v").isNotNull &&
      col("__v") >= col("__lo") && col("__v") <= col("__hi")
    d.join(broadcast(bounds.withColumnRenamed("grp", "__bg")),
        col("grp") <=> col("__bg"))
      .groupBy("grp")
      .agg(
        count(col("__v")).as("n"),
        coalesce(sum(when(!in && col("__v").isNotNull, 1L)), lit(0L))
          .as("n_trimmed"),
        (sum(Num.dec(col("__v"))).cast("double") / count(col("__v")))
          .as("__mraw"),
        (sum(when(in, Num.dec(col("__v")))).cast("double") /
          sum(when(in, 1L))).as("__mtrim"))
      .select(col("grp"), col("n"), col("n_trimmed"),
        Num.t4floor(col("__mraw")).as("mean_raw"),
        Num.t4floor(col("__mtrim")).as("mean_trimmed"))
  }

  /** Schema + content drift between two snapshots of "the same" table
    * — the report an ingest pipeline renders when a new shard of an
    * external feed arrives: columns added/removed, and how null counts
    * and cardinalities moved on the columns both sides share.
    *
    * Shape at scale: one [[profile]] pass per side (one scan each —
    * unavoidable: the two snapshots are different data), then a
    * column-name full-outer join of two ≤ |columns|-row frames —
    * driver-trivial. Returns one row per column name seen on either
    * side: (col_name, status ∈ added/removed/common, nulls_before,
    * nulls_after, distinct_before, distinct_after).
    */
  def schemaDrift(
      before: DataFrame,
      after: DataFrame,
      exactDistinct: Boolean = false): DataFrame = {
    val b = profile(before, before.columns.toSeq, exactDistinct)
      .select(col("col_name"), col("n_nulls").as("nulls_before"),
        col("n_distinct").as("distinct_before"))
    val a = profile(after, after.columns.toSeq, exactDistinct)
      .select(col("col_name"), col("n_nulls").as("nulls_after"),
        col("n_distinct").as("distinct_after"))
    b.join(a, Seq("col_name"), "full_outer")
      .select(
        col("col_name"),
        when(col("nulls_before").isNull, "added")
          .when(col("nulls_after").isNull, "removed")
          .otherwise("common").as("status"),
        col("nulls_before"), col("nulls_after"),
        col("distinct_before"), col("distinct_after"))
  }

  /** k-anonymity / l-diversity audit (Sweeney, IJUFKS'02; Machanavajjhala
    * et al., TKDD'07): group rows by their QUASI-IDENTIFIER combination
    * and report, per equivalence class, its size, the number of
    * distinct sensitive values it carries, and whether it meets the
    * k-anonymity (size ≥ k) and l-diversity (≥ l distinct sensitive
    * values) thresholds. The pre-release privacy gate for any dataset
    * carrying person-level rows: a class below k means those rows are
    * re-identifiable by joining the quasi-IDs against an external
    * table; a class below l means membership alone leaks the sensitive
    * value even when k holds.
    *
    * `quasi` columns must be pre-aliased (`col("x").as("x")`) — the
    * output carries them under those names. A null quasi value forms
    * its own class (groupBy semantics — identical in any SQL engine);
    * null sensitive values count as one distinct value via
    * count(DISTINCT), so an all-null class reports 0.
    *
    * Shape at scale: ONE groupBy over the quasi columns —
    * count(DISTINCT sensitive) plans as the standard two-phase expand
    * /partial-agg, no window, no self-join, nothing driver-side.
    * Returns (quasi…, class_size, n_sensitive, k_anonymous, l_diverse)
    * — one row per equivalence class; the dataset passes k-anonymity
    * iff no row has k_anonymous = false.
    */
  def kAnonymity(
      df: DataFrame,
      quasi: Seq[Column],
      sensitive: Column,
      k: Int,
      l: Int = 2): DataFrame = {
    require(quasi.nonEmpty, "at least one quasi-identifier column")
    require(k >= 1 && l >= 1, "k and l must be >= 1")
    df.groupBy(quasi: _*)
      .agg(
        count(lit(1)).as("class_size"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("k_anonymous", col("class_size") >= k)
      .withColumn("l_diverse", col("n_sensitive") >= l)
  }

  /** C101: t-closeness per equivalence class — the DISTRIBUTIONAL
    * tier above [[kAnonymity]]'s k/l counts (a class can hold l
    * distinct sensitive values and still leak: if 95% of the class is
    * one diagnosis, membership IS the disclosure). Per quasi-ID class,
    * the total-variation distance between the class's sensitive-value
    * distribution and the GLOBAL one:
    *
    *   tvd = ½ Σ_v |p_class(v) − p_global(v)|
    *
    * and the class passes iff tvd ≤ t (categorical t-closeness; the
    * ordered-EMD variant is a documented seam). Determinism: the sum
    * runs on EXACT integer lanes — |cnt_cv·N − cnt_v·N_c| summed as
    * longs, ONE double division by 2·N_c·N at the end, 4-dp floor.
    * Shape at scale: two partial-agg groupBys (class×value, value) +
    * a classes×values frame bounded by both cardinalities (the
    * kAnonymity class-cardinality contract — quasi-ID classes are
    * policy-bounded, sensitive domains categorical); the global value
    * frame broadcasts. `quasi` columns must be pre-aliased. Returns
    * (quasi…, class_size, tvd, t_close).
    */
  def tCloseness(
      df: DataFrame,
      quasi: Seq[Column],
      sensitive: Column,
      t: Double): DataFrame = {
    require(quasi.nonEmpty, "at least one quasi-identifier column")
    require(t > 0 && t <= 1, "t in (0, 1]")
    val base = df.select((quasi :+ sensitive.as("__v")): _*)
    val qNames = base.columns.dropRight(1).toSeq
    val qCols = qNames.map(col)
    val cv = base.groupBy((qCols :+ col("__v")): _*)
      .agg(count(lit(1)).as("__cnt_cv"))
    val classes = cv.groupBy(qCols: _*).agg(sum(col("__cnt_cv")).as("class_size"))
    val gv = base.groupBy(col("__v")).agg(count(lit(1)).as("__cnt_v"))
    val totals = gv.agg(sum(col("__cnt_v")).as("__n"))
    // full accounting: every class × every global value (values absent
    // from a class contribute p_global(v)/2) — both frames are
    // cardinality-bounded aggregates, never row-scale. The join-back is
    // NULL-SAFE (<=>): gv counts NULL sensitive values as a category, so
    // a null-unsafe key would drop the class's own NULL count (coalesced
    // to 0) and inflate tvd for every class containing NULLs; renamed
    // right-side columns keep the self-derived attributes un-ambiguous
    val cvR = cv.select((qNames.map(n => col(n).as(s"__r_$n")) :+
      col("__v").as("__r_v") :+ col("__cnt_cv")): _*)
    val joinCond = (qNames.map(n => col(n) <=> col(s"__r_$n")) :+
      (col("__v") <=> col("__r_v"))).reduce(_ && _)
    val grid = classes.crossJoin(broadcast(gv)).crossJoin(broadcast(totals))
      .join(cvR, joinCond, "left")
      .select((qCols :+ col("class_size") :+
        abs(coalesce(col("__cnt_cv"), lit(0L)) * col("__n")
          - col("__cnt_v") * col("class_size")).as("__diff") :+
        col("__n").as("__n")): _*)
    grid.groupBy((qCols :+ col("class_size") :+ col("__n")): _*)
      .agg(sum(col("__diff")).as("__sumdiff"))
      .select((qCols :+ col("class_size") :+
        (floor(col("__sumdiff").cast("double")
          / (lit(2.0) * col("class_size").cast("double") * col("__n").cast("double"))
          * 1e4) / 1e4).as("tvd")): _*)
      .withColumn("t_close", col("tvd") <= t)
  }

  /** Join/groupBy key-skew diagnosis: the top-k heaviest keys with
    * their share of all rows and their ratio to the mean key load —
    * the number that tells you whether [[Skew.saltedJoin]] (ratio in
    * the hundreds) or plain AQE (single digits) is the right tool,
    * BEFORE the 4-hour shuffle stalls on one straggler partition.
    *
    * Shape at scale: one partial-aggregated groupBy(key), a broadcast
    * scalar for the totals, and a `TakeOrderedAndProject` distributed
    * top-k — no global sort, no window, nothing driver-side.
    */
  def keySkew(df: DataFrame, key: Column, topK: Int = 20): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(
      sum(col("n")).as("n_rows"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .select(
        col("key"), col("n"),
        round(col("n") / col("n_rows"), 6).as("share"),
        // divide FIRST: n * n_keys in long arithmetic overflows (and
        // under ANSI mode throws) at exactly the table sizes this
        // diagnosis targets — the hashBucket overflow class
        round(col("n") / col("n_rows") * col("n_keys"), 4).as("ratio_to_mean"))
      .orderBy(col("n").desc, col("key").asc)
      .limit(topK)
  }

  /** Fixed-width histogram of a numeric column over [lo, hi): bin ids
    * 0..nBins-1, out-of-range values clamped into the edge bins, nulls
    * dropped. Returns (bin, bin_lo, n) for every NON-EMPTY bin.
    *
    * One partial-aggregated groupBy — map-side combine collapses each
    * partition to ≤ nBins rows, so the shuffle is O(partitions·nBins)
    * regardless of data size. Edges are caller-supplied (one pass);
    * derive them from a prior `profile` call when unknown — two
    * explicit passes beat a silent driver-side min/max collect.
    */
  def histogram(
      df: DataFrame,
      value: Column,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    // clamp BEFORE the int cast: a rogue far-out value makes the raw
    // long bin exceed Int range, and ANSI mode turns that cast into a
    // query-killing overflow instead of the documented edge-bin clamp
    val bin = least(lit((nBins - 1).toLong),
      greatest(lit(0L), floor((value - lo) / w))).cast("int")
    df.filter(value.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * w, 4))
      .select(col("bin"), col("bin_lo"), col("n"))
  }

  /** BENFORD first-digit audit over a positive integral column — the
    * fabricated-data / corruption tell for naturally-spanning
    * magnitudes (amounts, populations, file sizes): organic data's
    * leading digits follow log10(1+1/d); hand-typed, unit-confused,
    * or truncated-upstream values don't. One partial-agg pass to the
    * 9-digit frame; the first digit derives from the INTEGER's string
    * form (both engines render integers identically — a log10-based
    * derivation would ride float ulps), expected shares are Scala
    * literals shared with the SQL twin, and the chi² distance uses
    * the exact-decimal term lanes (the chiSquared contract, 4-dp
    * floor). Non-positive/NULL rows are excluded and reported.
    */
  def benford(
      df: DataFrame,
      value: Column): DataFrame = {
    val expected = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    // floor() before the long cast: Spark truncates double→long while
    // DuckDB rounds — flooring first makes a raw double column give
    // identical digit counts on both engines (engine-portable; a
    // no-op for already-integral columns, so no precision loss there)
    val v = df.select(floor(value).cast("long").as("__v"))
    val digits = v.filter(col("__v") > 0)
      .select(substring(col("__v").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val totals = v.agg(
      coalesce(sum(when(col("__v") > 0, 1L)), lit(0L)).as("__n_ok"),
      coalesce(sum(when(col("__v").isNull || !(col("__v") > 0), 1L)), lit(0L))
        .as("n_excluded"))
    // complete the 1..9 grid (an absent digit at n=0 is itself a
    // finding) — bounded completion, the sourceDivergence class
    val grid = digits.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val expCol = (1 to 9).foldRight(lit(0.0)) { case (d, rest) =>
      when(col("digit") === d, lit(expected(d))).otherwise(rest)
    }
    grid.join(digits, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("p_observed",
        when(col("__n_ok") > 0,
          floor(col("n").cast("double") / col("__n_ok") * 1e4) / 1e4)
          .otherwise(lit(0.0)))
      .withColumn("p_expected", floor(expCol * 1e4) / 1e4)
      .withColumn("__chiterm", Num.t7floor(
        when(col("__n_ok") > 0,
          (col("n").cast("double") - expCol * col("__n_ok"))
            * (col("n").cast("double") - expCol * col("__n_ok"))
            / (expCol * col("__n_ok"))).otherwise(lit(0.0)))
        .cast("decimal(28,7)"))
      .withColumn("chi2", floor(
        sum(col("__chiterm")).over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)).cast("double") * 1e4) / 1e4)
      .select(col("digit"), col("n"), col("p_observed"), col("p_expected"),
        col("chi2"), col("n_excluded"))
  }

  /** Functional-dependency DISCOVERY over a candidate column list —
    * the classic profiling step behind key inference, denormalization
    * checks, and silent-corruption alarms (`order_id → customer_id`
    * should hold; the day it stops, an upstream join went wrong): for
    * every ordered pair (det, dep), `det → dep` holds iff every det
    * value maps to exactly one dep value, i.e.
    * countDistinct(det) == countDistinct(det, dep). Reports both
    * counts and the violation margin so a NEAR-dependency (one bad
    * row) is distinguishable from no relationship at all.
    *
    * Shape at scale: all k·(k−1) pairs evaluate in ONE aggregate pass
    * — 2-level exact distincts per pair, Spark's expand handles the
    * multi-distinct rewrite; `cols` is a config-sized candidate list
    * (single digits — FD discovery over hundreds of columns is a
    * different algorithm), never data. NULLs count as a value (a det
    * group of NULLs mapping to two deps is still a violation).
    */
  def functionalDependencies(
      df: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      "2..8 candidate columns (pairs grow quadratically)")
    require(cols.distinct.size == cols.size, "duplicate candidate column")
    val pairs = for (a <- cols; b <- cols if a != b) yield (a, b)
    val aggs =
      cols.map(c => countDistinct(struct(col(c))).as(s"__d_$c")) ++
        pairs.map { case (a, b) =>
          countDistinct(struct(col(a), col(b))).as(s"__d_${a}__$b") }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("determinant"), lit(b).as("dependent"),
        col(s"__d_$a").as("n_det_values"),
        col(s"__d_${a}__$b").as("n_pair_values"),
        (col(s"__d_${a}__$b") - col(s"__d_$a")).as("n_violations"),
        (col(s"__d_${a}__$b") === col(s"__d_$a")).as("holds"))
    }
    m.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** QUANTILE NORMALIZATION onto a reference group — harmonize
    * per-source score distributions before cross-source gates: a
    * quality score of 0.6 from crawl A and 0.6 from crawl B rarely
    * mean the same thing; mapping every group's empirical distribution
    * onto one reference group's makes "keep the top 30%" mean the top
    * 30% EVERYWHERE. Each row's within-group rank becomes a
    * percentile, which indexes into the reference group's sorted
    * values.
    *
    * Determinism is PURE INTEGER: rank by (value, id) per group, the
    * mapped reference rank is `(r−1)·(n_ref−1) div (n−1) + 1` (exact
    * integer division — no float percentile to disagree on);
    * single-row groups map to the reference median rank.
    *
    * Shape at scale: one rank window per GROUP (keyed, never global),
    * the reference group's (rank, value) frame joins back by equi-rank
    * — distributed, reference-group-sized build side; the reference
    * row count rides in as a 1-row broadcast. NULL values are
    * excluded (rank semantics would be engine-dependent).
    */
  def quantileNormalize(
      df: DataFrame,
      group: Column,
      id: Column,
      value: Column,
      referenceGroup: String): DataFrame = {
    val t = df.select(group.cast("string").as("group_key"), id.as("id"),
        value.cast("double").as("value"))
      .filter(col("value").isNotNull)
    // loud failure on a missing/empty reference group: a silent
    // nref = 0 would map every rank negative and the equi-rank join
    // would come back EMPTY looking like success. The check is EAGER
    // by necessity — a lazy raise_error column gets pruned with the
    // whole subtree when AQE turns the empty-build-side join into an
    // empty relation — but cheap: filter + limit(1) short-circuits at
    // the first matching row rather than scanning the input.
    require(t.filter(col("group_key") === referenceGroup).limit(1).count() > 0,
      s"quantileNormalize: reference group '$referenceGroup' has no rows")
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("group_key").orderBy(col("value").asc, col("id").asc)
    val ranked = t
      .withColumn("__r", row_number().over(wg).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("group_key")))
    val ref = ranked.filter(col("group_key") === referenceGroup)
      .select(col("__r").as("__ref_r"), col("value").as("normalized"))
    val refN = ref.agg(count(lit(1)).as("__nref"))
    ranked.crossJoin(broadcast(refN))
      .withColumn("__ref_r",
        when(col("__n") > 1,
          expr("(__r - 1) * (__nref - 1) div (__n - 1)") + 1L)
          .otherwise(expr("(__nref - 1) div 2") + 1L))
      .join(ref, Seq("__ref_r"))
      .select(col("group_key"), col("id"), col("value"), col("normalized"))
  }
}
