package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}

import graft.functions._

/** Deduplication operators for LLM-training-data pipelines (SURVEY §2.D).
  *
  * All variants avoid cartesian pairwise work: exact dedup is a single
  * hash aggregation; near-dup variants generate candidate pairs through
  * banding / inverted-index blocking so the join keys bound the work.
  */
object Dedup {

  /** Exact content dedup: md5-hash groupBy, min-id winner per group.
    * One shuffle on the 128-bit fingerprint; partial aggregation does
    * the heavy lifting map-side at scale.
    */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("fp"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rows of `df` surviving exact dedup (the min-id representative).
    * Window form, not groupBy+semi-join: one shuffle on the
    * fingerprint, ONE evaluation of the input (the join form ran the
    * upstream pipeline once per side), no join. `id` must be unique —
    * the rank-1 row per fingerprint is then exactly the min-id winner.
    */
  def exactKeep(df: DataFrame, text: Column, id: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(text)).orderBy(id.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Time-windowed exact dedup — the batch analogue of streaming
    * `dropDuplicatesWithinWatermark`: a row survives iff more than
    * `windowUs` elapsed since the PREVIOUS row with the same content
    * fingerprint (chained suppression: a burst of re-posts keeps only
    * its first row; content re-appearing after a quiet gap is kept
    * again — re-publication after the window is legitimate).
    *
    * One fingerprint-partitioned ordered window (lag) — a single
    * keyed shuffle, no join, no state. `id` breaks timestamp ties
    * deterministically.
    */
  def exactKeepWithin(
      df: DataFrame,
      text: Column,
      id: Column,
      tsUs: Column,
      windowUs: Long): DataFrame = {
    require(windowUs > 0, "windowUs must be positive")
    // Null timestamps: lag() returns null BOTH for "no previous row"
    // and "previous row's ts was null", so raw nulls would make every
    // successor of a null-ts duplicate survive. Map null ts to one
    // sentinel instant in the far past instead: all null-ts renditions
    // of a fingerprint collapse to a single survivor, and a real-ts
    // row after them has an astronomically large gap (survives). The
    // sentinel is MinValue/2, not MinValue, so the gap subtraction
    // stays ANSI-overflow-safe for any physical epoch value.
    val t = coalesce(tsUs.cast("long"), lit(Long.MinValue / 2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(text)).orderBy(t.asc, id.asc)
    df.withColumn("__prev_ts", lag(t, 1).over(w))
      .filter(col("__prev_ts").isNull || t - col("__prev_ts") > windowUs)
      .drop("__prev_ts")
  }

  /** The content-fingerprint index of a corpus: one distinct md5 per
    * document rendition. This is the table an incremental pipeline
    * PERSISTS (and appends each accepted shard's fingerprints to) so
    * arriving shards dedup against the whole corpus without reading it.
    */
  def fingerprintIndex(df: DataFrame, text: Column): DataFrame =
    df.select(md5(text).as("fp")).distinct()

  /** Incremental exact dedup — the shard-arrival pattern: rows of a
    * NEW shard that survive (a) dedup within the shard (min-id winner,
    * [[exactKeep]]) and (b) an anti-join against the EXISTING corpus
    * fingerprint index ([[fingerprintIndex]], read back from storage).
    *
    * Scale shape: the corpus is never re-read — only its fingerprint
    * index (16 bytes/doc) joins, and the anti-join shuffles the small
    * shard plus the index on the fingerprint. Store the index bucketed
    * by `fp` ([[graft.sources.Tables.writeBucketed]]) and the index
    * side of every arrival is pre-shuffled too. Appending the surviving
    * shard's fingerprints keeps the index current without rebuilds.
    */
  def exactIncremental(
      shard: DataFrame,
      text: Column,
      id: Column,
      corpusIndex: DataFrame,
      corpusFp: Column): DataFrame =
    exactKeep(shard, text, id)
      .join(corpusIndex.select(corpusFp.as("__cfp")),
        md5(text) === col("__cfp"), "left_anti")

  /** [[exactIncremental]] with a Bloom pre-filter over the corpus
    * index — identical output, different scale shape. A Bloom filter
    * has no false negatives, so a shard row whose fingerprint the
    * sketch does NOT contain is definitely new and bypasses the
    * anti-join entirely; only the "might contain" rows (true dups +
    * the fpp share) pay the join against the index. For the common
    * arrival profile — most shard content is new — the per-arrival
    * cost drops from joining the whole index to probing a bits-only
    * broadcast sketch, with the join confirming a small remainder.
    * The index is scanned once to build the sketch; persist the sketch
    * alongside the index to amortize it across arrivals.
    */
  def exactIncrementalBloom(
      shard: DataFrame,
      text: Column,
      id: Column,
      corpusIndex: DataFrame,
      corpusFp: Column,
      fpp: Double = 0.01): DataFrame = {
    val idx = corpusIndex.select(corpusFp.as("fp")).localCheckpoint()
    val n = math.max(idx.count(), 1000L)
    // the sketch keys on xxhash64 of the fp string (BloomFilter's long
    // path); the probe hashes identically
    val bloom = idx.select(xxhash64(col("fp")).as("h")).stat.bloomFilter("h", n, fpp)
    // materialize the within-shard winners ONCE: the two complementary
    // filters below would otherwise re-run the whole upstream shard
    // pipeline + fingerprint window apiece (the very cost exactKeep's
    // window form exists to avoid)
    val kept = exactKeep(shard, text, id).localCheckpoint()
    val definitelyNew = kept.filter(
      !graft.functions.BloomMightContain.mightContain(xxhash64(md5(text)), bloom))
    val needConfirm = kept.filter(
      graft.functions.BloomMightContain.mightContain(xxhash64(md5(text)), bloom))
      .join(idx.select(col("fp").as("__cfp")), md5(text) === col("__cfp"), "left_anti")
    definitelyNew.unionByName(needConfirm)
  }

  /** MinHash signature table (id, sig: array<long> of length
    * `numHashes`) — the PERSISTABLE dedup index: write it once per
    * corpus build, and incremental shards compare against it without
    * re-signing the corpus (see [[minHashLSHIncremental]]).
    *
    * Signing is a PURE MAP: the codegen'd [[graft.functions.MinHashSignature]]
    * Expression computes the whole signature in one pass over the
    * token array — no shingle explode, no 64-min aggregate, no
    * exchange. (The previous explode + partial-agg form — itself the
    * fix for the 64×-interpreted-HOF per-row form, SURVEY §5 — still
    * paid O(tokens) generated rows and an aggregate per doc; the
    * kernel is pinned bit-identical to it in KernelPropsSpec.) Docs
    * with fewer than `shingleSize` tokens have no shingles and no
    * signature row, matching the explode form's semantics.
    */
  def minHashSignatures(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 64,
      shingleSize: Int = 5,
      seed: Long = 42L): DataFrame =
    scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        graft.functions.MinHashSignature.minhashSignature(
          tokens(col("__text")), numHashes, shingleSize, seed).as("sig"))
      .filter(size(col("sig")) > 0)

  /** LSH band buckets (id, bucket) from a signature table: `bands`
    * buckets per doc, each the hash of one signature slice. Pure
    * projection + generate — reading a stored signature index costs no
    * shuffle at all.
    */
  def minHashBuckets(
      sigs: DataFrame, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))
      }: _*)).as("bucket"))
  }

  /** Estimated Jaccard = fraction of agreeing signature positions,
    * rounded 4 dp. Codegen'd `ArrayAgreeCount` Expression — stays in
    * the candidate join's whole-stage-codegen span (the HOF form it
    * replaced ran interpreted with per-element boxing).
    */
  private def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    round(
      graft.functions.ArrayAgreeCount.arrayAgreeCount(sigA, sigB)
        .cast("double") / numHashes,
      4)

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: [[minHashSignatures]] → [[minHashBuckets]] →
    * bucket-local self-join for candidate pairs → exact signature
    * agreement estimates Jaccard.
    *
    * Scale: work is O(shingles) + O(docs × bands) + bucket-local
    * joins; never cartesian. `maxBucket` drops degenerate buckets
    * (thousands of identical boilerplate docs) the way web-scale dedup
    * drops ubiquitous shingles; AQE skew-join splitting covers the
    * rest. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    */
  /** Marginal-novelty scoring — "how much NEW content does this
    * source/shard actually add?", the value-of-data measurement
    * behind mixture and acquisition decisions (a source that is 95%
    * n-gram-covered by what you already train on is worth its other
    * 5%): per candidate doc, the fraction of its distinct token
    * `n`-grams NOT present in the reference corpus, plus per-doc
    * counts. Related to decontamination (same shingle join) but
    * inverted: overlap is MEASURED, not dropped.
    *
    * Shape at scale: both sides shingle once; the reference collapses
    * to its DISTINCT shingle set (partial agg); one left-anti-style
    * LEFT join on the shingle key (hash-partitioned, never cartesian)
    * feeds a per-doc partial-agg count. Ratio = exact longs, 4-dp
    * floor.
    */
  def marginalNovelty(
      candidates: DataFrame,
      candId: Column,
      candText: Column,
      reference: DataFrame,
      refText: Column,
      n: Int = 8): DataFrame = {
    val cand = scaleOut(candidates.select(candId.as("id"), candText.as("__t")))
      .select(col("id"),
        explode(graft.functions.shingles(graft.functions.tokens(col("__t")), n)).as("s"))
      .distinct()
    val ref = scaleOut(reference.select(refText.as("__t")))
      .select(
        explode(graft.functions.shingles(graft.functions.tokens(col("__t")), n)).as("s"))
      .distinct()
    cand.join(ref.withColumn("__hit", lit(1)), Seq("s"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("id"), col("n_shingles"), col("n_novel"),
        (floor(col("n_novel").cast("double") / col("n_shingles").cast("double") * 1e4)
          / 1e4).as("novelty"))
  }

  /** Leakage-proof split assignment — deterministic train/val/test
    * splits where near-duplicate documents can NEVER straddle a
    * split boundary (the classic eval-contamination bug: doc A trains,
    * its 0.95-Jaccard twin B evaluates): documents are first clustered
    * over the given near-dup `pairs` ([[connectedComponents]] — the
    * O(diameter) form; near-dup graphs are shallow), then the split
    * hash is taken on the CLUSTER id, so a whole cluster moves as one
    * unit. Singleton docs hash on their own id (their component label
    * is itself). Returns the input plus (cluster, split).
    */
  def splitByCluster(
      df: DataFrame,
      id: Column,
      pairs: DataFrame,
      idA: Column,
      idB: Column,
      weights: Seq[(String, Double)]): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB)
    val withComp = df.join(
        comp.withColumnsRenamed(Map("id" -> "__cid", "comp" -> "cluster")),
        id === col("__cid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), id.cast("long")))
      .drop("__cid")
    graft.operators.Sampling.splitAssign(withComp, col("cluster"), weights)
  }

  /** ENTITY RESOLUTION — fuzzy record dedup for structured tables
    * (customers, suppliers, product catalogs): records block on an
    * exact key (region, zip prefix, name length band — the caller's
    * choice), pairs within a block match when `levenshtein(name) ≤
    * maxDist`, matches cluster transitively ([[connectedComponents]]),
    * and the min-id member of each cluster is its canonical
    * representative. The structured-data face of the document dedup
    * family: same block-then-pair-then-cluster shape, edit distance
    * where documents use Jaccard.
    *
    * Shape at scale: the pair join is BLOCK-LOCAL (never cartesian);
    * blocks above `maxBlock` are dropped from pairing entirely and
    * their members surface as singletons (the LSH maxBucket
    * quarantine — a degenerate blocking key like NULL-zip would
    * otherwise quadratically explode one partition). Levenshtein runs
    * inside the join as a codegen'd builtin. Returns one row per
    * input record: (id, cluster, is_rep) — is_rep marks the canonical
    * record (cluster == own id, the min-label CC invariant).
    */
  def entityResolve(
      df: DataFrame,
      id: Column,
      name: Column,
      block: Column,
      maxDist: Int = 1,
      maxBlock: Int = 10000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val base = df.select(id.cast("long").as("id"), name.as("__n"),
      block.as("__blk"))
    val pairs = entityPairs(df, id, name, block, maxDist, maxBlock)
    val comp = connectedComponents(pairs, col("id_a"), col("id_b"))
      .withColumnsRenamed(Map("id" -> "__cid", "comp" -> "cluster"))
    base.join(comp, col("id") === col("__cid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
      .select(col("id"), col("cluster"),
        (col("id") === col("cluster")).as("is_rep"))
  }

  /** [[entityResolve]]'s blocked candidate-pair stage, exposed as a
    * pair list (id_a < id_b) so the D48-style audit can score a
    * blocking strategy's recall against [[levenshteinPairsBrute]]'s
    * exact truth (q_audit_entity) — the measured number behind the
    * C68 nation-block → suffix-block switch. Same block capping as
    * entityResolve: blocks above `maxBlock` drop from pairing
    * entirely (their members resolve as singletons).
    */
  def entityPairs(
      df: DataFrame,
      id: Column,
      name: Column,
      block: Column,
      maxDist: Int = 1,
      maxBlock: Int = 10000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val base = df.select(id.cast("long").as("id"), name.as("__n"),
      block.as("__blk"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("__blk")
    val capped = base
      .withColumn("__bn", count(lit(1)).over(wB))
      .filter(col("__bn") <= maxBlock && col("__bn") >= 2).drop("__bn")
    // length-band prune (dist >= |len diff|) ahead of the threshold-
    // banded 3-arg levenshtein — same kernel cut as
    // [[levenshteinPairsBrute]], identical surviving pairs
    capped.as("a")
      .join(capped.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.id") < col("b.id")
          && abs(length(col("a.__n")) - length(col("b.__n"))) <= maxDist
          && levenshtein(col("a.__n"), col("b.__n"), maxDist) >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Brute all-pairs levenshtein truth tier — AUDIT ONLY (quadratic
    * by definition, [[Dedup.hammingPairsBrute]]'s contract: run it on
    * a deterministic hash-cut sample with an ABSOLUTE row cap so the
    * audit costs a constant at any SF, never on a corpus). The
    * nested-loop join is the point: no blocking, so its output is
    * ground truth for what any blocking strategy may miss.
    */
  def levenshteinPairsBrute(
      df: DataFrame,
      id: Column,
      name: Column,
      maxDist: Int = 1): DataFrame = {
    val base = df.select(id.cast("long").as("id"), name.as("__n"))
    // The audit sample usually arrives through an orderBy().limit()
    // cut — ONE post-limit partition, so the quadratic nested-loop
    // stage (the whole cost of this operator) otherwise runs on one
    // task of a 32-core box (r17 measured q_audit_entity's brute tier
    // single-task). Spread the streamed side; broadcast the other
    // (bounded by the audit-sample contract above).
    val streamed = graft.operators.scaleOut(base)
    // dist >= |len(a)-len(b)| prunes hopeless pairs before the DP
    // kernel, and the 3-arg levenshtein runs the threshold-banded
    // O(len·maxDist) kernel instead of the full O(len²) matrix,
    // returning -1 past the bound: `lev(a,b) <= d` ≡ `lev(a,b,d) >= 0`
    // with identical distances for every surviving pair.
    streamed.as("a")
      .join(broadcast(base.as("b")),
        col("a.id") < col("b.id")
          && abs(length(col("a.__n")) - length(col("b.__n"))) <= maxDist
          && levenshtein(col("a.__n"), col("b.__n"), maxDist) >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** INCREMENTAL entity resolution — a NEW shard of records against a
    * STORED resolved table (the [[minHashLSHIncremental]] arrival
    * pattern for structured data): only the shard pays blocking +
    * levenshtein, the join is BIPARTITE shard-block × corpus-block
    * (bounded by shard size × maxBlock, independent of corpus size),
    * and each shard record adopts the MINIMUM matched cluster or
    * founds its own (cluster = own id, `matched` = false). Within-
    * shard duplicates are deliberately out of scope — run
    * [[entityResolve]] on the shard first, exactly as the MinHash
    * incremental skips corpus self-pairing; the two compose.
    *
    * `resolved` is the stored table: one row per canonical-ized record
    * with its name, blocking key, and cluster id (what
    * [[entityResolve]]'s output joined back to the records persists).
    */
  def entityResolveIncremental(
      shard: DataFrame,
      id: Column,
      name: Column,
      block: Column,
      resolved: DataFrame,
      resolvedId: Column,
      resolvedName: Column,
      resolvedBlock: Column,
      resolvedCluster: Column,
      maxDist: Int = 1,
      maxBlock: Int = 10000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val sh = shard.select(id.cast("long").as("id"), name.as("__n"),
      block.as("__blk"))
    val corpus = resolved.select(resolvedId.cast("long").as("__cid"),
      resolvedName.as("__cn"), resolvedBlock.as("__cblk"),
      resolvedCluster.cast("long").as("__ccl"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("__cblk")
    val corpusCapped = corpus
      .withColumn("__bn", count(lit(1)).over(wB))
      .filter(col("__bn") <= maxBlock).drop("__bn")
    val matches = sh
      .join(corpusCapped,
        col("__blk") === col("__cblk")
          && abs(length(col("__n")) - length(col("__cn"))) <= maxDist
          && levenshtein(col("__n"), col("__cn"), maxDist) >= 0)
      .groupBy("id").agg(min(col("__ccl")).as("__match"))
    sh.join(matches, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__match"), col("id")).as("cluster"),
        col("__match").isNotNull.as("matched"))
  }

  /** Cross-source contamination matrix — "which sources copy from
    * each other?": for every source pair, the number of normalized
    * content fingerprints present in BOTH (mirror pairs collapse to
    * src_a < src_b). The mixture-design observability step: two
    * sources sharing half their fingerprints should not both get full
    * mixture weight.
    *
    * Shape at scale: fingerprint once, collapse to the DISTINCT
    * (fp, source) frame (partial agg), drop fingerprints in more than
    * `maxSources` sources (ubiquitous boilerplate — the maxBucket
    * guard: a fingerprint in 1000 sources would emit 500k pairs), then
    * a fingerprint-keyed self-join bounded by maxSources² per group.
    * Never cartesian; one partial-agg count at the end.
    */
  def sourceOverlap(
      df: DataFrame,
      source: Column,
      text: Column,
      maxSources: Int = 50): DataFrame = {
    val fps = df.select(source.as("src"), normFingerprint(text).as("__fp"))
      .distinct()
    val bounded = fps.withColumn("__ns",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fp"))))
      .filter(col("__ns") <= maxSources)
      .drop("__ns")
    bounded.as("a")
      .join(bounded.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Sketch-tier source-overlap matrix — [[sourceOverlap]]'s scale
    * path: per-(source, shard) THETA sketches of normalized content
    * fingerprints ([[graft.functions.ThetaSketch]]) build in one
    * partial-aggregated pass and union per source; the k×k overlap
    * matrix is then one self-join of k kilobyte blobs paying one set
    * INTERSECTION per pair — the corpus is never touched again, where
    * the exact tier pays a fingerprint-keyed self-join per refresh.
    * A new source costs one sketch build + k cheap intersections.
    * Under-capacity sketches are exact (the contract
    * q_source_overlap_sketch's bounded-verdict oracle checks).
    * Returns (src_a, src_b, overlap_est, n_a_est, n_b_est) for every
    * unordered source pair.
    */
  def sourceOverlapSketch(
      df: DataFrame,
      source: Column,
      text: Column,
      shard: Column,
      lgK: Int = 12): DataFrame = {
    import graft.functions.ThetaSketch._
    val perShard = df.select(source.as("src"), shard.as("__sh"),
        normFingerprint(text).as("__fp"))
      .groupBy("src", "__sh")
      .agg(thetaSketch(col("__fp"), lgK).as("__sk"))
    val merged = perShard.groupBy("src")
      .agg(thetaUnion(col("__sk"), lgK).as("__sk"))
    merged.as("a").join(merged.as("b"), col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
        thetaIntersectEstimate(col("a.__sk"), col("b.__sk")).as("overlap_est"),
        thetaEstimate(col("a.__sk")).as("n_a_est"),
        thetaEstimate(col("b.__sk")).as("n_b_est"))
  }

  /** LSH banding-parameter planner — answers "how should I split my
    * `nPerms` MinHash permutations into bands?" BEFORE a 100 TB
    * signing pass commits to one S-curve. For every factorization
    * b·r = nPerms it reports the curve p(s) = 1 − (1 − s^r)^b as
    * three decision numbers: `s50` (the similarity where collision
    * probability crosses 1/2 — the curve's effective threshold),
    * `fp_area` (∫₀^t p, expected collision mass BELOW the target
    * threshold — wasted verification work) and `fn_area`
    * (∫ₜ¹ (1−p), miss mass ABOVE it — silent under-deduping), by
    * midpoint rule; `recommended` marks the factorization minimizing
    * fp_area + fn_area (ties → fewer bands). Feed the winner straight
    * into [[minHashLSH]](bands = …).
    *
    * Driver-sized planning math (≤ σ(nPerms) rows × a fixed grid —
    * the IVF-centroid metadata contract), returned as a frame so the
    * report lands next to the audit tables; no corpus is touched.
    * Rows-only at the oracle: libm `pow` is not bit-contracted across
    * engines (the seeded-hash precedent); the spec pins hand-computed
    * curve points, the fp/fn trade direction, and the recommendation.
    */
  def lshPlan(
      spark: org.apache.spark.sql.SparkSession,
      nPerms: Int = 64,
      threshold: Double = 0.5,
      gridPoints: Int = 1000): DataFrame = {
    require(nPerms >= 1, "nPerms must be >= 1")
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    require(gridPoints >= 100, "gridPoints >= 100 for a stable integral")
    import spark.implicits._
    def t6(x: Double): Double = math.floor(x * 1e6) / 1e6
    val rows = (1 to nPerms).filter(nPerms % _ == 0).map { b =>
      val r = nPerms / b
      // integral terms floor onto the 9-dp grid as integer
      // micro-units (the lane7 family): libm pow is not
      // bit-contracted cross-engine, but the floor grid absorbs its
      // last-ulp variance and the accumulation becomes exact integer
      // addition — which is what lets the q_lsh_plan oracle replay
      // the S-curve integral in SQL
      var fp9 = 0L
      var fn9 = 0L
      var i = 0
      while (i < gridPoints) {
        val s = (i + 0.5) / gridPoints
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp9 += math.floor(p * 1e9).toLong
        else fn9 += math.floor((1.0 - p) * 1e9).toLong
        i += 1
      }
      val fp = fp9.toDouble / 1e9 / gridPoints
      val fn = fn9.toDouble / 1e9 / gridPoints
      val s50 = math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r)
      (b, r, t6(s50), t6(fp), t6(fn), t6(fp + fn))
    }
    val bestCost = rows.map(_._6).min
    val bestB = rows.filter(_._6 == bestCost).map(_._1).min
    rows.map { case (b, r, s50, fp, fn, cost) =>
      (b, r, s50, fp, fn, cost, b == bestB)
    }.toDF("bands", "rows_per_band", "s50", "fp_area", "fn_area", "cost", "recommended")
  }

  def minHashLSH(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucket: Int = 200,
      seed: Long = 42L): DataFrame = {
    val sigs = minHashSignatures(df, id, text, numHashes, shingleSize, seed)
    val bucketed = minHashBuckets(sigs, numHashes, bands)
    // degenerate-bucket cap in one pass: count window over the bucket
    // (same shape as the df-cap in ngramJaccard — no groupBy+semi-join)
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val b = bucketed.withColumn("__n", count(lit(1)).over(wB))
      .filter(col("__n") <= maxBucket && col("__n") >= 2).drop("__n")
    val cand = b.as("x")
      .join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // shuffle_hash hints: signature frames GROW WITH THE CORPUS (n
    // rows × a 64-long array each) — never a dim, so a DRIVER
    // broadcast is wrong at scale even when the compressed-size
    // estimate clears the threshold (measured at a 30× replica: AQE
    // broadcast a sig frame from a fits-the-threshold estimate and
    // the driver-side hash-relation build, several × the compressed
    // bytes, OOM'd the query). Shuffled-hash keeps the hash build but
    // distributes it per-partition on executors — no sort tax (SMJ
    // measured ~40% slower here), no driver build.
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")).hint("shuffle_hash"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")).hint("shuffle_hash"), "id_b")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Incremental MinHash near-dup: pairs between a NEW shard and an
    * EXISTING corpus signature index — the arrival pattern at 100 TB,
    * where re-signing the whole corpus per shard is the difference
    * between an hourly ingest job and a weekly rebuild.
    *
    * `corpusSigs` is a stored [[minHashSignatures]] table (id, sig),
    * read back from parquet: the corpus side costs a projection +
    * generate (no shingling, no aggregate). Only the (small) shard is
    * signed; the candidate join is BIPARTITE shard-bucket ×
    * corpus-bucket — bounded by the shard size × bands, independent of
    * corpus size — and skips the corpus self-pairing entirely.
    * `maxBucket` caps degenerate corpus buckets as in [[minHashLSH]].
    * Returns (shard_id, corpus_id, est_jaccard). `numHashes`,
    * `shingleSize` and `seed` must match the stored index.
    */
  def minHashLSHIncremental(
      shard: DataFrame,
      id: Column,
      text: Column,
      corpusSigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucket: Int = 200,
      seed: Long = 42L): DataFrame = {
    val shardSigs = minHashSignatures(shard, id, text, numHashes, shingleSize, seed)
    val shardB = minHashBuckets(shardSigs, numHashes, bands)
    val corpusB = minHashBuckets(corpusSigs.select(col("id"), col("sig")), numHashes, bands)
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val corpusCapped = corpusB.withColumn("__n", count(lit(1)).over(wB))
      .filter(col("__n") <= maxBucket).drop("__n")
    val cand = shardB.as("x")
      .join(corpusCapped.as("y"), col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("shard_id"), col("y.id").as("corpus_id"))
      .distinct()
    // shuffle_hash on the signature attaches: corpus-sized array
    // frames must never DRIVER-broadcast (see minHashLSH)
    cand
      .join(shardSigs.select(col("id").as("shard_id"), col("sig").as("sig_a")).hint("shuffle_hash"), "shard_id")
      .join(corpusSigs.select(col("id").as("corpus_id"), col("sig").as("sig_b")).hint("shuffle_hash"), "corpus_id")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select("shard_id", "corpus_id", "est_jaccard")
  }

  /** The persistable SimHash artifact: (id, sig) — store it like
    * [[fingerprintIndex]] / [[minHashSignatures]] and new shards sign
    * only themselves ([[simHashIncremental]]).
    */
  def simHashSignatures(
      df: DataFrame, id: Column, text: Column, seed: Long = 42L): DataFrame =
    scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        graft.functions.SimHash64.simhash64(tokens(col("__text")), seed).as("sig"))

  /** SimHash near-duplicate pairs within a Hamming radius.
    *
    * 64-bit SimHash signature (custom Catalyst Expression) blocked on
    * four 16-bit chunks ([[hammingPairs]]): by pigeonhole, any pair
    * within Hamming distance ≤ 3 shares at least one exact chunk, so
    * the candidate join is chunk-local, never cartesian. Exact
    * distance via bit_count(xor).
    */
  def simHash(
      df: DataFrame,
      id: Column,
      text: Column,
      maxDist: Int = 3,
      seed: Long = 42L): DataFrame =
    hammingPairs(simHashSignatures(df, id, text, seed), maxDist, nChunks = 4)

  /** INCREMENTAL SimHash near-dup: a new shard against the STORED
    * corpus signature index — the D2b shape for the SimHash tier.
    * The shard signs only itself; the bipartite chunk-bucket join
    * bounds work by shard size × chunks, independent of corpus size
    * (the corpus side is the pre-signed index, pre-bucketable by
    * chunk). Returns (shard_id, corpus_id, hamming).
    */
  def simHashIncremental(
      shard: DataFrame,
      id: Column,
      text: Column,
      corpusSigs: DataFrame,
      maxDist: Int = 3,
      seed: Long = 42L): DataFrame =
    hammingPairsBipartite(
      simHashSignatures(shard, id, text, seed),
      corpusSigs.select(col("id"), col("sig")),
      maxDist, nChunks = 4)

  /** Generic Hamming-radius self-pairing over 64-bit signatures —
    * the blocking core shared by [[simHash]] (text) and
    * [[imageNearDup]] (dHash).
    *
    * The signature is split into `nChunks` equal bit chunks; by
    * pigeonhole, any pair within Hamming distance ≤ nChunks−1 differs
    * in fewer chunks than exist, so it shares at least one EXACT
    * chunk and the candidate join is chunk-bucket-local, never
    * cartesian. More chunks buy a larger guaranteed radius at the
    * cost of shorter (busier) buckets — 4×16-bit for classic SimHash
    * radius 3, 8×8-bit for image dHash radius 7. Exact distance via
    * codegen'd bit_count(xor) confirms every candidate.
    *
    * Input: (id, sig: long). Output: (id_a, id_b, hamming), id_a < id_b.
    */
  def hammingPairs(sigs: DataFrame, maxDist: Int, nChunks: Int): DataFrame = {
    require(nChunks > 0 && 64 % nChunks == 0, s"nChunks must divide 64, got $nChunks")
    require(maxDist <= nChunks - 1,
      s"$nChunks-chunk blocking only guarantees recall for maxDist <= ${nChunks - 1}")
    val bucketed = chunkBuckets(sigs, nChunks)
    val cand = bucketed.as("x")
      .join(bucketed.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.val") === col("y.val") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("hamming",
        expr("bit_count(sig_a ^ sig_b)").cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Brute-force all-pairs Hamming ≤ maxDist — the AUDIT-ONLY exact
    * tier for [[hammingPairs]]' pigeonhole blocking: every pair pays
    * bit_count, no blocking, no df caps, so its output is ground
    * truth by construction and [[auditPairs]] against it measures the
    * blocked tier's real P/R. Deliberately quadratic (the one
    * documented product-join class, like the exact tier in the
    * q_dedup_audit discipline): callers MUST pass a bounded audit
    * sample — a hash-cut of the signature frame — never the corpus.
    * Input: (id, sig: long). Output: (id_a, id_b, hamming), id_a < id_b.
    */
  def hammingPairsBrute(sigs: DataFrame, maxDist: Int): DataFrame =
    // scaleOut + broadcast: the audit sample usually arrives through
    // a limit/checkpoint cut with 1-3 partitions, so the quadratic
    // nested-loop stage otherwise runs on 1-3 tasks of the whole box
    // (same single-task cliff as [[levenshteinPairsBrute]]); the
    // broadcast side is bounded by the audit-sample contract above
    graft.operators.scaleOut(
        sigs.select(col("id").as("id_a"), col("sig").as("__sa")))
      .join(broadcast(sigs.select(col("id").as("id_b"), col("sig").as("__sb"))),
        col("id_a") < col("id_b"))
      .withColumn("hamming", expr("bit_count(__sa ^ __sb)").cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")

  /** (chunk index, chunk value) bucket rows for a 64-bit signature
    * frame — two-column key, so 32-bit chunks can't overflow a packed
    * long. Shared by the self- and bipartite Hamming joins.
    */
  private def chunkBuckets(sigs: DataFrame, nChunks: Int): DataFrame = {
    val chunkBits = 64 / nChunks
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    sigs.select(
      col("id"),
      posexplode(array((0 until nChunks).map { c =>
        shiftright(col("sig"), chunkBits * c).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk", "val")))
  }

  /** Bipartite [[hammingPairs]]: every (left, right) pair within the
    * Hamming radius, with the same pigeonhole recall guarantee — the
    * shard-vs-stored-index shape ([[simHashIncremental]]). Both inputs
    * are (id, sig) frames. Returns (shard_id, corpus_id, hamming).
    */
  def hammingPairsBipartite(
      left: DataFrame, right: DataFrame, maxDist: Int, nChunks: Int): DataFrame = {
    require(nChunks > 0 && 64 % nChunks == 0, s"nChunks must divide 64, got $nChunks")
    require(maxDist <= nChunks - 1,
      s"$nChunks-chunk blocking only guarantees recall for maxDist <= ${nChunks - 1}")
    val cand = chunkBuckets(left, nChunks).as("x")
      .join(chunkBuckets(right, nChunks).as("y"),
        col("x.chunk") === col("y.chunk") && col("x.val") === col("y.val"))
      .select(col("x.id").as("shard_id"), col("y.id").as("corpus_id"))
      .distinct()
    cand
      .join(left.select(col("id").as("shard_id"), col("sig").as("sig_a")), "shard_id")
      .join(right.select(col("id").as("corpus_id"), col("sig").as("sig_b")), "corpus_id")
      .withColumn("hamming",
        expr("bit_count(sig_a ^ sig_b)").cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("shard_id", "corpus_id", "hamming")
  }

  /** Near-duplicate IMAGE pairs via perceptual hash (dHash) — SURVEY
    * §2.D42. Payloads are decoded partition-locally
    * ([[Multimodal.perceptualHash]]: javax.imageio + 9×8 integer
    * dHash); only genuinely decoded images enter Hamming pairing
    * (an undecodable payload's byte-fold hash has no metric meaning —
    * route those through exact dedup instead). 8×8-bit chunk blocking
    * guarantees recall to radius 7; default threshold 6 is the usual
    * dHash near-dup cut.
    *
    * Input needs (doc_id, media) — the [[Multimodal.pack]] shape.
    * Output: (id_a, id_b, hamming).
    */
  def imageNearDup(df: DataFrame, maxDist: Int = 6): DataFrame = {
    require(maxDist <= 7, "8-chunk blocking only guarantees recall for maxDist <= 7")
    val sigs = Multimodal.perceptualHash(df)
      .filter(col("decoded"))
      .select(col("doc_id").as("id"), col("phash").as("sig"))
    hammingPairs(sigs, maxDist, nChunks = 8)
  }

  /** Audio near-duplicate pairs over the energy-envelope fingerprint —
    * [[imageNearDup]]'s shape pointed at the WAV kernel: payloads
    * fingerprint to 64-bit envelope signatures
    * ([[Multimodal.audioFingerprint]]), undecodable/short payloads are
    * excluded up front, and candidates come from the same 8×8-bit
    * chunk blocking (guaranteed recall to radius 7, bucket-local join,
    * exact bit_count confirm).
    *
    * Input needs (doc_id, media). Output: (id_a, id_b, hamming).
    */
  def audioNearDup(df: DataFrame, maxDist: Int = 6): DataFrame = {
    require(maxDist <= 7, "8-chunk blocking only guarantees recall for maxDist <= 7")
    val sigs = Multimodal.audioFingerprint(df)
      .filter(col("decoded"))
      .select(col("doc_id").as("id"), col("sig"))
    hammingPairs(sigs, maxDist, nChunks = 8)
  }

  /** n-gram Jaccard near-duplicate pairs via a df-capped inverted
    * index.
    *
    * Candidate pairs come only from shingles shared by ≤ `dfCap`
    * documents (ubiquitous shingles are dropped — standard at web
    * scale, where a boilerplate shingle would otherwise create a
    * quadratic bucket). Jaccard uses full distinct-shingle set sizes:
    * |∩| / (|A| + |B| − |∩|).
    */
  def ngramJaccard(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int = 5,
      dfCap: Int = 20,
      threshold: Double = 0.5): DataFrame = {
    // One repartition by shingle materializes the tokenize+shingle
    // work behind a shuffle: the inverted-index groupBy, the semi-join,
    // and the per-doc size count all read the SAME exchange
    // (ReusedExchange) instead of re-running the interpreted HOF scan
    // 3×. At 100 TB that is one pass over the corpus, not three.
    // Shingles are keyed by xxhash64 right after the explode: every
    // downstream shuffle/sort/join then works on 8-byte longs instead
    // of multi-word strings (measured 2× on the whole query; 64-bit
    // collisions are ~1e-8 at web scale and only perturb one count).
    val sh = scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), explode(array_distinct(shingles(tokens(col("__text")), n))).as("__s"))
      .select(col("id"), xxhash64(col("__s")).as("sh"))
      .repartition(col("sh"))
    // df-cap via a count window over the shingle partitioning the
    // exchange already provides: ONE pass tags each posting with its
    // document frequency — no separate rare-groupBy and no semi-join
    // back (measured ~15% off the candidate phase, identical pairs)
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val indexed = sh.withColumn("__df", count(lit(1)).over(wSh))
      .filter(col("__df") >= 2 && col("__df") <= dfCap).drop("__df")
    val inter = indexed.as("a")
      .join(indexed.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** DIRECTIONAL n-gram containment pairs (asymmetric Jaccard) — the
    * quote detector symmetric similarity can't be: a 300-word article
    * quoted wholesale inside a 10k-word aggregation page has Jaccard
    * ≈ 0.03 (invisible to [[ngramJaccard]]/[[minHashLSH]] at any sane
    * threshold) but containment |A∩B|/|A| ≈ 1. Candidates come from
    * the SAME df-capped inverted index as [[ngramJaccard]] (shared
    * exchange discipline, 8-byte hashed shingles, ubiquitous shingles
    * dropped); each unordered candidate pair then scores BOTH
    * directions against the full distinct-shingle set sizes, emitting
    * one row per direction clearing `threshold`:
    * (id_inner, id_outer, n_inner, n_outer, containment) — inner is
    * the (mostly-)contained side. An exact duplicate pair emits both
    * directions at 1.0.
    *
    * Same recall caveat as ngramJaccard: intersections count only
    * df-capped shingles while sizes are uncapped, so containment is
    * an UNDERestimate for docs built of boilerplate — the df cap is
    * the price of never joining a quadratic bucket.
    */
  def ngramContainment(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int = 5,
      dfCap: Int = 20,
      threshold: Double = 0.8): DataFrame = {
    val sh = scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), explode(array_distinct(shingles(tokens(col("__text")), n))).as("__s"))
      .select(col("id"), xxhash64(col("__s")).as("sh"))
      .repartition(col("sh"))
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val indexed = sh.withColumn("__df", count(lit(1)).over(wSh))
      .filter(col("__df") >= 2 && col("__df") <= dfCap).drop("__df")
    val inter = indexed.as("a")
      .join(indexed.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val scored = inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
    val ab = scored.select(
      col("id_a").as("id_inner"), col("id_b").as("id_outer"),
      col("n_a").as("n_inner"), col("n_b").as("n_outer"),
      round(col("n_inter").cast("double") / col("n_a"), 4).as("containment"))
    val ba = scored.select(
      col("id_b").as("id_inner"), col("id_a").as("id_outer"),
      col("n_b").as("n_inner"), col("n_a").as("n_outer"),
      round(col("n_inter").cast("double") / col("n_b"), 4).as("containment"))
    ab.unionByName(ba).filter(col("containment") >= threshold)
  }

  /** EXACT-recall set-similarity self-join via prefix filtering — the
    * PPJoin-family construction (Xiao et al., WWW'08; Chaudhuri et al.,
    * ICDE'06 SSJoin): every pair with shingle-set Jaccard ≥ `threshold`
    * is returned, with NO df cap and NO probabilistic recall caveat.
    * [[ngramJaccard]] trades recall for cost (its df-capped index
    * ignores common shingles entirely — both in candidates and in the
    * intersection count); this is the exactness tier above it and the
    * ground-truth generator for auditing the sketch tiers (MinHash /
    * SimHash recall measurement needs a lossless baseline).
    *
    * Prefix theorem: order each doc's shingles by ascending document
    * frequency (rarest first; ties by key). If J(A,B) ≥ t then
    * |A∩B| ≥ ceil(t·max(|A|,|B|)), and two sets with overlap ≥ α must
    * share a token among the first |X| − α + 1 of each — so scanning
    * only the first |X| − ceil(t·|X|) + 1 postings of each doc loses
    * nothing. Because prefixes hold each doc's RAREST shingles, the
    * boilerplate buckets that force ngramJaccard's df cap never enter
    * the candidate join at all: a shingle shared by a million docs
    * participates only for the handful of docs where it is among the
    * rarest — prefix filtering is the load-shedding, by construction
    * instead of by cap.
    *
    * Shape at scale: one (id, shingle-hash) frame materialized once
    * (`localCheckpoint` — five consumers) → tiny df aggregate joined
    * back → per-doc ranking window (partitioned by id, never global)
    * → candidate equi-join on prefix hashes with the Jaccard length
    * bound (t·|A| ≤ |B| ∧ t·|B| ≤ |A|) pruning before verification →
    * exact intersection count restricted to candidates. All joins are
    * keyed shuffles on 8-byte hashes; nothing quadratic outside the
    * (rare-token) prefix buckets.
    */
  def prefixFilterJaccard(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val projected = df.select(id.as("id"), text.as("__text"))
    requireIntegralId(projected.schema("id").dataType,
      "prefixFilterJaccard", "map ids through a long surrogate first")
    val base = scaleOut(projected.select(col("id").cast("long").as("id"), col("__text")))
      .select(col("id"), explode(array_distinct(shingles(tokens(col("__text")), n))).as("__s"))
      .select(col("id"), xxhash64(col("__s")).as("sh"))
      .localCheckpoint()
    val sizes = base.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val dfreq = base.groupBy("sh").agg(count(lit(1)).as("df"))
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("sh").asc)
    val pref = base.join(dfreq, "sh")
      .withColumn("__pos", row_number().over(wId))
      .join(sizes, "id")
      .filter(col("__pos") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("id"), col("sh"), col("n_sh"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id")
          && col("b.n_sh") >= ceil(lit(threshold) * col("a.n_sh"))
          && col("a.n_sh") >= ceil(lit(threshold) * col("b.n_sh")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // shuffle_hash: the posting frame (n docs × ~hundreds of shingle
    // rows) and the candidate pair list both grow with the corpus —
    // fact-fact joins, a driver broadcast is never right (see
    // minHashLSH)
    val inter = cand
      .join(base.select(col("id").as("id_a"), col("sh")).hint("shuffle_hash"), "id_a")
      .join(base.select(col("id").as("id_b"), col("sh")).hint("shuffle_hash"), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Winnowing near-copy pairs: documents sharing at least `minShared`
    * winnowed fingerprints (custom Expression `RollingHashWinnow`).
    * The winnowing guarantee (Schleimer et al., SIGMOD'03) makes this
    * the plagiarism/near-copy primitive: ANY shared substring of length
    * ≥ w + k - 1 characters forces at least one shared fingerprint, so
    * recall for long shared runs is structural, not probabilistic.
    * Same inverted-index shape as ngramJaccard: one exchange on the
    * fingerprint, df-capped to kill boilerplate buckets.
    */
  def winnowPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      w: Int = 16,
      dfCap: Int = 20,
      minShared: Int = 2): DataFrame = {
    val fp = scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        explode(array_distinct(
          graft.functions.RollingHashWinnow.winnowFingerprint(col("__text"), k, w))).as("fp"))
      .repartition(col("fp"))
    // one-pass df-cap via a count window over the fp partitioning
    // (same shape as ngramJaccard)
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val idx = fp.withColumn("__df", count(lit(1)).over(wFp))
      .filter(col("__df") >= 2 && col("__df") <= dfCap).drop("__df")
    idx.as("a")
      .join(idx.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Embedding near-duplicate pairs, blocked on a coarse key so the
    * pair join is block-local (label, cluster id, or an LSH bucket —
    * never all-pairs).
    */
  def embeddingCosine(
      df: DataFrame,
      id: Column,
      vec: Column,
      block: Column,
      threshold: Double,
      prefixPrune: Boolean = true): DataFrame = {
    import graft.functions.DotProduct.dotProduct
    // Per-ROW precomputation (r17, guide §2.3 "aggregate before you
    // shuffle" applied to expressions): the naive per-PAIR cosine
    // walks both 64-dim arrays three times (dot, ‖a‖, ‖b‖ ≈ 192
    // multiplies + 2 sqrt) for every one of the O(Σ block²) candidate
    // pairs. Norms depend on one row only — compute them once per row
    // (n rows, not n² pairs). __nrm = sqrt(dot(v,v)) is the exact
    // expression l2Norm used inside cosine(), so __nrm_a·__nrm_b and
    // the final division are bit-identical to the old plan.
    val e = df.select(id.as("id"), vec.as("v"), block.as("blk"))
      .withColumn("__nsq", dotProduct(col("v"), col("v")))
      .withColumn("__nrm", sqrt(col("__nsq")))
      .withColumn("__p8", slice(col("v").cast("array<double>"), 1, 8))
      .withColumn("__psq", dotProduct(col("__p8"), col("__p8")))
    // Prefix lower-bound prune inside the JOIN CONDITION: for t > 0,
    //   cos(a,b) >= t  ⇒  dot >= t·‖a‖‖b‖  ⇒
    //   ‖a−b‖² = ‖a‖²+‖b‖²−2·dot <= ‖a‖²+‖b‖²−2t·‖a‖‖b‖
    // and the first-8-coordinates part of ‖a−b‖² is a lower bound of
    // the whole, so any pair failing
    //   psq_a + psq_b − 2·dot8 <= nsq_a + nsq_b − 2·tEff·nrm_a·nrm_b
    // provably has cos < tEff and could never pass the final rounded
    // filter (tEff = threshold − 1e-3 absorbs the 4-dp HALF_UP
    // boundary at threshold − 5e-5 plus all float error, with a
    // margin that scales with ‖a‖‖b‖ like the error does). Survivors
    // still go through the untouched exact cosine, so the OUTPUT is
    // unchanged — the prune only skips the 64-dim kernel on pairs the
    // filter was about to discard. 8 of 64 dims ≈ 8 multiplies decide
    // ~95%+ of pairs (for spread blocks) at dedup-grade thresholds.
    val tEff = threshold - 1e-3
    val prune =
      col("a.__psq") + col("b.__psq") -
        lit(2.0) * dotProduct(col("a.__p8"), col("b.__p8")) <=
      col("a.__nsq") + col("b.__nsq") -
        lit(2.0 * tEff) * col("a.__nrm") * col("b.__nrm")
    val nProd = col("a.__nrm") * col("b.__nrm")
    val cosSim = round(
      when(nProd === 0.0, 0.0)
        .otherwise(dotProduct(col("a.v"), col("b.v")) / nProd), 4)
    // The exact rounded test goes INTO the join condition, AFTER the
    // prune: left as a filter above the join, Catalyst pushes it into
    // the condition ANDed ahead of the prune (observed r17), making
    // every pair pay the 64-dim kernel plus the prune — strictly worse
    // than no prune. Conjunct order inside one condition is preserved
    // through optimization, so here the 8-dim bound short-circuits the
    // kernel. Survivors re-evaluate the same deterministic cosSim
    // expression in the output projection (few rows — near-dup hits).
    val pairCond = col("a.blk") === col("b.blk") && col("a.id") < col("b.id")
    val cond =
      if (tEff > 0 && prefixPrune) pairCond && prune && cosSim >= threshold
      else pairCond && cosSim >= threshold
    e.as("a").join(e.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosSim.as("cos_sim"))
  }

  /** Embedding near-dup with NO caller-supplied blocking key — the
    * 100 TB unlabeled-corpus path as a first-class call: block on the
    * seeded random-hyperplane LSH bucket (sign bits compiled into the
    * plan, identical on every executor), then run the block-local
    * cosine join. Near-identical vectors land in the same bucket with
    * probability ≈ (1 − θ/π)^nPlanes (θ = angle between them), so for
    * dedup-grade thresholds (cos ≥ 0.99 ⇒ θ ≤ 0.15 rad) recall stays
    * high even at 8 planes while buckets shrink the join ~2^nPlanes×.
    *
    * THE PLANE COUNT MUST GROW WITH THE CORPUS: at fixed nPlanes the
    * 2^nPlanes bucket set is constant, buckets grow linearly and the
    * block-local join quadratically (the 30× registry sweep measured
    * 24× cost for 30× data at 8 planes — the same hidden-superlinear
    * class as fixed SemDeDup k). Pass `nPlanes <= 0` for the auto
    * policy ⌈log₂(n/100)⌉ clamped to [8, 24]: ~100-vector buckets at
    * any corpus size, each added plane costing a ~(1 − θ/π) factor of
    * recall that stays mild at dedup-grade thresholds. Oracle-checked
    * callers keep an explicit count (the SQL twin bakes the planes in).
    */
  def embeddingCosineLSH(
      df: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      dim: Int = 64,
      nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val planes =
      if (nPlanes > 0) nPlanes
      else {
        val n = math.max(df.count(), 1L)
        math.min(24, math.max(8,
          math.ceil(math.log(n / 100.0) / math.log(2.0)).toInt))
      }
    // prefixPrune = false: the seeded-hyperplane bucket expression is
    // already a ~16×64-literal codegen giant in the pair stage, and
    // the auto plane policy keeps buckets ~100 rows so per-pair exact
    // kernels are bounded by construction; adding the prune's extra
    // generated code on top tips the stage past JIT method limits —
    // measured 0.24 s without vs 1.67 s with at sf0.1 (r17), identical
    // output either way (the prune only ever skips provable misses).
    embeddingCosine(df, id, vec,
      Similarity.hyperplaneBucket(vec, dim, planes, seed), threshold,
      prefixPrune = false)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space with the
    * IVF coarse quantizer ([[Similarity.trainIvfCentroids]]), run the
    * exact cosine pair join ONLY within clusters, then keep one doc
    * per semantic-duplicate component. Near-identical meanings that
    * exact/MinHash dedup can't see (paraphrases, translations-in-
    * effect, template rewrites) land in the same k-means cell and
    * pair there.
    *
    * Scale shape: training touches a `trainFraction` hash-sample and
    * the full corpus is scanned ONCE for assignment (the IVF story);
    * the pair join is cluster-local — O(Σ|cell|²), controlled by
    * `nCentroids` exactly like SemDeDup's k. THE k MUST GROW WITH THE
    * CORPUS: at fixed k, cells grow linearly and the within-cell join
    * quadratically (measured 38× cost for 30× data at k=16 — the
    * hidden superlinear term a 10× spot-bench missed). Pass
    * `nCentroids <= 0` for the auto policy k = max(16, ⌈n/200⌉):
    * bounded ~200-vector cells make the pair join linear in corpus
    * size, the paper's constant-cluster-size regime. Known recall
    * caveat, inherited from the paper: a duplicate pair straddling a
    * cell boundary is missed — more cells mean more boundaries, or
    * use [[embeddingCosineLSH]] when multi-probe recall matters more
    * than cluster locality.
    *
    * Returns the SURVIVING rows of `df` (anti-join on the drop list),
    * so it composes like [[exactKeep]].
    */
  def semanticDedup(
      df: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      nCentroids: Int = 0,
      iters: Int = 5,
      trainFraction: Double = 1.0): DataFrame = {
    // one materialization: training, assignment and the pair join all
    // read the projected (id, v) blocks instead of re-deriving the
    // input (often a union + perturbation/cast projection) per job
    val vecs = df.select(id.as("id"), vec.as("v")).localCheckpoint()
    // fail FAST on non-integral ids: the cluster pipeline labels nodes
    // with long ids (connectedComponents), and a string/UUID id would
    // cast to null — the anti-join below would then match nothing and
    // silently return the corpus fully undeduped
    requireIntegralId(vecs.schema("id").dataType,
      "semanticDedup", "map ids through a long surrogate first")
    // auto-k: one count over the checkpointed projection (driver gets
    // a single long) keeps cells ~200 vectors at ANY corpus size
    val k =
      if (nCentroids > 0) nCentroids
      else math.max(16, math.ceil(vecs.count() / 200.0).toInt)
    val centroids = Similarity.trainIvfCentroids(
      vecs, col("id"), col("v"), k, iters, trainFraction)
    val assigned = Similarity.ivfAssign(vecs, col("id"), col("v"), centroids)
    val pairs = embeddingCosine(
      assigned, col("id"), col("v"), col("cluster"), threshold)
    val drops = clusterDuplicates(pairs, col("id_a"), col("id_b"))
    df.join(drops.select(col("drop_id").as(s"__drop")),
      id.cast("long") === col("__drop"), "left_anti")
  }

  /** Non-integral node ids (string/UUID) cast to null and would make
    * every cluster operator silently wrong (labels never propagate,
    * anti-joins never match) — refuse them loudly instead.
    */
  private[graft] def requireIntegralId(
      dt: org.apache.spark.sql.types.DataType, op: String, hint: String): Unit =
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$op requires an integral (long-castable) id column, got $dt — $hint")

  /** Connected components over an undirected near-dup pair list —
    * the step that turns pairwise findings into KEEP-ONE-PER-CLUSTER
    * decisions (transitive closure: A≈B, B≈C ⇒ {A,B,C} is one
    * duplicate cluster even if A and C never paired).
    *
    * Min-label propagation: every node starts labeled with its own id;
    * each round takes the min label across itself and its neighbors;
    * fixpoint in O(component diameter) rounds. Each round is one
    * equi-join + partial-aggregated groupBy (no cartesian work), and
    * `localCheckpoint` truncates lineage so round N's plan does not
    * replay rounds 1..N-1 — the standard iterative-algorithm shape on
    * Spark. Near-dup graphs have tiny diameters (clusters are
    * renditions of one document), so rounds stay single-digit; the
    * driver sees only one convergence counter per round, never data.
    * Returns (id, component) with component = min id in the cluster.
    *
    * For graphs whose components are NOT shallow (long chains, social
    * graphs), O(diameter) rounds is the wrong complexity class — use
    * [[connectedComponentsStar]] (O(log n) rounds) behind the same
    * contract.
    */
  def connectedComponents(
      pairs: DataFrame,
      src: Column,
      dst: Column,
      maxIter: Int = 20): DataFrame = {
    val raw = pairs.select(src.as("a"), dst.as("b"))
    raw.schema.fields.foreach(f => requireIntegralId(f.dataType,
      "connectedComponents",
      "assign long surrogates (e.g. monotonically_increasing_id or a hash-free dense rank) before clustering"))
    val e0 = raw.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    // eager = false (r17): every checkpoint in this loop is consumed by
    // a job that follows immediately (round 1's join, or the round's
    // own frontier count), so the lazy form materializes the SAME rows
    // in that job instead of paying a separate eager materialization
    // job first. Same single evaluation, same lineage truncation, half
    // the driver round-trips — job latency is serial on a cluster too.
    // Checkpoint the pair tier ONCE, before the symmetrization: the
    // old `sym = pairs ∪ pairs.swap` checkpoint carried the (often
    // expensive) pair-generation subtree TWICE in its plan — planned
    // and whole-stage-codegen-compiled twice on the driver, stored
    // twice in the checkpoint blocks. Deriving the swapped direction
    // from the checkpointed single copy is a trivial projection.
    val e0c = e0.localCheckpoint(false)
    val sym = e0c.unionByName(e0c.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(false)
    // FRONTIER propagation (r17, guide §2.3/§2.4 — process only what
    // can still change): comp_i(v) = min(comp_{i-1}(v), min over
    // neighbors u of comp_{i-1}(u)); a neighbor whose label did NOT
    // change in round i-1 already contributed that same label to v in
    // round i-1, so round i only needs edges incident to LAST ROUND'S
    // CHANGED nodes — identical labels every round by induction, but
    // the per-round join shrinks with the frontier instead of
    // rescanning every (edge × label) pair after most components have
    // already converged. Round 1's frontier is all nodes (base case).
    var frontier = labels
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym.join(frontier.withColumnRenamed("id", "b2"), col("b") === col("b2"))
        .groupBy(col("a").as("id"))
        .agg(min(col("comp")).as("nbr_comp"))
      val updated = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp_new"))
        .localCheckpoint(false) // materialized by the count below — one job per round
      frontier = updated.filter(col("comp_new") < col("comp"))
        .select(col("id"), col("comp_new").as("comp"))
      changed = frontier.count()
      labels = updated.select(col("id"), col("comp_new").as("comp"))
      i += 1
    }
    // Fail LOUDLY on non-convergence: returning local-min labels would
    // let clusterDuplicates keep several representatives of one cluster
    // — duplicates silently surviving dedup. Near-dup components have
    // tiny diameters, so hitting this means the pair list is not a
    // near-dup graph (raise maxIter deliberately if that's intended).
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing); component diameter exceeds maxIter")
    labels
  }

  /** [[connectedComponents]] for DEEP graphs: the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14), which converges in
    * O(log n) ROUNDS regardless of component diameter — the escape
    * hatch when the pair list is a long-chain or social-graph shape
    * rather than a shallow near-dup cluster.
    *
    * Each round is two keyed join+aggregate passes over the edge list
    * (same shuffle shape as one min-label round — no cartesian work,
    * `localCheckpoint` truncating lineage per round):
    *  - large-star: every node attaches its strictly-LARGER neighbors
    *    to the minimum of its neighborhood (incl. itself) — long
    *    tails fold toward minima without growing any star's depth;
    *  - small-star: every node attaches its smaller-or-equal
    *    neighbors (and itself) to that minimum — stars flatten.
    * Fixpoint (edge set unchanged) means every surviving edge points
    * directly at its component's min id. Same return contract as
    * [[connectedComponents]]: (id, comp), loud throw on non-
    * convergence within maxIter.
    */
  def connectedComponentsStar(
      pairs: DataFrame,
      src: Column,
      dst: Column,
      maxIter: Int = 35): DataFrame = {
    val raw = pairs.select(src.as("a"), dst.as("b"))
    raw.schema.fields.foreach(f => requireIntegralId(f.dataType,
      "connectedComponentsStar",
      "assign long surrogates (e.g. monotonically_increasing_id or a hash-free dense rank) before clustering"))
    // canonical directed edges: u (larger) -> v (smaller); self-loops out
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // eager = false: the edgeSig agg right below materializes the
    // checkpoint in its own job (see the minlabel twin for the rule)
    var edges = canon(raw.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))).localCheckpoint(false)
    // (count, xor-of-row-hash) edge-set signature: one partial-agg
    // scan instead of the old count()+exceptAll() pair per round. The
    // edge list is distinct by canon(), so differing signatures PROVE
    // differing sets (exact — xor over equal-size distinct sets can
    // only collide like a hash collides); equal signatures are still
    // confirmed by the full multiset difference, paid ONCE at the
    // true fixpoint round instead of every round (r17, guide §2.4).
    def edgeSig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var eSig = edgeSig(edges)
    var converged = eSig._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the SYMMETRIC neighborhood: strictly-larger
      // neighbors re-attach to the neighborhood min
      val nbrs = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mAll = nbrs.groupBy("u")
        .agg(min(least(col("v"), col("u"))).as("m"))
      val afterLarge = canon(nbrs.filter(col("v") > col("u"))
        .join(mAll, "u")
        .select(col("v").as("a"), col("m").as("b")))
      // small-star CONSUMES large-star's output (the alternation is
      // sequential, not a union): smaller-or-equal neighbors and the
      // node itself re-attach to the min
      val mSmall = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val withM = afterLarge.join(mSmall, "u")
      val next = canon(
        withM.select(col("v").as("a"), col("m").as("b"))
          .unionByName(withM.select(col("u").as("a"), col("m").as("b"))))
        .localCheckpoint(false) // materialized by edgeSig below — one job per round
      // fixpoint test: signature mismatch proves non-convergence with
      // one agg scan; the exceptAll confirmation runs only on a match
      val nSig = edgeSig(next)
      converged = nSig == eSig && next.exceptAll(edges).isEmpty
      edges = next
      eSig = nSig
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")
    edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Cluster-level dedup decision from a pair list: every node of each
    * connected component except the min-id representative, i.e. the
    * rows to DROP. Composes with any pair generator above.
    *
    * Routes through [[connectedComponentsStar]] (O(log n) rounds
    * regardless of component diameter), not the min-label variant:
    * the 100× probe manufactured CHAIN components (each replica of a
    * vector within cosine threshold of its neighbors but not of
    * distant replicas — the crawl-snapshot-drift shape) with
    * diameter ~50, where min-label propagation needs one sequential
    * round per diameter step and blows past its round cap. Both
    * algorithms return identical (id, comp-min) labels (the D16/D16c
    * shared-oracle proof), so callers and replay oracles see no
    * difference — only the round count changes.
    */
  def clusterDuplicates(pairs: DataFrame, src: Column, dst: Column): DataFrame =
    connectedComponentsStar(pairs, src, dst)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("drop_id"), col("comp").as("keep_id"))

  /** Cluster-winner dedup with an explicit QUALITY policy: from a
    * near-dup pair list and a per-doc score, drop every member of each
    * connected component except its best-scoring doc (ties → smallest
    * id). [[clusterDuplicates]] keeps the min-id member — fine for
    * exact dups, but for NEAR-dups the members differ (truncations,
    * boilerplate-injected copies), and production curation keeps the
    * best rendition (longest, highest quality score, newest crawl),
    * not an arbitrary one.
    *
    * Returns (drop_id, keep_id). Unpaired docs never appear (nothing
    * to drop). Shape at scale: label propagation is [[connectedComponents]]'
    * O(diameter) keyed joins; the score join and the ranking window
    * both touch ONLY cluster members (a tiny fraction of the corpus),
    * and the window partitions by component — never global.
    */
  def keepBestPerCluster(
      pairs: DataFrame,
      src: Column,
      dst: Column,
      scores: DataFrame,
      scoreId: Column,
      score: Column): DataFrame = {
    val labels = connectedComponents(pairs, src, dst)
    val qRaw = scores.select(scoreId.as("id"), score.as("__score"))
    requireIntegralId(qRaw.schema("id").dataType,
      "keepBestPerCluster", "score ids must match the cluster id space")
    val q = qRaw.select(col("id").cast("long").as("id"), col("__score"))
    // left join: a member with no score row must still be DECIDED
    // (dropping it from the result would silently keep a duplicate);
    // desc ordering ranks nulls last, so it can only win a cluster
    // where no member is scored
    val member = labels.join(q, Seq("id"), "left")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      .orderBy(col("__score").desc, col("id").asc)
    member
      .withColumn("keep_id", first(col("id")).over(w))
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("drop_id"), col("keep_id"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs — the short-string
    * family (titles, names, product labels) where token shingles are
    * too coarse: pairs whose edit distance is ≤ `maxDist`, restricted
    * to a caller-supplied blocking key so the pair join is block-local
    * (same contract as [[embeddingCosine]]'s `block`). `levenshtein`
    * is a codegen'd built-in with identical unit-cost semantics across
    * engines.
    *
    * Blocking guidance: a single edit preserves the string's prefix OR
    * suffix outside the edited zone, so running two passes (prefix
    * block ∪ suffix block, distinct pairs) guarantees recall for
    * single-edit pairs longer than twice the block length; heavily
    * shared prefixes (ids, "Customer#…") should block on the SUFFIX.
    * Work is O(Σ block²) — block on enough characters to keep blocks
    * small, exactly like LSH bucket sizing. That contract is ENFORCED
    * (r14 scale probe: a saturated block space went ≥130× superlinear
    * at 100×): an un-prunable per-block assert fails the job loudly —
    * with the block and its pair count — when any block's n(n−1)/2
    * exceeds `maxBlockPairs` (the theilSen senMaxN idiom). Raising it
    * is a deliberate act, not an accident of data growth.
    */
  def editDistancePairs(
      df: DataFrame,
      id: Column,
      text: Column,
      block: Column,
      maxDist: Int = 2,
      maxBlockPairs: Long = 10000000L,
      maxTotalPairs: Long = 100000000L): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(maxBlockPairs >= 1, "maxBlockPairs must be >= 1")
    require(maxTotalPairs >= maxBlockPairs,
      "maxTotalPairs must be >= maxBlockPairs")
    val d = df.select(id.as("id"), text.as("__t"), block.as("__blk"))
    // The saturation guard lives on a SEPARATE 1-row branch cross-
    // joined onto the result, NOT as per-row asserts inside the join
    // inputs: entangling the guard lineage with the self-join either
    // recomputes it per side or (localCheckpoint-seamed) breaks
    // whole-stage codegen for the levenshtein kernel — measured 7.6x
    // / 12x on the 10x replica. The 1-row broadcast keeps the hot
    // path byte-identical to the unguarded plan; dropping the guard
    // column after the join cannot prune the join itself (Catalyst
    // has no inner-join elimination), so the asserts always run.
    // TOTAL pair mass too, not just the hottest block: the r14 probe
    // kill was the block SPACE saturating — per-block counts grow
    // linearly with data, so Σ n(n−1)/2 grows quadratically even when
    // no single block is hot.
    val mass = d.groupBy("__blk").agg(count(lit(1)).as("__bn"))
      .select(col("__blk"), (col("__bn") * (col("__bn") - 1) / 2).as("__bp"))
    val guard = mass.agg(
        max_by(col("__blk").cast("string"), col("__bp")).as("__wblk"),
        max(col("__bp")).as("__mbp"),
        sum(col("__bp")).as("__tp"))
      .filter(assert_true(
        col("__mbp").isNull || col("__mbp") <= maxBlockPairs,
        concat(lit("edit-distance blocking SATURATED: block '"),
          col("__wblk"), lit("' holds "), col("__mbp").cast("string"),
          lit(s" candidate pairs > maxBlockPairs=$maxBlockPairs — the " +
            "block self-join is quadratic there. Block on more " +
            "characters (or the suffix) or raise maxBlockPairs " +
            "deliberately."))).isNull)
      .filter(assert_true(
        col("__tp").isNull || col("__tp") <= maxTotalPairs,
        concat(lit("edit-distance block space SATURATED: "),
          col("__tp").cast("string"),
          lit(s" total candidate pairs > maxTotalPairs=$maxTotalPairs " +
            "— per-block mass grows quadratically with data under a " +
            "fixed blocking key. Block on more characters or raise " +
            "maxTotalPairs deliberately."))).isNull)
      .select(lit(1).as("__guard_ok"))
    val a = d.select(col("id").as("id_a"), col("__t").as("__ta"), col("__blk"))
    val b = d.select(col("id").as("id_b"), col("__t").as("__tb"), col("__blk"))
    // Enumeration note (r17): a FastSS deletion-neighborhood candidate
    // join (signature = all <=maxDist-deletion variants, provably a
    // superset of ed<=maxDist pairs) was implemented and MEASURED here
    // — 10x replica 6.6 s -> 117 s, sf0.1 0.7 -> 10.4 s. Low-entropy
    // keys (zero-padded digit runs — exactly this operator's
    // short-string id/name domain) collide across strings so heavily
    // that the variant join's candidate mass exceeds the quadratic
    // block mass it was meant to avoid. The quadratic block join plus
    // banded kernel stays; the blocking contract plus the saturation
    // guards remain the documented scale policy.
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      // edit distance >= length difference: discard hopeless pairs
      // BEFORE paying the levenshtein kernel
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      // threshold-banded kernel (3-arg levenshtein): O(len·maxDist)
      // instead of the full O(len²) DP matrix, -1 past the bound —
      // `dist <= maxDist` ≡ `dist3(maxDist) >= 0` with identical
      // distances for every surviving pair
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0)
      .crossJoin(broadcast(guard))
      .select(col("id_a"), col("id_b"), col("dist"))
    // no distinct: each row carries exactly one block value, so a pair
    // can only form once per call (the two-pass prefix∪suffix recipe
    // dedups after ITS union, caller-side)
  }

  /** Line-level boilerplate removal (RefinedWeb/CCNet-style): drop
    * every line whose NORMALIZED content appears in more than
    * `maxDocFrac` of all documents — cookie banners, nav menus,
    * copyright footers — while keeping genuinely shared prose (low
    * document frequency) intact. Works on an exploded (id, lineNo,
    * line) frame so the caller chooses the segmentation (physical
    * lines, sentences, token windows).
    *
    * Shape at scale: line doc-frequency is one partial-aggregated
    * groupBy on the md5 fingerprint (distinct per doc first, so a
    * page repeating its own footer 50× counts once); the corpus doc
    * count is a broadcast scalar; the boilerplate set — lines above
    * the frequency cut — is tiny by construction (≤ segments/doc ÷
    * maxDocFrac distinct lines can exceed the cut), so the final
    * anti-join broadcasts. No window, no self-join, no driver data.
    *
    * The fingerprinted lines frame feeds THREE consumers (doc count,
    * doc frequency, the anti-join probe); it is persisted
    * (memory-and-disk) so the segmentation + md5 run once per row,
    * not three times — the same re-derivation trap ngramJaccard's
    * shingle exchange avoids. The cached copy lives until the session
    * evicts it (Spark offers no safe point to unpersist inside the
    * operator — the result's lineage still reads it); long-lived
    * services should `spark.catalog.clearCache()` between jobs or
    * pass a pre-materialized lines table, which makes the persist a
    * no-op-sized overlay.
    */
  def dropBoilerplateLines(
      lines: DataFrame,
      id: Column,
      lineNo: Column,
      line: Column,
      maxDocFrac: Double = 0.3): DataFrame = {
    require(maxDocFrac > 0 && maxDocFrac <= 1, "maxDocFrac must be in (0, 1]")
    val l = lines.select(id.as("id"), lineNo.as("line_no"), line.as("line"))
      .withColumn("__fp", normFingerprint(col("line")))
      .persist()
    val nDocs = l.agg(countDistinct(col("id")).as("n_docs"))
    val docFreq = l.select(col("__fp"), col("id")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("df"))
    val boilerplate = docFreq.crossJoin(broadcast(nDocs))
      .filter(col("df") > col("n_docs") * maxDocFrac)
      .select(col("__fp"))
    l.join(broadcast(boilerplate), Seq("__fp"), "left_anti")
      .select(col("id"), col("line_no"), col("line"))
  }

  /** Per-document TEMPLATE SCORE — the measurement face of
    * [[dropBoilerplateLines]]: instead of excising the boilerplate,
    * report how much of each document IS boilerplate
    * (n_lines, n_boiler, boiler_ratio). A doc that is mostly nav
    * chrome / cookie banners / footer templates is a candidate for
    * dropping WHOLE (a template page), where a doc with one shared
    * footer just wants the line cut — the ratio is what separates the
    * two policies. Same machinery end to end: distinct-per-doc line
    * doc-frequency on the normalized fingerprint, the tiny
    * above-cut set broadcast back, one per-doc partial aggregation.
    */
  def boilerplateScore(
      lines: DataFrame,
      id: Column,
      line: Column,
      maxDocFrac: Double = 0.3): DataFrame = {
    require(maxDocFrac > 0 && maxDocFrac <= 1, "maxDocFrac must be in (0, 1]")
    val l = lines.select(id.as("id"), line.as("line"))
      .withColumn("__fp", normFingerprint(col("line")))
      .persist()
    val nDocs = l.agg(countDistinct(col("id")).as("n_docs"))
    val docFreq = l.select(col("__fp"), col("id")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("df"))
    val boilerplate = docFreq.crossJoin(broadcast(nDocs))
      .filter(col("df") > col("n_docs") * maxDocFrac)
      .select(col("__fp"), lit(1L).as("__b"))
    l.join(broadcast(boilerplate), Seq("__fp"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_lines"),
        coalesce(sum(col("__b")), lit(0L)).as("n_boiler"))
      .select(col("id"), col("n_lines"), col("n_boiler"),
        (floor(col("n_boiler").cast("double") / col("n_lines") * 1e6) / 1e6)
          .as("boiler_ratio"))
  }

  /** SUBSTRING-level exact dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22): document-level dedup
    * misses the boilerplate tail / license block / templated intro
    * that repeats across otherwise-distinct pages. This operator finds
    * every token `k`-gram that occurs more than once ANYWHERE in the
    * corpus (across documents or repeated inside one), keeps its FIRST
    * occurrence — the minimal (id, start), so one canonical copy of
    * every repeated passage survives — and strips the token positions
    * covered by every OTHER occurrence. A repeated run longer than k
    * is covered by overlapping loser k-grams, so the whole run
    * disappears from the later copies, exactly as in the
    * suffix-array formulation (this is its join-friendly restatement:
    * a duplicated suffix-array interval of length ≥ k is witnessed by
    * its duplicated k-gram prefixes).
    *
    * Shape at scale: one tokenize pass (localCheckpoint'd for its two
    * consumers), one shingle-partitioned window (count + first-
    * occurrence rank — never global; partition size = occurrences of
    * one shingle), position expansion (×k) paid ONLY on loser spans —
    * a small corpus fraction by construction — then an anti-join and
    * one per-doc rebuild aggregate. The window keys on the raw shingle
    * STRING so an oracle can replay winner selection exactly; at
    * production scale key on `xxhash64(shingle)` instead (8-byte
    * shuffle rows; the collision-merge risk is the standard
    * fingerprinting trade made by [[ngramJaccard]]).
    *
    * Returns every input doc: (id, n_tokens, n_dup_tokens, dup_ratio,
    * cleaned_text) — docs with no duplicated span carry their text
    * rebuilt verbatim (single-space normalized, as tokenized), fully-
    * duplicated docs come back empty, token-less docs report 0/0.0/"".
    */
  def dedupSpans(df: DataFrame, id: Column, text: Column, k: Int = 10): DataFrame = {
    require(k >= 2, "k must be >= 2: unigram spans would strip every repeated word")
    val tk = graft.operators.scaleOut(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), tokens(col("__text")).as("tk"))
      .localCheckpoint()
    val spans = tk.filter(size(col("tk")) >= k)
      .select(col("id"), posexplode(shingles(col("tk"), k)).as(Seq("start", "shingle")))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    val wOrd = wAll.orderBy(col("id").asc, col("start").asc)
    val losers = spans
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("cnt") >= 2 && col("rn") >= 2)
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    val tkpos = tk.select(col("id"), posexplode(col("tk")).as(Seq("pos", "term")))
    val rebuilt = tkpos.join(losers, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("term")))),
            s => s.getField("term")), " ").as("cleaned"))
    tk.select(col("id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dup_tokens"),
        when(col("n_tokens") === 0, lit(0d))
          .otherwise(round(
            (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("double") /
              col("n_tokens"), 4))
          .as("dup_ratio"),
        coalesce(col("cleaned"), lit("")).as("cleaned_text"))
  }

  /** Benchmark decontamination: per-document fraction of its distinct
    * word n-grams that occur ANYWHERE in the probe corpus (eval/test
    * sets) — the GPT-3-style overlap check that keeps benchmark text
    * out of training data.
    *
    * Shape at scale: both sides reduce to 8-byte hashed shingles; the
    * probe side collapses to a DISTINCT shingle set (size of the
    * benchmark suite — small relative to the corpus, often
    * broadcastable); the hit count is a semi-join + partial-aggregated
    * count. Bipartite, so no self-join blowup; work is O(corpus
    * shingles + probe shingles). Returns one row per document with ≥ 1
    * shingle: (id, n_shingles, n_contaminated, contamination in [0,1]).
    */
  def contamination(
      docs: DataFrame,
      id: Column,
      text: Column,
      probes: DataFrame,
      probeText: Column,
      n: Int = 5): DataFrame = {
    val docSh = scaleOut(docs.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        explode(array_distinct(shingles(tokens(col("__text")), n))).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sh"))
    val probeSh = scaleOut(probes.select(probeText.as("__text")))
      .select(explode(array_distinct(shingles(tokens(col("__text")), n))).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
    val tot = docSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val hit = docSh.join(probeSh, Seq("sh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    tot.join(hit, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") / col("n_shingles"), 4)
          .as("contamination"))
  }

  /** Positions of doc n-grams that occur in the probe corpus: one row
    * per (id, start) whose k-gram [start, start+n) matched. Shared
    * candidate stage of [[contaminationSpans]] / [[maskContamination]]:
    * positioned shingles (NOT distinct — every occurrence matters for
    * span geometry), 8-byte hashes, probe collapses to a distinct
    * shingle set (benchmark-suite-sized, broadcastable), one semi-join.
    */
  private def contaminationHits(
      docs: DataFrame,
      id: Column,
      text: Column,
      probes: DataFrame,
      probeText: Column,
      n: Int): (DataFrame, DataFrame) = {
    val tk = scaleOut(docs.select(id.as("id"), text.as("__text")))
      .select(col("id"), tokens(col("__text")).as("tk"))
      .localCheckpoint()
    val docSh = tk.filter(size(col("tk")) >= n)
      .select(col("id"), posexplode(shingles(col("tk"), n)).as(Seq("start", "s")))
      .select(col("id"), col("start"), xxhash64(col("s")).as("sh"))
    val probeSh = scaleOut(probes.select(probeText.as("__text")))
      .select(explode(array_distinct(shingles(tokens(col("__text")), n))).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
    (tk, docSh.join(probeSh, Seq("sh"), "left_semi").select(col("id"), col("start")))
  }

  /** SPAN-level benchmark decontamination (mask, don't drop): the
    * surgical counterpart to [[contamination]]'s doc-level score — for
    * each document, the merged token intervals covered by n-grams that
    * occur anywhere in the probe (eval/test) corpus, so a pipeline can
    * excise exactly the leaked benchmark text and keep the rest of the
    * document. Dropping whole docs at a contamination threshold throws
    * away good tokens (a 10k-token page with one embedded eval question
    * loses 10k tokens); reporting spans keeps the cut loss-proportional.
    *
    * Adjacent/overlapping hit n-grams merge into one span (standard
    * gaps-and-islands on the ordered starts — fixed n-gram length means
    * ordered starts have ordered ends, so `start > lag(start) + n`
    * detects every gap). One row per (id, span): [span_start, span_end)
    * token interval, its width, and how many hit n-grams support it.
    *
    * Shape at scale: bipartite like [[contamination]] (no self-join);
    * the only window is keyed by doc id over HIT positions (bounded by
    * doc length, usually far smaller); work is O(corpus shingles +
    * probe shingles + hits).
    */
  def contaminationSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      probes: DataFrame,
      probeText: Column,
      n: Int = 5): DataFrame = {
    require(n >= 2, "n must be >= 2: unigram spans would flag every shared word")
    val (_, hits) = contaminationHits(docs, id, text, probes, probeText, n)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("start"))
    val isl = hits
      .withColumn("__prev", lag(col("start"), 1).over(w))
      .withColumn("__ni",
        when(col("__prev").isNull || col("start") > col("__prev") + n, 1L)
          .otherwise(0L))
      .withColumn("__isl",
        sum(col("__ni")).over(w.rowsBetween(Long.MinValue, 0)))
    isl.groupBy(col("id"), col("__isl"))
      .agg(
        min(col("start")).as("__lo"),
        max(col("start")).as("__hi"),
        count(lit(1)).as("n_gram_hits"))
      .select(col("id"),
        col("__lo").cast("long").as("span_start"),
        (col("__hi") + n).cast("long").as("span_end"),
        (col("__hi") + n - col("__lo")).cast("long").as("span_tokens"),
        col("n_gram_hits"))
  }

  /** Masked rebuild over [[contaminationSpans]]' verdict: every token
    * position covered by a probe-matching n-gram is excised and the
    * document re-assembled from the survivors — [[dedupSpans]]' rebuild
    * shape pointed at benchmark overlap instead of duplication. Returns
    * every input doc (zero-hit docs pass through unchanged) with
    * (n_tokens, n_masked, masked_ratio, cleaned_text).
    *
    * The ×n position expansion is paid only on HIT n-grams; the rebuild
    * aggregate is per-doc (collect_list bounded by doc length — the
    * same bound the tokenizer already imposes).
    */
  def maskContamination(
      docs: DataFrame,
      id: Column,
      text: Column,
      probes: DataFrame,
      probeText: Column,
      n: Int = 5): DataFrame = {
    require(n >= 2, "n must be >= 2: unigram spans would strip every shared word")
    val (tk, hits) = contaminationHits(docs, id, text, probes, probeText, n)
    val lose = hits
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
    val tkpos = tk.select(col("id"), posexplode(col("tk")).as(Seq("pos", "term")))
    val rebuilt = tkpos.join(lose, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        count(lit(1)).as("__n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("term")))),
            s => s.getField("term")), " ").as("__cleaned"))
    tk.select(col("id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_masked"),
        when(col("n_tokens") === 0, lit(0d))
          .otherwise(round(
            (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).cast("double") /
              col("n_tokens"), 4))
          .as("masked_ratio"),
        coalesce(col("__cleaned"), lit("")).as("cleaned_text"))
  }

  /** Sketch-tier AUDIT: precision/recall/F1 of a candidate near-dup
    * pair list against an exact ground truth — the completeness critic
    * behind every recall-tier choice (run [[minHashLSH]] on an audit
    * sample, score it against [[prefixFilterJaccard]]'s exact-recall
    * list, and you know what the sketch is missing before committing
    * the corpus to it).
    *
    * Pairs normalize to unordered (min, max) and dedup first, so
    * orientation and repeats can't skew counts. One row out:
    * (n_found, n_truth, n_hit, precision, recall, f1) — ratios 4-dp
    * truncated, empty sides degrade to 0 instead of dividing by zero.
    */
  def auditPairs(found: DataFrame, truth: DataFrame): DataFrame = {
    def norm(df: DataFrame) = df.select(
      least(col("id_a"), col("id_b")).as("a"),
      greatest(col("id_a"), col("id_b")).as("b")).distinct()
    def t4(c: Column): Column = floor(c * 1e4) / 1e4
    // one declarative plan (no driver-side counting): found left-joins
    // truth to count hits, truth's size rides in on a 1-row cross join.
    // merge hint: BOTH sides are pair lists that grow with the corpus
    // — fact-fact by construction, so a broadcast is never right here
    // even when the size estimate clears the threshold (measured: at a
    // 30× replica AQE picked broadcast from a fits-the-threshold
    // runtime estimate and the driver-side build OOM'd the query)
    val fh = norm(found)
      .join(norm(truth).withColumn("__t", lit(1)).hint("merge"),
        Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_found"),
        coalesce(sum(col("__t")), lit(0L)).as("n_hit"))
    val th = norm(truth).agg(count(lit(1)).as("n_truth"))
    val p = when(col("n_found") > 0,
      t4(col("n_hit").cast("double") / col("n_found"))).otherwise(0.0)
    val r = when(col("n_truth") > 0,
      t4(col("n_hit").cast("double") / col("n_truth"))).otherwise(0.0)
    fh.crossJoin(th)
      .withColumn("precision", p)
      .withColumn("recall", r)
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        t4(lit(2) * col("precision") * col("recall") /
          (col("precision") + col("recall")))).otherwise(0.0))
      .select("n_found", "n_truth", "n_hit", "precision", "recall", "f1")
  }

  /** EMBEDDING-level benchmark decontamination — the semantic tier
    * above [[contamination]]: flag training docs whose embedding sits
    * within `threshold` cosine of ANY probe (benchmark) embedding.
    * Catches paraphrased/reworded benchmark leakage that n-gram
    * overlap is structurally blind to; run both, union the flags.
    *
    * Bipartite seeded-hyperplane LSH (the [[embeddingCosineLSH]]
    * blocking, two-sided): both sides bucket on the SAME planes
    * compiled into the plan, the join is bucket-local (probes are
    * benchmark-suite-sized → broadcastable), and only in-bucket
    * candidates pay the exact codegen'd cosine.
    *
    * The PROBE side multi-probes: each probe fans out to its home
    * bucket plus every Hamming-1 neighbor (one sign bit flipped — the
    * [[Similarity.lshTopKMultiProbe]] pattern), because a single-bucket
    * match requires all nPlanes sign bits to agree, which at nPlanes=8
    * and θ≈cos⁻¹(0.99) still misses ~30% of true near-matches — an
    * unacceptable silent false-negative rate for a decontamination
    * gate. Fanning out only the broadcast probe side costs zero corpus
    * shuffle. Residual caveat: a contaminated pair whose buckets differ
    * in ≥2 sign bits is still missed (probability (θ/π)² per plane
    * pair, ≈0.4% at the numbers above); for a NO-false-negative
    * guarantee use [[contaminationBloom]]'s n-gram tier alongside —
    * the documented "run both, union the flags" contract.
    *
    * Returns one row per FLAGGED corpus doc: (id, n_probe_hits,
    * max_cos). A (doc, probe) pair can match through at most one
    * probe bucket (home and flipped buckets are pairwise distinct), so
    * multi-probing never double-counts a hit.
    */
  def contaminationEmbedding(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      probes: DataFrame,
      probeVec: Column,
      threshold: Double,
      dim: Int = 64,
      nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val cb = corpus.select(id.as("id"), vec.as("v"),
      Similarity.hyperplaneBucket(vec, dim, nPlanes, seed).as("__bkt"))
    val base = Similarity.hyperplaneBucket(probeVec, dim, nPlanes, seed)
    val probeBuckets = array((base +: (0 until nPlanes).map(i =>
      base.bitwiseXOR(lit(1L << i)))): _*)
    val pb = probes.select(probeVec.as("pv"),
      explode(probeBuckets).as("__bkt"))
    cb.join(broadcast(pb), "__bkt")
      .withColumn("cos_sim", round(cosine(col("v"), col("pv")), 4))
      .filter(col("cos_sim") >= threshold)
      .groupBy("id")
      .agg(count(lit(1)).as("n_probe_hits"), max(col("cos_sim")).as("max_cos"))
  }

  /** `contamination` with a Bloom pre-filter on the corpus side —
    * identical output (Bloom filters have no false negatives and an
    * exact semi-join confirm removes the false positives), different
    * scale shape: the probe's distinct shingle set is compressed into
    * a bits-only sketch (~1.2 MB per 1M shingles at 1% fpp) that
    * travels to every task, so the 100 TB corpus side discards
    * non-candidate shingles BEFORE the exchange instead of shuffling
    * all of them into the semi-join. Only true hits + the fpp share of
    * misses reach the confirm-join.
    *
    * The probe shingle set is localCheckpoint'd: it feeds two jobs
    * (sketch build + confirm join) and is benchmark-suite-sized by
    * assumption — the reason a bloom pre-filter wins in the first
    * place.
    */
  /** Probe-side Bloom sketch alone — the distilled, shippable artifact
    * of [[contaminationBloom]]'s pre-filter: build once from the
    * benchmark suite, then gate arriving shards ANYWHERE (the
    * streaming tier [[graft.streaming.EventStreams.decontaminateStream]],
    * or a plain filter in front of a batch confirm-join) without
    * re-reading the probes. Driver metadata by the same contract as
    * IVF centroids: kilobytes-to-MB for benchmark-suite-sized sets.
    */
  def probeBloom(
      probes: DataFrame,
      probeText: Column,
      n: Int = 5,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val probeSh = scaleOut(probes.select(probeText.as("__text")))
      .select(explode(array_distinct(shingles(tokens(col("__text")), n))).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
    val nProbe = math.max(probeSh.count(), 1000L)
    probeSh.stat.bloomFilter("sh", nProbe, fpp)
  }

  def contaminationBloom(
      docs: DataFrame,
      id: Column,
      text: Column,
      probes: DataFrame,
      probeText: Column,
      n: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    val docSh = scaleOut(docs.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        explode(array_distinct(shingles(tokens(col("__text")), n))).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sh"))
    val probeSh = scaleOut(probes.select(probeText.as("__text")))
      .select(explode(array_distinct(shingles(tokens(col("__text")), n))).as("s"))
      .select(xxhash64(col("s")).as("sh"))
      .distinct()
      .localCheckpoint()
    val nProbe = math.max(probeSh.count(), 1000L)
    val bloom = probeSh.stat.bloomFilter("sh", nProbe, fpp)
    val tot = docSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val hit = docSh.filter(BloomMightContain.mightContain(col("sh"), bloom))
      .join(probeSh, Seq("sh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    tot.join(hit, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") / col("n_shingles"), 4)
          .as("contamination"))
  }

  /** Blocked sorted-neighborhood candidate pairs — the classic
    * entity-resolution blocking method (Hernández & Stolfo's
    * merge/purge): rows are sorted by `sortKey` within each `block`,
    * and each row pairs with its `window` predecessors in that order.
    * Near-identical records cluster under a well-chosen key (e.g. a
    * normalized prefix), so candidate count is ≤ window·n — linear,
    * never quadratic — regardless of how many records share a key.
    *
    * Shape at scale: ONE keyed shuffle (the block) + sort; the running
    * frame holds at most `window` (id, key) structs per row — O(w)
    * state, no self-join, no inverted index. `block` must be non-empty
    * partitioning (a constant block would be a global sort through one
    * task — the single-partition-window landmine PlanSpec hunts); the
    * standard multi-pass recipe (union pairs from 2-3 different
    * sortKey/block choices) recovers pairs a single key order splits.
    * Returns (id_a, key_a, id_b, key_b) with a preceding b in sort
    * order; the caller applies the match predicate (levenshtein,
    * jaccard, …) — candidates are block-bounded so even O(len²)
    * kernels are safe here.
    */
  def sortedNeighborhood(
      df: DataFrame,
      id: Column,
      sortKey: Column,
      block: Column,
      window: Int = 5): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("__blk").orderBy(col("__key"), col("id"))
      .rowsBetween(-window, -1)
    df.select(id.as("id"), sortKey.as("__key"), block.as("__blk"))
      .withColumn("__prev",
        collect_list(struct(col("id").as("id_a"), col("__key").as("key_a"))).over(frame))
      // explode drops rows with no predecessors (each block's first row)
      .select(explode(col("__prev")).as("__p"),
        col("id").as("id_b"), col("__key").as("key_b"))
      .select(col("__p.id_a"), col("__p.key_a"), col("id_b"), col("key_b"))
  }

  /** MinHash-LSH candidates CONFIRMED by exact n-gram Jaccard — the
    * standard two-stage near-dup pipeline: LSH banding for recall
    * (probabilistic, cheap, linear), an exact set-overlap pass for
    * precision (expensive, but paid only on candidates). Banding
    * collisions and signature-estimate noise (est_jaccard is a
    * 64-sample estimate with ±1/8 quantization) are killed here
    * instead of surviving into cluster formation.
    *
    * Shape at scale: candidates are materialized once
    * (`localCheckpoint` — three consumers), only candidate DOCUMENTS
    * are re-shingled (semi-join first: at web scale candidates are a
    * vanishing fraction of the corpus), and the exact Jaccard is
    * array_intersect/array_union over each pair's distinct shingle
    * sets — work bounded by candidate count × document length, never
    * corpus².
    *
    * Returns (id_a, id_b, est_jaccard, jaccard) with jaccard ≥
    * `jaccardThreshold` (4-dp rounded, matching [[ngramJaccard]]).
    */
  def minHashLSHVerified(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      estThreshold: Double = 0.4,
      jaccardThreshold: Double = 0.5,
      maxBucket: Int = 200,
      seed: Long = 42L): DataFrame = {
    val base = df.select(id.as("id"), text.as("__text"))
    val cand = minHashLSH(base, col("id"), col("__text"),
      numHashes, bands, shingleSize, estThreshold, maxBucket, seed)
      .localCheckpoint()
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id")))
      .distinct()
    val sh = scaleOut(base.join(candIds, Seq("id"), "left_semi"))
      .select(col("id"),
        array_distinct(shingles(tokens(col("__text")), shingleSize)).as("__sh"))
    cand
      .join(sh.select(col("id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("__sh").as("__shb")), "id_b")
      // union is never empty: signatures (hence candidates) exist only
      // for docs with >= 1 shingle
      .withColumn("jaccard", round(
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))), 4))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
  }

  /** D131: sorted-neighborhood (SNM) near-dup candidates — the
    * SORT-based blocking family next to the hash-based ones (MinHash
    * bands D2, SimHash chunks D3, embedding buckets D5b): sort on a
    * normalized key, compare each record only against its next
    * `window − 1` neighbors, flag pairs within `maxDist` edits. The
    * classic entity-resolution move when hash blocking is too coarse
    * for SHORT records (titles, addresses) whose near-dups differ by
    * a few characters and so share sort-order neighborhoods.
    *
    * Shape at scale: records partition by a `blockPrefix`-char prefix
    * of the key and sort WITHIN blocks (keyed windows — never a
    * single-partition global sort), then `window − 1` lead() columns
    * make O(n·window) candidate pairs. Pairs straddling a block
    * boundary are forfeited by contract — the standard multi-pass SNM
    * answer (re-run with a different key) applies, and the honest
    * alternative (a global sort) is a deliberate caller choice via
    * blockPrefix = 0 only at sizes where one partition holds the data.
    * Levenshtein runs once per candidate (codegen'd), never all-pairs.
    * Returns (id_a, id_b, dist) with id_a the sort-order predecessor.
    */
  def sortedNeighbors(df: DataFrame, id: Column, sortKey: Column,
      window: Int = 4, maxDist: Int = 5, blockPrefix: Int = 1): DataFrame = {
    require(window >= 2, "window must be >= 2 (w-1 neighbors per record)")
    require(maxDist >= 0, "maxDist must be >= 0")
    require(blockPrefix >= 0, "blockPrefix must be >= 0 (0 = one global block)")
    val t = df.select(id.cast("long").as("id"), sortKey.cast("string").as("sk"))
      .filter(col("id").isNotNull && col("sk").isNotNull)
      .withColumn("__blk",
        if (blockPrefix == 0) lit("") else substring(col("sk"), 1, blockPrefix))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__blk").orderBy(col("sk").asc, col("id").asc)
    val neighborCols = (1 until window).map(i =>
      struct(lead(col("id"), i).over(w).as("id_b"),
        lead(col("sk"), i).over(w).as("sk_b")))
    // two projections: a generator (explode) can't share an operator
    // with window expressions — materialize the lead array first
    t.select(col("id").as("id_a"), col("sk").as("sk_a"),
        array(neighborCols: _*).as("__ns"))
      .select(col("id_a"), col("sk_a"), explode(col("__ns")).as("__p"))
      .filter(col("__p.id_b").isNotNull)
      // threshold-banded kernel: `dist <= maxDist` ≡ `dist3(maxDist)
      // >= 0`, identical distances for surviving pairs
      .select(col("id_a"), col("__p.id_b").as("id_b"),
        levenshtein(col("sk_a"), col("__p.sk_b"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** D145: exact TF-WEIGHTED Jaccard over candidate pairs — the
    * precision tier for repetition-heavy corpora where SET Jaccard
    * lies: two docs sharing a vocabulary but repeating it very
    * differently (a template stamped 40× vs once) read ~1.0 on set
    * overlap and honestly low here. wJ(a,b) = Σ_t min(tf_a, tf_b) /
    * Σ_t max(tf_a, tf_b) over the token MULTISETS — the weighted-
    * Jaccard quantity consistent-weighted-sampling sketches estimate
    * (Ioffe ICDM'10), computed exactly on the bounded candidate set
    * instead of sketched over all pairs.
    *
    * Shape at scale: candidates come from any recall tier (SNM, LSH
    * banding, containment prefixes) so the verify cost is
    * O(|candidates| × doc length), never all-pairs; the per-pair
    * min/max sums are ONE partial-aggregated groupBy over the two
    * TF-joined sides (a full outer join on (pair, token) — each side
    * hash-partitioned on the pair id, no window, no driver data).
    * All counts are exact longs; the single division truncates 4-dp.
    *
    * Returns one row per DISTINCT candidate pair (the input frame is
    * deduped — recall tiers may emit a pair once per band):
    * (id_a, id_b, n_inter_tf, n_union_tf, weighted_jaccard, is_dup).
    */
  def weightedJaccardVerify(
      docs: DataFrame,
      id: Column,
      text: Column,
      candidates: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val tf = scaleOut(docs.select(id.as("__id"), text.as("__text")))
      .select(col("__id"), explode(graft.functions.tokens(col("__text"))).as("tok"))
      .groupBy("__id", "tok").agg(count(lit(1)).as("tf"))
    // distinct FIRST: the contract is "any recall tier's candidate
    // frame", and recall tiers can emit a pair k times (multi-band
    // LSH). Without it the pair joins the TF table k times per side,
    // the full-outer join fans out k² rows per token — n_inter_tf /
    // n_union_tf inflate k²-fold (the ratio survives but the
    // published counts lie) and the anchored output emits k duplicate
    // verdict rows per pair (r14 advice).
    val cand = candidates.select(col("id_a"), col("id_b")).distinct()
    val a = cand.join(tf, col("id_a") === col("__id"))
      .select(col("id_a"), col("id_b"), col("tok"), col("tf").as("tfa"))
    val b = cand.join(tf, col("id_b") === col("__id"))
      .select(col("id_a"), col("id_b"), col("tok"), col("tf").as("tfb"))
    val sums = a.join(b, Seq("id_a", "id_b", "tok"), "full_outer")
      .groupBy("id_a", "id_b")
      .agg(
        sum(least(coalesce(col("tfa"), lit(0L)), coalesce(col("tfb"), lit(0L))))
          .as("n_inter_tf"),
        sum(greatest(coalesce(col("tfa"), lit(0L)), coalesce(col("tfb"), lit(0L))))
          .as("n_union_tf"))
    // anchor on the CANDIDATES: a pair whose docs both tokenize empty
    // has no TF rows and would silently vanish from the verdict —
    // report (0, 0, 0.0, false) instead (the quarantine contract:
    // flag, never vanish)
    cand.join(sums, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("n_inter_tf"), lit(0L)).as("n_inter_tf"),
        coalesce(col("n_union_tf"), lit(0L)).as("n_union_tf"))
      .withColumn("weighted_jaccard",
        coalesce(
          floor(try_divide(col("n_inter_tf").cast("double"),
            col("n_union_tf").cast("double")) * 1e4) / 1e4, lit(0.0)))
      .withColumn("is_dup", col("weighted_jaccard") >= threshold)
  }

  /** D147: duplication-aware loss weights — keep EVERY rendition but
    * down-weight each duplicate-cluster member by 1/|cluster|, so a
    * document stamped 40 times across the crawl contributes one
    * document's worth of gradient instead of 40 (the soft alternative
    * to [[clusterDuplicates]]' hard drop; Muennighoff et al.
    * NeurIPS'23 measure the repeat-epoch decay this weight
    * compensates). Pairs come from any near-dup tier; docs outside
    * every pair weight 1.0.
    *
    * Shape at scale: [[connectedComponents]] over the (bounded)
    * pair frame, one component-size aggregation, one left join back
    * to the corpus id frame — the cluster machinery is shared with
    * D16, the weight step adds a broadcast-sized size table (clusters
    * are few by construction or the corpus was ALL duplicates).
    *
    * Returns one row per doc: (doc_id, cluster_size, weight) —
    * weight = 1/cluster_size truncated 6-dp.
    */
  def duplicationWeights(
      docs: DataFrame,
      id: Column,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs, col("id_a"), col("id_b"))
    val sizes = comps.groupBy("comp").agg(count(lit(1)).as("__sz"))
    docs.select(id.as("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(sizes, Seq("comp"), "left")
      .select(col("doc_id"),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"),
        (floor(lit(1.0) / coalesce(col("__sz"), lit(1L)).cast("double") * 1e6)
          / 1e6).as("weight"))
  }

  /** D146: duplicated-n-gram coverage gate (the ONION quantity,
    * Pomikálek '11): per document, the fraction of its n-gram
    * OCCURRENCES whose n-gram appears in ≥ `minDf` documents
    * corpus-wide. [[Dedup]]'s whole-doc and span tiers ask "is this
    * doc a copy of some OTHER doc"; this asks "how much of this doc
    * is made of corpus-common material at all" — the score that
    * catches franken-documents stitched from boilerplate that match
    * nothing pairwise. Distinct from D24 (corpus top-k heavy
    * shingles) and D9b (WITHIN-doc repetition): the unit here is
    * per-doc coverage against corpus document frequency.
    *
    * Shape at scale: one shingle explode (distinct-per-doc for the df
    * count, full multiset for the coverage denominator) partial-aggs
    * to the df table, which joins back shingle-partitioned — the
    * ngramJaccard exchange shape without the pair join; no window
    * over unbounded partitions, no driver data. Coverage truncates
    * 4-dp; docs shorter than n grams report 0 coverage and
    * `too_short`.
    *
    * Returns one row per doc: (doc_id, n_grams, n_dup_grams,
    * dup_coverage, flagged, too_short).
    */
  def duplicatedNgramCoverage(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minDf: Int = 2,
      maxCoverage: Double = 0.8): DataFrame = {
    require(n >= 1 && n <= 16, "n in [1, 16]")
    require(minDf >= 2, "minDf must be >= 2 (df 1 = unique material)")
    val base = scaleOut(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        graft.functions.shingles(graft.functions.tokens(col("__text")), n)
          .as("__sh"))
    val occ = base
      .select(col("doc_id"), explode(col("__sh")).as("sh"))
      .repartition(col("sh"))
    val df2 = occ.select(col("doc_id"), col("sh")).distinct()
      .groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("sh"))
    val perDoc = occ.join(df2, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
    base.select(col("doc_id"), size(col("__sh")).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_coverage",
        coalesce(floor(try_divide(col("n_dup_grams").cast("double"),
          col("n_grams").cast("double")) * 1e4) / 1e4, lit(0.0)))
      .withColumn("flagged", col("dup_coverage") > maxCoverage)
      .withColumn("too_short", col("n_grams") === 0L)
  }

  /** D149: duplicated-n-gram TRIM — the ACTION tier over
    * [[duplicatedNgramCoverage]]'s measurement (ONION, Laurençon et
    * al.): instead of flagging a franken-document, EXCISE the
    * duplicated material — every token position covered by an n-gram
    * occurring in ≥ `minDf` docs is dropped and the document rebuilt
    * from what remains, so boilerplate (nav chrome, license headers,
    * newsletter footers) vanishes while each document's unique prose
    * survives. The n-gram-level sibling of [[dropBoilerplateLines]]
    * (which needs line structure) and the corpus-frequency sibling of
    * [[maskContamination]] (which needs a probe set).
    *
    * Shape at scale: positioned shingles from one pass, the duplicated
    * set by a df-filtered partial-agg on the shingle hash (distinct
    * per doc first — self-repetition is [[textRepetition]]'s job, not
    * df), covered positions by a bounded explode (n per hit), rebuild
    * by the maskContamination position-anti-join — no window over
    * corpus rows, no driver data. The tokens frame feeds three
    * consumers and is localCheckpoint-ed once.
    *
    * Returns one row per doc: (doc_id, n_tokens, n_dropped,
    * drop_ratio, trimmed_text) — drop_ratio 4-dp floored; docs
    * shorter than n tokens pass through untrimmed.
    */
  def duplicatedNgramTrim(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minDf: Int = 2): DataFrame = {
    require(n >= 2 && n <= 16, "n in [2, 16]: unigram trims would strip every shared word")
    require(minDf >= 2, "minDf must be >= 2 (df 1 = unique material)")
    val tk = scaleOut(docs.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"),
        graft.functions.tokens(col("__text")).as("tk"))
      .localCheckpoint()
    val occ = tk.filter(size(col("tk")) >= n)
      .select(col("doc_id"),
        posexplode(graft.functions.shingles(col("tk"), n))
          .as(Seq("start", "sh")))
      .repartition(col("sh"))
    val dup = occ.select(col("doc_id"), col("sh")).distinct()
      .groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("sh"))
    val lose = occ.join(dup, Seq("sh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
    val tkpos = tk.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("pos", "term")))
    val rebuilt = tkpos.join(lose, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("__kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("term")))),
            s => s.getField("term")), " ").as("__trimmed"))
    tk.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_dropped"),
        coalesce(floor(try_divide(
          (col("n_tokens") - coalesce(col("__kept"), lit(0L))).cast("double"),
          col("n_tokens").cast("double")) * 1e4) / 1e4, lit(0.0))
          .as("drop_ratio"),
        coalesce(col("__trimmed"), lit("")).as("trimmed_text"))
  }

  /** D148: cluster-aware k-fold cross-validation assignment —
    * [[splitByCluster]]'s CV sibling: near-duplicate documents must
    * never straddle a fold boundary (a memorized twin in the training
    * folds inflates every held-out metric), so folds are assigned per
    * CLUSTER, not per document: connected components over the
    * caller's near-dup pair frame, then a deterministic hash of the
    * cluster label picks fold ∈ [0, k). Singletons (docs outside
    * every pair) hash their own id — same id ↔ same fold on every
    * run and engine, and fold sizes are balanced in expectation by
    * the hash.
    *
    * Returns one row per input doc: (id, cluster, fold).
    */
  def cvFolds(
      df: DataFrame,
      id: Column,
      pairs: DataFrame,
      idA: Column,
      idB: Column,
      k: Int = 5): DataFrame = {
    require(k >= 2 && k <= 1000, "k in [2, 1000]")
    val comp = connectedComponents(pairs, idA, idB)
    // Same loud integral-id contract as the pairs side (r15 advice):
    // a string doc id would cast to NULL in the singleton fallback
    // below, silently emitting NULL cluster/fold rows while the pairs
    // frame was already loudly rejected by connectedComponents.
    val docsProj = df.select(id.as("id"))
    requireIntegralId(docsProj.schema("id").dataType,
      "cvFolds", "hash or dense-rank string ids to longs first")
    docsProj
      .join(comp.withColumnsRenamed(Map("id" -> "__cid", "comp" -> "cluster")),
        col("id") === col("__cid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id").cast("long")))
      .select(col("id"), col("cluster"),
        graft.operators.Sampling.hashMod(col("cluster"), lit(k.toLong))
          .cast("int").as("fold"))
  }
}
