package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2.D6/D7).
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query
  * side across the corpus — one pass, no shuffle of the corpus, exact
  * cosine via codegen'd zip_with/aggregate. The scale path is
  * `lshTopK`: seeded random-hyperplane signs bucket both sides, the
  * join is bucket-local, and only in-bucket candidates pay the cosine.
  */
object Similarity {

  /** Symmetric per-vector int8 quantization with a distortion audit —
    * the STORAGE tier under the ANN family: a 100 TB float32 embedding
    * store shrinks 4× (`array<tinyint>` + one double scale per
    * vector), and int8 is what vector indexes serve from in practice.
    * scale = max|x| / 127; q_i = trunc-toward-zero(x_i / scale)
    * (truncation, not round-half — repr-independent, the engine's
    * float contract); dequantized x̂_i = q_i · scale. The audit column
    * `cos_distortion` = cosine(x, x̂) (round 4, [[graft.functions.cosine]]'s
    * codegen'd kernel) reports per-vector what the compression cost —
    * the number a recall-budget decision needs BEFORE the index is
    * built, next to [[Dedup]]'s PQ tiers (8 B/vector) as the
    * mild-compression rung. Zero vectors flag `degenerate` (all-zero
    * code, distortion 0 by convention) instead of dividing by zero.
    *
    * Shape: pure per-row projections — no shuffle, no explode; the
    * clamp before the byte cast keeps ANSI mode crash-free against
    * last-ulp division noise.
    */
  def quantizeInt8(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val v = df.select(id.as("vec_id"),
      transform(vec, x => x.cast("double")).as("__v"))
    v.withColumn("__mx", array_max(transform(col("__v"), x => abs(x))))
      .withColumn("scale", col("__mx") / 127.0)
      .withColumn("degenerate", col("__mx") === 0.0)
      .withColumn("qvec",
        when(col("degenerate"),
          transform(col("__v"), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col("__v"), x =>
            least(greatest(x / col("scale"), lit(-127.0)), lit(127.0))
              .cast("tinyint"))))
      .withColumn("cos_distortion",
        when(col("degenerate"), lit(0.0))
          .otherwise(round(cosine(col("__v"),
            transform(col("qvec"), q => q.cast("double") * col("scale"))), 4)))
      .select(col("vec_id"), col("qvec"), col("scale"),
        col("cos_distortion"), col("degenerate"))
  }

  /** Dimensionality of the vector column, read from one row — driver
    * metadata, same class as reading a schema.
    */
  private def dimOf(df: DataFrame, vec: Column): Int = {
    val r = df.select(size(vec).as("d")).filter(col("d") > 0).limit(1).collect()
    require(r.nonEmpty, "no non-empty vectors")
    r(0).getInt(0)
  }

  /** Top principal component of an embedding column by distributed
    * POWER ITERATION — no d×d covariance matrix is ever materialized
    * (at d=4096 that is 16M doubles; at 100 TB of vectors the only
    * viable shape is matvec-by-scan): each round computes
    * w ← normalize(Σ_i c_i (c_i · w)) over CENTERED vectors in ONE
    * scan, as d codegen'd sum(element·dot) aggregate lanes (no
    * explode, no shuffle beyond the 1-row aggregate); w lives on the
    * driver (IVF-centroid contract, d doubles). Start vector is the
    * deterministic uniform direction — RNG-free, so reruns are
    * identical; the degenerate case (data orthogonal to the seed)
    * would need an adversarially centered corpus and is documented
    * rather than randomized away.
    *
    * Returns (component_pos, loading, eigenvalue_share): the unit
    * component and the share of total variance it explains —
    * eigenvalue from the Rayleigh quotient, total variance from the
    * same centered pass. Sign convention: the largest-|loading|
    * coordinate is made positive (eigenvectors are sign-ambiguous;
    * pinning it makes retrains comparable).
    */
  /** Component-wise mean as d avg lanes in one pass — driver metadata. */
  /** Per-row 7-dp floor into INTEGER micro-units — the lane type for
    * every distributed sum in the power-iteration family. Integer
    * sums are order-independent AND engine-portable with no
    * decimal→double cast ambiguity: the sum stays < 2^53 at any
    * realistic corpus (1e7-scaled unit-ish components), so
    * `.toDouble / 1e7` is exact-then-correctly-rounded on both
    * engines. This is what makes q_embed_pc / q_embed_abtt exactly
    * replayable in SQL.
    */
  private def lane7(c: Column): Column =
    floor(c * 1e7).cast("long")

  private def meanOf(v: DataFrame, vCol: String, d: Int): Array[Double] = {
    val row = v.agg(
      sum(lane7(element_at(col(vCol), 1))).as("m0"),
      ((2 to d).map(i => sum(lane7(element_at(col(vCol), i))).as(s"m${i - 1}")) :+
        count(lit(1)).as("__n")): _*)
      .collect()(0)
    val n = row.getLong(d)
    Array.tabulate(d)(i => row.getLong(i).toDouble / 1e7 / n)
  }

  /** Power-iteration core over an ALREADY-CENTERED `__c` frame:
    * returns (sign-pinned unit component, Rayleigh eigenvalue).
    * Factored out so [[removeTopComponents]]' deflation rounds reuse
    * it without re-computing a (zero) mean and materializing another
    * centered replica per round.
    */
  private def powerIterate(
      c: DataFrame, d: Int, rounds: Int): (Array[Double], Double) = {
    // one matvec pass: s = Σ_i c_i (c_i · w), as d codegen'd sum lanes
    // on the integer micro-unit contract (lane7): order-independent
    // and bit-replayable — the dot itself is a row-local left fold,
    // identical on any engine with a left-fold dot
    def matvec(w: Array[Double]): Array[Double] = {
      val wLit = array(w.map(lit): _*)
      val dotW = graft.functions.dot(col("__c"), wLit)
      val sums = c.select(col("__c"), dotW.as("__dw"))
        .agg(
          sum(lane7(element_at(col("__c"), 1) * col("__dw"))).as("s0"),
          (2 to d).map(i =>
            sum(lane7(element_at(col("__c"), i) * col("__dw"))).as(s"s${i - 1}")): _*)
        .collect()(0)
      Array.tabulate(d)(i => sums.getLong(i).toDouble / 1e7)
    }
    var w = Array.fill(d)(1.0 / math.sqrt(d))
    for (_ <- 1 to rounds) {
      val s = matvec(w)
      val norm = math.sqrt(s.map(x => x * x).sum)
      if (norm > 0) w = s.map(_ / norm)
    }
    // Rayleigh eigenvalue of the RETURNED iterate (one extra matvec):
    // computing it from the in-loop s would pair w_old's quotient with
    // the updated w — one iteration stale, visible at low `rounds`
    val eigen = matvec(w).zip(w).map { case (a, b) => a * b }.sum
    // sign pin: largest-|loading| coordinate positive (eigen is
    // sign-invariant, so pinning after is safe)
    val pivot = w.indices.maxBy(i => (math.abs(w(i)), -i))
    (if (w(pivot) < 0) w.map(-_) else w, eigen)
  }

  def principalComponent(
      df: DataFrame, vec: Column, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = df.sparkSession
    val d = dimOf(df, vec)
    val v = df.select(transform(vec, x => x.cast("double")).as("__v"))
      .filter(size(col("__v")) === d)
    val mean = meanOf(v, "__v", d)
    val mLit = array(mean.map(lit): _*)
    val c = v.select(zip_with(col("__v"), mLit, (a, b) => a - b).as("__c"))
      .transform(materialize(_)) // consumed once per round + once for moments
    val (w, eigen) = powerIterate(c, d, rounds)
    val totals = c.agg(
      sum(lane7(graft.functions.dot(col("__c"), col("__c")))).as("ss"),
      count(lit(1)).as("n")).collect()(0)
    val totalVar = totals.getLong(0).toDouble / 1e7
    val share =
      if (totalVar > 0) math.floor(eigen / totalVar * 1e4) / 1e4 else 0.0
    import spark.implicits._
    w.zipWithIndex.map { case (x, i) =>
      (i, math.floor(x * 1e6) / 1e6 + 0.0, share)
    }.toSeq.toDF("component_pos", "loading", "eigenvalue_share")
  }

  /** All-but-the-top embedding debiasing (Mu & Viswanath ICLR'18):
    * subtract the corpus mean, then project out the top
    * `nComponents` principal directions — the cheap post-process that
    * measurably improves cosine-similarity quality on anisotropic
    * embedding spaces (frequency direction dominates). Components come
    * from [[principalComponent]] power iteration with DEFLATION
    * (each found direction is projected out of the working vectors
    * before the next runs); all directions are driver metadata
    * compiled into one codegen'd projection over one final scan —
    * vectors are never shuffled.
    *
    * Output: (id, vec_debiased array<double>, removed_share 4-dp — the
    * per-vector fraction of squared norm the mean+projections removed;
    * 1.0 for a vector entirely inside the removed subspace).
    */
  def removeTopComponents(
      df: DataFrame, id: Column, vec: Column,
      nComponents: Int = 1, rounds: Int = 8): DataFrame = {
    require(nComponents >= 1, "nComponents must be >= 1")
    val d = dimOf(df, vec)
    val base = df.select(id.as("id"),
      transform(vec, x => x.cast("double")).as("__v"))
      .filter(size(col("__v")) === d)
    val mean = meanOf(base, "__v", d)
    val mLit = array(mean.map(lit): _*)
    var work = base.select(col("id"),
      zip_with(col("__v"), mLit, (a, b) => a - b).as("__c"))
      .transform(materialize(_))
    for (_ <- 1 to nComponents) {
      // deflated frames stay centered, so the core runs directly —
      // no redundant mean pass or extra centered replica per round
      val (u, _) = powerIterate(work.select(col("__c")), d, rounds)
      val uLit = array(u.map(lit): _*)
      // bind the projection ONCE as a column before the zip_with — a
      // dot inside the lambda re-evaluates per ELEMENT (the shingles
      // O(len²) trap)
      work = work
        .select(col("id"), col("__c"),
          graft.functions.dot(col("__c"), uLit).as("__p"))
        .select(col("id"),
          zip_with(col("__c"), uLit, (a, b) => a - b * col("__p")).as("__c"))
        .transform(materialize(_))
    }
    // removed_share against the ORIGINAL (uncentered) squared norm;
    // negative means centering GREW this vector's norm (a vector far
    // from the mean) — reported, not clamped
    val orig = base.select(col("id"), col("__v"))
    orig.join(work, Seq("id"))
      .select(col("id"), col("__c"),
        graft.functions.dot(col("__c"), col("__c")).as("__nc"),
        graft.functions.dot(col("__v"), col("__v")).as("__nv"))
      .select(col("id"), col("__c").as("vec_debiased"),
        (floor((lit(1.0) - col("__nc") /
          when(col("__nv") === 0.0, lit(1.0)).otherwise(col("__nv")))
          * 1e4) / 1e4).as("removed_share"))
  }

  /** Exact top-k by cosine: every query (broadcast) against every
    * corpus row. Ranking uses round(sim, 6) with id tiebreak so the
    * ordering is reproducible across engines.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: Column,
      corpusVec: Column,
      queryId: Column,
      queryVec: Column,
      k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("id"), corpusVec.as("v"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    cosineTopK(c.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id")), k)
  }

  /** The ranking tail of every cosine top-k here: over candidate
    * (query_id, qv, id, v) rows, exact cosine, rank per query DESCENDING
    * on the 6-dp rounded similarity with id tiebreak (the
    * engine-reproducible order), keep ranks ≤ k, and report
    * (query_id, rank, vec_id, cos_sim) with cos_sim at 4 dp. `band`
    * keeps only candidates whose rounded similarity lies in
    * [lo, hi) before ranking.
    */
  private def cosineTopK(cand: DataFrame, k: Int,
      band: Option[(Double, Double)] = None): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_key").desc, col("id").asc)
    val keyed = cand
      .withColumn("cos_sim", cosine(col("v"), col("qv")))
      .withColumn("sim_key", round(col("cos_sim"), 6))
    band.fold(keyed) { case (lo, hi) =>
        keyed.filter(col("sim_key") >= lo && col("sim_key") < hi)
      }
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("id").as("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Each query's `nProbe` nearest IVF cells: (query_id, qv, cluster)
    * for query (query_id, qv) rows, centroids ranked by
    * [[centroidScores]] with cluster-index tiebreak. The probe side of
    * every IVF search here — it stays small and broadcasts.
    */
  private def probeCells(queries: DataFrame, centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("__s").asc, col("cluster").asc)
    queries
      .withColumn("__scores", centroidScores(col("qv"), centroids))
      .select(col("query_id"), col("qv"),
        posexplode(col("__scores")).as(Seq("cluster", "__s")))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cluster"))
  }

  /** D133: margin-based bitext match scoring (Artetxe & Schwenk,
    * ACL'19) — the cross-lingual pair-mining criterion raw cosine
    * can't give: hubness vectors are near EVERYTHING, so a candidate
    * only counts if it beats its own neighborhood,
    *
    *   margin(x, y) = cos(x, y) / ((Σ_{z∈NNₖ(x)} cos + Σ_{z∈NNₖ(y)} cos) / (|NNₖ(x)| + |NNₖ(y)|))
    *
    * (= the 2k denominator of Artetxe & Schwenk when both sides hold a
    * full k neighbors; the ACTUAL counts keep the average honest when a
    * candidate set is smaller than k)
    *
    * and each source keeps its best target only when margin ≥
    * `minMargin` (ratio margin; 1.0 = "beats the average neighbor").
    * This tier scores the FULL bipartite product — the exact oracle
    * baseline, [[bruteForceTopK]]'s class; at corpus scale the
    * candidate set comes from the ANN ladder (D7/D7b/D57) and this
    * same scoring applies per candidate set. Determinism: cosines are
    * shared IEEE doubles; the k-NN SETS pin membership by (6-dp
    * sim, id) ranks; neighborhood sums run on floor(cos·1e7) integer
    * lanes so the average never depends on float reduction order; the
    * pick ranks (6-dp margin, id). Degenerate neighborhoods
    * (non-positive denominator) are excluded. Returns
    * (src_id, tgt_id, cos_sim, margin), one row per matched source.
    */
  def marginMatch(
      src: DataFrame, tgt: DataFrame,
      srcId: Column, srcVec: Column,
      tgtId: Column, tgtVec: Column,
      k: Int = 4, minMargin: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val s = src.select(srcId.as("src_id"), srcVec.as("sv"))
    val t = tgt.select(tgtId.as("tgt_id"), tgtVec.as("tv"))
    val scored = s.crossJoin(broadcast(t))
      .withColumn("cs", cosine(col("sv"), col("tv")))
      .withColumn("__sim_key", round(col("cs"), 6))
      .withColumn("__cs7", floor(col("cs") * 1e7).cast("long"))
      .select("src_id", "tgt_id", "cs", "__sim_key", "__cs7")
    val wS = Window.partitionBy("src_id")
      .orderBy(col("__sim_key").desc, col("tgt_id").asc)
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("__sim_key").desc, col("src_id").asc)
    val nnS = scored.withColumn("__r", row_number().over(wS))
      .filter(col("__r") <= k).groupBy("src_id")
      .agg(sum(col("__cs7")).as("__sx"), count(lit(1)).as("__cn_s"))
    val nnT = scored.withColumn("__r", row_number().over(wT))
      .filter(col("__r") <= k).groupBy("tgt_id")
      .agg(sum(col("__cs7")).as("__sy"), count(lit(1)).as("__cn_t"))
    // divide by the ACTUAL neighbor count, not a fixed 2k: when a side
    // holds fewer than k candidates (|tgt| < k), a 2k denominator would
    // deflate the average and inflate every margin — a silent deviation
    // from Artetxe & Schwenk exactly on the small candidate sets the
    // ANN ladder can hand this scorer
    val denom = (col("__sx") + col("__sy")).cast("double") /
      ((col("__cn_s") + col("__cn_t")).cast("double") * 1e7)
    val wPick = Window.partitionBy("src_id")
      .orderBy(round(col("margin"), 6).desc, col("tgt_id").asc)
    scored.join(nnS, Seq("src_id")).join(nnT, Seq("tgt_id"))
      .withColumn("__denom", denom)
      .filter(col("__denom") > 0.0)
      .withColumn("margin", col("cs") / col("__denom"))
      .withColumn("__rank", row_number().over(wPick))
      .filter(col("__rank") === 1 && col("margin") >= minMargin)
      .select(col("src_id"), col("tgt_id"),
        round(col("cs"), 4).as("cos_sim"), round(col("margin"), 4).as("margin"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    * candidate lists — THE hybrid-retrieval merge (BM25 ⊕ dense cosine
    * ⊕ freshness prior …): score(d) = Σ_lists 1/(k0 + rank_list(d)),
    * docs absent from a list contribute nothing. Rank-based, so the
    * lists' raw scores never need calibrating against each other.
    *
    * Every input must carry (query_id, doc_id, rank). Contributions
    * are EXACT integer lanes — 10¹² DIV (k0+rank) — so the per-doc sum
    * is order-independent and engine-portable (a double 1/(k0+r) sum
    * would depend on reduction order). Shape at scale: one union, one
    * keyed partial-aggregated groupBy, one per-query ranking window —
    * candidate lists are top-k-bounded, so windows stay tiny. Returns
    * (query_id, fused_rank, doc_id, rrf_e12), fused_rank ≤ topK.
    */
  def rrfFuse(lists: Seq[DataFrame], k0: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 1 && topK >= 1, "k0 and topK must be positive")
    val contribs = lists.map(_.select(col("query_id"), col("doc_id"),
      expr(s"1000000000000 div ($k0 + rank)").as("__c")))
    val fused = contribs.reduce(_.unionByName(_))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).as("rrf_e12"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_e12").desc, col("doc_id").asc)
    fused.withColumn("fused_rank", row_number().over(w).cast("int"))
      .filter(col("fused_rank") <= topK)
      .select("query_id", "fused_rank", "doc_id", "rrf_e12")
  }

  /** Seeded random hyperplanes (row-major, plane i = planes(i)); the
    * same constants feed both the Spark plan and the generated oracle
    * SQL so the two engines bucket identically.
    */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Random-hyperplane signature: sign bit per plane, packed into a
    * long. Planes are seeded literals compiled into the plan — no
    * driver-side data movement, identical across executors.
    */
  def hyperplaneBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long): Column = {
    val planes = hyperplanes(dim, nPlanes, seed)
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      acc.bitwiseOR(
        when(dot(vec, array(p.map(lit): _*)) > 0d, lit(1L << i)).otherwise(lit(0L)))
    }
  }

  /** Squared-distance scores of `vec` against every centroid, as one
    * array column: dist²(v,c) = v·v − 2c·v + c·c, and v·v is constant
    * per row, so ranking uses score_c = c·c − 2·(c·v). Each c·v is the
    * codegen'd DotProduct; the array lands in ONE projection so the
    * interpreted array ops read a materialized value.
    */
  private def centroidScores(vec: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.map { c =>
      lit(c.map(x => x * x).sum) - dot(vec, array(c.map(lit): _*)) * 2d
    }: _*)

  /** Nearest-centroid assignment over an (id, v) frame, scale-adaptive
    * in k. Small k compiles the k distance expressions into the plan
    * (one codegen'd projection, zero extra rows). Large k CANNOT — a
    * k-wide array of dim-element literal trees blows past whole-stage
    * codegen's limits and the argmin falls back to interpreted
    * per-row evaluation (measured: 86k vectors × k=432 took ~90 s
    * where the exploded form takes seconds). The large-k path carries
    * the centroids as ONE nested-array literal, posexplodes k rows per
    * vector INSIDE the partition, computes each distance with the
    * codegen'd dot kernel, and folds the argmin back with a
    * partial-aggregated min-over-struct — the shuffle carries one row
    * per vector, never n×k. Both paths compute the identical IEEE
    * distance (‖c‖² − 2·v·c) with the identical lowest-cluster
    * tiebreak, so assignments are bit-equal regardless of path.
    */
  private def assignClusters(
      vecs: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    if (centroids.length <= 64) {
      vecs.withColumn("__scores", centroidScores(col("v"), centroids))
        .withColumn("cluster",
          expr("array_position(__scores, array_min(__scores))").cast("int") - 1)
        .drop("__scores")
    } else {
      val cents = typedLit(centroids.map(_.toSeq).toSeq)
      val norms = typedLit(centroids.map(_.map(x => x * x).sum).toSeq)
      vecs
        .select(col("id"), col("v"), posexplode(cents).as(Seq("__k", "__cent")))
        .withColumn("__d",
          element_at(norms, col("__k") + 1) - dot(col("v"), col("__cent")) * 2d)
        .groupBy("id")
        .agg(
          first(col("v")).as("v"),
          min(struct(col("__d").as("d"), col("__k").as("k"))).as("__m"))
        .select(col("id"), col("v"),
          col("__m").getField("k").cast("int").as("cluster"))
    }

  /** Deterministic k-means coarse quantizer for IVF: seeded init (the
    * `nCentroids` DISTINCT vectors with the lowest `xxhash64(min id)`
    * — id order correlates with ingest/layout order, so a lowest-id
    * seed draws every centroid from one physical slab of the corpus
    * and the quantizer degenerates exactly when the corpus is large;
    * the hash order is geometry-decorrelated yet deterministic and
    * replays in SQL, and seeding from the DISTINCT-vector pool keyed
    * by min id means duplicate rows can never spend two seeds on one
    * point — two identical centroids would stay identical through
    * every Lloyd round. Corpora with fewer than `nCentroids` distinct
    * vectors train that many centroids, the honest maximum of
    * nonempty cells), `iters` Lloyd rounds where the
    * assignment is a distributed argmin over broadcast centroid
    * literals and the re-estimation is one posexplode + groupBy(avg).
    * Centroids are k×dim doubles — driver metadata by definition (like
    * column names), NOT data on the driver; every per-row computation
    * stays distributed and codegen'd. Empty clusters keep their old
    * centroid. Returns the trained centroids.
    *
    * `trainFraction` < 1 trains on a deterministic hash-sample — the
    * FAISS recipe at scale: a coarse quantizer needs only enough
    * vectors per centroid to estimate means, so at 100 TB you train on
    * a sliver and pay the full-corpus scan ONCE for assignment, not
    * once per Lloyd round. The training set is pinned by `materialize` so the
    * rounds iterate over materialized blocks, not a re-decoded parquet
    * scan.
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      nCentroids: Int,
      iters: Int = 5,
      trainFraction: Double = 1.0): Array[Array[Double]] = {
    require(trainFraction > 0 && trainFraction <= 1, "trainFraction in (0,1]")
    val all = corpus.select(id.as("id"), vec.as("v"))
    val base = (if (trainFraction < 1.0) Sampling.hashSample(all, col("id"), trainFraction)
                else all).transform(materialize(_))
    var centroids = base.groupBy(col("v")).agg(min(col("id")).as("id"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc).limit(nCentroids)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val assigned = assignClusters(base, centroids)
      // re-estimation on the integer micro-unit lanes (lane7): the
      // mean is an exact integer sum / 1e7 / n — order-independent
      // and bit-replayable, which is what lets q_ann_ivf's oracle
      // replay every Lloyd round in SQL
      val means = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum(lane7(col("x"))).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / 1e7 / r.getLong(3)).toArray
        }
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** The trained coarse quantizer as a PERSISTABLE frame
    * ((cluster, centroid) rows) — store it next to the assignment
    * table like any other index artifact ([[ivfAssign]];
    * `Dedup.fingerprintIndex` is the same pattern for exact dedup).
    */
  def centroidsToDf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "centroid")
  }

  /** Read a stored quantizer back ([[centroidsToDf]] round-trip). */
  def centroidsFromDf(df: DataFrame): Array[Array[Double]] =
    df.select(col("cluster"), col("centroid"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** Assign every corpus vector to its nearest coarse centroid —
    * (id, v, cluster), THE inverted-file index table. At 100 TB this
    * is the artifact you PERSIST (bucketed by cluster:
    * `Tables.writeBucketed`) and probe many times; the full-corpus
    * scan is paid once here, not per query batch.
    */
  def ivfAssign(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      centroids: Array[Array[Double]]): DataFrame =
    assignClusters(corpus.select(id.as("id"), vec.as("v")), centroids)

  /** Cluster-quality diagnostics for a trained quantizer — the
    * measurement half of the IVF family (as [[Eval.retrievalMetrics]]
    * is to the ANN probes): per nonempty cluster, the SIMPLIFIED
    * silhouette (a = distance to own centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) — the O(n·k) form;
    * classic silhouette's all-pairs a/b is quadratic per cluster and
    * can never run at corpus scale) and the Davies-Bouldin ratio
    * R_i = max_{j≠i} (σ_i + σ_j) / d(c_i, c_j) with σ = mean member
    * distance to centroid. The numbers that decide k / re-train
    * cadence BEFORE an index config commits to the corpus.
    *
    * Shape at scale: one posexplode to k rows per vector (k is
    * config-sized), partial-agg min per (id, cluster), partial-agg
    * sums per cluster, then a k×k broadcast self-join — nothing
    * corpus-quadratic. Determinism: distances are row-local IEEE
    * (sqrt is correctly rounded; the max(0, ·) guard folds −ε
    * rounding residue so no NaN leaks), s and a truncate to 7-dp
    * decimals before the order-independent cluster sums, reported
    * values 4-dp (silhouette toward-zero — it carries sign). Pairs
    * with coincident centroids (d = 0) are skipped in the DB max
    * rather than emitting ∞; a cluster with no distinct-centroid
    * peer reports db_r NULL. Empty clusters simply have no row.
    */
  def clusterQuality(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "clusterQuality needs >= 2 centroids")
    val spark = corpus.sparkSession
    val assigned = assignClusters(corpus.select(id.as("id"), vec.as("v")), centroids)
    val cents = typedLit(centroids.map(_.toSeq).toSeq)
    val norms = typedLit(centroids.map(_.map(x => x * x).sum).toSeq)
    val pts = assigned.withColumn("__vv", dot(col("v"), col("v")))
      .select(col("id"), col("cluster"), col("v"), col("__vv"),
        posexplode(cents).as(Seq("__j", "__c")))
      .withColumn("__d", sqrt(greatest(lit(0.0),
        element_at(norms, col("__j") + 1) - dot(col("v"), col("__c")) * 2d
          + col("__vv"))))
    val ab = pts.groupBy("id", "cluster").agg(
      min(when(col("__j") === col("cluster"), col("__d"))).as("__a"),
      min(when(col("__j") =!= col("cluster"), col("__d"))).as("__b"))
    val si = ab.select(col("cluster"),
      (floor(when(greatest(col("__a"), col("__b")) === 0d, lit(0.0))
        .otherwise((col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
        * 1e7) / 1e7).cast("decimal(18,7)").as("__sd"),
      (floor(col("__a") * 1e7) / 1e7).cast("decimal(18,7)").as("__ad"))
    val perCluster = si.groupBy("cluster").agg(count(lit(1)).as("n"),
        sum(col("__sd")).as("__ssum"), sum(col("__ad")).as("__asum"))
      .transform(materialize(_)) // two consumers: the DB pair join + the report
    val withSig = perCluster
      .join(broadcast(centroidsToDf(spark, centroids)), "cluster")
      .select(col("cluster"),
        (col("__asum").cast("double") / col("n")).as("__sig"), col("centroid"))
    val x = withSig.select(col("cluster").as("__xc"), col("__sig").as("__xs"),
      col("centroid").as("__xcen"))
    val y = withSig.select(col("cluster").as("__yc"), col("__sig").as("__ys"),
      col("centroid").as("__ycen"))
    val cd = sqrt(greatest(lit(0.0),
      dot(col("__xcen"), col("__xcen")) - dot(col("__xcen"), col("__ycen")) * 2d
        + dot(col("__ycen"), col("__ycen"))))
    val pairs = x.join(broadcast(y), col("__xc") =!= col("__yc"))
      .select(col("__xc").as("cluster"),
        when(cd > 0d, (col("__xs") + col("__ys")) / cd).as("__r"))
    val db = pairs.groupBy("cluster").agg(max(col("__r")).as("__dbr"))
    perCluster.join(db, Seq("cluster"), "left").select(
      col("cluster"), col("n"),
      Num.t4zero(col("__ssum").cast("double") / col("n")).as("mean_silhouette"),
      Num.t4floor(col("__asum").cast("double") / col("n")).as("sigma"),
      Num.t4floor(col("__dbr")).as("db_r"))
  }

  /** Probe a STORED IVF index: each query ranks the centroids, visits
    * its `nProbe` nearest clusters, and pays exact cosine only there —
    * candidate work O(|corpus|·nProbe/nCentroids) per query, never
    * cartesian; the probe frame broadcasts.
    */
  def ivfProbe(
      index: DataFrame,
      centroids: Array[Array[Double]],
      queries: DataFrame,
      queryId: Column,
      queryVec: Column,
      k: Int,
      nProbe: Int): DataFrame = {
    val q = probeCells(queries.select(queryId.as("query_id"), queryVec.as("qv")),
      centroids, nProbe)
    cosineTopK(index.join(broadcast(q), "cluster")
      .filter(col("id") =!= col("query_id")), k)
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the top-k corpus vectors whose cosine lies in
    * [simLo, simHi) — similar enough to be informative negatives,
    * below the near-duplicate band that would poison training with
    * false negatives (the twin/positive itself sits ABOVE simHi and
    * is excluded by construction, as are self-matches).
    *
    * Routing is [[ivfProbe]]'s: nProbe nearest cells per query, exact
    * cosine only there, probe side broadcast — candidate work
    * O(|corpus|·nProbe/nCells) per query. Rank DESCENDING on the
    * 6-dp rounded similarity with id tiebreak (the reproducible-order
    * contract). Returns (query_id, rank, vec_id, cos_sim).
    */
  def ivfHardNegatives(
      index: DataFrame,
      centroids: Array[Array[Double]],
      queries: DataFrame,
      queryId: Column,
      queryVec: Column,
      simLo: Double,
      simHi: Double,
      k: Int,
      nProbe: Int): DataFrame = {
    require(simLo < simHi, "need simLo < simHi")
    val q = probeCells(queries.select(queryId.as("query_id"), queryVec.as("qv")),
      centroids, nProbe)
    cosineTopK(index.join(broadcast(q), "cluster")
      .filter(col("id") =!= col("query_id")), k, Some((simLo, simHi)))
  }

  /** ANN top-k via IVF (inverted-file index): corpus vectors are
    * bucketed by nearest coarse centroid; each query probes its
    * `nProbe` nearest centroid buckets and pays exact cosine only
    * there. The standard large-scale ANN layout (FAISS-style IVF-Flat)
    * expressed as two equi-joins — candidate work is
    * O(|corpus|·nProbe/nCentroids) per query, never cartesian, and the
    * bucket assignment reuses the codegen'd DotProduct kernel.
    *
    * One-shot composition of the index lifecycle
    * ([[trainIvfCentroids]] → [[ivfAssign]] → [[ivfProbe]]); an
    * incremental pipeline calls the phases itself and PERSISTS the
    * quantizer + assignment between arrivals.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: Column,
      corpusVec: Column,
      queryId: Column,
      queryVec: Column,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 5,
      trainFraction: Double = 1.0): DataFrame = {
    val centroids =
      trainIvfCentroids(corpus, corpusId, corpusVec, nCentroids, iters, trainFraction)
    ivfProbe(ivfAssign(corpus, corpusId, corpusVec, centroids),
      centroids, queries, queryId, queryVec, k, nProbe)
  }

  /** ANN top-k restricted to the query's hyperplane bucket. Recall is
    * tunable via nPlanes (fewer planes → bigger buckets → higher
    * recall, more cosine work). The candidate join is an equi-join on
    * the bucket — shuffle on a long key, never cartesian.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: Column,
      corpusVec: Column,
      queryId: Column,
      queryVec: Column,
      k: Int,
      dim: Int = 64,
      nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val c = corpus.select(corpusId.as("id"), corpusVec.as("v"),
      hyperplaneBucket(corpusVec, dim, nPlanes, seed).as("bucket"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
      hyperplaneBucket(queryVec, dim, nPlanes, seed).as("bucket"))
    cosineTopK(c.join(broadcast(q), "bucket")
      .filter(col("id") =!= col("query_id")), k)
  }

  /** MULTI-PROBE hyperplane LSH top-k (Lv et al., VLDB'07): each query
    * probes its own bucket PLUS every bucket at Hamming distance 1
    * (one sign bit flipped) — the standard recall lever when a true
    * neighbor sits just across one hyperplane. The corpus-side index
    * is untouched (still exactly one bucket per corpus vector — the
    * artifact you persist); only the broadcast query side fans out
    * ×(nPlanes+1), so recall climbs toward brute force at ZERO extra
    * corpus shuffle or storage. Exact cosine still ranks candidates;
    * a vector found through two probes counts once (distinct before
    * ranking).
    */
  def lshTopKMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: Column,
      corpusVec: Column,
      queryId: Column,
      queryVec: Column,
      k: Int,
      dim: Int = 64,
      nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val c = corpus.select(corpusId.as("id"), corpusVec.as("v"),
      hyperplaneBucket(corpusVec, dim, nPlanes, seed).as("bucket"))
    val base = hyperplaneBucket(queryVec, dim, nPlanes, seed)
    // probe set: the home bucket + one per flipped sign bit
    val probeBuckets = array((base +: (0 until nPlanes).map(i =>
      base.bitwiseXOR(lit(1L << i)))): _*)
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
      explode(probeBuckets).as("bucket"))
    // dedup multi-probe hits on the slim (query, id) pair BEFORE
    // vectors attach — a candidate found via two probes pays one cosine
    val cand = c.select(col("id"), col("bucket"))
      .join(broadcast(q.select(col("query_id"), col("bucket"))), "bucket")
      .filter(col("id") =!= col("query_id"))
      .select("query_id", "id").distinct()
    cosineTopK(cand
      .join(c.select(col("id"), col("v")), "id")
      .join(broadcast(queries.select(queryId.as("query_id"), queryVec.as("qv"))),
        "query_id"), k)
  }

  /** Per-group embedding centroids in LONG format (group, dim, mean_v)
    * — the semantic summary behind topic drift monitoring, per-source
    * cluster seeds, and label prototypes. Long format on purpose: no
    * array reassembly, so the whole thing is one posexplode + one
    * partial-aggregated groupBy(group, dim) — scales to any corpus and
    * any dimensionality, and the caller can pivot a small result back
    * to arrays if needed.
    *
    * Determinism follows the [[GraphOps.pageRank]] contract: each
    * component is TRUNCATED at 7 dp (floor — repr-independent where
    * round-half-up is not), summed over exact decimals, and the mean
    * is truncated again. `dim` is 1-based (matching SQL subscripts).
    */
  def centroids(df: DataFrame, group: Column, vec: Column): DataFrame = {
    df.select(group.as("grp"), posexplode(vec).as(Seq("pos", "v")))
      .groupBy(col("grp"), (col("pos") + 1).as("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(Num.t7floor(col("v").cast("double")).cast("decimal(28,7)")).as("s"))
      .select(col("grp"), col("dim"),
        Num.t7floor(col("s").cast("double") / col("n")).as("mean_v"))
  }

  // ---------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid: "Product Quantization
  // for Nearest Neighbor Search", IEEE TPAMI 2011) — the embedding
  // COMPRESSION tier under IVF/LSH: dim doubles (512 B at dim=64)
  // become m byte-sized codes (8 B at m=8), an instant 64× memory cut
  // for a billion-vector index, searched via asymmetric distance
  // computation (ADC: the query stays exact, each corpus vector is
  // looked up through a per-query m×k distance table).
  // ---------------------------------------------------------------

  /** Per-subspace k-means codebooks: the vector splits into `m`
    * contiguous subvectors, each subspace trains its own `k`-word
    * codebook. ALL subspaces train in the same jobs (the sliced frame
    * carries a `sub` tag; assignment CASEs on it), so a round costs
    * one scan regardless of m. Codebooks are m×k×(dim/m) = k×dim
    * doubles — driver metadata, exactly [[trainIvfCentroids]]'s
    * contract (and its hash-ordered seeded init + Lloyd rounds + empty-
    * cluster handling). Returns codebooks(sub)(code)(component).
    */
  def trainPqCodebooks(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 5,
      trainFraction: Double = 1.0): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    require(k >= 1, "k must be >= 1")
    require(trainFraction > 0 && trainFraction <= 1, "trainFraction in (0,1]")
    val d = dim / m
    val all = corpus.select(id.as("id"), vec.as("v"))
    val base = (if (trainFraction < 1.0) Sampling.hashSample(all, col("id"), trainFraction)
                else all)
    // one sliced frame feeds every round: (id, sub, sv)
    val sliced = base.select(col("id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), slice(col("v"), s * d + 1, d).as("sv"))): _*)).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .transform(materialize(_))
    // seeded init: the k distinct vectors with the lowest
    // xxhash64(min id), sliced per subspace (hash-ordered over the
    // distinct pool for the same geometry-decorrelation and
    // no-duplicate-seed reasons as trainIvfCentroids)
    val seedRows = base.groupBy(col("v")).agg(min(col("id")).as("id"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seedRows.map(_.slice(s * d, s * d + d))
    }
    for (_ <- 1 to iters) {
      val scores = (1 until m).foldLeft(
          when(col("sub") === 0, centroidScores(col("sv"), books(0)))) {
        (acc, s) => acc.when(col("sub") === s, centroidScores(col("sv"), books(s)))
      }
      // re-estimation on the integer micro-unit lanes (the Lloyd
      // contract) — order-independent and bit-replayable in SQL
      val means = sliced.withColumn("__scores", scores)
        .withColumn("code",
          expr("array_position(__scores, array_min(__scores))").cast("int") - 1)
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg(sum(lane7(col("x"))).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (sc, rows) =>
          sc -> rows.sortBy(_.getInt(2))
            .map(r => r.getLong(3).toDouble / 1e7 / r.getLong(4)).toArray
        }
      books = Array.tabulate(m) { s =>
        Array.tabulate(books(s).length) { c => means.getOrElse((s, c), books(s)(c)) }
      }
    }
    books
  }

  /** Trained codebooks as a PERSISTABLE frame ((sub, code, codeword)
    * rows) — the [[centroidsToDf]] pattern for the PQ artifact.
    */
  def pqCodebooksToDf(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (b, s) =>
      b.zipWithIndex.map { case (w, c) => (s, c, w.toSeq) }
    }.toSeq.toDF("sub", "code", "codeword")
  }

  /** Read stored codebooks back ([[pqCodebooksToDf]] round-trip). */
  def pqCodebooksFromDf(df: DataFrame): Array[Array[Array[Double]]] =
    df.select(col("sub"), col("code"), col("codeword"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }

  /** Encode every vector to its m nearest-codeword indices — (id,
    * codes: array<int>), the 100 TB-persistable compressed index
    * (m bytes/vector of information; persist next to the IVF
    * assignment like any index artifact). Pure codegen'd projection:
    * m argmins over k codegen'd dot products each, no shuffle, no
    * data on the driver.
    */
  def pqEncode(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val d = books(0)(0).length
    val codeCols = (0 until m).map { s =>
      val scores = centroidScores(slice(vec, s * d + 1, d), books(s))
      (array_position(scores, array_min(scores)) - 1).cast("int")
    }
    corpus.select(id.as("id"), array(codeCols: _*).as("codes"))
  }

  /** ADC top-k over a [[pqEncode]]'d corpus: each (small, broadcast)
    * query precomputes its m×k table of exact subvector→codeword
    * squared distances, then every corpus row's distance is m array
    * LOOKUPS + adds (a fixed codegen'd element_at chain — no dot
    * products on the corpus side, the entire PQ speed story). The
    * lookup-table build runs interpreted HOFs on the QUERY side only
    * (probe-sized by the [[bruteForceTopK]] broadcast contract).
    *
    * Approximation contract (the paper's): distances are quantized —
    * recall vs exact search degrades as m shrinks; rank by
    * round(dist, 6) with id tiebreak for engine-reproducible order.
    * Returns (query_id, rank, vec_id, adc_dist).
    */
  def pqTopK(
      encoded: DataFrame,
      queries: DataFrame,
      queryId: Column,
      queryVec: Column,
      books: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    val q = queries.select(queryId.as("query_id"), pqLut(queryVec, books).as("__lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_key").asc, col("id").asc)
    encoded.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .withColumn("adc_dist", adcDist(books))
      .withColumn("dist_key", round(col("adc_dist"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("id").as("vec_id"), round(col("adc_dist"), 4).as("adc_dist"))
  }

  /** Per-query m×k lookup table of exact subvector→codeword squared
    * distances — interpreted HOFs, legal on the (broadcast) probe side
    * only. Entry s·k + c holds ‖query_sub_s − codeword_c‖².
    */
  private def pqLut(queryVec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val nCodes = books(0).length
    val d = books(0)(0).length
    // flat literal codeword table: entry (s*k + c) holds codeword c of
    // subspace s; the per-query LUT indexes it the same way
    val flat = array(books.flatMap(_.map(w => array(w.map(lit): _*))): _*)
    transform(
      sequence(lit(0), lit(m * nCodes - 1)),
      i => {
        val sub = (i / nCodes).cast("int")
        val word = element_at(flat, i + 1)
        aggregate(
          sequence(lit(0), lit(d - 1)),
          lit(0.0),
          (acc, p) => {
            val diff = element_at(queryVec, sub * d + p + 1) - element_at(word, p + 1)
            acc + diff * diff
          })
      })
  }

  /** Corpus-side ADC distance: m `element_at` lookups into `__lut` by
    * the row's `codes`, summed — a fixed codegen'd chain, zero dot
    * products.
    */
  private def adcDist(books: Array[Array[Array[Double]]]): Column = {
    val nCodes = books(0).length
    books.indices.map(s =>
        element_at(col("__lut"), lit(s * nCodes) + element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
  }

  // ---------------------------------------------------------------
  // IVF-PQ: the paper's full composition (IVFADC) — coarse IVF cells
  // route the search, PQ codes of the RESIDUAL (vector − its cell
  // centroid) carry the geometry. Residuals are what make the m×k
  // codebook budget go far: vectors near one centroid share a small
  // displacement ball, so the same codebook resolves much finer
  // structure than it would on raw vectors spread across all cells.
  // ---------------------------------------------------------------

  /** Residual frame (id, cluster, v = vec − centroid(cluster)) for a
    * trained coarse quantizer — the input to residual codebook
    * training and encoding. Pure codegen'd projection (centroid
    * lookup from a literal array by cluster index).
    */
  def ivfResiduals(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      centroids: Array[Array[Double]]): DataFrame = {
    val centLit = array(centroids.map(c => array(c.map(lit): _*)): _*)
    ivfAssign(corpus, id, vec, centroids)
      .select(col("id"), col("cluster"),
        zip_with(col("v"), element_at(centLit, col("cluster") + 1),
          (a, b) => a - b).as("v"))
  }

  /** Build the IVF-PQ index frame: (id, cluster, codes) — the cell
    * assignment plus the PQ codes of the residual. `cluster` routes
    * the probe join, `codes` are m small ints (the 100 TB artifact:
    * ~1 byte/subspace/vector + a cell id). Persist like any index
    * table; the codebooks and centroids are driver-metadata artifacts
    * ([[pqCodebooksToDf]] / [[centroidsToDf]]).
    */
  def ivfPqIndex(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val resid = ivfResiduals(corpus, id, vec, centroids)
    val m = books.length
    val d = books(0)(0).length
    val codeCols = (0 until m).map { s =>
      val scores = centroidScores(slice(col("v"), s * d + 1, d), books(s))
      (array_position(scores, array_min(scores)) - 1).cast("int")
    }
    resid.select(col("id"), col("cluster"), array(codeCols: _*).as("codes"))
  }

  /** IVF-PQ search (IVFADC): each query ranks the coarse centroids,
    * visits its `nProbe` nearest cells, and scores ONLY those cells'
    * rows by ADC — with a DISTINCT lookup table per (query, cell),
    * built from the query's residual against THAT cell's centroid
    * (the residual geometry is cell-relative). Probe fan-out is
    * nProbe rows per query on the broadcast side; the corpus join
    * stays an equi-join on `cluster` — candidate work
    * O(|corpus|·nProbe/nCells) per query, never cartesian, and each
    * candidate row pays m array lookups.
    *
    * Returns (query_id, rank, vec_id, adc_dist) — approximate
    * distances (two quantizations deep); rank by round 6 dp with id
    * tiebreak, the engine-reproducible contract.
    */
  def ivfPqTopK(
      index: DataFrame,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      queries: DataFrame,
      queryId: Column,
      queryVec: Column,
      k: Int,
      nProbe: Int): DataFrame = {
    val centLit = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val q = probeCells(queries.select(queryId.as("query_id"), queryVec.as("qv")),
        centroids, nProbe)
      .select(col("query_id"), col("cluster"),
        pqLut(
          zip_with(col("qv"), element_at(centLit, col("cluster") + 1), (a, b) => a - b),
          books).as("__lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_key").asc, col("id").asc)
    index.join(broadcast(q), "cluster")
      .filter(col("id") =!= col("query_id"))
      .withColumn("adc_dist", adcDist(books))
      .withColumn("dist_key", round(col("adc_dist"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("id").as("vec_id"), round(col("adc_dist"), 4).as("adc_dist"))
  }

  /** Johnson-Lindenstrauss RANDOM PROJECTION — the dimensionality
    * rung of the compression ladder next to [[quantizeInt8]] (fewer
    * bytes per component) and PQ (codes): dim components become
    * `outDim` by projecting onto seeded Gaussian directions scaled by
    * 1/√outDim, preserving norms and pairwise distances in
    * expectation (JL lemma) — the standard pre-step before an ANN
    * index at d=4096, where 64 projected dims retain neighbor
    * structure at 1/64 the scan bytes.
    *
    * Shape at scale: the `outDim × dim` plane matrix is seeded
    * LITERALS compiled into the plan ([[hyperplaneBucket]]'s
    * contract) — no driver data movement, one codegen'd [[graft.functions.dot]]
    * per output component, a map-only pass. Components round to 6 dp
    * (portable), `norm_ratio` = ‖proj‖/‖v‖ (4 dp, NULL for the zero
    * vector) is the per-row distortion audit — the quantizeInt8
    * `cos_distortion` twin for the dimensionality axis.
    */
  def randomProjection(
      df: DataFrame,
      id: Column,
      vec: Column,
      dim: Int,
      outDim: Int,
      seed: Long = 42L): DataFrame = {
    require(outDim >= 1 && outDim <= dim, "1 <= outDim <= dim")
    val planes = hyperplanes(dim = dim, nPlanes = outDim, seed = seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = df.select(id.as("vec_id"),
      transform(vec, x => x.cast("double")).as("__v"))
    val proj = array(planes.map(p =>
      round(dot(col("__v"), array(p.map(lit): _*)) * scale, 6)): _*)
    val norm = (c: Column) => sqrt(aggregate(c, lit(0.0), (a, x) => a + x * x))
    v.withColumn("proj", proj)
      .withColumn("norm_ratio",
        when(norm(col("__v")) > 0.0,
          round(norm(col("proj")) / norm(col("__v")), 4)))
      .select(col("vec_id"), col("proj"), col("norm_ratio"))
  }

  /** MMR (maximal marginal relevance) diversified top-k — the
    * SELECTION step after retrieval: from each query's candidate
    * list, greedily keep items maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-selected, so the k
    * survivors are relevant AND mutually diverse (near-duplicate
    * candidates collapse to one representative — the retrieval-time
    * face of the dedup family).
    *
    * Candidates are the BOUNDED per-query output of a retrieval tier
    * ([[lshTopK]] / IVF / brute top-N) — never a corpus
    * (registry-audit class: the caller retrieved first). The greedy
    * loop runs as k-1 DISTRIBUTED rounds — all queries advance
    * together: anti-join the selected set, one bounded join to the
    * per-query selected vectors for max-sim (≤ N×k rows per query),
    * one window pick — so cost is k plans of candidate-frame size,
    * independent of corpus scale, with a `materialize` lineage cut
    * per round (pageRank contract).
    *
    * Determinism: cosine rounds to 6 dp before the max; ties break on
    * doc_id ascending; score surfaces rounded 6. Rank 1 is pure
    * λ·relevance (empty selected set ⇒ the penalty term is zero).
    * Queries with fewer than k candidates return all of them.
    */
  def mmrSelect(
      candidates: DataFrame,
      queryId: Column,
      docId: Column,
      relevance: Column,
      vec: Column,
      k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0 && lambda <= 1, "lambda in [0,1]")
    val cand = candidates.select(queryId.as("query_id"), docId.as("doc_id"),
        relevance.cast("double").as("rel"),
        transform(vec, x => x.cast("double")).as("__v"))
      .transform(materialize(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__score").desc, col("doc_id").asc)
    var selected = cand
      .withColumn("__score", lit(lambda) * col("rel"))
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col("query_id"), col("doc_id"), col("rel"), col("__v"),
        lit(1).as("mmr_rank"), round(col("__score"), 6).as("mmr_score"))
      .transform(materialize(_))
    for (r <- 2 to k) {
      val remaining = cand.join(
        selected.select("query_id", "doc_id"), Seq("query_id", "doc_id"), "left_anti")
      val maxSim = remaining
        .join(selected.select(col("query_id"), col("__v").as("__sv")), Seq("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(max(round(cosine(col("__v"), col("__sv")), 6)).as("__msim"))
      val pick = remaining.join(maxSim, Seq("query_id", "doc_id"))
        .withColumn("__score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__msim"))
        .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
        .select(col("query_id"), col("doc_id"), col("rel"), col("__v"),
          lit(r).as("mmr_rank"), round(col("__score"), 6).as("mmr_score"))
      selected = selected.unionByName(pick).transform(materialize(_))
    }
    selected.select(col("query_id"), col("mmr_rank"), col("doc_id"),
      col("rel"), col("mmr_score"))
  }

  /** Matryoshka truncation audit (Kusupati et al. '22, MRL) — before
    * shipping truncated embeddings (the modern storage/latency lever:
    * serve dim-16 prefixes, keep dim-64 for re-rank), measure what
    * each prefix length COSTS: per candidate dim, the mean prefix
    * cosine over sampled pairs plus the mean and max absolute
    * deviation from the full-dimension cosine — the numbers that
    * decide which prefix a recall tier can afford. Pure composition:
    * one prefix-slice + the shared cosine kernel per (pair, dim),
    * deviations on 7-dp lanes into exact decimal sums (order-
    * independent), 6-dp floor reporting (mean cosine toward zero —
    * it is signed). Caller supplies the pair frame (deterministic
    * pairing is the caller's sampling policy). Returns one row per
    * dim: (dim, n_pairs, mean_cos_prefix, mean_abs_delta,
    * max_abs_delta).
    */
  def matryoshkaAudit(pairs: DataFrame, vecA: Column, vecB: Column,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be positive")
    val t = pairs.select(
      transform(vecA, x => x.cast("double")).as("__a"),
      transform(vecB, x => x.cast("double")).as("__b"))
    val exploded = t
      .withColumn("__full", cosine(col("__a"), col("__b")))
      .select(col("__a"), col("__b"), col("__full"),
        explode(typedLit(dims)).as("dim"))
    val cd = cosine(slice(col("__a"), lit(1), col("dim")),
      slice(col("__b"), lit(1), col("dim")))
    val absd7 = (floor(abs(cd - col("__full")) * 1e7) / 1e7).cast("decimal(20,7)")
    val cd7 = (signum(cd) * (floor(abs(cd) * 1e7) / 1e7)).cast("decimal(20,7)")
    val g = exploded.groupBy("dim").agg(
      count(lit(1)).as("n_pairs"),
      sum(absd7).as("__sad"),
      max(absd7).as("__mad"),
      sum(cd7).as("__scd"))
    val meanCos = col("__scd").cast("double") / col("n_pairs")
    g.select(col("dim"), col("n_pairs"),
      Num.t6zero(meanCos).as("mean_cos_prefix"),
      (floor(col("__sad").cast("double") / col("n_pairs") * 1e6) / 1e6)
        .as("mean_abs_delta"),
      (floor(col("__mad").cast("double") * 1e6) / 1e6).as("max_abs_delta"))
  }

  /** Greedy k-center coreset selection (farthest-point-first traversal,
    * Gonzalez '85; the coreset active-selection recipe of Sener &
    * Savarese '18) — the DIVERSITY face of data selection, next to
    * [[mmrSelect]]'s per-query re-ranking: pick the k corpus points
    * that 2-approximate the minimal covering radius, so a fine-tuning
    * budget spends itself on the corpus's spread rather than its mode.
    * Returns one row per selected center: `(rank, id, gap)` where
    * `gap` is the squared L2 min-distance of the pick to the centers
    * chosen before it (NULL for the seed) — the classic non-increasing
    * gap curve; the last gap upper-bounds the uncovered radius².
    *
    * Deterministic end to end: the seed is the DISTINCT-vector pool
    * entry with the lowest `xxhash64(min id)` (the trainIvfCentroids
    * geometry-decorrelated contract — a lowest-id seed correlates with
    * physical layout), each round's pick maximizes the running
    * min-distance with an id tiebreak, and every distance is the
    * row-local IEEE `‖c‖² − 2·v·c + ‖v‖²` both engines compute
    * identically — the whole trajectory replays in SQL (q_kcenter).
    * Corpora with fewer than k distinct vectors stop early at the
    * honest maximum (a zero max-gap means every point IS a center —
    * more picks would re-pick coincident vectors forever).
    *
    * Shape at scale: k passes, each ONE codegen'd projection updating
    * a single running double per row (pinned by `materialize` so
    * round r never replays rounds 1..r−1) + a distributed top-1
    * (partial TakeOrdered per partition, one row to the driver). The
    * selected centers are k rows of driver metadata (the IVF-centroid
    * contract); nothing all-pairs, nothing collect()ed but the picks.
    * `trainFraction` < 1 selects from a deterministic hash-sample —
    * the FAISS training-sliver recipe — for corpora where even k
    * linear passes should not touch every row.
    */
  def kCenterSelect(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      trainFraction: Double = 1.0): DataFrame = {
    require(k >= 1 && k <= 4096, "k in [1, 4096]")
    require(trainFraction > 0 && trainFraction <= 1, "trainFraction in (0,1]")
    val spark = df.sparkSession
    // a NULL vector has no position: filter it, or its NULL distance
    // lane would ride every round's least() and orderBy
    val all = df.select(id.as("id"), transform(vec, x => x.cast("double")).as("v"))
      .filter(col("v").isNotNull)
    val base = (if (trainFraction < 1.0) Sampling.hashSample(all, col("id"), trainFraction)
                else all)
      .withColumn("__vv", dot(col("v"), col("v")))
    val idType = base.schema("id").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("gap", org.apache.spark.sql.types.DoubleType)))
    val seedRows = base.groupBy(col("v")).agg(min(col("id")).as("id"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc).limit(1)
      .select(col("id"), col("v")).collect()
    if (seedRows.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    var center = seedRows.head.getSeq[Double](1).toArray
    val picks = Seq.newBuilder[org.apache.spark.sql.Row]
    picks += org.apache.spark.sql.Row(0, seedRows.head.get(0), null)
    var cur = base
      .withColumn("__dm", lit(Double.PositiveInfinity))
      .transform(materialize(_))
    var r = 1
    var exhausted = false
    while (r < k && !exhausted) {
      val cn = center.map(x => x * x).sum
      cur = cur.withColumn("__dm", least(col("__dm"),
          lit(cn) - dot(col("v"), array(center.map(lit): _*)) * 2d + col("__vv")))
        .transform(materialize(_))
      val top = cur.orderBy(col("__dm").desc, col("id").asc).limit(1)
        .select(col("id"), col("v"), col("__dm")).collect()
      if (top.isEmpty || top.head.getDouble(2) <= 0.0) exhausted = true
      else {
        picks += org.apache.spark.sql.Row(r, top.head.get(0),
          math.floor(top.head.getDouble(2) * 1e4) / 1e4)
        center = top.head.getSeq[Double](1).toArray
        r += 1
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(picks.result(), 1), outSchema)
  }
}
