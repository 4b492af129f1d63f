package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity}

/** Planted-duplicate exactness for the seeded-hash dedup/ANN operators
  * (the ones without a portable DuckDB twin).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sources.Tables.load(spark, sf, "documents")
    .select(col("doc_id").as("id"), col("text")).limit(100).cache()

  test("minHashSignatures (one-pass kernel) is bit-identical to the explode construction") {
    // the retired explode + 64-min-aggregate form, rebuilt inline as the
    // reference; real documents exercise unicode, punctuation, short docs
    import graft.functions.{minHashPrime, minHashParams, shingles, tokens}
    val numHashes = 64
    val params = minHashParams(numHashes, 42L)
    val exploded = docs
      .select(col("id"),
        explode(array_distinct(shingles(tokens(col("text")), 5))).as("s"))
      .select(col("id"), pmod(xxhash64(col("s")), lit(minHashPrime)).as("h"))
    val minCols = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(minHashPrime))).as(s"__m$i")
    }
    val reference = exploded.groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val kernel = Dedup.minHashSignatures(docs, col("id"), col("text"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel.keySet == reference.keySet,
      s"doc coverage diverged: ${(kernel.keySet diff reference.keySet).take(3)} / ${(reference.keySet diff kernel.keySet).take(3)}")
    val diverged = kernel.keys.filter(k => kernel(k) != reference(k))
    assert(diverged.isEmpty, s"signatures diverged for docs ${diverged.take(3)}")
  }

  test("sortedNeighborhood pairs each row with exactly its w predecessors per block") {
    val rows = Seq(
      (1L, "a", "X"), (2L, "b", "X"), (3L, "c", "X"), (4L, "d", "X"),
      (5L, "a", "Y"), // other block: must never pair with block X
      (10L, "same", "Z"), (11L, "same", "Z")) // key tie: id breaks it
      .toDF("id", "k", "blk")
    val pairs = Dedup.sortedNeighborhood(rows, col("id"), col("k"), col("blk"), window = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set(
      (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), // window-2 chain in X
      (10L, 11L)), // tie ordered by id
      s"got $pairs")
  }

  test("minHashLSHVerified = LSH candidates filtered by independent exact jaccard") {
    import graft.functions.{shingles, tokens}
    val trunc = docs.select(
      (col("id") + 1000000).as("id"),
      array_join(
        flatten(transform(array(tokens(col("text"))), tk =>
          slice(tk, lit(1), greatest(floor(size(tk) * 4 / 5), lit(1)).cast("int")))),
        " ").as("text"))
    val corpus = docs.unionByName(trunc)
    val verified = Dedup.minHashLSHVerified(corpus, col("id"), col("text"),
        estThreshold = 0.4, jaccardThreshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // independent reference: candidates from the SAME seeded LSH,
    // confirmed by a from-scratch exact jaccard over shingle sets
    val cand = Dedup.minHashLSH(corpus, col("id"), col("text"), threshold = 0.4)
      .select("id_a", "id_b")
    val sh = corpus.select(col("id"),
      array_distinct(shingles(tokens(col("text")), 5)).as("sh"))
    val reference = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      .withColumn("j",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(round(col("j"), 4) >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified == reference,
      s"onlyVerified=${(verified -- reference).take(5)} onlyRef=${(reference -- verified).take(5)}")
    // and the planted truncation pairs survive the precision stage
    val planted = verified.count { case (a, b) => b == a + 1000000 }
    assert(planted >= 90, s"only $planted/100 planted pairs survived verification")
  }

  test("minHashLSH recovers word-truncation near-dups with high recall") {
    val trunc = docs.select(
      (col("id") + 1000000).as("id"),
      array_join(
        slice(graft.functions.tokens(col("text")), lit(1),
          greatest(floor(size(graft.functions.tokens(col("text"))) * 4 / 5), lit(1)).cast("int")),
        " ").as("text"))
    val pairs = Dedup.minHashLSH(docs.unionByName(trunc), col("id"), col("text"),
        numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.4)
      .collect()
    val planted = pairs.count(r => r.getLong(1) == r.getLong(0) + 1000000)
    // 80%-token overlap → shingle jaccard ≈ 0.7; 16 bands of 4 rows
    // detect that with prob ≈ 1-(1-0.7^4)^16 ≈ 0.99 per pair.
    assert(planted >= 90, s"recovered only $planted/100 planted near-dup pairs")
    // estimates must be real jaccard estimates, not degenerate 1.0
    assert(pairs.forall(r => r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0))
  }

  test("minHashLSH maxBucket drops degenerate boilerplate buckets (no quadratic blowup)") {
    // 200 byte-identical "boilerplate" docs: every band bucket holds all
    // 200 → C(200,2)=19900 pairs if unguarded. maxBucket=50 must drop
    // them while the genuine near-dup pair (one truncated doc) survives.
    val boiler = spark.range(200).selectExpr(
      "id",
      "'the quick brown fox jumps over the lazy dog and runs far away today' AS text")
    val real = Seq(
      (1000L, "completely different content words alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "completely different content words alpha beta gamma delta epsilon zeta eta"))
      .toDF("id", "text")
    val pairs = Dedup.minHashLSH(boiler.unionByName(real), col("id"), col("text"),
        numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.4, maxBucket = 50)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 1000L && r.getLong(1) == 1001L),
      s"planted near-dup pair lost: ${pairs.take(5).toSeq}")
    assert(!pairs.exists(r => r.getLong(0) < 200L && r.getLong(1) < 200L),
      "boilerplate bucket produced pairs despite maxBucket cap")
  }

  test("simHash finds appended-token near-dups within hamming 3") {
    val pert = docs.select(
      (col("id") + 1000000).as("id"),
      concat(col("text"), lit(" zzz")).as("text"))
    val pairs = Dedup.simHash(docs.unionByName(pert), col("id"), col("text"), maxDist = 3)
      .collect()
    val planted = pairs.count(r => r.getLong(1) == r.getLong(0) + 1000000)
    assert(planted >= 60, s"recovered only $planted/100 planted simhash pairs")
    assert(pairs.forall(r => r.getInt(2) <= 3))
  }

  test("hammingPairsBipartite of a frame against itself, one orientation, equals hammingPairs") {
    val pert = docs.select(
      (col("id") + 1000000).as("id"),
      concat(col("text"), lit(" zzz")).as("text"))
    val sigs = Dedup.simHashSignatures(docs.unionByName(pert), col("id"), col("text"))
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getInt(2))).toSet
    val self = triples(Dedup.hammingPairs(sigs, maxDist = 3, nChunks = 4))
    val bipartite = triples(Dedup.hammingPairsBipartite(sigs, sigs, maxDist = 3, nChunks = 4)
      .filter(col("shard_id") < col("corpus_id")))
    assert(self.size >= 60, s"only ${self.size} pairs: the planted near-dups went missing")
    assert(bipartite == self,
      s"only bipartite: ${(bipartite -- self).take(5)}; only self: ${(self -- bipartite).take(5)}")
  }

  test("simHash signature is identical for identical token multisets") {
    val sig = docs.select(
      graft.functions.SimHash64.simhash64(graft.functions.tokens(col("text"))).as("s1"),
      graft.functions.SimHash64.simhash64(graft.functions.tokens(col("text"))).as("s2"))
      .collect()
    assert(sig.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("lshTopK: bucket-local, rank-consistent, finds planted near-identical vectors") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // plant a near-identical copy of each query vector (cosine ≈ 0.995)
    val planted = base.filter(col("vec_id") < 5).select(
      (col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.1)), slice(col("v"), 2, 63)).as("v"))
    val e = base.unionByName(planted)
    val q = base.filter(col("vec_id") < 5)
    val lsh = Similarity.lshTopK(e, q, col("vec_id"), col("v"),
        col("vec_id"), col("v"), k = 5, dim = 64, nPlanes = 6)
      .select("query_id", "rank", "vec_id", "cos_sim")
      .as[(Long, Int, Long, Double)].collect()
    assert(lsh.nonEmpty, "LSH returned no candidates")
    // invariant 1: candidates share the query's hyperplane bucket
    val buckets = e.select(col("vec_id"),
        Similarity.hyperplaneBucket(col("v"), 64, 6, 42L).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(lsh.forall { case (qid, _, vid, _) => buckets(qid) == buckets(vid) })
    // invariant 2: per query, ranks are 1..n and cos_sim non-increasing
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length).toSeq)
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // planted copies bucket with their source unless a sign flips on
    // the perturbed component; most must surface at rank 1
    val hits = lsh.count { case (qid, rank, vid, _) => rank == 1 && vid == qid + 1000000 }
    assert(hits >= 3, s"planted near-identical vector found at rank 1 for only $hits/5 queries")
  }

  test("lshTopKMultiProbe: superset of single-probe candidates, recall never lower") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.1)), slice(col("v"), 2, 63)).as("v"))
    val e = base.unionByName(planted)
    val q = base.filter(col("vec_id") < 20)
    def rank1Hits(df: org.apache.spark.sql.DataFrame): Int =
      df.select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
        .count { case (qid, rank, vid) => rank == 1 && vid == qid + 1000000 }
    val single = rank1Hits(Similarity.lshTopK(e, q, col("vec_id"), col("v"),
      col("vec_id"), col("v"), k = 5, dim = 64, nPlanes = 8))
    val multi = rank1Hits(Similarity.lshTopKMultiProbe(e, q, col("vec_id"), col("v"),
      col("vec_id"), col("v"), k = 5, dim = 64, nPlanes = 8))
    // Hamming-1 probing can only ADD candidates: a planted twin split
    // from its query by exactly one flipped sign bit is recovered
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi >= 18, s"multi-probe found only $multi/20 planted twins at rank 1")
  }

  test("rrfFuse: hand-computed fusion, presence in both lists beats either alone") {
    // list A ranks: d1=1, d2=2, d3=3 ; list B ranks: d2=1, d4=2
    val a = Seq((7L, 1L, 1), (7L, 2L, 2), (7L, 3L, 3)).toDF("query_id", "doc_id", "rank")
    val b = Seq((7L, 2L, 1), (7L, 4L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), k0 = 60, topK = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    def lane(rank: Int) = 1000000000000L / (60 + rank)
    // d2: both lists (rank 2 + rank 1) — must out-rank every single-list doc
    assert(out.head == ((1, 2L, lane(2) + lane(1))), s"got ${out.head}")
    assert(out.map(_._2).toSeq == Seq(2L, 1L, 4L, 3L))
    assert(out.map(t => t._2 -> t._3).toMap ==
      Map(2L -> (lane(2) + lane(1)), 1L -> lane(1), 4L -> lane(2), 3L -> lane(3)))
  }

  test("connectedComponents computes transitive closure over a pair list") {
    // chain 1-2-3-4 (diameter 3, never directly paired end-to-end),
    // pair 10-11, and 20-21-22 sharing hub 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val drops = graft.operators.Dedup.clusterDuplicates(pairs, col("id_a"), col("id_b"))
      .select("drop_id").as[Long].collect().toSet
    assert(drops == Set(2L, 3L, 4L, 11L, 21L, 22L))
  }

  test("IVF index persists: stored centroids + assignment probe to the same answer") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = base.filter(col("vec_id") < 10)
    val trained = Similarity.trainIvfCentroids(base, col("vec_id"), col("v"), 16)
    // round-trip the quantizer AND the assignment table through parquet
    // (the incremental lifecycle: train once, store, probe many)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.centroidsToDf(spark, trained).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    Similarity.ivfAssign(base, col("vec_id"), col("v"), trained)
      .write.mode("overwrite").parquet(s"$dir/assign")
    val restored = Similarity.centroidsFromDf(spark.read.parquet(s"$dir/centroids"))
    assert(restored.map(_.toSeq).toSeq == trained.map(_.toSeq).toSeq,
      "centroids round-trip changed values")
    val stored = Similarity.ivfProbe(spark.read.parquet(s"$dir/assign"),
        restored, queries, col("vec_id"), col("v"), k = 5, nProbe = 4)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val oneShot = Similarity.ivfTopK(base, queries, col("vec_id"), col("v"),
        col("vec_id"), col("v"), k = 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(stored == oneShot, "stored-index probe != one-shot ivfTopK")
  }

  test("ivfTopK: deterministic training, high recall vs brute force on probed buckets") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = base.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(base, queries, col("vec_id"), col("v"),
        col("vec_id"), col("v"), k = 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    val brute = Similarity.bruteForceTopK(base, queries, col("vec_id"), col("v"),
        col("vec_id"), col("v"), k = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    // determinism: training twice yields the same result set
    val again = Similarity.ivfTopK(base, queries, col("vec_id"), col("v"),
        col("vec_id"), col("v"), k = 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    assert(ivf.toSet == again.toSet, "IVF training is not deterministic")
    // recall@5 vs exact top-1: the true nearest neighbor should be in
    // the IVF top-5 for most queries (probing 4/16 buckets)
    val top5 = ivf.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val hits = brute.count { case (qid, nn) => top5.getOrElse(qid, Set.empty).contains(nn) }
    assert(hits >= 7, s"IVF recall@5 of exact-NN too low: $hits/10")
    // sample-trained quantizer (the 100 TB path: train on a sliver,
    // assign the full corpus once) still serves a full top-k per query
    val sampled = Similarity.ivfTopK(base, queries, col("vec_id"), col("v"),
        col("vec_id"), col("v"), k = 5, nCentroids = 16, nProbe = 4,
        trainFraction = 0.5)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    assert(sampled.length == 50 && sampled.map(_._1).distinct.length == 10,
      s"sample-trained IVF shape: ${sampled.length} rows")
  }

  test("semanticDedup keeps one survivor per semantic group, singletons intact") {
    // 4 orthogonal base directions in 8-dim; each group = 3 near-copies
    // (cos ≈ 0.99999); ids INTERLEAVED so the lowest-id k-means init
    // (ids 0..3) picks one vector per direction — each direction gets
    // its own cell and copies co-assign
    def vec(dir: Int, eps: Double): Seq[Double] = {
      val v = Array.fill(8)(0.0); v(dir) = 1.0; v((dir + 4) % 8) = eps; v.toSeq
    }
    val groups = (0 until 4).flatMap { g =>
      Seq((g.toLong, vec(g, 0.0)), (g + 100L, vec(g, 0.001)), (g + 200L, vec(g, 0.002)))
    }
    val singles = (4 until 8).map(d => (d + 1000L, vec(d, 0.0)))
    val df = (groups ++ singles).toDF("id", "v")
    val kept = Dedup.semanticDedup(df, col("id"), col("v"),
        threshold = 0.999, nCentroids = 4, iters = 3)
      .select("id").as[Long].collect().toSet
    // min-id winner per group; every singleton untouched
    assert(kept == Set(0L, 1L, 2L, 3L, 1004L, 1005L, 1006L, 1007L), s"got $kept")
  }

  test("semanticDedup with no duplicates is the identity") {
    val df = (0 until 6).map(d => (d.toLong, {
      val v = Array.fill(8)(0.0); v(d % 8) = 1.0; v.toSeq
    })).toDF("id", "v")
    val kept = Dedup.semanticDedup(df, col("id"), col("v"),
        threshold = 0.999, nCentroids = 3, iters = 2)
      .select("id").as[Long].collect().toSet
    assert(kept == (0 until 6).map(_.toLong).toSet)
  }

  test("embeddingCosineLSH recovers planted near-dups with no blocking label") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.select(
      (col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.1)), slice(col("v"), 2, 63)).as("v"))
    val n = base.count()
    val pairs = graft.operators.Dedup.embeddingCosineLSH(
        base.unionByName(planted), col("vec_id"), col("v"), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // every reported pair is genuinely >= threshold by construction;
    // recall: most planted (id, id+1000000) pairs share all 8 sign bits
    val planted_hits = pairs.count { case (a, b) => b == a + 1000000 }
    assert(planted_hits >= (n * 0.8).toInt,
      s"recovered only $planted_hits/$n planted pairs")
    // and the join really was bucket-blocked: bucket of each pair agrees
    val buckets = base.unionByName(planted).select(col("vec_id"),
        Similarity.hyperplaneBucket(col("v"), 64, 8, 42L).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(pairs.forall { case (a, b) => buckets(a) == buckets(b) })
  }

  test("exactIncremental: shard dedups within itself, then against the corpus index only") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text")
    val shard = Seq(
      (10L, "delta"),          // fresh → survives
      (11L, "delta"),          // intra-shard dup of 10 → dropped
      (12L, "beta"),           // already in the corpus → dropped
      (13L, "epsilon")         // fresh → survives
    ).toDF("id", "text")
    val index = graft.operators.Dedup.fingerprintIndex(corpus, col("text"))
    val out = graft.operators.Dedup.exactIncremental(
        shard, col("text"), col("id"), index, col("fp"))
      .select("id").as[Long].collect().toSet
    assert(out == Set(10L, 13L), s"survivors: $out")
    // appending survivors' fingerprints keeps the index current: a
    // re-arrival of "delta" in the next shard must now be dropped
    val index2 = index.unionByName(
      graft.operators.Dedup.fingerprintIndex(
        shard.filter(col("id").isin(10L, 13L)), col("text")))
    val next = Seq((20L, "delta"), (21L, "zeta")).toDF("id", "text")
    val out2 = graft.operators.Dedup.exactIncremental(
        next, col("text"), col("id"), index2, col("fp"))
      .select("id").as[Long].collect().toSet
    assert(out2 == Set(21L), s"second-shard survivors: $out2")
  }

  test("connectedComponentsStar: 10k-node path graph in O(log n) rounds, agrees with min-label CC") {
    // a 10,000-node chain has diameter 9,999 — min-label propagation
    // would need ~10k rounds; the alternating star algorithm must
    // finish inside 15
    val chain = spark.range(0, 9999).selectExpr("id as a", "id + 1 as b")
    val cc = graft.operators.Dedup.connectedComponentsStar(
      chain, col("a"), col("b"), maxIter = 15)
    assert(cc.count() == 10000)
    assert(cc.filter(col("comp") =!= 0L).count() == 0,
      "every chain node must label to the component min")

    // agreement with the min-label variant on a multi-component graph
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("a", "b")
    val star = graft.operators.Dedup.connectedComponentsStar(pairs, col("a"), col("b"))
      .as[(Long, Long)].collect().toSet
    val label = graft.operators.Dedup.connectedComponents(pairs, col("a"), col("b"))
      .as[(Long, Long)].collect().toSet
    assert(star == label, s"star $star != min-label $label")
  }

  test("connectedComponents fails loudly when the diameter exceeds maxIter") {
    // a 7-node chain needs more than 2 min-label rounds; silent
    // non-convergence would leave several "representatives" per
    // cluster and let duplicates survive
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    val err = intercept[IllegalStateException] {
      graft.operators.Dedup.connectedComponents(
        chain, col("a"), col("b"), maxIter = 2).collect()
    }
    assert(err.getMessage.contains("did not converge"))
    // with enough rounds the same chain converges to one component
    val ok = graft.operators.Dedup.connectedComponents(
        chain, col("a"), col("b"), maxIter = 20)
      .select("comp").as[Long].collect()
    assert(ok.toSet == Set(1L))
  }

  test("exactIncrementalBloom is row-identical to exactIncremental on real documents") {
    // corpus = even docs, shard = odd docs + planted copies of the
    // corpus + intra-shard dups; the bloom path must keep EXACTLY the
    // rows the exact path keeps (no false negatives by construction,
    // false positives removed by the confirm join)
    val d = docs
    val corpus = d.filter(col("id") % 2 === 0)
    val shard = d.filter(col("id") % 2 === 1)
      .unionByName(corpus.select((col("id") + 1000000).as("id"), col("text")))
      .unionByName(d.filter(col("id") % 2 === 1)
        .select((col("id") + 2000000).as("id"), col("text")))
    val index = graft.operators.Dedup.fingerprintIndex(corpus, col("text"))
    val exact = graft.operators.Dedup.exactIncremental(
      shard, col("text"), col("id"), index, col("fp"))
      .select("id").as[Long].collect().toSet
    val bloom = graft.operators.Dedup.exactIncrementalBloom(
      shard, col("text"), col("id"), index, col("fp"), fpp = 0.05)
      .select("id").as[Long].collect().toSet
    assert(bloom == exact,
      s"bloom path diverged: onlyBloom=${(bloom -- exact).take(5)} onlyExact=${(exact -- bloom).take(5)}")
    assert(exact.nonEmpty && exact.forall(_ % 2 == 1))
  }

  test("auditPairs: hand-computed precision/recall, orientation/duplicate-proof, empty-safe") {
    // truth: {1-2, 3-4, 5-6}; found: {2-1 (hit, reversed), 3-4 (hit,
    // duplicated), 7-8 (false positive)} -> P=2/3, R=2/3
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val found = Seq((2L, 1L), (3L, 4L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val r = graft.operators.Dedup.auditPairs(found, truth).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 3L, 2L)))
    assert(r.getDouble(3) == 0.6666 && r.getDouble(4) == 0.6666)
    assert(r.getDouble(5) == 0.6666, s"f1 ${r.getDouble(5)}")
    // empty found: zero precision/recall, no divide-by-zero
    val e = graft.operators.Dedup.auditPairs(
      truth.limit(0), truth).head()
    assert(e.getLong(0) == 0L && e.getDouble(3) == 0.0 && e.getDouble(5) == 0.0)
  }

  test("sketch-tier audits: pigeonhole tiers exactly match brute Hamming; winnow recall vs Jaccard truth is 1.0") {
    // the registered audit queries on the sf0.001 fixture: the
    // structural claims become measured floors, not arguments
    val sim = SparkEntry.queries("q_audit_simhash")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    assert(sim("simhash_vs_brute_hamming") == ((1.0, 1.0)),
      s"4x16 chunk blocking must equal brute Hamming at radius 3: $sim")
    val win = SparkEntry.queries("q_audit_winnow")(spark, sf).head()
    // the substring guarantee (any shared run >= w+k-1 chars forces a
    // shared fingerprint) is weakened only by the dfCap dropping
    // boilerplate fingerprints — measured 0.99 at sf0.001; floor 0.95
    assert(win.getAs[Double]("recall") >= 0.95,
      s"winnow recall collapsed vs Jaccard>=0.7 truth: $win")
    assert(win.getAs[Long]("n_truth") > 0, s"degenerate audit (no truth pairs): $win")
    val med = SparkEntry.queries("q_audit_media_hamming")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    assert(med("dhash_vs_brute_hamming") == ((1.0, 1.0)) &&
      med("audio_vs_brute_hamming") == ((1.0, 1.0)),
      s"8x8 chunk blocking must equal brute Hamming at radius 6: $med")
  }

  test("simHashIncremental: shard-vs-index pairs equal the batch cross pairs") {
    val d = docs
    val corpus = d.filter(col("id") < 30)
    // shard: perturbed renditions of corpus docs (one appended token ->
    // small Hamming distance) plus fresh far docs
    val shard = corpus.select((col("id") + 1000L).as("id"),
        concat(col("text"), lit(" zzz")).as("text"))
      .unionByName(d.filter(col("id") >= 30 && col("id") < 40))
    val index = graft.operators.Dedup.simHashSignatures(corpus, col("id"), col("text"))
    val incr = graft.operators.Dedup.simHashIncremental(
        shard, col("id"), col("text"), index, maxDist = 3)
      .select("shard_id", "corpus_id").as[(Long, Long)].collect().toSet
    // ground truth: batch simHash over corpus+shard, keeping only
    // cross pairs (one endpoint in each side)
    val cross = graft.operators.Dedup.simHash(
        corpus.unionByName(shard), col("id"), col("text"), maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 < 30 && p._2 >= 30).map(p => (p._2, p._1)) // one endpoint per side
    assert(incr == cross, s"onlyIncr=${(incr -- cross).take(5)} onlyBatch=${(cross -- incr).take(5)}")
    assert(incr.nonEmpty)
  }

  test("minHashLSHIncremental pairs a shard against the stored corpus signature index") {
    // corpus signatures built once (the persistable index); the shard is
    // a truncated rendition of every corpus doc and must pair with it
    val corpusSigs = graft.operators.Dedup.minHashSignatures(
      docs, col("id"), col("text"))
    val shard = docs.select(
      (col("id") + 1000000).as("id"),
      array_join(
        slice(graft.functions.tokens(col("text")), lit(1),
          greatest(floor(size(graft.functions.tokens(col("text"))) * 4 / 5), lit(1)).cast("int")),
        " ").as("text"))
    val pairs = graft.operators.Dedup.minHashLSHIncremental(
        shard, col("id"), col("text"), corpusSigs, threshold = 0.4)
      .select("shard_id", "corpus_id").as[(Long, Long)].collect()
    val planted = pairs.count { case (sId, cId) => sId == cId + 1000000 }
    assert(planted >= 90, s"recovered only $planted/100 planted shard-corpus pairs")
    // bipartite orientation: shard ids on the left, corpus ids on the right
    assert(pairs.forall { case (sId, cId) => sId >= 1000000 && cId < 1000000 })
    // and the incremental path must agree with batch minHashLSH run over
    // corpus ∪ shard, restricted to cross pairs (same family, same seed)
    val batch = graft.operators.Dedup.minHashLSH(
        docs.unionByName(shard), col("id"), col("text"), threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .collect { case (a, b) if a < 1000000 && b >= 1000000 => (b, a) }
      .toSet
    assert(pairs.toSet == batch, "incremental pairs != batch cross pairs")
  }

  test("exactKeepWithin: burst keeps its first row; re-publication after the window survives") {
    // same content at t=0 (keep), 50 (suppressed), 90 (suppressed —
    // chained: 40 from previous), 300 (keep: gap 210 > 100);
    // different content always kept
    val df = Seq(
      (1L, 0L, "a"), (2L, 50L, "a"), (3L, 90L, "a"), (4L, 300L, "a"),
      (5L, 60L, "b")
    ).toDF("id", "t", "txt")
    val kept = Dedup.exactKeepWithin(df, col("txt"), col("id"), col("t"), windowUs = 100L)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L), kept.toString)
  }

  test("exactKeepWithin: null timestamps collapse to one survivor, not a free pass") {
    // lag() is null both for "first row" and "previous ts was null" —
    // the sentinel mapping must suppress null-ts duplicates after the
    // first and keep real-ts rows (astronomical gap from the sentinel)
    val df = Seq(
      (1L, None, "a"), (2L, None, "a"), (3L, Some(100L), "a"),
      (4L, None, "b")
    ).toDF("id", "t", "txt")
    val kept = Dedup.exactKeepWithin(df, col("txt"), col("id"), col("t"), windowUs = 100L)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L), kept.toString)
  }

  test("editDistancePairs: planted single edits found via suffix block, far strings not") {
    val rows = Seq(
      (1L, "data pipeline alpha"), (2L, "data pipeline alphA"),   // dist 1, edit at tail
      (3L, "machine learning set"), (4L, "machine learning sXt"), // dist 1, edit near tail
      (5L, "completely different")
    ).toDF("id", "t")
    // edits sit in the SUFFIX zone, so block on the PREFIX (the
    // operator takes any caller-chosen block expression)
    val pairs = Dedup.editDistancePairs(rows, col("id"), col("t"),
        block = substring(col("t"), 1, 4), maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)), pairs.toString)
  }

  test("editDistancePairs: a saturated block fails LOUDLY with its pair count") {
    // 6 rows land in one block: 15 candidate pairs > maxBlockPairs=10
    val rows = (1 to 6).map(i => (i.toLong, s"same prefix $i")).toDF("id", "t")
    val e = intercept[Exception] {
      Dedup.editDistancePairs(rows, col("id"), col("t"),
          block = substring(col("t"), 1, 4), maxDist = 2,
          maxBlockPairs = 10L)
        .collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("SATURATED") && msg.contains("15"),
      s"expected the loud block-mass failure, got: $msg")
    // the TOTAL-mass guard fires even when no single block is hot:
    // 4 blocks x 3 rows = 12 pairs total, each block only 3
    val spread = (0 until 12).map(i =>
      (i.toLong, s"blk${i % 4} item $i")).toDF("id", "t")
    val e2 = intercept[Exception] {
      Dedup.editDistancePairs(spread, col("id"), col("t"),
          block = substring(col("t"), 1, 4), maxDist = 2,
          maxBlockPairs = 5L, maxTotalPairs = 10L)
        .collect()
    }
    val msg2 = e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("block space SATURATED") && msg2.contains("12"),
      s"expected the total-mass failure, got: $msg2")
    // under the caps the guard passes rows through untouched
    val ok = Dedup.editDistancePairs(rows, col("id"), col("t"),
        block = substring(col("t"), 1, 4), maxDist = 2,
        maxBlockPairs = 15L)
      .collect()
    assert(ok.length == 15, s"all dist-1 pairs of the block: ${ok.length}")
  }

  test("duplicatedNgramTrim excises shared spans, keeps unique prose, short docs pass") {
    val docs = Seq(
      (1L, "alpha beta gamma all rights reserved today"),
      (2L, "delta epsilon zeta all rights reserved today"),
      (3L, "unique content entirely its own here"),
      (4L, "too short")
    ).toDF("id", "text")
    val out = Dedup.duplicatedNgramTrim(docs, col("id"), col("text"),
        n = 3, minDf = 2)
      .orderBy("doc_id").collect()
    // the shared 4-token tail ("all rights reserved today") spans two
    // duplicated trigrams covering exactly those 4 positions
    assert(out(0).getAs[String]("trimmed_text") == "alpha beta gamma" &&
      out(0).getAs[Long]("n_dropped") == 4L, out(0).toString)
    assert(out(1).getAs[String]("trimmed_text") == "delta epsilon zeta")
    // unique doc untouched
    assert(out(2).getAs[Long]("n_dropped") == 0L &&
      out(2).getAs[String]("trimmed_text") == "unique content entirely its own here")
    // sub-n doc passes through whole
    assert(out(3).getAs[Long]("n_dropped") == 0L &&
      out(3).getAs[String]("trimmed_text") == "too short")
  }

  test("cvFolds: cluster members share a fold, singletons deterministic, folds in range") {
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.cvFolds(docs, col("id"), pairs, col("id_a"), col("id_b"),
        k = 4).collect()
    val byId = out.map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("cluster"), r.getAs[Int]("fold"))).toMap
    // chain 1-2-3 is one cluster -> one fold; pair 10-11 likewise
    assert(Set(byId(1L), byId(2L), byId(3L)).size == 1, byId.toString)
    assert(byId(10L) == byId(11L))
    assert(out.forall(r => r.getAs[Int]("fold") >= 0 && r.getAs[Int]("fold") < 4))
    // deterministic across runs
    val out2 = Dedup.cvFolds(docs, col("id"), pairs, col("id_a"), col("id_b"),
        k = 4).collect()
    assert(out.map(_.toString).sorted.toSeq == out2.map(_.toString).sorted.toSeq)
    // every fold is populated at this size (hash balance sanity)
    assert(out.map(_.getAs[Int]("fold")).distinct.length == 4)
  }

  test("cvFolds rejects non-integral doc ids loudly (r15 advice)") {
    // a string doc id would cast to NULL in the singleton fallback and
    // silently emit NULL cluster/fold rows; the docs side must fail as
    // loudly as the pairs side already does
    val docs = Seq(("a", "doc a"), ("b", "doc b")).toDF("id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.cvFolds(docs, col("id"), pairs, col("id_a"), col("id_b"), k = 3)
    }
    assert(e.getMessage.contains("cvFolds"), e.getMessage)
  }

  test("dropBoilerplateLines drops high-df lines via NORMALIZED matching, keeps the rest") {
    // the footer appears in 3/4 docs with varying case/punctuation;
    // content lines are unique per doc
    val lines = Seq(
      (1L, 0, "unique prose one"), (1L, 1, "All Rights Reserved."),
      (2L, 0, "unique prose two"), (2L, 1, "all   rights reserved"),
      (3L, 0, "unique prose three"), (3L, 1, "ALL RIGHTS RESERVED!!"),
      (4L, 0, "unique prose four")
    ).toDF("id", "line_no", "line")
    val kept = Dedup.dropBoilerplateLines(lines,
        col("id"), col("line_no"), col("line"), maxDocFrac = 0.5)
      .select("id", "line_no").as[(Long, Int)].collect().toSet
    assert(kept === Set((1L, 0), (2L, 0), (3L, 0), (4L, 0)),
      s"expected only content lines to survive, got $kept")
  }

  test("dedupSpans keeps the first occurrence of every repeated k-gram, strips the rest") {
    val df = Seq(
      (1L, "a b c d e f g h"),            // first everywhere: intact
      (2L, "p q r c d e f s t u"),        // shares "c d e f" with doc 1
      (3L, "x y z w x y z w"),            // repeats its OWN text
      (4L, "m n o p2 q2 r2"),             // unique: intact, ratio 0
      (5L, "a b c d e f g h"),            // exact copy of doc 1: emptied
      (6L, "hi")                          // shorter than k: intact
    ).toDF("id", "text")
    val out = Dedup.dedupSpans(df, col("id"), col("text"), k = 4)
      .select("id", "n_tokens", "n_dup_tokens", "dup_ratio", "cleaned_text")
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 8L, 0L, 0.0, "a b c d e f g h")), s"${out(1L)}")
    assert(out(2L) === ((2L, 10L, 4L, 0.4, "p q r s t u")), s"${out(2L)}")
    assert(out(3L) === ((3L, 8L, 4L, 0.5, "x y z w")), s"${out(3L)}")
    assert(out(4L) === ((4L, 6L, 0L, 0.0, "m n o p2 q2 r2")), s"${out(4L)}")
    assert(out(5L) === ((5L, 8L, 8L, 1.0, "")), s"full duplicate must empty: ${out(5L)}")
    assert(out(6L) === ((6L, 1L, 0L, 0.0, "hi")), s"${out(6L)}")
  }

  test("dedupSpans removes a long repeated run entirely from the later copy via overlapping k-grams") {
    // a 10-token boilerplate inside two otherwise-distinct docs: the
    // run is longer than k=4, so only overlapping k-grams witness it —
    // the whole run must still vanish from doc 11 and survive in doc 10
    val run = "one two three four five six seven eight nine ten"
    val df = Seq(
      (10L, s"alpha $run omega"),
      (11L, s"beta gamma $run delta")).toDF("id", "text")
    val out = Dedup.dedupSpans(df, col("id"), col("text"), k = 4)
      .select("id", "cleaned_text").as[(Long, String)].collect().toMap
    assert(out(10L) === s"alpha $run omega", s"first copy intact: ${out(10L)}")
    assert(out(11L) === "beta gamma delta", s"later copy stripped: ${out(11L)}")
  }

  test("prefixFilterJaccard equals all-pairs exact jaccard; finds the pair the df-cap drops") {
    // a boilerplate phrase shared by EVERY doc: its shingles have
    // df = 27 > ngramJaccard's dfCap of 20
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val docs =
      Seq((100L, boiler), (101L, boiler),                       // identical, common-only shingles
        (200L, "one two three four five six seven eight nine ten"),
        (201L, "one two three four five six seven eight nine zzz")) ++ // near pair
        (1 to 23).map(i => (i.toLong, s"filler$i junk$i noise$i word$i extra$i $boiler"))
    val df = docs.toDF("id", "text")
    // brute force: replicate tokens -> 5-gram shingle sets in Scala
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.replaceAll("[^\\p{L}\\p{Nd}\\s]", " ")
        .split("\\s+").filter(_.nonEmpty)
      if (toks.length < 5) Set.empty
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (i, t) => i -> shingleSet(t) }.toMap
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (a, b)).toSet
    val got = graft.operators.Dedup.prefixFilterJaccard(df, col("id"), col("text"),
        n = 5, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected, s"prefix join ${got.size} pairs != brute force ${expected.size}")
    assert(got.contains((100L, 101L)), "common-shingle-only pair must be found")
    // the df-capped tier structurally misses that pair — the exactness gap
    val capped = graft.operators.Dedup.ngramJaccard(df, col("id"), col("text"),
        n = 5, dfCap = 20, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.contains((100L, 101L)))
  }

  test("keepBestPerCluster keeps the best-scoring member; missing scores rank last") {
    // chain cluster {1,2,3}: 2 and 3 tie on score, min id 2 wins;
    // cluster {10,11}: 11 has no score row → 10 wins by default;
    // 99 is unpaired → appears nowhere
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1), (99L, 1.0))
      .toDF("id", "q")
    val out = graft.operators.Dedup.keepBestPerCluster(
        pairs, col("a"), col("b"), scores, col("id"), col("q"))
      .orderBy("drop_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (3L, 2L), (11L, 10L)))
    // contrast: the min-id policy would have kept 1, not 2
    val minId = graft.operators.Dedup.clusterDuplicates(pairs, col("a"), col("b"))
      .filter(col("keep_id") === 1L).count()
    assert(minId == 2L)
  }

  test("contaminationEmbedding multi-probe catches a pair straddling ONE hyperplane") {
    // construct a corpus/probe pair with cosine ~1 whose buckets differ
    // in exactly one sign bit: project a direction onto plane 0, then
    // nudge ±ε along plane 0's normal. Single-bucket blocking is
    // structurally blind to this pair; Hamming-1 multi-probe must not be.
    val dim = 8; val nPlanes = 4; val seed = 42L
    val planes = Similarity.hyperplanes(dim, nPlanes, seed)
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    // pick a deterministic base direction whose dots with planes 1..3
    // are far from zero, so only bit 0 is unstable near the boundary
    val u = (0 until 16).map { c =>
      (0 until dim).map(i => math.cos(c + i * 0.7) + 0.1).toSeq
    }.find { cand =>
      val p0 = planes(0).toSeq
      val onPlane = cand.zip(p0).map { case (x, p) => x - dot(cand, p0) / dot(p0, p0) * p }
      planes.drop(1).forall(p => math.abs(dot(onPlane, p.toSeq)) > 0.05)
    }.get
    val p0 = planes(0).toSeq
    val onPlane = u.zip(p0).map { case (x, p) => x - dot(u, p0) / dot(p0, p0) * p }
    val eps = 1e-7
    val vPlus = onPlane.zip(p0).map { case (x, p) => x + eps * p }
    val vMinus = onPlane.zip(p0).map { case (x, p) => x - eps * p }
    // prove the pair actually straddles plane 0 (buckets differ in bit 0)
    def bucket(v: Seq[Double]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        if (dot(v, p.toSeq) > 0) 1L << i else 0L }.sum
    assert((bucket(vPlus) ^ bucket(vMinus)) == 1L,
      s"test setup: buckets ${bucket(vPlus)} / ${bucket(vMinus)} must differ in bit 0 only")
    val corpus = Seq((1L, vPlus)).toDF("id", "v")
    val probes = Seq(Tuple1(vMinus)).toDF("pv")
    val flagged = Dedup.contaminationEmbedding(corpus, col("id"), col("v"),
        probes, col("pv"), threshold = 0.99, dim = dim, nPlanes = nPlanes, seed = seed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L), "straddling pair missed despite multi-probe")
    // a (doc, probe) pair matches through at most one probe bucket —
    // never double-counted
    assert(flagged(1L) == 1L, s"hit count: ${flagged(1L)}")
  }

  test("cluster operators refuse non-integral ids loudly") {
    val strPairs = Seq(("a", "b")).toDF("x", "y")
    val err = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(strPairs, col("x"), col("y"))
    }
    assert(err.getMessage.contains("integral"))
    val strVecs = Seq(("a", Seq(1.0, 0.0))).toDF("id", "v")
    val err2 = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(strVecs, col("id"), col("v"),
        threshold = 0.99, nCentroids = 1)
    }
    assert(err2.getMessage.contains("integral"))
  }

  test("dropBoilerplateLines keeps lines at or below the frequency cut") {
    // shared line in exactly half the docs — NOT above maxDocFrac=0.5
    val lines = Seq(
      (1L, 0, "shared fact"), (2L, 0, "shared fact"),
      (3L, 0, "own text"), (4L, 0, "other text")
    ).toDF("id", "line_no", "line")
    val kept = Dedup.dropBoilerplateLines(lines,
        col("id"), col("line_no"), col("line"), maxDocFrac = 0.5)
      .count()
    assert(kept === 4L, "df == cut must survive (strict inequality)")
  }

  test("PQ: clustered data quantizes exactly; ADC finds same-pattern rows at distance 0") {
    // 4 distinct dim-16 patterns tiled 50x: with k=4 codewords per
    // subspace the trained codebooks must reproduce every subvector
    // exactly, so codes collapse to 4 distinct arrays and ADC distance
    // within a pattern is exactly 0.
    val patterns = Array(
      Array.tabulate(16)(i => 1.0 + i * 0.5),
      Array.tabulate(16)(i => -2.0 + i * 0.25),
      Array.tabulate(16)(i => 5.0 - i * 0.75),
      Array.tabulate(16)(i => math.pow(-1, i) * (i + 1.0)))
    val rows = (0L until 200L).map(id => (id, patterns((id % 4).toInt).toSeq))
    val df = rows.toDF("vec_id", "v")
    val books = Similarity.trainPqCodebooks(
      df, col("vec_id"), col("v"), dim = 16, m = 4, k = 4, iters = 3)
    val enc = Similarity.pqEncode(df, col("vec_id"), col("v"), books)
    val codes = enc.as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 200)
    assert(codes.values.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 4)))
    // one code array per pattern, shared by all its copies
    assert(codes.values.toSet.size == 4)
    assert((0L until 200L).forall(id => codes(id) == codes(id % 4)))
    val q = df.filter(col("vec_id") === 0)
    val top = Similarity.pqTopK(enc, q, col("vec_id"), col("v"), books, k = 10)
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    // ranks fill with pattern-0 rows (ids 4,8,12,... by tiebreak), all at 0
    assert(top.length == 10)
    assert(top.forall { case (vid, d) => vid % 4 == 0 && d == 0.0 })
    assert(top.map(_._1).toSeq == (1L to 10L).map(_ * 4).toSeq)
  }

  test("PQ: codebooks round-trip through the persistable frame") {
    val df = (0L until 64L).map(id =>
      (id, Array.tabulate(16)(i => math.sin(id * 16.0 + i)).toSeq)).toDF("vec_id", "v")
    val books = Similarity.trainPqCodebooks(
      df, col("vec_id"), col("v"), dim = 16, m = 4, k = 8, iters = 2)
    val back = Similarity.pqCodebooksFromDf(
      Similarity.pqCodebooksToDf(spark, books))
    assert(back.length == books.length)
    assert(books.indices.forall(s =>
      books(s).indices.forall(c => books(s)(c).toSeq == back(s)(c).toSeq)))
  }

  test("IVF-PQ: clustered data routes + quantizes exactly; residuals collapse to zero") {
    // 4 patterns tiled 50x; 4 coarse cells recover the patterns, so
    // every residual is the zero vector, every cell's codes are one
    // array, and in-cell ADC distance is exactly 0
    val patterns = Array(
      Array.tabulate(16)(i => 1.0 + i * 0.5),
      Array.tabulate(16)(i => -2.0 + i * 0.25),
      Array.tabulate(16)(i => 5.0 - i * 0.75),
      Array.tabulate(16)(i => math.pow(-1, i) * (i + 1.0)))
    val rows = (0L until 200L).map(id => (id, patterns((id % 4).toInt).toSeq))
    val df = rows.toDF("vec_id", "v")
    val centroids = Similarity.trainIvfCentroids(
      df, col("vec_id"), col("v"), nCentroids = 4, iters = 3)
    val resid = Similarity.ivfResiduals(df, col("vec_id"), col("v"), centroids)
    // every residual component is 0 (pattern == centroid exactly)
    val maxAbs = resid.select(max(aggregate(col("v"), lit(0.0),
      (acc, x) => greatest(acc, abs(x))))).collect().head.getDouble(0)
    assert(maxAbs == 0.0)
    val books = Similarity.trainPqCodebooks(
      resid, col("id"), col("v"), dim = 16, m = 4, k = 4, iters = 2)
    val index = Similarity.ivfPqIndex(df, col("vec_id"), col("v"), centroids, books)
    val top = Similarity.ivfPqTopK(index, centroids, books,
        df.filter(col("vec_id") === 1), col("vec_id"), col("v"), k = 10, nProbe = 1)
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(top.length == 10)
    assert(top.forall { case (vid, d) => vid % 4 == 1 && d == 0.0 })
  }

  test("clusterQuality: hand-computed silhouette, sigma, and Davies-Bouldin") {
    // c0=(0,0), c1=(10,0); A,B→c0 with a=0,1; C,D→c1 symmetric.
    // s_A = (10-0)/10 = 1; s_B = (9-1)/9 = 8/9 → 0.8888888 at 7 dp;
    // mean_sil = 1.8888888/2 → 0.9444 toward zero; sigma = 0.5 each;
    // DB ratio = (0.5+0.5)/10 = 0.1 for both clusters.
    val df = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(10.0, 0.0)), (4L, Seq(9.0, 0.0))
    ).toDF("id", "v")
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val out = Similarity.clusterQuality(df, col("id"), col("v"), cents)
      .orderBy("cluster").collect()
    assert(out.length == 2)
    for (r <- out) {
      assert(r.getAs[Long]("n") == 2L)
      assert(r.getAs[Double]("mean_silhouette") == 0.9444)
      assert(r.getAs[Double]("sigma") == 0.5)
      assert(r.getAs[Double]("db_r") == 0.1)
    }
  }

  test("clusterQuality: coincident centroids skip the DB pair; ties score 0") {
    // both centroids at the origin: every point assigns to cluster 0
    // (first-min tiebreak), cluster 1 is empty, and cluster 0 has no
    // distinct-centroid peer → db_r NULL; the on-centroid point has
    // a = b = 0 → silhouette 0 by the max(a,b)=0 guard.
    val df = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(2.0, 0.0))).toDF("id", "v")
    val cents = Array(Array(0.0, 0.0), Array(0.0, 0.0))
    val out = Similarity.clusterQuality(df, col("id"), col("v"), cents)
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Int]("cluster") == 0)
    assert(r.getAs[Long]("n") == 2L)
    // s(point at origin) = 0 (guard), s(2,0): a = b = 2 → 0 too
    assert(r.getAs[Double]("mean_silhouette") == 0.0)
    assert(r.isNullAt(r.fieldIndex("db_r")))
    intercept[IllegalArgumentException] {
      Similarity.clusterQuality(df, col("id"), col("v"),
        Array(Array(0.0, 0.0)))
    }
  }

  test("IVF-PQ recovers planted twins on real embeddings; more probes never hurt") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.01)), slice(col("v"), 2, 63)).as("v"))
    val e = base.unionByName(planted).localCheckpoint()
    val centroids = Similarity.trainIvfCentroids(
      e, col("vec_id"), col("v"), nCentroids = 8, iters = 3)
    val books = Similarity.trainPqCodebooks(
      Similarity.ivfResiduals(e, col("vec_id"), col("v"), centroids),
      col("id"), col("v"), dim = 64, m = 8, k = 16, iters = 3)
    val index = Similarity.ivfPqIndex(e, col("vec_id"), col("v"), centroids, books)
      .localCheckpoint()
    val q = base.filter(col("vec_id") < 20)
    def rank1Hits(nProbe: Int): Int =
      Similarity.ivfPqTopK(index, centroids, books, q, col("vec_id"), col("v"),
          k = 5, nProbe = nProbe)
        .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
        .count { case (qid, rank, vid) => rank == 1 && vid == qid + 1000000 }
    val h2 = rank1Hits(2)
    assert(h2 >= 14, s"planted twin at rank 1 for only $h2/20 queries at nProbe=2")
    // widening the probe can only add candidates
    assert(rank1Hits(8) >= h2)
  }

  test("marginalNovelty: copies score 0, disjoint text scores 1, mixtures in between") {
    val ref = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("id", "text")
    val cand = Seq(
      // exact copy of ref doc 1 -> novelty 0
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // fully disjoint -> novelty 1
      (11L, "red orange yellow green blue indigo violet pink brown black"),
      // half ref-1's text + half fresh: some 8-grams covered, some not
      (12L, "alpha beta gamma delta epsilon zeta eta theta fresh words here now")
    ).toDF("id", "text")
    val out = Dedup.marginalNovelty(cand, col("id"), col("text"),
        ref, col("text"), n = 8)
      .orderBy("id").as[(Long, Long, Long, Double)].collect()
    assert(out(0) == ((10L, 3L, 0L, 0.0)))
    assert(out(1)._1 == 11L && out(1)._4 == 1.0)
    assert(out(2)._1 == 12L && out(2)._4 > 0.0 && out(2)._4 < 1.0)
  }

  test("splitByCluster: near-dup pairs never straddle a split; fractions near weights") {
    // 100 docs; pairs chain (3k, 3k+1) -> 2-doc clusters
    val docs = (0L until 100L).toDF("id")
    val pairs = (0L until 99L by 3L).map(k => (k, k + 1)).toDF("id_a", "id_b")
    val out = Dedup.splitByCluster(docs, col("id"), pairs,
        col("id_a"), col("id_b"), Seq("train" -> 0.8, "test" -> 0.2))
      .select(col("id"), col("cluster"), col("split"))
      .as[(Long, Long, String)].collect()
    val split = out.map(r => r._1 -> r._3).toMap
    (0L until 99L by 3L).foreach { k =>
      assert(split(k) == split(k + 1), s"pair ($k, ${k + 1}) straddles splits")
    }
    // both splits populated, in rough proportion
    val n = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(n("train") > 60 && n("test") > 5)
    // paired docs share a cluster label; singletons label themselves
    val cl = out.map(r => r._1 -> r._2).toMap
    assert((0L until 99L by 3L).forall(k => cl(k) == cl(k + 1)))
    assert(cl(2L) == 2L)
  }

  test("ivfHardNegatives: band excludes planted twins and self, sims within band") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < 10).select(
      (col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.001)), slice(col("v"), 2, 63)).as("v"))
    val e = base.unionByName(planted).localCheckpoint()
    val centroids = Similarity.trainIvfCentroids(
      e, col("vec_id"), col("v"), nCentroids = 8, iters = 3)
    val index = Similarity.ivfAssign(e, col("vec_id"), col("v"), centroids)
    val q = base.filter(col("vec_id") < 10)
    val negs = Similarity.ivfHardNegatives(index, centroids, q,
        col("vec_id"), col("v"), simLo = 0.3, simHi = 0.9, k = 5, nProbe = 8)
      .as[(Long, Int, Long, Double)].collect()
    assert(negs.nonEmpty)
    // no self-matches, no near-identical twins (their cosine ~ 1 > 0.9)
    assert(negs.forall { case (qid, _, vid, _) => vid != qid && vid != qid + 1000000 })
    // every returned similarity inside the requested band
    assert(negs.forall { case (_, _, _, s) => s >= 0.3 - 1e-4 && s < 0.9 + 1e-4 })
    // per query at most k, ranks dense from 1
    negs.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= 5 && rs.map(_._2).sorted.toSeq == (1 to rs.length))
    }
  }

  test("lshPlan: hand-computed curve areas, trade direction, recommendation") {
    val plan = Dedup.lshPlan(spark, nPerms = 64, threshold = 0.5)
      .as[(Int, Int, Double, Double, Double, Double, Boolean)].collect()
      .sortBy(_._1)
    // all factorizations of 64, b*r == 64
    assert(plan.map(_._1).toSeq == Seq(1, 2, 4, 8, 16, 32, 64))
    assert(plan.forall(p => p._1 * p._2 == 64))
    // many bands, short rows -> permissive curve: high fp, low fn;
    // one band of 64 rows -> strict: low fp, high fn
    val byB = plan.map(p => p._1 -> p).toMap
    assert(byB(64)._4 > byB(1)._4) // fp grows with bands
    assert(byB(64)._5 < byB(1)._5) // fn shrinks with bands
    // s50 hand-check for b=16, r=4: (1 - 0.5^(1/16))^(1/4)
    val s50 = math.floor(math.pow(1 - math.pow(0.5, 1.0 / 16), 0.25) * 1e6) / 1e6
    assert(byB(16)._3 == s50)
    // exactly one recommended row, and it minimizes cost
    val rec = plan.filter(_._7)
    assert(rec.length == 1)
    assert(rec.head._6 == plan.map(_._6).min)
  }

  test("PQ ADC recovers planted near-identical twins on real embeddings") {
    val base = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.01)), slice(col("v"), 2, 63)).as("v"))
    val e = base.unionByName(planted)
    val books = Similarity.trainPqCodebooks(
      e, col("vec_id"), col("v"), dim = 64, m = 8, k = 16, iters = 3)
    val enc = Similarity.pqEncode(e, col("vec_id"), col("v"), books)
    val q = base.filter(col("vec_id") < 20)
    val top = Similarity.pqTopK(enc, q, col("vec_id"), col("v"), books, k = 5)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    // a twin quantizes to (almost always) the query's own codes, so its
    // ADC distance is the floor; id tiebreak can only demote it below
    // a base vector sharing the exact same codes — rare by construction
    val hits = top.count { case (qid, rank, vid) => rank == 1 && vid == qid + 1000000 }
    assert(hits >= 15, s"planted twin at rank 1 for only $hits/20 queries")
    // compression really happened: 8 int codes per vector
    assert(enc.select(size(col("codes"))).distinct().as[Int].collect().toSeq == Seq(8))
  }

  test("ngramContainment: directional, hand-computed; quote-in-article visible where Jaccard is blind") {
    // A: 20 unique tokens (16 5-grams). B: A's first 10 tokens + 2 new
    // (8 grams, 6 shared). D: exact copy of A. C: unrelated.
    def toks(pre: String, n: Int) = (1 to n).map(i => f"$pre$i%02d").mkString(" ")
    val a = toks("t", 20)
    val b = toks("t", 10) + " " + toks("u", 2)
    val c = toks("z", 20)
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, a)).toDF("id", "text")
    val out = Dedup.ngramContainment(docs, col("id"), col("text"),
        n = 5, dfCap = 20, threshold = 0.7)
      .orderBy("id_inner", "id_outer")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // B-in-A and B-in-D: 6/8 = 0.75; the A/D duplicate pair: both
    // directions at 1.0; reverse directions (6/16) and C: below cut
    assert(out == Seq(
      (1L, 4L, 16L, 16L, 1.0),
      (2L, 1L, 8L, 16L, 0.75),
      (2L, 4L, 8L, 16L, 0.75),
      (4L, 1L, 16L, 16L, 1.0)))
    // the same pair under symmetric Jaccard: 6 / (16 + 8 - 6) = 0.33 —
    // invisible at the same 0.7 cut (the operator's reason to exist)
    val jac = Dedup.ngramJaccard(docs, col("id"), col("text"),
        n = 5, dfCap = 20, threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(jac == Seq((1L, 4L, 1.0)), jac.toString)
  }

  test("embeddingCosineLSH auto plane count: clamps to 8 on small corpora, equals the explicit-8 pairs") {
    val e = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val twins = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("v"))
    val corpus = e.unionByName(twins)
    def pairs(nPlanes: Int) =
      Dedup.embeddingCosineLSH(corpus, col("vec_id"), col("v"),
          threshold = 0.999, nPlanes = nPlanes)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val auto = pairs(0)    // n ~ 2200 -> ceil(log2(22)) = 5 -> clamped to 8
    assert(auto == pairs(8))
    assert(auto.nonEmpty)
  }

  test("contaminationSpans: hand-computed intervals; overlapping and adjacent hits merge, gaps split") {
    val probes = Seq("alpha beta gamma delta epsilon zeta").toDF("ptext")
    val cs = Seq(
      // single embedded probe 5-gram: hit at start 2 only -> span [2, 7)
      (1L, "x1 x2 alpha beta gamma delta epsilon x3 x4"),
      // probe verbatim (hits 0, 1) then a re-quote at 6: 6 <= 1+5 so ALL
      // three hits chain into ONE span covering the whole doc
      (2L, "alpha beta gamma delta epsilon zeta alpha beta gamma delta epsilon"),
      // clean doc: no span rows at all
      (3L, "zeta eta theta iota kappa lambda"),
      // two hits with a real gap (8 > 2+5): two separate spans
      (4L, "mu nu alpha beta gamma delta epsilon nu alpha beta gamma delta epsilon"),
      // too short to shingle: no span rows
      (5L, "alpha beta")).toDF("id", "text")
    val out = Dedup.contaminationSpans(cs, col("id"), col("text"),
        probes, col("ptext"), n = 5)
      .orderBy("id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 7L, 5L, 1L),
      (2L, 0L, 11L, 11L, 3L),
      (4L, 2L, 7L, 5L, 1L),
      (4L, 8L, 13L, 5L, 1L)))
  }

  test("maskContamination: covered positions excised, clean and empty docs pass through") {
    val probes = Seq("alpha beta gamma delta epsilon zeta").toDF("ptext")
    val cs = Seq(
      (1L, "x1 x2 alpha beta gamma delta epsilon x3 x4"),
      (2L, "alpha beta gamma delta epsilon zeta alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa lambda"),
      (4L, "mu nu alpha beta gamma delta epsilon nu alpha beta gamma delta epsilon"),
      (5L, "")).toDF("id", "text")
    val out = Dedup.maskContamination(cs, col("id"), col("text"),
        probes, col("ptext"), n = 5)
      .orderBy("id")
      .as[(Long, Long, Long, Double, String)].collect()
    assert(out(0) == ((1L, 9L, 5L, math.rint(5.0 / 9.0 * 1e4) / 1e4, "x1 x2 x3 x4")))
    assert(out(1) == ((2L, 11L, 11L, 1.0, "")))
    assert(out(2) == ((3L, 6L, 0L, 0.0, "zeta eta theta iota kappa lambda")))
    assert(out(3) == ((4L, 13L, 10L, math.rint(10.0 / 13.0 * 1e4) / 1e4, "mu nu nu")))
    assert(out(4) == ((5L, 0L, 0L, 0.0, "")))
  }

  test("quantizeInt8 hits +/-127 at the extremes, truncates toward zero, flags zero vectors") {
    val vs = Seq(
      (1L, Seq(2.0f, -1.0f, 0.5f, 0.0f)),   // scale = 2/127
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),    // degenerate
      (3L, Seq(-3.0f, 3.0f, 1.0f, -1.0f))   // negative max: |−3| drives scale
    ).toDF("id", "v")
    val out = Similarity.quantizeInt8(vs, col("id"), col("v"))
      .orderBy("vec_id").collect()

    val q1 = out(0).getAs[scala.collection.Seq[Byte]]("qvec")
    assert(q1(0) == 127)                   // the max element maps to exactly 127
    assert(q1(1) == -63)                   // -1/(2/127) = -63.5 → toward zero
    assert(q1(2) == 31)                    // 0.5/(2/127) = 31.75 → 31
    assert(q1(3) == 0)
    assert(out(0).getAs[Double]("scale") == 2.0 / 127.0)
    assert(!out(0).getAs[Boolean]("degenerate"))
    assert(out(0).getAs[Double]("cos_distortion") > 0.999)

    assert(out(1).getAs[Boolean]("degenerate"))
    assert(out(1).getAs[scala.collection.Seq[Byte]]("qvec").forall(_ == 0))
    assert(out(1).getAs[Double]("cos_distortion") == 0.0)

    val q3 = out(2).getAs[scala.collection.Seq[Byte]]("qvec")
    assert(q3(0) == -127 && q3(1) == 127)
    // 1/(3/127) = 42.33 → 42 both signs (toward zero, sign-symmetric)
    assert(q3(2) == 42 && q3(3) == -42)
  }

  test("integer-lane trainers are partition-invariant: 1 vs 32 partitions, bit for bit") {
    // THE claim behind every exact replay oracle shipped this round:
    // distributed sums ride integer micro-unit lanes, so the result
    // cannot depend on partitioning or merge order. Prove it on the
    // three trainer families with adversarial (irrational-ish) values.
    val vs = (1L to 200L).map { i =>
      (i, Seq.tabulate(8)(d =>
        math.sin(i * 0.7 + d * 1.3) * 3.0 + math.cos(i * d * 0.01)))
    }.toDF("id", "v")
    def pc(parts: Int) =
      Similarity.principalComponent(vs.repartition(parts), col("v"), rounds = 6)
        .orderBy("component_pos").collect().map(_.toSeq).toSeq
    assert(pc(1) == pc(32), "principalComponent drifted with partitioning")
    def cents(parts: Int) =
      Similarity.trainIvfCentroids(vs.repartition(parts),
        col("id"), col("v"), nCentroids = 4, iters = 3).map(_.toSeq).toSeq
    assert(cents(1) == cents(32), "Lloyd centroids drifted with partitioning")
    val losses = (1L to 60L).map(i =>
      (s"d${i % 5}", i % 4, math.sin(i.toDouble) * 0.3)).toDF("dom", "st", "x")
    def dw(parts: Int) =
      Sampling.doremiWeights(losses.repartition(parts),
        col("dom"), col("st"), col("x")).orderBy("domain")
        .collect().map(_.toSeq).toSeq
    assert(dw(1) == dw(32), "doremi weights drifted with partitioning")
  }

  test("principalComponent recovers a planted dominant direction with a pinned sign") {
    // spread along e1 (±10) dwarfs the e2 jitter (±0.5)
    val vs = (1 to 40).map { i =>
      val t = if (i % 2 == 0) 10.0f else -10.0f
      val j = (((i * 13) % 7) - 3) / 6.0f
      (i.toLong, Seq(t, j))
    }.toDF("id", "v")
    val pc = Similarity.principalComponent(vs, col("v"), rounds = 10)
      .orderBy("component_pos").collect()
    assert(math.abs(pc(0).getDouble(1)) > 0.999, pc.mkString(","))
    assert(math.abs(pc(1).getDouble(1)) < 0.05)
    // sign pin: the dominant loading is positive
    assert(pc(0).getDouble(1) > 0)
    assert(pc(0).getDouble(2) > 0.99) // eigenvalue share
  }

  test("removeTopComponents projects out the dominant direction (ABTT)") {
    val vs = (1 to 40).map { i =>
      val t = if (i % 2 == 0) 10.0f else -10.0f
      val j = (((i * 13) % 7) - 3) / 6.0f
      (i.toLong, Seq(t, j))
    }.toDF("id", "v")
    val out = Similarity.removeTopComponents(vs, col("id"), col("v"),
      nComponents = 1, rounds = 10).collect()
    out.foreach { r =>
      val c = r.getAs[scala.collection.Seq[Double]]("vec_debiased")
      assert(math.abs(c(0)) < 0.1,
        s"dominant direction survives: $c")
      // ±10 first components: nearly all squared norm was removed
      assert(r.getAs[Double]("removed_share") > 0.95)
    }
  }

  test("quantizeInt8 distortion stays tiny on unit-scale random-ish vectors") {
    val vs = (1L to 50L).map { i =>
      (i, (0 until 64).map(j => (((i * 31 + j * 17) % 101) - 50) / 50.0f))
    }.toDF("id", "v")
    val out = Similarity.quantizeInt8(vs, col("id"), col("v")).collect()
    // int8 on 64-dim vectors: cosine(x, x̂) ≥ 0.9995 in practice
    assert(out.forall(_.getAs[Double]("cos_distortion") >= 0.999))
    assert(out.forall(!_.getAs[Boolean]("degenerate")))
  }

  test("randomProjection: shape, determinism, JL norm preservation, zero vector") {
    import spark.implicits._
    val e = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val p = Similarity.randomProjection(e, col("vec_id"), col("embedding"),
      dim = 64, outDim = 16)
    val rows = p.collect()
    assert(rows.forall(_.getAs[scala.collection.Seq[Double]]("proj").length == 16))
    // JL promise on the unit-norm corpus: every ratio in a sane band,
    // and the MEAN ratio near 1 (Gaussian planes, scale 1/sqrt(16))
    val ratios = rows.map(_.getAs[Double]("norm_ratio"))
    assert(ratios.forall(r => r > 0.2 && r < 2.5), s"ratio out of band")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.85 && mean < 1.15, s"mean norm ratio $mean drifted")
    // determinism: same seed → identical; different seed → different
    val again = Similarity.randomProjection(e, col("vec_id"), col("embedding"),
      dim = 64, outDim = 16).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    val other = Similarity.randomProjection(e, col("vec_id"), col("embedding"),
      dim = 64, outDim = 16, seed = 7L).collect()
    assert(rows.map(_.toSeq).toSet != other.map(_.toSeq).toSet)
    // zero vector: all-zero codes, NULL ratio
    val z = Seq((1L, Array.fill(4)(0.0))).toDF("id", "v")
    val zr = Similarity.randomProjection(z, col("id"), col("v"),
      dim = 4, outDim = 2).collect().head
    assert(zr.getAs[scala.collection.Seq[Double]]("proj").forall(_ == 0.0))
    assert(zr.isNullAt(zr.fieldIndex("norm_ratio")))
    // linearity (projection is linear up to the 6-dp component round):
    // proj(2a) == 2·proj(a) within rounding slack
    val a = Seq((1L, Array(0.5, -0.25, 1.0, 0.0))).toDF("id", "v")
    val a2 = Seq((1L, Array(1.0, -0.5, 2.0, 0.0))).toDF("id", "v")
    val pa = Similarity.randomProjection(a, col("id"), col("v"), 4, 3)
      .collect().head.getAs[scala.collection.Seq[Double]]("proj")
    val pa2 = Similarity.randomProjection(a2, col("id"), col("v"), 4, 3)
      .collect().head.getAs[scala.collection.Seq[Double]]("proj")
    pa.zip(pa2).foreach { case (x, x2) =>
      assert(math.abs(x2 - 2 * x) < 5e-6, s"$x2 vs ${2 * x}") }
  }

  test("entityResolve: fuzzy match within blocks, block isolation, cap, transitivity") {
    import spark.implicits._
    val recs = Seq(
      (1L, "alpha", 10), (2L, "alphx", 10), (3L, "beta", 10),
      (4L, "alpha", 20)) // identical name, DIFFERENT block: no match
      .toDF("id", "nm", "blk")
    val r = Dedup.entityResolve(recs, col("id"), col("nm"), col("blk"),
        maxDist = 1)
      .orderBy("id").as[(Long, Long, Boolean)].collect()
    assert(r.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 3L, true), (4L, 4L, true)))
    // transitivity: aaaa~aaab~aabb chain clusters all three even
    // though the endpoints are 2 edits apart
    val chain = Seq((1L, "aaaa", 1), (2L, "aaab", 1), (3L, "aabb", 1))
      .toDF("id", "nm", "blk")
    val rc = Dedup.entityResolve(chain, col("id"), col("nm"), col("blk"),
        maxDist = 1)
      .select("cluster").distinct().as[Long].collect()
    assert(rc.toSeq == Seq(1L))
    // maxBlock quarantine: an over-cap block pairs nothing; everyone
    // surfaces as their own singleton
    val big = Dedup.entityResolve(chain, col("id"), col("nm"), col("blk"),
        maxDist = 1, maxBlock = 2)
      .orderBy("id").as[(Long, Long, Boolean)].collect()
    assert(big.toSeq == Seq((1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
  }

  test("entityPairs vs levenshteinPairsBrute: blocking recall is the measured gap (C68 audit)") {
    import spark.implicits._
    // pair (1,2): same block, lev 1 — both find it. pair (3,4): lev 1
    // but DIFFERENT blocks — only the brute truth has it. (5,6): same
    // block, lev 2 — neither (the in-join distance check).
    val recs = Seq(
      (1L, "alpha", "b1"), (2L, "alphx", "b1"),
      (3L, "gamma", "b2"), (4L, "gammx", "b3"),
      (5L, "delta", "b4"), (6L, "dxxta", "b4"))
      .toDF("id", "nm", "blk")
    val blocked = Dedup.entityPairs(recs, col("id"), col("nm"), col("blk"),
      maxDist = 1)
    val brute = Dedup.levenshteinPairsBrute(recs, col("id"), col("nm"),
      maxDist = 1)
    assert(blocked.as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    assert(brute.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L)))
    // auditPairs prices the miss: precision 1 (blocked ⊆ brute on the
    // same metric), recall 0.5
    val row = Dedup.auditPairs(blocked, brute).collect()(0)
    assert(row.getAs[Long]("n_found") == 1L && row.getAs[Long]("n_truth") == 2L
      && row.getAs[Double]("precision") == 1.0
      && row.getAs[Double]("recall") == 0.5, row.toString)
    // entityResolve's pair stage IS entityPairs (the refactor contract)
    val viaResolve = Dedup.entityResolve(recs, col("id"), col("nm"),
        col("blk"), maxDist = 1)
      .filter(!col("is_rep")).select("id", "cluster")
      .as[(Long, Long)].collect().toSet
    assert(viaResolve == Set((2L, 1L)))
  }

  test("entityResolveIncremental: min matched cluster, founders, block isolation") {
    import spark.implicits._
    val resolved = Seq(
      (1L, "alpha", "b1", 1L), (2L, "beta", "b1", 2L), (3L, "alphz", "b1", 3L))
      .toDF("id", "nm", "bk", "cl")
    val shard = Seq(
      (10L, "alphx", "b1"), // matches alpha (cl 1) AND alphz (cl 3) -> min 1
      (11L, "gamma", "b1"), // no match -> founds cluster 11
      (12L, "alpha", "b2")) // identical name, different block -> founder
      .toDF("id", "nm", "blk")
    val r = Dedup.entityResolveIncremental(shard, col("id"), col("nm"),
        col("blk"), resolved, col("id"), col("nm"), col("bk"), col("cl"),
        maxDist = 1)
      .orderBy("id").as[(Long, Long, Boolean)].collect()
    assert(r.toSeq == Seq(
      (10L, 1L, true), (11L, 11L, false), (12L, 12L, false)))
  }

  test("mmrSelect: near-duplicate displaced by a diverse pick, short groups, ties, determinism") {
    import spark.implicits._
    // A(1) and B(2) are identical vectors; C(3) is orthogonal. With
    // λ=0.5 the redundant B scores 0.5·0.98 − 0.5·1 < 0, so rank 2
    // must be the diverse C despite its much lower relevance.
    val cand = Seq(
      (1L, 1L, 0.99, Array(1.0, 0.0)),
      (1L, 2L, 0.98, Array(1.0, 0.0)),
      (1L, 3L, 0.50, Array(0.0, 1.0)),
      // query 2 has a single candidate: k=2 must return just it
      (2L, 9L, 0.40, Array(1.0, 1.0)))
      .toDF("qid", "did", "rel", "v")
    val out = Similarity.mmrSelect(cand, col("qid"), col("did"),
        col("rel"), col("v"), k = 2, lambda = 0.5)
      .orderBy("query_id", "mmr_rank")
      .select("query_id", "mmr_rank", "doc_id").as[(Long, Int, Long)].collect()
    assert(out.toSeq == Seq((1L, 1, 1L), (1L, 2, 3L), (2L, 1, 9L)))
    // rank-1 tie on rel breaks on doc_id ascending
    val tie = Seq(
      (1L, 5L, 0.9, Array(1.0, 0.0)), (1L, 4L, 0.9, Array(0.0, 1.0)))
      .toDF("qid", "did", "rel", "v")
    val t = Similarity.mmrSelect(tie, col("qid"), col("did"),
        col("rel"), col("v"), k = 1, lambda = 0.7)
      .select("doc_id").as[Long].collect()
    assert(t.toSeq == Seq(4L))
    // determinism on the real corpus slice
    val e = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val topk = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
      col("vec_id"), col("v"), col("vec_id"), col("v"), k = 8)
    val c2 = topk.join(e, Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("did"),
        col("cos_sim").as("rel"), col("v"))
    def run() = Similarity.mmrSelect(c2, col("query_id"), col("did"),
        col("rel"), col("v"), k = 3)
      .select("query_id", "mmr_rank", "doc_id", "mmr_score")
      .collect().map(_.toSeq).toSet
    assert(run() == run())
  }

  test("boilerplateScore: shared-line ratio per doc, normalization-insensitive") {
    // "FOOTER!" normalizes to the same fingerprint as "footer" — the
    // shared line is boilerplate at maxDocFrac 0.5 (df 3/3), unique
    // lines are not
    val lines = Seq(
      (1L, "footer"), (1L, "alpha"),
      (2L, "FOOTER!"), (2L, "beta"), (2L, "gamma"),
      (3L, "  footer "), (3L, "d1"), (3L, "d2"), (3L, "d3"))
      .toDF("id", "line")
    val out = Dedup.boilerplateScore(lines, col("id"), col("line"),
        maxDocFrac = 0.5)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)))
    assert(out(0).getDouble(3) == 0.5)
    assert(out(1).getDouble(3) == math.floor(1.0 / 3.0 * 1e6) / 1e6)
    assert(out(2).getDouble(3) == 0.25)
    // nothing shared above the cut: every ratio 0 (3 docs at frac
    // 0.5 — a df-1 line is 1/3 of docs, below the cut)
    val uniq = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "line")
    val z = Dedup.boilerplateScore(uniq, col("id"), col("line"),
      maxDocFrac = 0.5).collect()
    assert(z.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
  }

  test("matryoshkaAudit: hand-computed prefix deltas; full dim is exactly zero-delta") {
    // pair (1,0) vs (1,1): full cos = 1/√2; dim-1 prefix cos = 1
    val pairs = Seq((Array(1.0, 0.0), Array(1.0, 1.0))).toDF("va", "vb")
    val out = Similarity.matryoshkaAudit(pairs, col("va"), col("vb"),
        dims = Seq(1, 2))
      .orderBy("dim").collect()
    val full = 1.0 / (1.0 * math.sqrt(2.0))
    val d7 = math.floor(math.abs(1.0 - full) * 1e7) / 1e7
    assert(out(0).getInt(0) == 1 && out(0).getLong(1) == 1L)
    assert(out(0).getDouble(3) == math.floor(d7 * 1e6) / 1e6, out(0).toString)
    assert(out(0).getDouble(2) == 1.0) // prefix-1 cosine is exactly 1
    // the full-length prefix reproduces the full cosine bit for bit
    assert(out(1).getDouble(3) == 0.0 && out(1).getDouble(4) == 0.0)
    // on the real corpus, longer prefixes approximate no worse
    val e = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val a = e.where(col("id") % 2 === 0)
      .select(col("id").as("aid"), col("v").as("va"))
    val b = e.select((col("id") - 1).as("aid"), col("v").as("vb"))
    val real = Similarity.matryoshkaAudit(a.join(b, "aid"),
        col("va"), col("vb"), dims = Seq(8, 32, 64))
      .orderBy("dim").collect()
    assert(real(0).getDouble(3) >= real(1).getDouble(3), real.toSeq.toString)
    assert(real(2).getDouble(3) == 0.0)
  }

  test("kCenterSelect greedily maximizes the min-distance with non-increasing gaps") {
    import spark.implicits._
    val pts: Map[Long, Array[Double]] = Map(
      1L -> Array(0.0, 0.0), 2L -> Array(0.1, 0.0), 3L -> Array(10.0, 0.0),
      4L -> Array(10.0, 0.2), 5L -> Array(0.0, 7.0), 6L -> Array(5.0, 3.0))
    val df = pts.toSeq.map { case (i, v) => (i, v) }.toDF("id", "v")
    val out = Similarity.kCenterSelect(df, col("id"), col("v"), k = 4)
      .orderBy("rank").collect()
    assert(out.length == 4 && out.head.isNullAt(2))
    // replay the greedy trajectory in plain Scala from the same seed
    val seedId = out.head.getLong(1)
    // replay the operator's own association: (‖c‖² − 2·v·c) + ‖v‖² —
    // the (x−y)² form differs in the last ulp and can flip a floor cell
    def d2(c: Array[Double], v: Array[Double]) = {
      val cn = c.map(x => x * x).sum
      val vc = v.zip(c).map { case (a, b) => a * b }.sum
      cn - vc * 2.0 + v.map(x => x * x).sum
    }
    var centers = List(seedId)
    for (r <- 1 to 3) {
      val (bestId, bestD) = pts.toSeq
        .map { case (i, v) => i -> centers.map(c => d2(pts(c), v)).min }
        .minBy { case (i, d) => (-d, i) }
      assert(out(r).getLong(1) == bestId, s"rank $r pick")
      assert(math.abs(out(r).getDouble(2) - math.floor(bestD * 1e4) / 1e4) < 1e-9)
      centers ::= bestId
    }
    val gaps = out.tail.map(_.getDouble(2))
    assert(gaps.zip(gaps.tail).forall { case (a, b) => a >= b })
    // fewer distinct vectors than k: stops at the honest maximum
    val dup = Seq((1L, Array(1.0, 1.0)), (2L, Array(1.0, 1.0)),
      (3L, Array(2.0, 2.0)), (4L, Array(2.0, 2.0))).toDF("id", "v")
    val few = Similarity.kCenterSelect(dup, col("id"), col("v"), k = 4).collect()
    assert(few.length == 2)
    // a NULL vector has no position — excluded, trajectory unchanged
    val withNull = df.union(Seq((99L, null: Array[Double])).toDF("id", "v"))
    val same = Similarity.kCenterSelect(withNull, col("id"), col("v"), k = 4)
      .orderBy("rank").collect()
    assert(same.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("sortedNeighbors: window-bounded pairs per block; cross-block pairs forfeited") {
    val d = Seq(
      (1L, "apple"), (2L, "applf"), (3L, "apricot"),
      (4L, "banana"), (5L, "bananz"), (6L, "bzzzzz")).toDF("id", "sk")
    // window=2: only immediate sort neighbors within the 1-char block
    val w2 = Dedup.sortedNeighbors(d, col("id"), col("sk"),
      window = 2, maxDist = 1, blockPrefix = 1)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w2.toSeq == Seq((1L, 2L, 1L), (4L, 5L, 1L)), w2.mkString(","))
    // window=3 reaches the second neighbor too (apple->apricot dist > 1
    // still filtered; raise maxDist to see it)
    val w3 = Dedup.sortedNeighbors(d, col("id"), col("sk"),
      window = 3, maxDist = 10, blockPrefix = 1)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(w3.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L)),
      w3.mkString(","))
    // cross-block pair (apricot, banana) never appears even at huge
    // maxDist — the documented forfeit
    assert(!w3.contains((3L, 4L)))
    // blockPrefix=0: one global block (the deliberate small-data mode)
    val g = Dedup.sortedNeighbors(d, col("id"), col("sk"),
      window = 2, maxDist = 10, blockPrefix = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.contains((3L, 4L)))
  }

  test("marginMatch: hand-computed ratio margins; hub correction; degenerate denominator excluded") {
    val src = Seq((10L, Array(1.0, 0.0)), (20L, Array(0.0, 1.0))).toDF("id", "v")
    val tgt = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.6, 0.8)),
      (3L, Array(0.0, 1.0))).toDF("id", "v")
    // k=1: NN(10)=1 (cos 1), NN(1)=10 -> margin(10,1) = 1 / ((1e7+1e7)/2e7) = 1.0
    //      margin(10,2) = 0.6 / ((1e7 + 8e6)/2e7) = 0.6/0.9 < 1 -> pick (10,1)
    val rows = Similarity.marginMatch(src, tgt, col("id"), col("v"),
      col("id"), col("v"), k = 1, minMargin = 1.0)
      .orderBy("src_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 1L), (20L, 3L)), rows.mkString(","))
    assert(rows.forall(r => r.getAs[Double]("margin") == 1.0
      && r.getAs[Double]("cos_sim") == 1.0), rows.mkString(","))
    // raising minMargin above the best margin empties the match set
    assert(Similarity.marginMatch(src, tgt, col("id"), col("v"),
      col("id"), col("v"), k = 1, minMargin = 1.5).count() == 0L)
    // k larger than either candidate set: the denominator averages over
    // the ACTUAL neighbor counts (3 tgt-side + 2 src-side = 5), never a
    // fixed 2k=8 — margin(10,1) = 1e7 / ((15999999+1e7)/5) ≈ 1.9231
    // (a 2k denominator would report 3.0769, inflated)
    val small = Similarity.marginMatch(src, tgt, col("id"), col("v"),
      col("id"), col("v"), k = 4, minMargin = 1.0)
      .orderBy("src_id").collect()
    assert(small.head.getAs[Double]("margin") == 1.9231, small.mkString(","))
  }

  test("embeddingCosine prefix prune is output-invariant (r17): pruned ≡ unpruned, boundary pairs kept") {
    // Mixed norms + near-threshold angles so the 8-dim lower bound is
    // exercised on BOTH sides of the cut: planted near-dup (cos≈0.995),
    // boundary pair engineered at round(cos,4) == threshold, a far pair,
    // a zero-norm vector, and scaled (non-unit) copies.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val base = (1 to 40).map(i => (i.toLong, unit(), "blk"))
    val nearDups = base.take(10).map { case (i, v, b) =>
      (i + 100L, v.updated(0, v(0) + 0.05), b) // cos ≈ 0.999
    }
    val scaled = base.slice(10, 20).map { case (i, v, b) =>
      (i + 200L, v.map(_ * 37.5), b) // same direction, huge norm
    }
    val zero = Seq((999L, Array.fill(64)(0.0), "blk"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(base ++ nearDups ++ scaled ++ zero, 3))
      .toDF("id", "v", "blk")
    val pruned = Dedup.embeddingCosine(df, col("id"), col("v"), col("blk"),
      threshold = 0.99, prefixPrune = true)
      .orderBy("id_a", "id_b").collect().toSeq
    val plain = Dedup.embeddingCosine(df, col("id"), col("v"), col("blk"),
      threshold = 0.99, prefixPrune = false)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pruned == plain, s"prune changed output:\n$pruned\nvs\n$plain")
    // the scaled copies must pair with their originals (cos = 1 exactly
    // in direction, norms 1 vs 37.5) — the bound must be scale-free
    assert(pruned.exists(r => r.getLong(0) >= 11L && r.getLong(0) <= 20L
      && r.getLong(1) == r.getLong(0) + 200L), pruned.mkString(","))
    assert(pruned.size >= 20, s"planted pairs missing: ${pruned.size}")
  }

  test("editDistancePairs threshold kernel (r17) matches an unbounded-levenshtein replay, length boundary kept") {
    // strings engineered to sit ON the |len| = maxDist boundary and on
    // dist == maxDist itself — the pairs a sloppy threshold/prefilter
    // would drop first
    val rows = Seq(
      (1L, "abcdefgh"), (2L, "abcdefghXY"), // len diff 2, dist 2 (boundary keep)
      (3L, "abcdefgJ"),                     // dist 1 vs id 1
      (4L, "abXdeYgh"),                     // dist 2 vs id 1
      (5L, "zzzzzzzz"),                     // far, same length
      (6L, "abcdefghXYZ")                   // len diff 3 vs id 1 (provable drop)
    ).toDF("id", "t")
    val got = Dedup.editDistancePairs(rows, col("id"), col("t"),
      block = lit("b"), maxDist = 2)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("dist").intValue)).toSeq
    // reference: brute pairs + 2-arg levenshtein filter
    val ref = rows.as("a").join(rows.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.t"), col("b.t")).as("d"))
      .filter(col("d") <= 2).orderBy("a.id", "b.id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == ref, s"$got vs $ref")
    assert(got.contains((1L, 2L, 2)), "boundary |len diff| == maxDist pair lost")
    assert(!got.exists(p => p._1 == 1L && p._2 == 6L), "len diff 3 must be out")
  }

  test("connectedComponents frontier rewrite (r17): mixed early/late-converging graph agrees with star CC") {
    // several tiny near-dup clusters (converge round 1-2) PLUS one
    // longer chain (keeps iterating) — exactly the shape where the
    // frontier optimization processes a shrinking edge subset; labels
    // must equal the independently-implemented star algorithm's.
    val smalls = (0 until 30).flatMap { c =>
      val b = 100L * c
      Seq((b, b + 1L), (b + 1L, b + 2L))
    }
    val chain = (0 until 12).map(i => (10000L + i, 10001L + i))
    val pairs = (smalls ++ chain).toDF("a", "b")
    val minLabel = Dedup.connectedComponents(pairs, col("a"), col("b"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val star = Dedup.connectedComponentsStar(pairs, col("a"), col("b"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(minLabel == star, "frontier min-label CC diverged from star CC")
    // every member of each planted cluster labels with the cluster min
    assert(minLabel.filter(_._1 < 10000L).forall { case (id, comp) =>
      comp == (id / 100L) * 100L
    }, minLabel.filter(_._1 < 10000L).mkString(","))
  }
}
