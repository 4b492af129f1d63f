package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.tokens

/** Distributed classifier TRAINING over bag-of-words text features —
  * the missing half of the gate loop whose inference half is
  * `TextMetrics.linearTextScore` (fastText-style apply): curation
  * pipelines label a few hundred thousand docs (quality votes, domain
  * tags, toxicity flags), train a linear model, then run the apply
  * pass over the 100 TB corpus. This operator is the training step,
  * done IN Spark so the labeled set never leaves the cluster and the
  * model lands as the same (term, weight) table artifact the apply
  * side consumes.
  *
  * Algorithm: full-batch gradient descent on logistic loss over
  * per-doc term COUNTS (matching the apply side's Σ w(token-instance)
  * semantics). The bias trains as a pseudo-feature — a sentinel
  * "term" planted once per doc with count 1 — so every round is one
  * uniform join+agg round trip and NOTHING model-sized ever touches
  * the driver: the model is a TABLE, updated by join, usable at
  * vocabularies far beyond driver memory (the opposite trade from
  * `Similarity.trainIvfCentroids`, whose k×dim centroids are
  * config-sized by construction).
  *
  * Per-round shape: docterm (tokenized ONCE, pinned by `materialize`) joins
  * the weight table on term [exchange 1: by term], partial-aggregates
  * per-doc logits [exchange 2: by id], residuals join back to docterm
  * [reuses the by-id exchange] and partial-aggregate per-term
  * gradients [by term], which full-outer-merge into the next weight
  * table. O(iters) rounds, each O(tokens) work — the pageRank cost
  * model, with the same per-round `materialize` lineage cut.
  *
  * Determinism (trainable twice → identical bytes): residuals round
  * to 7 dp and become exact decimals, so gradient sums are
  * order-independent (the psi/unigramLogProb contract); the weight
  * update runs in double on those exact inputs and rounds to 10 dp
  * before re-entering the table. No RNG anywhere — init is all-zero.
  *
  * Zero-token docs drop out of training (they carry no features, not
  * even the bias row — unigramLogProb's contract). L2 is available as
  * `decay` (weight shrink per round, (1 - lr·λ) pre-multiplied);
  * decay = 1.0 disables it.
  *
  * Returns the trained model: a (term, weight: double) frame — feed
  * straight into `linearTextScore(..., weights, col("term"),
  * col("weight"), bias = biasOf(model))` — with the bias carried as
  * the [[Classify.BiasTerm]] sentinel row ([[biasOf]] extracts it,
  * [[termWeights]] strips it).
  */
object Classify {

  /** Sentinel feature name carrying the intercept inside the model
    * frame. NUL can never be produced by `graft.functions.tokens`
    * (the tokenizer keeps only letters/digits), so it cannot collide
    * with a real term.
    */
  val BiasTerm: String = "\u0000bias"

  /** Intercept of a trained model frame (one tiny driver scalar). */
  def biasOf(model: DataFrame): Double = {
    val r = model.filter(col("term") === BiasTerm)
      .select(col("weight")).collect()
    if (r.isEmpty) 0.0 else r.head.getDouble(0)
  }

  /** The model without its bias row — the exact shape
    * `linearTextScore` consumes as its weights frame.
    */
  def termWeights(model: DataFrame): DataFrame =
    model.filter(col("term") =!= BiasTerm)

  def trainLogistic(
      df: DataFrame,
      id: Column,
      text: Column,
      label: Column,
      iters: Int = 20,
      learningRate: Double = 0.5,
      decay: Double = 1.0): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(learningRate > 0, "learningRate must be positive")
    require(decay > 0 && decay <= 1, "decay in (0, 1]")
    // tokenize ONCE; (id, y, term, cnt) + the per-doc bias pseudo-row
    val tokRows = scaleOut(
        df.select(id.as("id"), label.cast("double").as("y"), text.as("__text")))
      .select(col("id"), col("y"), explode(tokens(col("__text"))).as("term"))
      .groupBy("id", "y", "term").agg(count(lit(1)).as("cnt"))
    val docterm = tokRows.unionByName(
        tokRows.select(col("id"), col("y")).distinct()
          .select(col("id"), col("y"), lit(BiasTerm).as("term"), lit(1L).as("cnt")))
      .transform(materialize(_))
    val n = docterm.filter(col("term") === BiasTerm).count()
    require(n > 0, "no trainable docs: every doc tokenized to zero tokens")
    val lrOverN = learningRate / n
    // all-zero init over the observed vocabulary (+ bias row)
    var weights = docterm.select(col("term")).distinct()
      .withColumn("w", lit(BigDecimal(0)).cast("decimal(20,10)"))
      .transform(materialize(_))
    // Model-vs-corpus join sides (r17, guide §3.1): each GD round joins
    // the big (id, term, cnt) nonzeros frame against the WEIGHTS (one
    // row per vocab term) and against the RESIDUALS (one row per doc).
    // Both are the model/activation side of a sparse matrix-vector
    // product; the checkpointed frames carry no size stats, so the
    // planner can fall back to shuffling the nonzeros by term and then
    // by id EVERY round. Broadcast the model sides explicitly — gated
    // on measured counts (vocab is one cheap count over the already-
    // materialized init frame; n is already counted) so a giant-vocab
    // corpus degrades to the planner's choice instead of an 8 GB
    // broadcast failure. 5M rows ≈ low hundreds of MB built — the
    // guide's "few hundred MB is usually fine" line.
    val bcastCap = 5000000L
    val vocab = weights.count()
    def modelSide(df: DataFrame, rows: Long): DataFrame =
      if (rows <= bcastCap) broadcast(df) else df
    for (_ <- 1 to iters) {
      val residuals = docterm.join(modelSide(weights, vocab), Seq("term"))
        .groupBy("id", "y")
        .agg(sum(col("w") * col("cnt")).as("__z"))
        .select(col("id"),
          // p − y at 7 dp becomes an exact decimal so the per-term
          // gradient sum below is order-independent
          round(lit(1.0) / (lit(1.0) + exp(-col("__z").cast("double"))) - col("y"), 7)
            .cast("decimal(11,7)").as("__r"))
      val grad = docterm.join(modelSide(residuals, n), Seq("id"))
        .groupBy("term")
        .agg(sum(col("__r") * col("cnt")).as("__g"))
      weights = weights.join(grad, Seq("term"), "left")
        .select(col("term"),
          round(col("w").cast("double") * (if (decay < 1.0) decay else 1.0)
              - lit(lrOverN) * coalesce(col("__g"), lit(0)).cast("double"), 10)
            .cast("decimal(20,10)").as("w"))
        .transform(materialize(_))
    }
    weights.select(col("term"), col("w").cast("double").as("weight"))
  }
}
