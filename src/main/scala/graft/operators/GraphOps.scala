package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the crawl-curation companion to
  * [[Dedup.connectedComponents]]: rank nodes (domains, hosts, docs in
  * a link graph) so sampling/filtering can prefer well-linked sources.
  */
object GraphOps {

  /** PageRank over a directed edge list, fixed iteration count.
    *
    * Per round: contributions `r(u)/outdeg(u)` flow along edges, each
    * node collects `(1-d)/N + d·Σ contrib`. One equi-join + one
    * partial-aggregated groupBy per round — never a product — with
    * `localCheckpoint` truncating lineage exactly like
    * `connectedComponents` (the standard iterative shape on Spark).
    * Mass from sink nodes (no out-edges) leaks rather than
    * redistributing — the common simplification; ranks still order
    * correctly for curation use.
    *
    * Determinism contract (so any engine replays bit-identically):
    * every per-edge contribution is TRUNCATED (floor) at 7 dp and
    * summed over exact decimals (order-independent), and each round's
    * rank is truncated at 7 dp. Truncation, not round(): both engines
    * compute the identical IEEE double, and floor of that double is
    * repr-independent, while round-half-up on Spark's shortest decimal
    * repr can disagree by 1e-7 with an engine rounding the binary
    * value (observed on 2/500 nodes with round()). Returns
    * (node, rank) for every node that occurs in the edge list.
    */
  def pageRank(
      edges: DataFrame,
      src: Column,
      dst: Column,
      iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .distinct()
      .localCheckpoint()
    val nTotal = nodes.agg(count(lit(1)).as("cnt"))
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // 7-dp truncation (see determinism contract above)
    var ranks = nodes.crossJoin(broadcast(nTotal))
      .select(col("v"), Num.t7floor(lit(1.0) / col("cnt")).as("r"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val inbound = e
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .join(outDeg, "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(Num.t7floor(col("r") / col("deg")).cast("decimal(28,7)")).as("m"))
      ranks = nodes.crossJoin(broadcast(nTotal))
        .join(inbound, Seq("v"), "left")
        .select(col("v"),
          Num.t7floor(
            lit(1.0 - damping) / col("cnt") +
              lit(damping) * coalesce(col("m").cast("double"), lit(0.0)))
            .as("r"))
        .localCheckpoint()
    }
    ranks.select(col("v").as("node"), col("r").as("rank"))
  }
}
