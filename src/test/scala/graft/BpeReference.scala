package graft

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.tokens
import graft.operators.{scaleOut, Bpe}

/** Test-only reference BPE trainer: the distributed merge loop that
  * [[Bpe.trainModel]] replaced, kept verbatim so BpeSpec compares the
  * shipped driver-heap trainer against an independent implementation
  * rather than against itself. Each merge round is one Spark job:
  * pair explode → partial agg → distributed top-1 with the
  * (freq desc, left asc, right asc) tiebreak, then a zero-width
  * guarded `regexp_replace` merge; lineage is `localCheckpoint`-ed
  * every fourth round. Words are space-joined symbol strings.
  */
object BpeReference {

  def trainModel(
      df: DataFrame,
      text: Column,
      numMerges: Int,
      minPairFreq: Long = 2L): (DataFrame, DataFrame) = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = df.sparkSession
    // one corpus pass: word frequencies
    val wordFreq = scaleOut(df.select(text.as("__text")))
      .select(explode(tokens(col("__text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // "low" -> "l o w </w>": spaces delimit symbols from here on
    var words = wordFreq.select(
        col("w"),
        concat(trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" " + Bpe.EndOfWord)).as("syms"),
        col("freq"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val arr = split(col("syms"), " ")
      val top = words
        .select(explode(arrays_zip(
          slice(arr, lit(1), size(arr) - 1).as("a"),
          slice(arr, lit(2), size(arr) - 1).as("b"))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("pf"))
        .filter(col("pf") >= minPairFreq)
        .orderBy(col("pf").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pf) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, a, b, a + b, pf))
        // greedy left-to-right merge: zero-width context guards keep
        // the shared delimiter space available to the NEXT match
        val pat = "(?<=^| )" + Pattern.quote(a) + " " + Pattern.quote(b) + "(?= |$)"
        words = words.select(col("w"),
          regexp_replace(col("syms"), pat, a + b).as("syms"), col("freq"))
        // truncate lineage every few rounds, not every round: a short
        // chain of pending regexp projections re-runs per pair count
        // for less than a materialization per round costs. The sf0.1
        // wall time (~3.7 s for 30 merges) is dominated by 30
        // sequential JOB schedulings, not data — at real scale each
        // round does real work and the fixed overhead amortizes.
        if (rank % 4 == 0) words = words.localCheckpoint()
        rank += 1
      }
    }
    import spark.implicits._
    (merges.result().toDF("rank", "left", "right", "merged", "freq"), words)
  }
}
