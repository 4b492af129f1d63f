package graft

import java.nio.file.{Files, Paths}

/** Scratch (not registered): dump `.explain("formatted")` for named
  * registry queries to files — the before/after plan evidence for
  * optimization rounds (plans/rN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...|all
  * (`all`: every registered query, in sorted order).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = Engine.session("graft-plandump")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (names == "all") SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    selected.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
