package graft

/** Scratch (not registered): split planning vs execution time for a
  * named registry query — r17 diagnosis aid.
  * Usage: runMain graft.ScratchR17 <sfDir> q1,q2,...
  */
object ScratchR17 {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Engine.session("graft-scratch-r17")
    // warm
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        j.stageInfos.foreach(si => stageName.put(si.stageId, si.name.take(60)))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          stageTask.merge(t.stageId, t.taskInfo.duration, (a, b) => a + b)
        }
      }
    })
    def topStages(k: Int): String = {
      import scala.jdk.CollectionConverters._
      stageTask.asScala.toSeq.sortBy(-_._2).take(k)
        .map { case (sid, ms) => f"stage$sid ${ms / 1e3}%.1fs ${stageName.getOrDefault(sid, "?")}" }
        .mkString(" || ")
    }
    names.split(",").foreach { name =>
      (1 to 3).foreach { rep =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        if (rep == 1 && sys.env.contains("SCRATCH_CODEGEN")) {
          val cg = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
          println("[scratch-codegen] " + cg.linesIterator
            .filter(l => l.contains("WholeStageCodegen") || l.contains("Found")).mkString(" | "))
        }
        jobs.set(0); tasks.set(0); taskMs.set(0); stageTask.clear()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"[scratch] $name rep$rep construct=${(t1 - t0) / 1e9}%.2fs plan=${(t2 - t1) / 1e9}%.2fs exec=${(t3 - t2) / 1e9}%.2fs jobs=${jobs.get} tasks=${tasks.get} taskTime=${taskMs.get / 1e3}%.2fs")
        if (rep == 1) println(s"[scratch-stages] $name ${topStages(5)}")
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    spark.stop()
  }
}
