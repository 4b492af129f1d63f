package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver main for [[ExecutorLossSpec]]: runs `Dedup.connectedComponents`
  * on a chain graph twice, first on `local[2]` (the reference answer),
  * then on `local-cluster[2,1,1024]`, where one executor is killed as
  * soon as the first round's `count` has finished, so every seam built
  * so far had rows on it. The seam policy is whatever the JVM's
  * `spark.checkpoint.dir` system property makes it: set, the seams are
  * reliable checkpoints; unset, local checkpoints.
  *
  * Prints `LOCAL <rows>`, then `CLUSTER <rows>` or `FAILED <message>`,
  * and `REMOVED <n>` (executors the cluster run lost). A local-cluster
  * master needs SPARK_HOME and SPARK_SCALA_VERSION in the environment
  * and `spark.executor.extraClassPath` set to this JVM's class path.
  */
object ExecutorLossProbe {

  // five chains of eight ids: min-label propagation needs seven rounds
  private def pairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 5).flatMap(c => (0 until 7).map(i => (c * 100L + i, c * 100L + i + 1)))
      .toDF("a", "b").repartition(4)
  }

  private def components(spark: SparkSession): String =
    operators.Dedup.connectedComponents(pairs(spark), col("a"), col("b"))
      .orderBy("id").collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")

  def main(args: Array[String]): Unit = {
    val local = Engine.session("graft-executor-loss", Some("local[2]"))
    println(s"LOCAL ${components(local)}")
    local.stop()

    val spark = Engine.session("graft-executor-loss", Some("local-cluster[2,1,1024]"))
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (sc.statusTracker.getExecutorInfos.length < 3 && System.nanoTime() < deadline)
      Thread.sleep(200) // both executors registered (the driver is the third)
    val removed = new CountDownLatch(1)
    sc.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = removed.countDown()
    })
    val fired = new AtomicBoolean(false)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count" && fired.compareAndSet(false, true))
          new Thread(() => sc.killExecutor("0")).start()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val result =
      try {
        val df = operators.Dedup.connectedComponents(pairs(spark), col("a"), col("b"))
        removed.await(60, TimeUnit.SECONDS) // a late kill must still land before the read
        "CLUSTER " + df.orderBy("id").collect()
          .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")
      } catch { case e: Exception => s"FAILED ${e.getMessage.replace('\n', ' ')}" }
    removed.await(60, TimeUnit.SECONDS)
    println(result)
    println(s"REMOVED ${1 - removed.getCount}")
    spark.stop()
  }
}
