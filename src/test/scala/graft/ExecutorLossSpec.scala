package graft

import org.scalatest.funsuite.AnyFunSuite

/** `operators.materialize` follows Spark's checkpoint dir: with one
  * set, a seam is a reliable checkpoint and survives the loss of the
  * executor that wrote it. [[ExecutorLossProbe]] runs connected
  * components on a two-executor local cluster and kills one executor
  * after the first round; it needs a fresh JVM per policy, because
  * the policy comes from the `spark.checkpoint.dir` system property the
  * SparkContext reads at start.
  */
class ExecutorLossSpec extends AnyFunSuite {

  private def probe(checkpointDir: Option[String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cp = System.getProperty("java.class.path")
    // this JVM's add-opens, with a small driver heap next to the two
    // 1 GB executors
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
        a.startsWith("-Xmx") || a.startsWith("-Dspark.checkpoint.dir")) :+ "-Xmx1g"
    val props = Seq(s"-Dspark.executor.extraClassPath=$cp") ++
      checkpointDir.map(d => s"-Dspark.checkpoint.dir=$d")
    val log = java.io.File.createTempFile("executor_loss_probe", ".log")
    // the standalone worker launches executors from $SPARK_HOME/jars and
    // writes their logs under $SPARK_HOME/work: a scratch home linking
    // the jars and RELEASE of the install this JVM runs on keeps the
    // logs out of that install
    val install = java.nio.file.Paths.get(classOf[org.apache.spark.SparkContext]
      .getProtectionDomain.getCodeSource.getLocation.toURI).getParent.getParent
    val home = java.nio.file.Files.createTempDirectory("graft_spark_home")
    Seq("jars", "RELEASE").foreach(f => java.nio.file.Files.createSymbolicLink(
      home.resolve(f), install.resolve(f)))
    val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ props ++
      Seq("-cp", cp, "graft.ExecutorLossProbe")).asJava)
    pb.environment().put("SPARK_HOME", home.toString)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectOutput(log)
    pb.redirectErrorStream(true)
    val rc = pb.start().waitFor()
    val out = java.nio.file.Files.readString(log.toPath)
    log.delete()
    deleteTree(home)
    val tail = out.linesIterator.toSeq.takeRight(25).mkString("\n")
    assert(rc == 0, s"probe exit $rc; tail:\n$tail")
    val marked = out.linesIterator.flatMap { l =>
      Seq("LOCAL", "CLUSTER", "FAILED", "REMOVED").find(m => l.startsWith(m + " "))
        .map(m => m -> l.drop(m.length + 1))
    }.toMap
    assert(marked.contains("LOCAL") && marked.get("REMOVED").contains("1"),
      s"no reference answer or no executor lost; tail:\n$tail")
    marked
  }

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => p.toFile.delete())
    finally walk.close()
  }

  test("materialize: reliable seams survive a lost executor mid connected components") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    try {
      val got = probe(Some(dir.toString))
      assert(got.get("CLUSTER").contains(got("LOCAL")), got.toString)
      assert(java.nio.file.Files.list(dir).count() > 0, "no checkpoint was written")
    } finally deleteTree(dir)
  }

  test("materialize: without a checkpoint dir the same kill loses a local seam") {
    val got = probe(None)
    assert(got.get("FAILED").exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
      got.toString)
  }
}
