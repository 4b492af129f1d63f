package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Engine, SparkEntry}
import graft.sources.Tables
import graft.streaming.{EventStreams, SnapshotStore}

/** The benchmark's JVM. It calls graft only through its public entry
  * points (`Engine.session`, `SparkEntry.queries`, `Tables.writeParquet`,
  * `EventStreams`) and times every call from outside.
  *
  * Modes (first argument):
  *   - `run`: set up, then one cold pass and warm passes over the
  *     workload's operations until the time budget is spent, then an
  *     untimed output pass for the checks; records how much CPU time the
  *     host stole during set-up and each pass; writes one JSON record
  *     and ends with `halt` (the orderly Spark shutdown is not measured,
  *     and the caller deletes the scratch directories);
  *   - `setup`: set up only, and record when the session was ready;
  *   - `prepare`: derive a k-replica table set from the 10x replica.
  *
  * `run.py` launches it; see README.md for the flags.
  */
object Main {

  private val Off = 100000000L

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def parse(args: Seq[String]): Args =
    Args(args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = parse(argv.toSeq.tail)
    mode match {
      case "run" =>
        new Run(a).run()
        System.out.flush()
        Runtime.getRuntime.halt(0)
      case "setup" =>
        setUp(a)
        write(a("out"), Map("ready_ns" -> Clock.nowNs, "ready_ticks" -> hostTicks))
        Runtime.getRuntime.halt(0)
      case "prepare" => prepare(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Engine.session plus resolving every input table the workload reads. */
  def setUp(a: Args): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Engine.session("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    a.m.get("tables").filter(_.nonEmpty).foreach(_.split(",").foreach { t =>
      Tables.load(spark, a("data"), t).schema
    })
    (spark, sessionS)
  }

  /** Keep the first k replicas of a BenchScale replica: replica i offsets
    * its fact keys by i * 1e8, and the dimension tables are shared.
    */
  def prepare(a: Args): Unit = {
    val spark = Engine.session("perfbench-prepare")
    val src = a("src")
    val dst = a("dst")
    val limit = a.int("replicas") * Off
    val keys = Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id",
      "lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "customer" -> "c_custkey",
      "supplier" -> "s_suppkey", "part" -> "p_partkey", "nation" -> "", "region" -> "")
    keys.foreach { case (t, k) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      (if (k.isEmpty) df else df.filter(col(k) < limit))
        .coalesce(4).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    new File(dst, "_READY").createNewFile()
    spark.stop()
  }

  def write(path: String, v: Any): Unit = {
    val out = new PrintWriter(path)
    try out.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v))
    finally out.close()
  }

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (GC ms, JIT compile ms) of the whole process so far. */
  def jvmMs: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    (ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** (busy, steal) clock ticks of all CPUs so far. Steal is time a virtual
    * CPU waited for its host: other tenants' load.
    */
  def hostTicks: Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong)
      Seq(v.take(3).sum + v.slice(5, 7).sum, v.lift(7).getOrElse(0L))
    } finally src.close()
  }

  /** Share of the CPU time between two [[hostTicks]] readings that the host stole. */
  def stealShare(a: Seq[Long], b: Seq[Long]): Double = {
    val busy = b(0) - a(0)
    val steal = b(1) - a(1)
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The deterministic stream feed: fixed micro-batches generated from
  * the seed, one batch at a time, so the Spark driver never holds the
  * feed. The batch twins of the output checks generate it on the
  * executors.
  */
final class Feed(seed: Long, val keys: Int, val buckets: Int, val batches: Int,
    val thetaRows: Int, val thetaGroups: Int) extends Serializable {
  private def rng(tag: Long, i: Int) = new scala.util.Random(seed * 1000003L + tag * 7919L + i)

  /** Cusum rows (key, bucket, value) for batch i: every key, buckets
    * [i*per, (i+1)*per), values on a 3-dp grid with a seeded level shift.
    */
  def chart(i: Int): Seq[(String, Long, Double)] = {
    val r = rng(1, i)
    val per = buckets / batches
    val shiftAt = (buckets * 6) / 10
    for (b <- i * per until (i + 1) * per; k <- 0 until keys) yield {
      val noise = (r.nextInt(2001) - 1000) / 1000.0
      val shift = if (b >= shiftAt && k % 3 == 0) 4.0 else 0.0
      (f"k$k%05d", b.toLong, 12.0 + (k % 5) * 0.25 + noise + shift)
    }
  }

  /** Theta items (group, item) for batch i; each group stays below the
    * sketch capacity, so every estimate is exact.
    */
  def theta(i: Int): Seq[(String, String)] = {
    val r = rng(2, i)
    val perGroup = 3000
    Seq.fill(thetaRows) {
      val g = r.nextInt(thetaGroups)
      (s"g$g", s"item${g * perGroup + r.nextInt(perGroup)}")
    }
  }

  def chartRows: Int = keys * (buckets / batches) * batches
}

final class Run(a: Main.Args) {
  import Main._

  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val trace = a.flag("trace")
  private val minWarm = a.int("min-warm")
  private val stealMax = a("steal-max").toDouble
  private val stretch = a("stretch").toDouble
  private val ops: Seq[String] = a("ops").split(",").toSeq
  private val work = new File(a("work"))
  private val feed = new Feed(seed, a.int("stream-keys"), a.int("stream-buckets"),
    a.int("stream-batches"), a.int("theta-rows"), a.int("theta-groups"))

  private val (spark, sessionS) = setUp(a)
  private val readyNs = Clock.nowNs
  private val readyTicks = hostTicks
  private val dir = a.m.getOrElse("data", "")
  private val tracer = new Tracer(spark)

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val execCount = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def fail(op: String, e: Throwable, n: Long = 1L): Unit = {
    failed += n
    if (errors.size < 20) errors += s"$op: ${String.valueOf(e.getMessage).take(300)}"
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // --- seams: RDDs a query's construction persisted -----------------------

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def seamBytes(ids: Set[Int]): Long =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum

  // --- operations -----------------------------------------------------------

  private def exportDir = new File(work, "export")

  /** Construct query `name`, then hand the frame to `sink` inside a
    * span of `kind` (the noop-sink "write" or the parquet "export").
    */
  private def runBatch(op: String, name: String, kind: String)(sink: DataFrame => Unit): Unit =
    tracer.span(op, "query") { q =>
      val before = if (trace) persistedIds else Set.empty[Int]
      val df = tracer.span("construct", "construct")(_ => SparkEntry.queries(name)(spark, dir))
      val seams = if (trace) persistedIds -- before else Set.empty[Int]
      tracer.span(kind, kind)(_ => sink(df))
      if (trace) {
        q.attrs("seams") = seams.size.toLong
        q.attrs("seam_bytes") = seamBytes(seams)
        if (kind == "export") q.attrs("files") = countFiles(exportDir)
      }
    }

  private def countFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  private var streamRun = 0

  private def streamDir(tag: String): File = {
    streamRun += 1
    new File(work, s"stream/$tag-$streamRun")
  }

  private def progressAttrs(q: StreamingQuery, s: Span): Unit = {
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    s.attrs("batches") = ps.length.toLong
    s.attrs("rows_in") = ps.map(_.numInputRows).sum
    s.attrs("batch_ms") = ps.map(p => dur(p, "triggerExecution")).toSeq
    s.attrs("add_batch_ms") = ps.map(p => dur(p, "addBatch")).sum
    s.attrs("wal_commit_ms") = ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum
    val last = ps.lastOption
    s.attrs("state_rows") = last.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    s.attrs("state_bytes") = last.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
  }

  /** Feed every micro-batch and wait until the query has processed it. */
  private def feedAll[A](input: MemoryStream[A], q: StreamingQuery, batch: Int => Seq[A]): Unit =
    (0 until feed.batches).foreach { i =>
      input.addData(batch(i))
      q.processAllAvailable()
    }

  private val target = 12.5
  private val slack = 0.5

  /** cusumStream into `sink`; the timed pass uses the noop sink. */
  private def cusumStream(sink: DataFrame => StreamingQuery): StreamingQuery = {
    implicit val enc = Encoders.product[(String, Long, Double)]
    val input = MemoryStream[(String, Long, Double)](spark)
    val q = sink(EventStreams.cusumStream(input.toDF().toDF("key", "b", "v"), target, slack).toDF())
    try feedAll(input, q, feed.chart) catch { case NonFatal(e) => q.stop(); throw e }
    q
  }

  private def thetaStream(d: File): StreamingQuery = {
    implicit val enc = Encoders.product[(String, String)]
    val input = MemoryStream[(String, String)](spark)
    val q = EventStreams.thetaMaintained(input.toDF().toDF("grp", "item"), "grp", "item",
      s"${d.getPath}/snap", s"${d.getPath}/ckpt")
    try feedAll(input, q, feed.theta) catch { case NonFatal(e) => q.stop(); throw e }
    q
  }

  private def runStream(kind: String): Unit = tracer.span(s"stream:$kind", "query") { _ =>
    val d = streamDir(kind)
    tracer.span("stream", "stream") { s =>
      val q = kind match {
        case "cusum" => cusumStream(_.writeStream.format("noop")
          .option("checkpointLocation", s"${d.getPath}/ckpt").outputMode("append").start())
        case "theta" => thetaStream(d)
      }
      try {
        q.exception.foreach(e => throw e)
        progressAttrs(q, s)
      } finally q.stop()
    }
  }

  private def runOp(op: String): Unit = {
    val parts = op.split(":")
    val (n, fn): (Long, () => Unit) = parts(0) match {
      case "export" => (1L, () => runBatch(op, parts(1), "export")(
        Tables.writeParquet(_, exportDir.getPath, parts.drop(2).toSeq)))
      case "stream" => (feed.batches.toLong, () => runStream(parts(1)))
      case q => (1L, () => runBatch(op, q, "write")(noop))
    }
    attempted += n
    execCount(op) += n
    try fn() catch { case NonFatal(e) => fail(op, e, n) }
  }

  /** Drop what an operation left behind: cached tables, persisted RDDs
    * (its checkpoint seams among them) and stream directories. Runs after
    * every operation, outside its timed span, so no operation pays for
    * the blocks and garbage of the one before it.
    */
  private def cleanUp(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    deleteTree(new File(work, "stream"))
  }

  // --- output checks (untimed) ------------------------------------------------

  private val checks = mutable.LinkedHashMap.empty[String, Any]

  /** Fingerprint: row count and an order-insensitive sum of row hashes. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    // row hashes over name-sorted columns; the decimal sum cannot overflow
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def checkOutputs(): Unit = {
    val outDir = new File(work, "out")
    ops.foreach { op =>
      val parts = op.split(":")
      try parts(0) match {
        case "export" =>
          checks(op) = Map("kind" -> "parquet", "path" -> exportDir.getPath, "hive" -> true,
            "partition_by" -> parts.drop(2).toSeq, "oracle" -> SparkEntry.oracleSql.get(parts(1)))
        case "stream" if parts(1) == "cusum" => checks(op) = checkCusum()
        case "stream" if parts(1) == "theta" => checks(op) = checkTheta()
        case q =>
          val p = new File(outDir, q).getPath
          SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(p)
          checks(op) = Map("kind" -> "parquet", "path" -> p, "hive" -> false,
            "oracle" -> SparkEntry.oracleSql.get(q))
      } catch {
        case NonFatal(e) =>
          checks(op) = Map("kind" -> "error", "error" -> String.valueOf(e.getMessage).take(300))
      }
    }
  }

  /** The stream's emitted micro-lanes equal the batch operator's
    * windows over the whole feed. Both sides go through the batch
    * operator's published rounding (`floor(x * 1e4) / 1e4` of the double
    * value): the batch operator floors an exact 1.23 to 1.2299 through
    * double arithmetic, so the stream's exact 4-dp floor is not its twin.
    */
  private def checkCusum(): Map[String, Any] = {
    var n = 0L
    var h = java.math.BigDecimal.ZERO
    def t4floor(micro: String) = floor((col(micro) / 1e6) * 1e4) / 1e4
    val d = streamDir("check-cusum")
    val q = cusumStream(_.writeStream.option("checkpointLocation", s"${d.getPath}/ckpt")
      .outputMode("append").foreachBatch { (b: DataFrame, _: Long) =>
        val (bn, bh) = fingerprint(b.select(col("key"), col("bucket"),
          t4floor("cusum_hi_micro").as("hi"), t4floor("cusum_lo_micro").as("lo")))
        n += bn
        h = h.add(bh)
      }.start())
    q.stop()
    val f = feed
    val all = spark.range(0, f.batches, 1, f.batches).flatMap(i => f.chart(i.toInt))(
      Encoders.product[(String, Long, Double)]).toDF("key", "b", "v")
    val (bn, bh) = fingerprint(graft.operators.Stats.cusum(all, col("key"), col("b"), col("v"),
        target, slack, threshold = 8.0)
      .select(col("key"), col("bucket"), col("cusum_hi").as("hi"), col("cusum_lo").as("lo")))
    Map("kind" -> "jvm", "ok" -> (n == bn && h == bh && n == feed.chartRows),
      "rows" -> n, "twin_rows" -> bn, "hash" -> h.toString, "twin_hash" -> bh.toString)
  }

  /** The maintained snapshot's estimates equal a one-shot sketch of the feed. */
  private def checkTheta(): Map[String, Any] = {
    import graft.functions.ThetaSketch.thetaEstimate
    val d = streamDir("check-theta")
    val q = thetaStream(d)
    q.stop()
    def ests(df: DataFrame): Map[String, Double] =
      df.select(col("grp"), thetaEstimate(col("sketch"))).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val streamed = SnapshotStore.read(spark, s"${d.getPath}/snap").map(ests).getOrElse(Map.empty)
    val f = feed
    val all = spark.range(0, f.batches, 1, f.batches).flatMap(i => f.theta(i.toInt))(
      Encoders.product[(String, String)]).toDF("grp", "item")
    val oneShot = ests(graft.operators.Profile.thetaSketchTable(all, col("grp"), col("item")))
    Map("kind" -> "jvm", "ok" -> (streamed.nonEmpty && streamed == oneShot),
      "groups" -> streamed.size, "items_est" -> streamed.values.sum)
  }

  // --- passes -------------------------------------------------------------------

  def run(): Unit = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(idx: Int, traced: Boolean): Unit = {
      val order = new scala.util.Random(seed * 1000003L + idx).shuffle(ops)
      if (traced) tracer.attach() else tracer.detach()
      val ticks0 = hostTicks
      val (gc0, jit0) = jvmMs
      val opS = mutable.LinkedHashMap.empty[String, Double]
      var cpu = 0L
      tracer.span(s"pass:$idx", "pass")(_ => order.foreach { op =>
        val c0 = cpuNs
        val t0 = System.nanoTime()
        runOp(op)
        opS(op) = (System.nanoTime() - t0) / 1e9
        cpu += cpuNs - c0
        cleanUp()
      })
      val (gc1, jit1) = jvmMs
      passes += Map("idx" -> idx, "traced" -> traced, "wall_s" -> opS.values.sum,
        "cpu_s" -> cpu / 1e9, "gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0),
        "steal" -> stealShare(ticks0, hostTicks), "order" -> order, "op_s" -> opS)
    }
    val root = tracer.open("workload", "workload")
    pass(0, trace)
    val warmStart = System.nanoTime()
    var idx = 1
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    def warm(traced: Boolean, clean: Boolean) = passes.count(p => p("idx") != 0 &&
      p("traced") == traced && (!clean || p("steal").asInstanceOf[Double] <= stealMax))
    def enough(clean: Boolean) =
      warm(traced = false, clean) >= minWarm && (!trace || warm(traced = true, clean) >= minWarm)
    // At least `min-warm` warm passes and `seconds` of them; then, while
    // fewer than `min-warm` passes ran with the host stealing at most
    // `steal-max` of the CPU time, up to `stretch` seconds more.
    while (!enough(clean = false) || elapsed < seconds ||
        (!enough(clean = true) && elapsed < seconds + stretch)) {
      // traced and untraced warm passes alternate u t t u, so a warm-up
      // trend does not bias the tracing overhead
      pass(idx, trace && idx % 4 >= 2)
      idx += 1
    }
    tracer.close(root)
    tracer.detach()
    val rss = peakRssKb
    checkOutputs()
    val rec = mutable.LinkedHashMap[String, Any](
      "ready_ns" -> readyNs, "ready_ticks" -> readyTicks, "engine_session_s" -> sessionS,
      "seed" -> seed,
      "spark_version" -> spark.version, "jvm_version" -> System.getProperty("java.version"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "master" -> spark.sparkContext.master,
      "passes" -> passes, "peak_rss_kb" -> rss, "attempted" -> attempted, "failed" -> failed,
      "exec_count" -> execCount, "errors" -> errors, "checks" -> checks)
    if (trace) rec("trace") = tracer.dump()
    write(a("out"), rec)
  }
}
