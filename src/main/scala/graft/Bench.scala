package graft

/** Per-round benchmark: run every registered query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line for the driver.
  *
  * Isolation model (r12): queries run in CHUNKED CHILD JVMs, not one
  * long-lived session. r11's 287-query single-JVM run accumulated
  * state (codegen-class/metaspace/GC pressure) that inflated an
  * alphabetically-contiguous band up to 11× — q_profile reported
  * 32.2 s in-suite vs 3.74 s isolated (judge-measured), and the
  * existing per-query clearCache + blocking-unpersist discipline did
  * NOT stop it. Per-query forking would cost 287 × ~10 s of Spark
  * startup, so the compromise is one fork per chunk of
  * SPARK_GRAFT_CHUNK (default 16) queries: contamination is bounded
  * by chunk length instead of suite length, startup overhead stays
  * ~3 min for the full suite, and per-query times stay comparable to
  * isolated runs. The parent prints the single aggregate JSON line;
  * child stdout/stderr goes to tmp/bench_child_*.log so the driver's
  * stdout capture only ever sees the parent's line. A chunk whose
  * child dies (OOM, fork failure) is re-run in-process so the bench
  * degrades to the r11 behavior instead of losing queries;
  * SPARK_GRAFT_NO_FORK=1 forces that in-process path everywhere.
  *
  * Self-adjudication (r14): the r13 committed artifact carried 33
  * per-query times inflated 2-10x by concurrent machine load, and
  * nothing in the JSON could adjudicate artifact vs regression after
  * the fact. Now the run (a) records /proc/loadavg at suite start and
  * end, (b) compares each query against the prior round's detail
  * (bench_detail.json or SPARK_GRAFT_BENCH_PRIOR) and re-runs every
  * mover ALONE in fork-of-1s, and (c) adjudicates the headline while
  * emitting every number ("raw" + "isolated_reruns") so the call is
  * re-derivable. r15 made the adjudication SYMMETRIC (r14 advice:
  * slower-only min(suite,isolated) was a best-of that biased the
  * headline downward): movers are flagged in BOTH directions
  * (>1.5x slower OR >1.5x faster than prior), each mover gets TWO
  * isolated runs, and the adjudicated time is median(suite, iso1,
  * iso2) — replacing the suite number requires two isolated runs
  * agreeing, and an intermittent real regression can no longer be
  * erased by one lucky rerun. r17 BOUNDS the rerun phase (top-K
  * movers by deviation, fork-of-N batches, wall-clock budget,
  * "adjudication":"truncated" when a bound trips): the r16 32-core
  * round died rc=124 because load contamination flagged an unbounded
  * mover set and each mover paid two fork-of-1 JVM+Spark starts.
  */
object Bench {

  /** Force FULL materialization of the declared output. count() is
    * not that: the optimizer legally deletes a left join whose
    * aggregated right side is provably duplicate-free when only row
    * COUNT is demanded — q_chrf's entire gram pipeline collapsed to
    * a checkpoint-scan count and benched at 1.1 s where the honest
    * cost was ~15 s (caught r10). The noop sink evaluates every
    * output column of the plan AS DECLARED and discards rows
    * executor-side — no driver collect, no filesystem write.
    */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Time `names` in one live session: min of two runs per query (the
    * first pays codegen/classload, the min reflects steady-state plan
    * cost), blocking unpersist between runs. Shared by the child
    * process path and the parent's no-fork/fallback path.
    */
  private def runQueries(spark: org.apache.spark.sql.SparkSession,
      names: Seq[String], sfDir: String): Seq[(String, Double)] = {
    // Warm the JVM/codegen once so the chunk's first query reflects
    // its plan, not first-query classloading.
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try exec(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { exec(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // per-query isolation: several operators localCheckpoint
        // intermediates (cluster propagation, IVF k-means, incremental
        // indexes); those blocks otherwise pile up and tax every LATER
        // query with GC pressure — r03 measured q_epe_shape_b at 9.0 s
        // mid-suite vs 1.0 s isolated. blocking = true: an async
        // unpersist races the next timed query and contaminates its
        // measurement (r7 judge measured up to 12× inflation on
        // q_cms_heavy from exactly this line)
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        t
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
  }

  private def jmap(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")

  private def jmapList(rs: Seq[(String, Seq[Double])]): String =
    rs.map { case (k, vs) =>
      "\"" + k + "\":" + vs.map(v =>
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")

  /** Child mode: bench the named queries, write `{"queries":{...}}` to
    * the given path, exit. Never prints to stdout (the parent owns the
    * driver-facing line).
    */
  private def child(outPath: String, names: Array[String], sfDir: String): Unit = {
    val spark = Engine.session("graft-bench-child")
    val results = runQueries(spark, names.toSeq, sfDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      s"""{"queries":${jmap(results)}}""")
    spark.stop()
  }

  /** Fork one child JVM per chunk; returns None if the child failed
    * (caller falls back to in-process). JVM flags are replayed from
    * this process's own input arguments (the sbt-forked JVM carries
    * the add-opens + -Xmx + -D set the children need), classpath from
    * java.class.path.
    */
  private def forkChunk(idx: Int, names: Seq[String], sfDir: String): Option[Seq[(String, Double)]] = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val outDir = new java.io.File("tmp"); outDir.mkdirs()
    val out = new java.io.File(outDir, s"bench_chunk_$idx.json")
    val log = new java.io.File(outDir, s"bench_child_$idx.log")
    out.delete()
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.Bench", "--child", out.getAbsolutePath) ++ names
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectOutput(log)
    pb.redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    val rc = try pb.start().waitFor() catch { case _: Throwable => -1 }
    if (rc != 0 || !out.exists()) None
    else {
      val txt = java.nio.file.Files.readString(out.toPath)
      val re = "\"([^\"]+)\":(-?[0-9][0-9.eE+-]*)".r
      val parsed = re.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      // every requested name must come back, else treat the chunk as
      // failed — a silently dropped query would vanish from the round
      // record instead of showing as -1
      if (names.forall(parsed.contains)) Some(names.map(n => n -> parsed(n)))
      else None
    }
  }

  /** Raw /proc/loadavg line ("l1 l5 l15 running/total lastpid") — the
    * machine-contention witness the r13 artifact lacked: 33 committed
    * per-query times read 2-10x their true cost because the box ran
    * builder workloads during the suite, and nothing in the JSON could
    * prove or disprove it after the fact.
    */
  private def loadAvg(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "unavailable" }

  /** Prior round's per-query times (for mover adjudication): the
    * committed full-detail artifact from the last bench run.
    * SPARK_GRAFT_BENCH_PRIOR overrides; absent/unreadable -> empty map
    * (first round, or a deliberately prior-less run).
    */
  private def loadPrior(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "bench_detail.json")
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      // the "queries" object is the only place query->seconds pairs live
      val qObj = txt.split("\"queries\":", 2)
      if (qObj.length < 2) Map.empty
      else {
        // \s* after the colon: Bench's own compact artifact has none,
        // but python-formatted priors (BENCH_r*_10x.json) do — without
        // it a formatted prior silently parses to ZERO entries and the
        // whole mover-adjudication pass no-ops (caught r15)
        val re = "\"(q\\d*_[a-zA-Z0-9_]+)\":\\s*(-?[0-9][0-9.eE+-]*)".r
        re.findAllMatchIn(qObj(1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.length >= 2 && args(0) == "--child") {
      child(args(1), args.drop(2), sfDir)
      return
    }
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid);
    // the driver never sets it, so round benches always cover everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val chunkSize = sys.env.get("SPARK_GRAFT_CHUNK").map(_.toInt).getOrElse(16)
    val noFork = sys.env.get("SPARK_GRAFT_NO_FORK").contains("1")
    // parent-side session is created lazily: in the all-forks-succeed
    // path the parent never starts Spark at all
    var sparkStarted = false
    lazy val fallbackSpark = { sparkStarted = true; Engine.session("graft-bench") }
    val loadStart = loadAvg()
    val rawResults: Seq[(String, Double)] =
      if (noFork) runQueries(fallbackSpark, names, sfDir)
      else names.grouped(chunkSize).zipWithIndex.flatMap { case (chunk, i) =>
        forkChunk(i, chunk, sfDir).getOrElse {
          System.err.println(s"[bench] chunk $i child failed; re-running in-process")
          runQueries(fallbackSpark, chunk, sfDir)
        }
      }.toSeq
    val loadEnd = loadAvg()
    // Self-adjudication (r13 lesson): a query reading >1.5x its
    // prior-round time in EITHER direction is a MOVER — a real
    // regression/improvement or machine load. Don't guess: re-run
    // each mover alone in TWO fresh fork-of-1s and adjudicate to
    // median(suite, iso1, iso2). Symmetric by construction (r14
    // advice: the old slower-only min(suite, isolated) best-of biased
    // the headline downward and let one lucky isolated rerun erase a
    // real intermittent regression): anomalously FAST suite times get
    // re-checked too, and moving away from the suite number requires
    // two isolated runs agreeing. All three numbers are emitted
    // ("raw" + "isolated_reruns") so the call is re-derivable.
    val prior = loadPrior()
    // t > 0 guard (r15 advice): a FAILED query reports t = -1, and for
    // any prior p > 1 the symmetric test `p > 1.5*t` is trivially true —
    // without the guard the failure would get isolated reruns and
    // median(-1, iso1, iso2) would replace the -1 with a positive time,
    // silently erasing the failure from n_failed. Failures must stay
    // visible as -1 through adjudication; only live times adjudicate.
    val moversAll = rawResults.filter { case (q, t) =>
      t > 0 && math.max(t, prior.getOrElse(q, 0.0)) > 1.0 &&
        prior.get(q).exists(p => p > 0 && (t > 1.5 * p || p > 1.5 * t))
    }.map(_._1)
    // BOUNDED adjudication (r16 lesson: the rc=124 round): under load
    // contamination the >1.5x test fires on a huge fraction of the 352
    // queries, and at 2 fresh fork-of-1 JVM+Spark starts per mover the
    // rerun phase alone can exceed the driver's whole budget. Three
    // bounds, all flagged in the JSON line instead of running forever:
    //  - top-K movers by |log(now/prior)| (the biggest anomalies get
    //    adjudicated; marginal 1.5-1.6x ones keep their suite time),
    //  - reruns batched into fork-of-N chunks (JVM starts amortized
    //    ~N x; contamination stays bounded by the mover-chunk length,
    //    tighter than the suite's fork-of-16) — two passes, the second
    //    in reverse order so no query's two reruns share neighbors,
    //  - a wall-clock budget on the whole rerun phase.
    // A mover without 2 clean isolated runs keeps its suite time, same
    // rule as a failed fork before.
    val rawMap = rawResults.toMap
    val moverCap = 20
    val moverChunk = 8
    val adjBudget = 600.0
    val movers = moversAll
      .sortBy(q => -math.abs(math.log(rawMap(q) / prior(q))))
      .take(moverCap)
    if (moversAll.size > movers.size) System.err.println(
      s"[bench] ${moversAll.size} movers flagged; adjudicating top $moverCap by deviation, " +
        "rest keep suite times")
    val adjT0 = System.nanoTime()
    var adjTruncated = moversAll.size > movers.size
    val isolated: Map[String, Seq[Double]] =
      if (noFork || movers.isEmpty) Map.empty
      else {
        val runs = scala.collection.mutable.Map.empty[String, Vector[Double]]
        var forkIdx = 10000
        Seq(movers, movers.reverse).foreach { pass =>
          pass.grouped(moverChunk).foreach { chunk =>
            if ((System.nanoTime() - adjT0) / 1e9 > adjBudget) {
              adjTruncated = true
              System.err.println(s"[bench] adjudication budget ${adjBudget}s exhausted; " +
                s"movers without 2 clean reruns keep suite times")
            } else {
              forkIdx += 1
              forkChunk(forkIdx, chunk, sfDir).foreach(_.foreach { case (q, t) =>
                if (t >= 0) runs(q) = runs.getOrElse(q, Vector.empty) :+ t
              })
            }
          }
        }
        movers.map { q =>
          val ts = runs.getOrElse(q, Vector.empty)
          System.err.println(f"[bench] mover $q: suite ${rawMap(q)}%.2fs, isolated ${ts.mkString(", ")}s")
          q -> (ts: Seq[Double])
        }.toMap
      }
    val results: Seq[(String, Double)] = rawResults.map { case (q, t) =>
      isolated.get(q).filter(_.size == 2) match {
        case Some(ts) => q -> (t +: ts).sorted.apply(1) // median of 3
        case None     => q -> t // <2 clean isolated runs: keep suite time
      }
    }
    // failed queries stay visible as -1 in `queries` but must not
    // SUBTRACT from the headline total (a failing round would otherwise
    // report a better-looking number than a passing one)
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver keeps only the LAST 2000 chars of stdout: a JSON line
    // carrying all per-query times loses its head and parses as null
    // (the r2-r4 artifact truncation). So the full record goes to a
    // FILE and the printed line stays compact — headline total, the 15
    // slowest queries (the ones a perf reader needs), any failures,
    // and the detail path — comfortably inside the capture window.
    val detailPath = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_detail.json")).getAbsolutePath
    // "force":"noop" marks the materialization methodology so the
    // round_check drift stage never compares a noop-forced round
    // against a count()-forced one row for row (the r10 flip);
    // "isolation" marks the r12 fork methodology the same way.
    val iso = if (noFork) "none" else s"fork$chunkSize"
    // field order matters: "raw"/"isolated_reruns" come BEFORE
    // "queries" so loadPrior()'s everything-after-"queries": parse
    // reads only the adjudicated map next round
    val adjState = if (adjTruncated) "truncated" else "complete"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      s"""{"metric":"total","value":$total,"unit":"sec","force":"noop","isolation":"$iso","load_start":"$loadStart","load_end":"$loadEnd","n_movers":${moversAll.size},"n_adjudicated":${movers.size},"adjudication":"$adjState","raw":${jmap(rawResults)},"isolated_reruns":${jmapList(isolated.toSeq.sortBy(_._1))},"queries":${jmap(results)},"sf":"$sfDir"}""")
    val failed = results.filter(_._2 < 0)
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
    println(s"""{"metric":"total","value":$total,"unit":"sec","force":"noop","isolation":"$iso","load_start":"$loadStart","load_end":"$loadEnd","n_movers":${moversAll.size},"n_adjudicated":${movers.size},"adjudication":"$adjState","n_queries":${results.size},"n_failed":${failed.size},"queries":${jmap(failed ++ slowest)},"detail":"$detailPath","sf":"$sfDir"}""")
    // stop() only if the fallback session was ever materialized — a
    // bare `fallbackSpark.stop()` here would CREATE a session in the
    // clean path just to kill it
    if (sparkStarted) fallbackSpark.stop()
  }
}
