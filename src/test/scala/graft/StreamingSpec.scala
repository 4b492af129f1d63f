package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, SnapshotStore}

/** MemoryStream checks for the Structured Streaming surface (E1/E2). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tsOf(us: Long) = new Timestamp(us / 1000)

  // (ts, user_id, event_id, event_type, value)
  private def mkStream() =
    MemoryStream[(Timestamp, Long, Long, String, Double)](spark)

  test("E1 windowedCounts: watermarked tumbling windows aggregate per type") {
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("e1_out").outputMode("append").start()
    try {
      val h = 3600000000L
      input.addData(
        (tsOf(0L), 1L, 1L, "click", 1.0),
        (tsOf(10L * 1000000), 1L, 2L, "click", 2.0),
        (tsOf(h + 5), 2L, 3L, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far past hour 0 and 1 so both windows close
      input.addData((tsOf(10L * h), 3L, 4L, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("e1_out")
        .select("bucket_us", "event_type", "n_events", "sum_value")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(out.contains((0L, "click", 2L, 3.0)), s"got $out")
      assert(out.contains((h, "view", 1L, 5.0)), s"got $out")
    } finally q.stop()
  }

  test("E2 sessionize: gap splits sessions, timeout closes them") {
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val gapUs = 3600000000L // 1h gap
    val q = EventStreams.sessionize(df, gapUs, "10 minutes")
      .writeStream.format("memory").queryName("e2_out").outputMode("append").start()
    try {
      // user 1: two events 10min apart (one session), then one event 2h
      // later (second session). Times sit far from epoch 0 so the
      // initial watermark (0) can't classify the first event as late.
      val base = 1000000000000L // 1e6 s in µs
      val m10 = 600000000L
      input.addData(
        (tsOf(base), 1L, 1L, "click", 1.0),
        (tsOf(base + m10), 1L, 2L, "click", 2.0),
        (tsOf(base + 3 * gapUs), 1L, 3L, "view", 4.0))
      q.processAllAvailable()
      // push the watermark far forward so every session times out
      input.addData((tsOf(base + 20 * gapUs), 9L, 99L, "click", 0.0))
      q.processAllAvailable()
      input.addData((tsOf(base + 40 * gapUs), 9L, 100L, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("e2_out")
        .select("user_id", "session_start_us", "session_end_us", "n_events", "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect()
        .filter(_._1 == 1L).toSet
      assert(out.contains((1L, base, base + m10, 2L, 3.0)), s"got $out")
      assert(out.contains((1L, base + 3 * gapUs, base + 3 * gapUs, 1L, 4.0)), s"got $out")
    } finally q.stop()
  }

  test("E1 stream == batch: windowed counts over real events match q_time_buckets") {
    val ev = sources.Tables.events(spark, sf)
      .select("ts", "user_id", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val maxUs = ev.map(e => e._1.getTime * 1000L).max
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "1 hour", "1 minute")
      .writeStream.format("memory").queryName("e1_twin").outputMode("append").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      input.addData((tsOf(maxUs + 30L * 86400000000L), -1L, -1L, "click", 0.0))
      q.processAllAvailable()
      // summed across types, keyed by epoch-second bucket — the exact
      // grouping q_time_buckets computes in batch
      val streamed = spark.table("e1_twin")
        .filter($"bucket_us" <= lit(maxUs))
        .groupBy(($"bucket_us" / 1000000L).cast("long").as("bucket_s"))
        .agg(sum($"n_events").as("n"))
        .as[(Long, Long)].collect().toMap
      val batch = SparkEntry.queries("q_time_buckets")(spark, sf)
        .select($"bucket_s", $"n_events")
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch,
        s"stream/batch divergence: ${streamed.size} vs ${batch.size} buckets")
    } finally q.stop()
  }

  test("E3 dedupStream drops repeated payloads within the watermark") {
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .withColumn("fp", md5(concat_ws("|", $"user_id", $"event_type", $"value")))
    val q = EventStreams.dedupStream(df, Seq("fp"), "1 hour")
      .writeStream.format("memory").queryName("e3_out").outputMode("append").start()
    try {
      val base = 1000000000000L
      input.addData(
        (tsOf(base), 1L, 1L, "click", 1.0),
        (tsOf(base + 1000000L), 1L, 2L, "click", 1.0), // duplicate payload
        (tsOf(base + 2000000L), 1L, 3L, "click", 2.0))
      q.processAllAvailable()
      input.addData(
        (tsOf(base + 3000000L), 1L, 4L, "click", 1.0)) // still duplicate
      q.processAllAvailable()
      val vals = spark.table("e3_out").select("event_id")
        .as[Long].collect().toSet
      assert(vals == Set(1L, 3L), s"got $vals")
    } finally q.stop()
  }

  test("E1 parquet sink: windowed aggregates land in files via a checkpointed query") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "1 hour", "2 hours")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      val h = 3600000000L
      input.addData(
        (tsOf(0L), 1L, 1L, "click", 1.0),
        (tsOf(10L * 1000000), 1L, 2L, "click", 2.0))
      q.processAllAvailable()
      input.addData((tsOf(10L * h), 3L, 4L, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/out")
      .select("bucket_us", "event_type", "n_events", "sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(out.contains((0L, "click", 2L, 3.0)), s"got $out")
  }

  test("E4 intervalJoin: stream-stream join matches pairs within the lookback only") {
    val clicks = mkStream()
    val views = mkStream()
    val cdf = clicks.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val vdf = views.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .select(col("ts"), col("user_id"), col("event_id").as("view_id"))
    val joined = EventStreams.intervalJoin(
      cdf, vdf, key = "user_id", lookback = "1 hour", watermarkDelay = "10 minutes")
      .select(col("event_id"), col("r_view_id").as("view_id"))
    val q = joined.writeStream.format("memory").queryName("e4_out")
      .outputMode("append").start()
    try {
      val base = 1000000000000L
      val h = 3600000000L
      // view 30min before click (in window), view 2h before (out),
      // view AFTER the click (out: condition is backward-looking),
      // same-time view for another user (key mismatch)
      views.addData(
        (tsOf(base - h / 2), 1L, 100L, "view", 0.0),
        (tsOf(base - 2 * h), 1L, 101L, "view", 0.0),
        (tsOf(base + h / 4), 1L, 102L, "view", 0.0),
        (tsOf(base - h / 2), 2L, 103L, "view", 0.0))
      clicks.addData((tsOf(base), 1L, 1L, "click", 1.0))
      q.processAllAvailable()
      // advance both watermarks so results flush in append mode
      views.addData((tsOf(base + 10 * h), 8L, 999L, "view", 0.0))
      clicks.addData((tsOf(base + 10 * h), 9L, 998L, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("e4_out").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 100L)), s"got $out")
    } finally q.stop()
  }

  test("E4 stream == batch: intervalJoin over real events matches q_interval_attribution") {
    val ev = sources.Tables.events(spark, sf)
      .select("ts", "user_id", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val purchases = mkStream()
    val clicks = mkStream()
    val pdf = purchases.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .select(col("ts"), col("user_id"), col("event_id").as("purchase_id"))
    val cdf = clicks.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
    val q = EventStreams.intervalJoin(pdf, cdf, key = "user_id",
        lookback = "1 hour", watermarkDelay = "1 minute")
      .select(col("user_id"), col("purchase_id"), col("r_click_id").as("click_id"))
      .writeStream.format("memory").queryName("e4_twin").outputMode("append").start()
    try {
      purchases.addData(ev.filter(_._4 == "purchase").toSeq)
      clicks.addData(ev.filter(_._4 == "click").toSeq)
      q.processAllAvailable()
      val maxUs = ev.map(e => e._1.getTime * 1000L).max
      purchases.addData((tsOf(maxUs + 86400000000L), -1L, -1L, "purchase", 0.0))
      clicks.addData((tsOf(maxUs + 86400000000L), -2L, -2L, "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("e4_twin").filter($"user_id" >= 0)
        .as[(Long, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("q_interval_attribution")(spark, sf)
        .select("user_id", "purchase_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("E3 stream == batch: dedupStream over real events keeps exactly one row per fingerprint, same set as Dedup.exactKeep") {
    val payload = concat_ws("|", $"user_id", $"event_type", $"value")
    val evBatch = sources.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"event_id", $"event_type", $"value")
    val ev = evBatch.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .withColumn("fp", md5(concat_ws("|", $"user_id", $"event_type", $"value")))
    val q = EventStreams.dedupStream(df, Seq("fp"), "1 hour")
      .writeStream.format("memory").queryName("e3_twin").outputMode("append").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      val streamedFps = spark.table("e3_twin").select($"fp").as[String].collect()
      // exactly one survivor per fingerprint
      assert(streamedFps.length == streamedFps.distinct.length,
        "stream emitted a duplicate fingerprint")
      // identical surviving-content SET as the batch twin (WHICH row
      // survives differs by design: stream keeps first arrival, batch
      // keeps the min-id winner — content equality is the contract)
      val batchFps = graft.operators.Dedup
        .exactKeep(evBatch, payload, $"event_id")
        .select(md5(payload).as("fp")).as[String].collect()
      assert(batchFps.length == batchFps.distinct.length)
      assert(streamedFps.toSet == batchFps.toSet,
        s"stream/batch divergence: stream=${streamedFps.length} batch=${batchFps.length}")
    } finally q.stop()
  }

  test("E5 enrich: stream-static broadcast join decorates events statelessly, matches batch") {
    val evBatch = sources.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"event_id", $"event_type", $"value")
    // static dimension: a per-user segment label
    val dim = evBatch.select($"user_id").distinct()
      .select($"user_id", concat(lit("seg"), pmod($"user_id", lit(5))).as("segment"))
      .cache()
    val ev = evBatch.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = EventStreams.enrich(df, dim, "user_id")
      .select($"event_id", $"segment")
      .writeStream.format("memory").queryName("e5_out").outputMode("append").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("e5_out").as[(Long, String)].collect().toSet
      val batch = evBatch.join(dim, Seq("user_id"))
        .select($"event_id", $"segment").as[(Long, String)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty,
        s"stream/batch enrichment divergence: ${streamed.size} vs ${batch.size}")
    } finally q.stop()
    // stream-side-preserving join types only
    intercept[IllegalArgumentException] {
      EventStreams.enrich(spark.readStream.format("rate").load(), dim, "user_id", "right")
    }
  }

  test("E38 asOfEnrich: stream-static as-of against a SnapshotStore version matches batch joinBackward") {
    val evBatch = sources.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"event_id", $"event_type", $"value")
      .withColumn("ts_us", unix_micros($"ts"))
      .limit(2000).cache()
    val bounds = evBatch.agg(min($"ts_us"), max($"ts_us"))
      .as[(Long, Long)].head()
    // dim history: 3 tier versions per user spanning the event range,
    // plus a (key, ts) TIE disambiguated by ver, a null-key row and a
    // null-ts row (must match nothing — the joinBackward NULL contract)
    val span = math.max((bounds._2 - bounds._1) / 3, 1L)
    val dimHist = evBatch.select($"user_id").distinct()
      .crossJoin(spark.range(3).toDF("ver"))
      .select(
        when($"user_id" % 17 === 0 && $"ver" === 2, lit(null).cast("long"))
          .otherwise($"user_id").as("user_id"),
        when($"user_id" % 13 === 0 && $"ver" === 2, lit(null).cast("long"))
          // ver 0 and 1 of %11 users collide on eff_us: ver breaks the tie
          .otherwise(lit(bounds._1) +
            when($"user_id" % 11 === 0 && $"ver" === 1, lit(0L))
              .otherwise($"ver" * span)).as("eff_us"),
        $"ver",
        concat(lit("tier"), $"ver", lit("_u"), coalesce($"user_id", lit(-1)))
          .as("tier"))
      .cache()
    // the dim rides a published snapshot version — point-in-time reads
    val root = java.nio.file.Files.createTempDirectory("graft_e38").toString + "/dim"
    SnapshotStore.publish(dimHist, root, 1L, keepLast = 2)
    SnapshotStore.publish(dimHist.withColumn("tier", concat($"tier", lit("_v2"))),
      root, 2L, keepLast = 2)
    val dimV1 = SnapshotStore.readVersion(spark, root, 1L).get
    val ev = evBatch.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .withColumn("ts_us", unix_micros($"ts"))
    val q = EventStreams.asOfEnrich(df, dimV1, Seq("user_id"), "ts_us", "eff_us",
        Seq("tier"), dimOrder = Seq("ver"))
      .select($"event_id", $"tier")
      .writeStream.format("memory").queryName("e38_out").outputMode("append").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("e38_out").as[(Long, String)].collect().toSet
      val batch = operators.AsOf.joinBackward(evBatch, dimV1, Seq("user_id"),
          "ts_us", "eff_us", Seq("tier"), rightOrder = Seq("ver"))
        .select($"event_id", $"tier").as[(Long, String)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty,
        s"stream/batch as-of divergence: ${streamed.size} vs ${batch.size}")
      // the enrichment is meaningful: several tiers matched, and the
      // earliest events (before any dim version took effect for a
      // %13 user whose v0 was nulled) may carry nulls — batch agrees
      assert(streamed.exists(_._2 != null))
    } finally q.stop()
    // tolerance bounds matches identically on both paths
    val tolStream = EventStreams.asOfEnrich(evBatch, dimV1, Seq("user_id"),
        "ts_us", "eff_us", Seq("tier"), dimOrder = Seq("ver"),
        tolerance = Some(lit(span / 2)))
      .select($"event_id", $"tier").as[(Long, String)].collect().toSet
    val tolBatch = operators.AsOf.joinBackward(evBatch, dimV1, Seq("user_id"),
        "ts_us", "eff_us", Seq("tier"), rightOrder = Seq("ver"),
        tolerance = Some(lit(span / 2)))
      .select($"event_id", $"tier").as[(Long, String)].collect().toSet
    assert(tolStream == tolBatch)
    assert(tolStream != Set.empty)
  }

  test("E2 sessionize chains late events THROUGH each other into the open session") {
    // regression: events at start-1.5g and start-0.75g arrive in one
    // batch. Individually the first is beyond the gap from the open
    // session, but it chains through the second (both gaps <= g) —
    // the batch twin forms ONE session, so streaming must too.
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val gapUs = 3600000000L // 1h
    val q = EventStreams.sessionize(df, gapUs, "200 hours")
      .writeStream.format("memory").queryName("e2_chain").outputMode("append").start()
    try {
      val base = 2000000000000L
      input.addData((tsOf(base), 7L, 1L, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        (tsOf(base - gapUs * 3 / 2), 7L, 2L, "click", 2.0), // 1.5g before: bridges via the next
        (tsOf(base - gapUs * 3 / 4), 7L, 3L, "click", 4.0)) // 0.75g before
      q.processAllAvailable()
      input.addData((tsOf(base + 400L * gapUs), -1L, -9L, "click", 0.0))
      q.processAllAvailable()
      input.addData((tsOf(base + 800L * gapUs), -1L, -8L, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("e2_chain").filter($"user_id" === 7L)
        .select("session_start_us", "session_end_us", "n_events", "sum_value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(out === Set((base - gapUs * 3 / 2, base, 3L, 7.0)),
        s"chained late events must form ONE session with the open one: $out")
    } finally q.stop()
  }

  test("E2 sessionize merges late within-gap events backward and closes disjoint early ones") {
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val gapUs = 3600000000L // 1h
    val q = EventStreams.sessionize(df, gapUs, "200 hours") // huge watermark: nothing is "too late"
      .writeStream.format("memory").queryName("e2_late").outputMode("append").start()
    try {
      val base = 1000000000000L
      val m30 = 1800000000L
      // batch 1 opens a session at base
      input.addData((tsOf(base), 1L, 1L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: a late event 30min BEFORE the session start (within
      // gap → must merge backward, lowering session_start_us) and one
      // 10h before (disjoint → its own closed session)
      input.addData(
        (tsOf(base - m30), 1L, 2L, "click", 2.0),
        (tsOf(base - 36000000000L), 1L, 3L, "click", 4.0))
      q.processAllAvailable()
      // close everything via watermark advance (delay is 200h, so the
      // sentinels must sit far enough past it to move the watermark
      // beyond the session timeout)
      input.addData((tsOf(base + 400L * gapUs), -1L, -9L, "click", 0.0))
      q.processAllAvailable()
      input.addData((tsOf(base + 800L * gapUs), -1L, -8L, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("e2_late").filter($"user_id" === 1L)
        .select("session_start_us", "session_end_us", "n_events", "sum_value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(out.contains((base - 36000000000L, base - 36000000000L, 1L, 4.0)),
        s"disjoint early session missing: $out")
      assert(out.contains((base - m30, base, 2L, 3.0)),
        s"backward merge missing: $out")
    } finally q.stop()
  }

  test("E6 dedupStreamAgainstIndex: corpus-indexed payloads never enter, stream repeats drop") {
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .withColumn("payload", concat_ws("|", $"event_type", $"value"))
    // the static corpus index already owns "click|1.0"
    val index = Seq("click|1.0").toDF("t")
      .select(md5($"t").as("fp"))
    val q = EventStreams.dedupStreamAgainstIndex(df, "payload", index, "1 hour")
      .writeStream.format("memory").queryName("e6_out").outputMode("append").start()
    try {
      val base = 1000000000000L
      input.addData(
        (tsOf(base), 1L, 1L, "click", 1.0),           // in corpus index → dropped
        (tsOf(base + 1000000L), 1L, 2L, "view", 2.0), // fresh → kept
        (tsOf(base + 2000000L), 1L, 3L, "view", 2.0)) // stream repeat → dropped
      q.processAllAvailable()
      input.addData(
        (tsOf(base + 3000000L), 2L, 4L, "click", 1.0), // corpus dup again → dropped
        (tsOf(base + 4000000L), 2L, 5L, "buy", 9.0))   // fresh → kept
      q.processAllAvailable()
      val kept = spark.table("e6_out").select("event_id").as[Long].collect().toSet
      assert(kept == Set(2L, 5L), s"got $kept")
    } finally q.stop()
  }

  test("E6 stream == batch: dedupStreamAgainstIndex over real events matches Dedup.exactIncremental content") {
    val payload = concat_ws("|", $"user_id", $"event_type", $"value")
    val evBatch = sources.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"event_id", $"event_type", $"value")
      .withColumn("payload", payload)
    // corpus index = fingerprints of the 'view' events; the stream is
    // the full table, so exactly the non-view content should survive
    val index = graft.operators.Dedup.fingerprintIndex(
      evBatch.filter($"event_type" === "view"), $"payload").cache()
    val ev = evBatch.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .withColumn("payload", concat_ws("|", $"user_id", $"event_type", $"value"))
    val q = EventStreams.dedupStreamAgainstIndex(df, "payload", index, "1 hour")
      .writeStream.format("memory").queryName("e6_twin").outputMode("append").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("e6_twin").select($"payload").as[String].collect()
      assert(streamed.length == streamed.distinct.length,
        "stream emitted a duplicate payload")
      val batch = graft.operators.Dedup.exactIncremental(
          evBatch, $"payload", $"event_id", index, $"fp")
        .select($"payload").as[String].collect()
      assert(batch.length == batch.distinct.length)
      // content sets agree (which arrival survives differs by design)
      assert(streamed.toSet == batch.toSet,
        s"stream/batch divergence: stream=${streamed.length} batch=${batch.length}")
    } finally q.stop()
  }

  test("SnapshotStore: a crashed write can never surface as live state") {
    val root = java.nio.file.Files.createTempDirectory("graft_wap").toString + "/snap"
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    SnapshotStore.publish(v0, root, 0L)
    def live(): Set[(Long, String)] =
      SnapshotStore.read(spark, root).get.as[(Long, String)].collect().toSet

    // crash INJECTION 1: a writer died mid-write — orphan version dir
    // with data files but no _SUCCESS audit, pointer untouched
    val orphan = new java.io.File(s"$root/v7")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // garbage a naive reader would choke on
    assert(live() == Set((1L, "a"), (2L, "b")), "orphan write leaked into live state")

    // crash INJECTION 2: died at the pointer-swap instant (_CURRENT
    // deleted, rename never happened) — newest AUDITED version wins,
    // the unaudited orphan still doesn't
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_CURRENT"))
    assert(live() == Set((1L, "a"), (2L, "b")), "pointer-gap recovery picked wrong version")

    // next publish flips the pointer and GCs the orphan
    SnapshotStore.publish(Seq((1L, "a2")).toDF("k", "v"), root, 1L)
    assert(live() == Set((1L, "a2")))
    assert(!orphan.exists(), "unaudited orphan survived GC")
    // the audited predecessor is retained for in-flight readers...
    assert(new java.io.File(s"$root/v0").exists())
    SnapshotStore.publish(Seq((1L, "a3")).toDF("k", "v"), root, 2L)
    // ...and ages out one publish later
    assert(!new java.io.File(s"$root/v0").exists() &&
      new java.io.File(s"$root/v1").exists())
  }

  test("SnapshotStore: time-travel reads + keep-last-k retention") {
    val root = java.nio.file.Files.createTempDirectory("graft_tt").toString + "/snap"
    // keepLast=2: publishing v1..v3 retains all three (current + 2)
    (1L to 3L).foreach { v =>
      SnapshotStore.publish(Seq((v, s"payload$v")).toDF("k", "v"), root, v,
        keepLast = 2)
    }
    assert(SnapshotStore.versions(spark, root) == Seq(1L, 2L, 3L))
    // reading version N-1 AFTER a later publish sees N-1's rows, not live
    val old = SnapshotStore.readVersion(spark, root, 2L).get
      .as[(Long, String)].collect().toSet
    assert(old == Set((2L, "payload2")), s"time-travel read drifted: $old")
    val live = SnapshotStore.read(spark, root).get
      .as[(Long, String)].collect().toSet
    assert(live == Set((3L, "payload3")))
    // v4 ages out v1 (keep v4 + {v3, v2}), never the newer retainees
    SnapshotStore.publish(Seq((4L, "payload4")).toDF("k", "v"), root, 4L,
      keepLast = 2)
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L, 4L))
    // GC'd and never-published versions both read as None, not garbage
    assert(SnapshotStore.readVersion(spark, root, 1L).isEmpty)
    assert(SnapshotStore.readVersion(spark, root, 99L).isEmpty)
    // an unaudited orphan is invisible to versions() and readVersion()
    val orphan = new java.io.File(s"$root/v50")
    orphan.mkdirs()
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L, 4L))
    assert(SnapshotStore.readVersion(spark, root, 50L).isEmpty)
    // keepLast < 1 is an in-flight-reader hazard and must refuse
    intercept[IllegalArgumentException] {
      SnapshotStore.publish(Seq((5L, "x")).toDF("k", "v"), root, 5L, keepLast = 0)
    }
  }

  test("SnapshotStore.commit: concurrent publishers both land — no lost update") {
    val root = java.nio.file.Files.createTempDirectory("graft_occ").toString + "/snap"
    // two INTERLEAVED publishers race the CAS from real threads, three
    // commits each; under r11's publish() one pointer flip would
    // silently eat the other writer's version
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = Seq("w1", "w2").map { w =>
      new Thread(() => {
        try (1 to 3).foreach { i =>
          landed.add(SnapshotStore.commit(
            Seq((w, i)).toDF("writer", "seq"), root, keepLast = 10))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"commit threw under contention: ${errs.peek()}")
    // all six commits landed distinct versions
    import scala.jdk.CollectionConverters._
    val versions = landed.asScala.toSeq.sorted
    assert(versions.size == 6 && versions.distinct.size == 6, s"versions: $versions")
    assert(SnapshotStore.committedVersions(spark, root).toSet == versions.toSet)
    // no lost update: every (writer, seq) payload is readable at its version
    val all = versions.flatMap(v =>
      SnapshotStore.readVersion(spark, root, v).get
        .as[(String, Int)].collect().toSeq)
    assert(all.toSet == (for (w <- Seq("w1", "w2"); i <- 1 to 3) yield (w, i)).toSet,
      s"payloads: $all")
    // the live read is the HIGHEST committed version's payload
    val expected = SnapshotStore.readVersion(spark, root, versions.max).get
      .as[(String, Int)].collect().toSet
    val live = SnapshotStore.read(spark, root).get.as[(String, Int)].collect().toSet
    assert(live == expected, s"live: $live, expected v${versions.max}: $expected")
  }

  test("SnapshotStore.commit: crashed claims stay holes; a stale pointer can't resurrect a lost update") {
    val root = java.nio.file.Files.createTempDirectory("graft_occ2").toString + "/snap"
    val v1 = SnapshotStore.commit(Seq(("a", 1)).toDF("k", "n"), root, keepLast = 10)
    assert(v1 == 1L)
    // crash INJECTION: a claimant died after the CAS, before the rename
    // — log entry exists, directory never lands
    val hole = new java.io.File(s"$root/_commits/5")
    hole.getParentFile.mkdirs()
    java.nio.file.Files.write(hole.toPath, "s-dead".getBytes)
    // the next commit skips PAST the claimed number, never reuses it
    val v6 = SnapshotStore.commit(Seq(("b", 2)).toDF("k", "n"), root, keepLast = 10)
    assert(v6 == 6L, s"expected the claim hole to force v6, got v$v6")
    // the hole is invisible to readers
    assert(SnapshotStore.committedVersions(spark, root) == Seq(1L, 6L))
    assert(SnapshotStore.readVersion(spark, root, 5L).isEmpty)
    // stale pointer (committer A flipped AFTER committer B): readers
    // take max(pointer, committed log), so the newer commit stays live
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_CURRENT"),
      "v1".getBytes)
    // the raw overwrite above bypasses Hadoop's ChecksumFileSystem —
    // drop the stale .crc sidecar so the read models a real stale
    // pointer, not a corrupted one
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/._CURRENT.crc"))
    val live = SnapshotStore.read(spark, root).get.as[(String, Int)].collect().toSet
    assert(live == Set(("b", 2)), s"stale pointer resurrected a lost update: $live")
  }

  test("SnapshotStore.commit GC: a claimed mid-landing version (log entry, no _SUCCESS) survives; past the age cutoff it's swept") {
    val root = java.nio.file.Files.createTempDirectory("graft_occ3").toString + "/snap"
    SnapshotStore.commit(Seq(("a", 1)).toDF("k", "n"), root, keepLast = 1)
    // model a CONCURRENT committer mid-landing on a copy-not-rename
    // store: log claim exists, v2 partially copied, no _SUCCESS yet
    val hole = new java.io.File(s"$root/_commits/2")
    java.nio.file.Files.write(hole.toPath, "s-inflight".getBytes)
    val midDir = new java.io.File(s"$root/v2")
    midDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(midDir, "part-0.parquet").toPath,
      "partial".getBytes)
    val v3 = SnapshotStore.commit(Seq(("b", 2)).toDF("k", "n"), root, keepLast = 1)
    assert(v3 == 3L)
    assert(midDir.exists(), "GC swept a mid-landing commit with a live log claim")
    // past staleStagingMs the same directory is a CRASHED landing — GC'd
    SnapshotStore.commit(Seq(("c", 3)).toDF("k", "n"), root, keepLast = 1,
      staleStagingMs = 0L)
    assert(!midDir.exists(), "an abandoned landing past the age cutoff must be swept")
  }

  test("E8 survives a mid-stream crash artifact between batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e8crash")
    val (snap, ckpt) = (s"$dir/snapshot", s"$dir/ckpt")
    val input = MemoryStream[(Long, String, String, Int)](spark)
    val q = EventStreams.applyChangesMaintained(
      input.toDF().toDF("k", "v", "op", "ver"), Seq("k"), "ver", "op", snap, ckpt)
    try {
      input.addData((1L, "a", "I", 1), (2L, "b", "I", 1))
      q.processAllAvailable()
      // a parallel writer crashed mid-write: unaudited orphan appears
      // between batches
      val orphan = new java.io.File(s"$snap/v50")
      orphan.mkdirs()
      java.nio.file.Files.write(orphan.toPath.resolve("part-x.parquet"), Array[Byte](0))
      input.addData((2L, "b2", "U", 2), (3L, "c", "I", 1))
      q.processAllAvailable()
      val got = SnapshotStore.read(spark, snap).get
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")), s"got $got")
    } finally q.stop()
  }

  test("E7 ingestDedupMaintained: the on-disk index rejects re-arrivals across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e7")
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
      .withColumn("payload", concat_ws("|", $"event_type", $"value"))
    val q = EventStreams.ingestDedupMaintained(
      df, "payload", "event_id", idx, out, ckpt)
    try {
      val base = 1000000000000L
      // batch 1: A, B, and an intra-batch repeat of A
      input.addData(
        (tsOf(base), 1L, 1L, "a", 1.0),
        (tsOf(base + 1), 1L, 2L, "b", 2.0),
        (tsOf(base + 2), 1L, 3L, "a", 1.0))
      q.processAllAvailable()
      // batch 2: a LATE re-arrival of A (no watermark state could span
      // this — only the index can) plus fresh C
      input.addData(
        (tsOf(base + 100), 2L, 4L, "a", 1.0),
        (tsOf(base + 101), 2L, 5L, "c", 3.0))
      q.processAllAvailable()
      val accepted = spark.read.parquet(out)
        .select("event_id", "payload").as[(Long, String)].collect().toMap
      assert(accepted.keySet == Set(1L, 2L, 5L), s"accepted: $accepted")
      // the index accumulated exactly the three accepted fingerprints
      val fps = spark.read.parquet(idx).select("fp").as[String].collect()
      assert(fps.length == 3 && fps.distinct.length == 3)
    } finally q.stop()
  }

  test("E11 ingestNearDedupMaintained: the signature index rejects PERTURBED re-arrivals across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e11")
    val (sig, out, ckpt) = (s"$dir/sigs", s"$dir/out", s"$dir/ckpt")
    val a = ("the quick brown fox jumps over the lazy dog while rain falls " +
      "on the quiet village and the river bends through green fields toward " +
      "the old stone bridge where children play every summer afternoon")
    val b = "completely different content about spark partitions shuffles and " +
      "broadcast joins executed across many workers in a large cluster deployment"
    val c = "a third unrelated document describing tokenizer vocabularies merge " +
      "rules and subword segmentation applied to multilingual training corpora"
    val input = MemoryStream[(Long, String)](spark)
    val q = EventStreams.ingestNearDedupMaintained(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", sig, out, ckpt)
    try {
      // batch 1: A, B, and an IN-BATCH near-dup of A (one word changed)
      input.addData((1L, a), (2L, b), (3L, a.replace("summer", "winter")))
      q.processAllAvailable()
      // batch 2: a LATE perturbed re-arrival of A (exact dedup would
      // miss it; only the signature index can reject it) plus fresh C
      input.addData((4L, a.replace("children", "tourists")), (5L, c))
      q.processAllAvailable()
      val accepted = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(accepted == Set(1L, 2L, 5L), s"accepted: $accepted")
      // the index holds exactly the accepted docs' signatures
      val ids = spark.read.parquet(sig).select("id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 5L), s"index ids: ${ids.toSeq}")
    } finally q.stop()
  }

  test("E8 applyChangesMaintained: streamed CDC batches converge to the batch merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e8")
    val (snap, ckpt) = (s"$dir/snapshot", s"$dir/ckpt")
    val input = MemoryStream[(Long, String, String, Int)](spark)
    val df = input.toDF().toDF("k", "v", "op", "ver")
    val q = EventStreams.applyChangesMaintained(
      df, Seq("k"), "ver", "op", snap, ckpt)
    try {
      // batch 1: inserts + an intra-batch superseded update
      input.addData((1L, "a", "I", 1), (2L, "b", "I", 1),
        (1L, "a1", "U", 2), (1L, "a2", "U", 3))
      q.processAllAvailable()
      // batch 2: delete one, update the other, insert a third
      input.addData((1L, "x", "D", 4), (2L, "b9", "U", 5), (3L, "c", "I", 1))
      q.processAllAvailable()
      val got = SnapshotStore.read(spark, snap).get
        .select("k", "v").as[(Long, String)].collect().toSet
      // the batch twin over ALL changes at once must agree
      val all = Seq((1L, "a", "I", 1), (2L, "b", "I", 1), (1L, "a1", "U", 2),
        (1L, "a2", "U", 3), (1L, "x", "D", 4), (2L, "b9", "U", 5), (3L, "c", "I", 1))
        .toDF("k", "v", "op", "ver")
      val want = operators.Merge.applyChanges(
          all.select($"k", $"v").limit(0), all, Seq("k"), $"ver", $"op")
        .as[(Long, String)].collect().toSet
      assert(got === want && got === Set((2L, "b9"), (3L, "c")), s"got $got")
    } finally q.stop()
  }

  test("E2 stream == batch: sessionize over the real events table matches q_sessionize") {
    val gapUs = 43200000000L // same 12h gap as the batch query
    // real sf0.001 events, µs-normalized exactly like the batch twin
    val ev = sources.Tables.events(spark, sf)
      .select("ts", "user_id", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val maxUs = ev.map(e => e._1.getTime * 1000L).max
    val input = mkStream()
    val df = input.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = EventStreams.sessionize(df, gapUs, "1 minute")
      .writeStream.format("memory").queryName("e2_twin").outputMode("append").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      // sentinel pushes the watermark past every session's timeout
      input.addData((tsOf(maxUs + 20 * gapUs), -1L, -1L, "click", 0.0))
      q.processAllAvailable()
      input.addData((tsOf(maxUs + 40 * gapUs), -1L, -2L, "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("e2_twin")
        .filter($"user_id" >= 0)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("q_sessionize")(spark, sf)
        .select("user_id", "start_ts", "end_ts", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: onlyStream=${(streamed -- batch).take(5)} onlyBatch=${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("E10 packStream: per-shard token counters persist across batches, equals batch packer") {
    val docs = (0L until 200L).map(i => (i, i % 4, i, (i * 37) % 300 + 1))
    val input = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = EventStreams.packStream(
        input.toDF().toDF("id", "shard", "order_key", "n_tokens"), budget = 512L)
      .writeStream.format("memory").queryName("e10_out").outputMode("append").start()
    try {
      // two batches split mid-stream: shard counters must carry over
      input.addData(docs.take(120))
      q.processAllAvailable()
      input.addData(docs.drop(120))
      q.processAllAvailable()
      val streamed = spark.table("e10_out")
        .select("id", "shard", "seq_id", "tok_offset")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.operators.Packing.packSequences(
          docs.toDF("id", "shard", "order_key", "n_tokens"),
          col("shard"), Seq(col("order_key")), col("n_tokens"), budget = 512)
        .select("id", "shard", "seq_id", "tok_offset")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"onlyStream=${(streamed -- batch).take(5)} onlyBatch=${(batch -- streamed).take(5)}")
      assert(streamed.size == 200)
    } finally q.stop()
  }

  test("E15 psiDriftStream: per-window PSI equals the batch operator against the baseline") {
    val dir = java.nio.file.Files.createTempDirectory("e15").toString
    val h = 3600000000L // one hour in micros
    // baseline: uniform over [0, 10)
    val baseVals = (0 until 200).map(i => (i % 10) + 0.5)
    val baseline = graft.operators.Profile.histogram(
      baseVals.toDF("v"), col("v"), lo = 0.0, hi = 10.0, nBins = 10)
    // window 0: matches baseline (low psi); window 1: all mass in one
    // bin (high psi)
    val w0 = (0 until 100).map(i => (tsOf(i.toLong), (i % 10) + 0.5))
    val w1 = (0 until 100).map(i => (tsOf(h + i), 2.5))
    val input = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val q = EventStreams.psiDriftStream(
      input.toDF().toDF("ts", "value"), col("value"), baseline,
      lo = 0.0, hi = 10.0, nBins = 10,
      windowDuration = "1 hour", watermarkDelay = "1 minute",
      outPath = s"$dir/out", checkpointPath = s"$dir/ckpt")
    try {
      input.addData(w0 ++ w1)
      q.processAllAvailable()
      // flush: advance the watermark far past both windows
      input.addData((tsOf(10L * h), 0.5))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
        .select("window_start_us", "n_after", "psi")
        .as[(Long, Long, Double)].collect().sortBy(_._1)
      assert(got.length == 2, s"expected 2 closed windows, got ${got.toSeq}")
      // batch twins: same values through the batch psi operator
      val psi0 = graft.operators.Profile.psi(baseVals.toDF("v"),
          w0.map(_._2).toDF("v"), col("v"), 0.0, 10.0, 10)
        .select("psi").as[Double].collect().head
      val psi1 = graft.operators.Profile.psi(baseVals.toDF("v"),
          w1.map(_._2).toDF("v"), col("v"), 0.0, 10.0, 10)
        .select("psi").as[Double].collect().head
      assert(got(0) == ((0L, 100L, psi0)), s"window 0: ${got(0)} vs psi $psi0")
      assert(got(1) == ((h, 100L, psi1)), s"window 1: ${got(1)} vs psi $psi1")
      // and the shifted window reads as actionable drift
      assert(psi1 > 0.25 && psi0 < 0.1)
    } finally q.stop()
  }

  test("E14 cmsMaintained: merged snapshot cells equal one-shot sketch of the union") {
    val dir = java.nio.file.Files.createTempDirectory("e14").toString
    val words = (0 until 3000).map(i => s"w${i % 300}")
    val input = MemoryStream[String](spark)
    val q = EventStreams.cmsMaintained(
      input.toDF().toDF("term"), "term",
      s"$dir/snap", s"$dir/ckpt", width = 512, depth = 4)
    try {
      input.addData(words.take(1000))
      q.processAllAvailable()
      input.addData(words.slice(1000, 2200))
      q.processAllAvailable()
      input.addData(words.drop(2200))
      q.processAllAvailable()
      val snap = streaming.SnapshotStore.read(spark, s"$dir/snap").get
        .as[(Int, Int, Long)].collect().toSet
      val oneShot = graft.operators.Profile.countMinSketch(
          words.toDF("term"), col("term"), width = 512, depth = 4)
        .as[(Int, Int, Long)].collect().toSet
      assert(snap == oneShot, "streamed merge diverged from one-shot sketch")
      // and the snapshot answers point queries: every estimate >= truth
      val est = graft.operators.Profile.cmsEstimate(
          (0 until 300).map(i => s"w$i").toDF("k"), col("k"),
          streaming.SnapshotStore.read(spark, s"$dir/snap").get, 512, 4)
        .as[(String, Long)].collect().toMap
      assert((0 until 300).forall(i => est(s"w$i") >= 10L))
    } finally q.stop()
  }

  test("E20 kllMaintained: sub-k snapshot quantiles equal one-shot and are split-invariant") {
    val dir = java.nio.file.Files.createTempDirectory("e20").toString
    // 150 values per key < k = 200: sketches stay exact, so the
    // streamed 3-batch merge must match a one-shot build EXACTLY
    val rows = for (g <- Seq("a", "b"); i <- 1 to 150)
      yield (g, if (g == "a") i.toDouble else i * 10.0)
    val input = MemoryStream[(String, Double)](spark)
    val q = EventStreams.kllMaintained(
      input.toDF().toDF("g", "v"), "g", "v", s"$dir/snap", s"$dir/ckpt", k = 200)
    try {
      input.addData(rows.take(100))
      q.processAllAvailable()
      input.addData(rows.slice(100, 220))
      q.processAllAvailable()
      input.addData(rows.drop(220))
      q.processAllAvailable()
      val snap = streaming.SnapshotStore.read(spark, s"$dir/snap").get
      val streamed = graft.operators.Profile.quantileMerge(
          snap, col("grp"), col("sketch"), ranks = Seq(0.5, 0.9))
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("p50"), r.getAs[Double]("p90")))).toMap
      val oneShot = graft.operators.Profile.quantileMerge(
          graft.operators.Profile.quantileSketch(
            rows.toDF("g", "v"), col("g"), col("v")),
          col("grp"), col("sketch"), ranks = Seq(0.5, 0.9))
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("p50"), r.getAs[Double]("p90")))).toMap
      assert(streamed == oneShot, s"streamed $streamed vs one-shot $oneShot")
      assert(streamed("a") == ((150L, 75.0, 135.0)))
      assert(streamed("b") == ((150L, 750.0, 1350.0)))
    } finally q.stop()
  }

  test("E23 freqMaintained: under-capacity snapshot top-k equals one-shot and is split-invariant") {
    val dir = java.nio.file.Files.createTempDirectory("e23").toString
    // 30 distinct items per group, capacity 64: no purges anywhere, so
    // the streamed 3-batch union must read EXACTLY like one-shot
    val rows = for (g <- Seq("a", "b"); i <- 1 to 300)
      yield (g, s"$g-item${i % (if (g == "a") 30 else 10)}")
    val input = MemoryStream[(String, String)](spark)
    val q = EventStreams.freqMaintained(
      input.toDF().toDF("g", "it"), "g", "it",
      s"$dir/snap", s"$dir/ckpt", maxMapSize = 64)
    try {
      input.addData(rows.take(200))
      q.processAllAvailable()
      input.addData(rows.slice(200, 450))
      q.processAllAvailable()
      input.addData(rows.drop(450))
      q.processAllAvailable()
      def reading(frame: org.apache.spark.sql.DataFrame) =
        graft.operators.Profile.freqTop(frame, maxItems = 40)
          .collect()
          .map(r => (r.getAs[String]("grp"), r.getAs[String]("item")) ->
            r.getAs[Long]("estimate")).toMap
      val snap = streaming.SnapshotStore.read(spark, s"$dir/snap").get
      val streamed = reading(snap)
      val oneShot = reading(graft.operators.Profile.freqSketchTable(
        rows.toDF("g", "it"), col("g"), col("it"), maxMapSize = 64))
      assert(streamed == oneShot, s"streamed $streamed vs one-shot $oneShot")
      // exact under capacity: group b's 10 items carry 30 each
      assert((0 until 10).forall(i => streamed(("b", s"b-item$i")) == 30L))
      assert(streamed.count(_._1._1 == "a") == 30)
    } finally q.stop()
  }

  test("E41 thetaMaintained: snapshot estimates + pairwise overlap equal one-shot, split-invariant") {
    import graft.functions.ThetaSketch._
    val dir = java.nio.file.Files.createTempDirectory("e41").toString
    // groups a = {0..199}, b = {100..299}: |a|=|b|=200, overlap 100 —
    // all under 2^12 capacity so every read must be EXACT, and the
    // split lands items of BOTH groups in every batch
    val rows = (for (i <- 0 until 200) yield ("a", s"item$i")) ++
      (for (i <- 100 until 300) yield ("b", s"item$i"))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    val input = MemoryStream[(String, String)](spark)
    val q = EventStreams.thetaMaintained(
      input.toDF().toDF("g", "it"), "g", "it", s"$dir/snap", s"$dir/ckpt")
    try {
      input.addData(shuffled.take(150))
      q.processAllAvailable()
      input.addData(shuffled.slice(150, 300))
      q.processAllAvailable()
      input.addData(shuffled.drop(300))
      q.processAllAvailable()
      val snap = streaming.SnapshotStore.read(spark, s"$dir/snap").get
      val ests = snap.select(col("grp"), thetaEstimate(col("sketch")))
        .as[(String, Double)].collect().toMap
      assert(ests == Map("a" -> 200.0, "b" -> 200.0), ests.toString)
      // the set-operation read: live overlap across the snapshot rows
      val inter = snap.as("x").join(snap.as("y"), col("x.grp") < col("y.grp"))
        .select(thetaIntersectEstimate(col("x.sketch"), col("y.sketch")))
        .as[Double].head()
      assert(inter == 100.0, s"live overlap drifted: $inter")
      // split-invariance: equals the one-shot batch build's reads
      val oneShot = graft.operators.Profile.thetaSketchTable(
        rows.toDF("g", "it"), col("g"), col("it"))
      val oneEsts = oneShot.select(col("grp"), thetaEstimate(col("sketch")))
        .as[(String, Double)].collect().toMap
      assert(oneEsts == ests)
    } finally q.stop()
  }

  test("E45 thetaAdmitStream: per-batch novelty verdicts exact under capacity, corpus accumulates") {
    import graft.functions.ThetaSketch._
    val dir = java.nio.file.Files.createTempDirectory("e45").toString
    val input = MemoryStream[(String, String)](spark)
    val q = EventStreams.thetaAdmitStream(
      input.toDF().toDF("g", "it"), "g", "it",
      s"$dir/snap", s"$dir/out", s"$dir/ckpt")
    try {
      // batch 0: 200 fresh items — no corpus yet, everything is new
      input.addData((0 until 200).map(i => ("a", s"item$i")))
      q.processAllAvailable()
      // batch 1: 50 old (150..199) + 100 new (200..299) — the verdict
      // must read EXACTLY 100
      input.addData((150 until 300).map(i => ("a", s"item$i")))
      q.processAllAvailable()
      // batch 2: all old — the all-old shard must read 0, never > 0
      input.addData((0 until 80).map(i => ("a", s"item$i")))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .select("batch_id", "grp", "est_batch", "est_new")
        .as[(Long, String, Double, Double)].collect()
        .map(r => r._1 -> (r._3, r._4)).toMap
      assert(out(0L) == ((200.0, 200.0)), out.toString)
      assert(out(1L) == ((150.0, 100.0)), out.toString)
      assert(out(2L) == ((80.0, 0.0)), out.toString)
      // the corpus snapshot accumulated everything
      val snap = streaming.SnapshotStore.read(spark, s"$dir/snap").get
      val est = snap.select(thetaEstimate(col("sketch"))).as[Double].head()
      assert(est == 300.0, s"corpus estimate $est")
    } finally q.stop()
  }

  test("E13 rollingZStream: trailing baselines persist across batches, equals batch rollingZ") {
    // two metric keys, 40 buckets, a planted 100x spike at bucket 25
    val rows = for (k <- 0L to 1L; b <- 0L until 40L) yield
      (k, b, if (b == 25 && k == 0) 500.0 else 4.0 + (b % 5) * 0.25 + k)
    val input = MemoryStream[(Long, Long, Double)](spark)
    val q = EventStreams.rollingZStream(
        input.toDF().toDF("key", "bucket", "value"),
        lookback = 10, zThresh = 3.0, minPeriods = 3)
      .writeStream.format("memory").queryName("e13_out").outputMode("append").start()
    try {
      // three batches split mid-window: baselines must carry over
      input.addData(rows.filter(_._2 < 15))
      q.processAllAvailable()
      input.addData(rows.filter(r => r._2 >= 15 && r._2 < 28))
      q.processAllAvailable()
      input.addData(rows.filter(_._2 >= 28))
      q.processAllAvailable()
      val streamed = spark.table("e13_out")
        .select("key", "bucket", "value", "baseline_n", "z", "anomaly")
        .as[(Long, Long, Double, Long, Double, Boolean)].collect().toSet
      val batch = graft.operators.Stats.rollingZ(
          rows.toDF("key", "bucket", "value"),
          col("key"), col("bucket"), col("value"),
          lookback = 10, zThresh = 3.0, minPeriods = 3)
        .select(col("key"), col("bucket"), col("value"),
          col("baseline_n"), col("z"), col("anomaly"))
        .as[(Long, Long, Double, Long, Double, Boolean)].collect().toSet
      assert(streamed == batch,
        s"onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
      // the spike flagged, and only on its own key
      val flagged = streamed.filter(_._6)
      assert(flagged.exists(r => r._1 == 0L && r._2 == 25L))
      assert(flagged.forall(_._1 == 0L))
    } finally q.stop()
  }

  test("E17 levelShiftStream: verdicts lag the leading window, survive batch splits, equal batch full rows") {
    // key 0: a level step 10 -> 20 at bucket 20 (flat baseline -> the
    // z=0 sentinel path); key 1: noisy ramp-free series, no flags
    val rows = for (k <- 0L to 1L; b <- 0L until 40L) yield
      (k, b, if (k == 0) { if (b < 20) 10.0 else 20.0 }
             else 4.0 + (b % 5) * 0.25)
    val input = MemoryStream[(Long, Long, Double)](spark)
    val q = EventStreams.levelShiftStream(
        input.toDF().toDF("key", "bucket", "value"), width = 6, zThresh = 4.0)
      .writeStream.format("memory").queryName("e17_out").outputMode("append").start()
    try {
      // splits land mid-buffer: the 2*width state must carry over
      input.addData(rows.filter(_._2 < 13))
      q.processAllAvailable()
      input.addData(rows.filter(r => r._2 >= 13 && r._2 < 27))
      q.processAllAvailable()
      input.addData(rows.filter(_._2 >= 27))
      q.processAllAvailable()
      val streamed = spark.table("e17_out")
        .as[(Long, Long, Double, Double, Double, Double, Double, Boolean)]
        .collect().toSet
      // batch twin restricted to full-window rows — the only verdicts a
      // stream can ever emit (edges never complete a window pair)
      val batch = graft.operators.Stats.levelShift(
          rows.toDF("key", "bucket", "value"),
          col("key"), col("bucket"), col("value"), width = 6, zThresh = 4.0)
        .filter(col("n_pre") === 6 && col("n_post") === 6)
        .select(col("key"), col("bucket"), col("value"), col("pre_mean"),
          col("post_mean"), col("shift"), col("shift_z"), col("changepoint"))
        .as[(Long, Long, Double, Double, Double, Double, Double, Boolean)]
        .collect().toSet
      assert(streamed == batch,
        s"onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
      // the step flags at bucket 20 on key 0 via the flat-baseline
      // sentinel (sd = 0, z = 0), and never on the stable key
      val flagged = streamed.filter(_._8)
      assert(flagged.exists(r => r._1 == 0L && r._2 == 20L && r._7 == 0.0))
      assert(flagged.forall(_._1 == 0L))
    } finally q.stop()
  }

  test("E18 funnelStream: greedy per-user state machine equals batch earliest-reach funnel") {
    // u1 completes all 3 steps (purchase arrives in the LAST batch);
    // u2's click precedes signup -> stops at step 1 despite a purchase;
    // u3 advances two steps through a SAME-ts signup+click pair;
    // u4 never signs up -> no emissions at all
    val ev = Seq(
      (1L, 10L, "signup"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 5L, "click"), (2L, 10L, "signup"), (2L, 15L, "purchase"),
      (3L, 10L, "signup"), (3L, 10L, "click"),
      (4L, 10L, "click"), (4L, 20L, "purchase"))
    val steps = Seq("signup", "click", "purchase")
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = EventStreams.funnelStream(
        input.toDF().toDF("user_id", "ts_us", "event_type"), steps)
      .writeStream.format("memory").queryName("e18_out").outputMode("append").start()
    try {
      // split mid-journey: u1's purchase and u2's tail arrive later
      input.addData(ev.filter(_._2 < 15))
      q.processAllAvailable()
      input.addData(ev.filter(_._2 >= 15))
      q.processAllAvailable()
      val streamed = spark.table("e18_out")
        .as[(Long, Int, String, Long)].collect().toSet
      assert(streamed == Set(
        (1L, 1, "signup", 10L), (1L, 2, "click", 20L), (1L, 3, "purchase", 30L),
        (2L, 1, "signup", 10L),
        (3L, 1, "signup", 10L), (3L, 2, "click", 10L)), streamed.toString)
      // per-step membership == the batch funnel's n_users exactly
      val batchCounts = graft.operators.Behavior.funnel(
          ev.toDF("user_id", "ts_us", "event_type"),
          col("user_id"), col("ts_us"), col("event_type"), steps)
        .select("step", "n_users").as[(Int, Long)].collect().toMap
      val streamCounts = streamed.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(steps.indices.forall(i =>
        batchCounts(i + 1) == streamCounts.getOrElse(i + 1, 0L)),
        s"stream $streamCounts != batch $batchCounts")
    } finally q.stop()
  }

  test("E18 funnelStream: consecutive repeated step types advance through one event, == batch") {
    // funnel (signup, click, click): u1's single qualifying click must
    // satisfy BOTH click steps at the same timestamp, as batch's
    // min-over-(t >= t_prev) does
    val ev = Seq((1L, 10L, "signup"), (1L, 20L, "click"),
      (2L, 10L, "signup"))
    val steps = Seq("signup", "click", "click")
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = EventStreams.funnelStream(
        input.toDF().toDF("user_id", "ts_us", "event_type"), steps)
      .writeStream.format("memory").queryName("e18b_out").outputMode("append").start()
    try {
      input.addData(ev)
      q.processAllAvailable()
      val streamed = spark.table("e18b_out")
        .as[(Long, Int, String, Long)].collect().toSet
      assert(streamed == Set(
        (1L, 1, "signup", 10L), (1L, 2, "click", 20L), (1L, 3, "click", 20L),
        (2L, 1, "signup", 10L)), streamed.toString)
      val batchCounts = graft.operators.Behavior.funnel(
          ev.toDF("user_id", "ts_us", "event_type"),
          col("user_id"), col("ts_us"), col("event_type"), steps)
        .select("step", "n_users").as[(Int, Long)].collect().toMap
      assert(batchCounts == Map(1 -> 2L, 2 -> 1L, 3 -> 1L), batchCounts.toString)
    } finally q.stop()
  }

  test("E18 stream == batch: funnelStream over real events matches q_funnel per-step counts") {
    val steps = Seq("signup", "view", "click", "purchase")
    // feed raw epoch-nanos as the stream's time axis — the state
    // machine only compares/sorts, and batch q_funnel chains on ts_ns,
    // so sub-µs ties resolve identically on both sides
    val ev = sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ns").as("ts_us"), col("event_type"))
      .as[(Long, Long, String)].collect()
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = EventStreams.funnelStream(
        input.toDF().toDF("user_id", "ts_us", "event_type"), steps)
      .writeStream.format("memory").queryName("e18c_out").outputMode("append").start()
    try {
      // two batches split by timestamp: journeys straddle the boundary
      val cut = ev.map(_._2).sorted.apply(ev.length / 2)
      input.addData(ev.filter(_._2 < cut).toSeq)
      q.processAllAvailable()
      input.addData(ev.filter(_._2 >= cut).toSeq)
      q.processAllAvailable()
      val streamCounts = spark.table("e18c_out")
        .groupBy("step").agg(countDistinct("user_id").as("n"))
        .as[(Int, Long)].collect().toMap
      val batch = SparkEntry.queries("q_funnel")(spark, sf)
        .select("step", "n_users").as[(Int, Long)].collect().toMap
      assert(steps.indices.forall(i =>
        batch(i + 1) == streamCounts.getOrElse(i + 1, 0L)),
        s"stream $streamCounts != batch $batch")
      assert(streamCounts.getOrElse(1, 0L) > 0)
    } finally q.stop()
  }

  test("E12 admitStream: budget tap closes across batches, equals batch admission") {
    val docs = (0L until 200L).map(i => (i, i % 4, i, (i * 37) % 300 + 1))
    val input = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = EventStreams.admitStream(
        input.toDF().toDF("id", "shard", "order_key", "n_tokens"), budget = 2000L)
      .writeStream.format("memory").queryName("e12_out").outputMode("append").start()
    try {
      // three batches: the budget must fill mid-stream and STAY closed
      input.addData(docs.take(80))
      q.processAllAvailable()
      input.addData(docs.slice(80, 160))
      q.processAllAvailable()
      input.addData(docs.drop(160))
      q.processAllAvailable()
      val streamed = spark.table("e12_out")
        .select("id", "shard", "n_tokens", "tokens_before")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.operators.Sampling.admitToBudget(
          docs.toDF("id", "shard", "order_key", "n_tokens"),
          col("shard"), col("order_key"), col("n_tokens"), budget = 2000L)
        .select("id", "shard", "n_tokens", "tokens_before")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"onlyStream=${(streamed -- batch).take(5)} onlyBatch=${(batch -- streamed).take(5)}")
      // the budget genuinely closed: not everything was admitted
      assert(streamed.size < 200 && streamed.nonEmpty)
      // per shard, admitted tokens_before all under budget and the tap
      // admitted a straddling doc at most once
      streamed.groupBy(_._2).foreach { case (_, rows) =>
        assert(rows.forall(_._4 < 2000L))
      }
    } finally q.stop()
  }

  test("E9 curateStream: stateless quality/lang/blocklist gate, stream == batch") {
    val good = "the quick brown fox jumps over the lazy dog and runs far away today"
    val rows = Seq(
      (1L, good + " again and again with more words to pass the gate"),
      (2L, "!!!! ???? .... ;;;; <<<>>>"),                        // quality gate
      (3L, good + " see https://ads.tracker-net.org/x for more"), // blocklist gate
      (4L, good + " with https://safe.example.com/page linked"))  // survives
    val blocked = Seq("tracker-net.org")
    val input = MemoryStream[(Long, String)](spark)
    val df = input.toDF().toDF("doc_id", "text")
    val q = EventStreams.curateStream(df, "text", minQuality = 0.5, blocked)
      .select("doc_id")
      .writeStream.format("memory").queryName("e9_out").outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("e9_out").as[Long].collect().toSet
      // the same call runs on a batch frame — identical survivors
      val batch = EventStreams.curateStream(
          rows.toDF("doc_id", "text"), "text", minQuality = 0.5, blocked)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed == Set(1L, 4L), s"got $streamed")
    } finally q.stop()
  }

  test("E9 blocklist: a TLD-only entry matches whole hosts only, never as a suffix") {
    val good = "the quick brown fox jumps over the lazy dog and runs far away today"
    val rows = Seq(
      (1L, good + " via https://safe.example.com/a"), // .com SUFFIX: must survive
      (2L, good + " via http://com/b"))               // whole host "com": blocked
    // curateStream runs identically on batch frames — assert there
    val kept = EventStreams.curateStream(
        rows.toDF("doc_id", "text"), "text", minQuality = 0.5, Seq("com"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"got $kept")
  }

  test("E9 curateStream on real documents: stream == batch survivors") {
    val d = sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val rows = d.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)](spark)
    val q = EventStreams.curateStream(
        input.toDF().toDF("doc_id", "text"), "text", minQuality = 0.5)
      .select("doc_id")
      .writeStream.format("memory").queryName("e9b_out").outputMode("append").start()
    try {
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("e9b_out").as[Long].collect().toSet
      val batch = EventStreams.curateStream(d.toDF(), "text", minQuality = 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("E16 decontaminateStream: planted leak always flags (no false negatives), clean passes, stream == batch") {
    val eval = "which year did the treaty of westphalia end the thirty years war"
    val clean = "the quick brown fox jumps over the lazy dog today"
    val bloom = graft.operators.Dedup.probeBloom(
      Seq(eval).toDF("text"), col("text"), n = 5)
    val rows = Seq(
      (1L, eval),                    // verbatim leak: 8/8 grams, est 1.0
      (2L, clean + " " + eval),      // tail leak: 8/18 grams, est 0.4444
      (3L, clean + " again"),        // clean: 0 hits
      (4L, "too short"))             // under n tokens: no shingles, est 0
    val input = MemoryStream[(Long, String)](spark)
    val q = EventStreams.decontaminateStream(
        input.toDF().toDF("doc_id", "text"), "text", bloom, n = 5)
      .select("doc_id", "n_shingles", "n_flagged", "contamination_est", "flagged")
      .writeStream.format("memory").queryName("e16_out").outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("e16_out")
        .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
      // Bloom NEVER false-negatives: every contaminated gram counts
      assert(streamed(0) == ((1L, 8L, 8L, 1.0, true)))
      assert(streamed(1) == ((2L, 18L, 8L, math.rint(8.0 / 18.0 * 1e4) / 1e4, true)))
      // clean / degenerate docs flow through un-flagged, not dropped
      assert(streamed(2) == ((3L, 7L, 0L, 0.0, false)))
      assert(streamed(3) == ((4L, 0L, 0L, 0.0, false)))
      // identical code path on a batch frame: exact agreement
      val batch = EventStreams.decontaminateStream(
          rows.toDF("doc_id", "text"), "text", bloom, n = 5)
        .select("doc_id", "n_shingles", "n_flagged", "contamination_est", "flagged")
        .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("E16 decontaminateStream on real documents: stream == batch, flags bounded by bloom overcount") {
    val d = sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(200).cache()
    val probes = d.filter(col("doc_id") % 10 === 0).select(col("text"))
    val bloom = graft.operators.Dedup.probeBloom(probes, col("text"), n = 5)
    val rows = d.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)](spark)
    val q = EventStreams.decontaminateStream(
        input.toDF().toDF("doc_id", "text"), "text", bloom, n = 5)
      .filter(col("flagged")).select("doc_id")
      .writeStream.format("memory").queryName("e16b_out").outputMode("append").start()
    try {
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("e16b_out").as[Long].collect().toSet
      val batch = EventStreams.decontaminateStream(
          d.toDF(), "text", bloom, n = 5)
        .filter(col("flagged")).select("doc_id").as[Long].collect().toSet
      assert(streamed == batch)
      // every probe-member doc is fully contaminated -> must be flagged
      val probeIds = d.filter(col("doc_id") % 10 === 0)
        .select("doc_id").as[Long].collect().toSet
      assert(probeIds.subsetOf(streamed), "a probe member escaped the gate")
    } finally q.stop()
  }

  test("E31 armCountStream: assembled SRM equals the batch gate across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    val arms = Seq.fill(40)("a") ++ Seq.fill(10)("b") ++ Seq("x", "x")
    val input = MemoryStream[String](spark)
    val q = graft.streaming.EventStreams.armCountStream(
        input.toDF().toDF("arm"))
      .writeStream.format("memory").queryName("e31_out").outputMode("append").start()
    try {
      input.addData(arms.take(30)) // all 'a' — ghost not yet seen
      q.processAllAvailable()
      input.addData(arms.drop(30))
      q.processAllAvailable()
      // latest emission per arm (max — counts only grow)
      val cells = spark.table("e31_out")
        .groupBy("grp").agg(max("n_obs").as("n_obs"))
      val streamed = Stats.srmCheckCounts(cells, Seq("a" -> 0.5, "b" -> 0.5))
        .orderBy("grp").collect()
      val batch = Stats.srmCheck(arms.toDF("arm"), col("arm"),
          Seq("a" -> 0.5, "b" -> 0.5))
        .orderBy("grp").collect()
      assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
      assert(streamed.forall(_.getAs[Boolean]("srm_flagged")))
      assert(streamed.head.getAs[Double]("chi2") == 18.0) // (40-25)²/25 ×2 = 18
    } finally q.stop()
  }

  test("E32 retentionStateStream: assembled cohorts equal batch retention across a split with a late cohort rewrite") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // user 2's EARLIEST period (3) arrives in batch 2 — the late
    // arrival legally rewrites the cohort and the assembly must
    // reflect the corrected state, not the first emission
    val acts = Seq(
      (1L, 0L), (1L, 1L), (2L, 5L), (3L, 0L), (1L, 0L),
      (2L, 3L), (2L, 6L), (3L, 2L), (1L, 3L))
    val input = MemoryStream[(Long, Long)](spark)
    val q = graft.streaming.EventStreams.retentionStateStream(
        input.toDF().toDF("u", "w"))
      .writeStream.format("memory").queryName("e32_out").outputMode("append").start()
    try {
      input.addData(acts.take(5))
      q.processAllAvailable()
      input.addData(acts.drop(5))
      q.processAllAvailable()
      val streamed = graft.streaming.EventStreams.retentionAssemble(
          spark.table("e32_out"))
        .orderBy("cohort", "week_offset")
        .collect()
      // batch twin over the same events: bucketUs = 1 makes w = t
      val batch = graft.operators.Behavior.retentionCohorts(
          acts.toDF("u", "t"), col("u"), col("t"), bucketUs = 1L)
        .orderBy("cohort", "week_offset").collect()
      assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
      // the rewrite really happened: user 2's cohort is 3, not 5
      val u2 = spark.table("e32_out").filter(col("u") === 2L)
        .orderBy(org.apache.spark.sql.functions.size(col("ws")).desc)
        .select("cohort").as[Long].head()
      assert(u2 == 3L)
      // E33: the SAME state stream assembles into new-vs-returning —
      // user 2's period-5 row must read RETURNING after the late
      // period-3 arrival rewrote the cohort
      val nvr = graft.streaming.EventStreams.newVsReturningAssemble(
          spark.table("e32_out"))
        .orderBy("period").collect()
      val nvrBatch = graft.operators.Behavior.newVsReturning(
          acts.toDF("u", "t"), col("u"), col("t"), bucketUs = 1L)
        .orderBy("period").collect()
      assert(nvr.map(_.toSeq).toSeq == nvrBatch.map(_.toSeq).toSeq)
      val p5 = nvr.find(_.getLong(0) == 5L).get
      assert(p5.getLong(1) == 0L && p5.getLong(2) == 1L, p5.toString)
    } finally q.stop()
  }

  test("E34 cusumStream: emitted micro-lanes equal the batch windows across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    // the burst straddles the batch split, so the accumulating state
    // (prefix sums + running minima) must carry across
    val vals = Seq(3.0, 3.0, 10.0, 10.0, 3.0, 3.0).zipWithIndex.map {
      case (v, i) => ("k", i.toLong, v)
    }
    val input = MemoryStream[(String, Long, Double)](spark)
    val q = graft.streaming.EventStreams.cusumStream(
        input.toDF().toDF("key", "b", "v"), target = 3.0, slack = 0.5)
      .writeStream.format("memory").queryName("e34_out").outputMode("append").start()
    try {
      input.addData(vals.take(3))
      q.processAllAvailable()
      input.addData(vals.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("e34_out").orderBy("bucket")
        .as[(String, Long, Long, Long)].collect()
      val batch = Stats.cusum(vals.toDF("g", "b", "v"), col("g"), col("b"),
          col("v"), target = 3.0, slack = 0.5, threshold = 8.0)
        .orderBy("bucket").collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case ((_, sb, hi, lo), br) =>
        assert(sb == br.getLong(1))
        // micro-units are >= 0, so integer division IS the 4-dp floor
        assert(hi / 100L / 1e4 == br.getDouble(3), s"hi at $sb")
        assert(lo / 100L / 1e4 == br.getDouble(4), s"lo at $sb")
        assert((hi > 8000000L) == br.getBoolean(5), s"alarm at $sb")
      }
    } finally q.stop()
  }

  /** Runs `op` over a parquet file source once per batch: each batch's
    * rows land as new files, then a FRESH query starts on the same
    * checkpoint dir, drains, and stops — so every batch after the first
    * resumes from state restored out of the checkpoint. Returns the
    * file sink's rows over all runs.
    */
  private def restartedRuns(name: String, schema: String,
      batches: Seq[org.apache.spark.sql.DataFrame])(
      op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]) = {
    val root = java.nio.file.Files.createTempDirectory(name).toString
    batches.foreach { b =>
      b.write.mode("append").parquet(s"$root/in")
      val q = op(spark.readStream.schema(schema).parquet(s"$root/in"))
        .writeStream.format("parquet").option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(s"$root/out")
  }

  test("E34 cusumStream restarted from its checkpoint mid-burst equals the batch windows") {
    import graft.operators.Stats
    val vals = Seq(3.0, 3.0, 10.0, 10.0, 3.0, 3.0, 12.5, 3.0).zipWithIndex.map {
      case (v, i) => ("k", i.toLong, v)
    }
    val streamed = restartedRuns("graft_e34_restart", "key STRING, b BIGINT, v DOUBLE",
        Seq(vals.take(3).toDF("key", "b", "v"), vals.drop(3).toDF("key", "b", "v"))) {
        EventStreams.cusumStream(_, target = 3.0, slack = 0.5)
      }.orderBy("bucket").as[(String, Long, Long, Long)].collect()
    val batch = Stats.cusum(vals.toDF("g", "b", "v"), col("g"), col("b"),
        col("v"), target = 3.0, slack = 0.5, threshold = 8.0)
      .orderBy("bucket").collect()
    assert(streamed.map(_._2).toSeq == vals.map(_._2))
    streamed.zip(batch).foreach { case ((_, sb, hi, lo), br) =>
      assert(sb == br.getLong(1))
      assert(hi / 100L / 1e4 == br.getDouble(3), s"hi at $sb")
      assert(lo / 100L / 1e4 == br.getDouble(4), s"lo at $sb")
    }
    // the restored prefix sums carry the burst: hi keeps climbing past the cut
    assert(streamed(3)._3 > streamed(2)._3 && streamed(2)._3 > 0L)
  }

  test("E13 rollingZStream restarted from its checkpoint (kryo state) equals batch rollingZ") {
    val rows = for (k <- 0L to 1L; b <- 0L until 24L) yield
      (k, b, if (b == 17 && k == 0) 500.0 else 4.0 + (b % 5) * 0.25 + k)
    val streamed = restartedRuns("graft_e13_restart", "key BIGINT, bucket BIGINT, value DOUBLE",
        Seq(rows.filter(_._2 < 12), rows.filter(_._2 >= 12)).map(_.toDF("key", "bucket", "value"))) {
        EventStreams.rollingZStream(_, lookback = 10, zThresh = 3.0, minPeriods = 3)
      }.select("key", "bucket", "value", "baseline_n", "z", "anomaly")
      .as[(Long, Long, Double, Long, Double, Boolean)].collect().toSet
    val batch = graft.operators.Stats.rollingZ(
        rows.toDF("key", "bucket", "value"),
        col("key"), col("bucket"), col("value"),
        lookback = 10, zThresh = 3.0, minPeriods = 3)
      .select(col("key"), col("bucket"), col("value"),
        col("baseline_n"), col("z"), col("anomaly"))
      .as[(Long, Long, Double, Long, Double, Boolean)].collect().toSet
    assert(streamed == batch,
      s"onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
    // the first bucket after the restart scores against a full restored window
    assert(streamed.exists(r => r._1 == 0L && r._2 == 12L && r._4 == 10L))
    assert(streamed.exists(r => r._1 == 0L && r._2 == 17L && r._6))
  }

  /** Runs a `foreachBatch` sink over a parquet file source, one fresh
    * query per batch on the same checkpoint dir, then deletes the last
    * batch's commit entry and restarts once more: Spark re-runs that
    * batch with its offsets as logged — the crash between the sink's
    * writes and the checkpoint commit. `inspect` sees the sink's root
    * just before the replay. Returns the root.
    */
  private def replayedLastBatch(name: String, schema: String,
      batches: Seq[org.apache.spark.sql.DataFrame])(
      start: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)(
      inspect: String => Unit): String = {
    val root = java.nio.file.Files.createTempDirectory(name).toString
    def drain(): Unit = {
      val q = start(spark.readStream.schema(schema).parquet(s"$root/in"), root)
      try q.processAllAvailable() finally q.stop()
    }
    batches.foreach { b => b.write.mode("append").parquet(s"$root/in"); drain() }
    inspect(root)
    val last = batches.length - 1
    Seq(s"$last", s".$last.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f")))
    drain()
    root
  }

  test("E14 cmsMaintained replayed before its checkpoint commit counts the batch once") {
    val words = (0 until 2000).map(i => s"w${i % 300}")
    val root = replayedLastBatch("graft_e14_replay", "term STRING",
        Seq(words.take(800).toDF("term"), words.drop(800).toDF("term"))) {
        (in, r) => EventStreams.cmsMaintained(in, "term", s"$r/snap", s"$r/ckpt",
          width = 512, depth = 4)
      }(_ => ())
    val snap = SnapshotStore.read(spark, s"$root/snap").get
      .as[(Int, Int, Long)].collect().toSet
    val oneShot = graft.operators.Profile.countMinSketch(
        words.toDF("term"), col("term"), width = 512, depth = 4)
      .as[(Int, Int, Long)].collect().toSet
    assert(snap == oneShot, "the replayed batch was merged twice")
  }

  test("E45 thetaAdmitStream replayed before its checkpoint commit rewrites the same verdict") {
    def verdict(root: String) = spark.read.parquet(s"$root/out/batch_id=1")
      .select("grp", "est_batch", "est_new").as[(String, Double, Double)].collect().toSet
    var first = Set.empty[(String, Double, Double)]
    val root = replayedLastBatch("graft_e45_replay", "g STRING, it STRING",
        Seq((0 until 200).map(i => ("a", s"item$i")).toDF("g", "it"),
          (150 until 300).map(i => ("a", s"item$i")).toDF("g", "it"))) {
        (in, r) => EventStreams.thetaAdmitStream(in, "g", "it",
          s"$r/snap", s"$r/out", s"$r/ckpt")
      }(r => first = verdict(r))
    assert(first == Set(("a", 150.0, 100.0)), first.toString)
    assert(verdict(root) == first, "the replay scored the batch against itself")
    val est = SnapshotStore.read(spark, s"$root/snap").get
      .select(graft.functions.ThetaSketch.thetaEstimate(col("sketch"))).as[Double].head()
    assert(est == 300.0, s"corpus estimate $est")
  }

  test("E8 applyChangesMaintained replayed before its checkpoint commit republishes the same table") {
    // the replay overwrites v1 while its merge reads v0: a read of the
    // live version would lose its files to that overwrite mid-job
    def table(root: String) = SnapshotStore.read(spark, s"$root/snap").get
      .select("k", "v").as[(Long, String)].collect().toSet
    var first = Set.empty[(Long, String)]
    val root = replayedLastBatch("graft_e8_replay", "k BIGINT, v STRING, op STRING, ver INT",
        Seq(Seq((1L, "a", "I", 1), (2L, "b", "I", 1), (3L, "c", "I", 1)),
          Seq((1L, "x", "D", 2), (2L, "b2", "U", 2), (4L, "d", "I", 1)))
          .map(_.toDF("k", "v", "op", "ver"))) {
        (in, r) => EventStreams.applyChangesMaintained(in, Seq("k"), "ver", "op",
          s"$r/snap", s"$r/ckpt")
      }(r => first = table(r))
    assert(first == Set((2L, "b2"), (3L, "c"), (4L, "d")), first.toString)
    assert(table(root) == first, "the replay changed the table")
    assert(SnapshotStore.versions(spark, s"$root/snap") == Seq(0L, 1L))
  }

  test("E8 and E14 on a fresh checkpoint refuse a root another query numbered, keeping its live state") {
    // a fresh checkpoint restarts the batch ids at 0: fenced below 0,
    // the sink would bootstrap empty and publish over the live state
    val dir = java.nio.file.Files.createTempDirectory("graft_fresh_ckpt").toString
    def run[T](input: MemoryStream[T], q: org.apache.spark.sql.streaming.StreamingQuery,
        batches: Seq[T]*): Unit =
      try batches.foreach { b => input.addData(b); q.processAllAvailable() } finally q.stop()
    def refused(body: => Unit): Unit = {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](body)
      assert(e.getMessage.contains("numbered by streaming query"), e.getMessage)
    }

    val cdc = s"$dir/cdc"
    def cdcRun(ckpt: String, batches: Seq[(Long, String, String, Int)]*): Unit = {
      val input = MemoryStream[(Long, String, String, Int)](spark)
      run(input, EventStreams.applyChangesMaintained(input.toDF().toDF("k", "v", "op", "ver"),
        Seq("k"), "ver", "op", cdc, ckpt), batches: _*)
    }
    def table() = SnapshotStore.read(spark, cdc).get
      .select("k", "v").as[(Long, String)].collect().toSet
    cdcRun(s"$dir/cdc_ckpt1", Seq((1L, "a", "I", 1), (2L, "b", "I", 1)),
      Seq((2L, "b2", "U", 2)))
    refused(cdcRun(s"$dir/cdc_ckpt2", Seq((3L, "c", "I", 1))))
    assert(table() == Set((1L, "a"), (2L, "b2")), "the CDC table was reset")

    val cms = s"$dir/cms"
    val words = (0 until 600).map(i => s"w${i % 90}")
    def cmsRun(ckpt: String, batches: Seq[String]*): Unit = {
      val input = MemoryStream[String](spark)
      run(input, EventStreams.cmsMaintained(input.toDF().toDF("term"), "term", cms, ckpt,
        width = 256, depth = 3), batches: _*)
    }
    cmsRun(s"$dir/cms_ckpt1", words.take(250), words.drop(250))
    refused(cmsRun(s"$dir/cms_ckpt2", Seq("w1")))
    val cells = SnapshotStore.read(spark, cms).get.as[(Int, Int, Long)].collect().toSet
    val oneShot = graft.operators.Profile.countMinSketch(
        words.toDF("term"), col("term"), width = 256, depth = 3)
      .as[(Int, Int, Long)].collect().toSet
    assert(cells == oneShot, "the sketch was reset")
  }

  test("E7 on a fresh checkpoint refuses the batch logs another query numbered, keeping their rows") {
    // a fresh checkpoint restarts the batch ids at 0: the index log
    // would show batch 0 none of the old fingerprints (re-admitting a
    // re-arrival) and the output log's batch_id=0 would be overwritten
    val dir = java.nio.file.Files.createTempDirectory("graft_e7_fresh").toString
    val (idx, out) = (s"$dir/index", s"$dir/out")
    def e7Run(ckpt: String, batches: Seq[(Long, String)]*): Unit = {
      val input = MemoryStream[(Long, String)](spark)
      val q = EventStreams.ingestDedupMaintained(input.toDF().toDF("event_id", "payload"),
        "payload", "event_id", idx, out, ckpt)
      try batches.foreach { b => input.addData(b); q.processAllAvailable() } finally q.stop()
    }
    def rows() = spark.read.parquet(out).select("batch_id", "event_id", "payload")
      .as[(Int, Long, String)].collect().toSet
    e7Run(s"$dir/ckpt1", Seq((1L, "a"), (2L, "b")), Seq((3L, "c")))
    val before = rows()
    assert(before == Set((0, 1L, "a"), (0, 2L, "b"), (1, 3L, "c")), before)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      e7Run(s"$dir/ckpt2", Seq((4L, "a"), (5L, "d"))))
    assert(e.getMessage.contains("numbered by streaming query"), e.getMessage)
    assert(rows() == before, "the output log was overwritten")
    assert(spark.read.parquet(idx).count() == 3L, "the index log was overwritten")
  }

  test("E44 pageHinkleyStream: emitted micro walk equals batch pageHinkley across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    // the level shift straddles the batch split, so the running-mean
    // state (count + prefix sum + m walk + min) must carry across;
    // a second key proves state isolation
    val vals = Seq(("k", 0L, 10.0), ("k", 1L, 10.0), ("k", 2L, 10.0),
      ("j", 0L, 5.0), ("k", 3L, 20.0), ("k", 4L, 20.0), ("k", 5L, 20.0),
      ("j", 1L, 5.0))
    val input = MemoryStream[(String, Long, Double)](spark)
    val q = graft.streaming.EventStreams.pageHinkleyStream(
        input.toDF().toDF("key", "b", "v"), delta = 0.5)
      .writeStream.format("memory").queryName("e44_out")
      .outputMode("append").start()
    try {
      input.addData(vals.take(4))
      q.processAllAvailable()
      input.addData(vals.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("e44_out").orderBy("key", "bucket")
        .as[(String, Long, Long)].collect()
      val batch = Stats.pageHinkley(vals.toDF("g", "b", "v"), col("g"),
          col("b"), col("v"), delta = 0.5, lambda = 8.0)
        .orderBy("key", "bucket").collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case ((sk, sb, phm), br) =>
        assert(sk == br.getString(0) && sb == br.getLong(1))
        // ph micro-units are >= 0: integer division IS the 4-dp floor
        assert(phm / 100L / 1e4 == br.getDouble(3), s"ph at ($sk, $sb)")
        assert((phm > 8000000L) == br.getBoolean(4), s"alarm at ($sk, $sb)")
      }
      // the shift actually alarms within the streamed feed
      assert(streamed.exists { case (k, _, p) => k == "k" && p > 8000000L })
    } finally q.stop()
  }

  test("E39 ewmaStream: emitted micro walk equals batch ewmaChart across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    // the level shift straddles the batch split, so the smoothed
    // state must carry across; two keys prove state isolation
    val vals = Seq(("a", 0L, 4.0), ("a", 1L, 4.0), ("a", 2L, 12.0),
      ("b", 0L, 2.0), ("a", 3L, 12.0), ("a", 4L, 12.0), ("b", 1L, 9.0))
    val input = MemoryStream[(String, Long, Double)](spark)
    val q = graft.streaming.EventStreams.ewmaStream(
        input.toDF().toDF("key", "b", "v"), alphaNum = 1, alphaDen = 4,
        band = 2.0)
      .writeStream.format("memory").queryName("e39_out").outputMode("append").start()
    try {
      input.addData(vals.take(4))
      q.processAllAvailable()
      input.addData(vals.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("e39_out").orderBy("key", "bucket")
        .as[(String, Long, Long, Long, Option[Long], Boolean)].collect()
      val batch = Stats.ewmaChart(vals.toDF("g", "b", "v"), col("g"),
          col("b"), col("v"), alphaNum = 1, alphaDen = 4, band = 2.0)
        .orderBy("key", "bucket").collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case ((k, sb, vm, em, rm, al), br) =>
        assert(k == br.getString(0) && sb == br.getLong(1))
        assert(vm / 1e6 == br.getDouble(2), s"value at $k/$sb")
        assert(em / 1e6 == br.getDouble(3), s"ewma at $k/$sb")
        assert(rm.map(_ / 1e6) == Option(br.get(4)).map(_.asInstanceOf[Double]),
          s"resid at $k/$sb")
        assert(al == br.getBoolean(5), s"alarm at $k/$sb")
      }
      // hand-check the walk on key a (micro-units, alpha = 1/4):
      // s0 = 4e6; resid(1) = 0 no alarm, s1 = 4e6;
      // resid(2) = 8e6 ALARM, s2 = (12e6 + 3*4e6)/4 = 6e6;
      // resid(3) = 6e6 ALARM, s3 = (12e6 + 18e6)/4 = 7.5e6;
      // resid(4) = 4.5e6 ALARM, s4 = (12e6 + 22.5e6)/4 = 8625000
      val a = streamed.filter(_._1 == "a")
      assert(a.map(_._4).toSeq ==
        Seq(4000000L, 4000000L, 6000000L, 7500000L, 8625000L))
      assert(a.map(_._6).toSeq == Seq(false, false, true, true, true))
    } finally q.stop()
  }

  test("E40 holtStream: level+trend micro walk equals batch holtChart across a split incl. negative trend") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    // rise then FALL: the trend lane must go negative mid-stream, and
    // the split lands inside the falling segment so two longs of state
    // (and the truncating-division sign behavior) carry across
    val vals = Seq(("a", 0L, 4.0), ("a", 1L, 8.0), ("a", 2L, 12.0),
      ("a", 3L, 6.0), ("a", 4L, 2.0), ("a", 5L, 1.0))
    val input = MemoryStream[(String, Long, Double)](spark)
    val q = graft.streaming.EventStreams.holtStream(
        input.toDF().toDF("key", "b", "v"))
      .writeStream.format("memory").queryName("e40_out").outputMode("append").start()
    try {
      input.addData(vals.take(4))
      q.processAllAvailable()
      input.addData(vals.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("e40_out").orderBy("bucket")
        .as[(String, Long, Long, Long, Long, Option[Long], Boolean)].collect()
      val batch = Stats.holtChart(vals.toDF("g", "b", "v"), col("g"),
          col("b"), col("v")).orderBy("bucket").collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case ((k, sb, vm, lm, tm, rm, al), br) =>
        assert(k == br.getString(0) && sb == br.getLong(1))
        assert(vm / 1e6 == br.getDouble(2), s"value at $sb")
        assert(lm / 1e6 == br.getDouble(3), s"level at $sb")
        assert(tm / 1e6 == br.getDouble(4), s"trend at $sb")
        assert(rm.map(_ / 1e6) == Option(br.get(5)).map(_.asInstanceOf[Double]),
          s"resid at $sb")
        assert(al == br.getBoolean(6), s"alarm at $sb")
      }
      // the falling segment must actually drive the trend negative
      assert(streamed.exists(_._5 < 0L), streamed.mkString(","))
      // and the climbing segment must NOT alarm once the trend is
      // learned while the crash does (the whole point vs plain EWMA)
      assert(streamed.last._7, "the crash-to-1 bucket should alarm")
    } finally q.stop()
  }

  test("E43 holtWintersStream: level+trend+seasonal-ring walk equals batch across a mid-cycle split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    // period-3 sawtooth with a level jump: the split lands MID-CYCLE so
    // the seasonal ring (not just two longs) must carry across batches
    val pat = Seq(10.0, 2.0, 6.0)
    val vals = Seq.tabulate(11)(i =>
      ("a", i.toLong, pat(i % 3) + (if (i >= 6) 20.0 else 0.0)))
    val input = MemoryStream[(String, Long, Double)](spark)
    val q = graft.streaming.EventStreams.holtWintersStream(
        input.toDF().toDF("key", "b", "v"), period = 3)
      .writeStream.format("memory").queryName("e43_out").outputMode("append").start()
    try {
      input.addData(vals.take(5)) // split inside cycle 2 (phase 2 of 3)
      q.processAllAvailable()
      input.addData(vals.drop(5))
      q.processAllAvailable()
      val streamed = spark.table("e43_out").orderBy("bucket")
        .as[(String, Long, Long, Long, Long, Long, Option[Long], Boolean)].collect()
      val batch = Stats.holtWintersChart(vals.toDF("g", "b", "v"), col("g"),
          col("b"), col("v"), period = 3).orderBy("bucket").collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case ((k, sb, vm, lm, tm, cm, rm, al), br) =>
        assert(k == br.getString(0) && sb == br.getLong(1))
        assert(vm / 1e6 == br.getDouble(2), s"value at $sb")
        assert(lm / 1e6 == br.getDouble(3), s"level at $sb")
        assert(tm / 1e6 == br.getDouble(4), s"trend at $sb")
        assert(cm / 1e6 == br.getDouble(5), s"seasonal at $sb")
        assert(rm.map(_ / 1e6) == Option(br.get(6)).map(_.asInstanceOf[Double]),
          s"resid at $sb")
        assert(al == br.getBoolean(7), s"alarm at $sb")
      }
      // the seasonal lane must be non-trivial (ring actually used)
      assert(streamed.exists(_._6 != 0L))
      // the level jump at bucket 6 must alarm
      assert(streamed.find(_._2 == 6L).exists(_._8), "level jump should alarm")
    } finally q.stop()
  }

  test("E35 lineFirstSeenStream: assembled df/nDocs equal the batch inputs across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // doc 1 repeats its own footer (must count once); doc 3's copy of
    // the footer arrives in batch 2 — df rises across the split;
    // "FOOTER!" and "footer" share a normalized fingerprint
    val lines = Seq(
      (1L, "footer"), (1L, "FOOTER!"), (1L, "alpha"),
      (2L, "footer"), (2L, "beta"),
      (3L, "  footer "), (3L, "gamma"), (2L, "beta"))
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.EventStreams.lineFirstSeenStream(
        input.toDF().toDF("doc", "line"))
      .writeStream.format("memory").queryName("e35_out").outputMode("append").start()
    try {
      input.addData(lines.take(5))
      q.processAllAvailable()
      input.addData(lines.drop(5))
      q.processAllAvailable()
      val em = spark.table("e35_out")
      val dfStream = em.groupBy("fp").count()
        .as[(String, Long)].collect().toMap
      // batch inputs: distinct-per-doc fingerprint doc frequency
      val batch = lines.toDF("doc", "line")
        .select(col("doc"), graft.functions.normFingerprint(col("line")).as("fp"))
        .distinct().groupBy("fp").count()
        .as[(String, Long)].collect().toMap
      assert(dfStream == batch)
      assert(dfStream.values.max == 3L) // the footer across all 3 docs
      val nDocsStream = em.select("doc").distinct().count()
      assert(nDocsStream == 3L)
      // the above-cut boilerplate set matches the batch rule
      val cut = dfStream.filter { case (_, df) => df > 3L * 0.5 }.keySet
      assert(cut.size == 1)
    } finally q.stop()
  }

  test("E36 kAnonymityStream: latest class rows equal batch kAnonymity across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // class A crosses k=3 only after the split; a NULL sensitive
    // counts toward size but never toward distinct
    val rows = Seq(
      ("A", "x"), ("A", "y"), ("B", "x"),
      ("A", null), ("A", "x"), ("B", "z"))
    val input = MemoryStream[(String, String)](spark)
    val q = graft.streaming.EventStreams.kAnonymityStream(
        input.toDF().toDF("q", "s"))
      .writeStream.format("memory").queryName("e36_out").outputMode("append").start()
    try {
      input.addData(rows.take(3))
      q.processAllAvailable()
      input.addData(rows.drop(3))
      q.processAllAvailable()
      // latest per class = largest class_size (counts only grow)
      val streamed = spark.table("e36_out")
        .groupBy("q").agg(
          max(org.apache.spark.sql.functions.struct("class_size", "n_sensitive"))
            .as("m"))
        .select(col("q"), col("m.class_size"), col("m.n_sensitive"))
        .as[(String, Long, Long)].collect().toSet
      val batch = graft.operators.Profile.kAnonymity(
          rows.toDF("q", "s"), Seq(col("q")), col("s"), k = 3)
        .select(col("q"), col("class_size"), col("n_sensitive"))
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(("A", 4L, 2L), ("B", 2L, 2L)))
    } finally q.stop()
  }

  test("E37 sprtStream: micro-lanes equal the batch walk across a split; live crossing detected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Stats
    // 8 straight wins with the split mid-walk: the 7th observation
    // crosses the upper Wald bound — detectable live from llr7
    val obs = Seq.tabulate(8)(i => ("w", i.toLong, true)) ++
      Seq.tabulate(5)(i => ("l", i.toLong, false))
    val input = MemoryStream[(String, Long, Boolean)](spark)
    val q = graft.streaming.EventStreams.sprtStream(
        input.toDF().toDF("key", "o", "x"), p0 = 0.4, p1 = 0.6)
      .writeStream.format("memory").queryName("e37_out").outputMode("append").start()
    try {
      input.addData(obs.take(4))
      q.processAllAvailable()
      input.addData(obs.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("e37_out")
        .as[(String, Long, Long)].collect()
        .map { case (k, o, l) => (k, o) -> l }.toMap
      val batch = Stats.sprt(obs.toDF("k", "o", "x"), col("k"), col("o"),
          col("x"), p0 = 0.4, p1 = 0.6)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getString(3))).toMap
      assert(streamed.size == batch.size)
      val upper7 = BigDecimal(math.log(0.8 / 0.05))
        .setScale(7, BigDecimal.RoundingMode.HALF_UP)
        .underlying().movePointRight(7).longValueExact()
      streamed.foreach { case (k, llr7) =>
        // floor-division reproduces the batch 4-dp floor for any sign
        assert(math.floorDiv(llr7, 1000L) / 1e4 == batch(k)._1, s"llr at $k")
        val liveH1 = llr7 >= upper7
        assert(liveH1 == (batch(k)._2 == "accept_h1"), s"decision at $k")
      }
    } finally q.stop()
  }

  test("E30 cmsCellStream: final cells equal the batch CMS exactly across a batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val terms = Seq("a", "b", "a", "c", "a", "b", "d", "a", "e", "c")
    val input = MemoryStream[String](spark)
    val q = graft.streaming.EventStreams.cmsCellStream(
        input.toDF().toDF("term"), width = 64, depth = 4)
      .writeStream.format("memory").queryName("e30_out").outputMode("append").start()
    try {
      input.addData(terms.take(6)) // a×3 b×2 c×1 before the split
      q.processAllAvailable()
      input.addData(terms.drop(6))
      q.processAllAvailable()
      // LAST emission per cell (batch-ordinal max count — counts only
      // grow) == the batch sketch cell for cell
      val streamed = spark.table("e30_out")
        .groupBy("depth", "bucket").agg(max("cnt").as("cnt"))
      val batch = graft.operators.Profile.countMinSketch(
        terms.toDF("t"), col("t"), width = 64, depth = 4)
      assert(streamed.as[(Int, Int, Long)].collect().toSet ==
        batch.as[(Int, Int, Long)].collect().toSet)
      // and the probe side agrees: estimates off the streamed cells
      // == estimates off the batch sketch for every distinct term
      val keys = terms.distinct.toDF("t")
      val estS = graft.operators.Profile.cmsEstimate(
          keys, col("t"), streamed, width = 64, depth = 4)
        .as[(String, Long)].collect().toMap
      val estB = graft.operators.Profile.cmsEstimate(
          keys, col("t"), batch, width = 64, depth = 4)
        .as[(String, Long)].collect().toMap
      assert(estS == estB)
      assert(estS("a") == 4L) // no collision at width 64 on 5 keys
    } finally q.stop()
  }

  test("E27 vocabFirstSeenStream: first-seen attribution equals batch vocabGrowth across a batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // bucket 0: {x, y}; bucket 1: {y, z}; bucket 2: {x} — the batch
    // split lands mid-bucket-1 so y's re-arrival crosses state
    val terms = Seq(
      ("x", 0L), ("y", 0L), ("x", 0L),
      ("y", 1L), ("z", 1L),
      ("x", 2L))
    val input = MemoryStream[(String, Long)](spark)
    val q = graft.streaming.EventStreams.vocabFirstSeenStream(
        input.toDF().toDF("term", "bucket"))
      .writeStream.format("memory").queryName("e27_out").outputMode("append").start()
    try {
      input.addData(terms.take(4)) // y arrives again in bucket 1 here
      q.processAllAvailable()
      input.addData(terms.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("e27_out")
        .as[(String, Long)].collect().toSet
      assert(streamed == Set(("x", 0L), ("y", 0L), ("z", 1L)),
        s"got $streamed")
      // downstream count per bucket == batch vocabGrowth's n_new_terms
      val newPerBucket = spark.table("e27_out")
        .groupBy("bucket").count().as[(Long, Long)].collect().toMap
      val docs = Seq((0L, "x y x"), (1L, "y z"), (2L, "x")).toDF("b", "text")
      val batch = graft.operators.TextMetrics.vocabGrowth(docs, col("b"), col("text"))
        .select("bucket", "n_new_terms").as[(Long, Long)].collect()
        .filter(_._2 > 0).toMap
      assert(newPerBucket == batch, s"$newPerBucket vs $batch")
    } finally q.stop()
  }

  test("E26 interArrivalStream: gap multiset equals the batch lag window across a batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ev = Seq(
      ("a", 10L, 1L), ("a", 20L, 2L), ("a", 45L, 3L), ("a", 100L, 4L),
      ("c", 7L, 6L), ("c", 7L, 7L)) // same-instant pair: gap 0
    val input = MemoryStream[(String, Long, Long)](spark)
    val q = graft.streaming.EventStreams.interArrivalStream(
        input.toDF().toDF("key", "t", "tb"))
      .writeStream.format("memory").queryName("e26_out").outputMode("append").start()
    try {
      input.addData(ev.take(2)) // a's 10->20 gap inside batch 1
      q.processAllAvailable()
      input.addData(ev.drop(2)) // 20->45 carries ACROSS the boundary
      q.processAllAvailable()
      val streamed = spark.table("e26_out")
        .select("key", "gap").as[(String, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      val batch = graft.operators.Behavior.interArrival(
          ev.toDF("k", "t", "eid"), col("k"), col("t"), col("eid"))
      // batch emits the profile; recompute its raw gaps for the
      // multiset comparison with the same lag window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("t"), col("eid"))
      val batchGaps = ev.toDF("k", "t", "eid")
        .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .filter(col("gap").isNotNull)
        .select("k", "gap").as[(String, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(streamed == batchGaps, s"streamed $streamed vs batch $batchGaps")
      assert(streamed(("a", 25L)) == 1, "the cross-batch 20->45 gap must appear")
      // and the batch PROFILE over the streamed gaps agrees with the
      // batch operator end-to-end
      assert(batch.filter(col("key") === "a").select("p90_gap")
        .as[Long].collect().head == 55L)
    } finally q.stop()
  }

  test("E25 transitionPairStream: pair multiset equals the batch lead window across a batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // u1: A->B->A->C split 2+2 (the A->A carry crosses the batch
    // boundary); u2: same-ts pair ordered by event_id; u3 single event
    // emits nothing
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"), (1L, 30L, 3L, "A"), (1L, 40L, 4L, "C"),
      (2L, 50L, 6L, "Y"), (2L, 50L, 5L, "X"),
      (3L, 60L, 7L, "Z"))
    val input = MemoryStream[(Long, Long, Long, String)](spark)
    val q = graft.streaming.EventStreams.transitionPairStream(
        input.toDF().toDF("user_id", "ts_ns", "event_id", "event_type"))
      .writeStream.format("memory").queryName("e25_out").outputMode("append").start()
    try {
      input.addData(ev.take(2))
      q.processAllAvailable()
      input.addData(ev.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("e25_out")
        .groupBy("from_event", "to_event").count()
        .as[(String, String, Long)].collect().toSet
      val batch = graft.operators.Behavior.transitionMatrix(
          ev.toDF("user_id", "ts_ns", "event_id", "event_type"),
          col("user_id"), col("ts_ns"), col("event_type"),
          tiebreak = col("event_id"))
        .select("from_event", "to_event", "n").as[(String, String, Long)]
        .collect().toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      // the cross-batch B->A carry and the same-ts X->Y tiebreak
      assert(streamed.contains(("B", "A", 1L)))
      assert(streamed.contains(("X", "Y", 1L)))
    } finally q.stop()
  }

  test("E28 attributionPairStream: pair multiset equals the batch join across a batch split; credits reconcile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the BehaviorSpec fixture: boundary-inclusive touch, out-of-window
    // touch, creditless conversion, same-ts id tiebreak — and the
    // batch split lands BETWEEN u1's touches and u1's conversion, so
    // the pairing crosses the boundary through carried state
    val ev = Seq(
      (1L, 1L, 950L, "click", 0.0), (1L, 2L, 960L, "view", 0.0),
      (1L, 3L, 990L, "click", 0.0), (1L, 4L, 850L, "click", 0.0),
      // -- batch split here --
      (1L, 100L, 1000L, "purchase", 30.0),
      (2L, 5L, 2000L, "view", 0.0), (2L, 101L, 2000L, "purchase", 12.0),
      (3L, 103L, 5000L, "purchase", 9.0),
      (4L, 6L, 2950L, "click", 0.0), (4L, 7L, 2950L, "click", 0.0),
      (4L, 102L, 3000L, "purchase", 10.0))
    val input = MemoryStream[(Long, Long, Long, String, Double)](spark)
    val q = graft.streaming.EventStreams.attributionPairStream(
        input.toDF().toDF("user_id", "event_id", "ts_us", "event_type", "value"),
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        lookbackUs = 100L)
      .writeStream.format("memory").queryName("e28_out").outputMode("append").start()
    try {
      input.addData(ev.take(4))
      q.processAllAvailable()
      input.addData(ev.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("e28_out")
        .select("conv_id", "touch_id", "channel", "tts", "cts", "cv")
        .as[(Long, Long, String, Long, Long, Double)].collect().toSet
      // batch twin of the internal conversion×touch join
      val df = ev.toDF("u", "id", "ts", "t", "v")
      val conv = df.filter(col("t") === "purchase")
        .select(col("u"), col("id").as("conv_id"), col("ts").as("cts"),
          col("v").as("cv"))
      val touch = df.filter(col("t").isin("click", "view"))
        .select(col("u"), col("id").as("touch_id"), col("ts").as("tts"),
          col("t").as("channel"))
      val batchPairs = conv.join(touch, Seq("u"))
        .filter(col("tts") >= col("cts") - 100L && col("tts") <= col("cts"))
        .select("conv_id", "touch_id", "channel", "tts", "cts", "cv")
        .as[(Long, Long, String, Long, Long, Double)].collect().toSet
      assert(streamed == batchPairs, s"streamed $streamed vs batch $batchPairs")
      // the out-of-window touch (id 4) never pairs; the boundary touch does
      assert(!streamed.exists(_._2 == 4L))
      assert(streamed.exists(p => p._2 == 5L && p._4 == p._5))
      // downstream credit aggregate over the emitted pairs reconciles
      // with attributionCredit (linear split; hand numbers from
      // BehaviorSpec: click 30.0, view 22.0)
      val lin = spark.table("e28_out")
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("conv_id")))
        .groupBy("channel")
        .agg(sum(col("cv") / col("__n")).as("credit_linear"))
        .as[(String, Double)].collect().toMap
      assert(lin("click") == 30.0 && lin("view") == 22.0, lin.toString)
    } finally q.stop()
  }
}
