package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface (SURVEY §2.E): watermarked tumbling
  * windows and stateful gap sessionization over an event stream shaped
  * like the `events` table.
  *
  * Scale design: watermarks bound state (late rows beyond the watermark
  * are dropped, window state is evicted once the watermark passes);
  * session state is per-key, O(1) per event, and evicted by event-time
  * timeout — a 1000-executor job holds only the open sessions of its
  * own key range.
  */
object EventStreams {

  /** One event row. `ts` stays a Timestamp so the watermark-tagged
    * attribute survives into the stateful operator (required for
    * event-time timeout); `ts_us` carries the exact epoch-micros the
    * session arithmetic uses.
    */
  case class Event(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      event_type: String, value: Double)

  case class SessionOut(
      user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long, sum_value: Double)

  /** Internal per-key state (public: Catalyst's generated encoder code
    * must be able to call the accessors).
    */
  case class SessionState(
      startUs: Long, endUs: Long, n: Long, sumV: Double)

  /** E1: watermarked tumbling-window counts per event type. Input needs
    * a TimestampType `ts` column. Batch twin: `q_time_buckets`.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** E3: streaming exact dedup — drop payloads already seen, with the
    * watermark bounding how long each key is remembered (unbounded
    * dedup state is the classic streaming-ingest OOM). `keyCols`
    * usually holds a content fingerprint (md5/xxhash of the payload).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** E4: watermarked stream-stream interval join — each `left` event
    * joins `right` events of the same key whose event time falls in
    * [left.ts − lookback, left.ts]. Both sides carry watermarks and the
    * join condition bounds event time in BOTH directions, so Spark can
    * evict buffered state once the watermark passes — without the time
    * bound a stream-stream join buffers forever (the classic unbounded-
    * state failure). Columns: left must have (ts, `key`), right
    * (ts, `key`) — EVERY right column is renamed with an `r_` prefix,
    * so two same-shaped streams (the common case: one events table
    * joined to itself) come back with unambiguous column names.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      lookback: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    val r = right.columns.foldLeft(right) { (df, c) =>
        df.withColumnRenamed(c, s"r_$c")
      }
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col(key) === col(s"r_$key") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("ts"))
  }

  /** E5: stream-static enrichment — every streaming event joined to a
    * static dimension table (user profiles, source registries, quality
    * allowlists). The static side is broadcast, so the join is
    * STATELESS: no watermark, no buffered state, each micro-batch pays
    * one broadcast-hash probe — the scale-safe way to decorate a 100
    * TB/day stream with reference data. Join types are restricted to
    * the stream-side-preserving set (Spark cannot null-extend the
    * static side of a stream-static join, and replicating the stream
    * would be stateful).
    */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      key: String,
      joinType: String = "left"): DataFrame = {
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti")(joinType),
      s"stream-static enrichment supports stream-preserving join types only, got $joinType")
    events.join(broadcast(dim), Seq(key), joinType)
  }

  /** E38: stream-static AS-OF enrichment — the live-feature-join shape:
    * every streaming event attaches the latest dim row whose time is
    * at-or-before the event's time, per key ([[graft.operators.AsOf
    * .joinBackward]]'s semantics against a STATIC dimension — e.g. a
    * [[SnapshotStore]] version, so features are point-in-time correct
    * against the snapshot history instead of leaking the newest value
    * backward in time).
    *
    * The batch union+window formulation cannot run inside a streaming
    * micro-batch (an unbounded window over a stream is stateful); the
    * streaming-legal form folds the dim's PER-KEY HISTORY into one
    * sorted array column (tiny: a dimension's versions-per-key, not
    * events), broadcasts it, and each event picks its match with a
    * row-local array scan — a stateless broadcast-hash probe per
    * micro-batch, no watermark, no state store, same as [[enrich]].
    * Scale contract: per-key history must be dimension-sized (the
    * caller controls retention via SnapshotStore's keepLast); the
    * event stream itself never buffers.
    *
    * NULL contract matches joinBackward: null-key/null-ts dim rows
    * match nothing; null-key/null-ts events get a null payload.
    * `dimOrder` breaks ties among dim rows with equal (key, ts) — the
    * greatest wins, exactly the batch window's last-row pick.
    */
  def asOfEnrich(
      events: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      eventTs: String,
      dimTs: String,
      dimPayload: Seq[String],
      dimOrder: Seq[String] = Nil,
      tolerance: Option[Column] = None): DataFrame = {
    require(dimPayload.nonEmpty, "dimPayload must name at least one column")
    val dimKeyed = (dimTs +: keys).foldLeft(dim)((d, k) => d.filter(col(k).isNotNull))
    // ts first, then tiebreaks: sort_array's struct order IS the
    // batch window's (ts, rightOrder) ordering
    val entry = struct((Seq(dimTs) ++ dimOrder ++ dimPayload).distinct.map(col): _*)
    val hist = dimKeyed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(entry)).as("__hist"))
    val picked = events.join(broadcast(hist), keys, "left")
      .withColumn("__q", filter(col("__hist"), h => h(dimTs) <= col(eventTs)))
      .withColumn("__match",
        when(size(col("__q")) > 0, element_at(col("__q"), size(col("__q")))))
    val bounded = tolerance match {
      case Some(tol) => picked.withColumn("__match",
        when(col(eventTs) - col("__match")(dimTs) <= tol, col("__match")))
      case None => picked
    }
    bounded.select(
      events.columns.toIndexedSeq.map(col) ++
        dimPayload.map(c => col("__match")(c).as(c)): _*)
  }

  /** E9: streaming CURATION gate — the batch quality + language gate
    * (q_corpus_curate's first stage) applied UNCHANGED to a document
    * stream: pure per-row projections, so it is stateless (no
    * watermark, no state store) and the same call works on batch
    * frames — which is exactly what the stream==batch spec proves.
    *
    * The domain blocklist folds into ONE codegen'd regexp over the
    * row's extracted hosts rather than the batch operator's
    * blocklist-frame join: a join against a stream-DERIVED exploded
    * frame would be stream-stream; blocklists are config-sized by
    * nature, so compiling them into the plan is the honest streaming
    * shape (same suffix semantics as
    * [[graft.operators.TextMetrics.dropBlockedDomains]]).
    */
  def curateStream(
      docs: DataFrame,
      textCol: String,
      minQuality: Double = 0.5,
      blockedDomains: Seq[String] = Nil): DataFrame = {
    val text = col(textCol)
    val scored = graft.operators.TextMetrics.withLangId(
      graft.operators.TextMetrics.withQuality(docs, text), text)
    val gated = scored
      .filter(col("quality") >= minQuality && col("lang_pred") =!= "und")
    if (blockedDomains.isEmpty) gated
    else {
      // dropBlockedDomains' exact semantics, compiled: a >=2-label
      // entry matches as a dot-suffix or whole host ("[ .]d "), a
      // single-label entry matches the WHOLE host only (" d ") — so a
      // TLD-only entry can't wipe the corpus here either
      val pat = blockedDomains.map { d =>
        val q = java.util.regex.Pattern.quote(d.toLowerCase)
        if (d.contains(".")) s"[ .]$q " else s" $q "
      }.mkString("|")
      val hosts = concat(lit(" "),
        array_join(graft.operators.TextMetrics.urlDomains(text), " "), lit(" "))
      gated.filter(!hosts.rlike(pat))
    }
  }

  /** E16: streaming decontamination gate — the shard-arrival twin of
    * batch [[graft.operators.Dedup.contaminationBloom]]: arriving docs
    * score against the benchmark suite with NO state store and NO
    * shuffle. The probe's distinct shingle set is compiled into a
    * Bloom sketch once ([[graft.operators.Dedup.probeBloom]] — driver
    * metadata, ~1.2 MB per 1M shingles at 1% fpp) and probed
    * row-locally, so the gate composes with any downstream stateful
    * stage and a restart carries no contamination state to rebuild.
    *
    * The estimate only OVERCOUNTS (Bloom has no false negatives): a
    * doc whose true contamination exceeds the threshold is ALWAYS
    * flagged; clean docs flag at ≤ fpp per shingle. Flag-not-drop:
    * every row flows on with (n_shingles, n_flagged,
    * contamination_est, flagged) so a downstream exact confirm — or
    * the batch contaminationBloom run over the accepted corpus — makes
    * the final call.
    *
    * The per-shingle probe is an interpreted HOF lambda over the
    * row's own shingle array (bound as a lambda var: ONE evaluation
    * per row) — bounded by doc length, the stream-side tier where that
    * cost is acceptable; the batch tier keeps contaminationBloom's
    * codegen'd explode. Runs identically on batch frames (the
    * stream==batch proof in StreamingSpec).
    */
  def decontaminateStream(
      docs: DataFrame,
      textCol: String,
      probeBloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int = 5,
      maxContamination: Double = 0.05): DataFrame = {
    import graft.functions._
    val sh = array_distinct(shingles(tokens(col(textCol)), n))
    val g = get(transform(array(sh), arr => struct(
      size(arr).as("n"),
      size(filter(arr, s =>
        BloomMightContain.mightContain(xxhash64(s), probeBloom))).as("hit"))),
      lit(0))
    docs.withColumn("__g", g)
      .withColumn("n_shingles", col("__g").getField("n").cast("long"))
      .withColumn("n_flagged", col("__g").getField("hit").cast("long"))
      .withColumn("contamination_est",
        when(col("n_shingles") > 0,
          round(col("n_flagged").cast("double") / col("n_shingles"), 4))
          .otherwise(0.0))
      .withColumn("flagged", col("contamination_est") > maxContamination)
      .drop("__g")
  }

  /** E6: streaming INCREMENTAL dedup — the streaming twin of batch
    * `Dedup.exactIncremental`: arriving records drop (a) anything whose
    * content fingerprint is already in the static corpus index (stream-
    * static broadcast anti-join, STATELESS) and (b) repeats within the
    * stream itself (`dropDuplicatesWithinWatermark`, state bounded by
    * the watermark). Order matters at scale: the index probe runs
    * first, so rows the corpus already owns never enter the dedup
    * state store.
    *
    * `index` is the persisted fingerprint table (one `fp` md5 column,
    * [[graft.operators.Dedup.fingerprintIndex]]); refresh it between
    * restarts by appending each accepted micro-batch's fingerprints —
    * within a run, intra-stream dedup covers the gap.
    */
  def dedupStreamAgainstIndex(
      records: DataFrame,
      textCol: String,
      index: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    records
      .withColumn("__fp", md5(col(textCol)))
      // rename the index column: joining on a bare `fp` would be an
      // AMBIGUOUS_REFERENCE whenever the records frame itself carries
      // an fp column (the repo's standard fingerprint column name —
      // same pattern as Dedup.exactIncremental's __cfp)
      .join(broadcast(index.select(col("fp").as("__idx_fp"))),
        col("__fp") === col("__idx_fp"), "left_anti")
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      // internal helper column — callers get their own schema back
      .drop("__fp")

  /** E7: streaming ingest with INDEX MAINTENANCE — the complete
    * incremental-corpus loop as one streaming job. Each micro-batch:
    * (1) re-reads the on-disk fingerprint index, (2) runs
    * `Dedup.exactIncremental` against it (which also dedups within
    * the batch), (3) appends the accepted rows to `outPath`, (4)
    * appends their fingerprints to `indexPath`. Batch N+1 therefore
    * rejects re-arrivals of batch N's content even arbitrarily later —
    * unbounded dedup memory lives in the on-disk index where it
    * belongs, not in the state store (contrast
    * [[dedupStreamAgainstIndex]], whose intra-stream memory is
    * watermark-bounded).
    *
    * Delivery: each batch lands in its OWN `batch_id=<N>` directory on
    * both sides, written with overwrite — a `foreachBatch` replay of
    * batch N rewrites exactly the same two directories with the same
    * deterministic content instead of appending duplicates, so
    * at-least-once replay yields exactly-once output. A crash mid-write
    * leaves only an uncommitted `_temporary` dir (invisible to parquet
    * readers of the root); the replay overwrites it. On a real lake the
    * two writes sit in one table-format transaction (Iceberg/Delta
    * commit), which stays the documented seam for multi-writer setups.
    *
    * Returns the started query (caller owns stop()).
    */
  def ingestDedupMaintained(
      records: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      outPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    records.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // bootstrap when no batch directory has COMMITTED yet (the
        // _SUCCESS marker is the committer's audit); a root that exists
        // with only a crashed write's _temporary leftovers is still
        // bootstrap, but a root with committed batches that fails to
        // READ is corruption and must propagate — a silent empty-index
        // restart would re-admit the whole corpus
        val rootP = new org.apache.hadoop.fs.Path(indexPath)
        val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasCommitted = hfs.exists(rootP) &&
          hfs.globStatus(new org.apache.hadoop.fs.Path(indexPath, "batch_id=*/_SUCCESS"))
            .nonEmpty
        // a crash AFTER this batch's index write but BEFORE the
        // checkpoint commit replays the batch with its OWN
        // fingerprints already on disk — unfiltered, the replay would
        // reject every row and overwrite the output dir EMPTY (data
        // loss). Replays only ever see strictly-older batches.
        val index =
          if (hasCommitted) spark.read.parquet(indexPath)
            .filter(col("batch_id") < batchId).drop("batch_id")
          else
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("fp",
                  org.apache.spark.sql.types.StringType))))
        // one computation feeds both writes; per-batch directories with
        // overwrite make a replayed batch rewrite its own output
        // instead of duplicating it
        val accepted = graft.operators.Dedup.exactIncremental(
          batch, col(textCol), col(idCol), index, col("fp")).localCheckpoint()
        accepted.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        graft.operators.Dedup.fingerprintIndex(accepted, col(textCol))
          .write.mode("overwrite").parquet(s"$indexPath/batch_id=$batchId")
      }
      .start()
  }

  /** E11: streaming NEAR-dup ingest with signature-index maintenance —
    * the near-dup tier of [[ingestDedupMaintained]] (E7 rejects only
    * byte-identical content; a crawl stream re-delivers boilerplate-
    * perturbed copies that only MinHash can see). Each micro-batch:
    * (1) re-reads the on-disk signature index
    * (`Dedup.minHashSignatures` layout), (2) drops batch docs whose
    * estimated Jaccard against any INDEXED doc clears `threshold`
    * (`Dedup.minHashLSHIncremental` — bipartite, bounded by batch
    * size × bands, the corpus is never re-signed), (3) resolves
    * WITHIN-batch near-dup clusters to their min-id winner
    * (`Dedup.minHashLSH` + `clusterDuplicates` — batch-sized work),
    * (4) lands accepted rows and their signatures in per-batch
    * `batch_id=<N>` dirs with overwrite. The seeded hash family makes
    * a replayed batch byte-identical, so at-least-once replay yields
    * exactly-once output (E7's delivery contract); bootstrap keys off
    * committed `_SUCCESS` markers, and a committed-but-unreadable
    * index propagates the error rather than silently re-admitting
    * near-dups of the whole corpus. Ids must be integral
    * (clusterDuplicates' contract). Table-format transactions remain
    * the multi-writer seam.
    */
  def ingestNearDedupMaintained(
      records: DataFrame,
      textCol: String,
      idCol: String,
      sigPath: String,
      outPath: String,
      checkpointPath: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery = {
    records.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val rootP = new org.apache.hadoop.fs.Path(sigPath)
        val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasCommitted = hfs.exists(rootP) &&
          hfs.globStatus(new org.apache.hadoop.fs.Path(sigPath, "batch_id=*/_SUCCESS"))
            .nonEmpty
        // exclude this batch's own signatures on replay (crash between
        // the sig write and the checkpoint commit) — same data-loss
        // mode as E7: the batch would otherwise near-dup-match ITSELF
        // and land empty
        val index =
          if (hasCommitted) spark.read.parquet(sigPath)
            .filter(col("batch_id") < batchId).drop("batch_id")
          else
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("sig",
                  org.apache.spark.sql.types.ArrayType(
                    org.apache.spark.sql.types.LongType, containsNull = false)))))
        val hits = graft.operators.Dedup.minHashLSHIncremental(
            batch, col(idCol), col(textCol), index,
            numHashes, bands, shingleSize, threshold)
          .select(col("shard_id").as("__drop")).distinct()
        val survivors = batch.join(hits, col(idCol) === col("__drop"), "left_anti")
        val pairs = graft.operators.Dedup.minHashLSH(
          survivors, col(idCol), col(textCol),
          numHashes, bands, shingleSize, threshold)
        val drops = graft.operators.Dedup.clusterDuplicates(
          pairs, col("id_a"), col("id_b"))
        val accepted = survivors
          .join(drops, col(idCol) === col("drop_id"), "left_anti")
          .localCheckpoint()
        accepted.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        graft.operators.Dedup.minHashSignatures(
            accepted, col(idCol), col(textCol), numHashes, shingleSize)
          .write.mode("overwrite").parquet(s"$sigPath/batch_id=$batchId")
      }
      .start()
  }

  /** E8: streaming CDC apply — the streaming twin of batch
    * `Merge.applyChanges`: each micro-batch of change records
    * (payload + op + version columns) merges into an on-disk parquet
    * snapshot, latest-wins. The loop per batch: read the snapshot
    * (bootstrap: empty with the payload schema), apply the batch's
    * changes, materialize (`localCheckpoint` — the overwrite below
    * invalidates the files the plan would lazily re-read), overwrite.
    *
    * Delivery: `foreachBatch` replays under retry are IDEMPOTENT here
    * — re-applying an identical change set to the already-merged
    * snapshot is a fixpoint (latest-wins picks the same rows, deletes
    * of absent keys no-op) — so at-least-once replay yields an
    * effectively-exactly-once snapshot. Requirement: versions must be
    * monotone per key ACROSS batches (the standard ordered-CDC-feed
    * contract); the snapshot keeps no version history to reorder
    * stragglers (within one batch, any order is fine).
    *
    * The snapshot publishes through [[SnapshotStore]] (write-audit-
    * publish: immutable version dirs + atomic pointer flip), so a
    * crash mid-write can never leave a half-overwritten snapshot where
    * the next batch — or a downstream reader — would see it; read the
    * live state with `SnapshotStore.read(spark, snapshotPath)`. A real
    * lake's table-format transaction remains the multi-writer seam,
    * as in [[ingestDedupMaintained]].
    */
  def applyChangesMaintained(
      changes: DataFrame,
      keys: Seq[String],
      versionCol: String,
      opCol: String,
      snapshotPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    changes.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val payload = batch.columns.filterNot(c => c == versionCol || c == opCol)
        // SnapshotStore.read resolves the last PUBLISHED version — a
        // crashed write's orphan dir (no _SUCCESS, pointer untouched)
        // is never mistaken for live state, and first-batch bootstrap
        // is the None case, explicitly
        val snap = SnapshotStore.read(spark, snapshotPath)
          .getOrElse(batch.select(payload.map(col): _*).limit(0))
        val merged = graft.operators.Merge.applyChanges(
          snap, batch, keys, col(versionCol), col(opCol)).localCheckpoint()
        SnapshotStore.publish(merged, snapshotPath, batchId)
      }
      .start()
  }

  /** E2: stateful gap sessionization via flatMapGroupsWithState with
    * event-time timeout. Emits one row per CLOSED session (append
    * mode); open sessions close `gapUs` after their last event once the
    * watermark passes. Batch twin: `q_sessionize`.
    *
    * Input needs a TimestampType `ts` column (for the watermark) plus
    * the Event fields.
    */
  case class PackIn(id: Long, shard: Long, order_key: Long, n_tokens: Long)
  case class PackOut(
      id: Long, shard: Long, n_tokens: Long, seq_id: Long, tok_offset: Long)

  /** E10: STREAMING sequence packing — the stateful twin of
    * [[graft.operators.Packing.packSequences]]: documents arriving on
    * a stream take (shard-local) sequence ids under a token budget,
    * with per-shard state = ONE long (the cumulative token count) —
    * O(1) state per shard, no watermark needed (nothing is ever
    * evicted; the counter is the whole history).
    *
    * Ordering contract: concat-then-chunk is order-DEFINED, so the
    * stream must deliver each shard's docs in `order_key` order
    * across batches (the shape of an append-only ingest with a
    * monotonic id/arrival key — within a batch rows are sorted here,
    * enforcing it per batch). That contract given, the assignment is
    * IDENTICAL to the batch operator's — which is what the spec
    * proves across multi-batch delivery.
    *
    * Input columns: (id, shard, order_key, n_tokens).
    * Output: (id, shard, n_tokens, seq_id, tok_offset).
    */
  def packStream(docs: DataFrame, budget: Long): Dataset[PackOut] = {
    require(budget > 0, "budget must be positive")
    implicit val inEnc = Encoders.product[PackIn]
    implicit val outEnc = Encoders.product[PackOut]
    implicit val longEnc = Encoders.scalaLong
    docs.select(col("id").cast("long"), col("shard").cast("long"),
        col("order_key").cast("long"), col("n_tokens").cast("long"))
      .as[PackIn]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[Long, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[PackIn], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          // per-batch sort enforces the order contract within the
          // batch; bounded by micro-batch size, not corpus size
          val out = rows.toSeq.sortBy(_.order_key).map { r =>
            val o = PackOut(r.id, shard, r.n_tokens, cum / budget, cum % budget)
            cum += r.n_tokens
            o
          }
          state.update(cum)
          out.iterator
      }
  }

  case class AdmitOut(id: Long, shard: Long, n_tokens: Long, tokens_before: Long)

  /** E12: STREAMING first-come token-budget admission — the stateful
    * twin of [[graft.operators.Sampling.admitToBudget]]: docs arrive,
    * each shard's bucket fills in `order_key` order, and once a
    * shard's admitted tokens reach the budget the tap CLOSES — later
    * batches' rows for that shard emit nothing, forever (state = ONE
    * long per shard, the admitted-token count; no watermark — the
    * counter never expires). The straddling doc is admitted
    * (tokens_before < budget), the batch operator's convention.
    *
    * Same ordering contract as [[packStream]]: per-shard delivery in
    * `order_key` order across batches (append-only ingest shape);
    * within a batch rows are sorted here. Given that, the admitted
    * set is IDENTICAL to the batch operator's on the union of all
    * batches — which is what the spec proves.
    */
  def admitStream(docs: DataFrame, budget: Long): Dataset[AdmitOut] = {
    require(budget > 0, "budget must be positive")
    implicit val inEnc = Encoders.product[PackIn]
    implicit val outEnc = Encoders.product[AdmitOut]
    implicit val longEnc = Encoders.scalaLong
    docs.select(col("id").cast("long"), col("shard").cast("long"),
        col("order_key").cast("long"), col("n_tokens").cast("long"))
      .as[PackIn]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[Long, AdmitOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[PackIn], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[AdmitOut]
          // per-batch sort enforces the order contract within the
          // batch; bounded by micro-batch size
          rows.toSeq.sortBy(_.order_key).foreach { r =>
            if (cum < budget) {
              out += AdmitOut(r.id, shard, r.n_tokens, cum)
              cum += r.n_tokens
            }
            // over-budget rows fall through unemitted; cum stays put,
            // so the shard's tap remains closed for every later batch
          }
          state.update(cum)
          out.result().iterator
      }
  }

  /** The skeleton every streaming sketch sink shares: per micro-batch,
    * `build` sketches the batch, `union` merges that sketch with the
    * last published snapshot, and the result publishes through
    * [[SnapshotStore]] (write-audit-publish). The merged frame is
    * checkpointed before publish because it reads the live snapshot
    * version, and a replayed batch overwrites that same version
    * directory.
    */
  private def sketchMaintained(
      input: DataFrame,
      snapshotPath: String,
      checkpointPath: String)(
      build: DataFrame => DataFrame)(
      union: Seq[DataFrame] => DataFrame): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val batchSketch = build(batch)
        val merged = SnapshotStore.read(batch.sparkSession, snapshotPath) match {
          case Some(prev) => union(Seq(prev, batchSketch))
          case None => batchSketch
        }
        SnapshotStore.publish(merged.localCheckpoint(), snapshotPath, batchId)
      }
      .start()

  /** E14: streaming Count-Min sketch maintenance — the frequency
    * monitor over an unbounded token stream: each micro-batch builds
    * its own CMS ([[graft.operators.Profile.countMinSketch]] — one
    * partial-agg pass over the batch), merges it CELL-WISE into the
    * persisted snapshot ([[graft.operators.Profile.cmsMerge]] — exact:
    * cells are plain sums), and publishes through [[SnapshotStore]]
    * (write-audit-publish, so a crash mid-write never half-merges).
    * Because the merge is exact, N batches yield BYTE-IDENTICAL cells
    * to one batch over their union — the spec's claim — and the
    * snapshot answers [[graft.operators.Profile.cmsEstimate]] point
    * queries at any moment without touching the stream's history.
    *
    * Delivery: foreachBatch replays are NOT idempotent for a merge
    * (re-adding a batch double-counts) — the checkpoint's batch
    * tracking provides effectively-once per epoch; a stricter lake
    * would stamp batch ids into the snapshot (documented seam, as in
    * E7/E8).
    */
  def cmsMaintained(
      keys: DataFrame,
      keyCol: String,
      snapshotPath: String,
      checkpointPath: String,
      width: Int = 1024,
      depth: Int = 4): StreamingQuery =
    sketchMaintained(keys, snapshotPath, checkpointPath)(
      graft.operators.Profile.countMinSketch(_, col(keyCol), width, depth))(
      graft.operators.Profile.cmsMerge)

  /** E20: streaming KLL quantile-sketch maintenance — the QUANTILE
    * member of the streaming sketch pair next to E14's Count-Min
    * frequency tier: each micro-batch builds per-group KLL sketches
    * ([[graft.operators.Profile.quantileSketch]] — one partial-agg
    * pass over the batch), unions them into the persisted snapshot
    * ([[graft.operators.Profile.quantileSketchUnion]] — associative/
    * commutative library merge), and publishes through
    * [[SnapshotStore]] (write-audit-publish). The snapshot answers
    * "live p99 latency per key" via
    * [[graft.operators.Profile.quantileMerge]] at any moment without
    * touching stream history; below k absorbed values per group the
    * estimates are EXACT and batch-split-invariant (the spec's
    * claim), above it the published rank envelope holds.
    *
    * Delivery: same effectively-once-per-epoch contract as E14
    * (foreachBatch replay of a merge double-counts; the checkpoint's
    * batch tracking guards it, batch-id stamping is the documented
    * stricter seam).
    */
  def kllMaintained(
      values: DataFrame,
      groupCol: String,
      valueCol: String,
      snapshotPath: String,
      checkpointPath: String,
      k: Int = 200): StreamingQuery =
    sketchMaintained(values, snapshotPath, checkpointPath)(
      graft.operators.Profile.quantileSketch(_, col(groupCol), col(valueCol), k))(
      graft.operators.Profile.quantileSketchUnion(_, k))

  case class FrameIn(video_id: Long, frame_idx: Int, features: Seq[Float])

  case class SceneState(lastIdx: Int, lastFeatures: Seq[Float])

  case class SceneOut(
      video_id: Long, frame_idx: Int, frame_dist: Option[Double],
      scene_change: Boolean)

  /** E24: streaming scene-change detection — the stateful twin of
    * [[graft.operators.Multimodal.sceneChanges]] for a live frame
    * ingest: per video, state is ONE frame's feature vector (dim
    * floats — O(dim), not the frames), each arriving frame scores
    * against its predecessor and the state advances; the mean-absolute
    * distance replays batch digit for digit (index-ascending fold,
    * one division, 4-dp floor), so streamed verdicts == the batch
    * frame over the same frames (spec-proven across a batch split
    * INSIDE a scene and at the cut). Feature extraction runs upstream
    * ([[graft.operators.Multimodal.frameFeatures]] — stateless, the
    * curateStream class). Ordering contract as funnelStream: per-key
    * frame_idx order ACROSS batches; within a batch rows sort here.
    * No watermark — a verdict never un-happens; TTL wrap for GC.
    */
  def sceneChangeStream(
      frames: DataFrame, dim: Int = 16,
      threshold: Double = 0.1): Dataset[SceneOut] = {
    implicit val inEnc = Encoders.product[FrameIn]
    implicit val outEnc = Encoders.product[SceneOut]
    implicit val stEnc = Encoders.product[SceneState]
    implicit val longEnc = Encoders.scalaLong
    frames.select(col("video_id").cast("long"),
        col("frame_idx").cast("int"), col("features"))
      .filter(col("video_id").isNotNull)
      .as[FrameIn]
      .groupByKey(_.video_id)
      .flatMapGroupsWithState[SceneState, SceneOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (vid: Long, rows: Iterator[FrameIn], state: GroupState[SceneState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[SceneOut]
          rows.toSeq.sortBy(_.frame_idx).foreach { r =>
            if (st == null) {
              out += SceneOut(vid, r.frame_idx, None, scene_change = false)
            } else {
              // batch kernel replayed: 1/255-quantized integer lanes
              // (round(f·255)), index-ascending |Δ|-sum, one division,
              // 4-dp floor. The batch twin's features are length-dim
              // by construction; here they arrive from the stream, so
              // a wrong-dimension array must fail LOUDLY — a silent
              // min-length fold divided by the dim param would
              // mis-scale every distance and quietly diverge from the
              // batch verdicts
              require(r.features.length == dim && st.lastFeatures.length == dim,
                s"sceneChangeStream: feature dim ${r.features.length} != configured dim $dim " +
                  s"(video $vid frame ${r.frame_idx}) — pass dim= matching the feature extractor")
              var s = 0.0
              var i = 0
              while (i < dim) {
                s += math.abs(
                  math.round(st.lastFeatures(i).toDouble * 255).toDouble -
                    math.round(r.features(i).toDouble * 255).toDouble)
                i += 1
              }
              val dist = math.floor(s / (dim * 255.0) * 1e4) / 1e4
              out += SceneOut(vid, r.frame_idx, Some(dist), dist > threshold)
            }
            st = SceneState(r.frame_idx, r.features)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class TermIn(term: String, bucket: Long)

  case class SeenState(seen: Boolean)

  case class FirstSeen(term: String, bucket: Long)

  /** E27: streaming vocabulary first-seen extraction — the stateful
    * twin of [[graft.operators.TextMetrics.vocabGrowth]]'s min-bucket
    * attribution: keyed
    * by TERM, a term's first arrival emits (term, bucket) exactly
    * once; the per-bucket new-term counts / growth curve stay a
    * downstream counting aggregate over the emissions. State is one
    * boolean per DISTINCT TERM — bounded by the vocabulary, not the
    * corpus (the broadcast-sketch class, not the row class); wire a
    * TTL for genuinely unbounded vocabularies. Tokenization runs
    * upstream, stateless (curateStream class). Ordering contract:
    * per-term bucket order ACROSS batches; within a batch the
    * earliest bucket wins here.
    */
  def vocabFirstSeenStream(terms: DataFrame): Dataset[FirstSeen] = {
    implicit val inEnc = Encoders.product[TermIn]
    implicit val outEnc = Encoders.product[FirstSeen]
    implicit val stEnc = Encoders.product[SeenState]
    implicit val strEnc = Encoders.STRING
    terms.select(col("term").cast("string"), col("bucket").cast("long"))
      .filter(col("term").isNotNull)
      .as[TermIn]
      .groupByKey(_.term)
      .flatMapGroupsWithState[SeenState, FirstSeen](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (term: String, rows: Iterator[TermIn], state: GroupState[SeenState]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_.bucket)
            state.update(SeenState(true))
            Iterator.single(FirstSeen(term, first.bucket))
          }
      }
  }

  case class CmsIn(d: Int, b: Int)

  case class CmsState(cnt: Long)

  case class CmsCell(depth: Int, bucket: Int, cnt: Long)

  /** E30: streaming Count-Min sketch maintenance — the stateful twin
    * of [[graft.operators.Profile.countMinSketch]] for a live term
    * ingest: rows explode to their `depth` cell coordinates through
    * the SHARED [[graft.operators.Profile.cmsCoords]] hash family (one
    * definition, batch + probe + stream — divergence impossible),
    * state per touched cell is ONE count, and each touching
    * micro-batch emits the cell's CURRENT count, so the LAST emission
    * per cell equals the batch sketch EXACTLY — cells are plain
    * counts, the one sketch in the family whose streaming form is
    * lossless by construction (HLL/KLL merge tiers approximate; CMS
    * adds). Point queries stay [[graft.operators.Profile.cmsEstimate]]
    * over the latest cells; state is bounded by width·depth (config),
    * NOT by corpus — no watermark, a count never un-happens.
    */
  def cmsCellStream(terms: DataFrame, width: Int = 1024,
      depth: Int = 4): Dataset[CmsCell] = {
    implicit val inEnc = Encoders.product[CmsIn]
    implicit val outEnc = Encoders.product[CmsCell]
    implicit val stEnc = Encoders.product[CmsState]
    implicit val keyEnc = Encoders.product[(Int, Int)]
    terms.select(col("term").cast("string").as("term"))
      .filter(col("term").isNotNull)
      .select(explode(
        graft.operators.Profile.cmsCoords(col("term"), width, depth)).as("e"))
      .select(col("e.d").as("d"), col("e.b").as("b"))
      .as[CmsIn]
      .groupByKey(r => (r.d, r.b))
      .flatMapGroupsWithState[CmsState, CmsCell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: (Int, Int), rows: Iterator[CmsIn], state: GroupState[CmsState]) =>
          val cnt = state.getOption.map(_.cnt).getOrElse(0L) + rows.size
          state.update(CmsState(cnt))
          Iterator.single(CmsCell(k._1, k._2, cnt))
      }
  }

  case class ArmIn(arm: String)

  case class ArmState(cnt: Long)

  case class ArmCount(grp: String, n_obs: Long)

  /** E31: streaming experiment-arm counting — the live half of the
    * sample-ratio-mismatch gate ([[graft.operators.Stats.srmCheck]]):
    * assignment events stream in, per-arm state is ONE count (the
    * E30 cell contract — lossless by construction, counts only add),
    * each touching micro-batch emits the arm's CURRENT total, and the
    * SRM verdict is
    * [[graft.operators.Stats.srmCheckCounts]] over the latest
    * emission per arm — so a ramp that drifts off its declared split
    * flags DURING the experiment, not at readout. The χ²/flag
    * assembly stays a downstream config-sized query (it needs every
    * arm at once; per-arm state cannot see its siblings, the same
    * split as E30's cells vs the CMS probe). State bounded by
    * distinct arms; no watermark — an assignment never un-happens.
    */
  def armCountStream(assignments: DataFrame): Dataset[ArmCount] = {
    implicit val inEnc = Encoders.product[ArmIn]
    implicit val outEnc = Encoders.product[ArmCount]
    implicit val stEnc = Encoders.product[ArmState]
    implicit val strEnc = Encoders.STRING
    assignments.select(col("arm").cast("string").as("arm"))
      .filter(col("arm").isNotNull)
      .as[ArmIn]
      .groupByKey(_.arm)
      .flatMapGroupsWithState[ArmState, ArmCount](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (arm: String, rows: Iterator[ArmIn], state: GroupState[ArmState]) =>
          val cnt = state.getOption.map(_.cnt).getOrElse(0L) + rows.size
          state.update(ArmState(cnt))
          Iterator.single(ArmCount(arm, cnt))
      }
  }

  case class RetIn(u: Long, w: Long)

  case class RetState(ws: Seq[Long])

  case class RetUser(u: Long, cohort: Long, ws: Seq[Long])

  /** E32: streaming retention-cohort state — the live twin of
    * [[graft.operators.Behavior.retentionCohorts]]: activity events
    * stream in pre-bucketed to periods, per-user state is the SET of
    * distinct periods seen (bounded by the time horizon — a year of
    * weekly buckets is 52 longs — never by event volume), and each
    * touching micro-batch emits the user's CURRENT (cohort, periods)
    * row. The cohort is min-of-set, so a LATE-arriving earlier period
    * legally rewrites the user's cohort — the emission carries the
    * whole corrected state (no retraction protocol needed), and the
    * assembly takes the LATEST emission per user (the E30/E31
    * latest-cell contract: the set only grows, so latest = largest)
    * then counts (cohort, period − cohort) — equal to the batch
    * operator row for row. No watermark: activity never un-happens.
    */
  def retentionStateStream(activity: DataFrame): Dataset[RetUser] = {
    implicit val inEnc = Encoders.product[RetIn]
    implicit val outEnc = Encoders.product[RetUser]
    implicit val stEnc = Encoders.product[RetState]
    implicit val longEnc = Encoders.scalaLong
    activity.select(col("u").cast("long"), col("w").cast("long"))
      .filter(col("u").isNotNull && col("w").isNotNull)
      .as[RetIn]
      .groupByKey(_.u)
      .flatMapGroupsWithState[RetState, RetUser](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (u: Long, rows: Iterator[RetIn], state: GroupState[RetState]) =>
          val seen = state.getOption.map(_.ws.toSet).getOrElse(Set.empty[Long])
          val merged = seen ++ rows.map(_.w)
          val sorted = merged.toSeq.sorted
          state.update(RetState(sorted))
          Iterator.single(RetUser(u, sorted.head, sorted))
      }
  }

  /** Assemble the retention table from the LATEST [[retentionStateStream]]
    * emission per user (largest period set — the set only grows):
    * explode periods, count (cohort, offset). Column-compatible with
    * the batch operator's output.
    */
  def retentionAssemble(states: DataFrame): DataFrame = {
    val latest = states
      .withColumn("__sz", size(col("ws")))
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")
          .orderBy(col("__sz").desc, col("cohort").asc)))
      .filter(col("__rk") === 1)
    latest.select(col("cohort"), explode(col("ws")).as("w"))
      .groupBy(col("cohort"), (col("w") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** E33: new-vs-returning assembly over the SAME per-user state
    * stream as E32 ([[retentionStateStream]] — one state, two batch
    * twins): latest emission per user, explode the period set,
    * classify each (user, period) as new (period == cohort) or
    * returning (period > cohort). Row-compatible with
    * [[graft.operators.Behavior.newVsReturning]]; late-arriving
    * earlier periods rewrite the cohort through the E32 correction
    * contract, so a user re-classifies from new to returning in a
    * later period exactly as the batch operator would have it.
    */
  def newVsReturningAssemble(states: DataFrame): DataFrame = {
    val latest = states
      .withColumn("__sz", size(col("ws")))
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")
          .orderBy(col("__sz").desc, col("cohort").asc)))
      .filter(col("__rk") === 1)
    latest.select(col("cohort"), explode(col("ws")).as("w"))
      .groupBy(col("w").as("period"))
      .agg(
        sum(when(col("w") === col("cohort"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("w") > col("cohort"), 1L).otherwise(0L)).as("n_returning"))
  }

  case class KAnonIn(q: String, s: Option[String])

  case class KAnonState(cnt: Long, svals: Seq[String])

  case class KAnonClass(q: String, class_size: Long, n_sensitive: Long)

  /** E36: streaming k-anonymity class maintenance — the live twin of
    * [[graft.operators.Profile.kAnonymity]] for a growing release
    * table: per equivalence class (the caller pre-concatenates its
    * quasi-identifier columns into `q` — the digest-render discipline,
    * so the stream never guesses column semantics) the state is the
    * row count plus the DISTINCT sensitive-value set (bounded by
    * values per class — the l-diversity quantity itself, the E32
    * set-state class), each touching batch emits the class's CURRENT
    * (size, distinct) row, and the latest emission per class equals
    * the batch operator's row exactly (NULL sensitive counts toward
    * size, never toward distinct — the countDistinct rule). The k/l
    * verdicts stay a downstream compare. No watermark — a released
    * row never un-releases.
    */
  def kAnonymityStream(rows: DataFrame): Dataset[KAnonClass] = {
    implicit val inEnc = Encoders.product[KAnonIn]
    implicit val outEnc = Encoders.product[KAnonClass]
    implicit val stEnc = Encoders.product[KAnonState]
    implicit val strEnc = Encoders.STRING
    rows.select(col("q").cast("string"), col("s").cast("string"))
      .filter(col("q").isNotNull)
      .as[KAnonIn]
      .groupByKey(_.q)
      .flatMapGroupsWithState[KAnonState, KAnonClass](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (q: String, rs: Iterator[KAnonIn], state: GroupState[KAnonState]) =>
          val st = state.getOption.getOrElse(KAnonState(0L, Seq.empty))
          val arrived = rs.toSeq
          val svals = (st.svals.toSet ++ arrived.flatMap(_.s)).toSeq.sorted
          val cnt = st.cnt + arrived.size
          state.update(KAnonState(cnt, svals))
          Iterator.single(KAnonClass(q, cnt, svals.size.toLong))
      }
  }

  case class SprtIn(key: String, o: Long, x: Boolean)

  case class SprtState(llr7: Long)

  case class SprtOut(key: String, order_val: Long, llr7: Long)

  /** E37: streaming SPRT maintenance — the live twin of
    * [[graft.operators.Stats.sprt]], which is the whole POINT of a
    * sequential test (the batch form replays history; the stream
    * decides DURING the experiment): per key the state is ONE long —
    * the cumulative LLR on the batch operator's exact 7-dp lane as an
    * integer (llr·1e7, the E34 micro-unit contract, so stream and
    * batch can never drift by an ulp), each observation emits its
    * llr7, and the decision/first-crossing assembly is a downstream
    * compare against the Wald bounds ·1e7 (the E30-cells/probe
    * split). Increments enter as the same
    * `BigDecimal(ln …).setScale(7)` values the batch operator and
    * oracle share. Ordering contract as E26/E34: per-key order
    * across batches; within a batch rows sort here.
    */
  def sprtStream(obs: DataFrame, p0: Double, p1: Double): Dataset[SprtOut] = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "p0, p1 in (0,1), distinct")
    implicit val inEnc = Encoders.product[SprtIn]
    implicit val outEnc = Encoders.product[SprtOut]
    implicit val stEnc = Encoders.product[SprtState]
    implicit val strEnc = Encoders.STRING
    def r7micro(x: Double): Long =
      BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP)
        .underlying().movePointRight(7).longValueExact()
    val lw = r7micro(math.log(p1 / p0))
    val ll = r7micro(math.log((1 - p1) / (1 - p0)))
    obs.select(col("key").cast("string"), col("o").cast("long"),
        col("x").cast("boolean"))
      .filter(col("key").isNotNull && col("x").isNotNull)
      .as[SprtIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SprtState, SprtOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[SprtIn], state: GroupState[SprtState]) =>
          var llr = state.getOption.map(_.llr7).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.o).map { r =>
            llr += (if (r.x) lw else ll)
            SprtOut(key, r.o, llr)
          }
          state.update(SprtState(llr))
          out.iterator
      }
  }

  case class LinePair(fp: String, doc: Long)

  /** E35: streaming line document-frequency maintenance — the live
    * twin of the D29/D122 boilerplate family's df table: (line
    * fingerprint, doc) pairs stream in through the SHARED
    * `functions.normFingerprint` (one normalization for batch drop,
    * batch score, and stream — divergence impossible), each DISTINCT
    * pair emits exactly once (the E27 first-seen contract; a doc
    * repeating its own footer 50× still counts once — the batch
    * distinct-per-doc rule), and the assembly is two counts over the
    * emissions: df per fingerprint and nDocs as distinct docs — the
    * exact inputs `dropBoilerplateLines`/`boilerplateScore` derive
    * batch-side, so the above-cut boilerplate SET matches the batch
    * one at every prefix of the stream. State per pair is one
    * boolean, bounded by distinct (line, doc) pairs (the E27
    * vocabulary class); no watermark — a line never un-appears.
    */
  def lineFirstSeenStream(lines: DataFrame): Dataset[LinePair] = {
    implicit val outEnc = Encoders.product[LinePair]
    implicit val stEnc = Encoders.product[SeenState]
    implicit val keyEnc = Encoders.product[(String, Long)]
    lines.select(
        graft.functions.normFingerprint(col("line")).as("fp"),
        col("doc").cast("long").as("doc"))
      .filter(col("fp").isNotNull && col("doc").isNotNull)
      .as[LinePair]
      .groupByKey(r => (r.fp, r.doc))
      .flatMapGroupsWithState[SeenState, LinePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: (String, Long), _: Iterator[LinePair], state: GroupState[SeenState]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(SeenState(true))
            Iterator.single(LinePair(k._1, k._2))
          }
      }
  }

  case class CusumIn(key: String, b: Long, xMicro: Long)

  case class CusumState(pHi: Long, mHi: Long, pLo: Long, mLo: Long)

  case class CusumOut(key: String, bucket: Long,
      cusum_hi_micro: Long, cusum_lo_micro: Long)

  /** E34: streaming CUSUM maintenance — the live twin of
    * [[graft.operators.Stats.cusum]]: per key the state is FOUR longs
    * (the two prefix sums and their running minima, all in exact 6-dp
    * micro-units — the batch operator's decimal lanes as integers,
    * so stream and batch can never drift by an ulp), each arriving
    * bucket emits its cusum_hi/lo in micro-units, and the emitted
    * sequence equals the batch windows row for row (spec across a
    * split). Alarming stays a downstream compare against
    * threshold·1e6 — the E30-cells/probe split. Ordering contract as
    * E26: per-key bucket order ACROSS batches; within a batch rows
    * sort here. No watermark — a bucket's count never un-happens
    * (feed FINALIZED buckets, the rollingZ input contract).
    */
  def cusumStream(buckets: DataFrame, target: Double,
      slack: Double): Dataset[CusumOut] = {
    implicit val inEnc = Encoders.product[CusumIn]
    implicit val outEnc = Encoders.product[CusumOut]
    implicit val stEnc = Encoders.product[CusumState]
    implicit val strEnc = Encoders.STRING
    def micro(x: Double): Long =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying().movePointRight(6).longValueExact()
    val up = micro(target + slack)
    val dn = micro(target - slack)
    buckets.select(col("key").cast("string").as("key"),
        col("b").cast("long").as("b"),
        (org.apache.spark.sql.functions.round(col("v"), 6)
          .cast("decimal(18,6)") * 1000000).cast("long").as("xMicro"))
      .filter(col("key").isNotNull && col("xMicro").isNotNull)
      .as[CusumIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[CusumIn], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L))
          val out = rows.toSeq.sortBy(_.b).map { r =>
            val pHi = st.pHi + (r.xMicro - up)
            val mHi = math.min(st.mHi, pHi)
            val pLo = st.pLo + (dn - r.xMicro)
            val mLo = math.min(st.mLo, pLo)
            st = CusumState(pHi, mHi, pLo, mLo)
            CusumOut(key, r.b,
              pHi - math.min(mHi, 0L), pLo - math.min(mLo, 0L))
          }
          state.update(st)
          out.iterator
      }
  }

  case class PhIn(key: String, b: Long, x: Double, xMicro: Long)

  case class PhState(cnt: Long, cs: Long, m: Long, minM: Long)

  case class PhOut(key: String, bucket: Long, ph_micro: Long)

  /** E44: streaming Page-Hinkley drift monitor — the live twin of
    * [[graft.operators.Stats.pageHinkley]] completing the streaming
    * monitoring quartet (E34 known-target CUSUM, E39 forecast
    * surprise, E17 windowed contrast; this one needs NO target — it
    * tracks the RUNNING mean). Per key the state is FOUR longs: the
    * bucket count, the exact 6-dp micro prefix sum (the batch
    * operator's decimal lane as an integer), the cumulative m walk
    * and its running minimum. Each arriving bucket computes the mean
    * by the SAME two-step double division batch uses
    * (nearest(csExact) then /i — ulp drift impossible), floors its
    * (x − x̄ − δ) term to micros, and emits PH = m − min(minM, 0) in
    * micro-units; the emitted walk equals the batch frame row for row
    * (spec across a split). Alarming is a downstream compare against
    * λ·1e6 (the E30-cells/probe split). Ordering contract as E26/E34:
    * per-key bucket order ACROSS batches; within a batch rows sort
    * here. No watermark — feed FINALIZED buckets.
    */
  def pageHinkleyStream(buckets: DataFrame,
      delta: Double = 0.0): Dataset[PhOut] = {
    implicit val inEnc = Encoders.product[PhIn]
    implicit val outEnc = Encoders.product[PhOut]
    implicit val stEnc = Encoders.product[PhState]
    implicit val strEnc = Encoders.STRING
    buckets.select(col("key").cast("string").as("key"),
        col("b").cast("long").as("b"),
        col("v").cast("double").as("x"),
        (org.apache.spark.sql.functions.round(col("v"), 6)
          .cast("decimal(18,6)") * 1000000).cast("long").as("xMicro"))
      .filter(col("key").isNotNull && col("xMicro").isNotNull)
      .as[PhIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[PhState, PhOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[PhIn], state: GroupState[PhState]) =>
          var st = state.getOption.getOrElse(PhState(0L, 0L, 0L, 0L))
          val out = rows.toSeq.sortBy(_.b).map { r =>
            val cnt = st.cnt + 1
            val cs = st.cs + r.xMicro
            val mean = cs.toDouble / 1e6 / cnt.toDouble
            val term = math.floor((r.x - mean - delta) * 1e6).toLong
            val m = st.m + term
            val minM = math.min(st.minM, m)
            st = PhState(cnt, cs, m, minM)
            PhOut(key, r.b, m - math.min(minM, 0L))
          }
          state.update(st)
          out.iterator
      }
  }

  case class EwmaIn(key: String, b: Long, vMicro: Long)

  case class EwmaState(sMicro: Long, started: Boolean)

  case class EwmaOut(key: String, bucket: Long, value_micro: Long,
      ewma_micro: Long, resid_micro: Option[Long], alarm: Boolean)

  /** E39: streaming EWMA control chart — the live twin of
    * [[graft.operators.Stats.ewmaChart]]: per key the state is ONE
    * long (the smoothed level on the exact 1e6 micro-lane — the E34
    * contract, ulp drift impossible) plus a started flag; each
    * finalized bucket scores its residual against the forecast, then
    * advances the level with the SAME rational-α truncating
    * division the batch kernel uses, so the emitted walk equals batch row for row
    * (spec across a split). Micro-unit outputs; dividing back to
    * doubles is a downstream projection (the E30-cells/probe split).
    * Ordering contract as E26/E34: per-key bucket order ACROSS
    * batches; within a batch rows sort here. No watermark — feed
    * FINALIZED buckets.
    */
  def ewmaStream(buckets: DataFrame, alphaNum: Int = 1, alphaDen: Int = 4,
      band: Double = 2.0): Dataset[EwmaOut] = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      "alpha = alphaNum/alphaDen must be in (0, 1]")
    implicit val inEnc = Encoders.product[EwmaIn]
    implicit val outEnc = Encoders.product[EwmaOut]
    implicit val stEnc = Encoders.product[EwmaState]
    implicit val strEnc = Encoders.STRING
    val bandMicro = math.round(band * 1e6)
    val (aN, aD) = (alphaNum.toLong, alphaDen.toLong)
    buckets.select(col("key").cast("string").as("key"),
        col("b").cast("long").as("b"),
        org.apache.spark.sql.functions.round(col("v").cast("double") * 1e6)
          .cast("long").as("vMicro"))
      .filter(col("key").isNotNull && col("b").isNotNull
        && col("vMicro").isNotNull)
      .as[EwmaIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[EwmaIn], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0L, started = false))
          val out = rows.toSeq.sortBy(_.b).map { r =>
            if (!st.started) {
              st = EwmaState(r.vMicro, started = true)
              EwmaOut(key, r.b, r.vMicro, st.sMicro, None, alarm = false)
            } else {
              val resid = r.vMicro - st.sMicro
              val alarm = math.abs(resid) > bandMicro
              st = EwmaState(
                (aN * r.vMicro + (aD - aN) * st.sMicro) / aD,
                started = true)
              EwmaOut(key, r.b, r.vMicro, st.sMicro, Some(resid), alarm)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class HoltState(sMicro: Long, bMicro: Long, started: Boolean)

  case class HoltOut(key: String, bucket: Long, value_micro: Long,
      level_micro: Long, trend_micro: Long, resid_micro: Option[Long],
      alarm: Boolean)

  /** E40: streaming Holt linear-trend chart — the live twin of
    * [[graft.operators.Stats.holtChart]] and E39's trending sibling:
    * per key the state is TWO longs (level + trend on the exact 1e6
    * micro-lanes) plus a started flag; each finalized bucket scores
    * its residual against the level+trend forecast, then both lanes
    * advance with the SAME rational-α/β truncating divisions as
    * batch, so the emitted walk equals batch row for row (spec across
    * a split through a trend change). E26/E34 ordering contract; no
    * watermark — feed FINALIZED buckets.
    */
  def holtStream(buckets: DataFrame,
      alphaNum: Int = 1, alphaDen: Int = 4,
      betaNum: Int = 1, betaDen: Int = 4,
      band: Double = 2.0): Dataset[HoltOut] = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      "alpha = alphaNum/alphaDen must be in (0, 1]")
    require(betaDen > 0 && betaNum > 0 && betaNum <= betaDen,
      "beta = betaNum/betaDen must be in (0, 1]")
    implicit val inEnc = Encoders.product[EwmaIn]
    implicit val outEnc = Encoders.product[HoltOut]
    implicit val stEnc = Encoders.product[HoltState]
    implicit val strEnc = Encoders.STRING
    val bandMicro = math.round(band * 1e6)
    val (aN, aD) = (alphaNum.toLong, alphaDen.toLong)
    val (bN, bD) = (betaNum.toLong, betaDen.toLong)
    buckets.select(col("key").cast("string").as("key"),
        col("b").cast("long").as("b"),
        org.apache.spark.sql.functions.round(col("v").cast("double") * 1e6)
          .cast("long").as("vMicro"))
      .filter(col("key").isNotNull && col("b").isNotNull
        && col("vMicro").isNotNull)
      .as[EwmaIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[EwmaIn], state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0L, started = false))
          val out = rows.toSeq.sortBy(_.b).map { r =>
            if (!st.started) {
              st = HoltState(r.vMicro, 0L, started = true)
              HoltOut(key, r.b, r.vMicro, st.sMicro, 0L, None, alarm = false)
            } else {
              val forecast = st.sMicro + st.bMicro
              val resid = r.vMicro - forecast
              val alarm = math.abs(resid) > bandMicro
              val sNew = (aN * r.vMicro + (aD - aN) * forecast) / aD
              val bNew = (bN * (sNew - st.sMicro) + (bD - bN) * st.bMicro) / bD
              st = HoltState(sNew, bNew, started = true)
              HoltOut(key, r.b, r.vMicro, sNew, bNew, Some(resid), alarm)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class HwState(sMicro: Long, bMicro: Long, cs: Seq[Long], idx: Int,
      started: Boolean)

  case class HwOut(key: String, bucket: Long, value_micro: Long,
      level_micro: Long, trend_micro: Long, seasonal_micro: Long,
      resid_micro: Option[Long], alarm: Boolean)

  /** E43: streaming Holt-Winters additive seasonal chart — the live
    * twin of [[graft.operators.Stats.holtWintersChart]] and E40's
    * seasonal sibling: per key the state is level + trend + the
    * p-slot seasonal RING (O(p) longs on the exact 1e6 micro-lanes)
    * plus the phase cursor; each finalized bucket scores its residual
    * against level+trend+c_{t−p}, then all three lanes advance with
    * the SAME rational-α/β/γ truncating divisions and zero-seasonal
    * init as batch, so the emitted walk equals batch row for row
    * (spec across a split landing mid-cycle). E26/E34 ordering
    * contract; no watermark — feed FINALIZED buckets. Phase is
    * row-based, so the dense-grid contract of the batch twin applies
    * per key ACROSS batches too.
    */
  def holtWintersStream(buckets: DataFrame, period: Int,
      alphaNum: Int = 1, alphaDen: Int = 4,
      betaNum: Int = 1, betaDen: Int = 4,
      gammaNum: Int = 1, gammaDen: Int = 4,
      band: Double = 2.0): Dataset[HwOut] = {
    require(period >= 2, "period must be >= 2 (a 1-period season is a level)")
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      "alpha = alphaNum/alphaDen must be in (0, 1]")
    require(betaDen > 0 && betaNum > 0 && betaNum <= betaDen,
      "beta = betaNum/betaDen must be in (0, 1]")
    require(gammaDen > 0 && gammaNum > 0 && gammaNum <= gammaDen,
      "gamma = gammaNum/gammaDen must be in (0, 1]")
    implicit val inEnc = Encoders.product[EwmaIn]
    implicit val outEnc = Encoders.product[HwOut]
    implicit val stEnc = Encoders.product[HwState]
    implicit val strEnc = Encoders.STRING
    val bandMicro = math.round(band * 1e6)
    val (aN, aD) = (alphaNum.toLong, alphaDen.toLong)
    val (bN, bD) = (betaNum.toLong, betaDen.toLong)
    val (gN, gD) = (gammaNum.toLong, gammaDen.toLong)
    val p = period
    buckets.select(col("key").cast("string").as("key"),
        col("b").cast("long").as("b"),
        org.apache.spark.sql.functions.round(col("v").cast("double") * 1e6)
          .cast("long").as("vMicro"))
      .filter(col("key").isNotNull && col("b").isNotNull
        && col("vMicro").isNotNull)
      .as[EwmaIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[HwState, HwOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[EwmaIn], state: GroupState[HwState]) =>
          var st = state.getOption.getOrElse(
            HwState(0L, 0L, Vector.fill(p)(0L), 0, started = false))
          val out = rows.toSeq.sortBy(_.b).map { r =>
            if (!st.started) {
              st = HwState(r.vMicro, 0L, Vector.fill(p)(0L), 1 % p, started = true)
              HwOut(key, r.b, r.vMicro, r.vMicro, 0L, 0L, None, alarm = false)
            } else {
              val cPrev = st.cs(st.idx)
              val forecast = st.sMicro + st.bMicro + cPrev
              val resid = r.vMicro - forecast
              val alarm = math.abs(resid) > bandMicro
              val sNew = (aN * (r.vMicro - cPrev)
                + (aD - aN) * (st.sMicro + st.bMicro)) / aD
              val bNew = (bN * (sNew - st.sMicro) + (bD - bN) * st.bMicro) / bD
              val cNew = (gN * (r.vMicro - sNew) + (gD - gN) * cPrev) / gD
              st = HwState(sNew, bNew, st.cs.updated(st.idx, cNew),
                (st.idx + 1) % p, started = true)
              HwOut(key, r.b, r.vMicro, sNew, bNew, cNew, Some(resid), alarm)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class GapIn(key: String, t: Long, tb: Long)

  case class GapState(lastT: Long, lastTb: Long)

  case class GapOut(key: String, tiebreak: Long, gap: Long)

  /** E26: streaming inter-arrival gap extraction — the stateful twin
    * of [[graft.operators.Behavior.interArrival]]'s lag window for a
    * live ingest: per key, state is ONE timestamp (O(1)); each
    * arriving event emits its gap to the predecessor and advances, so
    * the emitted gap multiset equals the batch lag window's over the
    * same events (spec-proven across a batch split). The percentile
    * PROFILE stays a batch/periodic aggregate over the emitted gaps —
    * exact rank percentiles are not incrementally maintainable, the
    * sketch tier (E20 KLL) is the streaming-quantile answer when an
    * approximation is acceptable. Ordering contract as
    * transitionPairStream: per-key (t, tiebreak) order ACROSS batches;
    * within a batch rows sort here.
    */
  def interArrivalStream(events: DataFrame): Dataset[GapOut] = {
    implicit val inEnc = Encoders.product[GapIn]
    implicit val outEnc = Encoders.product[GapOut]
    implicit val stEnc = Encoders.product[GapState]
    implicit val strEnc = Encoders.STRING
    events.select(col("key").cast("string"), col("t").cast("long"),
        col("tb").cast("long"))
      .filter(col("key").isNotNull)
      .as[GapIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[GapIn], state: GroupState[GapState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[GapOut]
          rows.toSeq.sortBy(r => (r.t, r.tb)).foreach { r =>
            if (st != null) out += GapOut(k, r.tb, r.t - st.lastT)
            st = GapState(r.t, r.tb)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class TransIn(user_id: Long, ts_ns: Long, event_id: Long, event_type: String)

  case class TransState(lastTs: Long, lastEid: Long, lastEt: String)

  case class TransOut(user_id: Long, from_event: String, to_event: String)

  /** E25: streaming transition-pair extraction — the stateful twin of
    * [[graft.operators.Behavior.transitionMatrix]]'s lead window for a
    * live event ingest: per user, state is ONE event (O(1) — the
    * sceneChangeStream contract), each arriving event emits its
    * (previous → current) transition and advances the state, so the
    * emitted pair multiset equals the batch lead window's over the
    * same events (spec-proven across a batch split mid-stream). The
    * MATRIX is a downstream counting aggregate over the pairs —
    * update-mode streaming agg or a batch groupBy over the sink,
    * either way the same bounded |types|² grid. Ordering contract as
    * funnelStream/sceneChangeStream: per-key (ts, event_id) order
    * ACROSS batches; within a batch rows sort here. No watermark — a
    * transition never un-happens.
    */
  def transitionPairStream(events: DataFrame): Dataset[TransOut] = {
    implicit val inEnc = Encoders.product[TransIn]
    implicit val outEnc = Encoders.product[TransOut]
    implicit val stEnc = Encoders.product[TransState]
    implicit val longEnc = Encoders.scalaLong
    events.select(col("user_id").cast("long"), col("ts_ns").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .filter(col("user_id").isNotNull)
      .as[TransIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[TransIn], state: GroupState[TransState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
          rows.toSeq.sortBy(r => (r.ts_ns, r.event_id)).foreach { r =>
            if (st != null) out += TransOut(uid, st.lastEt, r.event_type)
            st = TransState(r.ts_ns, r.event_id, r.event_type)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class AttrIn(
      user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, value: Double)

  case class AttrTouch(id: Long, ts: Long, channel: String)

  case class AttrState(touches: List[AttrTouch])

  case class AttrPair(
      conv_id: Long, touch_id: Long, channel: String,
      tts: Long, cts: Long, cv: Double)

  /** E28: streaming attribution touch-pair extraction — the stateful
    * twin of [[graft.operators.Behavior.attributionCredit]]'s
    * conversion×touch join for a live ingest. Per user, state is the
    * touch buffer WITHIN THE LOOKBACK of the newest event (O(lookback
    * occupancy), evicted as time advances — never the full history);
    * each arriving conversion emits one pair row per in-window touch,
    * so the emitted pair multiset equals the batch join's over the
    * same events (spec-proven across a batch split). The credit
    * SPLITS (linear / first / last) are a downstream aggregate over
    * the pairs — rank and touch count per conversion are fully
    * determined at emit time because every in-window touch precedes
    * its conversion, the same reason the batch window works.
    *
    * An event whose type is BOTH a touch type and the conversion type
    * self-pairs (tts = cts), exactly as the batch join does. Ordering
    * contract as [[transitionPairStream]]: per-user (ts, event_id)
    * order ACROSS batches; within a batch rows sort here. No
    * watermark — state is bounded by eviction, not time-out.
    */
  def attributionPairStream(
      events: DataFrame,
      conversionType: String,
      touchTypes: Seq[String],
      lookbackUs: Long): Dataset[AttrPair] = {
    require(touchTypes.nonEmpty, "at least one touch type")
    require(lookbackUs > 0, "lookbackUs must be positive")
    val touchSet = touchTypes.toSet
    implicit val inEnc = Encoders.product[AttrIn]
    implicit val outEnc = Encoders.product[AttrPair]
    implicit val stEnc = Encoders.product[AttrState]
    implicit val longEnc = Encoders.scalaLong
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us").cast("long"), col("event_type"),
        col("value").cast("double"))
      .filter(col("user_id").isNotNull)
      .as[AttrIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AttrIn], state: GroupState[AttrState]) =>
          var touches = state.getOption.map(_.touches).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[AttrPair]
          rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
            // evict first: anything older than the lookback from the
            // newest event can never pair again (per-key ts order)
            touches = touches.filter(_.ts >= r.ts_us - lookbackUs)
            // touch before conversion: a dual-typed event self-pairs
            if (touchSet(r.event_type))
              touches = AttrTouch(r.event_id, r.ts_us, r.event_type) :: touches
            if (r.event_type == conversionType)
              touches.foreach { t =>
                out += AttrPair(r.event_id, t.id, t.channel, t.ts, r.ts_us, r.value)
              }
          }
          state.update(AttrState(touches))
          out.iterator
      }
  }

  /** E23: streaming frequent-items sketch maintenance — the TOP-K
    * member of the streaming sketch family next to E14 (Count-Min)
    * and E20 (KLL): per micro-batch, one partial-agg sketch build
    * ([[graft.operators.Profile.freqSketchTable]]) unions into the
    * SnapshotStore-published table via write-audit-publish; the
    * snapshot answers live per-group top domains/tokens at any moment
    * without stream history. Under-capacity sketches merge EXACTLY
    * (spec-pinned, the E14/E20 batch-split-invariance contract); past
    * capacity the library's error bounds apply with the
    * NO_FALSE_NEGATIVES read guarantee intact.
    */
  def freqMaintained(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      snapshotPath: String,
      checkpointPath: String,
      maxMapSize: Int = 1024): StreamingQuery =
    sketchMaintained(items, snapshotPath, checkpointPath)(
      graft.operators.Profile.freqSketchTable(_, col(groupCol), col(itemCol), maxMapSize))(
      graft.operators.Profile.freqSketchUnion(_, maxMapSize))

  /** E41: streaming THETA-sketch maintenance — the set-operation
    * member of the streaming sketch family next to E14 (CMS), E20
    * (KLL), and E23 (frequent items): per micro-batch one
    * partial-agg sketch build ([[graft.operators.Profile.thetaSketchTable]])
    * unions into the SnapshotStore-published (grp, sketch) table via
    * write-audit-publish; the snapshot answers live per-group
    * distinct counts AND pairwise overlap estimates
    * (`theta_intersect_estimate` across rows) at any moment without
    * stream history — the live twin of the D129 source-overlap
    * matrix. Under-capacity sketches merge EXACTLY (spec-pinned, the
    * E23 batch-split-invariance contract).
    */
  def thetaMaintained(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      snapshotPath: String,
      checkpointPath: String,
      lgK: Int = 12): StreamingQuery =
    sketchMaintained(items, snapshotPath, checkpointPath)(
      graft.operators.Profile.thetaSketchTable(_, col(groupCol), col(itemCol), lgK))(
      graft.operators.Profile.thetaSketchUnion(_, lgK))

  /** E45: streaming theta-diff ADMISSION gate — D138's a-not-b put to
    * work on arrivals: each micro-batch sketches itself per group,
    * scores "how much of this shard is NEW vs the corpus"
    * (`theta_diff_estimate(batch, corpus)`) BEFORE merging into the
    * persisted corpus sketch, and appends one verdict row per
    * (batch, group) to E7-style per-batch dirs — replay-idempotent,
    * no state store (both sketches are kilobyte blobs; the corpus is
    * never re-read). The novelty ratio est_new/est_batch is the
    * dedup-worthiness signal: a shard that is 95% old skips the
    * expensive dedup tiers entirely. Estimates are EXACT under
    * nominal capacity (the D138 library contract) and overcount-only
    * above it — an all-old shard can never read as new.
    */
  def thetaAdmitStream(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      snapshotPath: String,
      outPath: String,
      checkpointPath: String,
      lgK: Int = 12): org.apache.spark.sql.streaming.StreamingQuery = {
    items.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val batchSketch = graft.operators.Profile.thetaSketchTable(
          batch, col(groupCol), col(itemCol), lgK).localCheckpoint()
        val prev = SnapshotStore.read(spark, snapshotPath)
        val verdict = prev match {
          case Some(corpus) =>
            batchSketch.as("b").join(
                corpus.withColumnRenamed("sketch", "__cs").as("c"),
                Seq("grp"), "left")
              .select(col("grp"),
                graft.functions.ThetaSketch.thetaEstimate(col("sketch"))
                  .as("est_batch"),
                when(col("__cs").isNull,
                  graft.functions.ThetaSketch.thetaEstimate(col("sketch")))
                  .otherwise(graft.functions.ThetaSketch.thetaDiffEstimate(
                    col("sketch"), col("__cs"))).as("est_new"))
          case None =>
            batchSketch.select(col("grp"),
              graft.functions.ThetaSketch.thetaEstimate(col("sketch"))
                .as("est_batch"),
              graft.functions.ThetaSketch.thetaEstimate(col("sketch"))
                .as("est_new"))
        }
        verdict.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        val merged = prev match {
          case Some(corpus) => graft.operators.Profile.thetaSketchUnion(
            Seq(corpus, batchSketch), lgK)
          case None => batchSketch
        }
        SnapshotStore.publish(merged.localCheckpoint(), snapshotPath, batchId)
      }
      .start()
  }

  /** E46: the streaming COMPOSED flagship — the E-family analogue of
    * batch `q_corpus_build`: theta ADMISSION (E45) → stateless quality
    * gate (E9) → incremental MinHash near-dedup with signature-index
    * maintenance (E11), ONE streaming pipeline with every artifact
    * maintained per batch. Proves the streaming operators COMPOSE the
    * way the batch ones provably do (CorpusStreamSpec replays the
    * identical shard sequence through the batch operators and gets
    * identical admissions, verdicts, and accepted rows).
    *
    * Per micro-batch N:
    *  1. ADMIT: sketch the batch per source group, score
    *     `theta_diff_estimate(batch, corpus)` against the persisted
    *     corpus sketch — groups whose novelty ratio est_new/est_batch
    *     falls below `minNovelty` are REJECTED whole (a shard that is
    *     95% already-seen content skips the expensive tiers; theta
    *     overcounts only, so an all-old shard can never sneak in as
    *     new). One verdict row per group lands in
    *     `verdictPath/batch_id=N`.
    *  2. GATE: stateless per-row curation ([[curateStream]]) — quality
    *     score + language-id thresholds; no state, no shuffle.
    *  3. DEDUP: gated rows run `Dedup.minHashLSHIncremental` against
    *     the on-disk signature index (bipartite — the corpus is never
    *     re-signed), then within-batch LSH + min-id cluster winners;
    *     accepted rows and their signatures land in per-batch dirs.
    *  4. MAINTAIN: the corpus theta sketch merges the ACCEPTED rows
    *     (the sketch tracks what the corpus actually holds) and
    *     publishes as snapshot version N.
    *
    * Replay determinism (at-least-once → exactly-once output): every
    * read of mutable state is version-fenced to strictly-older batches
    * — the theta snapshot reads the newest version < N (publish keeps
    * 2 versions so the predecessor survives its successor's GC) and
    * the signature index filters `batch_id < N` — so a crash between
    * the artifact writes and the checkpoint commit replays batch N
    * against exactly the pre-N state and rewrites byte-identical
    * output (seeded hash family, deterministic winners).
    *
    * 100 TB shape: admission is kilobyte sketch blobs (no state
    * store), the gate is stateless, dedup work is bounded by
    * batch × bands with `maxBucket`-capped corpus buckets, and
    * unbounded dedup memory lives in the on-disk index where it
    * belongs.
    */
  def corpusBuildStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      groupCol: String,
      thetaSnapshotPath: String,
      sigPath: String,
      outPath: String,
      verdictPath: String,
      checkpointPath: String,
      minNovelty: Double = 0.2,
      minQuality: Double = 0.3,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      lgK: Int = 12): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        corpusBuildBatch(batch, batchId, textCol, idCol, groupCol,
          thetaSnapshotPath, sigPath, outPath, verdictPath,
          minNovelty, minQuality, numHashes, bands, shingleSize,
          threshold, lgK)
      }
      .start()
  }

  /** One E46 micro-batch, callable directly on a static frame — the
    * spec's batch-equality proof drives THIS function with the same
    * shard sequence the stream sees, so stream==batch is equality of
    * orchestration, not a re-implementation that could drift.
    */
  def corpusBuildBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      groupCol: String,
      thetaSnapshotPath: String,
      sigPath: String,
      outPath: String,
      verdictPath: String,
      minNovelty: Double = 0.2,
      minQuality: Double = 0.3,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      lgK: Int = 12): Unit = {
    val spark = batch.sparkSession
    import graft.functions.ThetaSketch

    // ---- 1. ADMIT: per-group novelty vs the version-fenced corpus sketch
    val batchSketch = graft.operators.Profile.thetaSketchTable(
      batch, col(groupCol), col(textCol), lgK).localCheckpoint()
    val prev = SnapshotStore.versions(spark, thetaSnapshotPath)
      .filter(_ < batchId).lastOption
      .flatMap(v => SnapshotStore.readVersion(spark, thetaSnapshotPath, v))
    val scored = prev match {
      case Some(corpus) =>
        batchSketch.as("b").join(
            corpus.withColumnRenamed("sketch", "__cs").as("c"),
            Seq("grp"), "left")
          .select(col("grp"),
            ThetaSketch.thetaEstimate(col("sketch")).as("est_batch"),
            when(col("__cs").isNull, ThetaSketch.thetaEstimate(col("sketch")))
              .otherwise(ThetaSketch.thetaDiffEstimate(col("sketch"), col("__cs")))
              .as("est_new"))
      case None =>
        batchSketch.select(col("grp"),
          ThetaSketch.thetaEstimate(col("sketch")).as("est_batch"),
          ThetaSketch.thetaEstimate(col("sketch")).as("est_new"))
    }
    val verdict = scored
      .select(col("grp"), col("est_batch"), col("est_new"),
        coalesce(try_divide(col("est_new"), col("est_batch")), lit(0.0))
          .as("novelty"))
      .withColumn("admitted", col("novelty") >= minNovelty)
      .localCheckpoint()
    verdict.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").parquet(s"$verdictPath/batch_id=$batchId")
    val admitted = batch.join(
      broadcast(verdict.filter(col("admitted")).select(col("grp").as("__adm"))),
      col(groupCol) === col("__adm"), "left_semi")

    // ---- 2. GATE: stateless quality + language curation
    val gated = curateStream(admitted, textCol, minQuality)

    // ---- 3. DEDUP: vs the batch-fenced signature index, then in-batch
    val rootP = new org.apache.hadoop.fs.Path(sigPath)
    val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasCommitted = hfs.exists(rootP) &&
      hfs.globStatus(new org.apache.hadoop.fs.Path(sigPath, "batch_id=*/_SUCCESS"))
        .nonEmpty
    val index =
      if (hasCommitted) spark.read.parquet(sigPath)
        .filter(col("batch_id") < batchId).drop("batch_id")
      else
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sig",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.LongType, containsNull = false)))))
    val hits = graft.operators.Dedup.minHashLSHIncremental(
        gated, col(idCol), col(textCol), index,
        numHashes, bands, shingleSize, threshold)
      .select(col("shard_id").as("__drop")).distinct()
    val survivors = gated.join(hits, col(idCol) === col("__drop"), "left_anti")
    val pairs = graft.operators.Dedup.minHashLSH(
      survivors, col(idCol), col(textCol),
      numHashes, bands, shingleSize, threshold)
    val drops = graft.operators.Dedup.clusterDuplicates(
      pairs, col("id_a"), col("id_b"))
    val accepted = survivors
      .join(drops, col(idCol) === col("drop_id"), "left_anti")
      .localCheckpoint()
    accepted.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    graft.operators.Dedup.minHashSignatures(
        accepted, col(idCol), col(textCol), numHashes, shingleSize)
      .write.mode("overwrite").parquet(s"$sigPath/batch_id=$batchId")

    // ---- 4. MAINTAIN: corpus sketch tracks the ACCEPTED corpus
    val accSketch = graft.operators.Profile.thetaSketchTable(
      accepted, col(groupCol), col(textCol), lgK)
    val merged = prev match {
      case Some(corpus) =>
        graft.operators.Profile.thetaSketchUnion(Seq(corpus, accSketch), lgK)
      case None => accSketch
    }
    // keepLast = 2: the predecessor must survive this publish's GC so
    // a replay of THIS batch can still read it (the version fence)
    SnapshotStore.publish(merged.localCheckpoint(), thetaSnapshotPath,
      batchId, keepLast = 2)
  }

  /** E48: streaming duplicated-n-gram COVERAGE gate — D146's ONION
    * quantity kept live: each arriving doc scores "how much of me is
    * corpus-common material" against the PERSISTED shingle
    * document-frequency table (version-fenced read, the E46 fence),
    * then the batch's own distinct-per-doc shingle counts merge into
    * the table. Flag-not-drop (the E16 discipline): every row lands
    * with (n_grams, n_dup_grams, dup_coverage, flagged) so a
    * downstream exact pass makes the final call.
    *
    * Scale shape: the df table is the big on-disk index (the E7/E11
    * signature-index class — shingle-partitioned parquet, never
    * driver-side); scoring is one shingle-explode + semi-join against
    * it, merging is one partial-aggregated groupBy sum. Scoring uses
    * df from batches < N only, so a doc never scores against its own
    * batch's material and a crash-replay rewrites byte-identical
    * verdicts.
    */
  def dupCoverageMaintained(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      dfPath: String,
      outPath: String,
      checkpointPath: String,
      n: Int = 3,
      minDf: Int = 2,
      maxCoverage: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val base = batch.select(col(idCol).as("doc_id"),
            graft.functions.shingles(
              graft.functions.tokens(col(textCol)), n).as("__sh"))
          .localCheckpoint()
        val occ = base.select(col("doc_id"), explode(col("__sh")).as("sh"))
        val rootP = new org.apache.hadoop.fs.Path(dfPath)
        val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasCommitted = hfs.exists(rootP) &&
          hfs.globStatus(new org.apache.hadoop.fs.Path(dfPath, "batch_id=*/_SUCCESS"))
            .nonEmpty
        // per-batch PARTIAL df counts land in batch_id dirs; the live
        // df of a shingle is the SUM over committed batches < N
        val dfTable =
          if (hasCommitted)
            spark.read.parquet(dfPath).filter(col("batch_id") < batchId)
              .groupBy("sh").agg(sum(col("df")).as("df"))
          else
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("sh",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("df",
                  org.apache.spark.sql.types.LongType))))
        val dupSet = dfTable.filter(col("df") >= minDf).select("sh")
        val perDoc = occ.join(dupSet, Seq("sh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
        val scored = base
          .select(col("doc_id"), size(col("__sh")).cast("long").as("n_grams"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
          .withColumn("dup_coverage",
            coalesce(floor(try_divide(col("n_dup_grams").cast("double"),
              col("n_grams").cast("double")) * 1e4) / 1e4, lit(0.0)))
          .withColumn("flagged", col("dup_coverage") > maxCoverage)
        scored.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        occ.select(col("doc_id"), col("sh")).distinct()
          .groupBy("sh").agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$dfPath/batch_id=$batchId")
      }
      .start()
  }

  /** E47: streaming RFM snapshot maintenance — the C129 customer-value
    * grid kept live: each micro-batch partial-aggregates to per-user
    * (last_ts, frequency, monetary-decimal) and merges into the
    * persisted per-user snapshot — max/sum/sum, all exactly mergeable
    * (monetary stays decimal(18,2) IN the snapshot so incremental sums
    * equal the batch sum bit for bit; it goes double only at scoring).
    * Scoring is on-demand via [[graft.operators.Behavior.rfmScores]]
    * over the snapshot — the IDENTICAL code path the batch operator
    * uses, which is what the spec proves (stream-maintained snapshot
    * scored == batch rfm over the full feed). At extreme user
    * cardinality score with `rfmScores(snapshot, sketchAbove = N)`:
    * above N users the scorer swaps its exact single-partition ntile
    * sorts for broadcast KLL quintile boundaries
    * ([[graft.operators.Behavior.rfmScoresSketched]]) — the snapshot
    * contract is unchanged either way.
    *
    * Replay-safe the E46 way: reads the newest snapshot version
    * strictly below the current batch id (publish keeps 2), so a
    * crash between publish and checkpoint-commit replays batch N
    * against the pre-N state. State is |users| rows of fixed width on
    * disk — no state store, mergeable at any scale.
    */
  def rfmMaintained(
      events: DataFrame,
      userCol: String,
      tsNsCol: String,
      valueCol: String,
      snapshotPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    events.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch
          .filter(col(userCol).isNotNull && col(tsNsCol).isNotNull)
          .groupBy(col(userCol).as("user_id"))
          .agg(
            max(col(tsNsCol).cast("long")).as("__last"),
            count(lit(1)).as("frequency"),
            coalesce(sum(col(valueCol).cast("decimal(18,2)")),
              lit(0).cast("decimal(18,2)")).as("monetary"))
        val prev = SnapshotStore.versions(spark, snapshotPath)
          .filter(_ < batchId).lastOption
          .flatMap(v => SnapshotStore.readVersion(spark, snapshotPath, v))
        val merged = (prev match {
          case Some(p) => p.unionByName(b)
          case None => b
        }).groupBy("user_id")
          .agg(
            max(col("__last")).as("__last"),
            sum(col("frequency")).as("frequency"),
            sum(col("monetary")).cast("decimal(18,2)").as("monetary"))
        SnapshotStore.publish(merged.localCheckpoint(), snapshotPath,
          batchId, keepLast = 2)
      }
      .start()
  }

  /** E49: streaming CALIBRATION snapshot maintenance — the C137
    * Hosmer-Lemeshow monitor kept live: a production gate classifier
    * whose scores drift off their probabilities silently corrupts
    * every downstream threshold, so each micro-batch of (score,
    * label) rows partial-aggregates to the per-bin mergeable frame
    * (n, Σy, Σscore-micro — exact integers under baseline-FROZEN bin
    * edges; percentile edges cannot be maintained incrementally and
    * freezing them is the honest contract) and merges into the
    * persisted snapshot by bin-sum. Scoring is on-demand via
    * [[graft.operators.Stats.hosmerLemeshowFixed]]'s shared tail over
    * the snapshot — the IDENTICAL code path the batch operator uses
    * (the E47 discipline; the spec proves stream-maintained == batch
    * over the full feed). Replay-safe the E46 way: reads the newest
    * snapshot version strictly below the current batch id. State is
    * ≤ |edges|+1 rows of three integers — no state store.
    */
  def hlMaintained(
      scores: DataFrame,
      scoreCol: String,
      labelCol: String,
      edges: Seq[Double],
      snapshotPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(edges.nonEmpty && edges == edges.sorted, "edges sorted, nonempty")
    scores.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = graft.operators.Stats.hlBins(
          batch, col(scoreCol), col(labelCol), edges)
        val prev = SnapshotStore.versions(spark, snapshotPath)
          .filter(_ < batchId).lastOption
          .flatMap(v => SnapshotStore.readVersion(spark, snapshotPath, v))
        val merged = (prev match {
          case Some(p) => p.unionByName(b)
          case None => b
        }).groupBy("__bin")
          .agg(sum(col("__n")).as("__n"), sum(col("__o")).as("__o"),
            sum(col("__se")).as("__se"))
        SnapshotStore.publish(merged.localCheckpoint(), snapshotPath,
          batchId, keepLast = 2)
      }
      .start()
  }

  /** E15: streaming PSI drift monitor — per event-time window, the
    * population-stability index of the window's value distribution
    * against a PERSISTED baseline histogram: a watermarked windowed
    * (window, bin) count (the E1 shape, with [[graft.operators.Profile.histogram]]'s
    * exact clamped-bin expression) feeds `foreachBatch`, which scores
    * each FINALIZED window's counts through
    * [[graft.operators.Profile.psiFromCounts]] — identical smoothing
    * and truncation to the batch operator, which is what the spec
    * proves — and appends (window_start_ns, n_before, n_after, psi)
    * to per-batch output dirs (E7's replay-idempotent overwrite
    * layout). Append mode = one verdict per window, emitted once its
    * watermark closes; the baseline never rescans.
    */
  def psiDriftStream(
      events: DataFrame,
      value: Column,
      baseline: DataFrame,
      lo: Double,
      hi: Double,
      nBins: Int,
      windowDuration: String,
      watermarkDelay: String,
      outPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = (hi - lo) / nBins
    val bin = least(lit((nBins - 1).toLong),
      greatest(lit(0L), floor((value - lo) / w))).cast("int")
    val base = baseline.select(col("bin"), col("n").as("nb")).localCheckpoint()
    events.withWatermark("ts", watermarkDelay)
      .filter(value.isNotNull)
      .groupBy(window(col("ts"), windowDuration), bin.as("bin"))
      .agg(count(lit(1)).as("na"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("bin"), col("na"))
      .writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val windows = batch.select("window_start_us").distinct()
          .collect().map(_.getLong(0))
        val out = windows.map { ws =>
          graft.operators.Profile.psiFromCounts(spark, base,
              batch.filter(col("window_start_us") === ws).select("bin", "na"),
              nBins)
            .withColumn("window_start_us", lit(ws))
        }.reduceOption(_ unionByName _)
        out.foreach(_.select(col("window_start_us"), col("n_before"),
            col("n_after"), col("psi"))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId"))
      }
      .start()
  }

  case class RzIn(key: Long, bucket: Long, value: Double)
  case class RzOut(
      key: Long, bucket: Long, value: Double,
      baseline_n: Long, z: Double, anomaly: Boolean)

  /** Exact 6-dp decimal of a double, for order-independent sums in
    * the stateful series streams (the batch twins' decimal(18,6)).
    */
  private def dec(v: Double): BigDecimal =
    BigDecimal.valueOf(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** 4-dp truncation toward zero, `+ 0.0` folding -0.0 — the driver-side
    * twin of `operators.Num.t4zero`.
    */
  private def t4zero(x: Double): Double =
    math.signum(x) * (math.floor(math.abs(x) * 1e4) / 1e4) + 0.0

  /** E13: STREAMING rolling z-score anomaly monitor — the stateful
    * twin of [[graft.operators.Stats.rollingZ]]: per metric key, each
    * arriving (bucket, value) scores against the TRAILING `lookback`
    * buckets' mean/stddev held in state (a bounded vector of the last
    * `lookback` values — O(lookback) per key, no watermark: the
    * window slides by count, not time). The moment math REPLICATES
    * the batch operator digit for digit — per-value 6-dp HALF_UP
    * decimal reduction, exact decimal sums, the same double division
    * sequence, 4-dp toward-zero truncation — so multi-batch streaming
    * output equals the batch frame exactly (the spec's claim).
    *
    * Ordering contract: per-key delivery in bucket order across
    * batches ([[packStream]]'s append-only shape); within a batch
    * rows are sorted here. One row per (key, bucket), the batch
    * operator's contract.
    */
  def rollingZStream(
      df: DataFrame,
      lookback: Int,
      zThresh: Double = 3.0,
      minPeriods: Int = 3): Dataset[RzOut] = {
    require(lookback >= minPeriods && minPeriods >= 2,
      "need lookback >= minPeriods >= 2 trailing buckets for a stddev baseline")
    implicit val inEnc = Encoders.product[RzIn]
    implicit val outEnc = Encoders.product[RzOut]
    implicit val stEnc = Encoders.kryo[Vector[Double]]
    implicit val longEnc = Encoders.scalaLong
    df.select(col("key").cast("long"), col("bucket").cast("long"),
        col("value").cast("double"))
      .as[RzIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[Vector[Double], RzOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[RzIn], state: GroupState[Vector[Double]]) =>
          var window = state.getOption.getOrElse(Vector.empty[Double])
          val out = rows.toSeq.sortBy(_.bucket).map { r =>
            val n = window.length
            val z =
              if (n < minPeriods) 0.0
              else {
                val s = window.map(dec).sum
                val ss = window.map(v => dec(v) * dec(v)).sum
                val mean = s.toDouble / n
                val variance = math.max(0.0,
                  (ss.toDouble - s.toDouble * s.toDouble / n) / (n - 1))
                val std = math.sqrt(variance)
                if (std == 0.0) 0.0 else t4zero((r.value - mean) / std)
              }
            val o = RzOut(key, r.bucket, r.value, n.toLong, z,
              math.abs(z) > zThresh && n >= minPeriods)
            window = (window :+ r.value).takeRight(lookback)
            o
          }
          state.update(window)
          out.iterator
      }
  }

  case class FunnelIn(user_id: Long, ts_us: Long, event_type: String)
  case class FunnelOut(user_id: Long, step: Int, event_type: String, ts_us: Long)

  /** E18: STREAMING funnel — the stateful twin of
    * [[graft.operators.Behavior.funnel]]: per user, a one-(step,
    * timestamp) state machine advances when the NEXT step's event type
    * arrives at-or-after the time the previous step was reached, and
    * emits one row per advancement (the live "user u just reached
    * checkout" feed; group by step downstream for live conversion
    * counts). The greedy time-ordered advance computes exactly the
    * batch operator's earliest-reach chain — min t of step-i events ≥
    * the step-(i−1) reach time — so streamed per-step membership ==
    * batch n_users (the spec's claim). Consecutive REPEATED step types
    * advance through one event, matching batch's min-over-t ≥ t_prev
    * semantics where the same event satisfies both filters.
    *
    * O(1) state per user (a step index + a timestamp), no watermark —
    * the funnel never un-advances, so there is nothing to evict;
    * ordering contract as [[rollingZStream]] (per-key delivery in ts
    * order across batches; within a batch rows sort here).
    */
  def funnelStream(
      events: DataFrame,
      steps: Seq[String]): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    implicit val inEnc = Encoders.product[FunnelIn]
    implicit val outEnc = Encoders.product[FunnelOut]
    implicit val stEnc = Encoders.product[(Int, Long)]
    implicit val longEnc = Encoders.scalaLong
    events.select(col("user_id").cast("long"), col("ts_us").cast("long"),
        col("event_type").cast("string"))
      .as[FunnelIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long), FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelIn], state: GroupState[(Int, Long)]) =>
          var (step, tReached) = state.getOption.getOrElse((0, Long.MinValue))
          val out = Vector.newBuilder[FunnelOut]
          rows.toSeq.sortBy(_.ts_us).foreach { r =>
            while (step < steps.length && r.event_type == steps(step) &&
                r.ts_us >= tReached) {
              step += 1
              tReached = r.ts_us
              out += FunnelOut(uid, step, r.event_type, r.ts_us)
            }
          }
          state.update((step, tReached))
          out.result().iterator
      }
  }

  case class LsOut(
      key: Long, bucket: Long, value: Double,
      pre_mean: Double, post_mean: Double, shift: Double,
      shift_z: Double, changepoint: Boolean)

  /** E17: STREAMING level-shift changepoint monitor — the stateful twin
    * of [[graft.operators.Stats.levelShift]], closing the monitoring
    * triad (E15 distribution drift, E13 point anomalies, this one
    * level moves). A verdict for bucket t needs the LEADING window
    * [t, t+width−1], so the monitor holds the last 2·width (bucket,
    * value) pairs per key — O(width) state, no watermark (count-sliding
    * like E13) — and emits each bucket's verdict exactly once, `width`
    * buckets after it arrives, as soon as its leading window completes.
    * Edge buckets (the batch operator's zero-unflagged rows) never
    * complete a window pair and are never emitted: streamed output ==
    * the batch frame filtered to full-window rows, EXACTLY (the spec's
    * claim — same 6-dp HALF_UP decimal reduction, same double division
    * sequence, same 4-dp toward-zero truncation).
    *
    * Ordering contract: per-key delivery in bucket order across
    * batches ([[rollingZStream]]'s shape); within a batch rows sort
    * here.
    */
  def levelShiftStream(
      df: DataFrame,
      width: Int,
      zThresh: Double = 4.0): Dataset[LsOut] = {
    require(width >= 2, "width >= 2: a stddev baseline needs at least two points")
    implicit val inEnc = Encoders.product[RzIn]
    implicit val outEnc = Encoders.product[LsOut]
    implicit val stEnc = Encoders.kryo[Vector[(Long, Double)]]
    implicit val longEnc = Encoders.scalaLong
    df.select(col("key").cast("long"), col("bucket").cast("long"),
        col("value").cast("double"))
      .as[RzIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[Vector[(Long, Double)], LsOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[RzIn],
            state: GroupState[Vector[(Long, Double)]]) =>
          var buf = state.getOption.getOrElse(Vector.empty[(Long, Double)])
          val out = Vector.newBuilder[LsOut]
          rows.toSeq.sortBy(_.bucket).foreach { r =>
            buf = buf :+ (r.bucket -> r.value)
            if (buf.length == 2 * width) {
              // entries [0, w) are the pre window, entry w the candidate,
              // [w, 2w) its just-completed post window
              val pre = buf.take(width).map(_._2)
              val post = buf.drop(width).map(_._2)
              val (tb, tv) = buf(width)
              val sp = pre.map(dec).sum
              val ssp = pre.map(v => dec(v) * dec(v)).sum
              val sq = post.map(dec).sum
              val preMean = sp.toDouble / width
              val postMean = sq.toDouble / width
              val variance = math.max(0.0,
                (ssp.toDouble - sp.toDouble * sp.toDouble / width) / (width - 1))
              val std = math.sqrt(variance)
              val shift = postMean - preMean
              val z = if (std > 0.0) t4zero(shift / std) else 0.0
              val changepoint =
                (std > 0.0 && math.abs(z) > zThresh) ||
                (std == 0.0 && shift != 0.0)
              out += LsOut(key, tb, tv, t4zero(preMean), t4zero(postMean),
                t4zero(shift), z, changepoint)
              buf = buf.drop(1)
            }
          }
          state.update(buf)
          out.result().iterator
      }
  }

  def sessionize(
      events: DataFrame,
      gapUs: Long = 43200000000L,
      watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    implicit val eventEnc = Encoders.product[Event]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val keyEnc = Encoders.scalaLong

    val typed = events
      .withWatermark("ts", watermarkDelay)
      // Event's Long/Double fields are primitives: one malformed row
      // with a null key/ts/value (loadJsonLenient emits exactly such
      // rows for corrupt records) would kill the whole query at
      // deserialization — drop them here, they can't be sessionized
      .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .as[Event]

    def close(uid: Long, st: SessionState): SessionOut =
      SessionOut(uid, st.startUs, st.endUs, st.n, st.sumV)

    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(uid, _)).toSeq
            state.remove()
            out.iterator
          } else {
            // Micro-batches deliver rows unordered. Treat the OPEN
            // state session as one more interval and fold EVERYTHING
            // (events = point intervals, state = its [start, end]
            // span) in time order with gap chaining — exactly the
            // batch twin's transitive merge, so within-gap chains that
            // reach backward past the open session's start through
            // intermediate events merge correctly (a plain
            // early/late-of-the-old-start split mishandles those:
            // events 85 ← 92 ← open-at-100 must form ONE session).
            // Residual edge unchanged: an already-EMITTED session can
            // never reopen (append output) — bounded by the watermark.
            val items = (rows.toSeq.map(e =>
                SessionState(e.ts_us, e.ts_us, 1L, e.value)) ++
                state.getOption.toSeq)
              .sortBy(it => (it.startUs, it.endUs))
            var closedSessions = List.empty[SessionOut]
            var cur = Option.empty[SessionState]
            items.foreach { it =>
              cur match {
                case Some(st) if it.startUs - st.endUs <= gapUs =>
                  cur = Some(SessionState(st.startUs,
                    math.max(st.endUs, it.endUs),
                    st.n + it.n, st.sumV + it.sumV))
                case Some(st) =>
                  closedSessions ::= close(uid, st)
                  cur = Some(it)
                case None =>
                  cur = Some(it)
              }
            }
            cur.foreach { st =>
              state.update(st)
              // Event-time timeout: fire once the watermark passes the
              // session end + gap — exactly when no on-time row can
              // extend this session any more.
              state.setTimeoutTimestamp((st.endUs + gapUs) / 1000L)
            }
            closedSessions.reverse.iterator
          }
      }
  }
}
