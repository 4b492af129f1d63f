package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Write-audit-publish snapshot layout for the streaming maintenance
  * sinks (E7/E8) on a PLAIN filesystem — the crash-safety tier below a
  * real table format (Iceberg/Delta transactional commits remain the
  * documented production seam).
  *
  * A snapshot root contains immutable version directories `v<N>` plus
  * a `_CURRENT` pointer file naming the live one:
  *
  *  - WRITE: the new version lands in its own `v<batchId>` directory —
  *    never touching the live one. A streaming retry of the same batch
  *    overwrites the same directory (idempotent).
  *  - AUDIT: the parquet committer's `_SUCCESS` marker must exist
  *    before the version is eligible.
  *  - PUBLISH: `_CURRENT` is replaced via temp-file + rename — the
  *    only mutation readers can observe, and it's a single small-file
  *    swap. A crash at ANY point leaves either the old pointer (new
  *    version invisible, replay rewrites it) or a missing pointer for
  *    the one rename instant — recovered by falling back to the
  *    newest audited version directory.
  *
  * GC keeps the newest `keepLast` audited predecessors (default 1 —
  * the published one's predecessor survives so an in-flight reader of
  * the old pointer target never loses its files mid-read); older
  * versions and unaudited orphans are deleted best-effort after the
  * flip. Raising `keepLast` turns the retained window into a
  * TIME-TRAVEL history: [[versions]] lists the audited versions still
  * on disk and [[readVersion]] reads any of them — the offline half of
  * a table format's snapshot reads (Iceberg/Delta transactional
  * commits remain the documented production seam).
  */
object SnapshotStore {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Pointer = "_CURRENT"
  private val CommitLog = "_commits"
  private val Staging = "_staging"
  private val Owner = "_QUERY"

  private def readText(hfs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = hfs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  /** Numbers of the `v<N>` directories under `rootP`, audited or not. */
  private def versionDirs(hfs: org.apache.hadoop.fs.FileSystem, rootP: Path): Seq[Long] =
    if (!hfs.exists(rootP)) Seq.empty
    else hfs.listStatus(rootP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toLong)

  private def audited(hfs: org.apache.hadoop.fs.FileSystem, rootP: Path, v: Long): Boolean =
    hfs.exists(new Path(rootP, s"v$v/_SUCCESS"))

  /** Post-landing GC of [[publish]] and [[commit]]: keep `version` and
    * its newest `keepLast` audited predecessors, and delete every other
    * version directory — older versions and crashed writes' unaudited
    * orphans — that `spare` does not hold back.
    */
  private def retain(hfs: org.apache.hadoop.fs.FileSystem, rootP: Path, version: Long,
      keepLast: Int, spare: Long => Boolean = _ => false): Unit = {
    val others = versionDirs(hfs, rootP).filter(_ != version)
    val keep = others.filter(audited(hfs, rootP, _)).sorted.takeRight(keepLast).toSet
    others.filterNot(v => keep(v) || spare(v)).foreach(v =>
      hfs.delete(new Path(rootP, s"v$v"), true))
  }

  /** Replace small file `p` with `text` via `tmp` + rename: readers see
    * the old content, or for the rename instant none, never a partial
    * write. False when the rename fails.
    */
  private def swapText(hfs: org.apache.hadoop.fs.FileSystem, p: Path, tmp: Path,
      text: String): Boolean = {
    val out = hfs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    hfs.delete(p, false)
    hfs.rename(tmp, p)
  }

  /** The live version directory, or None before the first publish.
    *
    * A version is PUBLISHED when either (a) the pointer names it —
    * the single-writer [[publish]] flip — or (b) a `_commits/<N>`
    * log entry exists AND `v<N>` is audited — a multi-writer
    * [[commit]], whose log entry is only ever created after the data
    * was staged and audited, so log + audited dir = landed. The live
    * version is the HIGHEST published one: under concurrent
    * committers the pointer is a best-effort cache that can lag the
    * log (committer A can flip it to 5 after B flipped to 6), and a
    * reader trusting a stale pointer would resurrect a lost update.
    * Single-writer stores have no log entries, so (a) alone decides
    * — publish's "the flip is the only observable mutation" WAP
    * contract is untouched. If neither exists (the rename instant,
    * or a pre-WAP layout), the newest audited `v<N>` wins.
    */
  def currentDir(spark: SparkSession, root: String): Option[String] = {
    val hfs = fs(spark, root)
    val rootP = new Path(root)
    if (!hfs.exists(rootP)) return None
    val ptr = new Path(rootP, Pointer)
    val fromPointer =
      if (hfs.exists(ptr))
        Some(new Path(rootP, readText(hfs, ptr))).filter(hfs.exists(_))
          .map(_.getName.drop(1).toLong)
      else None
    val fromLog = committedVersions(spark, root).maxOption
    (fromPointer ++ fromLog).maxOption.orElse(versions(spark, root).lastOption)
      .map(v => new Path(rootP, s"v$v").toString)
  }

  /** Versions with a commit-log entry AND an audited directory —
    * the multi-writer source of truth ([[commit]]'s contract).
    * Crashed claims (log entry, no directory) are excluded.
    */
  def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val hfs = fs(spark, root)
    val logDir = new Path(new Path(root), CommitLog)
    if (!hfs.exists(logDir)) return Seq.empty
    hfs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("\\d+"))
      .map(_.toLong)
      .filter(v => hfs.exists(new Path(new Path(root), s"v$v/_SUCCESS")))
      .sorted
  }

  /** Read the live snapshot, or None before the first publish. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentDir(spark, root).map(spark.read.parquet(_))

  /** Audited version numbers still on disk, ascending — the
    * time-travel index. Unaudited orphans (crashed writes) are never
    * listed.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val hfs = fs(spark, root)
    val rootP = new Path(root)
    versionDirs(hfs, rootP).filter(audited(hfs, rootP, _)).sorted
  }

  /** The replay fence for a `foreachBatch` sink that keeps its state
    * here: the newest audited version strictly below `batchId`, or None
    * before the first publish. Spark delivers `foreachBatch` at least
    * once — a crash after the sink publishes version N but before the
    * checkpoint commits batch N re-runs batch N — so a sink that merged
    * batch N into the LIVE version would merge it twice. Read through
    * this fence, a replay sees exactly the pre-N state and republishes
    * the same `v<N>`, which turns at-least-once delivery into
    * exactly-once state. Every sink that reads here publishes with
    * `keepLast = ReplayKeep` (2): Spark itself only re-runs the newest
    * uncommitted batch, whose predecessor one kept version covers; the
    * second covers a replay of batch N after N + 1 has landed, as when
    * a checkpoint is restored from a copy one batch old.
    *
    * Version numbers are batch ids, so [[claim]] keeps a query on a
    * fresh checkpoint from reading (and then overwriting) a root whose
    * versions another query numbered.
    */
  private[graft] def readBefore(spark: SparkSession, root: String,
      batchId: Long): Option[DataFrame] = {
    claim(spark, root, versions(spark, root).nonEmpty)
    versions(spark, root).filter(_ < batchId).lastOption
      .flatMap(readVersion(spark, root, _))
  }

  /** Numbers in a sink root (snapshot versions, log batch ids) are batch
    * ids, so they mean something only to the streaming query that wrote
    * them. A query started on a FRESH checkpoint restarts its batch ids
    * at 0: a snapshot fenced below 0 would bootstrap empty and publish
    * over the live state, and a log would show batch 0 none of the old
    * rows and overwrite the old `batch_id=0`. So the first fenced read or
    * log write in a query stamps that query's id — stable across restarts
    * of one checkpoint — into `root/_QUERY`, and a query with another id
    * fails here, before it writes, on a root that `holdsState`. Calls
    * outside a streaming query are not checked, and a root without a
    * stamp (written before stamps existed, or only outside a stream) is
    * claimed by the first query that reaches it.
    */
  private[streaming] def claim(spark: SparkSession, root: String,
      holdsState: => Boolean): Unit =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")).foreach { id =>
      val hfs = fs(spark, root)
      val stamp = new Path(new Path(root), Owner)
      val owner = if (hfs.exists(stamp)) Some(readText(hfs, stamp)) else None
      require(owner.forall(_ == id) || !holdsState,
        s"sink root $root holds state numbered by streaming query " +
        s"${owner.get}, not by this query ($id): a fresh checkpoint restarts " +
        "the batch ids, so restore that query's checkpoint or give this one a new root")
      if (!owner.contains(id))
        require(swapText(hfs, stamp, new Path(new Path(root), s"$Owner.tmp-$id"), id),
          s"could not stamp $root for query $id")
    }

  /** Retention of a sink that reads through [[readBefore]]. */
  private[graft] val ReplayKeep = 2

  /** Time-travel read of a specific AUDITED version, or None if that
    * version never published, failed its audit, or has been GC'd
    * (retention is `publish`'s `keepLast`). Version directories are
    * immutable after publish, so the read is stable even while later
    * versions land.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): Option[DataFrame] = {
    val hfs = fs(spark, root)
    val dir = new Path(new Path(root), s"v$version")
    if (hfs.exists(new Path(dir, "_SUCCESS"))) Some(spark.read.parquet(dir.toString))
    else None
  }

  /** Publish `df` as version `version` of the snapshot (WAP as above).
    * Safe to re-run with the same version (streaming batch replay).
    * `keepLast` is the retention policy: how many audited PREDECESSOR
    * versions survive the post-flip GC (≥ 1 so an in-flight reader of
    * the previous pointer target never loses files mid-read).
    */
  def publish(df: DataFrame, root: String, version: Long, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "keepLast must be >= 1 (in-flight reader safety)")
    val spark = df.sparkSession
    val hfs = fs(spark, root)
    val rootP = new Path(root)
    val versionDir = new Path(rootP, s"v$version")
    df.write.mode("overwrite").parquet(versionDir.toString)
    require(hfs.exists(new Path(versionDir, "_SUCCESS")),
      s"snapshot audit failed: no _SUCCESS marker in $versionDir")
    require(swapText(hfs, new Path(rootP, Pointer), new Path(rootP, s"$Pointer.tmp$version"),
      s"v$version"), s"pointer publish failed for $versionDir")
    retain(hfs, rootP, version, keepLast)
  }

  /** Create-exclusive: the CAS under [[commit]]. Local filesystems go
    * through java.io.File.createNewFile (POSIX O_CREAT|O_EXCL — truly
    * atomic); everything else through FileSystem.create(overwrite =
    * false), which is atomic on HDFS and the object stores that
    * support conditional puts. Returns false when someone else owns
    * the name.
    */
  private def createExclusive(hfs: org.apache.hadoop.fs.FileSystem,
      p: Path, content: String): Boolean = {
    val isLocal = "file" == Option(hfs.getUri.getScheme).getOrElse("file")
    if (isLocal) {
      val f = new java.io.File(p.toUri.getPath)
      f.getParentFile.mkdirs()
      if (!f.createNewFile()) return false
      val out = new java.io.FileOutputStream(f)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      true
    } else {
      try {
        val out = hfs.create(p, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  /** MULTI-WRITER commit — the optimistic-concurrency tier above
    * [[publish]] (which is single-writer by contract: two concurrent
    * publishers can race the pointer flip and silently lose the loser's
    * update). Writers don't pick version numbers; the store assigns
    * them through a commit-log CAS:
    *
    *  1. STAGE: the data lands ONCE in `_staging/s-<uuid>` — the
    *     expensive write is never repeated across CAS retries — and is
    *     audited (`_SUCCESS`) there.
    *  2. CLAIM: target = max(committed, claimed) + 1; create-exclusive
    *     `_commits/<target>` (content = the staging id). Exactly one
    *     contender wins a number; losers recompute against the fresh
    *     log and take the next one. A claim whose writer crashed before
    *     the rename stays a harmless HOLE: readers require
    *     log-entry AND audited dir, and later targets skip past it.
    *  3. LAND: rename staging → `v<target>` (atomic dir move on a
    *     real filesystem; the `_SUCCESS` audit travelled with it).
    *  4. POINT: advance `_CURRENT` only if it names an older version —
    *     under races the pointer is a best-effort cache; [[currentDir]]
    *     reads max(pointer, committed log), so a stale flip can never
    *     resurrect a lost update.
    *
    * GC after landing: same retention as [[publish]] (newest `keepLast`
    * audited predecessors survive) plus abandoned staging dirs older
    * than `staleStagingMs`. Log entries are never GC'd — kilobyte-class
    * bookkeeping that doubles as the commit audit trail. Returns the
    * committed version. NOT idempotent per batch (a retry of the same
    * logical batch lands a NEW version) — streaming replays that need
    * exactly-once keep using `publish(batchId)`; this is the tier for
    * independent jobs sharing one table.
    */
  def commit(df: DataFrame, root: String, keepLast: Int = 1,
      maxAttempts: Int = 20, staleStagingMs: Long = 24L * 3600 * 1000): Long = {
    require(keepLast >= 1, "keepLast must be >= 1 (in-flight reader safety)")
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    val spark = df.sparkSession
    val hfs = fs(spark, root)
    val rootP = new Path(root)
    val stagingId = "s-" + java.util.UUID.randomUUID().toString
    val stagingDir = new Path(new Path(rootP, Staging), stagingId)
    df.write.mode("overwrite").parquet(stagingDir.toString)
    require(hfs.exists(new Path(stagingDir, "_SUCCESS")),
      s"snapshot audit failed: no _SUCCESS marker in $stagingDir")
    val logDir = new Path(rootP, CommitLog)
    var attempt = 0
    var landed = -1L
    while (landed < 0 && attempt < maxAttempts) {
      attempt += 1
      val claimed =
        if (!hfs.exists(logDir)) Seq.empty[Long]
        else hfs.listStatus(logDir).toSeq.map(_.getPath.getName)
          .filter(_.matches("\\d+")).map(_.toLong)
      val published = currentDir(spark, root)
        .map(p => new Path(p).getName.drop(1).toLong)
      val target = ((claimed ++ published) :+ 0L).max + 1
      if (createExclusive(hfs, new Path(logDir, target.toString), stagingId)) {
        val versionDir = new Path(rootP, s"v$target")
        require(hfs.rename(stagingDir, versionDir),
          s"commit landing failed: rename $stagingDir -> $versionDir")
        landed = target
      }
      // lost the claim: loop — the fresh log listing skips the taken number
    }
    require(landed > 0,
      s"commit lost the CAS $maxAttempts times under contention on $root")
    // advance the pointer cache only forward
    val ptrVersion = {
      val ptr = new Path(rootP, Pointer)
      if (!hfs.exists(ptr)) -1L
      else {
        val name = readText(hfs, ptr)
        if (name.matches("v\\d+")) name.drop(1).toLong else -1L
      }
    }
    if (ptrVersion < landed)
      swapText(hfs, new Path(rootP, Pointer), new Path(rootP, s"$Pointer.tmp$landed-$stagingId"),
        s"v$landed")
    // GC: retention over audited predecessors (publish's policy), plus
    // abandoned staging from crashed committers. In-flight guard: a
    // v<N> with a live commit-log entry but no _SUCCESS yet is a
    // CONCURRENT committer mid-landing on a store where rename is a
    // non-atomic copy — sweeping it would destroy a commit whose log
    // claim already exists. Treat it as in-flight until the
    // staleStagingMs age cutoff (the same abandonment clock staging
    // dirs get); past that it's a crashed landing and GC-able.
    val gcCutoff = System.currentTimeMillis() - staleStagingMs
    retain(hfs, rootP, landed, keepLast, spare = v => {
      val d = new Path(rootP, s"v$v")
      !audited(hfs, rootP, v) &&
        hfs.exists(new Path(logDir, v.toString)) &&
        (try hfs.getFileStatus(d).getModificationTime >= gcCutoff
         catch { case _: java.io.FileNotFoundException => false })
    })
    val stagingRoot = new Path(rootP, Staging)
    if (hfs.exists(stagingRoot)) {
      val cutoff = System.currentTimeMillis() - staleStagingMs
      hfs.listStatus(stagingRoot).toSeq
        .filter(s => s.isDirectory && s.getModificationTime < cutoff)
        .foreach(s => hfs.delete(s.getPath, true))
    }
    landed
  }
}

/** The per-batch log layout of the append-shaped `foreachBatch` sinks
  * (E7, E11, E15, E45, E46, E48): micro-batch N lands in its own
  * `root/batch_id=N` directory, written with overwrite, and the root
  * reads as one parquet table partitioned by `batch_id`.
  *
  * Replay contract, the [[SnapshotStore.readBefore]] fence for logs: a
  * crash between a batch's writes and the checkpoint commit re-runs
  * batch N with its own rows already on disk. [[write]] overwrites the
  * same directory with the same deterministic content instead of
  * appending duplicates, and [[readBefore]] shows the batch only the
  * rows of batches before N — so a dedup index never matches a
  * replayed batch against itself and lands it empty. A crash mid-write
  * leaves only an uncommitted `_temporary` dir, invisible to readers of
  * the root; the replay overwrites it.
  */
private[graft] object BatchLog {

  /** Rows of the batches strictly before `batchId`, without the
    * `batch_id` column. Bootstrap (the `empty` schema) while no batch
    * directory has committed its `_SUCCESS` marker — a root holding
    * only a crashed write's leftovers is still bootstrap — but a root
    * with committed batches that fails to READ is corruption and
    * propagates: a silent empty restart would re-admit the whole
    * corpus.
    */
  def readBefore(spark: SparkSession, root: String, batchId: Long,
      empty: StructType): DataFrame = {
    val hasCommitted = committed(spark, root)
    SnapshotStore.claim(spark, root, hasCommitted)
    if (hasCommitted)
      spark.read.parquet(root).filter(col("batch_id") < batchId).drop("batch_id")
    else spark.createDataFrame(new java.util.ArrayList[Row](), empty)
  }

  /** Land `df` as batch `batchId` of the log, replacing a replay's
    * earlier attempt — never another query's batch of that number
    * ([[SnapshotStore.claim]]).
    */
  def write(df: DataFrame, root: String, batchId: Long): Unit = {
    SnapshotStore.claim(df.sparkSession, root, committed(df.sparkSession, root))
    df.write.mode("overwrite").parquet(s"$root/batch_id=$batchId")
  }

  /** Whether any batch directory has committed its `_SUCCESS` marker. */
  private def committed(spark: SparkSession, root: String): Boolean = {
    val rootP = new Path(root)
    val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.exists(rootP) && hfs.globStatus(new Path(root, "batch_id=*/_SUCCESS")).nonEmpty
  }
}
