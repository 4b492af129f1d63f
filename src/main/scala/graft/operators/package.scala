package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

package object operators {

  /** The cross-engine numeric determinism contract (SURVEY §6 r4)
    * shared by the statistical operators (Profile / Stats): the DuckDB
    * oracles replay these formulas textually, so a change here must be
    * deliberate and global — three hand-maintained copies were one
    * silent divergence away from a hash mismatch. Not yet the only
    * copy: code under operators/, streaming/ and functions/ still
    * spells the K-dp floor `floor(x * 1eK) / 1eK` inline (ROADMAP,
    * "Quality of design").
    */
  private[operators] object Num {
    /** 4-dp floor truncation — repr-independent where round() is not
      * (Spark half-ups the shortest decimal repr of the double, other
      * engines round the binary value). Use for signed REPORTING
      * values where truncation direction carries no meaning.
      */
    def t4floor(c: Column): Column = floor(c * 1e4) / 1e4

    /** 7-dp floor truncation — the per-row reduction that makes a
      * double sum order-independent enough to replay exactly.
      */
    def t7floor(c: Column): Column = floor(c * 1e7) / 1e7

    /** 4-dp truncation TOWARD ZERO — for values feeding a symmetric
      * |x| > threshold gate, where floor's away-from-zero truncation
      * of negatives would make the verdict depend on sign. `+ 0.0`
      * folds sign(-small)·0 = -0.0 back to +0.0 so both engines emit
      * the identical zero.
      */
    def t4zero(c: Column): Column =
      signum(c) * (floor(abs(c) * 1e4) / 1e4) + 0.0

    /** [[t4zero]] at 6 dp. */
    def t6zero(c: Column): Column =
      signum(c) * (floor(abs(c) * 1e6) / 1e6) + 0.0

    /** Exact 6-dp decimal reduction for order-independent sums. */
    def dec(c: Column): Column = c.cast("decimal(18,6)")

    /** 19-digit integer factor of an exact product: two of them land
      * at the 38-digit decimal width, where a 38×38 product would
      * overflow the TYPE (not the value) in both engines.
      */
    def b19(c: Column): Column = c.cast("decimal(19,0)")

    /** 13-digit integer factor for a CUBE (tie corrections t³ − t):
      * 19³ would blow past the decimal space at the type level; a tie
      * group ≤ 10^13 rows is the bound.
      */
    def b13(c: Column): Column = c.cast("decimal(13,0)")
  }

  /** The one place an intermediate frame is pinned: a seam that cuts
    * the lineage, so later jobs read the stored rows instead of
    * recomputing the plan below it. Call sites chain it as
    * `.transform(materialize(_))`.
    *
    * The policy follows Spark's own deployment setting, with no knob
    * of its own. Without a checkpoint directory the seam is
    * `localCheckpoint(eager)`: blocks in executor storage, lost with
    * their executor, after which a reader fails with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. With one (`spark.checkpoint.dir`
    * or `SparkContext.setCheckpointDir`) the seam is a reliable
    * `checkpoint` written to that directory, which survives executor
    * loss. The reliable seam is always eager: Spark writes a lazily
    * marked checkpoint in a second job after the first action, and
    * that job recomputes the unpersisted plan. Reliable files outlive
    * the session unless `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is set.
    *
    * `eager = false` leaves a local seam to be filled by the next job
    * that reads it, saving one job when that read follows at once.
    */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager)

  /** [[materialize]] for several INDEPENDENT frames, submitted
    * CONCURRENTLY (guide §2.6 overlap-independent-jobs): Spark's
    * scheduler runs multiple jobs at once — actions are only
    * sequential because driver code calls them sequentially. Audit
    * queries build several seams that share an input but not each
    * other; submitted one by one, each short job's straggler tail
    * leaves the cluster idle. Results come back in argument order;
    * exceptions propagate (the seams' jobs are independent, so a
    * failure cannot corrupt a sibling).
    */
  def materializeAll(dfs: DataFrame*): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence(dfs.toSeq.map(df => Future(materialize(df)))),
      Duration.Inf)
  }

  /** Ensure a CPU-bound kernel stage has at least the cluster's
    * parallelism. Small inputs (a single parquet split, a compact doc
    * table) otherwise serialize expensive per-row work — tokenization,
    * shingling, hashing — onto one task. At real scale inputs arrive
    * in many splits and this is a no-op; the repartition only fires
    * when the source under-splits, and shuffles just the projected
    * kernel input (id + text), not the full table.
    *
    * The decision estimates the scan's SPLIT count from the leaf file
    * listing: ceil(fileBytes / maxPartitionBytes) per file (splittable
    * formats), summed. A bare file COUNT would mis-fire on one large
    * parquet file — Spark already plans ~80 splits for a 10 GB file,
    * and a count-based guard would shuffle it pointlessly (and cap
    * parallelism below the native splits). No `df.rdd.getNumPartitions`
    * either: that would force a full non-AQE physical plan of the
    * fragment just to count splits, planning every kernel input twice.
    * Fragments with no file source (LocalRelation fixtures) count as 0
    * splits and get spread — exactly the under-split case the guard
    * exists for.
    */
  def scaleOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // early exit: stop statting files the moment the estimate clears
    // the target — on a 100k-file table this is a handful of driver
    // RPCs, not 100k serial getFileStatus calls
    val estSplits =
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        val it = df.inputFiles.iterator
        var est = 0L
        while (est < target && it.hasNext) {
          val p = new org.apache.hadoop.fs.Path(it.next())
          val len = p.getFileSystem(conf).getFileStatus(p).getLen
          est += math.max(1L, (len + maxPartitionBytes - 1) / maxPartitionBytes)
        }
        est
      } catch { case _: Exception => 0L }
    if (estSplits >= target) df else df.repartition(target)
  }
}
