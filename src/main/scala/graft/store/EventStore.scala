package graft.store

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingQueries

/** The storage layer (SURVEY.md §2.B B1–B5 / §4 O1–O3): partitioned,
  * sorted, bloom-indexed parquet standing in for the reference's MergeTree
  * layout (clickhouse_tables.sql:16-19,105-108).
  *
  *  - B2/O1: Hive-style time partitions (`PARTITION BY toYYYYMM(ts)`,
  *    sql:17) → `partitionBy(<grain>)`; Catalyst prunes partitions from
  *    any predicate on the partition column — asserted in StoreSpec.
  *    The grain is parameterized: `month` matches the reference's
  *    multi-year retention design; `day` is for short-spanning data
  *    (the 30-day fixture would otherwise land in ONE partition and
  *    pruning would be untestable).
  *  - O2: a ts-sorted write mirrors the MergeTree primary ORDER BY
  *    (ts, …) (sql:18): parquet row-group min/max stats on ts become
  *    selective, so time-range scans skip row groups.
  *  - B5/O3: parquet bloom filters on `user_id` and `page` mirror the two
  *    bloom_filter skip indexes (sql:105-108) for point lookups.
  *  - B3: TTL retention (sql:19,36,53,71) as partition drops — the
  *    scalable equivalent of row TTL: a partition is removed only when
  *    its entire grain is past the cutoff, so no surviving row is lost.
  */
object EventStore {

  val MonthGrain = "month"
  val DayGrain = "day"

  private def grainCol(grain: String) = grain match {
    case MonthGrain => date_format(col("ts"), "yyyyMM")
    case DayGrain   => date_format(col("ts"), "yyyyMMdd")
    case g => throw new IllegalArgumentException(s"unknown grain: $g")
  }

  /** Write the clicks relation as a partitioned warehouse table.
    *
    * Shuffle shape: `repartitionByRange(numWriteTasks, grain, ts)` — a
    * sampled range partition over the (grain, ts) timeline. Each write
    * task owns a bounded, contiguous time slice, so a hot grain value
    * (one calendar month at the production grain holds ~1/12 of the
    * table) is split across MANY tasks proportionally to its data volume
    * — never the one-task-per-partition fan-in of `repartition(grain)`,
    * which cannot survive a 100 TB month. Files per partition directory
    * scale with that partition's share of the data; files are few and
    * large, with NON-OVERLAPPING ts ranges (each task's slice is
    * contiguous), which is strictly better for row-group skipping than k
    * salted files each spanning the full range.
    *
    * The in-task `sortWithinPartitions(grain, ts)` keeps each emitted
    * file ts-sorted (and satisfies the writer's partition-column
    * clustering requirement without an extra sort). */
  def write(clicks: DataFrame, warehouseDir: String,
            grain: String = MonthGrain, mode: String = "overwrite",
            numWriteTasks: Option[Int] = None): Unit = {
    val n = numWriteTasks.getOrElse(
      clicks.sparkSession.sessionState.conf.numShufflePartitions)
    clicks
      .withColumn(grain, grainCol(grain))
      .repartitionByRange(n, col(grain), col("ts"))
      .sortWithinPartitions(col(grain), col("ts"))
      .write.mode(mode)
      .partitionBy(grain)
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .option("parquet.bloom.filter.enabled#page", "true")
      .parquet(warehouseDir)
  }

  /** Scan the warehouse. Partition pruning and filter pushdown are
    * Catalyst's — callers just filter on the partition column / ts. */
  def read(spark: SparkSession, warehouseDir: String): DataFrame =
    spark.read.parquet(warehouseDir)

  /** Morton (z-order) code: bit-interleave of two 16-bit bucket ranks.
    * Pure integer shift/mask arithmetic — stays in whole-stage codegen. */
  private[store] def morton16(a: Column, b: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** O5: z-order clustered write — two-dimensional data skipping.
    *
    * A ts-sorted write (O2) gives narrow per-file ts envelopes, but a
    * point lookup on a second column (the reference's `user_id` bloom
    * index use case, clickhouse_tables.sql:105-108) still touches every
    * file because each file spans all users. Clustering by the Morton
    * interleave of (ts rank, hash(user_id)) bounds every file in BOTH
    * dimensions at the usual z-order cost — each dimension's skipping
    * degrades from ~1 file to ~√files:
    *
    *  - ts is bucketed to a 16-bit MIN-MAX RANK (two scalar aggregates,
    *    broadcast — no global sort window, which would serialize at
    *    scale); event time is near-uniform so min-max ranks are honest.
    *  - user_id is bucketed by HASH: skew-proof with no boundary
    *    estimation, and exactly right for equality lookups — a user's
    *    rows collapse into few z-contiguous files, so the per-file
    *    parquet bloom filters and dictionary stats reject the rest.
    *    (Hash bucketing deliberately gives up RANGE predicates on
    *    user_id — ids are opaque; ranges over them are meaningless.)
    *
    * The write itself is the same shape as [[write]]: range-partition
    * by z (each task owns a contiguous z-slice, so file z-ranges never
    * overlap), sort within tasks, emit with bloom filters. Readers need
    * nothing special — parquet row-group stats + blooms do the skipping
    * under ordinary pushed filters. */
  def zorderWrite(clicks: DataFrame, warehouseDir: String,
                  mode: String = "overwrite",
                  numWriteTasks: Option[Int] = None): Unit = {
    val n = numWriteTasks.getOrElse(
      clicks.sparkSession.sessionState.conf.numShufflePartitions)
    val bounds = clicks
      .agg(unix_millis(min(col("ts"))).as("lo"), unix_millis(max(col("ts"))).as("hi"))
      .head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(hi - lo, 1L)
    val tBucket = (unix_millis(col("ts")) - lit(lo)) * 65535L / lit(span)
    val uBucket = pmod(xxhash64(col("user_id")), lit(65536L))
    clicks
      .withColumn("__z", morton16(tBucket, uBucket))
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode)
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .option("parquet.bloom.filter.enabled#page", "true")
      .parquet(warehouseDir)
  }

  /** O6: idempotent incremental ingest — exactly-once backfill over an
    * at-least-once extract. Appends only the rows of `batch` whose
    * `event_id` the warehouse does not already hold, so re-running an
    * overlapping/replayed extract is a no-op and ingest converges to
    * exactly-once content without a transactional table format.
    *
    * The existing-id scan is PARTITION-PRUNED: the batch's distinct
    * grain values (a handful of calendar strings — collected, they are
    * the pruning predicate, not data) select only the overlapping
    * partition directories, and only the join key column is read
    * (column pruning). The anti-join therefore shuffles
    * |batch| + |overlapping slice| ids — never the warehouse. The
    * fresh slice is batch-bounded and is localCheckpointed once so the
    * returned count and the append run one anti-join, not two.
    *
    * Returns the number of rows appended. */
  def ingestIncrement(spark: SparkSession, warehouseDir: String,
                      batch: DataFrame, grain: String = MonthGrain): Long = {
    val withGrain = batch.withColumn(grain, grainCol(grain))
    val grains = withGrain.select(col(grain)).distinct()
      .collect().map(_.getString(0)).toSeq
    val existing = read(spark, warehouseDir)
      .filter(col(grain).isin(grains: _*))
      .select(col("event_id"))
    val fresh = withGrain.drop(grain)
      .join(existing, Seq("event_id"), "left_anti")
      .localCheckpoint()
    val n = fresh.count()
    if (n > 0) write(fresh, warehouseDir, grain, mode = "append")
    n
  }

  /** O4: partition compaction — the analogue of MergeTree's background
    * part merges. Streaming appends leave each partition with one file
    * per micro-batch-task; scans then pay per-file open/footer cost and
    * lose row-group locality. Compaction rewrites every partition whose
    * file count exceeds what `targetFileBytes` warrants into few, large,
    * ts-sorted files (ceil(bytes / target)), preserving the bloom
    * filters and the non-overlapping ts ranges of the write path.
    *
    * Pattern is write-new-parts-then-swap, per partition: materialize
    * the compacted files into a dot-hidden temp dir under the root
    * (invisible to concurrent readers), then delete the old directory
    * and rename the temp into place — the same two-phase shape a real
    * warehouse compactor uses, and the Hadoop FS API keeps it portable
    * (local/HDFS/S3A). Each partition is an independent unit of work,
    * and they RUN as separate concurrent Spark jobs (the lanes of
    * [[graft.streaming.StreamingQueries.inParallel]], up to 8 driver
    * threads submitting to the shared scheduler): a compactor
    * that rewrites thousands of small partitions one job at a time pays
    * fixed scheduling latency per partition serially — measured 9.7 s →
    * ~1.5 s over 29 day-partitions at sf0.1 — while the per-partition
    * task counts still bound each job's memory.
    *
    * Returns (partition value, files before, files after) for the
    * partitions that were rewritten. */
  def compact(spark: SparkSession, warehouseDir: String, grain: String,
              targetFileBytes: Long = 128L << 20): Seq[(String, Int, Int)] = {
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"compaction root does not exist: $warehouseDir")

    def dataFiles(p: Path) = fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))

    // Recover-or-clear orphaned temp dirs from a previously crashed run.
    // The swap order is write-tmp → delete-partition → rename-tmp, so a
    // leftover tmp means one of two states, distinguished by whether the
    // partition dir still exists:
    //  - partition dir MISSING: the crash hit between delete and rename —
    //    the tmp (fully written before the swap began) is the ONLY copy
    //    of that partition. Finish the swap: rename it into place.
    //  - partition dir present: the crash hit during the tmp write — the
    //    tmp is incomplete and the original data is intact. Delete it.
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".compact_tmp_"))
      .foreach { st =>
        val value = st.getPath.getName.substring(".compact_tmp_".length)
        val part = new Path(root, s"$grain=$value")
        if (!fs.exists(part)) fs.rename(st.getPath, part)
        else fs.delete(st.getPath, true)
      }

    val work = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$grain="))
      .flatMap { st =>
        val value = st.getPath.getName.substring(grain.length + 1)
        val files = dataFiles(st.getPath)
        val target = math.max(1L,
          math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toLong).toInt
        if (files.length <= target) None else Some((st.getPath, value, files.length, target))
      }
    if (work.isEmpty) return Seq.empty

    // settle EVERY rewrite before returning or throwing: a fail-fast
    // await would leave rewrites mutating partition dirs in the
    // background after compact() has already raised, racing any retry
    StreamingQueries.inParallel(work.map { case (dir, value, before, target) => () =>
      val tmp = new Path(root, s".compact_tmp_$value")
      spark.read.parquet(dir.toString)
        .repartitionByRange(target, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.enabled#page", "true")
        .parquet(tmp.toString)             // materialized BEFORE the swap
      fs.delete(dir, true)
      fs.rename(tmp, dir)
      (value, before, dataFiles(dir).length)
    }: _*)
  }

  /** B3: drop whole partitions whose entire grain is older than
    * `retainDays` before `asOf`. Conservative by construction: a
    * partition that straddles the cutoff is kept. Returns dropped
    * partition values.
    *
    * Filesystem access goes through the Hadoop `FileSystem` resolved
    * from the warehouse path + session Hadoop conf, so the same code
    * retains on local disk, HDFS and S3A. A missing/unlistable root is
    * an error, not an empty result — a silently no-op retention run on
    * a mistyped path must be loud. */
  def expire(spark: SparkSession, warehouseDir: String, grain: String,
             asOf: Timestamp, retainDays: Int): Seq[String] = {
    val fmt = new java.text.SimpleDateFormat(
      if (grain == MonthGrain) "yyyyMM" else "yyyyMMdd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val cutoff = fmt.format(new java.util.Date(
      asOf.getTime - retainDays * 86400000L))

    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root))
      throw new IllegalArgumentException(
        s"retention root does not exist: $warehouseDir")

    val expired = fs.listStatus(root)
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(s"$grain="))
      .filter { st =>
        val value = st.getPath.getName.substring(grain.length + 1)
        // month=202312 is entirely expired iff its grain value sorts
        // strictly below the cutoff's grain value (same fixed-width fmt)
        value < cutoff
      }
    expired.foreach(st => fs.delete(st.getPath, true))
    expired.map(_.getPath.getName.substring(grain.length + 1)).toSeq
  }
}
