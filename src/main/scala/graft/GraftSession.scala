package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory — every entry point (Verify, Bench,
  * tests, user code) gets the same scale-oriented defaults.
  *
  * Settings rationale (local[32] test box standing in for a 1000-executor
  * cluster — partitioning choices must survive the scale-up):
  *  - shuffle.partitions sized to cores locally; on a real cluster AQE
  *    coalesces post-shuffle partitions so the static number matters less.
  *  - AQE on: runtime re-planning (skew-join splitting, partition
  *    coalescing, broadcast-join demotion) is the single highest-leverage
  *    setting at 100 TB.
  *  - nanosAsLong: the events fixture stores ns-precision timestamps,
  *    which the vectorized parquet reader otherwise rejects.
  *  - `file:` binds `NioLocalFileSystem` (`fs.file.impl`, the FileSystem
  *    API) and `NioLocalFs` (`fs.AbstractFileSystem.file.impl`, the
  *    FileContext API that streaming checkpoints write through). Without
  *    Hadoop's native library the stock local filesystem forks `chmod` for
  *    every file it creates and `readlink` for every link status a rename
  *    asks for. Mean of 200 calls on a 4-core host, stock → bound:
  *    `CheckpointFileManager.createAtomic` 20.4–21.6 → 0.3–0.7 ms,
  *    `FileSystem.create` 3.8–4.0 → 0.07–0.09 ms, `mkdirs` 1.8–2.1 →
  *    0.02 ms; every micro-batch makes at least three checkpoint writes
  *    (offset log, commit log, state store). Only the `file:` scheme changes, and
  *    nothing on disk: `.crc` files and rename-based atomic writes stay.
  */
object GraftSession {
  private val FileBindings = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder = {
    requireNioFileSystem()
    FileBindings.foldLeft(b) { case (acc, (k, v)) => acc.config(s"spark.hadoop.$k", v) }
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed scans report their sortBy ordering (only ever applied
      // when a bucket is a single file — the writeBucketedBy invariant),
      // so stream-static joins against the s36-style store tables skip
      // the per-micro-batch re-sort of the corpus-sized side
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
  }

  /** Hadoop caches the `file:` filesystem per JVM and user, not per
    * configuration, so a stock `LocalFileSystem` created before the first
    * session would silently win over the binding and bring the forks
    * back: fail loudly when the cache holds another class. Looking the
    * class up creates the entry when there is none; that probe instance,
    * initialized from a bare configuration, is closed again (which drops
    * it from the cache), so the first lookup under Spark's own Hadoop
    * configuration, `spark.hadoop.*` included, initializes the one the
    * session uses. */
  private def requireNioFileSystem(): Unit = {
    val conf = new Configuration()
    FileBindings.foreach { case (k, v) => conf.set(k, v) }
    val fs = FileSystem.get(URI.create("file:///"), conf)
    if (!fs.isInstanceOf[NioLocalFileSystem]) throw new IllegalStateException(
      s"the JVM's cached file: filesystem is ${fs.getClass.getName}, created before the " +
        s"first graft session; build the session before any other Hadoop file access")
    if (fs.getConf eq conf) fs.close()
  }

  /** Every main's session: `local[cores]` through [[configure]]. `cores`
    * defaults to `SPARK_GRAFT_CPUS` when set, else the host's processors. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
              .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
