package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The bounded-replay harness: the ONE owner of the lifecycle every
  * streamed registry entry runs — stage the input under `in/`, stream
  * it with an AvailableNow trigger checkpointed at `ck/`, sink each
  * micro-batch into `out/batch=<id>` (overwrite, so a replayed batch
  * replaces its partial output), wait for the query to finish, read the
  * sink back. An entry keeps only its per-batch logic, its progress
  * hooks and its read-back projection (the Structured Streaming paper's
  * point that source, trigger, checkpoint and sink form one declared
  * query lifecycle, applied to our bounded replays).
  *
  * Two families:
  *  - foreachBatch ([[foreachBatch]], [[mapBatches]]): the staged
  *    relation replays ONE FILE PER TRIGGER, so a multi-file input is a
  *    genuine multi-batch run (restart specs crash inside batch 1 of 3);
  *  - append ([[append]]): [[ClickPipeline.runAppendParquet]] — the
  *    `created_at`-stamping append sink — with NO file cap, because the
  *    watermark-flush protocol (see [[StreamingQueries]]) needs all
  *    input in the first micro-batch, while the watermark is still at
  *    epoch.
  *
  * A work dir passed in (`workDir` on the `*Stream` cores) resumes from
  * its checkpoint: staging is idempotent and every sink write is a
  * per-batch overwrite. */
private[graft] final class Replay(val dir: String) {
  val in = s"$dir/in"; val out = s"$dir/out"; val ck = s"$dir/ck"

  /** Catalog-table prefix derived from the unique work dir, so two
    * invocations in one shared session never collide. */
  def tag: String = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")

  // the staged relation's (schema, format) — the stream reads it back
  // with exactly the schema it was written with, never a hand-kept copy
  @volatile private var staged: (StructType, String) = _
  // the schema of the micro-batches the sink receives (empty read-back)
  @volatile private var batchSchema: StructType = _

  /** Write `input` to `in/` unless committed input is already there (a
    * resume). Overwrite, not ErrorIfExists: no committed data with the
    * dir present means a crash mid-write left only `_temporary`. */
  def stage(input: Dataset[_], format: String = "parquet"): Unit = {
    staged = (input.schema, format)
    if (!Replay.committed(in)) input.write.mode("overwrite").format(format).save(in)
  }

  /** Stage `slices` IN ORDER: one parquet file per slice, with
    * modification times ascending from a fixed epoch base.
    * FileStreamSource replays files in mtime order, so the replay order
    * is a property of the writer — not of the filesystem's mtime
    * granularity, nor of write completion order (the slices are written
    * concurrently), and reruns stay byte-stable. The files are gathered
    * in a side dir and published with one rename, so a crash mid-staging
    * leaves no committed input behind and the resume stages afresh. */
  def stageOrdered(slices: Seq[DataFrame]): Unit = {
    staged = (slices.head.schema, "parquet")
    if (!Replay.committed(in)) {
      val fs = new Path(in)
        .getFileSystem(slices.head.sparkSession.sessionState.newHadoopConf())
      val gather = new Path(s"$dir/in_ordered")
      fs.delete(gather, true)
      fs.mkdirs(gather)
      StreamingQueries.inParallel(slices.zipWithIndex.map { case (slice, i) => () =>
        val tmp = new Path(s"$dir/in_slice$i")
        slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        require(part.length == 1, s"$dir: slice $i wrote ${part.length} files")
        val dst = new Path(gather, s"stage-$i.parquet")
        require(fs.rename(part.head, dst), s"$dir: rename to $dst failed")
        fs.setTimes(dst, Replay.OrderedEpochMs + i * 60000L, -1)
        fs.delete(tmp, true)
        ()
      }: _*)
      fs.delete(new Path(in), true)
      require(fs.rename(gather, new Path(in)), s"$dir: cannot publish $in")
    }
  }

  private def source(s: SparkSession, oneFilePerTrigger: Boolean): DataFrame = {
    require(staged != null, s"$dir: stage the input before streaming it")
    val (schema, format) = staged
    val r = s.readStream.schema(schema).format(format)
    (if (oneFilePerTrigger) r.option("maxFilesPerTrigger", "1") else r).load(in)
  }

  /** foreachBatch family: stream the staged relation through `query`
    * (the streaming-plan part — state, watermarks, stream-static joins)
    * and hand every micro-batch to `sink`. `update` selects the update
    * output mode (stateful aggregations without a watermark). */
  def foreachBatch(s: SparkSession, query: DataFrame => DataFrame = identity,
                   update: Boolean = false)
                  (sink: (DataFrame, Long) => Unit): Unit = {
    val q = query(source(s, oneFilePerTrigger = true))
    batchSchema = q.schema
    Replay.pinned(s, q) {
      q.writeStream.outputMode(if (update) "update" else "append")
        .option("checkpointLocation", ck)
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }

  /** foreachBatch family whose per-batch output is a pure function `f`
    * of the batch: `onBatch(id)` fires at the head of every batch, then
    * `f(batch)` lands in `out/batch=<id>`. Returns the read-back — typed
    * by `f` itself when no batch wrote anything. */
  def mapBatches(s: SparkSession, query: DataFrame => DataFrame = identity,
                 update: Boolean = false, onBatch: Long => Unit = _ => ())
                (f: DataFrame => DataFrame): DataFrame = {
    foreachBatch(s, query, update) { (b, id) => onBatch(id); emit(f(b), id) }
    readBack(s)(f)
  }

  /** The idempotent sink: batch `id`'s output overwrites `to/batch=<id>`. */
  def emit(d: DataFrame, id: Long, to: String = out): Unit =
    d.write.mode("overwrite").parquet(s"$to/batch=$id")

  /** Read every batch written under `from` (a `batch` partition column
    * included). A stream over empty input may write nothing, and
    * schema inference would then fail: the result is instead
    * `ifEmpty` applied to an empty micro-batch, truncated to zero rows —
    * so its schema is the per-batch output schema by construction. */
  def readBack(s: SparkSession, from: String = out)
              (ifEmpty: DataFrame => DataFrame): DataFrame =
    if (Replay.committed(from)) s.read.parquet(from)
    else ifEmpty(s.createDataFrame(java.util.List.of[Row](), batchSchema))
      .withColumn("batch", lit(0)).limit(0)

  /** Append family: stream the staged relation, whole, through `query`
    * into [[ClickPipeline.runAppendParquet]]'s sink at `out/`. Callable
    * again on the same checkpoint (s01's stop/restart). */
  def append(s: SparkSession)(query: DataFrame => DataFrame): Unit = {
    val q = query(source(s, oneFilePerTrigger = false))
    Replay.pinned(s, q)(ClickPipeline.runAppendParquet(q, out, ck))
  }

  /** The append family's read-back. */
  def output(s: SparkSession): DataFrame = s.read.parquet(out)
}

private[graft] object Replay {

  /** A replay under `workDir` (resume) or a fresh temp dir. */
  def apply(prefix: String, workDir: Option[String] = None): Replay =
    new Replay(workDir.getOrElse(graft.WorkDirs.tempDir(prefix)))

  /** Base of [[Replay.stageOrdered]]'s mtimes: only the order matters. */
  private val OrderedEpochMs = 1000000000000L

  /** True iff `dir` holds at least one COMMITTED data file. Every path
    * component under `dir` must be non-hidden: a crash during a write
    * leaves part-files inside Spark's `_temporary` staging tree, and
    * counting those would make a resume skip the rewrite while the file
    * stream (which ignores hidden dirs) sees zero committed input — a
    * silently empty "recovery". */
  private[graft] def committed(dir: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    Files.exists(root) && {
      val st = Files.walk(root)
      try st.iterator().asScala.exists { p =>
        Files.isRegularFile(p) &&
          root.relativize(p).iterator().asScala.forall { c =>
            val n = c.toString; !n.startsWith(".") && !n.startsWith("_")
          }
      } finally st.close()
    }
  }

  /** Does `q` keep streaming state (aggregation, deduplication,
    * arbitrary keyed state, or a stream-stream join)? */
  private def stateful(q: DataFrame): Boolean =
    q.queryExecution.analyzed.find {
      case j: Join => j.left.isStreaming && j.right.isStreaming
      case p @ (_: Aggregate | _: Deduplicate | _: DeduplicateWithinWatermark |
                _: FlatMapGroupsWithState | _: TransformWithState) => p.isStreaming
      case _ => false
    }.isDefined

  /** Run a stateful replay with 8 state partitions.
    *
    * `spark.sql.shuffle.partitions` is read at query start and pinned in
    * the checkpoint; every state partition then pays a per-micro-batch
    * store commit (delta file + fsync), so state-partition count is a
    * THROUGHPUT knob, not a cores knob — 32 partitions for a replay whose
    * whole state fits in a handful of MB is pure commit overhead
    * (measured 13.2 s → 3.7 s on the stream-stream join). Production
    * sizing scales it with state volume. A stateless replay keeps the
    * session's parallelism: its per-batch plans shuffle like batch plans
    * (and must match relations pre-partitioned at that count). */
  private def pinned[A](s: SparkSession, q: DataFrame)(run: => A): A =
    if (!stateful(q)) run
    else {
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, "8")
      try run finally s.conf.set(key, prev)
    }
}
