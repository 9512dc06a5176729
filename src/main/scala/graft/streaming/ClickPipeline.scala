package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.WallClock.wall_clock
import graft.functions.WireJson.wire_json

/** The reference's streaming dataflow (SURVEY.md §2.A; StreamJob.java:193-332)
  * as one Structured Streaming pipeline:
  *
  *   source (Kafka | JSON file-stream) → PERMISSIVE parse (native
  *   strict-subset decoder, `from_json` for the rest) + sentinel filter
  *   → event-time + 10 s watermark → 1-minute tumbling window aggregation
  *   → parquet-append sinks stamping ingest time, with checkpointing.
  *
  * Exact-distinct-at-scale design: Spark's streaming aggregation forbids
  * `count_distinct`, and the reference's per-window `HashSet`
  * (StreamJob.java:102-109) is an unbounded per-key memory bet. Instead
  * the streamed aggregate keeps the USER grain — one state row per
  * (window, page, country, user_id) with a count — which the watermark
  * evicts like any windowed state; the finalizing rollup
  * ([[minuteAggFromUserGrain]]) then gets `unique_users` as a plain
  * `count(*)` and `cnt` as `sum`, both exact. At 100 TB the user-grain
  * shuffle is the honest cost of exactness; `approx_count_distinct` on
  * the direct grain is the sketch-based alternative when ±2% is fine.
  *
  * The sandbox has no Kafka broker; [[fromKafka]] is the production source
  * (StreamJob.java:205-211 semantics — latest offsets, value-only), and
  * [[fromJsonDir]] is the hermetic file-stream flavor used by tests and
  * the driver entries. Both feed the identical downstream pipeline.
  */
object ClickPipeline {

  /** Wire schema of one click event (produce.py:127-135, README.md:83-93);
    * `ts` is epoch MILLISECONDS (produce.py:130). */
  val clickSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("user_id", StringType),
    StructField("ts", LongType),
    StructField("page", StringType),
    StructField("referrer", StringType),
    StructField("country", StringType),
    StructField("device", StringType)))

  /** A3: PERMISSIVE JSON deserialize only (malformed → null fields, the
    * from_json analogue of the reference's sentinel record,
    * StreamJob.java:228-249). Kept separate from [[parseErrorFilter]]
    * so observability hooks (m02) can count errors between the two.
    *
    * Two tiers, one answer: the native decoder
    * ([[graft.functions.WireJson]]) reads every line in its strict JSON
    * subset — every line [[graft.gen.EventGenerator]] writes — straight
    * from the line's bytes, and answers null for any
    * other line, which then goes to `from_json`. The decoder's subset is
    * where the two provably agree, so the result is `from_json`'s row
    * for row (a null line stays null); Jackson runs only on lines
    * outside it. */
  def deserialize(raw: DataFrame): DataFrame =
    raw.select(coalesce(wire_json(col("value"), clickSchema),
        from_json(col("value"), clickSchema)).as("c"))
      .select(col("c.*"))

  /** A4: drop undeserializable + sentinel rows; epoch-ms → TimestampType. */
  def parseErrorFilter(des: DataFrame): DataFrame =
    des.filter(col("event_id").isNotNull && col("event_id") =!= "parse-error")
      .withColumn("ts", timestamp_millis(col("ts")))

  /** A3 + A4 composed — the standard ingest head. */
  def parse(raw: DataFrame): DataFrame = parseErrorFilter(deserialize(raw))

  /** A1, file-stream flavor: JSON lines under `dir`. All files present at
    * start are consumed in the first micro-batch (no maxFilesPerTrigger),
    * so a bounded replay is never late-dropped against the initial
    * watermark. */
  def fromJsonDir(spark: SparkSession, dir: String): DataFrame =
    parse(spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(dir))

  /** The production wire projection: the Kafka connector's source schema
    * (key/value binary, topic, partition, offset, timestamp,
    * timestampType) → the one-column string relation [[parse]] consumes.
    * Factored out of [[fromKafka]] so the EXACT projection the broker
    * path runs is exercisable without a broker — KafkaProjectionSpec
    * drives it with a mock DataFrame carrying the connector's schema. */
  def kafkaProjection(kafka: DataFrame): DataFrame =
    kafka.select(col("value").cast("string").as("value"))

  /** A1, production flavor: Kafka topic, latest offsets, value-only string
    * deserialization (StreamJob.java:205-211). Compiles against the Spark
    * Kafka connector; not runnable in the sandbox (no broker) — the
    * projection + parse stages are covered broker-less (see
    * [[kafkaProjection]]). */
  def fromKafka(spark: SparkSession, brokers: String,
                topic: String = "click_events"): DataFrame =
    parse(kafkaProjection(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()))

  /** A2: event-time with 10 s bounded out-of-orderness
    * (StreamJob.java:214-225). Records later than watermark are dropped —
    * same drop-after-watermark semantics as Flink without allowedLateness. */
  def withEventTime(clicks: DataFrame): DataFrame =
    clicks.withWatermark("ts", "10 seconds")

  /** A5–A7 (streamed part), generalized over window duration and key
    * columns: epoch-aligned tumbling window `[start, end)` held at USER
    * grain so the final distinct counts stay exact (see object doc).
    * Instantiated at 1-min/(page,country) for the page_minute_agg path,
    * 5-min/(page,country) and 1-h/(page,country,device) for the rollup
    * tables the reference declares writer-less (clickhouse_tables.sql:
    * 40-72). */
  def windowedUserGrain(clicks: DataFrame, duration: String,
                        keys: Seq[String]): DataFrame =
    clicks
      .groupBy(window(col("ts"), duration).as("w") +:
               (keys :+ "user_id").map(col): _*)
      .agg(count("*").as("cnt"))
      .select(col("w.start").as("window_start") +: col("w.end").as("window_end") +:
              (keys :+ "user_id" :+ "cnt").map(col): _*)

  /** The canonical 1-minute instantiation (page_minute_agg). */
  def minuteUserGrain(clicks: DataFrame): DataFrame =
    windowedUserGrain(clicks, "1 minute", Seq("page", "country"))

  /** Finalizing rollup of the streamed user-grain output to the
    * page_minute_agg shape (clickhouse_tables.sql:23-37): exact `cnt` and
    * exact `unique_users`, one aggregation path (the documented fix of
    * the reference's SummingMergeTree double-count, SURVEY.md §2.B). */
  def minuteAggFromUserGrain(userGrain: DataFrame): DataFrame =
    userGrain
      .groupBy(col("window_start"), col("window_end"), col("page"), col("country"))
      .agg(sum(col("cnt")).as("cnt"), count("*").as("unique_users"))

  /** A12/A13 + B8 + A14: parquet-append sink stamping ingest-time
    * `created_at` (clickhouse_tables.sql:14) as each row is written —
    * per row in the write task, not `current_timestamp()`, which the
    * trigger fixes at its start and so would leave the batch's own
    * execution out of `created_at − ts` — checkpointed, running until
    * all currently-available input is processed (Trigger.AvailableNow —
    * the bounded-replay analogue of the reference's continuous run).
    * Append output mode ⇒ each window is emitted exactly once, when the
    * watermark passes its end.
    *
    * Exactly-once output: each micro-batch OVERWRITES its own
    * `batch=<id>` subdirectory, so a batch replayed after a mid-write
    * failure replaces its partial output instead of appending a
    * duplicate — the standard idempotent-foreachBatch pattern. Readers
    * see `batch` as a partition column and ignore it. */
  private def appendParquetWriter(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("created_at", wall_clock())
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  def runAppendParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = appendParquetWriter(df, outDir, checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The reference's always-on posture (StreamJob.java:332 runs forever,
    * checkpointing every 30 s): same sink/stamping/checkpoint as
    * [[runAppendParquet]] but `Trigger.ProcessingTime` — micro-batches
    * fire every `interval` for as long as the query runs. Returns the
    * live query; the caller owns its lifecycle (stop via
    * [[stopWhenIdle]], or hard `query.stop()` — the per-batch overwrite
    * sink makes even an unclean stop replay-safe). */
  def startContinuous(df: DataFrame, outDir: String, checkpointDir: String,
                      interval: String = "5 seconds")
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendParquetWriter(df, outDir, checkpointDir)
      .trigger(Trigger.ProcessingTime(interval))
      .start()

  /** Clean stop hook for [[startContinuous]]: wait until the query is
    * idle (no batch in flight, no unconsumed input), then stop — so no
    * started work is thrown away and the checkpoint ends on a batch
    * boundary. Times out into a hard stop (which is still replay-safe,
    * see [[startContinuous]]). */
  def stopWhenIdle(query: org.apache.spark.sql.streaming.StreamingQuery,
                   timeoutMs: Long = 60000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while ((query.status.isDataAvailable || query.status.isTriggerActive) &&
           System.nanoTime() < deadline) {
      Thread.sleep(50)
    }
    query.stop()
    query.awaitTermination(timeoutMs)
  }

  /** A12/A13, JDBC flavor (StreamJob.java:283-329 parity): batched
    * appends (`batchsize` — agg 100 / raw 1000 in the reference) with
    * bounded retries (3 in the reference). Retrying inside foreachBatch
    * is at-least-once into the table, same as the reference's JDBC sink;
    * dedup key for exactly-once consumers is event_id. Executed
    * end-to-end against embedded Derby in JdbcSinkSpec (multi-batch
    * appends, table auto-creation, replay, bounded-retry chain); the
    * hermetic registry entries use [[runAppendParquet]]. */
  def jdbcBatchWriter(url: String, table: String, props: java.util.Properties,
                      batchSize: Int = 1000, maxRetries: Int = 3)
                     : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    // stamped per row as the JDBC write task sends it (see
    // appendParquetWriter); a retry re-stamps
    val stamped = batch.withColumn("created_at", wall_clock())
    var attempt = 0
    var done = false
    var lastFailure: Exception = null
    while (!done) {
      try {
        stamped.write.mode("append")
          .option("batchsize", batchSize.toString)
          .jdbc(url, table, props)
        done = true
      } catch {
        // an interrupt is a shutdown signal, never a retryable failure
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case e: Exception if attempt < maxRetries =>
          attempt += 1
          if (lastFailure != null) e.addSuppressed(lastFailure)
          lastFailure = e
          try Thread.sleep(1000L * attempt)
          catch {
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              ie.addSuppressed(e)
              throw ie
          }
        // exhausted: propagate the final failure carrying every prior
        // attempt's exception as suppressed, so the error explains itself
        case e: Exception =>
          if (lastFailure != null) e.addSuppressed(lastFailure)
          throw e
      }
    }
  }
}
