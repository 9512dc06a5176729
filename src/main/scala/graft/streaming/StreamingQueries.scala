package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.queries.ReferenceQueries

/** Driver-checkable entries that run the REAL streaming pipeline end-to-end
  * (source → watermark → windowed state → checkpointed sink) over the
  * events fixture, then read the sink back as a batch DataFrame so the
  * result can be hash-compared against the SAME DuckDB oracle as the
  * batch twin:
  *
  *  - s01: full A1→A7+A12+A14 pipeline ≡ q14 (oracle: q14Sql)
  *  - s02: A8–A9 keyed Welford anomaly state ≡ q17 (oracle: q17Sql)
  *  - s03: A13 raw-event sink with ingest-time stamping; row-level parity
  *
  * Every entry runs its stream through [[Replay]], the one owner of the
  * replay lifecycle (work dirs, idempotent staging, the stream schema,
  * trigger, state-partition pin, output mode, the per-batch overwrite
  * sink and the empty-input read-back); an entry here is its per-batch
  * logic, its progress hooks and its read-back projection.
  *
  * Watermark-flush protocol for bounded replays: a streaming window in
  * APPEND mode is emitted only once the watermark passes its end, and the
  * watermark only advances between micro-batches — so after one
  * AvailableNow pass over the fixture the final ~70 s of windows are
  * still sitting in state. The entries therefore run a SECOND AvailableNow
  * pass from the same checkpoint (a genuine A14 stop/restart) over one
  * appended `__flush__` sentinel event stamped far past max(ts): its only
  * effect is advancing the watermark so every real window flushes; the
  * sentinel's own window stays unemitted and is filtered on read-back.
  * Nothing is ever late-dropped because the entire fixture is consumed in
  * the first micro-batch, while the initial watermark is still at epoch.
  */
object StreamingQueries {

  /** Run independent store actions CONCURRENTLY (optimization-guide
    * §2.6 — overlap independent jobs): Spark's scheduler happily runs
    * jobs submitted from several driver threads at once, so N
    * batch-sized appends (or store-sized compactions) that would
    * otherwise serialize behind one another's task tails back-fill the
    * idle cores instead. Callers may only pass actions with NO
    * dependencies between them (disjoint store roots, or reads of
    * relations pinned before the call); commit ORDER between the
    * actions is deliberately unspecified — every DeltaStore commit is
    * individually idempotent and crash-recoverable, so any interleaving
    * a crash exposes is a state the per-store recovery already handles
    * (the same argument the restart specs rely on). After all actions
    * settle, the first failure (in argument order) is thrown with every
    * later one attached as suppressed — none is dropped; otherwise the
    * results come back in argument order.
    *
    * This is the program's one driver-side fan-out. Its pool is made per
    * call, so every lane thread is created by the caller's thread and
    * inherits its Spark job group (the gateway's timeout cancel relies on
    * that); a shared pool's threads keep the group of whichever thread
    * first created them. */
  private[graft] def inParallel[T](work: (() => T)*): Seq[T] =
    if (work.sizeIs <= 1) work.map(_.apply())
    else {
      // pool capped (VERDICT r20 #7): this is a driver-job overlap
      // helper, not a task executor — a handful of in-flight jobs is
      // enough to back-fill idle cores (guide §2.6 "2-3 jobs in flight
      // is plenty"), and an uncapped pool on a per-partition-sized seq
      // would spawn one thread per element. Excess actions queue.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(work.size, 8))
      try {
        val futs = work.map(w => pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = w()
        }))
        val settled = futs.map { f =>
          try Right(f.get())
          catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
        }
        val failures = settled.collect { case Left(e) => e }
        failures.headOption.foreach { first =>
          failures.tail.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        }
        settled.collect { case Right(r) => r }
      } finally pool.shutdown()
    }

  /** Release a `localCheckpoint` pin. `Dataset.unpersist` does not free
    * it: the blocks belong to the checkpointed RDD the pinned plan wraps,
    * so that RDD is unpersisted itself. */
  private[graft] def unpin(pinned: DataFrame): Unit =
    pinned.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(s"not a localCheckpoint: $p")
    }

  /** The `[a-z0-9]+` tokenizer of the text-serving entries (s20, s35,
    * the BM25 index and its serve, the serving-index deltas). */
  private def toksCol: org.apache.spark.sql.Column =
    regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))

  /** Fixture clicks in the producer's wire shape (string ids, epoch-ms ts,
    * produce.py:127-135), one JSON object per line. */
  private def wireJson(s: SparkSession, dir: String): DataFrame =
    Tables.clicks(s, dir).select(
      col("event_id").cast("string").as("event_id"),
      col("user_id").cast("string").as("user_id"),
      unix_millis(col("ts")).as("ts"),
      col("page"), col("referrer"), col("country"), col("device"))

  private def writeSentinel(inDir: String, tsMs: Long): Unit = {
    val json = s"""{"event_id":"flush","user_id":"u0","ts":$tsMs,"page":"__flush__","referrer":"/","country":"XX","device":"mobile"}"""
    Files.writeString(Paths.get(inDir, "zz_flush_sentinel.json"), json + "\n")
  }

  /** Stage the wire stream as a few large line files, not one shard per
    * core: each input file stands in for a producer batch, and 32 shards
    * of a ~100k-line fixture is all task overhead (measured 6.6 s → 0.8 s
    * for the write, and fewer file-source tasks per micro-batch). The
    * append family then parses the lines ([[ClickPipeline.parse]]). */
  private def stageWire(r: Replay, wire: DataFrame): Unit =
    r.stage(wire.toJSON.coalesce(4), "text")

  /** Run the full streaming pipeline (source → watermark → windowed
    * user-grain state → checkpointed sink) and return the streamed
    * user-grain relation.
    *
    * Two flush shapes: `restart = true` runs two AvailableNow passes with
    * the sentinel appended between them — a genuine checkpoint stop/
    * restart (s01 uses this). `restart = false` pre-seeds the sentinel
    * before the single pass: the entire input (real + sentinel) lands in
    * micro-batch 1 while the watermark is still at epoch (nothing
    * late-dropped), then the no-data batch runs with the watermark at
    * sentinel−10 s and every real window flushes — one streaming run
    * instead of two. */
  private def runWindowedStream(s: SparkSession, dir: String, tag: String,
                                duration: String, keys: Seq[String],
                                restart: Boolean = false): DataFrame = {
    val r = Replay(s"graft_${tag}_")
    val wire = wireJson(s, dir)
    val maxTs = wire.agg(max(col("ts"))).head.getLong(0)
    stageWire(r, wire)

    def runOnce(): Unit = r.append(s)(src => ClickPipeline.windowedUserGrain(
      ClickPipeline.withEventTime(ClickPipeline.parse(src)), duration, keys))

    if (restart) {
      runOnce()                                // pass 1: all real data
      writeSentinel(r.in, maxTs + 7200000L)    // advance the watermark…
      runOnce()                                // pass 2: restart from checkpoint, flush
    } else {
      writeSentinel(r.in, maxTs + 7200000L)
      runOnce()
    }

    r.output(s)
      .filter(col("page") =!= "__flush__")
      .drop("created_at")
  }

  // ---------------------------------------------------------------------
  // s01 — the reference's whole streaming spine, oracle-checked vs q14
  // ---------------------------------------------------------------------
  def streamMinuteAgg(s: SparkSession, dir: String): DataFrame =
    ClickPipeline.minuteAggFromUserGrain(
        runWindowedStream(s, dir, "s01", "1 minute", Seq("page", "country"),
          restart = true))
      .select(unix_millis(col("window_start")).as("window_start_ms"),
              unix_millis(col("window_end")).as("window_end_ms"),
              col("page"), col("country"), col("cnt"), col("unique_users"))
      .orderBy("window_start_ms", "page", "country")

  // ---------------------------------------------------------------------
  // s06/s07 — the declared-but-writerless rollup tables (page_5min_agg /
  // page_hourly_agg, clickhouse_tables.sql:40-72) as streaming writers,
  // oracle-checked vs their batch twins q15/q16
  // ---------------------------------------------------------------------
  def stream5minAgg(s: SparkSession, dir: String): DataFrame =
    runWindowedStream(s, dir, "s06", "5 minutes", Seq("page", "country"))
      .groupBy(col("window_start"), col("window_end"), col("page"))
      .agg(sum(col("cnt")).as("cnt"),
           count_distinct(col("user_id")).as("unique_users"),
           count_distinct(col("country")).as("unique_countries"))
      .select(unix_millis(col("window_start")).as("window_start_ms"),
              unix_millis(col("window_end")).as("window_end_ms"),
              col("page"), col("cnt"), col("unique_users"), col("unique_countries"))
      .orderBy("window_start_ms", "page")

  def streamHourlyAgg(s: SparkSession, dir: String): DataFrame =
    runWindowedStream(s, dir, "s07", "1 hour", Seq("page", "country", "device"))
      .groupBy(col("window_start"), col("window_end"),
               col("page"), col("country"), col("device"))
      .agg(sum(col("cnt")).as("cnt"), count("*").as("unique_users"))
      .select(unix_millis(col("window_start")).as("window_start_ms"),
              unix_millis(col("window_end")).as("window_end_ms"),
              col("page"), col("country"), col("device"),
              col("cnt"), col("unique_users"))
      .orderBy("window_start_ms", "page", "country", "device")

  // ---------------------------------------------------------------------
  // s08 — STREAMED gap-based sessionization (session_window state merging
  // across the watermark lifecycle), oracle-checked against the same
  // gaps-and-islands SQL as the batch twin x19. The sentinel is pre-seeded
  // so all real input lands in micro-batch 1 (watermark at epoch — nothing
  // late-dropped, sessions merge freely); the no-data batch then runs with
  // the watermark past every real session's close, flushing them all. The
  // sentinel's own session (user "u0", non-numeric — cannot collide with
  // the fixture's numeric user ids) closes after the watermark and is
  // never emitted; it is filtered on read-back for safety.
  // ---------------------------------------------------------------------
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val r = Replay("graft_s08_")
    val wire = wireJson(s, dir)
    val maxTs = wire.agg(max(col("ts"))).head.getLong(0)
    stageWire(r, wire)
    writeSentinel(r.in, maxTs + 7200000L)

    r.append(s)(src => graft.operators.Sessionize.sessions(
      ClickPipeline.withEventTime(ClickPipeline.parse(src))))

    r.output(s)
      .filter(col("user_id") =!= "u0")
      .groupBy(col("n_events").as("events_per_session"))
      .agg(count("*").as("n_sessions"),
           sum(col("duration_ms")).as("total_duration_ms"))
      .orderBy("events_per_session")
  }

  // ---------------------------------------------------------------------
  // s09 — STREAMED exact dedup: `dropDuplicates` keyed state over the
  // content fingerprint — the streaming twin of x05's batch dedup, i.e.
  // dedup-at-ingest for a continuously-arriving corpus. Emitted columns
  // are functions of the fingerprint (n_tokens is computed on the
  // NORMALIZED text), so the result is identical whichever duplicate
  // arrives first — which is what makes a batch oracle possible at all.
  // Production note: state here is one row per distinct fingerprint;
  // with a `withWatermark` + `dropDuplicatesWithinWatermark` the state
  // becomes time-bounded (dedup within the rolling horizon).
  // ---------------------------------------------------------------------
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val r = Replay("graft_s09_")
    r.stage(Tables.documents(s, dir).coalesce(1))
    r.append(s)(_.withColumn("fp", TF.fingerprint(col("text")))
      .withColumn("n_tokens",
        TF.tokenCount(TF.normalized(col("text"))).cast("long"))
      .select("fp", "n_tokens")
      .dropDuplicates("fp"))
    r.output(s).select("fp", "n_tokens").orderBy("fp")
  }

  val streamDedupSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY 1, 2 ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------------
  // s12 — STREAMED curation-at-ingest: the x21 quality filter composed
  // with the x22 PII scrub applied to a document stream before the sink —
  // the "clean as it arrives" pipeline shape. All row-local expressions,
  // no state, no watermark; streamed output must equal the batch
  // composition on the same corpus (the CurationQueries oracle).
  // ---------------------------------------------------------------------
  def streamCuration(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val r = Replay("graft_s12_")
    r.stage(Tables.documents(s, dir).coalesce(1))
    r.append(s) { src =>
      val stream = src.filter(Curation.keepRule(col("text")))
        .withColumn("aug", Curation.contactAugmented(col("text"), col("doc_id")))
      Curation.scrubPii(stream, col("aug"))
        .select(col("doc_id"), col("source"),
          (col("n_emails") + col("n_ips") + col("n_phones")).as("n_redactions"),
          length(col("scrubbed")).cast("long").as("scrubbed_len"))
    }
    r.output(s)
      .select("doc_id", "source", "n_redactions", "scrubbed_len")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // s13 — SLIDING (hopping) window: 5-minute windows advancing every
  // minute — each event contributes to exactly 5 overlapping windows.
  // The reference's engine does tumbling only (StreamJob.java windows);
  // sliding is native in Spark (`window(ts, len, slide)`), state is
  // still watermark-evicted, and the batch oracle expands each event
  // into its 5 member windows explicitly (minute_floor − k, k ∈ 0..4).
  // ---------------------------------------------------------------------
  def streamSlidingAgg(s: SparkSession, dir: String): DataFrame = {
    val r = Replay("graft_s13_")
    val wire = wireJson(s, dir)
    val maxTs = wire.agg(max(col("ts"))).head.getLong(0)
    stageWire(r, wire)
    writeSentinel(r.in, maxTs + 7200000L)

    r.append(s)(src => ClickPipeline.withEventTime(ClickPipeline.parse(src))
      .groupBy(window(col("ts"), "5 minutes", "1 minute").as("w"), col("page"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("page"), col("cnt")))
    r.output(s)
      .filter(col("page") =!= "__flush__")
      .select(unix_millis(col("window_start")).as("window_start_ms"),
              col("page"), col("cnt"))
      .orderBy("window_start_ms", "page")
  }

  val streamSlidingAggSql: String =
    s"""WITH clicks AS (${Tables.clicksSql}),
       |m AS (SELECT epoch_ms(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS floor_ms, page
       |      FROM clicks),
       |e AS (SELECT floor_ms - k * 60000 AS window_start_ms, page
       |      FROM m CROSS JOIN (SELECT unnest(range(5)) AS k))
       |SELECT window_start_ms, page, COUNT(*) AS cnt
       |FROM e GROUP BY 1, 2 ORDER BY window_start_ms, page""".stripMargin

  // ---------------------------------------------------------------------
  // s11 — STREAM-STREAM interval join: purchase attribution (each
  // 'purchase' joined to the same user's 'view' events in the preceding
  // hour — the wire 'page' field carries the fixture's event_type role).
  // Both sides carry the 10 s event-time watermark and the join
  // condition bounds p_ts to (v_ts, v_ts + 1 h], so Spark can evict
  // joined state as the watermark advances — the production-shape
  // stream-stream join. Inner-join matches emit as soon as both rows
  // have arrived (no watermark flush needed), which is what makes the
  // bounded replay complete and batch-oracle-comparable.
  // ---------------------------------------------------------------------
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val r = Replay("graft_s11_")
    stageWire(r, wireJson(s, dir))

    r.append(s) { src =>
      val clicks = ClickPipeline.parse(src)
      def side(eventType: String, prefix: String) =
        clicks.filter(col("page") === eventType)
          .select(col("user_id").as(s"${prefix}_user"),
                  col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "10 seconds")
      side("view", "v").join(side("purchase", "p"),
        expr("""v_user = p_user
               |AND p_ts > v_ts
               |AND p_ts <= v_ts + interval 1 hour""".stripMargin))
    }
    r.output(s)
      .select(col("v_user").cast("long").as("user_id"),
              unix_millis(col("v_ts")).as("view_ms"),
              unix_millis(col("p_ts")).as("purchase_ms"))
      .withColumn("lag_ms", col("purchase_ms") - col("view_ms"))
      .orderBy("user_id", "view_ms", "purchase_ms")
  }

  val streamStreamJoinSql: String =
    s"""WITH clicks AS (${Tables.clicksSql}),
       |v AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM clicks WHERE page = 'view'),
       |p AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM clicks WHERE page = 'purchase')
       |SELECT v.user_id, v.ms AS view_ms, p.ms AS purchase_ms,
       |       p.ms - v.ms AS lag_ms
       |FROM v JOIN p ON v.user_id = p.user_id
       |              AND p.ms > v.ms AND p.ms <= v.ms + 3600000
       |ORDER BY v.user_id, view_ms, purchase_ms""".stripMargin

  // ---------------------------------------------------------------------
  // s02 — keyed Welford anomaly state, oracle-checked vs q17
  // ---------------------------------------------------------------------
  def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Replay("graft_s02_")
    // Input stream = the canonical per-minute agg table (what A8 re-keys).
    // One parquet file ⇒ one micro-batch ⇒ each key's full history reaches
    // the state function together, in window order after the batch sort.
    r.stage(ReferenceQueries.minuteAgg(s, dir)
      .select(unix_millis(col("window_start")).as("window_start_ms"),
              col("page"), col("country"), col("cnt"))
      .coalesce(1))
    r.append(s)(src => AnomalyDetector.detect(src.as[AnomalyDetector.AggRow]).toDF())

    // mean is exact on both sides (sum/n over integer counts — see
    // WelfordState); z_score involves the M2 accumulator, where Welford
    // and DuckDB's var_samp agree only to ~1e-14 — which can straddle the
    // driver's 9-significant-digit canonicalization — so it is rounded to
    // 6 decimals on BOTH sides.
    r.output(s)
      .select(col("window_start_ms"), col("page"), col("country"), col("cnt"),
              col("n"), col("mean"),
              round(col("z_score"), 6).as("z_score"), col("is_anomaly"))
      .orderBy("page", "country", "window_start_ms")
  }

  /** q17's oracle with the same 6-decimal z_score rounding as
    * [[streamAnomaly]]. */
  val streamAnomalySql: String =
    s"""SELECT window_start_ms, page, country, cnt, n, mean,
       |       round(z_score, 6) AS z_score, is_anomaly
       |FROM (${ReferenceQueries.q17Sql})
       |ORDER BY page, country, window_start_ms""".stripMargin

  // ---------------------------------------------------------------------
  // s03 — raw-event sink (A13): stream → parquet append + created_at stamp
  // ---------------------------------------------------------------------
  def streamRawSink(s: SparkSession, dir: String): DataFrame = {
    val r = Replay("graft_s03_")
    stageWire(r, wireJson(s, dir))
    // No aggregation ⇒ no watermark needed: every event is appended in
    // pass 1; created_at is the ingest stamp (excluded from the compared
    // columns — it is wall-clock by design, clickhouse_tables.sql:14).
    r.append(s)(ClickPipeline.parse)

    r.output(s)
      .groupBy(col("page"))
      .agg(count("*").as("events"),
           count_distinct(col("user_id")).as("unique_users"),
           unix_millis(min(col("ts"))).as("first_ms"),
           unix_millis(max(col("ts"))).as("last_ms"))
      .orderBy("page")
  }

  val streamRawSinkSql: String =
    s"""WITH clicks AS (${Tables.clicksSql})
       |SELECT page, COUNT(*) AS events, COUNT(DISTINCT user_id) AS unique_users,
       |       epoch_ms(MIN(CAST(ts AS TIMESTAMP))) AS first_ms,
       |       epoch_ms(MAX(CAST(ts AS TIMESTAMP))) AS last_ms
       |FROM clicks GROUP BY page ORDER BY page""".stripMargin

  // ---------------------------------------------------------------------
  // s14 — WATERMARK-BOUNDED streaming dedup: at-least-once delivery
  // (every 10th event re-sent on the wire) deduped by event_id with
  // `dropDuplicatesWithinWatermark`. Unlike s09's `dropDuplicates`, the
  // per-key state is EVICTED once the watermark passes the key's event
  // time + delay — the only dedup posture that survives an unbounded
  // stream (s09's state grows with every distinct key ever seen).
  // Dedup is not an aggregation, so first arrivals emit immediately (no
  // flush sentinel); re-sent copies are byte-identical, so the surviving
  // row is arrival-order-invariant and the result equals the
  // exactly-once batch relation.
  // ---------------------------------------------------------------------
  def streamDedupWatermark(s: SparkSession, dir: String): DataFrame = {
    val r = Replay("graft_s14_")
    val wire = wireJson(s, dir)
    stageWire(r, wire.unionAll(wire.filter(col("event_id").cast("long") % 10 === 0)))

    r.append(s)(src => ClickPipeline.withEventTime(ClickPipeline.parse(src))
      .dropDuplicatesWithinWatermark("event_id"))
    r.output(s)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
              col("page"), col("referrer"), col("country"), col("device"))
      .orderBy(col("event_id").cast("long"))
  }

  val streamDedupWatermarkSql: String =
    s"""WITH clicks AS (${Tables.clicksSql})
       |SELECT CAST(event_id AS VARCHAR) AS event_id,
       |       CAST(user_id AS VARCHAR) AS user_id,
       |       epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
       |       page, referrer, country, device
       |FROM clicks ORDER BY CAST(event_id AS BIGINT)""".stripMargin

  /** Registry: the streaming entries reuse the BATCH oracles — streamed
    * results must equal the batch computation on the same data. */
  // ---------------------------------------------------------------------
  // s17 — STREAMED weighted priority sampling: the per-stratum bounded
  // heap (TopKAggregator) AS STREAMING AGGREGATION STATE — x47's
  // sampling-at-ingest twin. Update-mode emission per micro-batch with
  // the idempotent per-batch-overwrite sink; read-back takes each
  // stratum's LATEST emission, which IS its final heap. The priority
  // key is a pure row-local function (Curation.priorityKey), so the
  // final top-k is arrival-order-invariant — which is what lets the
  // batch x47 oracle hash-check a streamed run. At scale this is "keep
  // the best-weighted sample of an unbounded feed": state is
  // O(strata·k), emission is O(updated strata) per trigger.
  // ---------------------------------------------------------------------
  def streamPrioritySample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.functions.TopKAggregator
    val r = Replay("graft_s17_")
    // several input files ⇒ several micro-batches ⇒ the heap genuinely
    // accumulates across triggers (not a single-batch degenerate run)
    r.stage(Tables.documents(s, dir).repartition(4))
    r.mapBatches(s, update = true, query = _
      .select(col("lang"), col("doc_id"), Curation.priorityKey("doc_id").as("skey"))
      .groupBy(col("lang"))
      .agg(TopKAggregator.topk(25)(col("skey"), col("doc_id")).as("tk")))(identity)
      .groupBy(col("lang"))
      .agg(max_by(col("tk"), col("batch")).as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("__pos", "__s")))
      .select(col("lang"), col("__s.id").as("doc_id"),
        col("__s.score").as("skey"), (col("__pos") + 1).cast("long").as("rank"))
      .orderBy("lang", "rank")
  }

  // ---------------------------------------------------------------------
  // s18 — STREAMED windowFunnel: the order-sensitive funnel DP (x49)
  // over a multi-batch replay. The stream is sliced into chronological
  // non-overlapping ts ranges appended one file at a time, so the
  // watermark advances batch-over-batch and genuinely exercises the
  // sealed-prefix fold (events at/before the watermark collapse into
  // O(steps) state; only the unsealed tail is buffered). Final level per
  // user = last Update-mode emission, hash-checked against x49's oracle.
  // ---------------------------------------------------------------------
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Funnel, FunnelEvent}
    import graft.queries.ExtendedQueries.{FunnelSteps, FunnelWindowUs}
    val r = Replay("graft_s18_")
    val ev = Tables.events(s, dir).select(
      col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id").cast("long").as("event_id"),
      col("event_type"))
    // 4 chronological slices with non-overlapping ts ranges, staged in
    // order so the file source replays them in event-time order and the
    // watermark never late-drops.
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.25, 0.5, 0.75), 0.0)
    val edges = Long.MinValue +: cuts.map(_.toLong) :+ Long.MaxValue
    r.stageOrdered(edges.toSeq.sliding(2).map(pair =>
      ev.filter(col("ts_us") > pair(0) && col("ts_us") <= pair(1))).toSeq)

    import s.implicits._
    r.mapBatches(s, update = true, query = src => Funnel.streamFunnel(
        src.withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "10 seconds")
          .as[FunnelEvent], FunnelSteps, FunnelWindowUs)
      .toDF("user_id", "funnel_level"))(identity)
      .groupBy("user_id")
      .agg(max_by(col("funnel_level"), col("batch")).as("funnel_level"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // s19 — STREAMED retention cohorts: per-user first-seen + active-day
  // state (order-insensitive, no watermark needed); the replay slices
  // are deliberately NON-chronological so later batches retro-actively
  // re-assign cohorts, exercising the snapshot-supersedes-snapshot
  // contract. Final matrix ≡ the batch x50 oracle.
  // ---------------------------------------------------------------------
  def streamRetention(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{DayEvent, Funnel}
    val r = Replay("graft_s19_")
    // hash-sliced (NOT time-sliced): a user's earliest event often lands
    // in a later batch, forcing the retro-active cohort reassignment path
    val ev = Tables.events(s, dir).select(
      col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    r.stageOrdered((0 until 4).map(i =>
      ev.filter(pmod(xxhash64(col("ts_us")), lit(4)) === i)))

    import s.implicits._
    // keep each user's LAST snapshot only, then roll up the matrix
    val emitted = r.mapBatches(s, update = true, query = src =>
      Funnel.streamRetention(src.as[DayEvent])
        .toDF("user_id", "cohort_idx", "day_idx"))(identity)
    val last = emitted.groupBy("user_id").agg(max("batch").as("batch"))
    emitted.join(last, Seq("user_id", "batch"))
      .groupBy(col("cohort_idx"), (col("day_idx") - col("cohort_idx")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(timestamp_seconds(col("cohort_idx") * 86400L), "yyyy-MM-dd")
          .as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  // ---------------------------------------------------------------------
  // s20 — STREAMED sketch heavy hitters: the Misra-Gries summary as
  // streaming aggregation state (same partial/merge path as the batch
  // x53 — a micro-batch IS a partial aggregation). The sketch's k-entry
  // state per language is the whole streaming footprint regardless of
  // vocabulary; the final snapshot's survivors are exact-counted batch-
  // side and thresholded, which by the MG guarantee reproduces x53's
  // exact frequent-token set — same oracle.
  // ---------------------------------------------------------------------
  def streamSketchHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MisraGriesAggregator
    val r = Replay("graft_s20_")
    val k = graft.queries.CurationQueries.MgK // shared with x53's oracle threshold

    r.stage(Tables.documents(s, dir).repartition(4))
    val cands = r.mapBatches(s, update = true, query = _
      .select(col("lang"), explode(toksCol).as("token"))
      .groupBy(col("lang"))
      .agg(MisraGriesAggregator.mg(k)(col("token")).as("mg")))(identity)
      .groupBy(col("lang")).agg(max_by(col("mg"), col("batch")).as("mg"))
      .select(col("lang"), explode(col("mg")).as("s"))
      .select(col("lang"), col("s.id").as("token"))
    val toks = Tables.documents(s, dir).select(col("lang"), explode(toksCol).as("token"))
    val exact = toks.join(broadcast(cands), Seq("lang", "token"), "left_semi")
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val totals = toks.groupBy("lang").agg(count(lit(1)).as("n"))
    exact.join(broadcast(totals), "lang")
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col("lang"), col("token"), col("cnt"))
      .orderBy("lang", "token")
  }

  // ---------------------------------------------------------------------
  // s23 — STREAM-STATIC join: each micro-batch of the event stream is
  // enriched against a STATIC per-user dimension (first-seen day) —
  // the stateless per-batch join path, distinct from s11's stateful
  // stream-stream join. At scale the static side is a broadcast or a
  // co-partitioned table re-read per batch, and no join state is ever
  // kept. Streamed enriched aggregate ≡ the batch join oracle.
  // ---------------------------------------------------------------------
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val r = Replay("graft_s23_")
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id").cast("long").as("user_id"),
      expr("unix_micros(ts) DIV 86400000000").as("day_idx"),
      col("event_type"))
    // the static dimension: per-user first-seen day (computed batch-side)
    val dim = ev.groupBy("user_id").agg(min("day_idx").as("first_day"))
    r.stage(ev.repartition(2))

    r.mapBatches(s, query = _
      .join(broadcast(dim), "user_id") // stream-static: stateless per batch
      .withColumn("is_first_day", (col("day_idx") === col("first_day")).cast("int"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("first_day"), col("is_first_day")))(identity)
      .groupBy(col("event_type"), col("first_day"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("is_first_day")).cast("long").as("n_on_first_day"))
      .orderBy("event_type", "first_day")
  }

  // ---------------------------------------------------------------------
  // s25 — STREAMED near-dup admission against a static reference corpus:
  // the "is this live-crawl doc already in the training set" operator,
  // the streaming face of x63. Incoming docs arrive as a file stream
  // (one file per micro-batch); the reference corpus is static.
  //
  // Plan shape — deliberately STATELESS end to end, so it needs no
  // watermark and no state store:
  //  - per incoming row: distinct word-trigram shingles via the
  //    codegen'd kernel (row-local), exploded;
  //  - candidates: ONE stream-static equi-join on the shingle against
  //    the reference's df-capped (sh → doc) relation — a shingle with
  //    reference-df > cap generates no candidates, bounding per-shingle
  //    join cost exactly as in x57/x63 (boilerplate can't explode a
  //    micro-batch);
  //  - verify: a second static join pulls the matched reference doc's
  //    FULL shingle array, and exact Jaccard is computed ROW-LOCALLY
  //    with array intersection — no streaming aggregation anywhere;
  //  - a candidate matched via k shared shingles emits k identical
  //    rows; the entry collapses them with a batch-side distinct on
  //    read-back (at scale: any downstream exact-dedup pass absorbs it).
  //
  // The df cap does NOT bind on the sf0.01 oracle result (measured:
  // ref-side caps 1–6 all yield the same 12 admitted pairs — every
  // genuine pair's shared shingles are reference-rare); the oracle here
  // verifies the STREAMED path end-to-end against the batch CTE, and
  // the cap's binding behavior is proven on a planted boilerplate
  // fixture in `StreamingSpec`.
  //
  // 100 TB posture: the static relations are computed ONCE, pre-
  // partitioned + sorted on their join keys, and pinned (localCheckpoint
  // preserves partitioning/ordering through LogicalRDD), so a micro-
  // batch never re-shuffles or re-sorts the reference — only its own
  // exploded shingles exchange per batch. r8's 8.0× wall at 30× corpus
  // had TWO per-batch floors, both removed in r10 (measured by the
  // per-stage wall attribution of `Tool stages`): the dominant one was the
  // one-file micro-batch mapping to ONE input partition, serializing the
  // shingle kernel per batch (fixed by a batch-sized repartition before
  // the explode — 114.7 s → 24.3 s at 30× in the profiling run); the
  // other was the static re-exchange this pre-partitioning removes.
  // Re-measured 2.78× wall at 30× with exactly linear shuffle rows
  // (COVERAGE.md). When the reference must OUTLIVE the process, use
  // s36 (`nearDupStreamBucketed` below): the same semantics with the
  // reference stored as one durable sh-bucketed table and the
  // per-batch join exchange-free — bucket scan instead of cached
  // blocks. The per-batch join work is
  // O(batch shingles × avg capped df) by the cap bound, independent of
  // reference size.
  // ---------------------------------------------------------------------
  private val NearDupRefCap = 4

  /** The s25 core, reusable against any (incoming, reference) corpus
    * pair — `incoming`/`reference` carry (doc_id, text). Writes the
    * incoming docs as a multi-file parquet stream source, runs the
    * stateless capped near-dup stream, returns the distinct admitted
    * pairs. */
  private[graft] def nearDupStream(s: SparkSession, incoming: DataFrame,
                                   reference: DataFrame, refCap: Int,
                                   threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextKernels.word_shingles
    val r = Replay("graft_s25_")
    def shArr(text: org.apache.spark.sql.Column) =
      array_distinct(word_shingles(text, 3))

    // static side, computed once batch-side: full shingle array per
    // reference doc + the df-capped exploded blocking relation. Each is
    // PRE-PARTITIONED AND SORTED ON ITS JOIN KEY before the pin:
    // localCheckpoint materializes a LogicalRDD that CARRIES the
    // physical partitioning + ordering, so every micro-batch's
    // stream-static sort-merge join satisfies the static side's
    // distribution/ordering requirements from the cached blocks — only
    // the (batch-sized) stream side exchanges per batch. Without this,
    // each of the 2 joins re-shuffled AND re-sorted the corpus-sized
    // static relation every micro-batch — one of the two floors behind
    // r8's 8.0× wall at 30× corpus (the other, larger one: the serial
    // per-batch explode, fixed below at the stream source).
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val refShingles = reference
      .select(col("doc_id").as("id_ref"), shArr(col("text")).as("ref_sh"))
      .repartition(nPart, col("id_ref"))
      .sortWithinPartitions("id_ref")
      .localCheckpoint() // feeds a join every micro-batch; pin it
    val blocked = refShingles
      .select(col("id_ref"), explode(col("ref_sh")).as("sh"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__df") <= refCap)
      .drop("__df")
      .repartition(nPart, col("sh"))
      .sortWithinPartitions("sh")
      .localCheckpoint()

    r.stage(incoming.select(col("doc_id"), col("text")).repartition(3))

    // the candidate chain runs in the streaming plan, per micro-batch
    r.mapBatches(s, query = _
      // a micro-batch arrives as ONE file and the file source maps it to
      // ONE input partition, so without this exchange the shingle kernel
      // + explode run SERIAL per batch (measured: ~8 s single-task
      // stages per batch at 30× corpus). The exchange is batch-sized
      // (doc_id, text) rows — cheap — and fans the row-local work across
      // the executors before anything expensive happens.
      .repartition(nPart)
      .select(col("doc_id").as("id_in"), shArr(col("text")).as("in_sh"))
      .select(col("id_in"), col("in_sh"), explode(col("in_sh")).as("sh"))
      .join(blocked, "sh")
      .join(refShingles, "id_ref")
      .withColumn("inter",
        size(array_intersect(col("in_sh"), col("ref_sh"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("in_sh")).cast("long") + size(col("ref_sh")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_in"), col("id_ref"), col("jaccard")))(identity)
      // project away the sink's batch stamp BEFORE distinct — a pair
      // emitted in two batches must collapse
      .select("id_in", "id_ref", "jaccard")
      .distinct().orderBy("id_in", "id_ref")
  }

  def streamNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    nearDupStream(s, docs.filter(srcNum < 10), docs.filter(srcNum >= 10),
      NearDupRefCap, threshold = 0.5)
  }

  // ---------------------------------------------------------------------
  // s26 — STREAMED cross-corpus span cleaning: x67's span-grain
  // decontamination as an admission gate on the document stream. The
  // cleaning is PER-INCOMING-DOC given the reference gram set (no
  // incoming-vs-incoming comparison anywhere in x67's semantics), so
  // the stream is exact and state-free: the reference collapses to its
  // distinct gram relation ONCE (pinned via localCheckpoint), and each
  // micro-batch runs the identical batch operator against it inside
  // foreachBatch — flag (left-semi on the gram) → remove → reassemble —
  // with an idempotent per-batch overwrite sink. No watermark, no state
  // store; result is batching-invariant by per-doc independence, and the
  // oracle is x67's own SQL. At a 100 TB reference the gram relation is
  // stored bucketed on sh (s21) exactly as s25's blocking relation note.
  // ---------------------------------------------------------------------

  /** The s26 core: write `incoming` as a multi-file parquet stream
    * source, clean each micro-batch against `reference`'s pinned
    * distinct gram set, return the per-doc cleaned relation. */
  private[graft] def spanCleanStream(s: SparkSession, incoming: DataFrame,
                                     reference: DataFrame, n: Int): DataFrame = {
    import graft.operators.Dedup
    val r = Replay("graft_s26_")

    val refGrams = reference
      .select(explode(graft.functions.TextKernels.word_gram_seq(col("text"), n)).as("sh"))
      .distinct()
      .localCheckpoint() // feeds every micro-batch; pin once

    r.stage(incoming.select(col("doc_id"), col("text")).repartition(3))

    // NOTE on the one-file-one-partition input (s25's floor): the same
    // batch-sized repartition was TRIED here and measured a net loss —
    // 30× wall flat (21.7 → 21.4 s; the serial per-doc stages are off
    // the critical path, which is batch/commit overhead), 1× wall +2 s
    // (the exchange plus 32 output files per batch instead of a few).
    // s26's 30× posture stands at 4.4× wall / exactly-linear shuffle /
    // zero state without it.
    r.mapBatches(s)(Dedup.crossSpanCleanAgainst(_, refGrams, "doc_id", "text", n))
      .select("doc_id", "cleaned_text", "kept_tokens", "removed_tokens")
      .orderBy("doc_id")
  }

  def streamSpanClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    spanCleanStream(s, docs.filter(srcNum < 10), docs.filter(srcNum >= 10),
      graft.queries.ExtendedQueries.SpanGramN)
  }

  // ---------------------------------------------------------------------
  // s30 — STREAMED corpus snapshot diff: x86's incremental-versioning
  // audit computed as the new crawl ARRIVES, not after it lands. The
  // added/changed verdict is PER-INCOMING-DOC given the old snapshot's
  // fingerprint relation (x04's normalized md5 — row-local, fixed
  // width), so the stream is exact and state-free: each micro-batch
  // left-joins its fingerprints against the pinned old relation and
  // appends its delta; 'unchanged' rows die in the batch. 'removed' is
  // the one verdict absence-based and thus unknowable mid-stream — it
  // falls out at stream END as one anti-join of the old ids against
  // the ids the stream itself recorded (a fixed-width relation the
  // foreachBatch writes alongside the delta), so the entry never peeks
  // at the incoming snapshot as a batch relation. Result ≡ x86,
  // hash-checked against x86's own oracle. This localCheckpoint-pinned
  // form re-exchanges the corpus-sized old-fp relation every batch once
  // it exceeds the broadcast threshold (measured: 440× naive rows at
  // 100×) — the 100 TB form is s34 below, whose bucketed store plans
  // the per-batch join with zero exchange.
  // ---------------------------------------------------------------------

  /** The s30 core: write `neu` as a multi-file parquet stream source,
    * diff each micro-batch against `old`'s pinned fingerprints, then
    * reconcile removals from the stream's own seen-id record. */
  private[graft] def snapshotDiffStream(s: SparkSession, old: DataFrame,
                                        neu: DataFrame,
                                        workDir: Option[String] = None,
                                        onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val r = Replay("graft_s30_", workDir)
    val idsDir = s"${r.dir}/ids"

    val oldFp = old.select(col("doc_id"), TF.fingerprint(col("text")).as("fp_old"))
      .localCheckpoint() // feeds every micro-batch + the removal pass; pin once

    r.stage(neu.select(col("doc_id"), col("text")).repartition(3))

    // the per-batch added/changed verdict, factored so the empty-input
    // read-back fallback shares its exact output schema
    def delta(fp: DataFrame): DataFrame =
      fp.join(oldFp, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("fp_old").isNull, lit("added"))
            .when(col("fp_old") =!= col("fp_new"), lit("changed")))
        .filter(col("status").isNotNull)
        .select("doc_id", "status")
    def fpOf(b: DataFrame): DataFrame =
      b.select(col("doc_id"), TF.fingerprint(col("text")).as("fp_new"))

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      val fp = fpOf(b)
        .localCheckpoint() // feeds the delta AND the seen-id record
      r.emit(delta(fp), id)
      r.emit(fp.select("doc_id"), id, idsDir)
    }

    val seenIds = r.readBack(s, idsDir)(_.select("doc_id"))
    val removed = oldFp
      .join(seenIds.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"))
    r.readBack(s)(b => delta(fpOf(b)))
      .select(col("doc_id"), col("status"))
      .unionAll(removed)
      .orderBy("doc_id")
  }

  def streamSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    snapshotDiffStream(s, docs, graft.queries.CurationQueries.diffSnapshot(docs))
  }

  // ---------------------------------------------------------------------
  // s34 — s30's 100 TB posture AS CODE: the bucketed-fingerprint-store
  // snapshot diff. s30 pins the old snapshot's fingerprints with
  // localCheckpoint and re-EXCHANGES that corpus-sized relation in
  // every micro-batch the moment it exceeds the broadcast threshold
  // (measured: naive rows_r 440 at 100x over 3 batches). Here the old
  // store is written ONCE as an s21-style bucketed table on doc_id
  // (the write is the one corpus-sized shuffle that ever happens), and
  // each micro-batch writes its own fingerprints as a same-bucketed,
  // same-sorted table — so the per-batch diff join reads both sides
  // co-located and plans with NO exchange and NO sort (PlanSpec pins
  // it under the no-broadcast protocol). Per batch, only batch-sized
  // data moves; the old store's buckets are read in place. Same
  // added/changed/removed semantics and the same x86 oracle as s30.
  // ---------------------------------------------------------------------
  private[graft] val S34Buckets = 8

  /** Write a fingerprint relation as a bucketed, doc_id-sorted table —
    * the one writer both the old store and each micro-batch use, so
    * the two join sides always agree on bucketing. */
  private[graft] def writeFpBucketed(df: DataFrame, path: String,
                                     tbl: String): Unit =
    df.write.mode("overwrite").option("path", path)
      .bucketBy(S34Buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(tbl)

  /** The per-batch co-located diff: both sides are bucketed tables on
    * doc_id with the same bucket count and sort, so the left-outer
    * sort-merge join plans with no hash exchange and no sort. */
  private[graft] def bucketedDelta(s: SparkSession, batchTbl: String,
                                   oldTbl: String): DataFrame =
    s.table(batchTbl).join(s.table(oldTbl), Seq("doc_id"), "left")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")

  /** The s34 core: s30's protocol with the old fingerprint store and
    * each batch's fingerprints living in co-bucketed tables.
    *
    * `workDir`/`onBatch` exist for the restart-recovery spec: passing
    * the SAME workDir resumes from its checkpoint (setup steps are
    * idempotent — overwrite-mode writes, input written only once), and
    * `onBatch` fires at the head of every foreachBatch so a test can
    * record progress or induce a crash at a chosen batch. */
  private[graft] def snapshotDiffStreamBucketed(s: SparkSession, old: DataFrame,
                                                neu: DataFrame,
                                                workDir: Option[String] = None,
                                                onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val r = Replay("graft_s34_", workDir)
    val work = r.dir; val idsDir = s"$work/ids"
    // table names derive from the unique work dir (the s21 rule): two
    // invocations in one shared session never collide in the catalog
    val oldTbl = s"${r.tag}_oldfp"

    // the WHOLE store-table lifecycle sits in try/finally: a crash in
    // the stream, the removal pass, or a per-batch write must not leak
    // `${tag}_*` entries in the shared-session catalog (resume rebuilds
    // them — the writes are overwrite-mode idempotent)
    try {
    writeFpBucketed(
      old.select(col("doc_id"), TF.fingerprint(col("text")).as("fp_old")),
      s"$work/wh/oldfp", oldTbl)

    r.stage(neu.select(col("doc_id"), col("text")).repartition(3))

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      val batchTbl = s"${r.tag}_b$id"
      try {
        writeFpBucketed(
          b.select(col("doc_id"), TF.fingerprint(col("text")).as("fp_new")),
          s"$work/wh/b$id", batchTbl)
        r.emit(bucketedDelta(s, batchTbl, oldTbl), id)
        r.emit(s.table(batchTbl).select("doc_id"), id, idsDir)
      } finally s.sql(s"DROP TABLE IF EXISTS $batchTbl") // hygiene even on crash
    }

    // removals: one anti-join of the old store's buckets against the
    // stream's own seen-id record (never the incoming snapshot as a
    // batch relation — the s30 contract). Written EAGERLY to the work
    // dir (diff-sized — the anti-join survivors, not the corpus) so the
    // returned relation no longer references the catalog table and the
    // old store can be dropped HERE: without the drop, every invocation
    // in a long-lived shared session leaked one `${tag}_oldfp` catalog
    // entry plus its warehouse files (per-batch tables already get
    // DROP TABLE hygiene inside the foreachBatch).
    val seenIds = r.readBack(s, idsDir)(_.select("doc_id"))
    s.table(oldTbl)
      .join(seenIds.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"))
      .write.mode("overwrite").parquet(s"$work/removed")
    } finally s.sql(s"DROP TABLE IF EXISTS $oldTbl")
    r.readBack(s)(_.select(col("doc_id"), lit("added").as("status")))
      .select(col("doc_id"), col("status"))
      .unionAll(s.read.parquet(s"$work/removed"))
      .orderBy("doc_id")
  }

  def streamSnapshotDiffBucketed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    snapshotDiffStreamBucketed(s, docs,
      graft.queries.CurationQueries.diffSnapshot(docs))
  }

  // ---------------------------------------------------------------------
  // s36 — s25's durable-reference posture AS CODE: the bucketed-store
  // near-dup admission stream. s25 pins its two static relations in
  // executor memory (localCheckpoint) — correct until the process dies.
  // Here they are stored ONCE as two durable bucketed tables (the
  // s21/s34 machinery), each bucketed AND sorted on its join key:
  //  - `blk`: the df-capped (sh → id_ref) blocking relation, on sh —
  //    compact two-column rows;
  //  - `ref`: the (id_ref → full shingle array) verify relation, on
  //    id_ref — one row per reference doc, ~corpus-sized.
  // (A first cut denormalized the verify array ONTO the blocking rows
  // for a single zero-exchange join — measured 10.3× wall at 30×: the
  // store carries each doc's S-element array S times, O(S²) bytes per
  // document, and every micro-batch re-reads that amplified store. The
  // normalized two-table store is ~2× the corpus and restored wall
  // parity with s25's pinned form.)
  // Each micro-batch runs s25's exact join chain against the tables:
  // the batch's exploded shingles join `blk` on sh, survivors join
  // `ref` on id_ref, jaccard is row-local. The static sides are read
  // IN PLACE from their buckets — the only exchanges in the per-batch
  // plan are the two BATCH-SIZED ones on the stream side (PlanSpec
  // pins exactly that under the no-broadcast protocol; s25 accepts the
  // same batch-sized exchanges). Same admission semantics, same
  // duplicate-emission collapse, and the same oracle as s25. The store
  // outlives any process: a restarted pipeline re-attaches to the
  // tables instead of re-shingling the reference corpus.
  // ---------------------------------------------------------------------
  private[graft] val S36Buckets = 32

  /** Write a relation as a bucketed table sorted on its bucket key —
    * the one writer both store tables use. The pre-write repartition
    * uses the SAME hash function as the bucket-id assignment, so each
    * task holds exactly one bucket and each bucket lands in ONE file —
    * the condition under which the scan exposes the sortBy ordering
    * and the per-batch SMJ reads the store WITHOUT re-sorting it
    * (multi-file buckets force a full static-side sort every
    * micro-batch — measured 2× the s25 wall at 30× before this).
    * (A blk store PARTITIONED by the 2-char shingle prefix, for dynamic
    * partition pruning, was measured and rejected in COVERAGE.md
    * round-15: any batch touched all ~31 prefixes, so DPP pruned
    * nothing while the layout forfeited the sortBy merge.) */
  private[graft] def writeBucketedBy(df: DataFrame, path: String,
                                     tbl: String, key: String): Unit = {
    df.repartition(S36Buckets, col(key))
      .write.mode("overwrite").option("path", path)
      .bucketBy(S36Buckets, key).sortBy(key)
      .saveAsTable(tbl)
    // The one-file-per-bucket invariant is a PERF contract, not just an
    // intent: Spark's bucketed scan only exposes the sortBy ordering
    // when every bucket is a single file (the session-global
    // spark.sql.legacy.bucketedTableScan.outputOrdering=true relies on
    // it), and a writer conf like spark.sql.files.maxRecordsPerFile
    // would silently split buckets and re-sort the corpus-sized store
    // side EVERY micro-batch (measured 2× wall). Fail loudly instead.
    val bucketOf = "_(\\d{5})\\.".r
    // walk via Hadoop's FileSystem, not java.nio: the store path may be
    // any Hadoop-supported URI (hdfs://, s3a://) in production — the
    // same resolution the write itself used
    val files = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(
        df.sparkSession.sessionState.newHadoopConf())
      val it = fs.listFiles(hPath, true)
      val buf = Vector.newBuilder[String]
      while (it.hasNext) {
        val n = it.next().getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith(".") &&
            !n.startsWith("_")) buf += n
      }
      buf.result()
    }
    val perBucket = files.groupBy { n =>
      bucketOf.findFirstMatchIn(n).map(_.group(1))
        .getOrElse(sys.error(s"$tbl: no bucket id in data file name $n"))
    }
    val split = perBucket.filter(_._2.size > 1)
    require(split.isEmpty,
      s"$tbl: bucket(s) ${split.keys.toSeq.sorted.mkString(",")} split " +
        s"across multiple files — the bucketed-scan ordering is lost and " +
        s"every micro-batch will re-sort the store (check writer confs " +
        s"like spark.sql.files.maxRecordsPerFile)")
  }

  /** The per-batch admission join against the durable store: `batch`
    * carries (id_in, in_sh). Both static sides are read co-located
    * from their buckets; only the batch side exchanges.
    *
    * Store-side scan pruning (r14): the blk store's SMJ input is
    * pre-pruned by an EXACT broadcast left-semi join against the
    * batch's own shingle set — only store rows whose shingle the batch
    * actually carries reach the merge. The build side is batch-sized
    * by construction (micro-batch size is an ingest knob, never
    * corpus-sized), deliberately NOT distinct'd (a distinct would add
    * a third shuffle exchange; the semi-join's hash build dedups keys
    * anyway), and a BroadcastHashJoin preserves the bucketed scan's
    * partitioning AND sortBy ordering, so the plan keeps its
    * ≤2-exchange / no-store-re-sort shape (PlanSpec pins it). What
    * this prunes is merge-input ROWS, not scan BYTES: the store is
    * bucketed (not partitioned) on sh, Spark has no runtime bucket
    * pruning, and a set-membership predicate against a runtime
    * relation cannot reach parquet's row-group stats — the receipts
    * in COVERAGE.md carry the measured effect and that boundary.
    *
    * `prune` is store-size-gated by the caller (the broadcast build +
    * batch pin cost a fixed per-batch overhead that only pays once the
    * store dwarfs the batch — measured crossover between 30× and 100×,
    * see [[PruneStoreRowsFloor]]). */
  private[graft] def bucketedNearDupDelta(s: SparkSession, batch: DataFrame,
                                          blkTbl: String, refTbl: String,
                                          threshold: Double,
                                          prune: Boolean = true): DataFrame = {
    val blk =
      if (prune)
        s.table(blkTbl)
          .join(broadcast(batch.select(explode(col("in_sh")).as("sh"))),
            Seq("sh"), "left_semi")
      else s.table(blkTbl)
    batch
      .select(col("id_in"), col("in_sh"), explode(col("in_sh")).as("sh"))
      .join(blk, "sh")
      .join(s.table(refTbl), "id_ref")
      .withColumn("inter",
        size(array_intersect(col("in_sh"), col("ref_sh"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("in_sh")).cast("long") + size(col("ref_sh")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_in"), col("id_ref"), col("jaccard"))
  }

  /** Engage the per-batch store-scan semi-prune only once the blocking
    * store is big enough to pay for the per-batch broadcast build +
    * batch pin: same-session A/B at the crossover's two sides measured
    * 26.1 → 30.8 s at 30× (1.1M blk rows — prune LOSES 18%) and
    * 178.4 → 155.5 s at 100× (3.8M blk rows — prune WINS 13%), both
    * under the no-broadcast protocol; at a true 100 TB store the ratio
    * only grows. Tests override via `pruneFloor` to pin both paths. */
  private[graft] val PruneStoreRowsFloor = 2000000L

  /** The s36 core: s25's protocol with the two static relations stored
    * as durable bucketed tables instead of pinned executor memory.
    *
    * `workDir`/`onBatch`: the same restart-recovery hooks as s34.
    * Passing the SAME workDir resumes from its checkpoint — the input
    * staging is idempotent, and the two store builds are
    * overwrite-mode idempotent (they rebuild on resume because the
    * try/finally below drops the tables even when the stream crashes;
    * in production the tables persist across processes and the build
    * runs once per reference refresh, not once per stream). */
  private[graft] def nearDupStreamBucketed(s: SparkSession, incoming: DataFrame,
                                           reference: DataFrame, refCap: Int,
                                           threshold: Double,
                                           workDir: Option[String] = None,
                                           onBatch: Long => Unit = _ => (),
                                           pruneFloor: Long = PruneStoreRowsFloor)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextKernels.word_shingles
    val r = Replay("graft_s36_", workDir)
    val refTbl = s"${r.tag}_ref"; val blkTbl = s"${r.tag}_blk"
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    def shArr(text: org.apache.spark.sql.Column) =
      array_distinct(word_shingles(text, 3))

    // the store-table lifecycle sits in try/finally: a crash inside the
    // stream or a batch write must not leak `${tag}_ref`/`${tag}_blk`
    // in the shared-session catalog (the s34 hygiene contract)
    try {
    // the one-time store build — the only corpus-sized shuffles that
    // ever happen. The shingle kernel runs ONCE (pinned): both store
    // writes consume `refShingles`, and unpinned each would re-run the
    // tokenize+shingle scan (plans are trees). The two writes hit
    // disjoint roots and the input staging reads only `incoming`, so
    // all three run concurrently (§2.6).
    // The pin is released once the three lanes have settled: the
    // stream reads only the two store tables.
    val refShingles = reference
      .select(col("doc_id").as("id_ref"), shArr(col("text")).as("ref_sh"))
      .localCheckpoint()
    val blkRows = refShingles
      .select(col("id_ref"), explode(col("ref_sh")).as("sh"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__df") <= refCap)
      .select(col("sh"), col("id_ref"))
    try inParallel(
      () => writeBucketedBy(refShingles, s"${r.dir}/wh/ref", refTbl, "id_ref"),
      () => writeBucketedBy(blkRows, s"${r.dir}/wh/blk", blkTbl, "sh"),
      () => r.stage(incoming.select(col("doc_id"), col("text")).repartition(3)))
    finally unpin(refShingles)

    // the store-size gate for the per-batch scan prune: one blk count
    // per STREAM (not per batch), decided before the first trigger
    val prune = s.table(blkTbl).count() >= pruneFloor

    // one file per micro-batch = ONE input partition: fan the row-local
    // shingle kernel out before it runs (s25's floor)
    def shingled(b: DataFrame) = b.repartition(nPart)
      .select(col("doc_id").as("id_in"), shArr(col("text")).as("in_sh"))
    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      // When pruning, the shingled batch feeds TWO consumers (the
      // semi-join build side and the main join side) — pin it so the
      // repartition + kernel run once per batch, not twice (unpinned,
      // the doubled build subplan measured a 1.8× wall regression at
      // 30× that the pin fully recovers); released once the batch's
      // delta is written
      val sh = if (prune) shingled(b).localCheckpoint() else shingled(b)
      try r.emit(bucketedNearDupDelta(s, sh, blkTbl, refTbl, threshold, prune), id)
      finally if (prune) unpin(sh)
    }
    r.readBack(s)(b => bucketedNearDupDelta(s, shingled(b), blkTbl, refTbl,
      threshold, prune))
      // the delta rows are already (id_in, id_ref, jaccard); a candidate
      // matched via k shared shingles emitted k identical rows —
      // collapse them, as s25 does
      .select("id_in", "id_ref", "jaccard")
      .distinct().orderBy("id_in", "id_ref")
    } finally {
      // the result reads only the per-batch parquet deltas — the store
      // tables can be dropped here even on the failure path (in
      // production they would PERSIST; a registry entry must not leak
      // catalog entries across invocations in a shared session)
      s.sql(s"DROP TABLE IF EXISTS $refTbl")
      s.sql(s"DROP TABLE IF EXISTS $blkTbl")
    }
  }

  def streamNearDupBucketed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    nearDupStreamBucketed(s, docs.filter(srcNum < 10), docs.filter(srcNum >= 10),
      NearDupRefCap, threshold = 0.5)
  }

  // ---------------------------------------------------------------------
  // s37 — STREAMED ANN serving: the 100 TB similarity-search posture as
  // an OPERATOR. The corpus is indexed ONCE — row-local argmax-cosine
  // assignment to the x114/x116 fixed centroids, stored as a durable
  // table PARTITIONED BY cell — and query batches stream against it:
  // per batch, probe-cell selection is a row-local literal expression,
  // the probed cell set (≤ nLists values BY CONSTRUCTION — index-sized,
  // never corpus- or batch-sized) prunes the store scan at PLAN time
  // via static partition filters, and only the probed cells' rows are
  // read, scored, and bounded-heap top-k'd. Exactness is
  // batching-independent (each query meets the complete static store
  // exactly once), so the streamed result is value-identical to the
  // batch IVF-fixed top-k — and the whole pipeline is HASH-CHECKED
  // against a DuckDB oracle (the s01≡q14 twin discipline applied to
  // the ANN family).
  //
  // The layout lesson INVERTS s36's: there, content-derived partition
  // keys lost because any batch blankets the 31-value prefix space; a
  // query batch probes nProbe cells per query against nLists
  // partitions, so partition pruning has real selectivity — the
  // partitioned layout that was REJECTED for the shingle store is the
  // RIGHT one for the vector store (cells are few, bounded, and
  // probe-local; and at nLists=thousands in production the same static
  // IN-filter still prunes, no DPP needed).
  // ---------------------------------------------------------------------

  /** The per-batch ANN serve against a cell-partitioned store — shared
    * by s37 and the s39 hybrid's semantic arm. The driver-side probe
    * set is ≤ nLists longs BY CONSTRUCTION (cells are the INDEX's
    * grain, not the data's) — this is what turns the batch into static
    * partition filters on the store scan. `probed` is rebuilt for the
    * join rather than pinned: recompute-twice beats a localCheckpoint
    * barrier on a batch-sized row-local relation. */
  private[graft] def annBatchRank(s: SparkSession, b: DataFrame,
                                  idxRel: DataFrame,
                                  cents: IndexedSeq[Array[Float]],
                                  nProbe: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    import graft.operators.SimilaritySearch
    def probed = b.select(col("query_id"), col("q_vec"),
      explode(SimilaritySearch.probeCells(col("q_vec"), cents,
        nProbe)).as("cell"))
    val cells = probed.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val store = idxRel
      .filter(col("cell").isin(cells.map(Long.box): _*))
    val scored = store.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", VectorFunctions.cosine_similarity(
        col("q_vec"), col("embedding")))
    SimilaritySearch.topKPerQuery(
      scored.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** The s37 core. `workDir`/`onBatch`: the same restart-recovery hooks
    * as s34/s36; the index build is overwrite-mode idempotent (in
    * production the table persists and rebuilds once per corpus
    * refresh, not once per stream). */
  private[graft] def annServeStream(s: SparkSession, items: DataFrame,
                                    queries: DataFrame, k: Int,
                                    nLists: Int, nProbe: Int,
                                    workDir: Option[String] = None,
                                    onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.SimilaritySearch
    val r = Replay("graft_s37_", workDir)
    val idxTbl = s"${r.tag}_ivf"

    val src = items.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    // bounded by construction: nLists rows of the input table, collected
    // once per stream (the x114 contract — loud on missing quantizer ids)
    val cents = SimilaritySearch.collectFixedRows(
      src.filter(col("vec_id") < nLists), nLists)

    try {
      // the one-time index build — the only corpus-sized job that ever
      // happens; assignment is a row-local literal expression, the write
      // shuffles once on the bounded cell key. Query staging is
      // independent of the build → concurrent (§2.6).
      inParallel(
        () => src.select(col("vec_id"), col("embedding"),
            SimilaritySearch.argmaxCell(col("embedding"), cents).as("cell"))
          .repartition(col("cell"))
          .write.mode("overwrite").option("path", s"${r.dir}/wh/ivf")
          .partitionBy("cell").saveAsTable(idxTbl),
        () => r.stage(queries.select(col("vec_id").cast("long").as("query_id"),
            col("embedding")).repartition(3)))

      r.mapBatches(s, onBatch = onBatch)(b => annBatchRank(s,
          b.select(col("query_id"), col("embedding").as("q_vec")),
          s.table(idxTbl), cents, nProbe, k))
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $idxTbl")
    }
  }

  def streamAnnServe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    val emb = Tables.embeddings(s, dir)
    annServeStream(s, emb, emb.filter(col("vec_id") < AnnEval.QuerySlice),
      k = AnnEval.K, nLists = P.NLists, nProbe = P.NProbe)
  }

  /** s41 — s37 with serve-time probe AMPLIFICATION (the x110 recall
    * knob composed into the durable-index regime): the same
    * cell-partitioned index, queried at [[graft.operators
    * .SimilaritySearch.IvfPqFixed.NProbeWide]] cells per query instead
    * of NProbe. Purely query-side — the index is built once and never
    * re-bucketed; the enlarged probe set is still ≤ nLists driver longs
    * by construction, so the store read keeps its static partition
    * filters (PlanSpec pins it at both probe widths). Recall vs the
    * exact x10 baseline is measured in SimilaritySearchSpec; the wide
    * probe set CONTAINS the narrow one (same cosine-DESC cell ordering,
    * longer prefix), so recall is monotone in the knob by construction. */
  def streamAnnServeProbed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    val emb = Tables.embeddings(s, dir)
    annServeStream(s, emb, emb.filter(col("vec_id") < AnnEval.QuerySlice),
      k = AnnEval.K, nLists = P.NLists, nProbe = P.NProbeWide)
  }

  // ---------------------------------------------------------------------
  // s45 — STREAMED PQ-ADC serving: the serving stack's MEMORY-scale
  // rung. s37's durable index stores every raw vector (dim floats per
  // row); here the durable store carries only the x114 fixed-quantizer
  // PQ CODES (cell + m small integers per vector — at 10⁹ × 64-dim
  // that is ~8 GB of codes vs ~256 GB of floats), cell-partitioned so
  // probe sets stay static partition filters. Per query batch: probe
  // cells + the m×codes ADC table are row-local expressions, the scan
  // is ADC lookup-sums over the probed cells' CODES, and only the
  // k·refine shortlist ever touches the raw vectors again (the exact
  // rerank reads the STATIC embeddings relation — the PQ contract: the
  // serving index never carries what it exists to avoid storing).
  // Every stage is the x114 kernel verbatim (pqEncoded / pqProbed /
  // pqAdcRank — one definition), and each query meets the static index
  // exactly once, so the streamed result hash-checks against x114's
  // DuckDB oracle VERBATIM (the s38↔x71 discipline).
  // ---------------------------------------------------------------------

  /** The s45 core. `workDir`/`onBatch`: the s34–s44 restart hooks; the
    * index build is overwrite-mode idempotent. */
  private[graft] def pqServeStream(s: SparkSession, items: DataFrame,
                                   queries: DataFrame, k: Int,
                                   nLists: Int, nProbe: Int, m: Int,
                                   codes: Int, refine: Int,
                                   workDir: Option[String] = None,
                                   onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.SimilaritySearch
    val r = Replay("graft_s45_", workDir)
    val idxTbl = s"${r.tag}_pq"

    val src = items.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").as("vec"))
    val (fixedRows, dsub) = SimilaritySearch.pqFixedRows(src, nLists, m, codes)

    try {
      // the one-time CODE-store build — the only job that ever reads
      // the full corpus besides the rerank's shortlist fetch; encode is
      // row-local, the write shuffles once on the bounded cell key.
      // Query staging is independent of the build → concurrent (§2.6).
      inParallel(
        () => SimilaritySearch.pqEncoded(src, fixedRows, nLists, m, codes, dsub)
          .repartition(col("cell"))
          .write.mode("overwrite").option("path", s"${r.dir}/wh/pq")
          .partitionBy("cell").saveAsTable(idxTbl),
        () => r.stage(queries.select(col("vec_id").cast("long").as("query_id"),
            col("embedding")).repartition(3)))

      r.mapBatches(s, onBatch = onBatch) { b =>
        val qB = b.select(col("query_id"), col("embedding").as("q_vec"))
        val probed = SimilaritySearch.pqProbed(qB, fixedRows, nLists,
          nProbe, m, codes, dsub).localCheckpoint()
        // batch-grain probe-cell set (≤ nLists longs) pushed as static
        // partition filters into the code store's scan — the s37 pattern
        val cells = probed.select("cell").distinct()
          .collect().map(_.getLong(0)).sorted
        val store = s.table(idxTbl)
          .filter(col("cell").isin(cells.map(Long.box): _*))
        SimilaritySearch.pqAdcRank(store, probed, src, qB, k, m, codes, refine)
      }
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $idxTbl")
    }
  }

  def streamPqServe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    val emb = Tables.embeddings(s, dir)
    pqServeStream(s, emb, emb.filter(col("vec_id") < AnnEval.QuerySlice),
      k = P.K, nLists = P.NLists, nProbe = P.NProbe, m = P.M,
      codes = P.Codes, refine = P.Refine)
  }

  // ---------------------------------------------------------------------
  // s47 — INCREMENTALLY MAINTAINED PQ-code store: s45's memory-scale
  // serving with its one-shot code-store build replaced by the s40
  // DeltaStore discipline. PQ encoding against the FIXED quantizer is
  // row-local, so arriving vectors encode to batch-grain deltas BY
  // CONSTRUCTION (an append never reads the store); the cell-partitioned
  // layout is restored at every staged compaction, and the serve reads
  // base∪delta with the probe-cell set still pushed as static partition
  // filters into every scan below the union (PlanSpec pins it). Codes
  // are integers and rows are row-grain, so the incrementally
  // maintained store is value-identical to the one-shot build at any
  // batching/compaction schedule — the final serve (pqProbed/pqAdcRank,
  // the x114 kernel verbatim; exact rerank against the STATIC
  // embeddings relation — the code store never carries raw vectors)
  // hash-checks against x114's DuckDB oracle VERBATIM.
  // At 100 TB: per-refresh cost ∝ new data (encode + a batch-grain
  // write), compaction amortized on the caller's schedule; the durable
  // index stays m bytes-ish per vector (~8 GB of codes vs ~256 GB of
  // floats at 10⁹ × 64-dim).
  // ---------------------------------------------------------------------

  /** The s47 PQ-code DeltaStore at `root` — ONE definition of its
    * schema (vec_id, code_0..code_{m−1}, cell), cell-partitioned
    * base/delta layout and identity merge, shared by the maintenance
    * stream (the OWNER) and the gateway's `pq_store=` live read path (a
    * NON-owner, strictly [[graft.store.DeltaStore.readOnly]]). */
  private[graft] def pqCodeStore(s: SparkSession, root: String,
                                 m: Int): graft.store.DeltaStore = {
    val codeSchema = StructType(
      StructField("vec_id", LongType) +:
      (0 until m).map(j => StructField(s"code_$j", IntegerType)) :+
      StructField("cell", LongType))
    def cellPartitioned(d: DataFrame, path: String): Unit =
      d.repartition(col("cell")).write.mode("overwrite")
        .partitionBy("cell").parquet(path)
    new graft.store.DeltaStore(root, codeSchema,
      cellPartitioned, cellPartitioned, identity)
  }

  /** The s47 core (s49 with `retention = true`). `workDir`/`onBatch`:
    * the s34–s46 restart hooks; the checkpoint plus the DeltaStore
    * batch-id watermark make every batch exactly-once across
    * crash+resume.
    *
    * `retention` applies the s46 TTL-at-merge discipline to the code
    * store — and because PQ codes are row-grain (no derived integer-sum
    * stores at this layer), expiry is NOTHING BUT the compact-time row
    * filter: mid-stream merges expire below max(vec_id)/8, the final
    * forced merge advances to max(vec_id)/4, and the serve hash-checks
    * against the x114 oracle restricted by the same watermark
    * (ExtendedQueries.retainedPqServeSql). The fixed quantizer stays a
    * reference artifact of the full table, never expired. */
  private[graft] def pqMaintainServe(s: SparkSession, items: DataFrame,
                                     queries: DataFrame, k: Int,
                                     nLists: Int, nProbe: Int, m: Int,
                                     codes: Int, refine: Int,
                                     compactEvery: Int = 2,
                                     retention: Boolean = false,
                                     workDir: Option[String] = None,
                                     onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.SimilaritySearch
    import graft.store.DeltaStore
    val r = Replay(if (retention) "graft_s49_" else "graft_s47_", workDir)

    val src = items.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").as("vec"))
    // the retention horizon is checked first — an empty corpus is named
    // as such, not as missing quantizer rows — and BEFORE the input is
    // staged (as s50's horizonThenStage): staging beside a failing check
    // would commit input that a resume then never re-stages
    val wFinal = if (!retention) Long.MinValue else {
      val top = src.agg(max(col("vec_id"))).collect()(0)
      require(!top.isNullAt(0), "s49: empty corpus — no retention horizon")
      top.getLong(0) / 4
    }
    val (fixedRows, dsub) = SimilaritySearch.pqFixedRows(src, nLists, m, codes)
    val codeStore = pqCodeStore(s, s"${r.dir}/store/codes", m)
    r.stage(src.select(col("vec_id"), col("vec").as("embedding")).repartition(3))
    val wMid = wFinal / 2

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      // row-local encode against the fixed quantizer — batch-grain by
      // construction, never reads the store
      codeStore.append(s, id, SimilaritySearch.pqEncoded(
        b.select(col("vec_id"), col("embedding").as("vec")),
        fixedRows, nLists, m, codes, dsub))
      if ((id + 1) % compactEvery == 0)
        codeStore.compact(s,
          if (retention) _.filter(col("vec_id") >= wMid) else identity)
    }

    // s49's final retention merge: advance the watermark, forced (expiry
    // must run even with no new deltas since the last compaction). The
    // probe pin + cell collect read only queries + the driver-held
    // quantizer — independent of the store → concurrent with the merge
    // (§2.6); the store read below happens strictly after both settle.
    val qB = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_vec"))
    var probed: DataFrame = null
    var cells: Array[Long] = null
    inParallel(
      () => if (retention)
        codeStore.compact(s, _.filter(col("vec_id") >= wFinal), force = true),
      () => {
        probed = SimilaritySearch.pqProbed(qB, fixedRows, nLists, nProbe,
          m, codes, dsub).localCheckpoint()
        // the bounded probe-cell set (≤ nLists longs by construction)
        // pushed as static partition filters below the base∪delta union
        // — every scan, base and deltas alike, prunes to the probed cells
        cells = probed.select("cell").distinct()
          .collect().map(_.getLong(0)).sorted
      })
    val store = codeStore.read(s)
      .filter(col("cell").isin(cells.map(Long.box): _*))
    val served = if (retention) store.filter(col("vec_id") >= wFinal) else store
    SimilaritySearch.pqAdcRank(served, probed, src, qB, k, m, codes, refine)
      .orderBy("query_id", "rank")
  }

  def streamPqMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    val emb = Tables.embeddings(s, dir)
    pqMaintainServe(s, emb, emb.filter(col("vec_id") < AnnEval.QuerySlice),
      k = P.K, nLists = P.NLists, nProbe = P.NProbe, m = P.M,
      codes = P.Codes, refine = P.Refine)
  }

  /** s49 — RETENTION for the PQ code store: the last of the serving
    * stores that grew forever (VERDICT r17 named postings/df/stats/IVF
    * — closed by s46 — and the s45 code store — closed here). */
  def streamPqRetention(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    val emb = Tables.embeddings(s, dir)
    pqMaintainServe(s, emb, emb.filter(col("vec_id") < AnnEval.QuerySlice),
      k = P.K, nLists = P.NLists, nProbe = P.NProbe, m = P.M,
      codes = P.Codes, refine = P.Refine, retention = true)
  }

  // ---------------------------------------------------------------------
  // s38 — STREAMED BM25 serving: s37's lexical sibling. The inverted
  // index is built ONCE as durable bucketed-sorted tables — postings
  // (token, doc_id, tf, dl) and the vocabulary df relation, both
  // bucketed AND sortBy'd on token; corpus stats collected once as
  // literals — and query batches stream against it. Per batch, the
  // query token set (batch-sized BY CONSTRUCTION: micro-batch size is
  // an ingest knob) is collected and pushed as a LITERAL IN predicate
  // into both store scans — the s36 boundary's named escape route #2
  // made real: a literal IN (unlike s36's runtime set-membership)
  // reaches parquet row-group stats, and the sortBy(token) layout makes
  // those stats selective, so non-matching posting lists are skipped at
  // the SCAN, exactly what an inverted index is for. (s36's shingle
  // batches were corpus-share-sized, so the same route was unavailable
  // there; the boundary note documents this contrast.) Scoring,
  // rarest-BmQTerms budgeting, and ranking reuse x71's exact column
  // expressions (Curation.bm25Weight), so the streamed result is
  // value-identical to x71's batch answer and HASH-CHECKS against the
  // same DuckDB oracle. Batching-independence: each query meets the
  // complete static index exactly once.
  // ---------------------------------------------------------------------

  /** s39/s40 fixture-boundary guard (ADVICE r16): their oracle's
    * semantic arm probes EMBEDDINGS directly at the eval slice, while
    * the query set carries only qDocs doc_ids — the two agree iff every
    * eval-slice embedding vec_id has a documents row. Assert the subset
    * loudly (an eval-slice-sized anti-join, two tiny relations) so a
    * future fixture change fails here, not as an opaque hash diff. */
  private def requireEvalSliceCovered(srcE: DataFrame, qDocs: DataFrame,
                                      benchMod: Int, entry: String): Unit = {
    val orphanEvalVecs = srcE
      .filter(col("vec_id") % benchMod === 0 &&
        col("vec_id") < graft.operators.Curation.BmQueryIdMax)
      .join(qDocs.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_anti")
      .count()
    require(orphanEvalVecs == 0,
      s"$entry fixture boundary: $orphanEvalVecs eval-slice embedding " +
        "vec_ids have no matching documents row (vec_id ≡ doc_id " +
        "invariant broken — oracle and stream would diverge)")
  }

  /** Collect a batch-bounded token set for a literal-IN pushdown, up to
    * the [[graft.operators.Curation.BmInMaxTerms]] cap: Some(sorted
    * tokens) when the set fits (the limit(cap+1) probe collected
    * everything, so the arbitrary-order limit is the complete set),
    * None when it overflows and the caller must take the semi-join
    * route. */
  private def inListOrNone(toks: DataFrame, cap: Int): Option[Seq[String]] = {
    val got = toks.limit(cap + 1).collect().map(_.getString(0))
    if (got.length <= cap) Some(got.sorted.toIndexedSeq) else None
  }

  /** The one-time BM25 inverted-index build — ONE definition of the
    * serving-index format, shared by s38, the s39 hybrid's lexical arm,
    * and the gateway /search build (hand-kept copies would let a
    * tokenizer or dl-semantics change silently desync the gateway from
    * the hash-checked stream path).
    * Postings (doc_id, token, tf, dl) written bucketed+sorted on token
    * at `$whDir/tf`; df DERIVED from the postings store (tf rows are
    * (doc, token)-grain, so count-per-token IS df — and grouping the
    * bucketed table on its own bucket key aggregates bucket-locally,
    * no exchange; measured ~10% off the s38 entry wall at sf0.1 vs a
    * second corpus tokenize pass) at `$whDir/df`; corpus stats
    * collected once and returned as the two scalars every serve
    * inlines as literals. */
  private[graft] def buildBm25Index(s: SparkSession, items: DataFrame,
                                    whDir: String, tfTbl: String,
                                    dfTbl: String,
                                    alongside: (() => Unit)*): (Long, Double) = {
    val tf = items.select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    // stats stay a SCAN-ONLY regex pass (no explode, no shuffle).
    // Deriving them from the materialized tf table was tried in r20 and
    // MEASURED A LOSS (s38 warm median 7.7 s → 13.1 s): the
    // doc-grain agg over the token-bucketed postings pays a read of the
    // whole postings relation plus a doc-keyed exchange, which at this
    // corpus-to-vocabulary ratio costs more than one more cheap regex
    // scan of the text — the x71 in-plan argument holds for the
    // materialized form too.
    //
    // The three build jobs have exactly one dependency edge — df is
    // DERIVED from the tf table — so the stats scan (and any caller
    // lanes: query staging, the s39 IVF build) runs CONCURRENTLY with
    // the tf→df write chain (§2.6): before this the build was a queue
    // of corpus-sized jobs, each leaving the cores idle in its tail.
    @volatile var statsRow: org.apache.spark.sql.Row = null
    inParallel(Seq(
      () => {
        writeBucketedBy(tf, s"$whDir/tf", tfTbl, "token")
        val df = s.table(tfTbl).groupBy("token").agg(count(lit(1)).as("df"))
        writeBucketedBy(df, s"$whDir/df", dfTbl, "token")
      },
      () => statsRow = items.select(size(toksCol).as("doclen"))
        .filter(col("doclen") > 0)
        .agg(count(lit(1)).as("n_docs"), avg(col("doclen")).as("avgdl"))
        .collect()(0)
    ) ++ alongside: _*)
    require(!statsRow.isNullAt(1),
      "BM25 index build: corpus has no tokenized item docs (avgdl undefined)")
    (statsRow.getLong(0), statsRow.getDouble(1))
  }

  /** The per-batch BM25 serve against the bucketed-sorted inverted
    * index — shared by s38, the s39 hybrid's lexical arm, and s40's
    * incremental-index serve. The batch-bounded driver token sets
    * (distinct tokens of a micro-batch of queries; then the
    * ≤ BmQTerms × |batch| budgeted subset) are pushed as LITERAL IN
    * predicates into the df and tf store scans: row-group stats on the
    * sortBy'd token column prune non-matching posting lists at the
    * scan. Beyond IN-list scale ([[graft.operators.Curation.BmInMaxTerms]]
    * tokens per trigger) each site falls back to the s36 broadcast
    * left-semi prune — merge-row pruning without a driver-sized literal
    * list; both routes are value-identical (StreamingSpec pins it). */
  private[graft] def bm25BatchRank(s: SparkSession, b: DataFrame,
                                   tfRel: DataFrame, dfRel: DataFrame,
                                   nDocs: Long, avgdl: Double,
                                   k: Int,
                                   inMaxTerms: Int =
                                     graft.operators.Curation.BmInMaxTerms)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Curation
    def qt = b.select(col("query_id"), explode(toksCol).as("token")).distinct()
    val dfB = inListOrNone(qt.select("token").distinct(), inMaxTerms) match {
      case Some(toks) => dfRel.filter(col("token").isin(toks: _*))
      case None => dfRel.join(broadcast(qt.select("token")),
        Seq("token"), "left_semi")
    }
    val qw = Window.partitionBy("query_id")
      .orderBy(col("df").asc, col("token").asc)
    val qsel = qt.join(dfB, "token")
      .withColumn("tr", row_number().over(qw))
      .filter(col("tr") <= Curation.BmQTerms)
      .select("query_id", "token", "df")
    val tfB = inListOrNone(qsel.select("token").distinct(), inMaxTerms) match {
      case Some(toks) => tfRel.filter(col("token").isin(toks: _*))
      case None => tfRel.join(broadcast(qsel.select("token")),
        Seq("token"), "left_semi")
    }
    val rw = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id").asc)
    tfB.join(broadcast(qsel), "token")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("w", Curation.bm25Weight)
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("w")), 6).as("bm25"))
      .withColumn("rnk", row_number().over(rw))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "bm25", "rnk")
  }

  /** The s38 core. `workDir`/`onBatch`: the s34/s36 restart-recovery
    * hooks; the index build is overwrite-mode idempotent (in production
    * the tables persist per corpus refresh). */
  private[graft] def bm25ServeStream(s: SparkSession, docs: DataFrame,
                                     benchMod: Int, k: Int,
                                     workDir: Option[String] = None,
                                     onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.Curation
    val r = Replay("graft_s38_", workDir)
    val tfTbl = s"${r.tag}_tf"; val dfTbl = s"${r.tag}_df"
    val items = docs.filter(col("doc_id") % benchMod =!= 0)
    val queries = docs.filter(col("doc_id") % benchMod === 0 &&
      col("doc_id") < Curation.BmQueryIdMax)

    try {
      // the one-time index build — the only corpus-sized shuffles
      // (corpus stats: two scalars, collected once per stream and
      // inlined as literals — x71 crossJoins the same values; identical
      // doubles flow into the shared weight expression). Query staging
      // rides the build's concurrent group (§2.6): it reads only
      // `queries`, independent of every index job.
      val (nDocs, avgdl) = buildBm25Index(s, items, s"${r.dir}/wh", tfTbl, dfTbl,
        () => r.stage(queries.select(col("doc_id"), col("text")).repartition(3)))

      r.mapBatches(s, onBatch = onBatch)(b => bm25BatchRank(s,
          b.select(col("doc_id").as("query_id"), col("text")),
          s.table(tfTbl), s.table(dfTbl), nDocs, avgdl, k))
        .select("query_id", "doc_id", "bm25", "rnk")
        .orderBy("query_id", "rnk")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $tfTbl")
      s.sql(s"DROP TABLE IF EXISTS $dfTbl")
    }
  }

  def streamBm25Serve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    bm25ServeStream(s, Tables.documents(s, dir), Curation.BenchMod, Curation.BmK)
  }

  // ---------------------------------------------------------------------
  // s39 — STREAMED HYBRID serving: the full two-retriever read path of a
  // RAG / contamination-triage stack as ONE stream. Three durable
  // stores built once (s38's postings + df inverted index, s37's
  // cell-partitioned IVF index); ONE query stream carrying both
  // modalities (text + embedding, left-joined — a query without an
  // embedding ranks lexically only, exactly x76's full-outer fusion
  // semantics); per batch, both arms run their store-pruned rankings at
  // the fusion depth and the reciprocal-rank fusion is BATCH-LOCAL
  // EXACT, because one stream row carries a query's both modalities —
  // both arms for a query always land in the same trigger. Arms reuse
  // annBatchRank / bm25BatchRank verbatim and the fusion reuses
  // SimilaritySearch.rrfFuse, so the streamed result hash-checks
  // against a composed DuckDB oracle (x71's CTE chain at the fusion
  // depth + the s37 IVF oracle at the eval-slice query set + x76's
  // fusion arithmetic).
  // ---------------------------------------------------------------------

  /** The s39 core. `workDir`/`onBatch`: the s34–s38 restart hooks. */
  private[graft] def hybridServeStream(s: SparkSession, docs: DataFrame,
                                       emb: DataFrame, benchMod: Int,
                                       listK: Int, k0: Int, k: Int,
                                       nLists: Int, nProbe: Int,
                                       workDir: Option[String] = None,
                                       onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.{Curation, SimilaritySearch}
    val r = Replay("graft_s39_", workDir)
    val tfTbl = s"${r.tag}_tf"; val dfTbl = s"${r.tag}_df"; val idxTbl = s"${r.tag}_ivf"
    val items = docs.filter(col("doc_id") % benchMod =!= 0)
    val qDocs = docs.filter(col("doc_id") % benchMod === 0 &&
      col("doc_id") < Curation.BmQueryIdMax)
    val srcE = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    // fixed centroids from the table head (the x114 rule: quantizer ids
    // 0..nLists-1 of the FULL table — a quantizer is a reference
    // artifact, not a corpus member)
    val cents = SimilaritySearch.collectFixedRows(
      srcE.filter(col("vec_id") < nLists), nLists)

    try {
      // store builds — the only corpus-sized jobs (s38's + s37's). The
      // IVF build and the query staging (fixture check first) are
      // independent of every BM25 job, so both ride the build's
      // concurrent group (§2.6) instead of queueing behind it.
      val (nDocs, avgdl) = buildBm25Index(s, items, s"${r.dir}/wh", tfTbl, dfTbl,
        () => srcE.filter(col("vec_id") % benchMod =!= 0)
          .select(col("vec_id"), col("embedding"),
            SimilaritySearch.argmaxCell(col("embedding"), cents).as("cell"))
          .repartition(col("cell"))
          .write.mode("overwrite").option("path", s"${r.dir}/wh/ivf")
          .partitionBy("cell").saveAsTable(idxTbl),
        () => {
          requireEvalSliceCovered(srcE, qDocs, benchMod, "s39")
          r.stage(servingQueries(qDocs, srcE).repartition(3))
        })

      r.mapBatches(s, onBatch = onBatch) { b =>
        val lex = bm25BatchRank(s,
            b.select(col("doc_id").as("query_id"), col("text")),
            s.table(tfTbl), s.table(dfTbl), nDocs, avgdl, listK)
          .select(col("query_id"), col("doc_id"), col("rnk").as("rank"))
        val sem = annBatchRank(s,
            b.filter(col("embedding").isNotNull)
              .select(col("doc_id").as("query_id"),
                col("embedding").as("q_vec")),
            s.table(idxTbl), cents, nProbe, listK)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        SimilaritySearch.rrfFuse(lex, sem, k0 = k0, k = k)
      }
        .select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf", "rank")
        .orderBy("query_id", "rank")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $tfTbl")
      s.sql(s"DROP TABLE IF EXISTS $dfTbl")
      s.sql(s"DROP TABLE IF EXISTS $idxTbl")
    }
  }

  def streamHybridServe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    hybridServeStream(s, Tables.documents(s, dir), Tables.embeddings(s, dir),
      Curation.BenchMod, listK = CQ.HybridListK, k0 = CQ.RrfK0,
      k = CQ.HybridK, nLists = P.NLists, nProbe = P.NProbe)
  }

  // ---------------------------------------------------------------------
  // s40 — INCREMENTAL serving-index MAINTENANCE: the production posture
  // the s37–s39 scaladocs only named in prose ("the table persists and
  // rebuilds once per corpus refresh") made real — here the CORPUS is
  // the stream, and the serving indexes are maintained incrementally as
  // it arrives instead of rebuilt from scratch. Each micro-batch
  // appends batch-grain deltas to four durable DeltaStores (postings
  // rows and IVF cell rows are row-grain — a new doc only ADDS rows;
  // df and the corpus stats are exact integer partial sums — the s32
  // algebraic-partials argument at vocabulary grain), and every
  // `compactEvery` batches each store folds base∪deltas into a fresh
  // compacted base via the FingerprintStore staged swap (bucket-local
  // layout: token-hash-partitioned sorted files for the inverted index,
  // cell partitions for the IVF index), crash-recoverable at any point.
  // Because every stored relation is either row-grain or an exact
  // integer sum, the incrementally-maintained index is VALUE-IDENTICAL
  // to a from-scratch rebuild regardless of batching or compaction
  // schedule — so the final serve (both arms + RRF fusion, reusing
  // bm25BatchRank / annBatchRank / rrfFuse against the merged
  // base∪delta views) hash-checks against s39's oracle VERBATIM.
  // At 100 TB: per-batch cost ∝ batch (appends never read the store);
  // compaction is the only store-sized job and is amortized on the
  // caller's schedule — the standard LSM contract.
  // ---------------------------------------------------------------------

  /** The four serving-index DeltaStores of s40/s43 under `root` — ONE
    * definition of their schemas, base/delta layouts, and merge
    * semantics, shared by the maintenance stream (the store OWNER,
    * which appends/compacts/recovers) and the gateway's live read path
    * (a NON-owner, which must use [[graft.store.DeltaStore.readOnly]]).
    *
    * Base layout = the serve path's pruning contract: inverted-index
    * stores are token-hash-partitioned files each SORTED on token
    * (row-group stats selective under the literal-IN route); the IVF
    * store is cell-PARTITIONED (probe sets become partition filters).
    * Deltas are batch-grain and keep the same per-file sort/partition
    * shape at a small file count. df and corpus stats fold by exact
    * integer SUM at compaction (the s32 algebraic-partials argument);
    * postings and IVF rows are row-grain (a new doc only adds rows). */
  private type ServingStores = (graft.store.DeltaStore, graft.store.DeltaStore,
    graft.store.DeltaStore, graft.store.DeltaStore)

  private[graft] def servingDeltaStores(s: SparkSession, root: String)
      : ServingStores = {
    import graft.store.DeltaStore
    val tfSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("token", StringType), StructField("tf", LongType),
      StructField("dl", IntegerType)))
    val dfSchema = StructType(Seq(StructField("token", StringType),
      StructField("df", LongType)))
    val statSchema = StructType(Seq(StructField("n_docs", LongType),
      StructField("sum_dl", LongType)))
    val ivfSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", LongType)))
    def sortedBy(key: String, files: Int)(d: DataFrame, path: String): Unit =
      d.repartition(files, col(key)).sortWithinPartitions(key)
        .write.mode("overwrite").parquet(path)
    def cellPartitioned(d: DataFrame, path: String): Unit =
      d.repartition(col("cell")).write.mode("overwrite")
        .partitionBy("cell").parquet(path)
    def tinyRows(d: DataFrame, path: String): Unit =
      d.coalesce(1).write.mode("overwrite").parquet(path)
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    (new DeltaStore(s"$root/tf", tfSchema,
       sortedBy("token", nPart), sortedBy("token", 4), identity),
     new DeltaStore(s"$root/df", dfSchema,
       sortedBy("token", 4), sortedBy("token", 1),
       _.groupBy("token").agg(sum("df").as("df"))),
     new DeltaStore(s"$root/stats", statSchema,
       tinyRows, tinyRows,
       _.agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
         coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"))),
     new DeltaStore(s"$root/ivf", ivfSchema,
       cellPartitioned, cellPartitioned, identity))
  }

  /** ONE definition of the hybrid serve against however-maintained
    * index views — s40/s43's serveNow and s46's retained serve all rank
    * through this: BM25 arm over (tfView, dfView re-grouped — deltas
    * may carry per-batch partial rows for a token), ANN arm over
    * ivfView, corpus stats folded from statView's exact integer
    * partials, RRF fusion at the s39 depths. `queries` carries
    * (doc_id, text, embedding). */
  private[graft] def serveHybridViews(s: SparkSession, entry: String,
                                      tfView: DataFrame, dfView: DataFrame,
                                      statView: DataFrame, ivfView: DataFrame,
                                      queries: DataFrame,
                                      cents: IndexedSeq[Array[Float]],
                                      nProbe: Int, listK: Int, k0: Int,
                                      k: Int): DataFrame = {
    import graft.operators.SimilaritySearch
    val dfG = dfView.groupBy("token").agg(sum("df").as("df"))
    val st = statView
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"))
      .collect()(0)
    val nDocs = st.getLong(0)
    require(nDocs > 0,
      s"$entry serve: corpus has no tokenized item docs (avgdl undefined)")
    val avgdl = st.getLong(1).toDouble / nDocs
    val lex = bm25BatchRank(s,
        queries.select(col("doc_id").as("query_id"), col("text")),
        tfView, dfG, nDocs, avgdl, listK)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rank"))
    val sem = annBatchRank(s,
        queries.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("query_id"),
            col("embedding").as("q_vec")),
        ivfView, cents, nProbe, listK)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
    SimilaritySearch.rrfFuse(lex, sem, k0 = k0, k = k)
      .select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf", "rank")
  }

  /** The query docs with their embeddings (left join — a query without
    * an embedding ranks lexically only): the serving query relation of
    * s39–s53. */
  private def servingQueries(qDocs: DataFrame, srcE: DataFrame): DataFrame =
    qDocs.select(col("doc_id"), col("text"))
      .join(srcE.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "left")

  /** The s39–s53 split of (documents, embeddings): item docs (the
    * corpus), query docs (the eval slice), all embeddings, item
    * embeddings. */
  private def servingSplit(docs: DataFrame, emb: DataFrame, benchMod: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val srcE = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    (docs.filter(col("doc_id") % benchMod =!= 0),
     docs.filter(col("doc_id") % benchMod === 0 &&
       col("doc_id") < graft.operators.Curation.BmQueryIdMax),
     srcE, srcE.filter(col("vec_id") % benchMod =!= 0))
  }

  /** df from postings: tf rows are (doc, token)-grain, so count per
    * token IS df (the s38 argument). */
  private def dfOf(tf: DataFrame): DataFrame =
    tf.groupBy("token").agg(count(lit(1)).as("df"))

  /** Corpus stats from postings: n_docs = docs present in tf, sum_dl =
    * Σ per-doc dl — exact integers. */
  private def statsOf(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("sum_dl"))

  /** One batch's (tf, df, stats, ivf) deltas for the four serving
    * DeltaStores (s40, s46, s50) — none of them reads a store. The
    * batch is TOKENIZED ONCE: tf is pinned, and df and the corpus stats
    * derive from it (each previously re-ran the regex tokenize over the
    * batch); ivf rows are the embeddings' fixed-centroid cells. */
  private def indexDeltas(docs: DataFrame, cents: IndexedSeq[Array[Float]])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .select("doc_id", "token", "tf", "dl")
      .localCheckpoint()
    (tf, dfOf(tf), statsOf(tf),
     docs.filter(col("embedding").isNotNull)
       .select(col("doc_id").as("vec_id"), col("embedding"),
         graft.operators.SimilaritySearch.argmaxCell(col("embedding"), cents)
           .as("cell")))
  }

  /** Append one batch's [[indexDeltas]] — the four appends write
    * disjoint stores from pinned/batch inputs → concurrent (§2.6). */
  private def appendIndexDeltas(s: SparkSession, stores: ServingStores,
                                id: Long, docs: DataFrame,
                                cents: IndexedSeq[Array[Float]]): Unit = {
    val (tfStore, dfStore, statStore, ivfStore) = stores
    val (tf, df, stats, ivf) = indexDeltas(docs, cents)
    inParallel(
      () => tfStore.append(s, id, tf), () => dfStore.append(s, id, df),
      () => statStore.append(s, id, stats), () => ivfStore.append(s, id, ivf))
  }

  /** One retention merge of the serving stores at watermark `w` (s46,
    * s50): the row-grain stores (tf, ivf) filter inside their
    * compaction, concurrently with the caller's `alsoCompact`; `onMid`
    * fires once every compaction committed; df and the stats then
    * REBASE onto relations re-derived from the retained postings. Every
    * step is the staged swap — interruptible anywhere, recovered by the
    * next pass. The pass is bracketed by the store-group [[StoreEpoch]]
    * so a non-owner reader (the gateway) can detect — and refuse — the
    * window where tf/ivf are already expired but df/stats still
    * describe the lifetime corpus (VERDICT r19 task 2). */
  private def retentionMerge(s: SparkSession, root: String,
                             stores: ServingStores, w: Long, force: Boolean,
                             alsoCompact: Seq[() => Unit] = Nil,
                             onMid: () => Unit = () => ()): Unit = {
    val (tfStore, dfStore, statStore, ivfStore) = stores
    graft.store.StoreEpoch.begin(s, root)
    // the compactions touch disjoint stores → one concurrent group; both
    // expiries must COMPLETE before the rebases read the retained tf
    // (§2.6 overlap with an explicit barrier at the dependency)
    inParallel(Seq(
      () => tfStore.compact(s, _.filter(col("doc_id") >= w), force),
      () => ivfStore.compact(s, _.filter(col("vec_id") >= w), force)) ++
      alsoCompact: _*)
    onMid()
    val tfView = tfStore.read(s)
    inParallel(
      () => dfStore.rebase(s, dfOf(tfView)),
      () => statStore.rebase(s, statsOf(tfView)))
    graft.store.StoreEpoch.end(s, root)
  }

  /** The s40 core. `workDir`/`onBatch`: the s34–s39 restart hooks; the
    * checkpoint plus the DeltaStores' batch-id watermarking make every
    * batch exactly-once across crash+resume (a replayed batch
    * overwrites its own delta dirs, or is skipped where a compaction
    * already folded it). */
  private[graft] def incrementalIndexServe(s: SparkSession, docs: DataFrame,
                                           emb: DataFrame, benchMod: Int,
                                           listK: Int, k0: Int, k: Int,
                                           nLists: Int, nProbe: Int,
                                           compactEvery: Int = 2,
                                           serveEachBatch: Boolean = false,
                                           workDir: Option[String] = None,
                                           onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.SimilaritySearch
    val entry = if (serveEachBatch) "s43" else "s40"
    val r = Replay(s"graft_${entry}_", workDir)
    val stages = graft.queries.CurationQueries.AsofStages
    val (items, qDocs, srcE, itemE) = servingSplit(docs, emb, benchMod)
    val cents = SimilaritySearch.collectFixedRows(
      srcE.filter(col("vec_id") < nLists), nLists)

    val stores @ (tfStore, dfStore, statStore, ivfStore) =
      servingDeltaStores(s, s"${r.dir}/store")

    requireEvalSliceCovered(srcE, qDocs, benchMod, entry)
    // the corpus stream: item docs FULL-OUTER item embeddings, so an
    // embedding without a document row (and vice versa) still arrives
    val joined = items.select(col("doc_id"), col("text"))
      .join(itemE.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "full_outer")
    if (serveEachBatch)
      // s43 needs DETERMINISTIC batch contents (each serve is
      // hash-checked against its arrived-prefix oracle): one file per
      // stage (stage = doc_id % AsofStages), staged in order — the
      // per-batch stage assert below makes any ordering drift loud
      // instead of a silent hash diff
      r.stageOrdered((0 until stages).map(st =>
        joined.filter(pmod(col("doc_id"), lit(stages.toLong)) === st)))
    else r.stage(joined.repartition(3))

    // the serve: both arms against the merged base∪delta views — the
    // literal-IN / partition filters push below the union to every base
    // and delta scan. s43 runs it after EVERY maintenance batch
    // (serve-while-maintain), s40 once at the end, s46 over the
    // retention-filtered views — ONE definition of the serve semantics
    // for all of them (serveHybridViews).
    def serveNow(): DataFrame =
      serveHybridViews(s, entry, tfStore.read(s), dfStore.read(s),
        statStore.read(s), ivfStore.read(s), servingQueries(qDocs, srcE),
        cents, nProbe, listK, k0, k)

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      appendIndexDeltas(s, stores, id, b, cents)
      if ((id + 1) % compactEvery == 0) inParallel(
        () => tfStore.compact(s), () => dfStore.compact(s),
        () => statStore.compact(s), () => ivfStore.compact(s))
      if (serveEachBatch) {
        // the file-order contract made loud: every batch must be
        // exactly its stage's file (a scrambled arrival would serve a
        // NON-prefix corpus and fail here, not as an opaque hash diff)
        val seen = b.select(pmod(col("doc_id"), lit(stages.toLong))
            .cast("int").as("st")).distinct()
          .collect().map(_.getInt(0)).toSet
        require(seen == Set(id.toInt),
          s"s43: batch $id carried stages $seen (file order broken)")
        r.emit(serveNow().withColumn("stage", lit(id.toInt)), id)
      }
    }

    if (serveEachBatch)
      // with no batch served, the answer is the serve over whatever the
      // stores hold (an empty corpus fails loudly there, as s40 does)
      r.readBack(s)(_ => serveNow().withColumn("stage", lit(0)))
        .select("stage", "query_id", "doc_id", "lex_rank", "sem_rank",
          "rrf", "rank")
        .orderBy("stage", "query_id", "rank")
    else
      serveNow().orderBy("query_id", "rank")
  }

  def streamIndexMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    incrementalIndexServe(s, Tables.documents(s, dir),
      Tables.embeddings(s, dir), Curation.BenchMod,
      listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
      nLists = P.NLists, nProbe = P.NProbe)
  }

  /** s43 — SERVE-WHILE-MAINTAIN: s40's incremental maintenance with a
    * hybrid serve after EVERY micro-batch, each result tagged with its
    * as-of stage — the live posture where queries do not wait for the
    * corpus refresh to finish. The incremental stores' row-grain /
    * exact-integer-sum contract is what makes every INTERMEDIATE state
    * (not just the final one) value-identical to a from-scratch rebuild
    * over the arrived prefix, and the oracle checks exactly that: one
    * prefix-restricted s39 serve per as-of point
    * ([[graft.queries.CurationQueries.serveWhileMaintainSql]]). Batch
    * contents are DETERMINISTIC here (one file per doc_id%AsofStages
    * stage, explicit ascending mod times) because intermediate results
    * are part of the checked output — s40 stays batching-invariant, s43
    * pins the batching and asserts it per batch. With compactEvery = 2
    * the three serves cover all store states: pure-delta (asof 0),
    * freshly-compacted base (asof 1), and base∪delta (asof 2). */
  def streamServeWhileMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    incrementalIndexServe(s, Tables.documents(s, dir),
      Tables.embeddings(s, dir), Curation.BenchMod,
      listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
      nLists = P.NLists, nProbe = P.NProbe, serveEachBatch = true)
  }

  // ---------------------------------------------------------------------
  // s46 — RETENTION at the serving-index layer: the B3 TTL semantic
  // (clickhouse_tables.sql:19,36,53,71 — ClickHouse enforces TTL when
  // parts MERGE) applied to s40's four serving DeltaStores, which until
  // now grew forever (VERDICT r17 "what's missing"). Expiry happens at
  // compaction — the one moment each store is already being rewritten —
  // so it costs nothing beyond the merge that was happening anyway:
  // the row-grain stores (postings, IVF vectors) drop expired-doc rows
  // through compact's retention hook; df and the corpus stats are
  // integer SUMS over doc contributions a row filter cannot subtract,
  // so they REBASE onto relations re-derived from the retained postings
  // (a bucket-local groupBy of the freshly compacted token-sorted base
  // — the buildBm25Index df-derivation argument at compaction time).
  // The retention watermark ADVANCES across compactions (wFinal/2
  // in-stream, wFinal at the final merge), so rows admitted and even
  // already-compacted earlier genuinely expire at a later merge — not
  // just ingress filtering. Age axis: doc_id, the fixture's
  // ingest-order key (production would use an ingest timestamp column;
  // identical mechanics). The final serve is value-identical to a
  // from-scratch s39 build over the RETAINED corpus, and hash-checks
  // against the s39/s40 oracle restricted by the same watermark
  // (CurationQueries.retainedServeSql — max(doc_id)//4 on both
  // engines). At 100 TB: post-expiry serve cost tracks the RETAINED
  // corpus, not the lifetime one — the receipt ScaleCheck measures.
  // ---------------------------------------------------------------------

  /** The s46 core. `workDir`/`onBatch`: the s34–s45 restart hooks; every
    * retention step is the DeltaStore staged swap, so a crash at any
    * point of an expiry pass recovers exactly like a plain compaction. */
  private[graft] def retainedIndexServe(s: SparkSession, docs: DataFrame,
                                        emb: DataFrame, benchMod: Int,
                                        listK: Int, k0: Int, k: Int,
                                        nLists: Int, nProbe: Int,
                                        compactEvery: Int = 2,
                                        workDir: Option[String] = None,
                                        onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.SimilaritySearch
    val r = Replay("graft_s46_", workDir)
    val (items, qDocs, srcE, itemE) = servingSplit(docs, emb, benchMod)
    val cents = SimilaritySearch.collectFixedRows(
      srcE.filter(col("vec_id") < nLists), nLists)
    // the retention horizon, derived from the corpus on BOTH engines
    // (Scala long division here, BIGINT // in the oracle): retain the
    // newest 3/4 of the id range; the mid-stream watermark is half that,
    // so the final merge expires rows an earlier merge retained
    val maxRow = docs.agg(max(col("doc_id"))).collect()(0)
    require(!maxRow.isNullAt(0), "s46: empty corpus — no retention horizon")
    val wFinal = maxRow.getLong(0) / 4
    val wMid = wFinal / 2

    val root = s"${r.dir}/store"
    val stores @ (tfStore, dfStore, statStore, ivfStore) =
      servingDeltaStores(s, root)

    requireEvalSliceCovered(srcE, qDocs, benchMod, "s46")
    r.stage(items.select(col("doc_id"), col("text"))
      .join(itemE.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "full_outer")
      .repartition(3))

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      // batch-grain appends, s40's exactly (retention is
      // merge-enforced, the ClickHouse posture: nothing is filtered
      // at ingest — rows expire when a merge crosses the watermark)
      appendIndexDeltas(s, stores, id, b, cents)
      if ((id + 1) % compactEvery == 0)
        retentionMerge(s, root, stores, wMid, force = false)
    }

    // the final retention merge advances the watermark to wFinal —
    // forced, because expiry must run even when no new deltas arrived
    // since the last compaction
    retentionMerge(s, root, stores, wFinal, force = true)

    // serve over the retained views; the row-grain filters are no-ops
    // right after the forced merge but state the contract explicitly
    // (a mid-epoch serve sees retained-as-of-last-merge ∪ newer deltas)
    serveHybridViews(s, "s46",
        tfStore.read(s).filter(col("doc_id") >= wFinal),
        dfStore.read(s), statStore.read(s),
        ivfStore.read(s).filter(col("vec_id") >= wFinal),
        servingQueries(qDocs, srcE), cents, nProbe, listK, k0, k)
      .orderBy("query_id", "rank")
  }

  def streamIndexRetention(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    retainedIndexServe(s, Tables.documents(s, dir), Tables.embeddings(s, dir),
      Curation.BenchMod, listK = CQ.HybridListK, k0 = CQ.RrfK0,
      k = CQ.HybridK, nLists = P.NLists, nProbe = P.NProbe)
  }

  // ---------------------------------------------------------------------
  // s50 — the STREAMED RELEASE PIPELINE: every production stage the
  // registry carries as its own entry, composed into ONE foreachBatch
  // run (VERDICT r18 task 1) — per micro-batch:
  //   admission (s48's pinned temperature rates, per-doc closed form)
  //   → exact dedup against a DURABLE fingerprint DeltaStore (the s24
  //     semantics with batch-id exactly-once instead of blind appends)
  //   → incremental index maintenance (s40's four serving DeltaStores)
  //   → retention merges (s46's watermark-advancing expiry + df/stats
  //     rebases), finishing with the hybrid serve over the surviving
  //     corpus. The stage INTERACTIONS this pins:
  //   - the dedup winner is chosen among ADMITTED docs only (a rejected
  //     doc can never shadow an admitted duplicate);
  //   - retention expires winners, and an expired winner's
  //     later-arriving duplicate does NOT resurrect the content (it was
  //     dropped at ingest — dedup history outlives index retention,
  //     which is why the fp store compacts WITHOUT a retention filter);
  //   - a crash between the fp append and any index append must replay
  //     to the SAME admission (the fp store is read as-of the previous
  //     batch, so a half-applied batch recomputes identical winners).
  // Input is staged as ascending doc_id ranges (one file per stage,
  // explicit mod times — the s43 determinism machinery), so arrival
  // order ≡ doc_id order and the composed batch oracle can state the
  // winner rule as min(doc_id) per fingerprint
  // (CurationQueries.releaseServeSql). At 100 TB: per-batch cost is the
  // batch-sized admission filter + one anti-join against the fp store +
  // s40's batch-grain index deltas; the only store-sized jobs are the
  // scheduled merges — the same LSM amortization every stage already
  // carries alone.
  // ---------------------------------------------------------------------

  /** The s50/s53 core. `workDir`/`onBatch`: the s30–s49 restart hooks;
    * `onStage(batchId, stage)` fires after each intra-batch stage
    * commits ("fp", then with `gates` "nd"/"quar", then "audit", "tf",
    * "df", "stats", "ivf", "retain") so the crash-resume spec can kill
    * the run at a STAGE boundary — the half-applied-batch states no
    * single-store entry can reach.
    *
    * `gates = true` (s53) inserts the two production gates x106 runs
    * between exact dedup and indexing:
    *  - NEAR-DUP gate: each exact-dedup winner is checked against the
    *    winner HISTORY (every earlier admitted content representative —
    *    prior batches' winners via two durable DeltaStores, plus this
    *    batch's smaller-id winners) at 3-word-shingle jaccard ≥
    *    [[Curation.RelNdThreshold]]; candidates are blocked on shingles
    *    whose df over the CALIBRATION corpus is ≤ [[Curation.RelNdCap]]
    *    (pinned once per stream, the s48 rates posture — time-invariant
    *    blocking is what makes the streamed gate equal the batch oracle
    *    at any arrival split). ALL exact winners enter the history —
    *    a gated-out doc's content is already represented by the winner
    *    that gated it — so the drop rule is non-recursive: drop d iff
    *    SOME earlier exact winner is jaccard-close. The history
    *    compacts WITHOUT a retention filter, exactly like the fp store:
    *    dedup history outlives index retention, so a near-dup of an
    *    EXPIRED winner is still dropped (the s50 non-resurrect semantic
    *    extended to near-duplicates).
    *  - CONTAMINATION quarantine: s33's max-shared-span triage of the
    *    nd survivors against the pinned eval-slice gram set; docs whose
    *    worst island is ≥ [[Curation.RelQuarMinSpan]] tokens are
    *    recorded in a quarantine DeltaStore. Quarantined docs still
    *    enter the serving indexes — quarantine is POLICY, not data
    *    (eval sets evolve; re-triage must not reindex) — and the SERVE
    *    consults the store: tf/ivf rows anti-joined out, df/avgdl
    *    re-derived from the filtered postings (the same tf-grain agg
    *    the retention rebase already runs, so the served scores carry
    *    no quarantine skew).
    * At 100 TB the gate adds per batch: one anti-join against the
    * blocking history (df-capped rows, LSM-compacted), one verify join
    * against the winner shingle arrays (the s36 ref-store posture,
    * ~corpus-sized but winners-only), and the batch-sized span triage
    * against broadcast eval grams. Production pins the hot-shingle
    * exclusion set as a bucketed table or Bloom filter (the
    * Dedup broadcast-Bloom precedent) instead of a driver pin. */
  private[graft] def releasePipelineStream(s: SparkSession, docs: DataFrame,
                                           emb: DataFrame, benchMod: Int,
                                           listK: Int, k0: Int, k: Int,
                                           nLists: Int, nProbe: Int,
                                           stages: Int = 4,
                                           compactEvery: Int = 2,
                                           report: Boolean = false,
                                           gates: Boolean = false,
                                           workDir: Option[String] = None,
                                           onBatch: Long => Unit = _ => (),
                                           onStage: (Long, String) => Unit =
                                             (_, _) => (),
                                           onMergeStage: String => Unit =
                                             _ => ())
      : DataFrame = {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{Curation, SimilaritySearch}
    import graft.store.DeltaStore
    val r = Replay("graft_s50_", workDir)
    val root = s"${r.dir}/store"
    val (items, qDocs, srcE, itemE) = servingSplit(docs, emb, benchMod)
    // stream-setup one-time jobs — quantizer collect, retention-horizon
    // scan (s46's max(doc_id)//4 + s43's ascending-range determinism),
    // admission-rates pin (x132's rates verbatim — s48), gate pins, and
    // input staging — are all independent reads of the sources, except
    // that staging needs the horizon for its stage ranges; they run as
    // ONE concurrent group (§2.6) with that single dependency chained
    // inside its lane.
    @volatile var cents: IndexedSeq[Array[Float]] = null
    @volatile var maxId = 0L
    @volatile var chunk = 0L // the id range of one stage = one batch
    @volatile var rates: DataFrame = null

    val stores @ (tfStore, dfStore, statStore, ivfStore) =
      servingDeltaStores(s, root)
    // the durable dedup history — fingerprints only (~32 B/doc at
    // 100 TB, the FingerprintStore argument) with DeltaStore batch-id
    // exactly-once on top: a replayed batch overwrites its own delta,
    // and admission reads the store AS-OF the previous batch so the
    // replay recomputes the identical winner set
    val fpStore = new DeltaStore(s"$root/fp",
      StructType(Seq(StructField("fp", StringType))),
      (d, p) => d.repartition(4, col("fp")).sortWithinPartitions("fp")
        .write.mode("overwrite").parquet(p),
      (d, p) => d.coalesce(1).write.mode("overwrite").parquet(p),
      _.distinct())
    def tinyRows(d: DataFrame, p: String): Unit =
      d.coalesce(1).write.mode("overwrite").parquet(p)
    // the release AUDIT: per-batch stage-attrition counts (batch-grain
    // integer rows, exactly-once by batch id like every other delta) —
    // the pipeline's own metrics are first-class data, and s52's gated
    // report reads THEM, not a recomputation
    val auditStore = new DeltaStore(s"$root/audit",
      StructType(Seq(StructField("batch_id", LongType),
        StructField("n_input", LongType), StructField("n_admitted", LongType),
        StructField("n_winners", LongType))),
      tinyRows, tinyRows, identity)
    // retained-winner ids at row grain: the report's n_retained must
    // come from a store the retention merges actually filter (tf/ivf
    // would under-count winners with no tokens / no embedding).
    // BOUNDED at 100 TB (VERDICT r19 task 5): unlike the fp store —
    // dedup history, deliberately unfiltered — the winner-id store is
    // expired at every merge (`doc_id >= w` below), so it tracks the
    // RETAINED corpus, not lifetime winners; between merges it grows by
    // one delta per batch (~8 B/winner, ids only), the LSM window every
    // serving store already carries. Non-resurrection does not depend
    // on it: that is the fp store's job, spec-pinned.
    val winnerStore = new DeltaStore(s"$root/winners",
      StructType(Seq(StructField("doc_id", LongType))),
      tinyRows, tinyRows, identity)

    // the s53 gate stores — near-dup winner history (blocking rows +
    // full shingle arrays, the s36 blk/ref split as DeltaStores) and
    // the serve-time quarantine. All three compact WITHOUT a retention
    // filter: dedup history and triage policy outlive index retention.
    import graft.functions.TextKernels.word_shingles
    def shArr(text: org.apache.spark.sql.Column) =
      array_distinct(word_shingles(text, 3))
    val ndBlkStore = new DeltaStore(s"$root/ndblk",
      StructType(Seq(StructField("sh", StringType),
        StructField("doc_id", LongType))),
      (d, p) => d.repartition(4, col("sh")).sortWithinPartitions("sh")
        .write.mode("overwrite").parquet(p),
      (d, p) => d.coalesce(1).write.mode("overwrite").parquet(p),
      _.distinct())
    val ndRefStore = new DeltaStore(s"$root/ndref",
      StructType(Seq(StructField("doc_id", LongType),
        StructField("sh", ArrayType(StringType)))),
      (d, p) => d.repartition(4, col("doc_id"))
        .write.mode("overwrite").parquet(p),
      (d, p) => d.coalesce(1).write.mode("overwrite").parquet(p),
      identity)
    val quarStore = new DeltaStore(s"$root/quar",
      StructType(Seq(StructField("doc_id", LongType))),
      tinyRows, tinyRows, _.distinct())
    // the gate pins, once per stream (the s48 calibration posture):
    // hot shingles (calibration df > cap) are EXCLUDED from blocking —
    // the exclusion set is the small side of the cut; and the eval
    // slice's distinct gram set for the span triage (s33's pin).
    var hotSh: DataFrame = null
    var evalGrams: DataFrame = null
    val pinJobs: Seq[() => Unit] = if (!gates) Seq.empty else Seq(
      () => hotSh = items
        .select(col("doc_id"), explode(shArr(col("text"))).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("c"))
        .filter(col("c") > Curation.RelNdCap).select("sh")
        .localCheckpoint(),
      () => evalGrams = qDocs
        .select(explode(graft.functions.TextKernels
          .word_gram_seq(col("text"), Curation.SpanGramN)).as("sh"))
        .distinct().localCheckpoint())

    /** One retention merge at watermark `w` — s46's pass plus the fp
      * store's filter-FREE compaction: dedup history must outlive index
      * retention, or an expired winner's duplicate would re-enter.
      * onMergeStage("mid") fires after ALL expiries committed and
      * before any rebase starts (the epoch-window spec's states). */
    def retentionPass(w: Long, force: Boolean): Unit =
      retentionMerge(s, root, stores, w, force,
        alsoCompact = Seq(
          () => fpStore.compact(s),
          () => auditStore.compact(s), // metrics record: never expires
          () => winnerStore.compact(s, _.filter(col("doc_id") >= w), force)) ++
          (if (!gates) Seq.empty[() => Unit] else Seq(
            () => ndBlkStore.compact(s), // near-dup history outlives
            () => ndRefStore.compact(s), // retention (the fp-store
            () => quarStore.compact(s))), // argument, s50)
        onMid = () => onMergeStage("mid"))

    // the horizon scan feeds the staging ranges, so the two are chained
    // inside one lane; everything else in the group is independent
    val horizonThenStage: () => Unit = () => {
      val maxRow = docs.agg(max(col("doc_id"))).collect()(0)
      require(!maxRow.isNullAt(0), "s50: empty corpus — no retention horizon")
      maxId = maxRow.getLong(0)
      chunk = maxId / stages + 1
      requireEvalSliceCovered(srcE, qDocs, benchMod, "s50")
      val joined = items.select(col("doc_id"), col("lang"), col("text"))
        .join(itemE.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"), "left")
      // ascending doc_id ranges, one file per stage, staged in order
      r.stageOrdered((0 until stages).map(st =>
        joined.filter(col("doc_id") >= st * chunk &&
          col("doc_id") < (st + 1) * chunk)))
    }
    inParallel(pinJobs ++ Seq(
      horizonThenStage,
      () => cents = SimilaritySearch.collectFixedRows(
        srcE.filter(col("vec_id") < nLists), nLists),
      () => rates = Curation.temperatureRates(docs).localCheckpoint()): _*)
    val wFinal = maxId / 4
    val wMid = wFinal / 2

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      // ONE batch-head pass (r20): the arrival-order check (s43's
      // discipline) and the audit's n_input/n_admitted counts ride
      // the same aggregate — they were three separate batch scans.
      // n_admitted via left join ≡ the admission's inner join + rate
      // filter: `rates` is one row per lang, so the left join
      // preserves row count, a null rate marks a lang with no
      // calibration row (never admitted — null comparisons are
      // false), and the when() applies the identical text/draw
      // predicates.
      val rng = b.join(broadcast(rates), Seq("lang"), "left")
        .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1)),
          sum(when(col("text").isNotNull &&
            (Curation.paretoUniform(Curation.TsampleSeed,
              col("doc_id")) < col("rate")), 1L).otherwise(0L)))
        .collect()(0)
      if (!rng.isNullAt(0))
        require(rng.getLong(0) >= id * chunk && rng.getLong(1) < (id + 1) * chunk,
          s"s50: batch $id carried ids [${rng.getLong(0)}, ${rng.getLong(1)}] " +
            s"outside its range (file order broken)")
      val nIn = rng.getLong(2)
      val nAdm = if (rng.isNullAt(3)) 0L else rng.getLong(3)
      // replay of a batch the fp store already FOLDED: every store
      // either folded this id or still holds its delta (compactions
      // run strictly after all appends), and the pre-batch fp view
      // needed to recompute winners no longer exists — skip straight
      // to the scheduled merge
      fpStore.recover(s)
      if (fpStore.foldedUpto(s) < id) {
        // admission — per-doc closed form against the pinned rates
        val admitted = b.filter(col("text").isNotNull)
          .join(broadcast(rates), "lang")
          .filter(Curation.paretoUniform(Curation.TsampleSeed,
            col("doc_id")) < col("rate"))
          .select(col("doc_id"), col("text"), col("embedding"))
        // dedup — within-batch keeper (min doc_id per fp), then one
        // anti-join against history AS-OF the previous batch (replay-
        // stable: the store below this id is immutable), then the
        // winners' fps become this batch's fp delta. localCheckpoint
        // pins the winner set across the five store writes.
        val withFp = admitted.withColumn("fp", TF.fingerprint(col("text")))
        val firstPer = withFp.groupBy(col("fp"))
          .agg(min_by(struct(col("doc_id"), col("text"),
            col("embedding")), col("doc_id")).as("__r"))
          .select(col("fp"), col("__r.doc_id").as("doc_id"),
            col("__r.text").as("text"), col("__r.embedding").as("embedding"))
        val winners = firstPer
          .join(fpStore.readOnly(s, asOf = id - 1), Seq("fp"), "left_anti")
          .localCheckpoint()
        fpStore.append(s, id, winners.select(col("fp")))
        onStage(id, "fp")
        // s53's two gates (no-ops when !gates): the near-dup drop
        // against the winner history, then the span-triage quarantine
        // of the survivors. Replay-stable exactly like the fp gate:
        // both history stores are read AS-OF the previous batch.
        val survivors = if (!gates) winners else {
          val wsh = winners
            .select(col("doc_id"), shArr(col("text")).as("in_sh"))
            .localCheckpoint() // feeds blocking, verify, and appends
          // pinned: feeds the candidate join TWICE (probe side +
          // within-batch union) and the history append — unpinned,
          // the explode + hot-key anti-join would run three times
          // per batch (the s25 shingled-batch pin precedent)
          val blkBatch = wsh
            .select(col("doc_id"), explode(col("in_sh")).as("sh"))
            .join(hotSh, Seq("sh"), "left_anti")
            .localCheckpoint()
          // candidates: this batch's winner d vs every earlier exact
          // winner a — prior batches from the store (ascending-id
          // staging makes earlier-batch ≡ smaller-id), plus this
          // batch's smaller-id winners
          val cand = blkBatch
            .join(ndBlkStore.readOnly(s, asOf = id - 1)
                .select(col("sh"), col("doc_id").as("id_ref"))
              .unionAll(blkBatch
                .select(col("sh"), col("doc_id").as("id_ref"))),
              "sh")
            .filter(col("id_ref") < col("doc_id"))
            .select(col("doc_id"), col("id_ref")).distinct()
          val refArr = ndRefStore.readOnly(s, asOf = id - 1)
            .select(col("doc_id").as("id_ref"), col("sh").as("ref_sh"))
            .unionAll(wsh.select(col("doc_id").as("id_ref"),
              col("in_sh").as("ref_sh")))
          val drops = cand
            .join(refArr, "id_ref")
            .join(wsh, "doc_id")
            .withColumn("inter",
              size(array_intersect(col("in_sh"), col("ref_sh")))
                .cast("long"))
            .filter(col("inter").cast("double") /
                (size(col("in_sh")).cast("long") + size(col("ref_sh"))
                  - col("inter")) >= Curation.RelNdThreshold)
            .select("doc_id").distinct()
          // ALL exact winners enter the history — a gated-out doc's
          // content is represented by the winner that gated it.
          // The two history appends and the survivor pin share the
          // "nd" crash boundary (one hook after all three) and read
          // only pinned inputs / pre-resolved as-of views → one
          // concurrent group; any partial state a crash exposes was
          // already reachable and replays idempotently.
          var surv: DataFrame = null
          inParallel(
            () => ndBlkStore.append(s, id, blkBatch.select("sh", "doc_id")),
            () => ndRefStore.append(s, id,
              wsh.select(col("doc_id"), col("in_sh").as("sh"))),
            () => surv = winners.join(drops, Seq("doc_id"), "left_anti")
              .localCheckpoint())
          onStage(id, "nd")
          quarStore.append(s, id,
            graft.operators.Dedup.maxSharedSpanAgainst(
                surv.select(col("doc_id"), col("text")),
                evalGrams, "doc_id", "text", Curation.SpanGramN)
              .filter(col("max_shared_tokens") >= Curation.RelQuarMinSpan)
              .select("doc_id"))
          onStage(id, "quar")
          surv
        }
        // the audit row — n_input/n_admitted came from the batch-head
        // aggregate; winners is pinned, so its count reads pinned
        // blocks. The audit and winner appends share the "audit"
        // crash boundary (one hook after both), so they run
        // concurrently — a crash between the two was already a
        // recoverable state (per-store idempotent replay).
        val nWin = winners.count()
        inParallel(
          () => auditStore.append(s, id,
            s.range(1).select(lit(id).as("batch_id"),
              lit(nIn).as("n_input"), lit(nAdm).as("n_admitted"),
              lit(nWin).as("n_winners"))),
          () => winnerStore.append(s, id, survivors.select(col("doc_id"))))
        onStage(id, "audit")
        // index maintenance — s40's batch-grain deltas over the
        // survivors. The appends stay SEQUENTIAL here: each onStage
        // hook is a spec-pinned crash boundary and must fire after
        // exactly its store's commit.
        val (tf, df, stats, ivf) = indexDeltas(survivors, cents)
        tfStore.append(s, id, tf)
        onStage(id, "tf")
        dfStore.append(s, id, df)
        onStage(id, "df")
        statStore.append(s, id, stats)
        onStage(id, "stats")
        ivfStore.append(s, id, ivf)
        onStage(id, "ivf")
      }
      if ((id + 1) % compactEvery == 0) {
        retentionPass(wMid, force = false)
        onStage(id, "retain")
      }
    }

    // the final retention merge advances the watermark to wFinal (s46)
    retentionPass(wFinal, force = true)

    if (report) {
      // s52 — the release ATTRITION REPORT, read from the pipeline's
      // own audit/winner stores (not recomputed): stage counts, their
      // ratios (single IEEE divisions — exact-rounded cross-engine),
      // and the gate verdict. All integers until the final ratios.
      val a = auditStore.read(s)
        .agg(coalesce(sum("n_input"), lit(0L)).as("n_input"),
          coalesce(sum("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(sum("n_winners"), lit(0L)).as("n_winners"))
      val w = winnerStore.read(s).filter(col("doc_id") >= wFinal)
        .agg(count(lit(1)).as("n_retained"))
      a.crossJoin(w).select(
        col("n_input"), col("n_admitted"), col("n_winners"), col("n_retained"),
        round(col("n_admitted").cast("double") / col("n_input"), 6)
          .as("admit_rate"),
        round(col("n_winners").cast("double") / col("n_admitted"), 6)
          .as("dedup_keep_rate"),
        round(col("n_retained").cast("double") / col("n_winners"), 6)
          .as("retain_rate"),
        (col("n_retained") > 0 &&
          col("n_retained").cast("double") / col("n_winners") >= 0.5)
          .as("gate_pass"))
    } else if (gates) {
      // s53's serve consults the quarantine: tf/ivf rows anti-joined
      // out, df/avgdl RE-DERIVED from the filtered postings (the same
      // tf-grain agg the retention rebase runs) — the served scores
      // carry no quarantine skew, and a re-triage never reindexes
      val quar = quarStore.read(s).select("doc_id")
      val tfServe = tfStore.read(s).filter(col("doc_id") >= wFinal)
        .join(quar, Seq("doc_id"), "left_anti")
      serveHybridViews(s, "s53", tfServe, dfOf(tfServe), statsOf(tfServe),
          ivfStore.read(s).filter(col("vec_id") >= wFinal)
            .join(quar.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_anti"),
          servingQueries(qDocs, srcE), cents, nProbe, listK, k0, k)
        .orderBy("query_id", "rank")
    } else
      serveHybridViews(s, "s50",
          tfStore.read(s).filter(col("doc_id") >= wFinal),
          dfStore.read(s), statStore.read(s),
          ivfStore.read(s).filter(col("vec_id") >= wFinal),
          servingQueries(qDocs, srcE), cents, nProbe, listK, k0, k)
        .orderBy("query_id", "rank")
  }

  def streamReleasePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    releasePipelineStream(s, Tables.documents(s, dir),
      Tables.embeddings(s, dir), Curation.BenchMod,
      listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
      nLists = P.NLists, nProbe = P.NProbe)
  }

  /** s52 — the release ATTRITION REPORT: the same composed pipeline,
    * read out through its own audit/winner stores — per-batch stage
    * counts appended exactly-once, the winner-id store
    * retention-filtered at the merges — with ratio + gate columns. The
    * production posture: every release run reports what each stage
    * dropped, from maintained metrics rather than a recount, and the
    * gate refuses a release whose retention cut ate the corpus. */
  def streamReleaseReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    releasePipelineStream(s, Tables.documents(s, dir),
      Tables.embeddings(s, dir), Curation.BenchMod,
      listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
      nLists = P.NLists, nProbe = P.NProbe, report = true)
  }

  /** s53 — the FULLY GATED streamed release pipeline: s50 plus the two
    * gates x106's batch pipeline runs between exact dedup and release —
    * the near-dup drop against the (never-expiring) winner history and
    * s33's shared-span contamination triage, with the quarantine
    * consulted at SERVE time (x97/x105's eval-hygiene semantics live in
    * the composed stream). See [[releasePipelineStream]]'s `gates` doc
    * for the stage semantics and the scale posture. */
  def streamGatedRelease(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    releasePipelineStream(s, Tables.documents(s, dir),
      Tables.embeddings(s, dir), Curation.BenchMod,
      listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
      nLists = P.NLists, nProbe = P.NProbe, gates = true)
  }

  // ---------------------------------------------------------------------
  // s51 — RETENTION ON THE INGEST-TIME AXIS: s46 proved merge-time
  // expiry on doc_id as the age proxy and COVERAGE asserted "production
  // would use an ingest timestamp; identical mechanics" — this entry
  // PROVES it instead of stating it (VERDICT r18 task 5), against the
  // events store (B3's actual TTL-in-days semantic,
  // clickhouse_tables.sql:19 `TTL timestamp + INTERVAL 90 DAY`).
  // Two DeltaStores maintained per micro-batch:
  //   - (event_type, minute) counts — ROW-grain on the retention axis,
  //     expired by the compact-time filter `minute_ms >= w` (s46's tf);
  //   - per-type lifetime totals — integer SUMS a row filter cannot
  //     subtract, REBASED from the retained minute store at each merge
  //     (s46's df/stats).
  // The watermark is DERIVED FROM THE DATA on both engines
  // (max(minute) − 15 days; the mid-stream pass retains 23 days, so
  // already-compacted rows genuinely expire at the later merge). The
  // final report serves the totals FROM the rebased derived store —
  // hash-matching the ts-watermarked oracle proves the rebase math on
  // the time axis, not just the row filter.
  // ---------------------------------------------------------------------

  private[graft] val TsRetainMs = 15L * 86400000L
  private[graft] val TsMidRetainMs = 23L * 86400000L

  /** The s51 core. `events` must carry (ts timestamp, event_type);
    * `workDir`/`onBatch`: the s30–s50 restart hooks. Batching-invariant
    * by construction (counts are algebraic; retention is merge-time),
    * so the batch oracle applies to any input split. */
  private[graft] def tsRetainedEventStats(s: SparkSession, events: DataFrame,
                                          retainMs: Long = TsRetainMs,
                                          midRetainMs: Long = TsMidRetainMs,
                                          compactEvery: Int = 2,
                                          workDir: Option[String] = None,
                                          onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.store.DeltaStore
    val r = Replay("graft_s51_", workDir)

    val ev = events.select(col("event_type"),
      (expr("unix_millis(ts) DIV 60000") * 60000L).as("minute_ms"))
    val maxRow = ev.agg(max(col("minute_ms"))).collect()(0)
    require(!maxRow.isNullAt(0), "s51: empty event stream — no TTL horizon")
    val wFinal = maxRow.getLong(0) - retainMs
    val wMid = maxRow.getLong(0) - midRetainMs

    def tiny(d: DataFrame, p: String): Unit =
      d.coalesce(1).write.mode("overwrite").parquet(p)
    val minuteStore = new DeltaStore(s"${r.dir}/store/minute",
      StructType(Seq(StructField("event_type", StringType),
        StructField("minute_ms", LongType), StructField("cnt", LongType))),
      (d, p) => d.repartition(4, col("event_type"))
        .sortWithinPartitions("event_type", "minute_ms")
        .write.mode("overwrite").parquet(p),
      tiny,
      _.groupBy("event_type", "minute_ms")
        .agg(sum("cnt").cast("long").as("cnt")))
    val typeStore = new DeltaStore(s"${r.dir}/store/type",
      StructType(Seq(StructField("event_type", StringType),
        StructField("n_events", LongType))),
      tiny, tiny,
      _.groupBy("event_type").agg(sum("n_events").cast("long").as("n_events")))

    /** One TTL merge at watermark `w`: the row-grain store filters
      * inside its compaction; the totals rebase onto the retained
      * minutes — s46's pass on the time axis. */
    def retentionPass(w: Long, force: Boolean): Unit = {
      minuteStore.compact(s, _.filter(col("minute_ms") >= w), force)
      typeStore.rebase(s,
        minuteStore.read(s).groupBy("event_type")
          .agg(sum("cnt").cast("long").as("n_events")))
    }

    r.stage(ev.repartition(3))

    r.foreachBatch(s) { (b, id) =>
      onBatch(id)
      // batch-grain appends; nothing is filtered at ingest — rows
      // expire when a merge crosses the watermark (the ClickHouse
      // TTL-at-merge posture, B3)
      minuteStore.append(s, id,
        b.groupBy("event_type", "minute_ms").agg(count(lit(1)).as("cnt")))
      typeStore.append(s, id,
        b.groupBy("event_type").agg(count(lit(1)).as("n_events")))
      if ((id + 1) % compactEvery == 0) retentionPass(wMid, force = false)
    }

    // the final TTL merge advances the watermark (wMid → wFinal):
    // minutes an earlier merge retained genuinely expire here
    retentionPass(wFinal, force = true)

    val mRet = minuteStore.read(s).filter(col("minute_ms") >= wFinal)
      .groupBy("event_type", "minute_ms").agg(sum("cnt").as("cnt"))
    val perType = mRet.groupBy("event_type")
      .agg(count(lit(1)).as("n_minutes"),
        min("minute_ms").as("min_minute_ms"),
        max("minute_ms").as("max_minute_ms"))
    // n_events comes FROM the rebased derived store on purpose — the
    // hash match proves the rebase, not just the row filter
    typeStore.read(s).groupBy("event_type")
      .agg(sum("n_events").cast("long").as("n_events"))
      .join(perType, Seq("event_type"))
      .select("event_type", "n_events", "n_minutes",
        "min_minute_ms", "max_minute_ms")
      .orderBy("event_type")
  }

  def streamTsRetention(s: SparkSession, dir: String): DataFrame =
    tsRetainedEventStats(s, Tables.events(s, dir))

  val streamTsRetentionSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |         (epoch_ms(CAST(ts AS TIMESTAMP)) // 60000) * 60000 AS minute_ms
       |  FROM events),
       |w AS (SELECT max(minute_ms) - $TsRetainMs AS wm FROM e),
       |r AS (SELECT event_type, minute_ms FROM e, w WHERE minute_ms >= wm)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(count(DISTINCT minute_ms) AS BIGINT) AS n_minutes,
       |       min(minute_ms) AS min_minute_ms,
       |       max(minute_ms) AS max_minute_ms
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // s35 — STREAMED snapshot drift: x103's language-shift gauge computed
  // as the new crawl ARRIVES. Unigram counts are ALGEBRAIC — per-token
  // counts sum across micro-batches — so this is the s32 mergeable-
  // partials pattern at VOCABULARY grain: each batch writes its
  // (token, cnt) partial (a row-local explode + one batch-local
  // partial agg; nothing corpus-sized retained), and the final gauge
  // merges the partials against the pinned old-snapshot counts in one
  // vocabulary-grain full-outer join. Exact ≡ x103, hash-checked
  // against its oracle. The per-batch state is ZERO (partials live in
  // the sink, not the state store) — the gauge can run forever on a
  // continuous crawl and be finalized at any cut point.
  // ---------------------------------------------------------------------

  /** The s35 core: pin `old`'s vocabulary counts, stream `neu`'s
    * per-batch token-count partials, merge at read-back.
    * `workDir`/`onBatch`: the same restart-recovery hooks as s34. */
  private[graft] def snapshotDriftStream(s: SparkSession, old: DataFrame,
                                         neu: DataFrame,
                                         workDir: Option[String] = None,
                                         onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.Curation
    val r = Replay("graft_s35_", workDir)

    def tokCounts(df: DataFrame): DataFrame = df.select(explode(toksCol).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

    r.stage(neu.select(col("doc_id"), col("text")).repartition(3))
    val newCounts = r.mapBatches(s, onBatch = onBatch)(tokCounts)
      .groupBy("token").agg(sum(col("cnt")).as("cn"))
    val oldCounts = tokCounts(old)
      .select(col("token"), col("cnt").as("co"))
    Curation.driftFromCounts(
      oldCounts.join(newCounts, Seq("token"), "full_outer")
        .select(coalesce(col("co"), lit(0L)).as("co"),
                coalesce(col("cn"), lit(0L)).as("cn")))
  }

  def streamSnapshotDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    snapshotDriftStream(s, docs,
      graft.queries.CurationQueries.diffSnapshot(docs))
  }

  // ---------------------------------------------------------------------
  // s31 — STREAMED DSIR admission: x93's importance scoring as an
  // admission gate on the document stream. x93's global top-K cannot
  // stream (a rank over the whole corpus is only known at the end);
  // the honest streaming contract is THRESHOLD admission — admit a doc
  // the moment its smoothed log importance weight clears τ — which is
  // per-doc given the two pinned LMs, so the stream is exact and
  // state-free (the x93 model relations are built ONCE from the static
  // corpus, the same way s25 pins its reference shingles). Per-batch
  // plan: row-local explode → (doc, token) agg within the batch →
  // vocabulary join against the pinned counts → threshold filter.
  // Batching-invariant because a document never spans files. Oracle:
  // the same smoothed-LLR SQL with WHERE log_w >= τ.
  // ---------------------------------------------------------------------

  /** The s31 core: build the DSIR model from `allDocs` once, stream the
    * non-target slice, admit per micro-batch at `tau`. */
  private[graft] def dsirAdmissionStream(s: SparkSession, allDocs: DataFrame,
                                         tau: Double,
                                         workDir: Option[String] = None,
                                         onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.Curation
    val r = Replay("graft_s31_", workDir)

    val (tc, tot) = Curation.dsirModel(allDocs)
    val tcP = tc.localCheckpoint()   // vocabulary-sized; feeds every batch
    val totP = tot.localCheckpoint() // 1 row

    r.stage(allDocs.filter(col("doc_id") % Curation.BenchMod =!= 0)
      .select(col("doc_id"), col("text")).repartition(3))
    r.mapBatches(s, onBatch = onBatch)(
        Curation.dsirScore(_, tcP, totP).filter(col("log_w") >= tau))
      .select(col("doc_id"), col("n_tokens"), col("log_w"))
      .orderBy("doc_id")
  }

  def streamDsirAdmission(s: SparkSession, dir: String): DataFrame =
    dsirAdmissionStream(s, Tables.documents(s, dir),
      graft.queries.CurationQueries.DsirTau)

  // ---------------------------------------------------------------------
  // s42 — STREAMED classifier-Pareto admission: x126 (the GPT-3 ingest
  // gate — x124's pinned-weight score into the Pareto keep rule) run
  // where the published pipeline actually ran it, at crawl INGESTION.
  // Strictly more state-free than s31: the classifier weight is an
  // EXPRESSION (x124's closed-form ramp), so there is no build side at
  // all — no pinned model relations, nothing to localCheckpoint, and
  // per-batch cost depends on the batch alone at ANY corpus size. The
  // keep decision is per-doc closed-form, so the stream is exact and
  // batching-invariant (a doc never spans files); the oracle is x126's
  // SQL VERBATIM (the s38-reuses-x71's-oracle discipline).
  // ---------------------------------------------------------------------

  /** The s42 core: stream `allDocs`, admit per micro-batch by the x126
    * keep rule. `workDir`/`onBatch`: the s30–s40 restart hooks. */
  private[graft] def paretoAdmissionStream(s: SparkSession, allDocs: DataFrame,
                                           workDir: Option[String] = None,
                                           onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.Curation
    val r = Replay("graft_s42_", workDir)
    r.stage(allDocs.select(col("doc_id"), col("lang"), col("text")).repartition(3))
    r.mapBatches(s, onBatch = onBatch)(Curation.paretoClassifierSample)
      .select(col("doc_id"), col("lang"), col("q_score"), col("accept_key"))
      .orderBy("doc_id")
  }

  def streamParetoAdmission(s: SparkSession, dir: String): DataFrame =
    paretoAdmissionStream(s, Tables.documents(s, dir))

  // ---------------------------------------------------------------------
  // s48 — STREAMED temperature admission: x132 (the α = 1/2 multilingual
  // rebalance) run at crawl ingestion. The semantics, chosen and stated
  // honestly (VERDICT r17 task 7): the per-stratum keep RATES are
  // PINNED from a calibration corpus before the stream starts — the s42
  // discipline, and the production shape (rates are a policy artifact
  // of the last corpus audit, not something each micro-batch re-derives
  // — rates derived from the stream's own prefix would make admission
  // arrival-order-dependent and only batch-consistent at cut points).
  // Given the pinned |strata|-row broadcast, the keep decision is
  // per-doc closed form (md5-uniform < rate), so the stream is exact,
  // state-free and batching-invariant, and the calibration corpus here
  // IS the streamed corpus — the streamed admission equals x132's batch
  // answer and hash-checks against its oracle VERBATIM (the s38↔x71 /
  // s42↔x126 discipline). At 100 TB: the calibration fold is one
  // |strata|-row shuffle once per policy refresh; per-batch cost is the
  // broadcast join + a row-local filter — nothing corpus-sized, ever.
  // ---------------------------------------------------------------------

  /** The s48 core: pin the x132 rates from `calibration`, stream
    * `allDocs`, admit per micro-batch by the shared keep stage.
    * `workDir`/`onBatch`: the s30–s47 restart hooks. */
  private[graft] def temperatureAdmissionStream(s: SparkSession,
                                                allDocs: DataFrame,
                                                workDir: Option[String] = None,
                                                onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.Curation
    val r = Replay("graft_s48_", workDir)

    // pinned once per stream — the model-grain calibration relation
    // (|strata| rows) every micro-batch broadcasts against
    val rates = Curation.temperatureRates(allDocs).localCheckpoint()

    r.stage(allDocs.select(col("doc_id"), col("lang")).repartition(3))
    r.mapBatches(s, onBatch = onBatch)(Curation.temperatureKeep(_, rates))
      .select(col("doc_id"), col("lang"), col("rate"))
      .orderBy("doc_id")
  }

  def streamTemperatureAdmission(s: SparkSession, dir: String): DataFrame =
    temperatureAdmissionStream(s, Tables.documents(s, dir))

  // ---------------------------------------------------------------------
  // s44 — STREAMED scatter-statistics maintenance: x128's PCA fit
  // relation computed as the embedding stream ARRIVES. Every row of the
  // scatter relation is an exact INTEGER sum (pair products, per-dim
  // sums, count — the property that makes x128 hashable at all), so
  // per-batch partials merge associatively and the streamed fold is
  // BATCHING-INVARIANT: the oracle is x128's SQL verbatim (the s38↔x71
  // / s42↔x126 discipline). This is the missing streaming leg of the
  // x128→x129 PCA rung — the principal basis becomes refreshable at any
  // watermark of a live corpus without a batch re-scan, because the
  // sufficient statistics are maintained, not recomputed.
  // At 100 TB: each batch contributes one row-local explode collapsed
  // map-side to ≤ 2 145 rows; the cross-batch merge is model-grain.
  // ---------------------------------------------------------------------

  /** The s44 core. `workDir`/`onBatch`: the s30–s43 restart hooks; the
    * per-batch-dir overwrite makes a replayed batch idempotent. */
  private[graft] def embeddingScatterStream(s: SparkSession, embs: DataFrame,
                                            dim: Int =
                                              graft.operators.SimilaritySearch.PcaFixed.Dim,
                                            workDir: Option[String] = None,
                                            onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.SimilaritySearch
    val r = Replay("graft_s44_", workDir)
    r.stage(embs.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .repartition(3))
    r.mapBatches(s, onBatch = onBatch)(SimilaritySearch.embeddingScatter(_, dim))
      .groupBy("i", "j").agg(sum("s").as("s"))
      .orderBy("i", "j")
  }

  def streamEmbeddingScatter(s: SparkSession, dir: String): DataFrame =
    embeddingScatterStream(s, Tables.embeddings(s, dir))

  // s32 — STREAMED embedding-table health (x91 as a monitor): the
  // audit statistics are ALGEBRAIC — counts, min/max, and a norm sum
  // all merge associatively — so the stream emits per-batch PARTIALS
  // and the final table is one |labels|-grain merge of partial rows:
  // the canonical mergeable-aggregate streaming pattern (the same
  // reason Spark's own partial aggregation works), proven correct by
  // hashing against x91's batch oracle. mean_norm is derived from
  // (sum, count) at merge time — never averaged per batch, since an
  // average of averages is wrong under uneven batch sizes.
  // ---------------------------------------------------------------------

  /** The s32 core: stream `embs` in micro-batches, write per-batch
    * algebraic partials, merge at read-back. */
  private[graft] def embeddingHealthStream(s: SparkSession,
                                           embs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    val r = Replay("graft_s32_")
    r.stage(embs.select(col("vec_id"), col("embedding"), col("label")).repartition(3))

    def partials(b: DataFrame): DataFrame =
      b.withColumn("__dim", size(col("embedding")))
        .withColumn("__norm",
          sqrt(VectorFunctions.dot_product(col("embedding"), col("embedding"))))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
             min(col("__dim")).as("dim_min"), max(col("__dim")).as("dim_max"),
             sum(when(col("__norm") < 1e-6, 1L).otherwise(0L)).as("n_zero_norm"),
             sum(col("__norm")).as("sum_norm"),
             min(col("__norm")).as("min_norm"), max(col("__norm")).as("max_norm"))

    r.mapBatches(s)(partials)
      .groupBy(col("label"))
      .agg(sum(col("n_vecs")).as("n_vecs"),
           min(col("dim_min")).as("dim_min"), max(col("dim_max")).as("dim_max"),
           sum(col("n_zero_norm")).as("n_zero_norm"),
           round(sum(col("sum_norm")) / sum(col("n_vecs")), 6).as("mean_norm"),
           round(min(col("min_norm")), 6).as("min_norm"),
           round(max(col("max_norm")), 6).as("max_norm"))
      .orderBy("label")
  }

  def streamEmbeddingHealth(s: SparkSession, dir: String): DataFrame =
    embeddingHealthStream(s, Tables.embeddings(s, dir))

  // ---------------------------------------------------------------------
  // s33 — STREAMED max-shared-span triage: x95's "how bad is the worst
  // leak" metric computed at ADMISSION time, so contaminated documents
  // are flagged (with span-length evidence) the moment they arrive
  // instead of in a post-hoc audit. Per-incoming-doc given the pinned
  // reference gram set — the s26/s31 pinning discipline — so the
  // stream is exact, state-free, and batching-invariant; the per-doc
  // island windows run WITHIN each micro-batch (a document never
  // spans files). Oracle: x95's own island-window SQL.
  // ---------------------------------------------------------------------

  /** The s33 core: pin `reference`'s distinct gram set, stream
    * `incoming`, score each micro-batch with the batch operator. */
  private[graft] def maxSharedSpanStream(s: SparkSession, incoming: DataFrame,
                                         reference: DataFrame, n: Int,
                                         workDir: Option[String] = None,
                                         onBatch: Long => Unit = _ => ())
      : DataFrame = {
    import graft.operators.Dedup
    val r = Replay("graft_s33_", workDir)

    val refGrams = reference
      .select(explode(graft.functions.TextKernels.word_gram_seq(col("text"), n)).as("sh"))
      .distinct()
      .localCheckpoint() // feeds every micro-batch; pin once

    r.stage(incoming.select(col("doc_id"), col("text")).repartition(3))
    r.mapBatches(s, onBatch = onBatch)(
        Dedup.maxSharedSpanAgainst(_, refGrams, "doc_id", "text", n))
      .select(col("doc_id"), col("max_shared_tokens"),
              col("n_shared_grams"), col("n_spans"))
      .orderBy("doc_id")
  }

  def streamMaxSharedSpan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    maxSharedSpanStream(s, docs.filter(srcNum < 10), docs.filter(srcNum >= 10),
      graft.queries.ExtendedQueries.SpanGramN)
  }

  val streamNearDupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
       |), grams AS (
       |  SELECT DISTINCT doc_id, CAST(substr(source, 4) AS INT) AS sn,
       |         unnest(list_transform(range(greatest(len(w) - 2, 0)),
       |                               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
       |  FROM toks
       |), dref AS (
       |  SELECT sh, COUNT(*) AS c FROM grams WHERE sn >= 10 GROUP BY sh
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_in, b.doc_id AS id_ref
       |  FROM grams a
       |  JOIN grams b ON a.sh = b.sh
       |  JOIN dref ON dref.sh = a.sh
       |  WHERE a.sn < 10 AND b.sn >= 10 AND dref.c <= $NearDupRefCap
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS id_in, b.doc_id AS id_ref, COUNT(*) AS i
       |  FROM grams a
       |  JOIN grams b ON a.sh = b.sh
       |  JOIN cand c ON c.id_in = a.doc_id AND c.id_ref = b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_in, id_ref,
       |       CAST(i AS DOUBLE) / (za.sz + zb.sz - i) AS jaccard
       |FROM inter
       |JOIN sizes za ON id_in = za.doc_id
       |JOIN sizes zb ON id_ref = zb.doc_id
       |WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= 0.5
       |ORDER BY id_in, id_ref""".stripMargin

  val streamStaticJoinSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
      |         event_type
      |  FROM events),
      |d AS (SELECT user_id, MIN(day_idx) AS first_day FROM e GROUP BY 1)
      |SELECT e.event_type, d.first_day, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CASE WHEN e.day_idx = d.first_day THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_on_first_day
      |FROM e JOIN d ON e.user_id = d.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // s29 — STREAMED CUSUM drift (x79's twin): batch needs the prefix-sum
  // closed form because max(0, S+d) is non-associative; the stream runs
  // the textbook recursion in keyed state — ONE double per page. The
  // oracle evaluates the closed form in DuckDB, so the hash match proves
  // recursion ≡ closed form cross-engine over the full fixture (the
  // s01≡q14 / s02≡q17 twin discipline). z-scores are standardized
  // batch-side from exact integer moments — in production the baseline
  // is a trained lookup, not stream state. The fold and the closed form
  // accumulate float error differently (~1e-12), so s_plus is rounded
  // to 6 decimals on BOTH sides and the drift flag compares the ROUNDED
  // value (same precedent as s02's z_score).
  // ---------------------------------------------------------------------
  def streamCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Replay("graft_s29_")
    r.stage(graft.queries.ExtendedQueries.cusumZ(s, dir)
      .select(unix_millis(col("minute")).as("minute_ms"), col("page"), col("z"))
      .coalesce(1)) // one file = one micro-batch: full history per key, in order
    r.append(s)(src => DriftDetector.detect(src.as[DriftDetector.ZRow]).toDF())
    r.output(s)
      .select(col("page"), col("minute_ms"),
              round(col("s_plus"), 6).as("s_plus"))
      .withColumn("is_drift", col("s_plus") > DriftDetector.H)
      .orderBy("page", "minute_ms")
  }

  /** x79's closed-form CTE chain, emitted at minute grain. */
  val streamCusumSql: String = {
    val k = DriftDetector.K; val h = DriftDetector.H
    s"""WITH clicks AS (${Tables.clicksSql}),
       |series AS (
       |  SELECT page, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM clicks GROUP BY 1, 2),
       |stats AS (
       |  SELECT page, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(cnt) AS BIGINT) AS sx,
       |         CAST(sum(cnt * cnt) AS BIGINT) AS sxx
       |  FROM series GROUP BY 1
       |  -- x80's σ>0 guard, mirrored from cusumZ: drop unjudgeable pages
       |  -- (explicit HUGEINT mirrors cusumZ's decimal(38,0) widening)
       |  HAVING count(*) > 1 AND CAST(count(*) AS HUGEINT) * CAST(sum(cnt * cnt) AS HUGEINT)
       |         > CAST(sum(cnt) AS HUGEINT) * CAST(sum(cnt) AS HUGEINT)),
       |z AS (
       |  SELECT s.page, s.minute,
       |         sum((s.cnt - CAST(t.sx AS DOUBLE) / t.n) /
       |             sqrt((CAST(t.sxx AS DOUBLE) - CAST(t.sx AS DOUBLE) * t.sx / t.n)
       |                  / (t.n - 1)) - $k)
       |           OVER (PARTITION BY s.page ORDER BY s.minute
       |                 ROWS UNBOUNDED PRECEDING) AS w
       |  FROM series s JOIN stats t ON s.page = t.page),
       |c AS (
       |  SELECT page, minute, round(w - least(0.0, min(w)
       |           OVER (PARTITION BY page ORDER BY minute
       |                 ROWS UNBOUNDED PRECEDING)), 6) AS s_plus
       |  FROM z)
       |SELECT page, epoch_ms(minute) AS minute_ms, s_plus, s_plus > $h AS is_drift
       |FROM c ORDER BY page, minute_ms""".stripMargin
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame, Option[String]))] = Seq(
    "s01_stream_minute_agg" -> ((streamMinuteAgg _, Some(ReferenceQueries.q14Sql))),
    "s02_stream_anomaly"    -> ((streamAnomaly _, Some(streamAnomalySql))),
    "s03_stream_raw_sink"   -> ((streamRawSink _, Some(streamRawSinkSql))),
    "s06_stream_5min_agg"   -> ((stream5minAgg _, Some(ReferenceQueries.q15Sql))),
    "s07_stream_hourly_agg" -> ((streamHourlyAgg _, Some(ReferenceQueries.q16Sql))),
    "s08_stream_sessions"   -> ((streamSessions _,
      Some(graft.queries.ExtendedQueries.sessionizationSql))),
    "s09_stream_dedup"      -> ((streamDedup _, Some(streamDedupSql))),
    "s12_stream_curation"   -> ((streamCuration _,
      Some(graft.queries.CurationQueries.streamCurationSql))),
    "s13_stream_sliding_agg" -> ((streamSlidingAgg _, Some(streamSlidingAggSql))),
    "s14_stream_dedup_watermark" -> ((streamDedupWatermark _,
      Some(streamDedupWatermarkSql))),
    "s11_stream_stream_join" -> ((streamStreamJoin _, Some(streamStreamJoinSql))),
    "s17_stream_priority_sample" -> ((streamPrioritySample _,
      Some(graft.queries.CurationQueries.prioritySampleSql))),
    "s18_stream_funnel" -> ((streamFunnel _,
      Some(graft.queries.ExtendedQueries.windowFunnelSql))),
    "s19_stream_retention" -> ((streamRetention _,
      Some(graft.queries.ExtendedQueries.retentionSql))),
    "s20_stream_sketch_hh" -> ((streamSketchHeavyHitters _,
      Some(graft.queries.CurationQueries.approxHeavyHittersSql))),
    "s23_stream_static_join" -> ((streamStaticJoin _, Some(streamStaticJoinSql))),
    "s25_stream_neardup"    -> ((streamNearDup _, Some(streamNearDupSql))),
    "s37_stream_ann_serve" -> ((streamAnnServe _,
      Some(graft.queries.ExtendedQueries.annServeStreamSql))),
    "s38_stream_bm25_serve" -> ((streamBm25Serve _,
      Some(graft.queries.CurationQueries.bm25Sql))),
    "s39_stream_hybrid_serve" -> ((streamHybridServe _,
      Some(graft.queries.CurationQueries.hybridServeStreamSql))),
    "s40_stream_index_maintain" -> ((streamIndexMaintain _,
      Some(graft.queries.CurationQueries.hybridServeStreamSql))),
    "s43_serve_while_maintain" -> ((streamServeWhileMaintain _,
      Some(graft.queries.CurationQueries.serveWhileMaintainSql))),
    "s46_stream_index_retention" -> ((streamIndexRetention _,
      Some(graft.queries.CurationQueries.retainedServeSql))),
    "s50_stream_release_pipeline" -> ((streamReleasePipeline _,
      Some(graft.queries.CurationQueries.releaseServeSql))),
    "s51_stream_ts_retention" -> ((streamTsRetention _,
      Some(streamTsRetentionSql))),
    "s52_stream_release_report" -> ((streamReleaseReport _,
      Some(graft.queries.CurationQueries.releaseReportSql))),
    "s53_stream_gated_release" -> ((streamGatedRelease _,
      Some(graft.queries.CurationQueries.releaseGatedServeSql))),
    "s44_stream_scatter" -> ((streamEmbeddingScatter _,
      Some(graft.queries.ExtendedQueries.embeddingScatterSql))),
    "s45_stream_pq_serve" -> ((streamPqServe _,
      Some(graft.queries.ExtendedQueries.knnIvfPqFixedSql))),
    "s47_stream_pq_maintain" -> ((streamPqMaintain _,
      Some(graft.queries.ExtendedQueries.knnIvfPqFixedSql))),
    "s49_stream_pq_retention" -> ((streamPqRetention _,
      Some(graft.queries.ExtendedQueries.retainedPqServeSql))),
    "s41_stream_ann_serve_probed" -> ((streamAnnServeProbed _,
      Some(graft.queries.ExtendedQueries.annServeProbedSql))),
    "s36_stream_neardup_bucketed" -> ((streamNearDupBucketed _,
      Some(streamNearDupSql))),
    "s26_stream_span_clean" -> ((streamSpanClean _,
      Some(graft.queries.ExtendedQueries.crossSpanCleanSql))),
    "s29_stream_cusum"      -> ((streamCusum _, Some(streamCusumSql))),
    "s30_stream_snapshot_diff" -> ((streamSnapshotDiff _,
      Some(graft.queries.CurationQueries.corpusDiffSql))),
    "s34_stream_snapshot_diff_bucketed" -> ((streamSnapshotDiffBucketed _,
      Some(graft.queries.CurationQueries.corpusDiffSql))),
    "s35_stream_snapshot_drift" -> ((streamSnapshotDrift _,
      Some(graft.queries.CurationQueries.snapshotDriftSql))),
    "s31_stream_dsir_admission" -> ((streamDsirAdmission _,
      Some(graft.queries.CurationQueries.dsirAdmissionSql))),
    "s42_stream_pareto_admission" -> ((streamParetoAdmission _,
      Some(graft.queries.CurationQueries.paretoClassifierSampleSql))),
    "s48_stream_temperature_admission" -> ((streamTemperatureAdmission _,
      Some(graft.queries.CurationQueries.temperatureSampleSql))),
    "s32_stream_embedding_health" -> ((streamEmbeddingHealth _,
      Some(graft.queries.ExtendedQueries.embeddingHealthSql))),
    "s33_stream_shared_span" -> ((streamMaxSharedSpan _,
      Some(graft.queries.ExtendedQueries.maxSharedSpanSql))),
  )
}
