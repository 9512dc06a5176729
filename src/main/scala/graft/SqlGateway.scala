package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.streaming.PipelineMetrics

/** Ad-hoc SQL over HTTP — the reference's interactive read path.
  *
  * The reference serves ad-hoc SQL through ClickHouse's HTTP port
  * (:8123), which Superset/Grafana and `curl` consume (reference
  * `README.md:77`, `superset/README.md:37`); until now this repo's
  * query surface was the compiled registry only — an operator could not
  * type a NEW query at the engine without recompiling. This gateway
  * closes that gap the same way ClickHouse does:
  *
  *   POST /sql       body = raw SQL text → one JSON object per row
  *                   (the `FORMAT JSONEachRow` analogue); ?format=csv
  *                   or ?format=tsv switches to header + delimited rows
  *                   (the CSVWithNames/TSVWithNames analogues);
  *                   ?limit=N caps the rows collected (default 10 000),
  *                   ?timeout=N caps execution seconds (the
  *                   `max_execution_time` analogue, default 300) —
  *                   on expiry the query's job group is CANCELLED and
  *                   the client gets a 408
  *   POST /explain   body = raw SQL text → the formatted physical plan,
  *                   without executing (check pushdown/broadcast shape
  *                   before paying for the query)
  *   GET  /metrics   Prometheus text exposition (the reference's
  *                   prometheus.yml scrape surface): gateway counters,
  *                   live streaming gauges from an attached
  *                   [[PipelineMetrics.MetricsListener]] (m01's shape),
  *                   and — when a durable metrics dir is configured —
  *                   the m03 per-run throughput/watermark-lag rollup
  *   GET  /health    liveness probe
  *
  * Built on the JDK's own `com.sun.net.httpserver` — zero dependencies
  * beyond the JDK, same as the rest of the build.
  *
  * Binding: loopback by default. The gateway executes arbitrary Spark
  * SQL (including DDL and `INSERT OVERWRITE DIRECTORY`) with no
  * authentication, so exposing it beyond the host must be an explicit
  * decision (`bindAll = true` / `GRAFT_GATEWAY_BIND_ALL=1`), not the
  * accident of a wildcard default.
  *
  * Scale posture: the SQL itself executes fully distributed (same
  * session, same Catalyst plans — the custom codegen'd expressions
  * `word_shingles`/`cosine_similarity`/... are registered, so ad-hoc
  * SQL has the same plan shapes as the compiled registry). Only the
  * RESULT crosses to the driver, explicitly bounded by `limit` via
  * `toJSON.take(n)` — `take` on the JSON-mapped dataset pulls partitions
  * incrementally, so `SELECT * FROM events` with limit=100 never
  * collects the corpus. An endpoint for human-sized answers, not a
  * bulk-export path — exports are the sinks' job.
  *
  * Query lifecycle: every /sql request runs in its own Spark job group
  * with `interruptOnCancel = true`; a watchdog cancels the group at the
  * timeout, so a runaway ad-hoc query can occupy one of the pool's
  * threads for AT MOST its timeout — it can no longer wedge the
  * gateway. (Client-disconnect cancellation is not implementable on the
  * JDK server — the handler only learns of a disconnect when it writes
  * the response — so the timeout is the enforcement point.)
  */
object SqlGateway {

  /** Register every fixture table as a temp view (+ the derived
    * `clicks` view and the custom SQL functions) so ad-hoc SQL sees the
    * same relations the registry queries build on. */
  def register(spark: SparkSession, dir: String): Unit = {
    graft.functions.TextKernels.register(spark)
    graft.functions.VectorFunctions.register(spark)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    Tables.clicks(spark, dir).createOrReplaceTempView("clicks")
  }

  /** Execute `sql` and render ≤ `limit` rows as JSON lines. */
  def runToJsonLines(spark: SparkSession, sql: String, limit: Int): String =
    spark.sql(sql).toJSON.take(limit).mkString("", "\n", "\n")

  /** Execute `sql` and render ≤ `limit` rows as header + delimited rows
    * (the CSVWithNames / TSVWithNames analogue of ClickHouse's FORMAT
    * clause). RFC-4180-style quoting: a cell containing the separator,
    * a quote or a newline is wrapped in double quotes with inner quotes
    * doubled; NULL renders empty. Same bounded-collect posture as the
    * JSON path (`take` pulls partitions incrementally). */
  def runToDelimited(spark: SparkSession, sql: String, limit: Int,
                     sep: Char): String = {
    val df = spark.sql(sql)
    def esc(s: String): String =
      if (s.exists(c => c == sep || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    val header = df.columns.map(esc).mkString(sep.toString)
    val rows = df.take(limit).map(r =>
      (0 until r.length).map(i =>
        if (r.isNullAt(i)) "" else esc(String.valueOf(r.get(i))))
        .mkString(sep.toString))
    (header +: rows).mkString("", "\n", "\n")
  }

  /** Formatted physical plan for `sql` WITHOUT executing it — the
    * `EXPLAIN`/`.explain("formatted")` surface over HTTP, so an operator
    * can check pushdown/broadcast/codegen shape before paying for a
    * query. */
  def explainSql(spark: SparkSession, sql: String): String =
    spark.sql(sql).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** JSON string escape covering EVERY control character — Spark parse
    * errors occasionally embed raw bytes < 0x20 (\b, \f, vertical tabs)
    * and a partial escape chain would emit an invalid error body. */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** JVM-global request sequence: job-group ids must never be reused
    * within one SparkContext, because `cancelJobGroupAndFutureJobs`
    * bans the id durably — a later gateway instance restarting a
    * per-server counter would inherit the ban and have its first
    * query cancelled on arrival. */
  private val reqSeq = new AtomicLong(0L)
  private val idxSeq = new AtomicLong(0L)

  /** One daemon thread arms/disarms per-request cancel timers for every
    * gateway instance in the JVM (the cancellation itself is Spark's
    * job-group machinery) — shared so `Gateway.stop()` never has to
    * reason about in-flight timers, and repeated serve/stop cycles (the
    * spec suite) don't accumulate threads. */
  private lazy val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "gateway-watchdog"); t.setDaemon(true); t
      })

  /** Per-JVM gateway sequence: names each gateway's request threads. */
  private val gwSeq = new AtomicLong(0L)

  /** A running gateway: the HTTP server, its request pool and the
    * streaming-metrics listener attached for /metrics. `stop()` tears
    * down all three — the pool's threads are non-daemon, so a pool left
    * running keeps the JVM alive after `main` returns. */
  final class Gateway(val server: HttpServer, spark: SparkSession,
                      listener: PipelineMetrics.MetricsListener,
                      pool: java.util.concurrent.ExecutorService) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      server.stop(0)
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
      spark.streams.removeListener(listener)
    }
  }

  /** Render the Prometheus text exposition (format 0.0.4): gateway
    * request/error counters, the m01-shape live streaming gauges from
    * `listener`, and (if `metricsDir` points at an existing durable
    * metrics table) the m03 per-run rollup as labeled series. The m03
    * scan is over an O(#batches) metadata-sized table — scrape-cheap at
    * any corpus scale. */
  private[graft] def prometheusText(spark: SparkSession,
                                    listener: PipelineMetrics.MetricsListener,
                                    requests: Long, errors: Long,
                                    metricsDir: Option[String]): String = {
    val sb = new StringBuilder
    def num(v: Double): String =
      if (v.isNaN) "NaN"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    def family(name: String, typ: String, help: String,
               series: Seq[(String, Double)]): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name $typ\n")
      series.foreach { case (labels, v) => sb.append(s"$name$labels ${num(v)}\n") }
    }

    family("graft_gateway_requests_total", "counter",
      "HTTP requests served by the SQL gateway", Seq("" -> requests.toDouble))
    family("graft_gateway_errors_total", "counter",
      "gateway requests answered with an error status", Seq("" -> errors.toDouble))

    // m01's gauge shape, computed from the per-batch listener buffer —
    // the live-scrape analogue of PipelineMetrics.selfMetrics
    val bm = listener.batches
    val rowsTotal = bm.map(_.input_rows).sum
    val durTotal = bm.map(_.batch_duration_ms).sum
    val lastWm = bm.flatMap(_.watermark_ms).lastOption
    family("graft_stream_input_rows_total", "counter",
      "rows ingested across streaming micro-batches in this session",
      Seq("" -> rowsTotal.toDouble))
    family("graft_stream_micro_batches_total", "counter",
      "streaming micro-batches executed in this session",
      Seq("" -> bm.size.toDouble))
    family("graft_stream_rows_per_sec", "gauge",
      "overall rows/sec across recorded micro-batches",
      Seq("" -> (if (durTotal <= 0) 0.0 else rowsTotal * 1000.0 / durTotal)))
    family("graft_stream_watermark_ms", "gauge",
      "latest event-time watermark (epoch ms, 0 before the first)",
      Seq("" -> lastWm.getOrElse(0L).toDouble))
    family("graft_stream_watermark_lag_ms", "gauge",
      "wall clock minus event-time watermark at the last micro-batch",
      Seq("" -> lastWm.zip(bm.lastOption).map { case (wm, b) =>
        (b.wall_time_ms - wm).toDouble }.getOrElse(0.0)))
    family("graft_stream_state_rows", "gauge",
      "state-store rows at the last micro-batch",
      Seq("" -> bm.lastOption.map(_.state_rows.toDouble).getOrElse(0.0)))

    // checkpoint-commit timings — the Flink checkpoint-duration
    // dashboard analogue, labeled per streaming query
    def qlbl(id: String) =
      s"""{query_id="${id.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    val byQuery = bm.groupBy(_.query_id).toSeq.sortBy(_._1)
    family("graft_stream_commit_ms_total", "counter",
      "cumulative checkpoint commit time (offset WAL + commit log) per query",
      byQuery.map { case (q, b) => qlbl(q) -> b.map(_.commit_ms).sum.toDouble })
    family("graft_stream_last_commit_ms", "gauge",
      "checkpoint commit time of the query's last micro-batch",
      byQuery.map { case (q, b) => qlbl(q) -> b.last.commit_ms.toDouble })
    family("graft_stream_state_commit_ms_total", "counter",
      "cumulative state-store commit time per query",
      byQuery.map { case (q, b) => qlbl(q) -> b.map(_.state_commit_ms).sum.toDouble })
    family("graft_stream_last_state_commit_ms", "gauge",
      "state-store commit time of the query's last micro-batch",
      byQuery.map { case (q, b) => qlbl(q) -> b.last.state_commit_ms.toDouble })

    // m03 rollup — one labeled series per persisted run
    metricsDir.filter(d => new java.io.File(d).exists()).foreach { d =>
      val runs = PipelineMetrics.runSummary(spark, d).collect()
      // exposition-format label values escape backslash and quote
      def lbl(r: org.apache.spark.sql.Row) =
        s"""{run_id="${r.getAs[String]("run_id")
          .replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
      family("graft_run_rows_total", "gauge",
        "rows ingested per persisted metrics run",
        runs.map(r => lbl(r) -> r.getAs[Long]("rows_total").toDouble).toSeq)
      family("graft_run_rows_per_sec", "gauge",
        "overall throughput per persisted metrics run",
        runs.map(r => lbl(r) -> r.getAs[Double]("rows_per_sec")).toSeq)
      family("graft_run_max_watermark_lag_ms", "gauge",
        "worst wall-clock-minus-watermark lag per persisted metrics run",
        runs.map(r => lbl(r) -> r.getAs[Long]("max_watermark_lag_ms").toDouble).toSeq)
    }
    sb.toString
  }

  /** Start the gateway on `port` (0 = ephemeral; read the bound port
    * from the returned gateway). Loopback-only unless `bindAll`.
    * `metricsDir` (optional) is a durable m03 metrics table to roll up
    * under /metrics. Call `.stop()` to shut down. */
  /** The gateway's serving indexes — the s38 bucketed-sorted postings +
    * df tables and the s37 cell-partitioned IVF table, built ONCE per
    * process over the ITEM split (doc_id % BenchMod != 0, the s38/s39
    * convention: the eval slice queries, the rest is indexed), plus the
    * corpus stats and the fixed coarse quantizer. `emb` rides along for
    * /search's vec_id query-embedding lookups. */
  private[graft] final case class SearchIndexes(
      tf: org.apache.spark.sql.DataFrame,
      df: org.apache.spark.sql.DataFrame,
      ivf: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame,
      nDocs: Long, avgdl: Double,
      cents: IndexedSeq[Array[Float]]) {
    /** Caller-named persisted tables override the gateway-owned ones;
      * BM25 corpus stats are re-derived FROM the named postings table
      * (stats must describe the corpus actually being served) and
      * MEMOIZED per table name — (nDocs, avgdl) is a pure function of
      * the named table, so recomputing the full-postings aggregate per
      * interactive request would make the constant dominate latency.
      * An overridden ivf table is CHECKED against the gateway's fixed
      * quantizer on first use (sampled argmaxCell == stored cell): a
      * table built with different centroids would otherwise serve
      * silently wrong cells. vec_id query lookups still resolve
      * against the gateway corpus's embeddings — an override is a
      * different INDEX over the same vector space, not a different
      * corpus. */
    def overridden(spark: SparkSession, tfTbl: Option[String],
                   dfTbl: Option[String], ivfTbl: Option[String]): SearchIndexes = {
      import org.apache.spark.sql.functions._
      val t = tfTbl.map(spark.table).getOrElse(tf)
      val d = dfTbl.map(spark.table).getOrElse(df)
      val i = ivfTbl.map(spark.table).getOrElse(ivf)
      ivfTbl.foreach { name =>
        SqlGateway.checkedIvf.getOrElseUpdate(name, {
          val bad = i.limit(256)
            .filter(graft.operators.SimilaritySearch
              .argmaxCell(col("embedding"), cents) =!= col("cell"))
            .count()
          require(bad == 0, s"ivf table $name was not built with the " +
            s"gateway's fixed quantizer ($bad of <=256 sampled rows sit " +
            "in the wrong cell) — probing it would serve wrong neighbors")
          true
        })
      }
      if (tfTbl.isEmpty) copy(df = d, ivf = i)
      else {
        val (n, adl) = SqlGateway.postingsStats.getOrElseUpdate(tfTbl.get, {
          val st = t.groupBy("doc_id").agg(max("dl").as("dl"))
            .agg(count(lit(1)).as("n"), avg("dl").as("avgdl")).collect()(0)
          require(!st.isNullAt(1), s"postings table ${tfTbl.get} is empty")
          (st.getLong(0), st.getDouble(1))
        })
        copy(tf = t, df = d, ivf = i, nDocs = n, avgdl = adl)
      }
    }
  }

  /** Memoized corpus stats per caller-named postings table, and the
    * per-name one-shot quantizer checks for caller-named ivf tables —
    * both pure functions of the named table's content at first use. */
  private val postingsStats =
    new scala.collection.concurrent.TrieMap[String, (Long, Double)]
  private val checkedIvf =
    new scala.collection.concurrent.TrieMap[String, Boolean]

  /** SearchIndexes over a LIVE s40/s43 serving-store root (the
    * `<workDir>/store` directory holding the four DeltaStores) — the
    * production read path where the gateway serves an index a
    * maintenance stream is still writing. Reads are strictly
    * [[graft.store.DeltaStore.readOnly]] (a non-owner must never run
    * recover(): it would delete the writer's in-progress compaction
    * staging), and NOTHING is memoized — a live store changes between
    * requests, so corpus stats and the quantizer sample are re-derived
    * per request (both are model-grain: the stats relation is
    * O(batches) rows, the guard samples ≤ 256).
    *
    * All four stores are pinned to ONE corpus as-of point — the minimum
    * over their [[graft.store.DeltaStore.readOnlyMaxBatch]]s — so a
    * request landing mid-maintenance-batch cannot see a torn index
    * whose tf already carries a batch the ivf (or df) store does not:
    * BM25 idf/avgdl and the fused ranks always describe a single
    * prefix of the owner stream (ADVICE r17). The owner appends every
    * batch tf→df→stats→ivf before any compaction, so each store's
    * folded watermark is ≤ the common minimum; readOnly enforces that
    * invariant loudly rather than serving a rewound base.
    *
    * RETENTION-window consistency (ADVICE r18 → built r20): for an
    * s46/s50 owner, one retention pass compacts tf/ivf at the new
    * watermark BEFORE df and the corpus stats are rebased from the
    * retained postings. Batch ids do not change across that window, so
    * the common as-of pin cannot detect it. The owner therefore
    * brackets every pass with the store-group
    * [[graft.store.StoreEpoch]] seqlock, and this reader checks it
    * like the batch watermarks: epoch read before assembly and again
    * after the eager stats/quantizer work — consistent iff both are
    * the same EVEN value. A mid-merge request retries briefly (merges
    * are seconds-scale), then REFUSES with
    * [[SqlGateway.StoreMidMergeException]] (HTTP 409) instead of
    * serving retained postings against pre-expiry idf/avgdl. */
  private[graft] def liveStoreIndexes(spark: SparkSession,
                                      base: SearchIndexes,
                                      root: String): SearchIndexes = {
    import org.apache.spark.sql.functions._
    val h = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(h.exists(new org.apache.hadoop.fs.Path(root)),
      s"store root $root does not exist")
    val attempts = 3
    var last = -1L
    var result: Option[SearchIndexes] = None
    var attempt = 0
    while (result.isEmpty && attempt < attempts) {
      attempt += 1
      val e1 = graft.store.StoreEpoch.read(spark, root)
      last = e1
      if (e1 % 2 == 0) {
        val (tfS, dfS, statS, ivfS) =
          graft.streaming.StreamingQueries.servingDeltaStores(spark, root)
        val asOf = Seq(tfS, dfS, statS, ivfS).map(_.readOnlyMaxBatch(spark)).min
        val st = statS.readOnly(spark, asOf)
          .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
            coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"))
          .collect()(0)
        val nDocs = st.getLong(0)
        require(nDocs > 0,
          s"store root $root holds no tokenized item docs (avgdl undefined)")
        val avgdl = st.getLong(1).toDouble / nDocs
        val ivf = ivfS.readOnly(spark, asOf)
        val bad = ivf.limit(256)
          .filter(graft.operators.SimilaritySearch
            .argmaxCell(col("embedding"), base.cents) =!= col("cell"))
          .count()
        require(bad == 0, s"store root $root was not built with the gateway's " +
          s"fixed quantizer ($bad of <=256 sampled rows sit in the wrong cell) " +
          "— probing it would serve wrong neighbors")
        // the seqlock validate: no retention pass began during the
        // eager assembly above, so the stats the request will score
        // with describe the same corpus cut as the postings it reads
        val e2 = graft.store.StoreEpoch.read(spark, root)
        if (e2 == e1)
          result = Some(base.copy(tf = tfS.readOnly(spark, asOf),
            df = dfS.readOnly(spark, asOf).groupBy("token")
              .agg(sum("df").as("df")),
            ivf = ivf, nDocs = nDocs, avgdl = avgdl))
        else last = e2
      }
      if (result.isEmpty && attempt < attempts) Thread.sleep(120L * attempt)
    }
    result.getOrElse(throw new StoreMidMergeException(
      s"store root $root is mid-retention-merge (epoch $last) — retried " +
        s"$attempts times; retry once the owner's pass completes"))
  }

  /** A live-store read refused because the owner's retention merge is
    * in progress — surfaced as HTTP 409 (retryable), never as a wrong
    * or skew-scored result. */
  private[graft] final class StoreMidMergeException(msg: String)
      extends RuntimeException(msg)

  /** store= points the gateway at a filesystem path; unrestricted, that
    * is a read/probe surface over the whole filesystem if the gateway
    * is ever bound non-loopback (ADVICE r17). Live-store roots must
    * resolve under one of the allowlisted prefixes — by default the
    * JVM temp dir, where every graft work tree lives;
    * `GRAFT_GATEWAY_STORE_ROOTS` (path-separator-joined) overrides.
    * Canonical paths on both sides, so `..` segments and symlinked
    * escapes fail the prefix test rather than dodge it. */
  private[graft] def requireAllowedStoreRoot(root: String,
                                             allowed: Seq[String]): Unit = {
    val canon = new java.io.File(root).getCanonicalPath
    val ok = allowed.exists { a =>
      val ac = new java.io.File(a).getCanonicalPath
      canon == ac || canon.startsWith(ac + java.io.File.separator)
    }
    require(ok, s"store root $root is outside the allowlisted roots " +
      s"(${allowed.mkString(java.io.File.pathSeparator)}) — set " +
      "GRAFT_GATEWAY_STORE_ROOTS to serve stores from elsewhere")
  }

  /** The allowlist [[requireAllowedStoreRoot]] checks against. */
  private[graft] def allowedStoreRoots: Seq[String] =
    sys.env.get("GRAFT_GATEWAY_STORE_ROOTS")
      .map(_.split(java.io.File.pathSeparator).toSeq.filter(_.nonEmpty))
      .getOrElse(Seq(System.getProperty("java.io.tmpdir")))

  /** The gateway's PQ serving surface (`/search?mode=pq`): the x114
    * fixed-quantizer rows plus a cell-partitioned CODE table over the
    * FULL embeddings table (the x114/s45/s47 convention — queries are
    * corpus members, self-excluded at scoring), built once per process.
    * `src` (the raw vectors) rides along for the exact rerank and the
    * query lookups — the code table itself never carries them (the PQ
    * memory contract). */
  private[graft] final case class PqIndexes(
      fixedRows: Map[Long, Array[Float]], dsub: Int,
      codes: org.apache.spark.sql.DataFrame,
      src: org.apache.spark.sql.DataFrame)

  private[graft] def buildPqIndexes(spark: SparkSession,
                                    dir: String): PqIndexes = {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    val src = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").as("vec"))
    val (fixedRows, dsub) =
      SimilaritySearch.pqFixedRows(src, P.NLists, P.M, P.Codes)
    val work = WorkDirs.tempDir("graft_gateway_pq_")
    val tbl = s"gateway_search_pq_${idxSeq.incrementAndGet()}"
    SimilaritySearch.pqEncoded(src, fixedRows, P.NLists, P.M, P.Codes, dsub)
      .repartition(col("cell"))
      .write.mode("overwrite").option("path", s"$work/pq")
      .partitionBy("cell").saveAsTable(tbl)
    PqIndexes(fixedRows, dsub, spark.table(tbl), src)
  }

  /** pq_store= sanity, the foreign-quantizer guard extended to the
    * CODEBOOKS (VERDICT r17 task 5): re-encode ≤ 256 sampled store rows
    * with the gateway's quantizer and compare the stored cell AND every
    * stored code column — a store built with foreign centroids or
    * codebooks would make the ADC lookup-sums silently meaningless.
    * Also refuses a store sharing no vec_ids with the gateway corpus
    * (nothing to rerank against). Re-derived per request, the
    * liveStoreIndexes posture — a live store changes between calls. */
  private[graft] def checkPqStore(idx: PqIndexes,
                                  store: org.apache.spark.sql.DataFrame,
                                  root: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    val cents = IndexedSeq.tabulate(P.NLists)(i => idx.fixedRows(i.toLong))
    // pin the sample: the two joins below must see the SAME ≤256 rows
    val sample = store.limit(256).localCheckpoint()
    // rows whose vec_ids the gateway corpus does not know would be
    // silently EXCLUDED from the re-encode check below yet still
    // compete in the ADC shortlist (and die at the exact-rerank join,
    // shrinking results below k) — a foreign-id store is refused the
    // same way a foreign quantizer is (ADVICE r18)
    val unknown = sample.join(idx.src, Seq("vec_id"), "left_anti").count()
    require(unknown == 0,
      s"pq store $root carries $unknown sampled rows with vec_ids " +
        "unknown to the gateway corpus — foreign-corpus codes cannot " +
        "be verified or reranked")
    val sampled = sample.join(idx.src, "vec_id")
    require(sampled.count() > 0,
      s"pq store $root shares no vec_ids with the gateway corpus — " +
        "a foreign-corpus store cannot be reranked")
    val bad = sampled.filter(
        SimilaritySearch.argmaxCell(col("vec"), cents) =!= col("cell") ||
          (0 until P.M).map(j =>
            SimilaritySearch.pqCodeOf(col("vec"), idx.fixedRows, j,
              idx.dsub, P.Codes) =!= col(s"code_$j")).reduce(_ || _))
      .count()
    require(bad == 0,
      s"pq store $root was not built with the gateway's quantizer/" +
        s"codebooks ($bad of <=256 sampled rows re-encode differently) " +
        "— ADC over it would serve wrong neighbors")
  }

  /** One /search?mode=pq request: the s45/s47 ADC serve for a 1-row
    * query batch — probe cells and the m×codes ADC table are row-local
    * expressions, the code-store scan is pruned to the probed cells
    * (static partition filters, below the base∪delta union for a live
    * store), and only the k·refine shortlist touches raw vectors. */
  private[graft] def searchPqTopK(spark: SparkSession, idx: PqIndexes,
                                  store: org.apache.spark.sql.DataFrame,
                                  vecId: Long, k: Int): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    val q = idx.src.filter(col("vec_id") === vecId)
      .select(col("vec_id").as("query_id"), col("vec").as("q_vec"))
    require(q.count() == 1, s"vec_id $vecId not found in embeddings")
    val probed = SimilaritySearch.pqProbed(q, idx.fixedRows, P.NLists,
      P.NProbe, P.M, P.Codes, idx.dsub).localCheckpoint()
    val cells = probed.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned = store.filter(col("cell").isin(cells.map(Long.box): _*))
    SimilaritySearch.pqAdcRank(pruned, probed, idx.src, q, k, P.M,
        P.Codes, P.Refine)
      .orderBy("rank").toJSON.collect().mkString("", "\n", "\n")
  }

  private[graft] def buildSearchIndexes(spark: SparkSession,
                                        dir: String): SearchIndexes = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Curation, SimilaritySearch}
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.streaming.StreamingQueries
    val docs = Tables.documents(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val items = docs.filter(col("doc_id") % Curation.BenchMod =!= 0)
    val cents = SimilaritySearch.collectFixedRows(
      emb.filter(col("vec_id") < P.NLists), P.NLists)
    val work = WorkDirs.tempDir("graft_gateway_idx_")
    // per-build table names: two gateways (or a rebuild) sharing one
    // SparkSession must not clobber each other's serving indexes —
    // fixed names would let B's overwrite delete files under A's
    // in-flight scans, or leave A's stats describing B's corpus
    val uid = idxSeq.incrementAndGet()
    val (tfTbl, dfTbl, ivfTbl) =
      (s"gateway_search_tf_$uid", s"gateway_search_df_$uid",
        s"gateway_search_ivf_$uid")
    val (nDocs, avgdl) =
      StreamingQueries.buildBm25Index(spark, items, work, tfTbl, dfTbl)
    emb.filter(col("vec_id") % Curation.BenchMod =!= 0)
      .select(col("vec_id"), col("embedding"),
        SimilaritySearch.argmaxCell(col("embedding"), cents).as("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").option("path", s"$work/ivf")
      .partitionBy("cell").saveAsTable(ivfTbl)
    SearchIndexes(spark.table(tfTbl),
      spark.table(dfTbl), spark.table(ivfTbl),
      emb, nDocs, avgdl, cents)
  }

  /** One /search request: build the 1-row query batch and run the
    * requested arms through the stream-serving rank helpers, fusing at
    * the s39 depth for hybrid. query_id = vec_id when given (so an
    * in-index query vector excludes itself, the s37 rule), else 0. */
  private[graft] def searchTopK(spark: SparkSession, idx: SearchIndexes,
                                searchMode: String, text: String,
                                vecId: Option[Long], k: Int): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.streaming.StreamingQueries
    import graft.queries.{CurationQueries => CQ}
    import spark.implicits._
    val qid = vecId.getOrElse(0L)
    def lexArm(depth: Int) = {
      require(text.nonEmpty, s"mode=$searchMode needs query text in the body")
      // tokenless text would tokenize to an empty IN-list and silently
      // degrade to empty/semantic-only results — fail as loudly as
      // /score does for the same input
      require("[a-z0-9]".r.findFirstIn(text.toLowerCase).isDefined,
        s"mode=$searchMode needs query text with [a-z0-9]+ tokens in the body")
      StreamingQueries.bm25BatchRank(spark,
        Seq((qid, text)).toDF("query_id", "text"),
        idx.tf, idx.df, idx.nDocs, idx.avgdl, depth)
    }
    def semArm(depth: Int) = {
      val id = vecId.getOrElse(
        throw new IllegalArgumentException(s"mode=$searchMode needs vec_id=<id>"))
      val q = idx.emb.filter(col("vec_id") === id)
        .select(lit(qid).as("query_id"), col("embedding").as("q_vec"))
      require(q.count() == 1, s"vec_id $id not found in embeddings")
      StreamingQueries.annBatchRank(spark, q, idx.ivf, idx.cents,
        P.NProbe, depth)
    }
    val out = searchMode match {
      case "lexical" => lexArm(k)
      case "semantic" => semArm(k)
      case "hybrid" =>
        val depth = math.max(k, CQ.HybridListK)
        SimilaritySearch.rrfFuse(
          lexArm(depth).select(col("query_id"), col("doc_id"),
            col("rnk").as("rank")),
          semArm(depth).select(col("query_id"),
            col("vec_id").as("doc_id"), col("rank")),
          k0 = CQ.RrfK0, k = k)
      case other =>
        throw new IllegalArgumentException(
          s"unknown mode '$other' (hybrid|lexical|semantic|pq)")
    }
    out.toJSON.collect().mkString("", "\n", "\n")
  }

  /** One /score request: the quality-gate signals for a posted text,
    * through the SAME engine expressions the batch entries hash-check —
    * x124's pinned-weight classifier score, the x02 heuristic
    * composite, and the x126 Pareto admission (u drawn from `docId`
    * with the "paretoc:" seed, so /score?doc_id=i over a corpus row's
    * text reproduces that row's x126 verdict exactly — the route-parity
    * contract SqlGatewaySpec pins). A tokenless text is a loud 400
    * (the x124/x87 drop rule: there is nothing to score). */
  private[graft] def scoreDoc(spark: SparkSession, docId: Long,
                              text: String): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    // ONE engine action for the whole interactive request: the x02
    // composite rides the doc-grain groupBy as a carried (per-doc
    // constant) column, and the draw + chain are the SAME shared
    // expressions x126 hash-checks — no literal re-folding, no second
    // job. keep tests the UNROUNDED key, exactly as x126's filter does.
    val rows = Curation.qcFixedScored(
        Seq((docId, text)).toDF("doc_id", "text")
          .withColumn("quality", round(TF.qualityScore(col("text")), 6)),
        Seq("quality"))
      .withColumn("accept_key", Curation.paretoAcceptKey(col("q_score"),
        Curation.paretoUniform("paretoc:", col("doc_id"))))
      .collect()
    require(rows.nonEmpty, "text has no [a-z0-9]+ tokens to score")
    val r = rows(0)
    val q = r.getDouble(2)
    val quality = r.getDouble(1)
    val acceptKey = r.getDouble(3)
    val acceptR = BigDecimal(acceptKey)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    s"""{"doc_id":$docId,"q_score":$q,"quality":$quality,""" +
      s""""accept_key":$acceptR,"keep":${acceptKey < 1.0}}""" + "\n"
  }

  /** One /score?model=trained request: the x130/x133 composition for a
    * posted text — the STORED-model score (qcFeatures → qcServeScores,
    * the exact expressions x133 serves the corpus with, so a corpus
    * row's text + doc_id reproduces its x133 verdict) and the Pareto
    * admission drawn from `docId`. No x02 quality field here: the
    * trained route mirrors x130's composition, which scores with the
    * classifier alone. */
  private[graft] def scoreDocTrained(spark: SparkSession, docId: Long,
                                     text: String, w: Array[Double],
                                     b: Double): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    import spark.implicits._
    val rows = Curation.qcServeScores(
        Curation.qcFeatures(Seq((docId, text)).toDF("doc_id", "text")), w, b)
      .withColumn("accept_key", Curation.paretoAcceptKey(col("q_score"),
        Curation.paretoUniform("paretoc:", col("doc_id"))))
      .collect()
    require(rows.nonEmpty, "text has no [a-z0-9]+ tokens to score")
    val r = rows(0)
    val q = r.getDouble(2)
    val key = r.getDouble(3)
    val keyR = BigDecimal(key)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    s"""{"doc_id":$docId,"model":"trained","q_score":$q,""" +
      s""""accept_key":$keyR,"keep":${key < 1.0}}""" + "\n"
  }

  def serve(spark: SparkSession, port: Int, bindAll: Boolean = false,
            defaultTimeoutSec: Int = 300,
            metricsDir: Option[String] = None,
            entriesDir: Option[String] = None): Gateway = {
    val addr =
      if (bindAll) new InetSocketAddress(port)
      else new InetSocketAddress("127.0.0.1", port)
    val server = HttpServer.create(addr, 0)
    val requests = new AtomicLong(0L)
    val errorsServed = new AtomicLong(0L)

    val listener = new PipelineMetrics.MetricsListener
    spark.streams.addListener(listener)

    def respond(ex: HttpExchange, status: Int, body: String,
                contentType: String = "application/json; charset=utf-8"): Unit = {
      if (status >= 400) errorsServed.incrementAndGet()
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    def queryParam(ex: HttpExchange, key: String): Option[String] =
      Option(ex.getRequestURI.getQuery).toSeq
        .flatMap(_.split("&")).collectFirst {
          case p if p.startsWith(s"$key=") => p.stripPrefix(s"$key=")
        }

    server.createContext("/health", (ex: HttpExchange) => {
      requests.incrementAndGet()
      respond(ex, 200, """{"status":"ok"}""" + "\n")
    })

    server.createContext("/metrics", (ex: HttpExchange) => {
      requests.incrementAndGet()
      try respond(ex, 200,
        prometheusText(spark, listener, requests.get(), errorsServed.get(), metricsDir),
        "text/plain; version=0.0.4; charset=utf-8")
      catch { case e: Throwable =>
        respond(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName),
          "text/plain; charset=utf-8")
      }
    })

    server.createContext("/sql", (ex: HttpExchange) => {
      requests.incrementAndGet()
      if (ex.getRequestMethod != "POST")
        respond(ex, 405, """{"error":"POST raw SQL to /sql"}""" + "\n")
      else {
        val sql = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
        // toIntOption: a malformed limit/timeout must degrade to the
        // default, not throw outside the handler's try and leave the
        // client hanging
        val limit = queryParam(ex, "limit")
          .flatMap(_.toIntOption).filter(_ > 0).getOrElse(10000)
        val timeoutSec = queryParam(ex, "timeout")
          .flatMap(_.toIntOption).filter(_ > 0).getOrElse(defaultTimeoutSec)
        if (sql.isEmpty) respond(ex, 400, """{"error":"empty query"}""" + "\n")
        else {
          // per-request job group + watchdog: the ClickHouse
          // max_execution_time analogue. setJobGroup is thread-local,
          // so concurrent requests on the pool cancel independently.
          val group = s"gateway-sql-${reqSeq.incrementAndGet()}"
          val sc = spark.sparkContext
          val timedOut = new AtomicBoolean(false)
          sc.setJobGroup(group, s"/sql: ${sql.take(120)}", interruptOnCancel = true)
          // AndFutureJobs closes the submission race: if the timeout
          // fires while the query is still planning, a plain
          // cancelJobGroup would cancel nothing and the job submitted a
          // moment later would run unbounded
          val timer = watchdog.schedule(new Runnable {
            override def run(): Unit = {
              timedOut.set(true); sc.cancelJobGroupAndFutureJobs(group)
            }
          }, timeoutSec.toLong, TimeUnit.SECONDS)
          try queryParam(ex, "format").map(_.toLowerCase).getOrElse("json") match {
            case "csv" => respond(ex, 200,
              runToDelimited(spark, sql, limit, ','), "text/csv; charset=utf-8")
            case "tsv" => respond(ex, 200,
              runToDelimited(spark, sql, limit, '\t'),
              "text/tab-separated-values; charset=utf-8")
            case _ => respond(ex, 200, runToJsonLines(spark, sql, limit))
          } catch {
            case _: Throwable if timedOut.get() =>
              respond(ex, 408,
                s"""{"error":"query cancelled after $timeoutSec s (timeout)"}""" + "\n")
            case e: Throwable =>
              val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))
              respond(ex, 400, s"""{"error":"$msg"}""" + "\n")
          } finally {
            timer.cancel(false)
            sc.clearJobGroup()
          }
        }
      }
    })

    // the registry as a SERVED surface — the saved-query analogue of the
    // reference's canned dashboard reads: GET /entries lists every
    // SparkEntry registry name with its decision-table hints (oracle
    // flag, operator family, scale caveat); POST /entries/<name> runs
    // it against the gateway's fixture dir under the same
    // job-group/timeout/limit discipline as /sql; a result cut at the
    // limit carries an `X-Graft-Truncated: limit=<N>` header. The listing is
    // GET-only (405 otherwise); execution is
    // POST-ONLY (405 on GET), mirroring /sql: several entries run
    // multi-minute streaming jobs and write temp dirs, and a GET that
    // does heavy work is one crawler or browser prefetch away from a
    // denial-of-service under bindAll.
    entriesDir.foreach { dir =>
      server.createContext("/entries", (ex: HttpExchange) => {
        requests.incrementAndGet()
        val path = ex.getRequestURI.getPath.stripPrefix("/entries")
          .stripPrefix("/").trim
        if (path.isEmpty && ex.getRequestMethod != "GET")
          // same method hygiene as /sql and /entries/<name>: the bare
          // listing is a read, served only on GET
          respond(ex, 405,
            """{"error":"GET /entries lists registry entries"}""" + "\n")
        else if (path.isEmpty) {
          val names = SparkEntry.queries.keySet
          val oracled = SparkEntry.oracleSql.keySet
          val body = names.toSeq.sorted.map { n =>
            val caveat = SparkEntry.scaleCaveats.get(n)
              .map(c => s""","scale_caveat":"${jsonEscape(c)}"""").getOrElse("")
            s"""{"name":"$n","oracle":${oracled.contains(n)},""" +
              s""""family":"${SparkEntry.family(n)}"$caveat}"""
          }.mkString("", "\n", "\n")
          respond(ex, 200, body)
        } else if (ex.getRequestMethod != "POST")
          respond(ex, 405,
            """{"error":"POST to execute a registry entry (GET /entries lists them)"}""" + "\n")
        else SparkEntry.queries.get(path) match {
          case None =>
            respond(ex, 404, s"""{"error":"no registry entry ${jsonEscape(path)}"}""" + "\n")
          case Some(fn) =>
            val limit = queryParam(ex, "limit")
              .flatMap(_.toIntOption).filter(_ > 0).getOrElse(10000)
            val timeoutSec = queryParam(ex, "timeout")
              .flatMap(_.toIntOption).filter(_ > 0).getOrElse(defaultTimeoutSec)
            val group = s"gateway-entry-${reqSeq.incrementAndGet()}"
            val sc = spark.sparkContext
            val timedOut = new AtomicBoolean(false)
            sc.setJobGroup(group, s"/entries/$path", interruptOnCancel = true)
            val timer = watchdog.schedule(new Runnable {
              override def run(): Unit = {
                timedOut.set(true); sc.cancelJobGroupAndFutureJobs(group)
              }
            }, timeoutSec.toLong, TimeUnit.SECONDS)
            try {
              // one row past the cap tells a full answer from a cut one
              val rows = fn(spark, dir).toJSON
                .take(if (limit == Int.MaxValue) limit else limit + 1)
              if (rows.length > limit)
                ex.getResponseHeaders.set("X-Graft-Truncated", s"limit=$limit")
              respond(ex, 200, rows.take(limit).mkString("", "\n", "\n"))
            } catch {
              case _: Throwable if timedOut.get() =>
                respond(ex, 408,
                  s"""{"error":"entry cancelled after $timeoutSec s (timeout)"}""" + "\n")
              case e: Throwable =>
                val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))
                respond(ex, 400, s"""{"error":"$msg"}""" + "\n")
            } finally {
              timer.cancel(false)
              sc.clearJobGroup()
            }
        }
      })
    }

    // POST /search — the serving stack's interactive read path (the
    // /sql analogue for the durable indexes): text and/or a query
    // embedding (named by vec_id) → lexical / semantic / hybrid top-k
    // through the SAME per-batch rank helpers the s37–s40 streams use
    // (bm25BatchRank / annBatchRank / rrfFuse), against gateway-owned
    // index tables built once per process from the fixture dir (the
    // production per-corpus-refresh build), or caller-named persisted
    // tables via tf=/df=/ivf= params. Same job-group + watchdog
    // discipline as /sql; POST-only (a GET that builds indexes and runs
    // retrieval is a crawler-prefetch denial-of-service under bindAll).
    entriesDir.foreach { dir =>
      lazy val searchIdx: SearchIndexes = buildSearchIndexes(spark, dir)
      lazy val pqIdx: PqIndexes = buildPqIndexes(spark, dir)
      server.createContext("/search", (ex: HttpExchange) => {
        requests.incrementAndGet()
        if (ex.getRequestMethod != "POST")
          respond(ex, 405,
            """{"error":"POST query text to /search (params: k, mode=hybrid|lexical|semantic|pq, vec_id, tf, df, ivf, store, pq_store)"}""" + "\n")
        else {
          val text = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
          val k = queryParam(ex, "k")
            .flatMap(_.toIntOption).filter(_ > 0).getOrElse(10)
          val mode = queryParam(ex, "mode").map(_.toLowerCase)
            .getOrElse("hybrid")
          val vecId = queryParam(ex, "vec_id").flatMap(_.toLongOption)
          val timeoutSec = queryParam(ex, "timeout")
            .flatMap(_.toIntOption).filter(_ > 0).getOrElse(defaultTimeoutSec)
          val group = s"gateway-search-${reqSeq.incrementAndGet()}"
          val sc = spark.sparkContext
          val timedOut = new AtomicBoolean(false)
          sc.setJobGroup(group, s"/search[$mode]: ${text.take(80)}",
            interruptOnCancel = true)
          val timer = watchdog.schedule(new Runnable {
            override def run(): Unit = {
              timedOut.set(true); sc.cancelJobGroupAndFutureJobs(group)
            }
          }, timeoutSec.toLong, TimeUnit.SECONDS)
          try {
            if (mode == "pq") {
              // the ADC route serves the CODE store — the inverted-index
              // and raw-vector-IVF params do not apply to it
              require(Seq("tf", "df", "ivf", "store")
                  .forall(queryParam(ex, _).isEmpty),
                "mode=pq serves the PQ code store — tf/df/ivf/store do not apply (pq_store= names a live s47 code store)")
              val id = vecId.getOrElse(throw new IllegalArgumentException(
                "mode=pq needs vec_id=<id>"))
              val storeRel = queryParam(ex, "pq_store") match {
                case Some(root) =>
                  requireAllowedStoreRoot(root, allowedStoreRoots)
                  val h = new org.apache.hadoop.fs.Path(root)
                    .getFileSystem(spark.sessionState.newHadoopConf())
                  require(h.exists(new org.apache.hadoop.fs.Path(root)),
                    s"pq store root $root does not exist")
                  // a NON-owner of a live s47 store: strictly readOnly
                  val st = graft.streaming.StreamingQueries
                    .pqCodeStore(spark,
                      root, graft.operators.SimilaritySearch.IvfPqFixed.M)
                    .readOnly(spark)
                  checkPqStore(pqIdx, st, root)
                  st
                case None => pqIdx.codes
              }
              respond(ex, 200, searchPqTopK(spark, pqIdx, storeRel, id, k))
            } else {
              require(queryParam(ex, "pq_store").isEmpty,
                "pq_store= applies to mode=pq only")
              val idx = queryParam(ex, "store") match {
                case Some(root) =>
                  // a live DeltaStore root replaces ALL index relations —
                  // mixing it with per-table overrides would serve a
                  // chimera index, so the combination is rejected
                  require(Seq("tf", "df", "ivf")
                      .forall(queryParam(ex, _).isEmpty),
                    "store= replaces tf/df/ivf — the params cannot be combined")
                  requireAllowedStoreRoot(root, allowedStoreRoots)
                  liveStoreIndexes(spark, searchIdx, root)
                case None => searchIdx.overridden(spark,
                  queryParam(ex, "tf"), queryParam(ex, "df"), queryParam(ex, "ivf"))
              }
              respond(ex, 200, searchTopK(spark, idx, mode, text, vecId, k))
            }
          } catch {
            case _: Throwable if timedOut.get() =>
              respond(ex, 408,
                s"""{"error":"search cancelled after $timeoutSec s (timeout)"}""" + "\n")
            case e: StoreMidMergeException =>
              // retryable consistency refusal, not a bad request: the
              // owner's retention pass is mid-flight (StoreEpoch odd)
              respond(ex, 409,
                s"""{"error":"${jsonEscape(Option(e.getMessage).getOrElse("store mid-merge"))}"}""" + "\n")
            case e: IllegalArgumentException =>
              respond(ex, 400,
                s"""{"error":"${jsonEscape(Option(e.getMessage).getOrElse("bad request"))}"}""" + "\n")
            case e: Throwable =>
              val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))
              respond(ex, 400, s"""{"error":"$msg"}""" + "\n")
          } finally {
            timer.cancel(false)
            sc.clearJobGroup()
          }
        }
      })
    }

    // /score: the quality-gate read path — POST text (+ doc_id=<id> for
    // the admission draw) → x124 classifier score, x02 quality, x126
    // Pareto verdict as one JSON object. The interactive twin of the
    // s42 ingest gate, same engine expressions; POST-only, job-grouped,
    // watchdogged like /sql. model=trained serves the DURABLE x133
    // model instead of the pinned twin: weights load-or-fit ONCE per
    // process from the ModelStore keyed by the gateway's fixture dir
    // (fingerprint-guarded at that first use — the gateway corpus is a
    // static fixture, so per-request re-checks would re-buy a corpus
    // scan for nothing).
    lazy val trainedModel: (Array[Double], Double) = {
      val dir = entriesDir.getOrElse(throw new IllegalArgumentException(
        "model=trained needs the gateway started over a fixture dir"))
      val (w, b, _) = graft.operators.Curation.qcLoadOrFit(
        Tables.documents(spark, dir),
        graft.queries.CurationQueries.modelStoreRoot(dir))
      (w, b)
    }
    server.createContext("/score", (ex: HttpExchange) => {
      requests.incrementAndGet()
      if (ex.getRequestMethod != "POST")
        respond(ex, 405,
          """{"error":"POST document text to /score (params: doc_id, model=pinned|trained)"}""" + "\n")
      else {
        val text = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val docId = queryParam(ex, "doc_id").flatMap(_.toLongOption).getOrElse(0L)
        val model = queryParam(ex, "model").map(_.toLowerCase).getOrElse("pinned")
        val timeoutSec = queryParam(ex, "timeout")
          .flatMap(_.toIntOption).filter(_ > 0).getOrElse(defaultTimeoutSec)
        val group = s"gateway-score-${reqSeq.incrementAndGet()}"
        val sc = spark.sparkContext
        val timedOut = new AtomicBoolean(false)
        sc.setJobGroup(group, s"/score: ${text.take(80)}",
          interruptOnCancel = true)
        val timer = watchdog.schedule(new Runnable {
          override def run(): Unit = {
            timedOut.set(true); sc.cancelJobGroupAndFutureJobs(group)
          }
        }, timeoutSec.toLong, TimeUnit.SECONDS)
        try respond(ex, 200, model match {
          case "trained" =>
            val (w, b) = trainedModel
            scoreDocTrained(spark, docId, text, w, b)
          case "pinned" => scoreDoc(spark, docId, text)
          case other => throw new IllegalArgumentException(
            s"unknown model '$other' (pinned|trained)")
        })
        catch {
          case _: Throwable if timedOut.get() =>
            respond(ex, 408,
              s"""{"error":"score cancelled after $timeoutSec s (timeout)"}""" + "\n")
          case e: Throwable =>
            val msg = jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))
            respond(ex, 400, s"""{"error":"$msg"}""" + "\n")
        } finally {
          timer.cancel(false)
          sc.clearJobGroup()
        }
      }
    })

    server.createContext("/explain", (ex: HttpExchange) => {
      requests.incrementAndGet()
      if (ex.getRequestMethod != "POST")
        respond(ex, 405, """{"error":"POST raw SQL to /explain"}""" + "\n")
      else {
        val sql = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
        try respond(ex, 200, explainSql(spark, sql), "text/plain; charset=utf-8")
        catch { case e: Throwable =>
          respond(ex, 400, Option(e.getMessage).getOrElse(e.getClass.getName),
            "text/plain; charset=utf-8")
        }
      }
    })

    // small fixed pool: concurrent ad-hoc readers share the ONE Spark
    // session (thread-safe; jobs run FIFO through the scheduler)
    val gw = gwSeq.incrementAndGet()
    val threads = new AtomicLong(0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => new Thread(r, s"gateway-$gw-request-${threads.incrementAndGet()}"))
    server.setExecutor(pool)
    server.start()
    new Gateway(server, spark, listener, pool)
  }

  /** `runMain graft.SqlGateway <sfDir> [port]` — register + serve until
    * killed. Loopback-only unless `GRAFT_GATEWAY_BIND_ALL=1`;
    * `GRAFT_GATEWAY_TIMEOUT_SEC` overrides the default 300 s query
    * timeout; `GRAFT_GATEWAY_METRICS_DIR` points /metrics at a durable
    * m03 metrics table. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(8123)
    val bindAll = sys.env.get("GRAFT_GATEWAY_BIND_ALL").exists(v => v == "1" || v == "true")
    val timeoutSec = sys.env.get("GRAFT_GATEWAY_TIMEOUT_SEC")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(300)
    val metricsDir = sys.env.get("GRAFT_GATEWAY_METRICS_DIR")
    val spark = GraftSession.local()
    register(spark, dir)
    val gw = serve(spark, port, bindAll, timeoutSec, metricsDir, Some(dir))
    println(s"graft SQL gateway on :${gw.port} " +
      s"(POST /sql /explain /search /score /entries/<name>, GET /health /metrics /entries) over $dir" +
      (if (bindAll) " [ALL INTERFACES]" else " [loopback]"))
    Thread.currentThread.join()
  }
}
