package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The ad-hoc SQL-over-HTTP surface, driven end-to-end through a real
  * socket: register fixture views, start the gateway on an ephemeral
  * port, speak HTTP at it like a dashboard would. */
class SqlGatewaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withServer[A](metricsDir: Option[String] = None,
                            timeoutSec: Int = 300)(f: Int => A): A = {
    SqlGateway.register(spark, TestSpark.Sf0001)
    val gw = SqlGateway.serve(spark, 0,
      defaultTimeoutSec = timeoutSec, metricsDir = metricsDir,
      entriesDir = Some(TestSpark.Sf0001))
    try f(gw.port) finally gw.stop()
  }

  private def http(port: Int, path: String, method: String,
                   body: Option[String]): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(UTF_8))
    }
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(stream.readAllBytes(), UTF_8)
    conn.disconnect()
    (status, text)
  }

  test("health, ad-hoc aggregate, custom function, limit cap, and SQL errors") {
    withServer() { port =>
      val (hs, hb) = http(port, "/health", "GET", None)
      assert(hs == 200 && hb.contains("\"ok\""))

      // an aggregate the compiled registry does NOT contain — the whole
      // point of the gateway; verified against a direct computation
      val expected = Tables.events(spark, TestSpark.Sf0001).count()
      val (s1, b1) = http(port, "/sql", "POST",
        Some("SELECT count(*) AS n FROM events"))
      assert(s1 == 200, b1)
      assert(b1.trim == s"""{"n":$expected}""")

      // the codegen'd custom expressions are callable from plain SQL
      val (s2, b2) = http(port, "/sql", "POST",
        Some("SELECT distinct_ngram_count('a b c d', 2) AS g, " +
             "top_ngram_count('a b a b a b', 2) AS t, " +
             "dup_ngram_positions('x y x y', 2) AS d"))
      assert(s2 == 200, b2)
      assert(b2.trim == """{"g":3,"t":3,"d":2}""")

      // limit bounds what reaches the driver
      val (s3, b3) = http(port, "/sql?limit=5", "POST",
        Some("SELECT event_id FROM events"))
      assert(s3 == 200)
      assert(b3.trim.linesIterator.size == 5)

      // a malformed limit degrades to the default instead of hanging
      val (s3b, b3b) = http(port, "/sql?limit=bogus", "POST",
        Some("SELECT 1 AS one"))
      assert(s3b == 200, b3b)
      assert(b3b.trim == """{"one":1}""")

      // malformed SQL comes back as a 400 with the analyzer's message
      val (s4, b4) = http(port, "/sql", "POST",
        Some("SELECT FROM nowhere"))
      assert(s4 == 400, b4)
      assert(b4.contains("error"))

      // derived clicks view carries the reference-role columns
      val (s5, b5) = http(port, "/sql", "POST",
        Some("SELECT count(DISTINCT country) AS c FROM clicks"))
      assert(s5 == 200, b5)
      assert(b5.trim == """{"c":8}""")

      // concurrent readers share the one session: fire parallel queries
      // with distinct answers and check nothing cross-talks
      val futures = (0 until 8).map { i =>
        java.util.concurrent.CompletableFuture.supplyAsync(() =>
          http(port, "/sql", "POST",
            Some(s"SELECT $i AS i, count(*) AS n FROM events WHERE user_id % 8 = $i")))
      }
      futures.zipWithIndex.foreach { case (f, i) =>
        val (st, body) = f.get(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(st == 200, body)
        assert(body.contains(s""""i":$i,"""), s"cross-talk for $i: $body")
      }

      // /explain returns the formatted physical plan without executing
      val (s6, b6) = http(port, "/explain", "POST",
        Some("SELECT n_name, count(*) AS n FROM customer " +
             "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"))
      assert(s6 == 200, b6)
      assert(b6.contains("== Physical Plan =="), b6)
      assert(b6.contains("BroadcastHashJoin"), // nation is dimension-sized
        "expected a broadcast join in the ad-hoc plan:\n" + b6)
    }
  }

  test("a runaway /sql query is cancelled at its timeout; the gateway stays usable") {
    withServer() { port =>
      // ~2e12 summed range rows: minutes of work if left alone — must be
      // cancelled by the 1 s ?timeout and answered with a 408
      val slow = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        http(port, "/sql?timeout=1", "POST",
          // per-row modulo filter: cannot be constant-folded, no ANSI
          // overflow — minutes of scan if left alone
          Some("SELECT count(*) AS s FROM range(2000000000000) WHERE id % 7 = 3")))

      // while the runaway occupies its pool thread, liveness holds
      Thread.sleep(300)
      val (hs, hb) = http(port, "/health", "GET", None)
      assert(hs == 200, hb)

      val (ss, sb) = slow.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(ss == 408, s"expected 408 timeout, got $ss: $sb")
      assert(sb.contains("cancelled") && sb.contains("timeout"), sb)

      // the cancelled group must not poison later queries
      val (s2, b2) = http(port, "/sql", "POST", Some("SELECT 41 + 1 AS ok"))
      assert(s2 == 200, b2)
      assert(b2.trim == """{"ok":42}""")
    }
  }

  test("concurrent /sql requests: per-request job groups — one query's timeout cancellation never touches the other's jobs") {
    withServer() { port =>
      import java.util.concurrent.{CompletableFuture, TimeUnit}
      // request A: a runaway (~2e12 filtered range rows) capped at 2 s —
      // its group WILL be cancelled mid-flight
      val slow = CompletableFuture.supplyAsync(() =>
        http(port, "/sql?timeout=2", "POST",
          Some("SELECT count(*) AS s FROM range(2000000000000) WHERE id % 7 = 3")))
      Thread.sleep(300)
      // request B: legitimately several seconds of work (2e9 rows), so
      // it is STILL RUNNING when A's group is cancelled at t≈2 s; its
      // generous timeout must not matter. setJobGroup is thread-local
      // and cancelJobGroupAndFutureJobs is group-scoped — B's jobs must
      // survive A's cancellation and produce the exact count.
      val med = CompletableFuture.supplyAsync(() =>
        http(port, "/sql?timeout=120", "POST",
          Some("SELECT count(*) AS s FROM range(2000000000) WHERE id % 7 = 3")))

      val (ss, sb) = slow.get(60, TimeUnit.SECONDS)
      assert(ss == 408, s"expected the runaway to 408: $ss $sb")
      val (ms, mb) = med.get(120, TimeUnit.SECONDS)
      assert(ms == 200, s"concurrent query poisoned by the other's cancellation: $ms $mb")
      val expected = (1999999998L - 3) / 7 + 1 // ids ≡ 3 (mod 7) below 2e9
      assert(mb.trim == s"""{"s":$expected}""", mb)

      // and the gateway is still clean for the next caller
      val (s2, b2) = http(port, "/sql", "POST", Some("SELECT 6 * 7 AS ok"))
      assert(s2 == 200 && b2.trim == """{"ok":42}""", b2)
    }
  }

  test("?format=csv/tsv render header + quoted delimited rows") {
    withServer() { port =>
      val q = "SELECT 1 AS a, 'x,y' AS b, CAST(NULL AS STRING) AS c " +
              "UNION ALL SELECT 2, 'plain', 'z' ORDER BY a"
      val (cs, cb) = http(port, "/sql?format=csv", "POST", Some(q))
      assert(cs == 200, cb)
      // comma-bearing cell quoted, NULL empty, header first
      assert(cb == "a,b,c\n1,\"x,y\",\n2,plain,z\n", cb)

      val (ts, tb) = http(port, "/sql?format=tsv", "POST", Some(q))
      assert(ts == 200, tb)
      assert(tb == "a\tb\tc\n1\tx,y\t\n2\tplain\tz\n", tb)

      // unknown format degrades to the JSON default, not an error
      val (js, jb) = http(port, "/sql?format=bogus", "POST",
        Some("SELECT 7 AS n"))
      assert(js == 200 && jb.trim == """{"n":7}""", jb)
    }
  }

  test("error bodies stay valid JSON when the message carries control chars") {
    assert(SqlGateway.jsonEscape("a\bb\fc\u0001d\"e\\f\ng") ==
      "a\\u0008b\\u000cc\\u0001d\\\"e\\\\f\\ng")
  }

  test("/metrics serves parseable Prometheus text with live stream + run gauges") {
    // a persisted m03 run for the rollup half of the surface
    val metricsDir = java.nio.file.Files
      .createTempDirectory("graft_gwmetrics_").toFile.getAbsolutePath + "/metrics"
    graft.streaming.PipelineMetrics.persistRun(spark, Seq(
      graft.streaming.PipelineMetrics.BatchMetric(
        "q-1", 0L, 700L, 350L, 2000.0, 2000.0, Some(1700000000000L), 3L,
        1700000000500L),
      graft.streaming.PipelineMetrics.BatchMetric(
        "q-1", 1L, 300L, 150L, 2000.0, 2000.0, Some(1700000060000L), 3L,
        1700000060250L)), metricsDir, "run-scrape")

    withServer(metricsDir = Some(metricsDir)) { port =>
      // drive one real streaming query through the session so the
      // attached listener has live per-batch gauges to expose
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val work = java.nio.file.Files.createTempDirectory("graft_gwstream_").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(work, "in.json"),
        """{"k":"a","v":1}""" + "\n" + """{"k":"b","v":2}""" + "\n" +
        """{"k":"a","v":3}""" + "\n")
      val q = spark.readStream
        .schema(StructType(Seq(StructField("k", StringType), StructField("v", LongType))))
        .json(work)
        .groupBy("k").count()
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$work/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      // listener progress events drain asynchronously on the bus: poll
      // the scrape until the just-run query's rows appear (bounded)
      var (st, body) = http(port, "/metrics", "GET", None)
      val deadline = System.nanoTime() + 10e9.toLong
      while (!body.linesIterator.exists(l =>
               l.startsWith("graft_stream_input_rows_total") &&
               l.split(" ").last.toDouble >= 3.0) &&
             System.nanoTime() < deadline) {
        Thread.sleep(100)
        val r = http(port, "/metrics", "GET", None)
        st = r._1; body = r._2
      }
      assert(st == 200, body)

      // exposition-format shape: every non-comment line is `name[{labels}] value`
      val lines = body.linesIterator.toSeq
      val series = lines.filterNot(l => l.startsWith("#") || l.isEmpty)
      assert(series.nonEmpty)
      val fmt = """^[a-zA-Z_:][a-zA-Z0-9_:]*(\{[^}]*\})? (NaN|-?[0-9.eE+-]+)$""".r
      series.foreach(l => assert(fmt.matches(l), s"unparseable series line: $l"))
      // every series has a # TYPE declaration
      val typed = lines.filter(_.startsWith("# TYPE ")).map(_.split(" ")(2)).toSet
      series.foreach { l =>
        val name = l.takeWhile(c => c != '{' && c != ' ')
        assert(typed.contains(name), s"series $name has no # TYPE line")
      }

      def value(prefix: String): Double =
        series.find(_.startsWith(prefix)).map(_.split(" ").last.toDouble)
          .getOrElse(fail(s"missing series $prefix:\n$body"))

      // live listener gauges reflect the streaming query just run
      assert(value("graft_stream_input_rows_total") >= 3.0, body)
      assert(value("graft_stream_micro_batches_total") >= 1.0, body)
      // checkpoint-commit timing families (Flink checkpoint-duration
      // parity): declared, typed, and labeled by the live query's id
      for ((fam, typ) <- Seq(
          "graft_stream_commit_ms_total" -> "counter",
          "graft_stream_last_commit_ms" -> "gauge",
          "graft_stream_state_commit_ms_total" -> "counter",
          "graft_stream_last_state_commit_ms" -> "gauge")) {
        assert(lines.contains(s"# TYPE $fam $typ"), s"missing # TYPE for $fam")
        assert(series.exists(l => l.startsWith(fam + "{query_id=\"")),
          s"$fam must carry a query_id-labeled series:\n$body")
      }
      // commit times are non-negative and the checkpointed query paid a
      // real commit at least once across its batches
      assert(value("graft_stream_commit_ms_total{") >= 0.0, body)
      // m03 rollup: the persisted run's totals, labeled by run_id
      assert(value("""graft_run_rows_total{run_id="run-scrape"}""") == 1000.0, body)
      assert(value("""graft_run_max_watermark_lag_ms{run_id="run-scrape"}""") == 500.0, body)
      // scrape self-counters are present and sane
      assert(value("graft_gateway_requests_total") >= 1.0, body)
    }
  }

  test("/entries lists the registry with hints; POST runs an entry; GET execution -> 405") {
    withServer() { port =>
      val (ls, listing) = http(port, "/entries", "GET", None)
      assert(ls == 200)
      val lines = listing.trim.split("\n").toSeq
      assert(lines.size == graft.SparkEntry.queries.size,
        "listing must cover the whole registry")
      assert(lines.exists(_.contains("\"name\":\"q07_top_pages\"")))
      assert(lines.forall(l => l.contains("\"oracle\":true") || l.contains("\"oracle\":false")))
      // decision-table hints travel with the listing: every entry has a
      // family, and the curated scale caveats surface on their entries
      assert(lines.forall(_.contains("\"family\":\"")), "every entry carries a family")
      assert(lines.exists(l => l.contains("\"name\":\"x68_bpe_merges\"") &&
        l.contains("\"family\":\"llm-pipeline\"") && l.contains("\"scale_caveat\":\"")),
        s"x68 must carry its scale caveat: $listing")
      assert(lines.exists(l => l.contains("\"name\":\"q07_top_pages\"") &&
        l.contains("\"family\":\"reference-queries\"") && !l.contains("scale_caveat")))

      // execution is POST-only, mirroring /sql: a GET (crawler,
      // prefetch, probe) must never trigger Spark work
      val (gs, gb) = http(port, "/entries/q07_top_pages", "GET", None)
      assert(gs == 405 && gb.contains("POST"), s"GET must 405: $gs $gb")

      // and the listing is GET-only — method hygiene cuts both ways
      val (ps, pb) = http(port, "/entries", "POST", Some(""))
      assert(ps == 405 && pb.contains("GET"), s"POST listing must 405: $ps $pb")

      val (rs, rows) = http(port, "/entries/q07_top_pages", "POST", Some(""))
      assert(rs == 200, rows)
      val got = rows.trim.split("\n")
      assert(got.length == 5 && got.forall(_.contains("\"page\"")),
        s"q07 over the gateway must return the 5 top pages: $rows")

      // limit applies to entry output exactly as it does to /sql
      val (ls2, limited) = http(port, "/entries/q07_top_pages?limit=2", "POST", Some(""))
      assert(ls2 == 200 && limited.trim.split("\n").length == 2)

      val (ns, nf) = http(port, "/entries/no_such_entry", "POST", Some(""))
      assert(ns == 404 && nf.contains("no registry entry"))
    }
  }

  test("POST /entries/<name>: a result cut at the limit is flagged; a full one is not") {
    withServer() { port =>
      def post(path: String): (Int, Int, Option[String]) = {
        val conn = new URI(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.close()
        val status = conn.getResponseCode
        val rows = new String(conn.getInputStream.readAllBytes(), UTF_8)
          .trim.split("\n").count(_.nonEmpty)
        val flag = Option(conn.getHeaderField("X-Graft-Truncated"))
        conn.disconnect()
        (status, rows, flag)
      }
      // q07 answers 5 rows: below the limit, at it, and at the Int
      // ceiling (where limit + 1 would overflow) nothing is cut
      assert(post("/entries/q07_top_pages") == ((200, 5, None)))
      assert(post("/entries/q07_top_pages?limit=5") == ((200, 5, None)))
      assert(post(s"/entries/q07_top_pages?limit=${Int.MaxValue}") == ((200, 5, None)))
      // cut: the first `limit` rows, body format unchanged, and the flag
      assert(post("/entries/q07_top_pages?limit=2") == ((200, 2, Some("limit=2"))))
    }
  }

  test("Gateway.stop() ends the request pool's threads") {
    def poolThreads(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName.matches("gateway-\\d+-request-\\d+")).toSet
    }
    val before = poolThreads()
    val gw = SqlGateway.serve(spark, 0)
    val mine = try {
      val (hs, _) = http(gw.port, "/health", "GET", None)
      assert(hs == 200)
      poolThreads() -- before
    } finally gw.stop()
    assert(mine.nonEmpty, "the request ran on no recognisable pool thread")
    // a worker may still be unwinding when the pool reports terminated;
    // a pool that was never shut down would idle here past the wait
    mine.foreach(_.join(10000))
    assert(mine.forall(!_.isAlive),
      s"request threads outlived stop(): ${mine.filter(_.isAlive).map(_.getName)}")
  }

  test("/search overrides: caller-named index tables serve identically; a foreign-quantizer ivf table is a loud 400") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    withServer() { port =>
      val doc0 = Tables.documents(spark, TestSpark.Sf0001)
        .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
      val (ds, db) = http(port, "/search?mode=hybrid&vec_id=0&k=10", "POST",
        Some(doc0))
      assert(ds == 200, db)
      // persist value-identical copies under caller names: the override
      // route must serve the same rows the gateway-owned tables do.
      // EXTERNAL tables at a fresh temp path — a managed saveAsTable
      // leaves its spark-warehouse location behind after the suite's
      // catalog is gone, failing the NEXT run with LOCATION_ALREADY_EXISTS
      val idx = SqlGateway.buildSearchIndexes(spark, TestSpark.Sf0001)
      val wh = java.nio.file.Files.createTempDirectory("spec_ovr_").toString
      val names = Seq("spec_ovr_tf", "spec_ovr_df", "spec_ovr_ivf", "spec_bad_ivf")
      try {
        idx.tf.write.mode("overwrite").option("path", s"$wh/tf")
          .saveAsTable("spec_ovr_tf")
        idx.df.write.mode("overwrite").option("path", s"$wh/df")
          .saveAsTable("spec_ovr_df")
        idx.ivf.write.mode("overwrite").option("path", s"$wh/ivf")
          .saveAsTable("spec_ovr_ivf")
        val (os, ob) = http(port,
          "/search?mode=hybrid&vec_id=0&k=10&tf=spec_ovr_tf&df=spec_ovr_df&ivf=spec_ovr_ivf",
          "POST", Some(doc0))
        assert(os == 200, ob)
        assert(ob == db,
          s"override route diverged from the gateway-owned tables:\n$ob\nvs\n$db")
        // a table whose cells came from a different quantizer must be
        // rejected on first use, not silently probed
        idx.ivf.withColumn("cell",
            (col("cell").cast("int") + 1) % P.NLists)
          .write.mode("overwrite").option("path", s"$wh/bad")
          .saveAsTable("spec_bad_ivf")
        val (bs, bb) = http(port,
          "/search?mode=semantic&vec_id=0&k=5&ivf=spec_bad_ivf", "POST", Some(""))
        assert(bs == 400 && bb.contains("quantizer"), s"$bs $bb")
      } finally names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("/search store=: a live DeltaStore root serves identically to the s40 batch result; combining with table overrides or a missing root is a 400") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    withServer() { port =>
      // run the maintenance stream with a KEPT work dir and a
      // compaction interval beyond the batch count, leaving the store
      // in its live delta-only state (no base at all — the read-only
      // path's least-compacted shape); the returned serve result is the
      // hash-checked s40 ground truth for the same store
      val work = java.nio.file.Files
        .createTempDirectory("spec_live_store_").toString
      val s40 = graft.streaming.StreamingQueries.incrementalIndexServe(
          spark, Tables.documents(spark, TestSpark.Sf0001),
          Tables.embeddings(spark, TestSpark.Sf0001),
          graft.operators.Curation.BenchMod,
          listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
          nLists = P.NLists, nProbe = P.NProbe,
          compactEvery = 99, workDir = Some(work))
        .filter(col("query_id") === 0L)
        .select("doc_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      assert(s40.nonEmpty, "fixture degenerate: s40 served nothing for query 0")
      val doc0 = Tables.documents(spark, TestSpark.Sf0001)
        .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)

      val (hs, hb) = http(port,
        s"/search?mode=hybrid&vec_id=0&k=10&store=$work/store", "POST",
        Some(doc0))
      assert(hs == 200, hb)
      val got = hb.trim.split("\n").toSeq.map { line =>
        def num(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        (num("doc_id").get, num("rank").get)
      }.sortBy(_._2)
      assert(got == s40.toSeq,
        s"store= route diverged from the s40 serve:\ngot: $got\ns40: ${s40.toSeq}")

      // a chimera index (live store + per-table override) is rejected
      val (cs, cb) = http(port,
        s"/search?mode=hybrid&vec_id=0&store=$work/store&tf=whatever",
        "POST", Some(doc0))
      assert(cs == 400 && cb.contains("cannot be combined"), s"$cs $cb")
      // a nonexistent root (inside the allowlist) is a loud 400, not an
      // empty result
      val tmp = System.getProperty("java.io.tmpdir")
      val (ms, mb) = http(port,
        s"/search?mode=hybrid&vec_id=0&store=$tmp/nonexistent_graft_store",
        "POST", Some(doc0))
      assert(ms == 400 && mb.contains("does not exist"), s"$ms $mb")
      // a root OUTSIDE the allowlist is refused before any probe —
      // store= must not be a filesystem existence oracle (ADVICE r17)
      val (as, ab) = http(port,
        "/search?mode=hybrid&vec_id=0&store=/nonexistent/store", "POST",
        Some(doc0))
      assert(as == 400 && ab.contains("allowlisted"), s"$as $ab")
    }
  }

  test("/search store= mid-merge: a request landing between the tf expiry and the df rebase is a 409 (StoreEpoch seqlock), then serves consistently after the pass") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    withServer() { port =>
      val work = java.nio.file.Files
        .createTempDirectory("spec_midmerge_").toString
      val doc0 = Tables.documents(spark, TestSpark.Sf0001)
        .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
      // land a live request INSIDE the owner's retention pass — after
      // tf/ivf expired, before the df/stats rebases (the exact window
      // the r18/r19 verdicts documented as served-skew): the gateway
      // must refuse with 409, never serve pre-expiry idf/avgdl
      val midResponses = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      val s50 = graft.streaming.StreamingQueries.releasePipelineStream(
          spark, Tables.documents(spark, TestSpark.Sf0001),
          Tables.embeddings(spark, TestSpark.Sf0001),
          graft.operators.Curation.BenchMod,
          listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
          nLists = P.NLists, nProbe = P.NProbe,
          workDir = Some(work),
          onMergeStage = st =>
            if (st == "mid" && midResponses.isEmpty)
              midResponses += http(port,
                s"/search?mode=hybrid&vec_id=0&k=10&store=$work/store",
                "POST", Some(doc0)))
        .filter(col("query_id") === 0L)
        .select("doc_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      val (ms, mb) = midResponses.head
      assert(ms == 409 && mb.contains("mid-retention-merge"),
        s"mid-merge request was not refused: $ms $mb")
      // refusal-then-consistency: after the owner's pass completes the
      // same request serves, and equals the pipeline's own final serve
      val (hs, hb) = http(port,
        s"/search?mode=hybrid&vec_id=0&k=10&store=$work/store", "POST",
        Some(doc0))
      assert(hs == 200, hb)
      val got = hb.trim.split("\n").toSeq.map { line =>
        def num(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        (num("doc_id").get, num("rank").get)
      }.sortBy(_._2)
      assert(got == s50.toSeq,
        s"post-merge store= serve diverged from the s50 result:\n" +
          s"got: $got\ns50: ${s50.toSeq}")
    }
  }

  test("/search store=: an s46 retention root serves identically ACROSS rebase crash states — dead staging ignored, completed-but-unswapped staging read as base-elect (VERDICT r18 task 6)") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    withServer() { port =>
      // the retention entry with a kept work dir: its return is the
      // hash-checked retained serve over the SAME store the gateway is
      // about to read live
      val work = java.nio.file.Files
        .createTempDirectory("spec_retention_store_").toString
      val s46 = graft.streaming.StreamingQueries.retainedIndexServe(
          spark, Tables.documents(spark, TestSpark.Sf0001),
          Tables.embeddings(spark, TestSpark.Sf0001),
          graft.operators.Curation.BenchMod,
          listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
          nLists = P.NLists, nProbe = P.NProbe, workDir = Some(work))
        .filter(col("query_id") === 0L)
        .select("doc_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      assert(s46.nonEmpty, "fixture degenerate: s46 served nothing for query 0")
      val doc0 = Tables.documents(spark, TestSpark.Sf0001)
        .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)

      def serveNow(tag: String): Seq[(Long, Long)] = {
        val (st, body) = http(port,
          s"/search?mode=hybrid&vec_id=0&k=10&store=$work/store", "POST",
          Some(doc0))
        assert(st == 200, s"[$tag] $body")
        body.trim.split("\n").toSeq.map { line =>
          def num(k: String) =
            s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
          (num("doc_id").get, num("rank").get)
        }.sortBy(_._2)
      }
      // post-retention steady state: the gateway's raw readOnly view
      // equals the entry's retained serve because the final forced
      // merge physically expired the sub-watermark rows
      assert(serveNow("steady") == s46.toSeq)

      val conf = spark.sessionState.newHadoopConf()
      val dfBase = new Path(s"$work/store/df/base")
      val dfStaging = new Path(s"$work/store/df/base.compact")
      val fs = dfBase.getFileSystem(conf)

      // state A — DEAD rebase staging (no _STAGED): an owner crashed
      // mid-rewrite; base and deltas are untouched and authoritative,
      // and a non-owner read must IGNORE the staging (and must not
      // delete it — that is the owner's recover())
      assert(FileUtil.copy(fs, dfBase, fs, dfStaging, false, conf))
      fs.delete(new Path(dfStaging, "_STAGED"), false)
      assert(serveNow("dead-staging") == s46.toSeq)
      assert(fs.exists(dfStaging),
        "a non-owner read deleted the owner's in-progress staging")
      fs.delete(dfStaging, true)

      // state B — COMPLETED-but-unswapped rebase (_STAGED present, base
      // gone): the one window where staging IS the store; readOnly must
      // serve it as the base-elect, and the common as-of pin must hold
      // with the df store mid-swap while tf/stats/ivf are settled
      assert(FileUtil.copy(fs, dfBase, fs, dfStaging, false, conf))
      val stagedMarker = fs.create(new Path(dfStaging, "_STAGED"), true)
      stagedMarker.close()
      fs.delete(dfBase, true)
      assert(serveNow("base-elect") == s46.toSeq)
      assert(fs.rename(dfStaging, dfBase), "state-B restore failed")
      assert(serveNow("restored") == s46.toSeq)
    }
  }

  test("/search store=: the gateway serves the s50 composed-pipeline store LIVE mid-run (between stage appends) and matches the retained serve at steady state") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch.{IvfPqFixed => P}
    import graft.queries.{CurationQueries => CQ}
    withServer() { port =>
      val work = java.nio.file.Files
        .createTempDirectory("spec_live_s50_store_").toString
      val doc0 = Tables.documents(spark, TestSpark.Sf0001)
        .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
      def serveNow(tag: String): (Int, String) = http(port,
        s"/search?mode=hybrid&vec_id=0&k=10&store=$work/store", "POST",
        Some(doc0))
      // issue LIVE requests from inside the owner stream, at stage
      // boundaries of batch 2: after the fp append (index stores one
      // batch BEHIND the fp store — the as-of pin must still resolve)
      // and after the ivf append (all four stores at batch 2). The
      // serve-while-the-composed-pipeline-maintains posture.
      val liveResults = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
      val s50 = graft.streaming.StreamingQueries.releasePipelineStream(
          spark, Tables.documents(spark, TestSpark.Sf0001),
          Tables.embeddings(spark, TestSpark.Sf0001),
          graft.operators.Curation.BenchMod,
          listK = CQ.HybridListK, k0 = CQ.RrfK0, k = CQ.HybridK,
          nLists = P.NLists, nProbe = P.NProbe, workDir = Some(work),
          onStage = (id, st) =>
            if (id == 2L && (st == "fp" || st == "ivf")) {
              val (code, body) = serveNow(s"live-$st")
              liveResults += ((st, code, body))
            })
        .filter(col("query_id") === 0L)
        .select("doc_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      assert(s50.nonEmpty, "fixture degenerate: s50 served nothing for query 0")
      assert(liveResults.map(_._1).toSeq == Seq("fp", "ivf"),
        s"live hooks did not fire: $liveResults")
      liveResults.foreach { case (st, code, body) =>
        assert(code == 200, s"mid-run serve after stage $st failed: $body")
        assert(body.trim.split("\n").forall(_.contains("\"rank\"")),
          s"mid-run serve after $st returned malformed rows: $body")
      }
      // steady state: the gateway's readOnly view over the finished
      // store equals the entry's own retained serve
      val (fs2, fb) = serveNow("steady")
      assert(fs2 == 200, fb)
      val got = fb.trim.split("\n").toSeq.map { line =>
        def num(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        (num("doc_id").get, num("rank").get)
      }.sortBy(_._2)
      assert(got == s50.toSeq,
        s"store= route diverged from the s50 serve:\ngot: $got\ns50: ${s50.toSeq}")
    }
  }

  test("/search mode=pq: route parity with the hash-checked x114 batch result; pq_store= serves a live s47 code store; foreign quantizer/codebook is a 400") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    withServer() { port =>
      // ground truth: the x114 batch entry on the same fixture (the
      // oracle s45/s47 hash against)
      val emb = Tables.embeddings(spark, TestSpark.Sf0001)
      val x114 = SimilaritySearch.ivfPqFixedTopK(emb,
          emb.filter(col("vec_id") === 0L), k = P.K)
        .select("vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      assert(x114.nonEmpty, "fixture degenerate: x114 ranked nothing for query 0")
      def ranks(body: String) = body.trim.split("\n").toSeq.map { line =>
        def num(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        (num("vec_id").get, num("rank").get)
      }.sortBy(_._2)

      // gateway-owned code table
      val (ps, pb) = http(port, s"/search?mode=pq&vec_id=0&k=${P.K}",
        "POST", Some(""))
      assert(ps == 200, pb)
      assert(ranks(pb) == x114.toSeq,
        s"mode=pq diverged from x114:\ngot: ${ranks(pb)}\nx114: ${x114.toSeq}")

      // pq_store=: a live s47 code store (kept work dir, delta-only
      // state — compactEvery beyond the batch count) must serve the
      // identical ranking through DeltaStore.readOnly
      val work = java.nio.file.Files
        .createTempDirectory("spec_pq_store_").toString
      graft.streaming.StreamingQueries.pqMaintainServe(spark, emb,
        emb.filter(col("vec_id") < AnnEval.QuerySlice),
        k = P.K, nLists = P.NLists, nProbe = P.NProbe, m = P.M,
        codes = P.Codes, refine = P.Refine, compactEvery = 99,
        workDir = Some(work)).collect()
      val (ls, lb) = http(port,
        s"/search?mode=pq&vec_id=0&k=${P.K}&pq_store=$work/store/codes",
        "POST", Some(""))
      assert(ls == 200, lb)
      assert(ranks(lb) == x114.toSeq,
        s"pq_store= route diverged from x114:\ngot: ${ranks(lb)}")

      // foreign QUANTIZER (cells shifted) and foreign CODEBOOK (codes
      // shifted) must both be rejected on the sampled re-encode, not
      // silently ADC'd
      val codesRel = graft.streaming.StreamingQueries
        .pqCodeStore(spark, s"$work/store/codes", P.M).readOnly(spark)
      def corrupt(name: String, mutate: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"spec_pq_$name").toString + "/codes"
        val st = graft.streaming.StreamingQueries.pqCodeStore(spark, root, P.M)
        st.append(spark, 0L, mutate(codesRel))
        root
      }
      val badCell = corrupt("cell", _.withColumn("cell",
        (col("cell") + 1) % P.NLists))
      val (c1, b1) = http(port,
        s"/search?mode=pq&vec_id=0&pq_store=$badCell", "POST", Some(""))
      assert(c1 == 400 && b1.contains("quantizer"), s"$c1 $b1")
      val badCode = corrupt("code", _.withColumn("code_0",
        (col("code_0") + 1) % P.Codes))
      val (c2, b2) = http(port,
        s"/search?mode=pq&vec_id=0&pq_store=$badCode", "POST", Some(""))
      assert(c2 == 400 && b2.contains("codebook"), s"$c2 $b2")

      // param hygiene: pq_store on a non-pq mode, and store params on
      // mode=pq, are loud 400s; so is a pq_store outside the allowlist
      val (m1, mb1) = http(port,
        s"/search?mode=hybrid&vec_id=0&pq_store=$work/store/codes",
        "POST", Some("text"))
      assert(m1 == 400 && mb1.contains("mode=pq only"), s"$m1 $mb1")
      val (m2, mb2) = http(port,
        "/search?mode=pq&vec_id=0&tf=whatever", "POST", Some(""))
      assert(m2 == 400 && mb2.contains("do not apply"), s"$m2 $mb2")
      val (m3, mb3) = http(port,
        "/search?mode=pq&vec_id=0&pq_store=/etc", "POST", Some(""))
      assert(m3 == 400 && mb3.contains("allowlisted"), s"$m3 $mb3")
    }
  }

  test("/score: route parity with the hash-checked x124/x126 batch entries; tokenless text is a 400") {
    import org.apache.spark.sql.functions.{col, round}
    withServer() { port =>
      def num(k: String, line: String): Option[Double] =
        (s""""$k":(-?[0-9][0-9.eE+-]*)""").r
          .findFirstMatchIn(line).map(_.group(1).toDouble)
      val docs = Tables.documents(spark, TestSpark.Sf0001)
      val x126 = graft.operators.Curation.paretoClassifierSample(docs)
        .join(docs.select("doc_id", "text"), "doc_id")
        .collect()
      assert(x126.nonEmpty, "fixture degenerate: x126 kept nothing")
      // a KEPT doc: POSTing its text with its doc_id must reproduce the
      // hash-checked x126 row field for field
      val kept = x126.head
      val (st, body) = http(port, s"/score?doc_id=${kept.getLong(0)}",
        "POST", Some(kept.getString(4)))
      assert(st == 200, body)
      assert(num("q_score", body).contains(kept.getDouble(2)),
        s"/score q_score diverged from x126: $body vs $kept")
      assert(num("accept_key", body).contains(kept.getDouble(3)),
        s"/score accept_key diverged from x126: $body vs $kept")
      assert(body.contains("\"keep\":true"), body)
      // the quality field is the x02 composite, round 6
      val expQ = docs.filter(col("doc_id") === kept.getLong(0))
        .select(round(graft.functions.TextFunctions.qualityScore(col("text")), 6))
        .collect()(0).getDouble(0)
      assert(num("quality", body).contains(expQ), body)
      // a DROPPED doc: keep=false, the score still x124's value
      val keptIds = x126.map(_.getLong(0)).toSet
      val drop = graft.operators.Curation.qualityClassifierFixed(docs)
        .join(docs.select("doc_id", "text"), "doc_id").collect()
        .find(r => !keptIds.contains(r.getLong(0))).get
      val (st2, b2) = http(port, s"/score?doc_id=${drop.getLong(0)}",
        "POST", Some(drop.getString(2)))
      assert(st2 == 200, b2)
      assert(num("q_score", b2).contains(drop.getDouble(1)),
        s"/score q_score diverged from x124: $b2 vs $drop")
      assert(b2.contains("\"keep\":false"), b2)
      // contract errors: tokenless text is a loud 400, GET a 405
      val (e1, b1) = http(port, "/score", "POST", Some("!!! ???"))
      assert(e1 == 400 && b1.contains("tokens"), s"$e1 $b1")
      val (e2, _) = http(port, "/score", "GET", None)
      assert(e2 == 405)

      // model=trained: the x133 route — the stored-model verdict for a
      // corpus row's text + doc_id must reproduce that row's x133
      // output field for field (same ModelStore root, same fingerprint,
      // so the gateway serves the exact weights the entry persisted)
      val x133 = graft.operators.Curation.paretoClassifierSampleStored(
          docs, graft.queries.CurationQueries.modelStoreRoot(TestSpark.Sf0001))
        .join(docs.select("doc_id", "text"), "doc_id")
        .collect()
      assert(x133.nonEmpty, "fixture degenerate: x133 kept nothing")
      val tk = x133.head
      val (ts, tb) = http(port, s"/score?doc_id=${tk.getLong(0)}&model=trained",
        "POST", Some(tk.getString(4)))
      assert(ts == 200, tb)
      assert(tb.contains("\"model\":\"trained\""), tb)
      assert(num("q_score", tb).contains(tk.getDouble(2)),
        s"/score?model=trained q_score diverged from x133: $tb vs $tk")
      assert(num("accept_key", tb).contains(tk.getDouble(3)),
        s"/score?model=trained accept_key diverged from x133: $tb vs $tk")
      assert(tb.contains("\"keep\":true"), tb)
      // an unknown model name is a loud 400
      val (us, ub) = http(port, "/score?model=bogus", "POST", Some("some text"))
      assert(us == 400 && ub.contains("unknown model"), s"$us $ub")
    }
  }

  test("/search: hybrid route parity with s39's batch result; lexical parity with x71; errors are 4xx") {
    import org.apache.spark.sql.functions.col
    withServer() { port =>
      // ground truth #1: the s39 streamed hybrid serve on the same
      // fixture (hash-checked against the composed DuckDB oracle)
      val s39 = graft.streaming.StreamingQueries
        .streamHybridServe(spark, TestSpark.Sf0001)
        .filter(col("query_id") === 0L)
        .select("doc_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      assert(s39.nonEmpty, "fixture degenerate: s39 served nothing for query 0")
      val doc0 = Tables.documents(spark, TestSpark.Sf0001)
        .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)

      val (hs, hb) = http(port, "/search?mode=hybrid&vec_id=0&k=10", "POST",
        Some(doc0))
      assert(hs == 200, hb)
      val got = hb.trim.split("\n").toSeq.map { line =>
        def num(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        (num("doc_id").get, num("rank").get)
      }.sortBy(_._2)
      assert(got == s39.toSeq,
        s"/search hybrid diverged from s39:\ngot:  $got\ns39:  ${s39.toSeq}")

      // ground truth #2: the lexical route against the batch x71 path
      // (independently hash-checked); bm25TopK's eval slice includes
      // query 0 with k = BmK
      import graft.operators.Curation
      val x71 = Curation.bm25TopK(Tables.documents(spark, TestSpark.Sf0001))
        .filter(col("query_id") === 0L)
        .select("doc_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._2)
      val (ls, lb) = http(port,
        s"/search?mode=lexical&vec_id=0&k=${Curation.BmK}", "POST", Some(doc0))
      assert(ls == 200, lb)
      val lexGot = lb.trim.split("\n").toSeq.map { line =>
        def num(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        (num("doc_id").get, num("rnk").get)
      }.sortBy(_._2)
      assert(lexGot == x71.toSeq,
        s"/search lexical diverged from x71:\ngot: $lexGot\nx71: ${x71.toSeq}")

      // contract errors surface as 4xx JSON, not 500s
      val (e1, b1) = http(port, "/search?mode=semantic", "POST", Some("text"))
      assert(e1 == 400 && b1.contains("vec_id"), s"$e1 $b1")
      val (e2, b2) = http(port, "/search?mode=lexical&vec_id=1", "POST", Some(""))
      assert(e2 == 400 && b2.contains("query text"), s"$e2 $b2")
      val (e3, b3) = http(port, "/search?mode=nope&vec_id=1", "POST", Some("x"))
      assert(e3 == 400 && b3.contains("unknown mode"), s"$e3 $b3")
      val (e4, _) = http(port, "/search", "GET", None)
      assert(e4 == 405)
      val (e5, b5) = http(port, "/search?mode=semantic&vec_id=99999999", "POST",
        Some(""))
      assert(e5 == 400 && b5.contains("not found"), s"$e5 $b5")
    }
  }
}
