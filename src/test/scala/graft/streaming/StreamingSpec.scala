package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming-harness invariants from FIXTURES.md §1: window boundaries
  * `[start, end)`, watermark late-drop, PERMISSIVE parse + filter, and
  * keyed Welford state across micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jsonClick(eventId: String, user: String, tsMs: Long, page: String): String =
    s"""{"event_id":"$eventId","user_id":"$user","ts":$tsMs,"page":"$page","referrer":"/","country":"US","device":"mobile"}"""

  // t0 = 2024-01-01 12:00:00 UTC, minute-aligned
  private val t0 = 1704110400000L

  test("s17 streamed priority sample == batch x47 on the same corpus") {
    val streamed = StreamingQueries.streamPrioritySample(spark, graft.TestSpark.Sf0001)
      .select("lang", "doc_id", "rank").as[(String, Long, Long)].collect().toSet
    val batch = graft.queries.CurationQueries.prioritySample(spark, graft.TestSpark.Sf0001)
      .select("lang", "doc_id", "rank").as[(String, Long, Long)].collect().toSet
    assert(streamed == batch,
      "streamed per-stratum heap diverged from the batch priority sample")
    assert(streamed.nonEmpty)
  }

  test("parse: PERMISSIVE malformed-JSON handling drops bad rows, keeps good ones") {
    val raw = Seq(
      jsonClick("e1", "u1", t0, "/"),
      """{not json at all""",
      """{"event_id":"parse-error","user_id":"u9","ts":1,"page":"/x","referrer":"/","country":"US","device":"mobile"}""",
      jsonClick("e2", "u2", t0 + 1000, "/cart")).toDF("value")
    val parsed = ClickPipeline.parse(raw).collect()
    assert(parsed.map(_.getAs[String]("event_id")).sorted.toSeq == Seq("e1", "e2"))
  }

  // ---- the wire decoder's differential spec: seeded lines in classes,
  // each class with the decoder's required answer (Some(true): decoded,
  // Some(false): refused to from_json); every line, whichever tier
  // reads it, must deserialize exactly as plain from_json does

  private def q(v: String) = "\"" + v + "\""
  private val safeStr: Gen[String] = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n,
    Gen.oneOf((0x20 to 0x7e).map(_.toChar).filterNot(c => c == '"' || c == '\\'))))
    .map(_.mkString)
  // at most 18 digits, either sign — the decoder's integer range
  private val tsLit: Gen[String] =
    Gen.chooseNum(-999999999999999999L, 999999999999999999L).map(_.toString)
  private val fields: Gen[Seq[(String, String)]] = for {
    strs <- Gen.listOfN(6, safeStr); ts <- tsLit
  } yield Seq("event_id" -> q(strs(0)), "user_id" -> q(strs(1)), "ts" -> ts,
    "page" -> q(strs(2)), "referrer" -> q(strs(3)), "country" -> q(strs(4)),
    "device" -> q(strs(5)))
  private val ws: Gen[String] = Gen.oneOf("", " ", "  ", "\t", "\n", "\r", "\r\n", " \t\n")

  private def compact(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def padded(pairs: Seq[(String, String)]): Gen[String] =
    Gen.listOfN(4 * pairs.size + 3, ws).map { w =>
      val g = w.iterator
      g.next() + "{" + g.next() + pairs.map { case (k, v) =>
        s"${q(k)}${g.next()}:${g.next()}$v${g.next()}" }.mkString("," + g.next()) +
        "}" + g.next()
    }
  /** `fields` with field `i % 7`'s value replaced by `v`. */
  private def withValue(i: Int, v: String): Gen[String] =
    fields.map(f => compact(f.updated(i % 7, f(i % 7)._1 -> v)))
  /** `fields` with `kv` inserted at position `i % 8`. */
  private def withExtra(i: Int, kv: (String, String)): Gen[String] =
    fields.map(f => compact(f.patch(i % 8, Seq(kv), 0)))
  private val pos = Gen.choose(0, 63)

  private val lineClasses: Seq[(String, Option[Boolean], Gen[String])] = Seq(
    ("compact", Some(true), fields.map(compact)),
    ("whitespace", Some(true), fields.flatMap(padded)),
    ("reordered", Some(true), for { f <- fields; k <- Gen.choose(0L, Long.MaxValue) }
      yield compact(new scala.util.Random(k).shuffle(f))),
    ("missing", Some(true), fields.flatMap(f => Gen.someOf(f)).map(f => compact(f.toSeq))),
    ("empty object", Some(true), ws.flatMap(a => ws.map(b => s"$a{$b}$a"))),
    ("nulls", Some(true), for { f <- fields; m <- Gen.listOfN(7, Gen.oneOf(true, false)) }
      yield compact(f.zip(m).map { case ((k, v), n) => k -> (if (n) "null" else v) })),
    ("unknown scalar", Some(true), for {
      i <- pos; k <- Gen.oneOf("extra", "", "Event_ID", "TS", "ts ", "page2", "c")
      v <- Gen.oneOf(safeStr.map(q), tsLit, Gen.const("null"))
      l <- withExtra(i, k -> v)
    } yield l),
    ("unknown nested", Some(false), for {
      i <- pos; v <- Gen.oneOf("{}", "{\"a\":1}", "[]", "[1,\"x\"]", "true", "false")
      l <- withExtra(i, "extra" -> v)
    } yield l),
    ("duplicate key", Some(false), for {
      f <- fields; i <- pos; v <- Gen.oneOf(q("dup"), "null", "7")
    } yield compact(f :+ (f(i % 7)._1 -> (if (f(i % 7)._1 == "ts" && v == q("dup")) "8" else v)))),
    ("escapes", Some(false), for {
      i <- pos; e <- Gen.oneOf("\\\"", "\\\\", "\\n", "\\u00e9", "\\/", "\\t")
      l <- withValue(Seq(0, 1, 3, 4, 5, 6)(i % 6), q(s"a${e}b"))
    } yield l),
    ("non-ascii", Some(false), for {
      i <- pos; c <- Gen.oneOf("é", "日本", "\u00a0", "\u007f", "\uD83D\uDE00")
      l <- Gen.oneOf(withValue(Seq(0, 1, 3, 4, 5, 6)(i % 6), q(s"x${c}y")),
        withExtra(i, s"k$c" -> q("v")))
    } yield l),
    ("control char", Some(false), for {
      i <- pos; c <- Gen.oneOf("\u0001", "\t", "\u001f", "\u0000")
      l <- withValue(Seq(0, 1, 3, 4, 5, 6)(i % 6), q(s"x${c}y"))
    } yield l),
    ("single quotes", Some(false), for { f <- fields; i <- pos } yield
      compact(f.updated(i % 7, f(i % 7)._1 -> (if (i % 7 == 2) f(2)._2 else "'v'")))
        .replace(s"\"${f(i % 7)._1}\":", s"'${f(i % 7)._1}':")),
    ("zero", Some(true), Gen.oneOf("0", "-0").flatMap(v => withValue(2, v))),
    ("numbers", Some(false), Gen.oneOf("01", "-01", "00", "1.5", "-0.0", "1e3", "1E+2",
      "2.0e-1", "-", "+1", ".5", "1234567890123456789", "-1234567890123456789",
      Long.MaxValue.toString, Long.MinValue.toString, "99999999999999999999999",
      "NaN", "Infinity", "0x1f").flatMap(v => withValue(2, v))),
    ("type mismatch", Some(false), for {
      i <- pos
      l <- Gen.oneOf(withValue(2, q("123")), withValue(2, "true"),
        withValue(2, "{\"v\":1}"), withValue(Seq(0, 1, 3, 4, 5, 6)(i % 6), "42"),
        withValue(3, "[\"/\"]"), withValue(5, "false"))
    } yield l),
    ("truncated", Some(false), for {
      f <- fields; k <- Gen.choose(0, 1000)
    } yield { val l = compact(f); l.take(k % l.length) }),
    ("trailing garbage", Some(false), for {
      f <- fields; g <- Gen.oneOf("x", "}", ",", " {}", "\u0000", "//c", " null")
    } yield compact(f) + g),
    ("not an object", Some(false), Gen.oneOf("", " ", "\t", "\r\n", "[]", "[{}]",
      "\"s\"", "1", "null", "true", "nul", "{", "}", "{,}", "{\"a\"}", "{\"a\":}",
      "{\"a\" 1}", "{\"ts\":1,}", "{ts:1}")))

  test("parse: the native wire decoder agrees with from_json row for row on 10,000 seeded lines") {
    import graft.functions.WireJson.wire_json
    val gen = Gen.oneOf(lineClasses).flatMap { case (cls, want, g) =>
      g.map(l => (cls, want, l)) }
    val generated = (0 until 8000).map(i =>
      gen.apply(Gen.Parameters.default, Seed(1000L + i)).get)
    // the canonical wire lines: the generator's own, as the benchmark and
    // the Kafka producer write them
    val canonical = graft.gen.EventGenerator.events(spark, 2000, seed = 11L)
      .toJSON.collect().map(l => ("canonical", Option(true), l))
    val cases = canonical.toSeq ++ generated :+ (("sql null", Option(false), null))
    assert(cases.size >= 10001)
    lineClasses.foreach { case (cls, _, _) =>
      assert(generated.count(_._1 == cls) >= 100, s"class $cls under-sampled") }

    // three readers of the same lines: a local relation (interpreted
    // eval), parquet (codegen over column vectors) and a text file
    // (codegen over the reader's reused line buffer — raw CR/LF lines
    // cannot be one text line, so that source skips them)
    val lines = cases.map(_._3)
    val dir = Files.createTempDirectory("wire_json").toString
    // a parquet scan reorders files, so that copy carries the line number
    lines.zipWithIndex.toDF("value", "i").write.parquet(s"$dir/pq")
    def pq = spark.read.parquet(s"$dir/pq").orderBy("i")
    val textLines = lines.filter(l => l != null && !l.exists(c => c == '\n' || c == '\r'))
    textLines.toDF("value").coalesce(1).write.text(s"$dir/txt")
    def expected(raw: org.apache.spark.sql.DataFrame) =
      raw.select(from_json(col("value"), ClickPipeline.clickSchema).as("c"))
        .select(col("c.*")).collect().toSeq
    def check(name: String, raw: org.apache.spark.sql.DataFrame, n: Int) = {
      val got = ClickPipeline.deserialize(raw).collect().toSeq
      val want = expected(raw)
      assert(got.size == n && want.size == n, s"$name: ${got.size}/${want.size} rows of $n")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"$name line $i: decoded $g, from_json $w") }
    }
    check("local", lines.toDF("value"), lines.size)
    check("parquet", pq, lines.size)
    check("text", spark.read.text(s"$dir/txt"), textLines.size)

    // the decoder's own answer, class by class: the fast path is taken
    // on every line it must read, and refused on every line it must not
    val decoded = pq
      .select(wire_json(col("value"), ClickPipeline.clickSchema).isNotNull)
      .collect().map(_.getBoolean(0))
    cases.zip(decoded).foreach { case ((cls, want, l), got) =>
      want.foreach(w => assert(got == w,
        s"class $cls: decoder ${if (got) "read" else "refused"} ${Option(l).map(_.take(120))}"))
    }
    assert(ClickPipeline.deserialize(lines.toDF("value"))
      .filter(col("event_id").isNotNull).count() >= canonical.length)
  }

  test("created_at is stamped as each row is written: a 300 ms micro-batch shows in it") {
    // each row takes 300 ms to compute, so the batch takes at least that
    // long before its first row is written; a trigger-start stamp
    // (current_timestamp) would read the trigger's start instead
    val slow = udf { (id: String) => Thread.sleep(300); id }.asNondeterministic()
    val input = MemoryStream[String](spark)
    val dir = Files.createTempDirectory("stamp").toString
    val q = ClickPipeline.startContinuous(ClickPipeline.parse(input.toDF())
        .withColumn("event_id", slow(col("event_id"))),
      s"$dir/out", s"$dir/ck", interval = "100 milliseconds")
    try {
      input.addData(jsonClick("e1", "u1", t0, "/"), jsonClick("e2", "u2", t0, "/"))
      q.processAllAvailable()
    } finally q.stop()
    val landed = q.recentProgress.filter(_.numInputRows > 0)
    assert(landed.nonEmpty)
    landed.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val stamps = spark.read.parquet(s"$dir/out/batch=${p.batchId}")
        .select(unix_millis(col("created_at"))).as[Long].collect()
      assert(stamps.length == p.numInputRows)
      stamps.foreach(c => assert(c >= start + 300,
        s"batch ${p.batchId}: created_at ${c - start} ms after its trigger start"))
    }
    // the JDBC sink stamps the same way, within its write task
    val url = "jdbc:derby:memory:graft_stamp;create=true"
    val before = System.currentTimeMillis()
    ClickPipeline.jdbcBatchWriter(url, "stamped", new java.util.Properties())(
      Seq("e1", "e2").toDF("event_id").select(slow(col("event_id")).as("event_id")), 0L)
    val jdbcStamps = spark.read.jdbc(url, "stamped", new java.util.Properties())
      .select(unix_millis(col("created_at"))).as[Long].collect()
    assert(jdbcStamps.length == 2 && jdbcStamps.forall(_ >= before + 300),
      jdbcStamps.map(_ - before).mkString(","))
  }

  test("windowed agg: [start,end) boundaries, late-beyond-watermark rows dropped") {
    val input = MemoryStream[String](spark)
    // only the user-grain agg streams (chained streaming aggregations are
    // unsupported); the finalizing rollup is batch over the sink — exactly
    // the s01 driver-entry shape
    val agg = ClickPipeline.minuteUserGrain(
      ClickPipeline.withEventTime(
        ClickPipeline.parse(input.toDF())))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_test")
      .option("checkpointLocation", Files.createTempDirectory("ck_win").toString)
      .start()
    try {
      // batch 1: two events in [12:00,12:01) — one at start, one at 59.999 s
      // — plus the boundary event at exactly 12:01:00 (belongs to the NEXT
      // window) and a driver event at 12:02:30 that sets the watermark.
      input.addData(
        jsonClick("e1", "u1", t0, "/"),
        jsonClick("e2", "u2", t0 + 59999, "/"),
        jsonClick("e3", "u3", t0 + 60000, "/"),
        jsonClick("e4", "u4", t0 + 150000, "/"))
      q.processAllAvailable()
      // watermark now 12:02:20 — batch 2's late event at 12:00:30 lands in
      // a window whose end (12:01) is before the watermark: DROPPED.
      input.addData(jsonClick("late", "u9", t0 + 30000, "/"))
      q.processAllAvailable()
      // flush: advance watermark far past every real window
      input.addData(jsonClick("flush", "u0", t0 + 600000, "__flush__"))
      q.processAllAvailable()

      val rows = ClickPipeline.minuteAggFromUserGrain(
          spark.table("win_test").filter(col("page") =!= "__flush__"))
        .select(unix_millis(col("window_start")).as("ws"), col("cnt"), col("unique_users"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        (t0, 2L, 2L),            // [12:00,12:01): e1+e2 only — late row dropped
        (t0 + 60000, 1L, 1L),    // [12:01,12:02): boundary event e3
        (t0 + 150000 - 30000, 1L, 1L))) // [12:02,12:03): e4
    } finally q.stop()
  }

  test("Welford step: update-before-test, n>5 gate, sample stddev, z>2.5") {
    import AnomalyDetector._
    var st = WelfordState(0, 0.0, 0.0)
    // five identical observations: never flagged (gate), stddev 0
    (1 to 5).foreach { i =>
      val (s2, row) = step(st, AggRow(i * 60000L, "/", "US", 10))
      st = s2
      assert(!row.is_anomaly && row.z_score == 0.0 && row.n == i)
    }
    assert(st.mean == 10.0 && st.m2 == 0.0)
    // 6th observation is a spike. Because the spike is folded into the
    // stats BEFORE its own z-score (reference update-precedes-test), z is
    // bounded by (n-1)/√n — for n=6 that is 5/√6 ≈ 2.04 < 2.5, so a
    // single spike after a constant history can NEVER flag at n=6.
    val (st6, row6) = step(st, AggRow(6 * 60000L, "/", "US", 100))
    assert(row6.n == 6 && math.abs(st6.mean - 25.0) < 1e-12)
    val expectedStd = math.sqrt(st6.m2 / 5)
    assert(math.abs(row6.z_score - (100 - 25.0) / expectedStd) < 1e-12)
    assert(math.abs(row6.z_score - 5.0 / math.sqrt(6.0)) < 1e-12)
    assert(!row6.is_anomaly)
    // 8 steady + spike: n=9 ⇒ bound 8/3 ≈ 2.67 > 2.5 and a constant
    // history attains it ⇒ flagged. mean=20, m2=7200, std=30, z=8/3.
    var s8 = WelfordState(0, 0.0, 0.0)
    (1 to 8).foreach { i => s8 = step(s8, AggRow(i * 60000L, "/", "US", 10))._1 }
    val (_, spike) = step(s8, AggRow(9 * 60000L, "/", "US", 100))
    assert(spike.n == 9 && math.abs(spike.mean - 20.0) < 1e-12)
    assert(math.abs(spike.z_score - 8.0 / 3.0) < 1e-12)
    assert(spike.is_anomaly)
    // constant series with n>5: stddev=0 → z defined as 0, not NaN
    var c = WelfordState(0, 0.0, 0.0)
    val rows = (1 to 7).map { i =>
      val (s2, r) = step(c, AggRow(i * 60000L, "/p", "DE", 3)); c = s2; r
    }
    assert(rows.forall(r => r.z_score == 0.0 && !r.is_anomaly))
  }

  test("AnomalyDetector.detect: keyed state persists across micro-batches") {
    import AnomalyDetector._
    val input = MemoryStream[AggRow](spark)
    val q = detect(input.toDS()).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("anomaly_test")
      .option("checkpointLocation", Files.createTempDirectory("ck_anom").toString)
      .start()
    try {
      // batch 1: eight steady windows (out of order — detector must sort)
      input.addData(Seq(3L, 1L, 8L, 5L, 2L, 7L, 4L, 6L).map(i => AggRow(i * 60000, "/", "US", 10)): _*)
      q.processAllAvailable()
      // batch 2: the spike — state (n=8, mean=10) must have survived;
      // n=9 ⇒ z = 8/3 > 2.5 (see Welford step test for the bound)
      input.addData(AggRow(9 * 60000, "/", "US", 100))
      q.processAllAvailable()
      val out = spark.table("anomaly_test").orderBy("window_start_ms")
        .as[AnomalyRow].collect()
      assert(out.length == 9)
      assert(out.take(8).forall(r => !r.is_anomaly && r.z_score == 0.0))
      val spike = out.last
      assert(spike.n == 9 && spike.is_anomaly && math.abs(spike.mean - 20.0) < 1e-12)
      // and the batch-order independence: window order, not arrival order
      assert(out.map(_.window_start_ms).toSeq == (1 to 9).map(_ * 60000L))
    } finally q.stop()
  }

  test("detectTws (transformWithState + RocksDB) matches detect across batches") {
    import AnomalyDetector._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[AggRow](spark)
      val q = detectTws(input.toDS()).toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName("anomaly_tws_test")
        .option("checkpointLocation", Files.createTempDirectory("ck_tws").toString)
        .start()
      try {
        input.addData(Seq(3L, 1L, 8L, 5L, 2L, 7L, 4L, 6L).map(i => AggRow(i * 60000, "/", "US", 10)): _*)
        q.processAllAvailable()
        input.addData(AggRow(9 * 60000, "/", "US", 100))
        q.processAllAvailable()
        val out = spark.table("anomaly_tws_test").orderBy("window_start_ms")
          .as[AnomalyRow].collect()
        // identical to the flatMapGroupsWithState run in the previous test
        assert(out.length == 9)
        assert(out.take(8).forall(r => !r.is_anomaly && r.z_score == 0.0))
        assert(out.last.n == 9 && out.last.is_anomaly
          && math.abs(out.last.z_score - 8.0 / 3.0) < 1e-12)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("anomalies(): reference-exact alert message for flagged rows only") {
    import AnomalyDetector._
    val rows = Seq(
      AnomalyRow(60000, "/", "US", 100, 6, 25.0, 3.2, true),
      AnomalyRow(120000, "/", "US", 10, 7, 22.9, 0.5, false)).toDS()
    val out = anomalies(rows).collect()
    assert(out.length == 1)
    // StreamJob.java:276 shape: "ANOMALY DETECTED: <agg.toString> - <reason>"
    assert(out.head.getAs[String]("message") ==
      "ANOMALY DETECTED: PageMinuteAgg{window_start=1970-01-01 00:01:00, " +
      "page='/', country='US', cnt=100} - Z-score 3.20 exceeds threshold 2.50")
    // the structured columns ride along for non-string consumers
    assert(out.head.getAs[Double]("z_score") == 3.2)
    assert(out.head.getAs[Long]("cnt") == 100)
  }

  test("checkpointed restart resumes without re-emitting (A14)") {
    val work = Files.createTempDirectory("ck_restart").toString
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    new java.io.File(inDir).mkdirs()
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(inDir, name),
        String.join("\n", lines: _*).getBytes)
    def runOnce(): Unit = ClickPipeline.runAppendParquet(
      ClickPipeline.minuteUserGrain(ClickPipeline.withEventTime(
        ClickPipeline.fromJsonDir(spark, inDir))), outDir, ck)

    writeFile("a.json", Seq(
      jsonClick("e1", "u1", t0, "/"),
      jsonClick("e2", "u2", t0 + 10000, "/")))
    runOnce()
    writeFile("b.json", Seq(jsonClick("flush", "u0", t0 + 600000, "__flush__")))
    runOnce() // restart from checkpoint; only the sentinel is new input
    val out = spark.read.parquet(outDir).filter(col("page") =!= "__flush__")
    // exactly one emission of the [12:00,12:01) user-grain rows
    assert(out.count() == 2)
    assert(out.agg(sum("cnt")).head.getLong(0) == 2)
  }

  test("s14 dedup-within-watermark: dups inside horizon dropped, state evicted after") {
    val input = MemoryStream[String](spark)
    val dedup = ClickPipeline.withEventTime(ClickPipeline.parse(input.toDF()))
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup_test")
      .option("checkpointLocation", Files.createTempDirectory("ck_wmd").toString)
      .start()
    try {
      // batch 1: e1 plus an identical re-send in the SAME batch → one row
      input.addData(
        jsonClick("e1", "u1", t0, "/"),
        jsonClick("e1", "u1", t0, "/"))
      q.processAllAvailable()
      // batch 2: another e1 re-send while the watermark is still below
      // t0 + delay → still deduped; the driver event advances the
      // watermark far past t0 + 10 s, EVICTING e1's key state
      input.addData(
        jsonClick("e1", "u1", t0, "/"),
        jsonClick("adv", "u2", t0 + 600000, "/"))
      q.processAllAvailable()
      // batch 3: e1 re-sent AFTER its state was evicted → re-emitted.
      // This is the bounded-state contract: within the horizon dedup is
      // exact, beyond it the key is forgotten (s09 trades unbounded state
      // for never forgetting).
      input.addData(jsonClick("e1", "u1", t0 + 600000, "/"))
      q.processAllAvailable()

      val e1Rows = spark.table("wm_dedup_test")
        .filter(col("event_id") === "e1").count()
      assert(e1Rows == 2,
        s"expected 1 in-horizon emission + 1 post-eviction emission, got $e1Rows")
      assert(spark.table("wm_dedup_test").count() == 3) // e1, adv, e1-again
    } finally q.stop()
  }

  test("s25 streamed near-dup: ref-df cap binds on planted boilerplate; exact values") {
    // every doc on both sides carries the same license tail, so its
    // shingles have reference-df 3; incoming doc 1 is a genuine near-dup
    // of reference doc 11 via rare shingles (ref-df 1)
    val boiler = "all rights reserved all rights"
    val incoming = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (2L, s"one two three four five six $boiler"),
      (3L, s"red orange yellow green blue indigo $boiler")
    ).toDF("doc_id", "text")
    val reference = Seq(
      (11L, s"alpha beta gamma delta epsilon eta $boiler"),
      (12L, s"seven eight nine ten eleven twelve $boiler"),
      (13L, s"cat dog bird fish horse goat $boiler")
    ).toDF("doc_id", "text")

    // cap 2 < boilerplate df 3: only the genuine pair is admitted, at
    // its exact batch-computed cross-corpus jaccard
    val capped = graft.streaming.StreamingQueries
      .nearDupStream(spark, incoming, reference, refCap = 2, threshold = 0.01)
      .as[(Long, Long, Double)].collect()
    val batch = graft.operators.Dedup
      .ngramJaccardCross(incoming, reference, threshold = 0.01)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(capped.map(t => (t._1, t._2)).toSeq == Seq((1L, 11L)),
      capped.mkString(","))
    assert(math.abs(capped.head._3 - batch((1L, 11L))) < 1e-12)

    // a non-binding cap admits exactly the batch cross-corpus result —
    // the streamed micro-batch path and the batch operator are one
    // semantics (9 pairs here: all docs share boilerplate)
    val loose = graft.streaming.StreamingQueries
      .nearDupStream(spark, incoming, reference, refCap = 100, threshold = 0.01)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(loose.keySet == batch.keySet, s"got ${loose.keySet}")
    loose.foreach { case (k, j) => assert(math.abs(j - batch(k)) < 1e-12) }
  }

  test("s36 bucketed near-dup stream == s25 (cap binds, exact jaccard, catalog clean)") {
    // same planted fixture as the s25 spec: boilerplate shingles have
    // reference-df 3, the genuine pair (1, 11) matches via df-1 shingles
    val boiler = "all rights reserved all rights"
    val incoming = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (2L, s"one two three four five six $boiler"),
      (3L, s"red orange yellow green blue indigo $boiler")
    ).toDF("doc_id", "text")
    val reference = Seq(
      (11L, s"alpha beta gamma delta epsilon eta $boiler"),
      (12L, s"seven eight nine ten eleven twelve $boiler"),
      (13L, s"cat dog bird fish horse goat $boiler")
    ).toDF("doc_id", "text")

    val before = spark.catalog.listTables().count()
    // binding cap: only the genuine pair; exact jaccard ≡ batch
    val capped = graft.streaming.StreamingQueries
      .nearDupStreamBucketed(spark, incoming, reference, refCap = 2,
        threshold = 0.01)
      .as[(Long, Long, Double)].collect()
    val batch = graft.operators.Dedup
      .ngramJaccardCross(incoming, reference, threshold = 0.01)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(capped.map(t => (t._1, t._2)).toSeq == Seq((1L, 11L)),
      capped.mkString(","))
    assert(math.abs(capped.head._3 - batch((1L, 11L))) < 1e-12)

    // non-binding cap: the full batch cross-corpus result — the durable
    // bucketed path and the pinned s25 path are ONE semantics
    val loose = graft.streaming.StreamingQueries
      .nearDupStreamBucketed(spark, incoming, reference, refCap = 100,
        threshold = 0.01)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(loose.keySet == batch.keySet, s"got ${loose.keySet}")
    loose.foreach { case (k, j) => assert(math.abs(j - batch(k)) < 1e-12) }
    // the store table and every per-batch table were dropped: N
    // invocations leave the session catalog at its starting size
    assert(spark.catalog.listTables().count() == before,
      "s36 leaked catalog tables")
  }

  test("s36 store-scan prune: the semi-pruned path is row-identical to the unpruned one") {
    // the r14 per-batch semi-prune is semantics-preserving BY
    // CONSTRUCTION (a left-semi on the join's own key removes only
    // rows the equi-join would drop anyway); pin it empirically by
    // forcing both sides of the store-size gate on the same corpus —
    // the small-SF registry run exercises the unpruned path, so this
    // is the pruned path's standing correctness evidence
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    val docs = graft.Tables.documents(spark, TestSpark.Sf0001)
    val inc = docs.filter(srcNum < 10)
    val ref = docs.filter(srcNum >= 10)
    def run(floor: Long) = graft.streaming.StreamingQueries
      .nearDupStreamBucketed(spark, inc, ref, refCap = 4, threshold = 0.5,
        pruneFloor = floor)
      .as[(Long, Long, Double)].collect().toSeq
    val pruned = run(0L)                // prune forced ON
    val plain = run(Long.MaxValue)      // prune forced OFF
    assert(pruned == plain, s"prune changed the result:\n$pruned\n$plain")
    assert(pruned.nonEmpty, "fixture admitted nothing — vacuous equality")
  }

  test("s36 totality: empty reference / empty incoming yield empty admissions, tables still cleaned") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val none = docs.limit(0)
    val before = spark.catalog.listTables().count()
    // empty REFERENCE: the store tables are built from nothing; every
    // micro-batch's candidate join finds no blocking rows
    assert(graft.streaming.StreamingQueries
      .nearDupStreamBucketed(spark, docs, none, refCap = 4, threshold = 0.01)
      .count() == 0)
    // empty INCOMING: zero (or zero-row) micro-batches; the read-back
    // fallback path must produce the typed empty relation, not a crash
    assert(graft.streaming.StreamingQueries
      .nearDupStreamBucketed(spark, none, docs, refCap = 4, threshold = 0.01)
      .count() == 0)
    assert(spark.catalog.listTables().count() == before,
      "s36 leaked catalog tables on the degenerate inputs")
  }

  test("s36 releases its pins: no persistent RDD it added survives a run, prune on and off") {
    val sc = spark.sparkContext
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    val docs = graft.Tables.documents(spark, TestSpark.Sf0001)
    Seq(0L, Long.MaxValue).foreach { floor =>
      val before = sc.getPersistentRDDs.keySet
      graft.streaming.StreamingQueries.nearDupStreamBucketed(spark,
        docs.filter(srcNum < 10), docs.filter(srcNum >= 10), refCap = 4,
        threshold = 0.5, pruneFloor = floor).collect()
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"pruneFloor $floor: s36 left RDDs ${left.mkString(",")} pinned")
    }
  }

  test("s26 streamed span clean: byte-identical to the batch operator across micro-batches") {
    // doc 1 shares a 4-gram span with the reference (scrubbed); docs 2
    // and 3 share a 4-gram span ONLY with each other (incoming-side
    // duplication is NOT x67's business — must stay untouched even
    // though the two docs land in different micro-batches); doc 4 is an
    // exact reference copy (emptied); doc 5 is clean
    val span = "the licensed header block here"
    val incoming = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"one two three shared passage among peers"),
      (3L, s"nine ten shared passage among peers eleven"),
      (4L, "verbatim reference document body text"),
      (5L, "totally unique words nothing shared")
    ).toDF("doc_id", "text")
    val reference = Seq(
      (11L, s"unrelated leading words $span trailing tail"),
      (12L, "verbatim reference document body text")
    ).toDF("doc_id", "text")

    val streamed = graft.streaming.StreamingQueries
      .spanCleanStream(spark, incoming, reference, n = 4)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    val batch = graft.operators.Dedup
      .crossSpanClean(incoming, reference, n = 4)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(streamed == batch)
    val byId = streamed.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == "alpha beta gamma delta")   // span scrubbed
    assert(byId(2L)._2.contains("shared passage among peers")) // untouched
    assert(byId(3L)._3 == 7L && byId(3L)._4 == 0L)    // untouched, all kept
    assert(byId(4L) == ((4L, "", 0L, 5L)))            // exact copy emptied
    assert(byId(5L)._4 == 0L)                          // clean doc intact
  }

  test("s30 streamed snapshot diff == batch x86; removed reconciled from the stream's own ids") {
    // 1 unchanged, 2 whitespace-only (NOT a change by the fingerprint
    // contract), 3 changed, 4 removed, 6 added — the removal verdict
    // must come out right even though docs land in different
    // micro-batches and no single batch sees the whole new snapshot
    val old = Seq((1L, "alpha beta"), (2L, "a  b"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "alpha beta"), (2L, "a b"), (3L, "gamma prime"), (6L, "epsilon"))
      .toDF("doc_id", "text")
    val streamed = StreamingQueries.snapshotDiffStream(spark, old, neu)
      .as[(Long, String)].collect().toSeq.sorted
    val batch = graft.operators.Curation.corpusDiff(old, neu)
      .as[(Long, String)].collect().toSeq.sorted
    assert(streamed == batch)
    assert(streamed == Seq((3L, "changed"), (4L, "removed"), (6L, "added")))
  }

  test("s34 bucketed streamed snapshot diff == batch x86 == s30 (same contract, co-located join)") {
    val old = Seq((1L, "alpha beta"), (2L, "a  b"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "alpha beta"), (2L, "a b"), (3L, "gamma prime"), (6L, "epsilon"))
      .toDF("doc_id", "text")
    val streamed = StreamingQueries.snapshotDiffStreamBucketed(spark, old, neu)
      .as[(Long, String)].collect().toSeq.sorted
    val batch = graft.operators.Curation.corpusDiff(old, neu)
      .as[(Long, String)].collect().toSeq.sorted
    assert(streamed == batch)
    assert(streamed == Seq((3L, "changed"), (4L, "removed"), (6L, "added")))
    // empty-input totality, same as the rest of the family
    val diff = StreamingQueries.snapshotDiffStreamBucketed(spark, old, old.limit(0))
      .as[(Long, String)].collect().toSeq.sorted
    assert(diff == Seq((1L, "removed"), (2L, "removed"), (3L, "removed"), (4L, "removed")))
  }

  test("s34 catalog hygiene: N invocations in one session leave the catalog at its starting size") {
    // per-batch tables were always dropped inside the foreachBatch; the
    // old-fingerprint store table used to survive the call (the result
    // lazily referenced it) — one leaked catalog entry plus warehouse
    // files per invocation in a long-lived shared session. The core now
    // materializes the removals and drops the store before returning.
    val old = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val neu = Seq((1L, "alpha beta prime"), (3L, "delta")).toDF("doc_id", "text")
    val before = spark.catalog.listTables().count()
    (1 to 3).foreach { _ =>
      val d = StreamingQueries.snapshotDiffStreamBucketed(spark, old, neu)
        .as[(Long, String)].collect().toSeq.sorted
      assert(d == Seq((1L, "changed"), (2L, "removed"), (3L, "added")))
    }
    val after = spark.catalog.listTables().count()
    assert(after == before,
      s"s34 leaked ${after - before} catalog tables across 3 invocations")
  }

  test("s30/s31/s33/s34/s35/s36/s37/s38/s39/s40/s42/s43/s44/s45/s46/s47/s48/s49/s50/s51/s53 restart recovery: crash at batch k resumes from the checkpoint — committed batches never re-run, result identical, catalog clean") {
    // A14's checkpoint discipline, proven for the WHOLE foreachBatch
    // read-back family: kill the query inside batch 1 (of 3), restart
    // against the SAME work dir, and require (a) the resumed run
    // re-executes ONLY the uncommitted batch and its successors, (b)
    // the final relation is row-identical to an uninterrupted run, (c)
    // nothing double-counts (the per-batch overwrite sink + checkpoint
    // replay make the crashed batch idempotent).
    val old = Seq((1L, "alpha beta"), (2L, "a  b"), (3L, "gamma"),
      (4L, "delta"), (5L, "kappa mu")).toDF("doc_id", "text")
    val neu = Seq((1L, "alpha beta"), (2L, "a b"), (3L, "gamma prime"),
      (6L, "epsilon"), (7L, "rho sigma tau")).toDF("doc_id", "text")

    def cores: Seq[(String, (Option[String], Long => Unit) => org.apache.spark.sql.DataFrame)] = Seq(
      "s30" -> ((w, h) =>
        StreamingQueries.snapshotDiffStream(spark, old, neu, w, h)),
      "s31" -> ((w, h) =>
        // τ below any possible log_w: every streamed doc admits, so the
        // recovery contract is checked over a non-trivial output
        StreamingQueries.dsirAdmissionStream(spark, neu, tau = -1e9, w, h)),
      "s33" -> ((w, h) =>
        StreamingQueries.maxSharedSpanStream(spark, neu, old, 3, w, h)),
      "s34" -> ((w, h) =>
        StreamingQueries.snapshotDiffStreamBucketed(spark, old, neu, w, h)),
      "s35" -> ((w, h) =>
        StreamingQueries.snapshotDriftStream(spark, old, neu, w, h)),
      "s36" -> { (w, h) =>
        // its own ≥3-word fixture: the shared old/neu docs are shorter
        // than the trigram shingle, which would make the recovery
        // contract vacuous over an empty admission relation
        val inc = Seq((11L, "the quick brown fox jumps"),
          (12L, "a wholly novel text body"),
          (13L, "lorem ipsum dolor sit amet"),
          (14L, "the quick brown fox leaps"),
          (15L, "pack my box with five dozen")).toDF("doc_id", "text")
        val ref = Seq((1L, "the quick brown fox jumps"),
          (2L, "lorem ipsum dolor sit amet"),
          (3L, "reference only text never matched")).toDF("doc_id", "text")
        StreamingQueries.nearDupStreamBucketed(spark, inc, ref,
          refCap = 10, threshold = 0.3, workDir = w, onBatch = h)
      },
      "s37" -> { (w, h) =>
        // its own fixture: the ANN store needs vec_ids 0..nLists-1
        // present as the fixed centroids, non-degenerate 4-dim vectors
        val emb = (0L until 16L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.annServeStream(spark, emb,
          emb.filter(col("vec_id") < 5), k = 3, nLists = 8, nProbe = 2,
          workDir = w, onBatch = h)
      },
      "s38" -> { (w, h) =>
        // its own fixture: benchMod=3 makes ids 0,3,6,9 the query slice
        // (≥3 after the 3-way input split) with shared vocabulary so
        // retrieval is non-trivial
        val docs = (0L until 12L).map { i =>
          (i, s"alpha w$i beta w${i % 4} gamma common text body")
        }.toDF("doc_id", "text")
        StreamingQueries.bm25ServeStream(spark, docs, benchMod = 3, k = 3,
          workDir = w, onBatch = h)
      },
      "s39" -> { (w, h) =>
        // both modalities: the s38 doc fixture + s37-style embeddings on
        // the same ids (vec_ids 0..7 present for the fixed centroids)
        val docs = (0L until 12L).map { i =>
          (i, s"alpha w$i beta w${i % 4} gamma common text body")
        }.toDF("doc_id", "text")
        val emb = (0L until 12L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.hybridServeStream(spark, docs, emb, benchMod = 3,
          listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
          workDir = w, onBatch = h)
      },
      "s40" -> { (w, h) =>
        // the s39 fixture with the CORPUS as the stream; compactEvery=2
        // puts a store compaction inside the resumed batch 1, so the
        // recovery contract covers the fold + watermark-skip path too
        val docs = (0L until 12L).map { i =>
          (i, s"alpha w$i beta w${i % 4} gamma common text body")
        }.toDF("doc_id", "text")
        val emb = (0L until 12L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.incrementalIndexServe(spark, docs, emb, benchMod = 3,
          listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
          compactEvery = 2, workDir = w, onBatch = h)
      },
      "s43" -> { (w, h) =>
        // serve-while-maintain over the s40 fixture at benchMod = 4:
        // the stage split (doc_id % AsofStages = % 3) must not align
        // with the query split — %3-aligned queries would leave stage 0
        // with no items and the as-of serve nothing to rank. The crash
        // lands in batch 1, whose replay re-runs BOTH the compaction
        // (compactEvery = 2) and that stage's hash-checked serve.
        val docs = (0L until 12L).map { i =>
          (i, s"alpha w$i beta w${i % 4} gamma common text body")
        }.toDF("doc_id", "text")
        val emb = (0L until 12L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.incrementalIndexServe(spark, docs, emb, benchMod = 4,
          listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
          compactEvery = 2, serveEachBatch = true, workDir = w, onBatch = h)
      },
      "s45" -> { (w, h) =>
        // the s37 embedding fixture: 16 vectors cover the fixed
        // quantizer's vec_ids 0..max(nLists, codes)-1; dim 4 splits
        // into m = 2 subspaces
        val emb = (0L until 16L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.pqServeStream(spark, emb,
          emb.filter(col("vec_id") < 5), k = 3, nLists = 8, nProbe = 2,
          m = 2, codes = 16, refine = 2, workDir = w, onBatch = h)
      },
      "s44" -> { (w, h) =>
        // streamed scatter maintenance: the s37 embedding fixture at a
        // small dim — integer partials make the resumed fold exactly
        // the uninterrupted one
        val emb = (0L until 16L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.embeddingScatterStream(spark, emb, dim = 4,
          workDir = w, onBatch = h)
      },
      "s42" -> { (w, h) =>
        // its own fixture: ids 39/117/136/217 carry md5-uniforms below
        // the Pareto rule's minimum keep threshold (u < 0.01 vs the
        // (2−q)^−9 ≥ 0.013 floor over the scorer's reachable q range),
        // so the recovery contract is checked over non-empty admission
        val docs = Seq(0L, 2L, 3L, 5L, 6L, 7L, 8L, 9L, 39L, 117L, 136L, 217L)
          .map(i => (i, if (i % 2 == 0) "en" else "de",
            s"alpha w$i beta w${i % 4} gamma common text body"))
          .toDF("doc_id", "lang", "text")
        StreamingQueries.paretoAdmissionStream(spark, docs, w, h)
      },
      "s48" -> { (w, h) =>
        // two strata, dominant-en: the rarest stratum keeps rate 1.0 by
        // the largest-feasible-corpus convention, en keeps ~0.707 — the
        // md5 draws drop a real subset, so the recovery contract is
        // checked over a non-trivial admission
        val docs = (0L until 12L)
          .map(i => (i, if (i % 3 == 0) "de" else "en", s"text $i"))
          .toDF("doc_id", "lang", "text")
        StreamingQueries.temperatureAdmissionStream(spark, docs, w, h)
      },
      "s47" -> { (w, h) =>
        // the s45 fixture; compactEvery=2 puts a code-store compaction
        // inside the resumed batch 1, so the recovery contract covers
        // the fold + watermark-skip path of the incremental code store
        val emb = (0L until 16L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.pqMaintainServe(spark, emb,
          emb.filter(col("vec_id") < 5), k = 3, nLists = 8, nProbe = 2,
          m = 2, codes = 16, refine = 2, compactEvery = 2,
          workDir = w, onBatch = h)
      },
      "s49" -> { (w, h) =>
        // s47's fixture with retention on: max vec_id 15 → wFinal 3,
        // wMid 1 — codes 0..2 genuinely expire across the merges the
        // resumed batch replays
        val emb = (0L until 16L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.pqMaintainServe(spark, emb,
          emb.filter(col("vec_id") < 5), k = 3, nLists = 8, nProbe = 2,
          m = 2, codes = 16, refine = 2, compactEvery = 2,
          retention = true, workDir = w, onBatch = h)
      },
      "s46" -> { (w, h) =>
        // the s40 fixture; maxDoc 11 → wFinal = 2, wMid = 1: item doc 1
        // expires at the mid-stream merge, the resumed batch 1 replays
        // a full retention pass (row filters + df/stats rebases), and
        // the final forced merge advances the watermark — the recovery
        // contract covers every staged-swap interruption surface the
        // retention path adds
        val docs = (0L until 12L).map { i =>
          (i, s"alpha w$i beta w${i % 4} gamma common text body")
        }.toDF("doc_id", "text")
        val emb = (0L until 12L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.retainedIndexServe(spark, docs, emb, benchMod = 3,
          listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
          compactEvery = 2, workDir = w, onBatch = h)
      },
      "s50" -> { (w, h) =>
        // the composed release pipeline over the s46 fixture plus a
        // lang column (two strata: en keeps ~0.707, de keeps 1.0 — the
        // admission drops a real subset) and duplicate texts (i % 5 —
        // dup pairs span batches, so the fp-store anti-join does real
        // cross-batch work). stages = 3 matches this test's 3-batch
        // protocol; the resumed batch 1 replays admission + dedup +
        // all four index appends + a full retention pass.
        val docs = (0L until 12L).map { i =>
          (i, if (i % 3 == 0) "de" else "en",
            s"alpha w${i % 5} beta gamma common text body")
        }.toDF("doc_id", "lang", "text")
        val emb = (0L until 12L).map { i =>
          (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
        }.toDF("vec_id", "embedding")
        StreamingQueries.releasePipelineStream(spark, docs, emb, benchMod = 3,
          listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
          stages = 3, compactEvery = 2, workDir = w, onBatch = h)
      },
      "s51" -> { (w, h) =>
        // an events fixture spanning 30 days at two events/day: the
        // mid-stream merge (23-day retention) and the final 15-day
        // merge both expire real minutes, so the resumed batch 1
        // replays a genuine TTL pass (row filter + totals rebase) on
        // the TIME axis
        val ev = (0L until 60L).map { i =>
          (new java.sql.Timestamp(1704067200000L + i * 12L * 3600000L),
            s"t${i % 3}")
        }.toDF("ts", "event_type")
        StreamingQueries.tsRetainedEventStats(spark, ev,
          workDir = w, onBatch = h)
      },
      "s53" -> { (w, h) =>
        // the GATED pipeline over the s53 gate fixture: the resumed
        // batch 1 replays admission + exact dedup + the near-dup gate
        // (cross-batch: doc 4 gated by batch-0 winner 2) + the span
        // quarantine + all index appends + a full retention pass
        StreamingQueries.releasePipelineStream(spark, s53GateDocs,
          s53GateEmb, benchMod = 3, listK = 4, k0 = 60, k = 3,
          nLists = 8, nProbe = 2, stages = 3, compactEvery = 2,
          gates = true, workDir = w, onBatch = h)
      })

    cores.foreach { case (name, core) =>
      val tablesBefore = spark.catalog.listTables().count()
      val work = java.nio.file.Files
        .createTempDirectory(s"graft_${name}_restart_").toFile.getAbsolutePath
      val run1 = scala.collection.mutable.ArrayBuffer.empty[Long]
      val crashed = intercept[Exception] {
        core(Some(work), id => {
          run1 += id
          if (id == 1L) sys.error(s"induced $name crash in batch 1")
        })
      }
      assert(crashed.getMessage != null, s"$name: expected the induced crash")
      assert(run1.toSet == Set(0L, 1L), s"$name run1 saw $run1")

      val run2 = scala.collection.mutable.ArrayBuffer.empty[Long]
      val resumed = core(Some(work), id => run2 += id).collect().toSeq
      // batch 0 committed before the crash — the restart must NOT
      // replay it; batch 1 (uncommitted) and batch 2 must run
      assert(run2.toSet == Set(1L, 2L),
        s"$name resume re-ran committed batches (or skipped one): $run2")

      val clean = core(None, _ => ()).collect().toSeq
      assert(resumed == clean,
        s"$name resumed result diverged from the uninterrupted run:\n" +
          s"resumed: $resumed\nclean:   $clean")

      // catalog hygiene across the CRASH path too: the induced failure
      // plus the resume plus the clean run must leak zero tables (the
      // try/finally drop contract on the bucketed-store cores)
      val tablesAfter = spark.catalog.listTables().count()
      assert(tablesAfter == tablesBefore,
        s"$name leaked ${tablesAfter - tablesBefore} catalog tables across crash+resume")
    }
  }

  test("s50 stage-boundary crashes: a kill between the fp append and the index appends (fp), mid-index (stats), and after the retention merge (retain) each resumes to the identical composed result") {
    // the interaction the single-store entries cannot reach: batch 1
    // dies AFTER the fingerprint store admitted its winners but BEFORE
    // (or half-way through) the index appends — the replay must
    // recompute the IDENTICAL winner set (fp store read as-of batch 0)
    // and finish the half-applied batch; "retain" crashes after the
    // full retention pass, exercising the folded-batch skip guard.
    val docs = (0L until 12L).map { i =>
      (i, if (i % 3 == 0) "de" else "en",
        s"alpha w${i % 5} beta gamma common text body")
    }.toDF("doc_id", "lang", "text")
    val emb = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
    }.toDF("vec_id", "embedding")
    def run(w: Option[String], hook: (Long, String) => Unit) =
      StreamingQueries.releasePipelineStream(spark, docs, emb, benchMod = 3,
        listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
        stages = 3, compactEvery = 2, workDir = w, onStage = hook)
    val clean = run(None, (_, _) => ()).collect().toSeq
    assert(clean.nonEmpty, "vacuous fixture: the composed serve is empty")
    Seq("fp", "stats", "retain").foreach { crashAt =>
      val work = Files
        .createTempDirectory(s"graft_s50_stage_${crashAt}_")
        .toFile.getAbsolutePath
      val crashed = intercept[Exception] {
        run(Some(work), (id, st) =>
          if (id == 1L && st == crashAt)
            sys.error(s"induced s50 crash after stage $crashAt of batch 1"))
      }
      assert(crashed.getMessage != null)
      val resumed = run(Some(work), (_, _) => ()).collect().toSeq
      assert(resumed == clean,
        s"s50 crash-after-$crashAt resume diverged from the clean run:\n" +
          s"resumed: $resumed\nclean:   $clean")
    }
  }

  test("s50 stage interactions: an expired winner's later duplicate does not resurrect; a rejected doc never shadows an admitted duplicate") {
    val emb = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
    }.toDF("vec_id", "embedding")
    def finalTfDocs(docs: org.apache.spark.sql.DataFrame): Set[Long] = {
      val work = Files.createTempDirectory("graft_s50_sem_")
        .toFile.getAbsolutePath
      StreamingQueries.releasePipelineStream(spark, docs, emb, benchMod = 3,
        listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
        stages = 3, compactEvery = 2, workDir = Some(work)).collect()
      val (tfStore, _, _, ivfStore) =
        StreamingQueries.servingDeltaStores(spark, s"$work/store")
      // the final forced merge ran at wFinal = 2 — retention must have
      // expired the ivf arm's sub-watermark vectors too
      val ivfIds = ivfStore.read(spark).select("vec_id")
        .distinct().as[Long].collect().toSet
      assert(!ivfIds.exists(_ < 2L),
        s"ivf store retained sub-watermark vectors: $ivfIds")
      tfStore.read(spark).select("doc_id").distinct().as[Long].collect().toSet
    }

    // (a) single stratum → rate exactly 1.0, everything admitted:
    // isolates dedup × retention. Docs 1 and 5 are exact duplicates;
    // winner 1 < wFinal = 2 expires at the merge, and 5 — admitted,
    // retained, but dropped at ingest by the fp store — must NOT
    // resurrect the content. Dedup history outlives index retention.
    val dupDocs = (0L until 12L).map { i =>
      val text = if (i == 1L || i == 5L) "duplicated content body here"
                 else s"unique w$i text body number ${i * 17}"
      (i, "en", text)
    }.toDF("doc_id", "lang", "text")
    val tf1 = finalTfDocs(dupDocs)
    assert(!tf1.contains(1L), "expired winner 1 still indexed")
    assert(!tf1.contains(5L),
      "doc 5 resurrected the expired winner's content — dedup history " +
        "must outlive index retention")
    assert(Set(2L, 4L, 7L, 8L, 10L, 11L).subsetOf(tf1),
      s"retained unique items missing from the postings: $tf1")

    // (b) two strata → en keeps at rate ≈ 0.70705: item 5 (draw 0.7645)
    // is REJECTED by admission, item 8 (draw 0.6662) is admitted; they
    // share a text. The winner must be 8 — a doc the admission filter
    // rejected can never shadow an admitted duplicate (dedup runs over
    // ADMITTED docs only). Items 7/10 are rejected with unique texts —
    // plain admission drops.
    val shadowDocs = (0L until 12L).map { i =>
      val text = if (i == 5L || i == 8L) "shared shadow content body"
                 else s"unique w$i text body number ${i * 17}"
      (i, if (i % 3 == 0) "de" else "en", text)
    }.toDF("doc_id", "lang", "text")
    val tf2 = finalTfDocs(shadowDocs)
    assert(tf2.contains(8L),
      "admitted duplicate 8 missing — the rejected doc 5 shadowed it")
    assert(!tf2.contains(5L) && !tf2.contains(7L) && !tf2.contains(10L),
      s"rejected docs leaked into the index: $tf2")
  }

  // the s53 gate fixture (benchMod = 3 → eval slice {0,3,6,9}, items
  // {1,2,4,5,7,8,10,11}; single lang → admission rate exactly 1.0,
  // isolating the gates; maxId 11 → wFinal = 2, chunk = 4 → batches
  // {1,2} {4,5,7} {8,10,11}). Planted interactions:
  //  - 5 ≡ 11 exact duplicates (fp gate, cross-batch);
  //  - 4 near-dups batch-0 winner 2 (3-shingle jaccard 3/5 = 0.6);
  //  - 10 near-dups winner 1, which EXPIRES at the merges (wFinal = 2)
  //    — 10 arrives in batch 2, after the mid-stream retention pass
  //    compacted the nd history, pinning history-outlives-retention;
  //  - 8 shares the 5-token span "c1..c5" with eval doc 0 (two chained
  //    4-grams → max island = RelQuarMinSpan) — quarantined, yet kept
  //    in the INDEX stores; only the serve excludes it.
  private def s53GateDocs = Seq(
    0L  -> "e0a e0b c1 c2 c3 c4 c5 e0c",
    1L  -> "n1 n2 n3 n4 n5 n6",
    2L  -> "q r s t u v",
    3L  -> "e3a e3b e3c e3d e3e",
    4L  -> "q r s t u w",
    5L  -> "shared exact duplicate text body5",
    6L  -> "e6a e6b e6c e6d e6e",
    7L  -> "u7a u7b u7c u7d u7e u7f",
    8L  -> "g8a c1 c2 c3 c4 c5 g8b g8c",
    9L  -> "e9a e9b e9c e9d e9e",
    10L -> "n1 n2 n3 n4 n5 x9",
    11L -> "shared exact duplicate text body5"
  ).map { case (i, t) => (i, "en", t) }.toDF("doc_id", "lang", "text")

  private def s53GateEmb = (0L until 12L).map { i =>
    (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
  }.toDF("vec_id", "embedding")

  test("s53 stage-boundary crashes: a kill after the near-dup gate (nd) and after the quarantine append (quar) each resumes to the identical gated result") {
    // the two boundaries s50 cannot reach: batch 1 dies AFTER the nd
    // history absorbed its winners but BEFORE the quarantine/index
    // appends — the replay must recompute the IDENTICAL winner set and
    // gate verdicts (all three histories read as-of batch 0)
    def run(w: Option[String], hook: (Long, String) => Unit) =
      StreamingQueries.releasePipelineStream(spark, s53GateDocs, s53GateEmb,
        benchMod = 3, listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
        stages = 3, compactEvery = 2, gates = true, workDir = w,
        onStage = hook)
    val clean = run(None, (_, _) => ()).collect().toSeq
    assert(clean.nonEmpty, "vacuous fixture: the gated serve is empty")
    Seq("nd", "quar").foreach { crashAt =>
      val work = Files
        .createTempDirectory(s"graft_s53_stage_${crashAt}_")
        .toFile.getAbsolutePath
      val crashed = intercept[Exception] {
        run(Some(work), (id, st) =>
          if (id == 1L && st == crashAt)
            sys.error(s"induced s53 crash after stage $crashAt of batch 1"))
      }
      assert(crashed.getMessage != null)
      val resumed = run(Some(work), (_, _) => ()).collect().toSeq
      assert(resumed == clean,
        s"s53 crash-after-$crashAt resume diverged from the clean run:\n" +
          s"resumed: $resumed\nclean:   $clean")
    }
  }

  test("s53 gate interactions: a near-dup of an EXPIRED winner is still dropped; a quarantined doc stays indexed but is never served") {
    val work = Files.createTempDirectory("graft_s53_sem_")
      .toFile.getAbsolutePath
    val served = StreamingQueries.releasePipelineStream(spark, s53GateDocs,
      s53GateEmb, benchMod = 3, listK = 4, k0 = 60, k = 3, nLists = 8,
      nProbe = 2, stages = 3, compactEvery = 2, gates = true,
      workDir = Some(work)).collect().toSeq
    val (tfStore, _, _, _) =
      StreamingQueries.servingDeltaStores(spark, s"$work/store")
    val tfIds = tfStore.read(spark).select("doc_id")
      .distinct().as[Long].collect().toSet
    // exact-dup 11 never entered; near-dup 4 gated by live winner 2;
    // near-dup 10 gated by winner 1 EVEN THOUGH 1 expired at the
    // retention merges before batch 2 arrived — the nd history
    // compacts without a retention filter, so content never resurrects
    // through a near-duplicate either
    assert(!tfIds.contains(11L), "exact duplicate 11 leaked past the fp gate")
    assert(!tfIds.contains(4L), "near-dup 4 leaked past the nd gate")
    assert(!tfIds.contains(10L),
      "near-dup 10 of the EXPIRED winner 1 entered the index — the nd " +
        "history must outlive index retention")
    assert(!tfIds.contains(1L), "expired winner 1 still indexed")
    // the quarantine is serve-time POLICY: 8 is contaminated (5-token
    // shared span with eval doc 0) yet stays IN the index stores —
    // only the serve excludes it
    assert(tfIds.contains(8L),
      s"quarantined doc 8 was dropped from the index — quarantine must " +
        s"be consulted at serve time, not ingest: $tfIds")
    import graft.store.DeltaStore
    import org.apache.spark.sql.types._
    val quar = new DeltaStore(s"$work/store/quar",
      StructType(Seq(StructField("doc_id", LongType))),
      (d, p) => d.coalesce(1).write.mode("overwrite").parquet(p),
      (d, p) => d.coalesce(1).write.mode("overwrite").parquet(p),
      _.distinct())
    assert(quar.read(spark).as[Long].collect().toSet == Set(8L),
      "quarantine store must hold exactly the contaminated doc 8")
    val servedDocs = served.map(_.getLong(1)).toSet
    assert(servedDocs.nonEmpty && servedDocs.subsetOf(Set(2L, 5L, 7L)),
      s"served corpus must be the retained gate survivors minus the " +
        s"quarantine {2,5,7}; got $servedDocs")
  }

  test("s52 release report: the maintained audit/winner stores equal the hand-derived attrition counts; the gate verdict follows the retention ratio") {
    // the s50 crash fixture: items {1,2,4,5,7,8,10,11}; en keep rate
    // ≈ 0.70705 rejects ids 5 (u=.7645), 7 (.8594), 10 (.9982) and
    // admits {1,2,4,8,11}; texts repeat at i % 5, so the admitted fp
    // groups are {1,11} (winner 1), {2}, {4}, {8} → 4 winners; the
    // wFinal = 11/4 = 2 retention cut expires winner 1 → 3 retained;
    // retain_rate 0.75 ≥ 0.5 → gate passes.
    val docs = (0L until 12L).map { i =>
      (i, if (i % 3 == 0) "de" else "en",
        s"alpha w${i % 5} beta gamma common text body")
    }.toDF("doc_id", "lang", "text")
    val emb = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val row = StreamingQueries.releasePipelineStream(spark, docs, emb,
      benchMod = 3, listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
      stages = 3, compactEvery = 2, report = true).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((8L, 5L, 4L, 3L)),
      s"attrition counts diverged from the hand derivation: $row")
    assert(row.getDouble(4) == 0.625 && row.getDouble(5) == 0.8 &&
      row.getDouble(6) == 0.75, s"ratios wrong: $row")
    assert(row.getBoolean(7), "gate must pass at retain_rate 0.75")
  }

  test("s51 ts retention: merge-enforced expiry equals the batch TTL cut, with the watermark advancing across merges") {
    val ev = (0L until 60L).map { i =>
      (new java.sql.Timestamp(1704067200000L + i * 12L * 3600000L),
        s"t${i % 3}")
    }.toDF("ts", "event_type")
    val streamed = StreamingQueries.tsRetainedEventStats(spark, ev)
      .collect().toSeq
    // the batch TTL cut, computed independently
    val minuteOf = (expr("unix_millis(ts) DIV 60000") * 60000L)
    val maxMin = ev.agg(max(minuteOf)).collect()(0).getLong(0)
    val wFinal = maxMin - StreamingQueries.TsRetainMs
    val wMid = maxMin - StreamingQueries.TsMidRetainMs
    val batch = ev.select(col("event_type"), minuteOf.as("m"))
      .filter(col("m") >= wFinal)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("m").as("n_minutes"),
        min("m").as("min_minute_ms"), max("m").as("max_minute_ms"))
      .orderBy("event_type").collect().toSeq
    assert(streamed == batch,
      s"streamed TTL stats diverged from the batch cut:\n$streamed\nvs\n$batch")
    // the watermark genuinely ADVANCED: the fixture has minutes the mid
    // merge retained (>= wMid) that the final merge expired (< wFinal)
    val between = ev.select(minuteOf.as("m"))
      .filter(col("m") >= wMid && col("m") < wFinal).count()
    assert(between > 0,
      "fixture degenerate: no rows between the mid and final watermarks")
    assert(streamed.map(_.getLong(1)).sum < 60L,
      "nothing expired — the TTL merges were vacuous")
  }

  test("s42 streamed Pareto admission == batch x126 (build-free: the keep decision is per-doc closed form)") {
    val docs = Seq(0L, 2L, 3L, 5L, 6L, 7L, 8L, 9L, 39L, 117L, 136L, 217L)
      .map(i => (i, if (i % 2 == 0) "en" else "de",
        s"alpha w$i beta w${i % 4} gamma common text body"))
      .toDF("doc_id", "lang", "text")
    val streamed = StreamingQueries.paretoAdmissionStream(spark, docs)
      .collect().toSeq
    val batch = graft.operators.Curation.paretoClassifierSample(docs)
      .orderBy("doc_id").collect().toSeq
    assert(streamed.nonEmpty, "vacuous fixture: nothing admitted")
    assert(streamed.size < docs.count(), "degenerate fixture: everything admitted")
    assert(streamed == batch,
      s"streamed admission diverged from x126:\n$streamed\nvs\n$batch")
  }

  test("s48 streamed temperature admission == batch x132 (pinned rates, per-doc closed-form keep)") {
    val docs = (0L until 24L)
      .map(i => (i, if (i % 4 == 0) "de" else "en", s"text $i"))
      .toDF("doc_id", "lang", "text")
    val streamed = StreamingQueries.temperatureAdmissionStream(spark, docs)
      .collect().toSeq
    val batch = graft.operators.Curation.temperatureSample(docs)
      .orderBy("doc_id").collect().toSeq
    assert(streamed.nonEmpty, "vacuous fixture: nothing admitted")
    assert(streamed.size < docs.count(), "degenerate fixture: everything admitted")
    assert(streamed == batch,
      s"streamed admission diverged from x132:\n$streamed\nvs\n$batch")
    // the rarest stratum keeps EVERYTHING (rate exactly 1.0 — the x34
    // largest-feasible-corpus convention survives the streamed path)
    val de = streamed.filter(_.getString(1) == "de")
    assert(de.size == 6 && de.forall(_.getDouble(2) == 1.0))
  }

  test("s35 streamed snapshot drift == batch x103 (vocabulary-grain partials merge exactly)") {
    val old = Seq((1L, "alpha beta beta gamma"), (2L, "delta epsilon alpha"),
      (3L, "zeta zeta eta"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "alpha theta theta"), (2L, "delta epsilon alpha"),
      (4L, "iota kappa kappa kappa"))
      .toDF("doc_id", "text")
    val streamed = StreamingQueries.snapshotDriftStream(spark, old, neu)
      .collect().head.toSeq
    val batch = graft.operators.Curation.snapshotDrift(old, neu)
      .collect().head.toSeq
    assert(streamed == batch,
      s"streamed partials merge diverged from batch x103: $streamed vs $batch")
    // empty NEW snapshot: totality — a well-defined row, not a crash
    // (nn = 0; divergences finite because smoothing keeps q > 0)
    val e = StreamingQueries.snapshotDriftStream(spark, old, old.limit(0))
      .collect().head
    assert(e.getLong(2) == 0L && !e.isNullAt(5) && !e.getDouble(5).isNaN)
  }

  test("s31 streamed DSIR admission == batch threshold scoring; gate actually binds") {
    import graft.operators.Curation
    val docs = graft.Tables.documents(spark, graft.TestSpark.Sf0001)
    val tau = graft.queries.CurationQueries.DsirTau
    val streamed = StreamingQueries.dsirAdmissionStream(spark, docs, tau)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    val (tc, tot) = Curation.dsirModel(docs)
    val batch = Curation
      .dsirScore(docs.filter(col("doc_id") % Curation.BenchMod =!= 0), tc, tot)
      .filter(col("log_w") >= tau)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(streamed == batch)
    // the gate binds on the fixture: some admitted, some rejected
    val candidates = docs.filter(col("doc_id") % Curation.BenchMod =!= 0).count()
    assert(streamed.nonEmpty && streamed.size < candidates,
      s"tau=$tau does not bind: ${streamed.size} of $candidates admitted")
  }

  test("s31 tau calibration: dsirTauFor hits the target admit rate; default-tau hash path untouched") {
    import graft.operators.Curation
    val docs = graft.Tables.documents(spark, graft.TestSpark.Sf0001)
    val candidates = docs.filter(col("doc_id") % Curation.BenchMod =!= 0)
    val nCand = candidates.count()
    for (target <- Seq(0.1, 0.3, 0.7)) {
      val tau = Curation.dsirTauFor(docs, target)
      val admitted = StreamingQueries.dsirAdmissionStream(spark, docs, tau).count()
      val expected = math.ceil(target * nCand).toLong
      // exact on the calibration corpus itself, up to round(6) ties at
      // the cut score
      val ties = Curation.dsirScore(candidates,
        Curation.dsirModel(docs)._1, Curation.dsirModel(docs)._2)
        .filter(col("log_w") === tau).count()
      assert(admitted >= expected && admitted <= expected + ties,
        s"target=$target: admitted $admitted of $nCand (expected ~$expected, ties=$ties)")
    }
    // and the whole rate range is monotone: a higher target never
    // yields a higher tau
    val taus = Seq(0.1, 0.3, 0.7).map(Curation.dsirTauFor(docs, _))
    assert(taus == taus.sorted.reverse, s"tau not monotone in rate: $taus")
  }

  test("s33 streamed max-shared-span == batch x95 across micro-batches") {
    // planted docs land in different micro-batches; per-doc islands must
    // be identical to the batch operator (doc 1: embedded 6-token span;
    // doc 2: isolated gram; doc 3: clean)
    val incoming = Seq(
      (1L, "xxx yyy one two three four five six zzz www"),
      (2L, "g1 g2 g3 g4 mm nn oo pp"),
      (3L, "totally unique tokens nothing here matches")
    ).toDF("doc_id", "text")
    val reference = Seq(
      (11L, "aaa bbb one two three four five six ccc ddd"),
      (12L, "g1 g2 g3 g4 spacer")
    ).toDF("doc_id", "text")
    val streamed = StreamingQueries.maxSharedSpanStream(spark, incoming, reference, n = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val batch = graft.operators.Dedup.maxSharedSpan(incoming, reference, n = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(streamed == batch)
    assert(streamed == Seq((1L, 6L, 3L, 1L), (2L, 4L, 1L, 1L), (3L, 0L, 0L, 0L)))
  }

  test("s26/s30–s33 empty-input totality: zero incoming rows => typed empty (or removal-only) result, no schema-inference crash") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val noDocs = docs.limit(0)

    // s30: empty NEW snapshot against a non-empty old one is not just
    // "don't crash" — every old doc must come back as removed
    val diff = StreamingQueries.snapshotDiffStream(spark, docs, noDocs)
      .as[(Long, String)].collect().toSeq.sorted
    assert(diff == Seq((1L, "removed"), (2L, "removed")))
    // and fully-empty in, empty out
    assert(StreamingQueries.snapshotDiffStream(spark, noDocs, noDocs).isEmpty)

    // s33 / s26: empty incoming, non-empty reference
    val span = StreamingQueries.maxSharedSpanStream(spark, noDocs, docs, n = 4)
    assert(span.isEmpty &&
      span.columns.toSeq == Seq("doc_id", "max_shared_tokens",
        "n_shared_grams", "n_spans"))
    val clean = StreamingQueries.spanCleanStream(spark, noDocs, docs,
      graft.queries.ExtendedQueries.SpanGramN)
    assert(clean.isEmpty && clean.columns.toSeq ==
      Seq("doc_id", "cleaned_text", "kept_tokens", "removed_tokens"))

    // s32: empty embedding table
    val embs = graft.Tables.embeddings(spark, graft.TestSpark.Sf0001).limit(0)
    val health = StreamingQueries.embeddingHealthStream(spark, embs)
    assert(health.isEmpty && health.columns.contains("mean_norm"))

    // s31: a corpus that is ALL target slice leaves the streamed
    // admission slice empty (the model still builds)
    import graft.operators.Curation
    val targetOnly = Seq((0L, "alpha beta"),
        (Curation.BenchMod.toLong, "gamma delta")).toDF("doc_id", "text")
    val admitted = StreamingQueries.dsirAdmissionStream(spark, targetOnly,
      graft.queries.CurationQueries.DsirTau)
    assert(admitted.isEmpty && admitted.columns.toSeq ==
      Seq("doc_id", "n_tokens", "log_w"))

    // the harness-derived read-backs: each empty input yields an empty
    // result typed exactly like the entry's non-empty answer
    def typedEmpty(empty: org.apache.spark.sql.DataFrame,
                   full: org.apache.spark.sql.DataFrame): Unit = {
      assert(empty.isEmpty, empty.collect().mkString(","))
      assert(empty.schema.map(f => (f.name, f.dataType)) ==
        full.schema.map(f => (f.name, f.dataType)),
        s"${empty.schema.simpleString} vs ${full.schema.simpleString}")
    }
    val emb = (0L until 16L).map { i =>
      (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val noEmb = emb.limit(0)
    // s37 / s45: no queries against a built index
    typedEmpty(
      StreamingQueries.annServeStream(spark, emb, noEmb, k = 3, nLists = 8, nProbe = 2),
      StreamingQueries.annServeStream(spark, emb, emb.filter(col("vec_id") < 5),
        k = 3, nLists = 8, nProbe = 2))
    def pq(queries: org.apache.spark.sql.DataFrame) =
      StreamingQueries.pqServeStream(spark, emb, queries, k = 3, nLists = 8,
        nProbe = 2, m = 2, codes = 16, refine = 2)
    typedEmpty(pq(noEmb), pq(emb.filter(col("vec_id") < 5)))
    // s44: no embeddings streamed — the scatter relation's count cell
    // still reads 0, exactly as the batch x128 relation does
    val scatter = StreamingQueries.embeddingScatterStream(spark, noEmb, dim = 4)
    assert(scatter.schema == StreamingQueries.embeddingScatterStream(spark, emb,
      dim = 4).schema)
    assert(scatter.collect().toSeq == graft.operators.SimilaritySearch
      .embeddingScatter(noEmb, 4).orderBy("i", "j").collect().toSeq)
    // s42: no documents to admit. s48 calibrates its rates on the
    // streamed corpus itself, so an empty corpus has no rates: a loud
    // precondition failure, never an untyped read-back
    val langDocs = (0L until 12L)
      .map(i => (i, if (i % 3 == 0) "de" else "en", s"alpha w$i beta text $i"))
      .toDF("doc_id", "lang", "text")
    typedEmpty(StreamingQueries.paretoAdmissionStream(spark, langDocs.limit(0)),
      StreamingQueries.paretoAdmissionStream(spark, langDocs))
    val noRates = intercept[IllegalArgumentException](
      StreamingQueries.temperatureAdmissionStream(spark, langDocs.limit(0)))
    assert(noRates.getMessage.contains("empty corpus"))
    // the harness fallback itself: Spark stages even an empty relation
    // as one empty file (one zero-row batch), so take the file away — no
    // batch fires, and the read-back is the per-batch function applied
    // to an empty batch
    val r = Replay("graft_no_batches_")
    r.stage(docs)
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(r.in))
    val none = r.mapBatches(spark)(_.select(col("doc_id"), length(col("text")).as("n")))
    assert(none.isEmpty && none.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("doc_id", "bigint"), ("n", "int"), ("batch", "int")))
    // s35: an empty new snapshot still yields the one typed gauge row,
    // with nothing counted on the new side
    val drift = StreamingQueries.snapshotDriftStream(spark, docs, noDocs)
    val driftFull = StreamingQueries.snapshotDriftStream(spark, docs, docs)
    assert(drift.schema == driftFull.schema)
    assert(drift.collect().toSeq.map(_.getLong(2)) == Seq(0L))
  }

  test("s49 validates before it stages: an empty corpus fails with no input committed") {
    val w = Files.createTempDirectory("s49_empty").toString
    val emb = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding").limit(0)
    val e = intercept[IllegalArgumentException](
      StreamingQueries.pqMaintainServe(spark, emb, emb, k = 3, nLists = 8, nProbe = 2,
        m = 2, codes = 16, refine = 2, retention = true, workDir = Some(w)))
    assert(e.getMessage.contains("empty corpus"))
    val in = new java.io.File(s"$w/in")
    val staged = if (!in.exists) Nil else
      org.apache.commons.io.FileUtils.listFiles(in, Array("parquet"), true).toArray.toSeq
    assert(staged.isEmpty, s"s49 staged input before failing: ${staged.mkString(",")}")
  }

  test("inParallel: every failing lane surfaces — later failures ride along as suppressed") {
    val e = intercept[IllegalStateException] {
      StreamingQueries.inParallel(
        () => throw new IllegalStateException("lane 0"),
        () => (),
        () => throw new IllegalArgumentException("lane 2"))
    }
    assert(e.getMessage == "lane 0")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("lane 2"))
  }

  test("inParallel: lane results come back in argument order") {
    assert(StreamingQueries.inParallel((0 until 12).map(i => () => { Thread.sleep(12 - i); i }): _*)
      == (0 until 12))
    assert(StreamingQueries.inParallel(() => "one") == Seq("one"))
  }

  test("s32 streamed embedding health == batch x91 (algebraic partials merge exactly)") {
    val embs = graft.Tables.embeddings(spark, graft.TestSpark.Sf0001)
    val streamed = StreamingQueries.embeddingHealthStream(spark, embs)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.SimilaritySearch.embeddingHealth(embs)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("s40 incremental index maintenance == s39 from-scratch rebuild (value-identical serve)") {
    // the s40 contract: because every stored relation is row-grain or an
    // exact integer partial sum, the incrementally-maintained indexes
    // answer EXACTLY like a from-scratch build — same fixture through
    // both cores must match row-for-row, across a compaction boundary
    // (compactEvery=2 folds mid-stream) and without one (compactEvery
    // beyond the batch count leaves delta-only stores)
    val docs = (0L until 12L).map { i =>
      (i, s"alpha w$i beta w${i % 4} gamma common text body")
    }.toDF("doc_id", "text")
    val emb = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => (((i * 7 + d * 3) % 11) - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val rebuild = StreamingQueries.hybridServeStream(spark, docs, emb,
      benchMod = 3, listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2)
      .collect().toSeq
    for (ce <- Seq(2, 100)) {
      val inc = StreamingQueries.incrementalIndexServe(spark, docs, emb,
        benchMod = 3, listK = 4, k0 = 60, k = 3, nLists = 8, nProbe = 2,
        compactEvery = ce).collect().toSeq
      assert(inc == rebuild,
        s"incremental (compactEvery=$ce) diverged from rebuild:\n" +
          s"inc:     $inc\nrebuild: $rebuild")
    }
  }

  test("bm25 serve IN-list boundary: literal-IN and semi-join routes are value-identical") {
    // the BmInMaxTerms switch must be a pure PLAN choice: forcing the
    // fallback (cap 0 — every token set overflows) must serve the same
    // rows as the literal-IN route (cap high enough for everything)
    val docs = (0L until 12L).map { i =>
      (i, s"alpha w$i beta w${i % 4} gamma common text body")
    }.toDF("doc_id", "text")
    def run(cap: Int) = {
      val work = Files.createTempDirectory(s"bm25_route_$cap").toString
      val tf = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
        .localCheckpoint()
      val dfRel = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val stats = tf.groupBy("doc_id").agg(max("dl").as("dl"))
        .agg(count(lit(1)), sum("dl")).collect()(0)
      val (n, sumDl) = (stats.getLong(0), stats.getLong(1))
      val b = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("query_id"), col("text"))
      StreamingQueries.bm25BatchRank(spark, b, tf, dfRel, n,
          sumDl.toDouble / n, k = 3, inMaxTerms = cap)
        .orderBy("query_id", "rnk").collect().toSeq
    }
    val viaIn = run(1 << 20)
    val viaSemi = run(0)
    assert(viaIn.nonEmpty, "route-identity check is vacuous")
    assert(viaIn == viaSemi,
      s"IN and semi-join routes diverged:\nin:   $viaIn\nsemi: $viaSemi")
  }
}
