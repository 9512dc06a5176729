package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, SqlGateway}
import graft.gen.EventGenerator
import graft.store.EventStore
import graft.streaming.{AnomalyDetector, ClickPipeline}

/** The system-under-test side of the benchmark: one JVM, one fixed
  * `local[k]` session, one workload. It calls the program only through
  * its public entry points.
  *
  * Protocol with `run.py` (the load process): arguments are `key=value`;
  * the harness prints `READY <port>` once set-up is done. `replay` then
  * warms up and measures on its own; `live` serves until a `STOP` line
  * arrives on stdin. Either way the harness writes `result.json` (and,
  * traced, `spans.jsonl`) into its work directory, prints `DONE` and ends
  * its JVM explicitly. */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val h = new Harness(conf)
    try h.run()
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.out.flush()
        // the gateway's request pool is non-daemon: end the JVM explicitly
        Runtime.getRuntime.halt(2)
    }
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Warm-up rule for replay: stop once the last three repetitions lie
    * within 5% of each other, or the warm-up budget is spent. A replay
    * keeps getting faster for several repetitions (JIT), and a looser
    * rule stopped inside that trend. */
  def settled(times: Seq[Double], elapsedS: Double, maxS: Double): Boolean =
    elapsedS >= maxS || (times.size >= 3 && {
      val last = times.takeRight(3)
      last.max <= 1.05 * last.min
    })

  def sessionStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** The trigger interval of both `live` streams. */
  val Trigger = "1 second"

  /** The operator and curation layer's entry, run once in a traced
    * `live` run: the lightest of the heavy oracle-backed release entries. */
  val ReleaseEntry = "x106_release_pipeline"
}

final class Harness(conf: Map[String, String]) {
  private val workload = conf("workload")
  private val work = new File(conf("work")).getAbsolutePath
  private val fixtures = conf.get("fixtures").map(new File(_).getAbsolutePath).getOrElse("")
  private val seed = conf("seed").toLong
  private val seconds = conf("seconds").toDouble
  private val traced = conf.getOrElse("trace", "0") == "1"
  private val cores = conf("cores").toInt
  private val warmMaxS = conf("warm_max_s").toDouble

  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val progress = new Progress
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]
  private var sessionStartS = 0.0
  private var jvm0: Jvm.Snapshot = _

  private def now(): Long = System.currentTimeMillis()

  /** Run `body` as one named span inside job group `group`. */
  private def span(name: String, op: String, parent: String, group: String)(body: => Unit): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name)
    val t0 = now()
    val n0 = System.nanoTime()
    try {
      body
      (System.nanoTime() - n0) / 1e9
    } finally {
      sc.clearJobGroup()
      spans.add(Map("name" -> name, "start" -> t0, "end" -> now(), "parent" -> parent, "op" -> op))
    }
  }

  def run(): Unit = {
    new File(work).mkdirs()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    spark = GraftSession.configure(builder, cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(progress)
    if (traced) spark.sparkContext.addSparkListener(tracer)
    sessionStartS = Harness.sessionStartS
    workload match {
      case "replay" => replay()
      case "live" => live()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    println("DONE")
  }

  private def ready(port: Int): Unit = {
    println(s"READY $port")
    System.out.flush()
  }

  private def finish(result: Map[String, Any]): Unit = {
    val out = result ++ Map(
      "session_start_s" -> sessionStartS,
      "traced" -> traced)
    Files.write(Paths.get(work, "result.json"), Json.render(out).getBytes(UTF_8))
    if (traced) {
      val pw = new PrintWriter(new File(work, "spans.jsonl"), "UTF-8")
      try (spans.asScala.toSeq ++ tracer.jobSpans).foreach(s => pw.println(Json.render(s)))
      finally pw.close()
    }
  }

  /** Usage of every job whose group, or the stream it belongs to, is `label`. */
  private def usageOf(label: String): Usage =
    tracer.usage(g => progress.labelOf(g) == label)

  private def usageMap(u: Usage): Map[String, Any] = Map(
    "jobs" -> u.jobs, "tasks" -> u.tasks, "task_s" -> u.taskS,
    "shuffle_bytes" -> u.shuffleBytes, "wall_s" -> u.wallS)

  private def batchMaps(label: String): Seq[Map[String, Any]] = progress.of(label).map { b =>
    Map("batch" -> b.batchId, "start" -> b.startMs, "trigger_ms" -> b.triggerMs,
        "rows" -> b.rows, "state_rows" -> b.stateRows, "state_commit_ms" -> b.stateCommitMs,
        "watermark_ms" -> b.watermarkMs, "durations" -> b.durations)
  }

  // ---------------------------------------------------------------- replay

  /** One replay of the staged batch through the whole spine, from fresh
    * directories: AvailableNow user-grain window into a checkpointed sink,
    * the minute rollup, the anomaly detector and the raw-event store. */
  private def replayOp(i: Int, staged: String): (Double, Map[String, Double]) = {
    val d = s"$work/replay/op$i"
    val op = s"op$i"
    val session = spark
    import session.implicits._
    progress.nextLabel = s"spine-$i"
    val spineS = span("spine", op, op, s"spine-$i") {
      ClickPipeline.runAppendParquet(
        ClickPipeline.minuteUserGrain(ClickPipeline.withEventTime(
          ClickPipeline.fromJsonDir(spark, staged))),
        s"$d/grain", s"$d/checkpoint")
    }
    val rollupS = span("rollup", op, op, s"rollup-$i") {
      ClickPipeline.minuteAggFromUserGrain(spark.read.parquet(s"$d/grain"))
        .write.parquet(s"$d/agg")
    }
    val anomalyS = span("anomaly", op, op, s"anomaly-$i") {
      AnomalyDetector.detect(spark.read.parquet(s"$d/agg")
        .select(unix_millis(col("window_start")).as("window_start_ms"),
                col("page"), col("country"), col("cnt"))
        .as[AnomalyDetector.AggRow])
        .write.parquet(s"$d/anomalies")
    }
    val storeS = span("store", op, op, s"store-$i") {
      EventStore.write(ClickPipeline.parse(spark.read.text(staged)), s"$d/warehouse")
    }
    (spineS + rollupS + anomalyS + storeS,
     Map("spine" -> spineS, "rollup" -> rollupS, "anomaly" -> anomalyS, "store" -> storeS))
  }

  private def replay(): Unit = {
    val n = conf("events").toLong
    val staged = s"$work/staged"
    val stageS = span("gen.stage", "setup", "setup", "stage") {
      EventGenerator.events(spark, n, seed).toJSON.write.text(staged)
    }
    ready(0)
    val (warm, warmS) = repeatUntilSettled(i => replayOp(i, staged)._1)
    warm.indices.foreach(i => deleteTree(new File(s"$work/replay/op$i")))
    jvm0 = Jvm.snapshot()
    val ops = Seq.newBuilder[(Int, Double, Map[String, Double])]
    val t0 = System.nanoTime()
    var i = warm.size
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (s, phases) = replayOp(i, staged)
      ops += ((i, s, phases))
      if ((System.nanoTime() - t0) / 1e9 < seconds) deleteTree(new File(s"$work/replay/op$i"))
      i += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val jvm = Jvm.since(jvm0)
    val done = ops.result()
    BenchBridge.drain(spark.sparkContext)
    val last = done.last._1
    val layers: Map[String, Any] = if (!traced) Map.empty else {
      val measured = done.map(_._1).toSet
      def perOp(kind: String): Seq[Map[String, Any]] = measured.toSeq.sorted.map { j =>
        usageMap(usageOf(s"$kind-$j")) }
      Map("stage" -> usageMap(usageOf("stage")),
          "spine" -> perOp("spine"), "rollup" -> perOp("rollup"),
          "anomaly" -> perOp("anomaly"), "store" -> perOp("store"),
          "batches" -> measured.toSeq.sorted.flatMap(j => batchMaps(s"spine-$j")),
          "store_bytes" -> treeBytes(s"$work/replay/op$last/warehouse", ".parquet"),
          "store_files" -> treeFiles(s"$work/replay/op$last/warehouse", ".parquet"),
          "staged_files" -> treeFiles(staged, ".txt"))
    }
    finish(Map(
      "gen_stage_s" -> stageS, "warmup_s" -> warmS, "warm_ops" -> warm.size,
      "window_s" -> windowS, "events" -> n, "jvm" -> jvm,
      "ops" -> done.map { case (j, s, ph) => Map("op" -> j, "s" -> s, "phases" -> ph) },
      "staged" -> staged, "output" -> s"$work/replay/op$last", "layers" -> layers))
  }

  private def repeatUntilSettled(op: Int => Double): (Seq[Double], Double) = {
    val t0 = System.nanoTime()
    var times = Vector.empty[Double]
    while (!Harness.settled(times, (System.nanoTime() - t0) / 1e9, warmMaxS))
      times :+= op(times.size)
    (times, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------------ live

  private def live(): Unit = {
    SqlGateway.register(spark, fixtures)
    val gw = SqlGateway.serve(spark, 0, defaultTimeoutSec = 120, entriesDir = Some(fixtures))
    val inbox = s"$work/inbox"
    new File(inbox).mkdirs()
    progress.nextLabel = "raw"
    val raw = ClickPipeline.startContinuous(ClickPipeline.fromJsonDir(spark, inbox),
      s"$work/raw", s"$work/checkpoints/raw", Harness.Trigger)
    progress.nextLabel = "agg"
    val agg = ClickPipeline.startContinuous(
      ClickPipeline.minuteUserGrain(ClickPipeline.withEventTime(
        ClickPipeline.fromJsonDir(spark, inbox))),
      s"$work/agg", s"$work/checkpoints/agg", Harness.Trigger)
    ready(gw.port)
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var cmd = in.readLine()
    while (cmd != null && cmd.startsWith("MARK")) {
      // the load process marks the start of its measuring window
      jvm0 = Jvm.snapshot()
      cmd = in.readLine()
    }
    val jvm = if (jvm0 == null) Map.empty[String, Any] else Jvm.since(jvm0)
    // `STOP <ms>`: the writer's last event (a watermark marker) was
    // created at <ms>; wait until the aggregate stream's watermark has
    // passed every window before it, then stop both streams cleanly.
    val marker = Option(cmd).map(_.split(" ")).filter(_.length > 1).map(_(1).toLong)
    marker.foreach { ms =>
      val deadline = System.nanoTime() + 60e9.toLong
      while (!progress.of("agg").exists(_.watermarkMs >= ms - 10000L) &&
             System.nanoTime() < deadline) Thread.sleep(20)
    }
    Seq(raw, agg).foreach(q => ClickPipeline.stopWhenIdle(q, 60000L))
    gw.stop()
    val release = if (traced) releasePass() else Map.empty[String, Any]
    BenchBridge.drain(spark.sparkContext)
    val layers: Map[String, Any] = if (!traced) Map.empty else Map(
      "requests" -> tracer.groups.filter(_.startsWith("gateway-entry-")).map { g =>
        val u = tracer.usage(_ == g)
        Map("group" -> g, "entry" -> tracer.descOf(g).stripPrefix("/entries/"),
            "first_start" -> u.firstStart, "last_end" -> u.lastEnd) ++ usageMap(u)
      },
      "raw_usage" -> usageMap(usageOf("raw")),
      "agg_usage" -> usageMap(usageOf("agg")),
      "release" -> release)
    finish(Map(
      "jvm" -> jvm,
      "oracle" -> SparkEntry.oracleSql.filter { case (name, _) =>
        name.matches("q(0[1-9]|1[0-7])_.*") || name == Harness.ReleaseEntry },
      "batches" -> Map("raw" -> batchMaps("raw"), "agg" -> batchMaps("agg")),
      "layers" -> layers))
  }

  /** One pass of the release entry, executed in full into parquet, in a
    * job group of its own. The pins it leaves are the persistent RDDs
    * that were not there before it; the benchmark does not release them. */
  private def releasePass(): Map[String, Any] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = s"$work/release/${Harness.ReleaseEntry}"
    val s = span(Harness.ReleaseEntry, "release", "release", "release") {
      SparkEntry.queries(Harness.ReleaseEntry)(spark, fixtures).write.parquet(out)
    }
    BenchBridge.drain(sc)
    val pins = sc.getPersistentRDDs.keySet -- before
    val pinBytes = sc.getRDDStorageInfo.filter(i => pins.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    Map("entry" -> Harness.ReleaseEntry, "s" -> s, "output" -> out,
        "pins_left" -> pins.size, "pin_bytes" -> pinBytes) ++ usageMap(usageOf("release"))
  }

  // ------------------------------------------------------------- helpers

  private def walk(dir: String, suffix: String): Seq[java.nio.file.Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toSeq
      finally s.close()
    }
  }
  private def treeBytes(dir: String, suffix: String): Long = walk(dir, suffix).map(Files.size).sum
  private def treeFiles(dir: String, suffix: String): Int = walk(dir, suffix).size

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Process CPU, GC time and peak heap over a measuring window. */
object Jvm {
  final case class Snapshot(cpuNs: Long, gcMs: Long)

  private def os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def snapshot(): Snapshot = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    Snapshot(os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }

  def since(s: Snapshot): Map[String, Any] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("cpu_s" -> (os.getProcessCpuTime - s.cpuNs) / 1e9,
        "gc_ms" -> (ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum - s.gcMs),
        "heap_peak_mb" -> heapPeak / 1048576.0)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case o => render(o.toString)
  }
}
