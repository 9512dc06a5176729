package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The developer tool: run the registry entries picked by name prefix and
  * show one thing about each.
  *
  * `runMain graft.Tool <time|explain|show|stages> <prefix>...`
  *  - `time`: [[Bench]]'s warmup and noop-write timing with its repeat
  *    protocol (`SPARK_GRAFT_BENCH_RUNS`, default 3): every run time
  *    (first = coldest), median and min.
  *  - `explain`: the formatted physical plan — the evidence for the
  *    plan-audit loop the operators are held to (pushdown reaching the
  *    scan, partial aggregation before exchanges, broadcasts on small
  *    sides, no unplanned cartesians); the assertions live in the specs.
  *  - `show`: the first 50 result rows (the correctness gate is
  *    [[Verify]] and the DuckDB oracle).
  *  - `stages`: every stage's shuffle write (bytes and records), wall and
  *    summed task time, and callsite, sorted by wall so the top line is
  *    the bottleneck — it names the stage behind a super-linear
  *    [[ScaleCheck]] total.
  *
  * No prefix selects every entry; a prefix that matches no entry is an
  * error. Fixtures come from `SPARK_GRAFT_SF_DIR` (default sf0.001). */
object Tool {
  type Entry = (SparkSession, String) => DataFrame

  private val Commands = Seq("time", "explain", "show", "stages")

  def main(args: Array[String]): Unit = {
    val (cmd, entries) = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = session()
    try run(spark, sfDir, cmd, entries) finally spark.stop()
  }

  /** The subcommand and the entries its prefixes select; checked before
    * any session is built. */
  private[graft] def parse(args: Seq[String]): (String, Seq[(String, Entry)]) = {
    val cmd = args.headOption.getOrElse("")
    require(Commands.contains(cmd),
      s"unknown subcommand '$cmd'; usage: Tool <${Commands.mkString("|")}> <prefix>...")
    (cmd, select(args.tail))
  }

  /** The registry entries whose names start with one of `prefixes` (all
    * of them when none is given), sorted by name. A prefix that matches
    * no entry is an error, not an empty selection. */
  private[graft] def select(prefixes: Seq[String]): Seq[(String, Entry)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val unmatched = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
    require(unmatched.isEmpty,
      s"no registry entry matches prefix ${unmatched.mkString(", ")}")
    all.filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
  }

  /** The developer session: [[GraftSession.local]] plus diagnostic
    * overrides from `SPARK_GRAFT_CONF` (`key=value;key=value`). E.g.
    * `spark.sql.autoBroadcastJoinThreshold=-1` measures what a 1×
    * baseline would shuffle if its broadcasts were exchanges — the honest
    * denominator for a k× rows ratio whose k× side outgrew the broadcast
    * threshold; `spark.sql.shuffle.partitions=128` gives bounded-heap
    * runs smaller partitions per concurrent task. */
  private[graft] def session(): SparkSession = {
    val spark = GraftSession.local()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark
  }

  private def run(spark: SparkSession, sfDir: String, cmd: String,
                  entries: Seq[(String, Entry)]): Unit = {
    def eachShown(show: DataFrame => Unit): Unit = entries.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try show(fn(spark, sfDir))
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    cmd match {
      case "explain" => eachShown(_.explain("formatted"))
      case "show" => eachShown(_.show(50, false))
      case "time" =>
        Bench.warmup(spark, sfDir)
        entries.foreach { case (name, fn) =>
          Bench.timeRuns(spark, sfDir, fn) match {
            case Left(err) => println(s"$name  FAILED: $err")
            case Right(secs) =>
              val sorted = secs.sorted
              println(f"$name%-28s runs=[${secs.map(s => f"$s%.2f").mkString(" ")}] " +
                f"median=${sorted(sorted.size / 2)}%.2f min=${sorted.head}%.2f s")
          }
        }
      case "stages" =>
        val profile = StageProfile.attach(spark)
        entries.foreach { case (name, fn) =>
          println(s"== $name on $sfDir ==")
          val (sec, w) = profile.measure(Bench.timeEntry(spark, sfDir, fn))
          sec match {
            case Left(err) => println(s"FAILED: $err")
            case Right(s) => println(f"total wall: $s%.2fs")
          }
          w.stages.sortBy(-_.wallMs).foreach { st =>
            if (st.shuffleBytes > 0 || st.wallMs > 200)
              println(f"stage ${st.id}%4d wall=${st.wallMs / 1000.0}%7.2fs " +
                f"tasks=${st.taskMs / 1000.0}%8.2fs ${st.shuffleBytes / 1048576.0}%10.2fMB " +
                f"${st.shuffleRecords}%12d rows  ${st.name}")
          }
        }
    }
  }
}
