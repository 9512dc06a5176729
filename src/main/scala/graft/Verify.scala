package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated entry-name prefixes — run (and
    // dump oracle SQL for) just those entries, for fast local iteration.
    // The driver always calls with two args = the full registry.
    val prefixes = args.drop(2).headOption.map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Registry contract: entries READ the fixture dir, never write it —
    // side-effectful entries (m03/m04, g01/g02, s27-s29, store entries)
    // must use their own temp dirs. Snapshot before, compare after: the
    // contract is enforced on every full verify run, over every entry.
    def fixtureState(): Map[String, (Long, Long)] = {
      val root = Paths.get(sfDir)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala
          .map(p => root.relativize(p).toString ->
            (if (Files.isDirectory(p)) (0L, 0L)
             else (Files.size(p), Files.getLastModifiedTime(p).toMillis)))
          .toMap
        finally s.close()
      }
    }
    val before = fixtureState()
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Bench.releaseScratchBlocks(spark) // drop per-entry scratch
    }
    val after = fixtureState()
    if (after != before) {
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      System.err.println(
        s"[verify] REGISTRY CONTRACT VIOLATION: fixture dir mutated: " +
          changed.toSeq.sorted.take(20).mkString(", "))
      sys.exit(3) // loud: a silent fixture mutation poisons every later round
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
