package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the registry itself. The registry is
  * assembled by concatenating seven per-module lists and collapsing to a
  * Map — a DUPLICATE name would silently drop an entry (the Map keeps
  * the last), and the driver's correctness gate would simply never see
  * the shadowed operator. These guards make registration mistakes loud
  * at test time instead of invisible at judge time. */
class RegistrySpec extends AnyFunSuite {

  test("registry names are unique — nothing is silently shadowed by toMap") {
    // re-assemble the same concatenation queries/oracleSql collapse from
    val names = Seq(
      graft.queries.ReferenceQueries.all.map(_._1),
      graft.queries.ReferenceQueries.allNoOracle.map(_._1),
      graft.queries.TpchQueries.all.map(_._1),
      graft.queries.ExtendedQueries.all.map(_._1),
      graft.queries.CurationQueries.all.map(_._1),
      graft.streaming.StreamingQueries.all.map(_._1),
      graft.queries.InfraQueries.all.map(_._1),
      graft.streaming.PipelineMetrics.all.map(_._1)).flatten
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate registry names shadow entries: $dups")
    assert(names.size == SparkEntry.queries.size,
      "queries map lost entries relative to the concatenated registry")
  }

  test("every oracle belongs to a registered query and names follow the convention") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    val pattern = "^[a-z]\\d{2}[a-z0-9_]*$".r
    val bad = qs.filterNot(n => pattern.matches(n))
    assert(bad.isEmpty, s"names outside the <letter><2 digits>_<slug> convention: $bad")
  }

  test("registry hygiene: caveats name real entries; every rows-only entry has a live backing spec") {
    val qs = SparkEntry.queries.keySet
    // every served scale caveat must point at a registered entry —
    // a renamed entry must not leave a dangling hint on /entries
    val danglingCaveats = SparkEntry.scaleCaveats.keySet -- qs
    assert(danglingCaveats.isEmpty,
      s"scaleCaveats for unregistered entries: $danglingCaveats")
    // the rows-only set (no SQL oracle) must be exactly the keys of
    // rowsOnlySpecs: an unmapped rows-only entry has no machine-checked
    // correctness claim; a stale key points at a removed/renamed entry
    val rowsOnly = qs -- SparkEntry.oracleSql.keySet
    val unmapped = rowsOnly -- SparkEntry.rowsOnlySpecs.keySet
    assert(unmapped.isEmpty,
      s"rows-only entries with no named backing spec: $unmapped")
    val stale = SparkEntry.rowsOnlySpecs.keySet -- rowsOnly
    assert(stale.isEmpty,
      s"rowsOnlySpecs keys that are not rows-only registry entries: $stale")
    // and every named (file, fragment) must exist: the file under
    // src/test/scala/graft/ and the fragment inside a test("...") name
    val testRoot = java.nio.file.Paths.get("src/test/scala/graft")
    assert(java.nio.file.Files.isDirectory(testRoot),
      s"test root not found from cwd ${System.getProperty("user.dir")}")
    SparkEntry.rowsOnlySpecs.foreach { case (entry, (file, fragment)) =>
      val p = testRoot.resolve(file)
      assert(java.nio.file.Files.isRegularFile(p),
        s"$entry: backing spec file $file does not exist")
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      assert(src.contains(fragment),
        s"$entry: fragment '$fragment' not found in $file")
    }
  }

  test("scale-evidence totality: every entry has a COVERAGE.md scale-table row or a served caveat") {
    // the third leg of the registry/docs drift guard (r12 added
    // caveat/spec totality): a registry entry with NO measured scale
    // row and NO served caveat is an unexamined 100 TB claim. Cited
    // means the entry leads a markdown table row in COVERAGE.md,
    // either by full name or by the bare prefix older tables use
    // ("s09" for s09_stream_dedup).
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val cell = "(?m)^\\|\\s*\\**([a-z][a-z0-9_]*)".r
    val cited = cell.findAllMatchIn(cov).map(_.group(1)).toSet
    def covered(n: String) = cited(n) || cited(n.split("_").head)
    val missing = (SparkEntry.queries.keySet -- SparkEntry.scaleCaveats.keySet)
      .filterNot(covered)
    assert(missing.isEmpty,
      s"registry entries with neither a COVERAGE scale row nor a caveat: " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("COVERAGE.md header is current-first: the live entry count appears in the first 10 lines and equals the registry") {
    // VERDICT r19 task 8: the canonical decision table must read
    // current-first — a header opening with a years-old count sends
    // every reader to the wrong baseline. Enforced, not hoped: the
    // header's bold entry count must equal SparkEntry.queries.size.
    val head = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
      .linesIterator.take(10).mkString("\n")
    val n = SparkEntry.queries.size
    assert(head.contains(s"**$n registry entries**"),
      s"COVERAGE.md header must state the CURRENT registry size " +
        s"($n entries) in its first 10 lines — update the status block")
  }

  test("mechanism guard: at most 6 mains, one SparkListener, no global ExecutionContext in src/main") {
    // the driver-side tooling once grew to 12 mains, four private
    // listeners and three fan-out mechanisms, one copy at a time; each
    // count below is a place new tooling must reuse instead
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found from cwd ${System.getProperty("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    val sources = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
        root.relativize(p).toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      }.toSeq
    } finally walk.close()
    def where(pattern: String): Seq[String] = sources.flatMap { case (f, src) =>
      pattern.r.findAllMatchIn(src).map(_ => f)
    }
    val mains = where("""\bdef\s+main\s*\(""")
    assert(mains.size <= 6, s"${mains.size} main objects (at most 6): ${mains.sorted.mkString(", ")}")
    val listeners = where("""\b(extends|new|with)\s+SparkListener\b""")
    assert(listeners.size == 1,
      s"expected the one SparkListener (StageProfile), found: ${listeners.sorted.mkString(", ")}")
    val globalEc = where("""ExecutionContext\.Implicits\.global""")
    assert(globalEc.isEmpty, s"ExecutionContext.Implicits.global in: ${globalEc.mkString(", ")}")
  }

  test("oracle SQL strings are non-empty and DuckDB-shaped (no Spark-only syntax)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // cheap lints for the two drifts that have bitten: Spark interval
      // literal syntax and unaliased aggregates are the usual suspects —
      // the full check is the driver's DuckDB run; these catch paste-os
      assert(!sql.contains("timestamp_micros("),
        s"$name: Spark-only function in oracle SQL")
      assert(!sql.toLowerCase.contains("interval 1 minutes"),
        s"$name: Spark interval plural in DuckDB SQL")
    }
  }

  test("flagship entry returns rows on sf0.001 (the driver smoke check)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("x12 fixture boundary: documents text is ASCII (oracle parity precondition)") {
    // the x12 oracle computes lanes from DuckDB code points at 1-based
    // CHAR positions while the Spark side folds UTF-8 BYTES at byte
    // positions — parity holds only while the fixture corpus is ASCII
    // (code point == byte, char index == byte index). Assert the
    // invariant AT the fixture boundary so a future non-ASCII fixture
    // fails here with a clear message instead of as an opaque x12 hash
    // diff (ADVICE r15).
    import org.apache.spark.sql.functions.col
    val nonAscii = Tables.documents(TestSpark.spark, TestSpark.Sf0001)
      .filter(!col("text").rlike("^[\\x00-\\x7F]*$"))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii documents contain non-ASCII text: the x12 oracle's " +
        "unicode()/substr() lane math no longer matches the Spark side's " +
        "UTF-8 byte folds — regenerate the fixture or split x12 into a " +
        "bytes-only core")
  }
}
