package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up validation: materialize a k×-replicated copy of a
  * fixture dir (deterministic — shard-indexed re-keying, no RNG), then
  * run named registry entries against BOTH dirs and report wall time and
  * total shuffle-write bytes for each. A plan that "would survive a
  * 100× scale-up" must show ≤ ~linear growth here; anything
  * super-linear names the operator to fix.
  *
  * `runMain graft.ScaleCheck /root/testdata/sf0.1 /tmp/graft_scale10 10 s09 x06 ...`
  *
  * A `cliques:` prefix on k (e.g. `cliques:10`) switches the documents
  * table to word-ROTATED replicas instead of suffixed ones: rotation
  * preserves the cyclic shingle set, so every replica family is a
  * k-member near-dup clique — the corpus-boilerplate pathology, kept on
  * purpose as the stress fixture for df-capped candidate generation
  * (x57 vs x17).
  *
  * Scaling semantics per table (shard 0 is the identity, so the 1× data
  * is a subset of the k× data):
  *  - events:     users and event ids re-keyed per shard (shard s adds
  *                s·10⁸) with ts jittered by s·1009 ms — same 30-day
  *                window at k× the event rate and k× the users, i.e. a
  *                bigger deployment, not a longer one.
  *  - documents:  doc_id re-keyed; every word of shard s > 0 carries a
  *                `qs` suffix (alphanumeric on purpose: a `_s` suffix
  *                splits back apart under the `[a-z0-9]+` tokenizer the
  *                retrieval family uses, silently re-welding the shard
  *                vocabularies), so shards share NO shingles AND no
  *                regexp tokens: the k× corpus
  *                has k× the near-dup groups at the SAME group sizes —
  *                the honest linear-scaling workload. (A first attempt
  *                rotated the word order instead; rotation preserves the
  *                cyclic n-gram set, which welded every replica family
  *                into a k-clique and measured the mass-dup pathology,
  *                not the scale-up — that pathology is real but is x57's
  *                subject, not this harness's.)
  *  - embeddings: vec_id re-keyed; each dimension deterministically
  *                perturbed per shard so vectors are distinct.
  *  - lineitem/orders: order keys re-keyed per shard (join fan-out and
  *                group count scale by k; per-key group size stays put).
  *  - all other parquet tables: copied as-is (dimension-sized).
  */
object ScaleCheck {
  private val Shift = 100000000L

  private[graft] def scaleDir(s: SparkSession, src: String, dst: String, k: Int,
                              cliques: Boolean): Unit = {
    // the marker records WHAT was built, not just that something was:
    // re-running against the same dst with a different k or cliques mode
    // must rebuild (or the harness would silently benchmark stale data
    // and report wrong ratios)
    val done = new java.io.File(s"$dst/_SCALE_DONE")
    // v2: the shard suffix must stay inside [a-z0-9] — "word_3" splits
    // back into "word","3" under the regexp tokenizer the retrieval
    // family uses, silently re-welding the "disjoint" shard vocabularies
    // (measured: 53% of 10× tokens matched the 1× query vocabulary).
    // v3: the suffix is `qzq$i`, not `q$i` — a base token that happens
    // to end in q<digits> (e.g. 'xq3') is identical to shard 3's
    // suffixed form of 'x', partially re-welding shard vocabularies;
    // the build asserts no base token can collide with the sentinel.
    val sig = s"v3 k=$k src=$src cliques=$cliques"
    if (done.exists()) {
      val recorded = java.nio.file.Files.readString(done.toPath).trim
      if (recorded == sig) return
      println(s"_SCALE_DONE mismatch at $dst: recorded '$recorded', " +
        s"want '$sig' — rebuilding")
      done.delete()
    }
    new java.io.File(dst).mkdirs()

    def shards(df: DataFrame)(rekey: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => rekey(df, i)).reduce(_ unionAll _)

    val ev = Tables.events(s, src) // µs timestamps regardless of source precision
    // ts may surface as TIMESTAMP or TIMESTAMP_NTZ depending on how the
    // fixture was written; session tz is UTC so the cast round-trip is
    // value-preserving, and casting back keeps the 1× schema
    val tsType = ev.schema("ts").dataType
    shards(ev) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * Shift))
        .withColumn("user_id", col("user_id") + lit(i * Shift))
        .withColumn("ts", timestamp_micros(
          unix_micros(col("ts").cast("timestamp")) + lit(i * 1009000L)).cast(tsType))
    }.write.mode("overwrite").parquet(s"$dst/events.parquet")

    val docs = Tables.documents(s, src)
    // the suffix sentinel must be impossible as a base-word tail, or a
    // natural token like 'xqzq3' would equal shard 3's suffixed 'x' and
    // partially re-weld the shard vocabularies — assert, don't hope
    val colliding = docs.filter(col("text").rlike("(^|\\s)\\S*qzq[0-9]+(\\s|$)")).count()
    require(colliding == 0,
      s"$colliding base documents contain a token ending in the shard sentinel qzq<digits>; " +
        "pick a different sentinel or the k-x vocabularies re-weld")
    shards(docs) { (d, i) =>
      val t =
        if (i == 0) col("text")
        else if (cliques) { // rotate: replicas stay near-dups (k-cliques)
          val w = split(col("text"), "\\s+")
          val r = pmod(lit(7 * i), greatest(size(w), lit(1)))
          concat_ws(" ", concat(slice(w, r + 1, size(w)), slice(w, lit(1), r)))
        } else concat_ws(" ", transform(split(col("text"), "\\s+"),
                 x => concat(x, lit(s"qzq$i")))) // alnum suffix: one token under BOTH tokenizers
      d.withColumn("doc_id", col("doc_id") + lit(i * Shift))
        .withColumn("text", t)
    }.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = Tables.embeddings(s, src)
    shards(emb) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * Shift))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> cast(x * (1.0d + 0.003d * ((($i * 31 + j) % 7) - 3)) as float))"))
    }.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    shards(Tables.lineitem(s, src)) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * Shift))
    }.write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    shards(Tables.orders(s, src)) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * Shift))
    }.write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val scaled = Set("events", "documents", "embeddings", "lineitem", "orders")
    new java.io.File(src).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !scaled.contains(f.getName.stripSuffix(".parquet")))
      .foreach { f =>
        val out = new java.io.File(dst, f.getName).toPath
        if (f.isDirectory) { // partitioned table: copy tree
          val srcP = f.toPath
          java.nio.file.Files.walk(srcP).forEach { p =>
            val t = out.resolve(srcP.relativize(p))
            if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
            else java.nio.file.Files.copy(p, t,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        } else java.nio.file.Files.copy(f.toPath, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    java.nio.file.Files.writeString(done.toPath, sig + "\n")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1)
    val cliques = args(2).startsWith("cliques:")
    val k = args(2).stripPrefix("cliques:").toInt
    val entries = Tool.select(args.drop(3).toSeq)
    val spark = Tool.session()

    scaleDir(spark, src, dst, k, cliques)

    // stage-level shuffle-write accounting, bytes AND records: bytes are
    // post-compression, so a synthetic fixture whose k-x vocabulary
    // compresses worse than the 1x one (the suffixed-word corpus)
    // inflates the byte ratio while the ROW ratio stays honest — report
    // both, diagnose on rows
    val profile = StageProfile.attach(spark)
    // NO scan-bytes column (r15): both candidate counters were
    // calibrated against known parquet sizes and found blind to this
    // build's local vectorized scans — stage
    // taskMetrics.inputMetrics.bytesRead AND Hadoop's global
    // file-scheme statistics each reported ~0 for j01 over an 11 MB
    // lineitem — so a scan-bytes column would mislead. Layout
    // experiments that claim scan-byte effects must argue from
    // partition-pruning fractions computed on the DATA (the s36 DPP
    // A/B did: every batch touches 31/31 prefix partitions).
    // per-batch streaming-state accounting for the s* entries: state
    // rows are the quantity plan-shape reasoning can't predict, so the
    // harness reports the PEAK across the entry's micro-batches
    val stateListener = new graft.streaming.PipelineMetrics.MetricsListener
    spark.streams.addListener(stateListener)
    def measure(fn: (SparkSession, String) => DataFrame, dir: String): (Double, Long, Long, Long) = {
      val n0 = stateListener.batches.size
      val (sec, w) = profile.measure(Bench.timeEntry(spark, dir, fn)
        .fold(err => { println(s"  FAILED: $err"); Double.NaN }, identity))
      val peakState = stateListener.batches.drop(n0)
        .foldLeft(0L)((m, b) => math.max(m, b.state_rows))
      (sec, w.shuffleBytes, w.shuffleRecords, peakState)
    }

    Bench.warmup(spark, src)
    println(f"${"entry"}%-28s ${"t_1x"}%8s ${"t_kx"}%8s ${"ratio"}%6s ${"shfl_1x"}%10s ${"shfl_kx"}%10s ${"shfl_r"}%6s ${"rows_r"}%6s ${"st_1x"}%9s ${"st_kx"}%9s")
    entries.foreach { case (name, fn) =>
      val (t1, s1, r1, st1) = measure(fn, src)
      val (tk, sk, rk, stk) = measure(fn, dst)
      val mb = (b: Long) => f"${b / 1048576.0}%.1fM"
      println(f"$name%-28s $t1%8.2f $tk%8.2f ${tk / t1}%6.2f ${mb(s1)}%10s ${mb(sk)}%10s ${if (s1 > 0) f"${sk.toDouble / s1}%6.2f" else "   n/a"} ${if (r1 > 0) f"${rk.toDouble / r1}%6.2f" else "   n/a"} $st1%9d $stk%9d")
    }
    // driver memory posture: sum of per-pool heap peaks — an UPPER
    // BOUND, not concurrent usage: G1 trades regions between eden/old
    // over time, so the pool peaks need not coexist and the sum can
    // exceed -Xmx (measured: "20.3 GB peak" under a 16 GB heap, r11) —
    // and the GC only collects under pressure, so the bound tracks
    // WHATEVER heap it was given, not what the workload needs. Print
    // -Xmx next to it so the bound reads as a bound; the real
    // requirement claim is a bounded-heap run (SPARK_DRIVER_MEM=8g)
    // completing without OOM.
    val peakHeap = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
    }
    val xmx = Runtime.getRuntime.maxMemory
    println(f"driver peak heap: ${peakHeap / 1048576.0}%.0f MB " +
      f"(sum of pool peaks — upper bound; -Xmx ${xmx / 1048576.0}%.0f MB)")
    spark.stop()
  }
}
