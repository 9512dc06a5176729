package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions

class SimilaritySearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bruteForceTopK: exact ranks on a hand-checkable set") {
    VectorFunctions.register(spark)
    val items = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val out = SimilaritySearch.bruteForceTopK(items, items.filter(col("vec_id") === 0), k = 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 2)) // cos: 0.994, 0.0, -1.0
  }

  test("lshTopK: recall >= 0.5 vs brute force on the fixture embeddings") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    val approx = pairs(SimilaritySearch.lshTopK(spark, emb, queries, k = 10))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH top-k recall $recall below 0.5")
  }

  test("multi-probe LSH: probes=0 equals lshTopK; probing never loses recall") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // algebraic reduction: zero probes IS single-probe LSH, row-for-row
    val single = rows(SimilaritySearch.lshTopK(spark, emb, queries, k = 10))
    val zeroProbe = rows(SimilaritySearch.lshMultiProbeTopK(
      spark, emb, queries, k = 10, probes = 0))
    assert(zeroProbe == single)
    // probing only ADDS candidates: recall vs exact is monotone in probes
    def pairs(s: Set[(Long, Long, Int)]): Set[(Long, Long)] = s.map(t => (t._1, t._2))
    val exact = pairs(rows(SimilaritySearch.bruteForceTopK(emb, queries, k = 10)))
    val multi = pairs(rows(SimilaritySearch.lshMultiProbeTopK(
      spark, emb, queries, k = 10, probes = 2)))
    val rSingle = (exact intersect pairs(single)).size.toDouble / exact.size
    val rMulti = (exact intersect multi).size.toDouble / exact.size
    assert(rMulti >= rSingle,
      s"multi-probe recall $rMulti below single-probe $rSingle")
    assert(rMulti >= 0.5, s"multi-probe recall $rMulti below 0.5")
  }

  test("s41 probe-amplified serving: recall vs exact is monotone in the serve-time probe count; index untouched") {
    // the x110 recall knob in the DURABLE-INDEX regime: the same
    // cell-partitioned store queried at NProbe vs NProbeWide cells —
    // the wide probe set CONTAINS the narrow one (same cosine-DESC cell
    // ordering, longer prefix), so the candidate sets nest and recall
    // vs the exact x10 baseline is monotone; measured here at the gate
    // fixture so the knob's value is a number, not a claim
    import graft.streaming.StreamingQueries
    import graft.operators.SimilaritySearch.{AnnEval, IvfPqFixed => P}
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < AnnEval.QuerySlice)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = AnnEval.K))
    val narrow = pairs(StreamingQueries.annServeStream(spark, emb, queries,
      k = AnnEval.K, nLists = P.NLists, nProbe = P.NProbe))
    val wide = pairs(StreamingQueries.annServeStream(spark, emb, queries,
      k = AnnEval.K, nLists = P.NLists, nProbe = P.NProbeWide))
    val rNarrow = (exact intersect narrow).size.toDouble / exact.size
    val rWide = (exact intersect wide).size.toDouble / exact.size
    info(s"serve recall@${AnnEval.K}: nProbe=${P.NProbe} -> $rNarrow, " +
      s"nProbe=${P.NProbeWide} -> $rWide")
    assert(rWide >= rNarrow,
      s"probe amplification lost recall: $rWide < $rNarrow")
    assert(rWide >= 0.7, s"wide-probe serve recall $rWide below 0.7")
    // out-of-range probe counts fail loudly
    assertThrows[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeTopK(spark, emb, queries, k = 10, probes = 5)
    }
  }

  test("jlTopK: corpus-covering overfetch IS brute force; rerank cosines exact") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select("query_id", "vec_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val exact = rows(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    // algebraic reduction: an overfetch covering the whole corpus makes
    // the reduced-space cut a no-op — exact output, ranks AND cosines
    val n = emb.count().toInt
    val full = rows(SimilaritySearch.jlTopK(spark, emb, queries, k = 10,
      overfetch = n))
    assert(full == exact)
    // default parameters: the JL candidate cut keeps most true neighbors
    // EVEN on this fixture's hard spectrum (a smooth cosine continuum —
    // rank-10 at 0.255 vs rank-20 at 0.217, gaps far below the JL noise
    // σ ≈ 0.17 at m = 32; near-dup-structured corpora sit at recall ≈ 1),
    // and every returned cosine is the EXACT 64-dim value (rerank never
    // reports a reduced-space score) — any (q, i) pair shared with the
    // exact baseline must carry the identical cosine
    val jl = rows(SimilaritySearch.jlTopK(spark, emb, queries, k = 10))
    val exactCos = exact.map(t => (t._1, t._2) -> t._3).toMap
    jl.foreach { case (q, i, c, _) =>
      exactCos.get((q, i)).foreach(e => assert(e == c,
        s"rerank cosine $c != exact $e for ($q, $i)"))
    }
    val recall = jl.map(t => (t._1, t._2))
      .count(exactCos.contains).toDouble / exact.size
    assert(recall >= 0.7, s"JL m=32 overfetch=10 recall $recall below 0.7")
  }

  test("x128 embeddingScatter: hand-checkable statistics on a 2-vector set") {
    // quantized at 2^20: 1.0 -> 1048576, 0.5 -> 524288, -0.25 -> -262144
    val emb = Seq((0L, Array(1f, 0.5f)), (1L, Array(-0.25f, 1f)))
      .toDF("vec_id", "embedding")
    val rows = SimilaritySearch.embeddingScatter(emb, dim = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val (a, b, c) = (1048576L, 524288L, -262144L)
    assert(rows((0, 0)) == a * a + c * c)         // sum q0*q0
    assert(rows((0, 1)) == a * b + c * a)         // sum q0*q1
    assert(rows((1, 1)) == b * b + a * a)         // sum q1*q1
    assert(rows((0, 2)) == a + c && rows((1, 2)) == b + a) // per-dim sums
    assert(rows((2, 2)) == 2L)                    // count
    assert(rows.size == 6)
  }

  test("pcaTopK: basis orthonormal with descending moments") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val scatter = SimilaritySearch.embeddingScatter(
      emb.select(col("embedding"))).collect()
    val (moments, basis) = SimilaritySearch.pcaBasis(
      scatter, dim = 64, m = 16, quant = SimilaritySearch.PcaFixed.Quant)
    // captured second moments come out of the eigensolve sorted
    moments.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi >= lo - 1e-12, s"moments not descending: $hi then $lo")
    }
    assert(moments.head > 0, "corpus has zero spectral mass")
    // rows are orthonormal (the rotation property the reduced cosine
    // relies on): B·Bᵀ = I up to float-cast tolerance
    for (i <- basis.indices; j <- i until basis.length) {
      val dot = basis(i).zip(basis(j)).map { case (x, y) =>
        x.toDouble * y.toDouble }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-5,
        s"basis rows $i,$j: dot $dot != $want")
    }
  }

  test("pcaTopK: corpus-covering overfetch IS brute force; recall beats JL at equal m") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    // the same algebraic reduction jlTopK pins: full overfetch = exact
    val n = emb.count().toInt
    assert(pairs(SimilaritySearch.pcaTopK(spark, emb, queries, k = 10,
      overfetch = n)) == exact)
    // the learned basis must not lose to the random ±1 map at the SAME
    // reduced width (PCA captures the corpus's actual spectral mass;
    // JL at m = 16 carries noise σ ≈ √(1/16) ≈ 0.25 against this
    // fixture's 0.04 neighbor gaps)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      pairs(df).count(exact.contains).toDouble / exact.size
    val rPca = recall(SimilaritySearch.pcaTopK(spark, emb, queries, k = 10))
    val rJl = recall(SimilaritySearch.jlTopK(spark, emb, queries, k = 10,
      m = SimilaritySearch.PcaFixed.M))
    info(s"recall@10 at m=16: pca=$rPca jl=$rJl")
    assert(rPca >= rJl, s"PCA recall $rPca below JL $rJl at equal m")
    assert(rPca >= 0.5, s"PCA recall $rPca below 0.5")
  }

  test("pcaIvfTopK: recall >= 0.5 vs brute force; full-probe/full-overfetch degenerates to PCA's own shortlist regime") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    // composed pruning: cells in the principal space + reduced-width
    // rows; recall vs exact must survive both approximations
    val got = pairs(SimilaritySearch.pcaIvfTopK(spark, emb, queries, k = 10))
    val recall = got.count(exact.contains).toDouble / exact.size
    info(s"pca+ivf recall@10: $recall")
    assert(recall >= 0.5, s"pca+ivf recall $recall below 0.5")
    // algebraic reduction: probing EVERY cell with corpus-covering
    // overfetch removes the cell pruning and the shortlist cut — what
    // remains is the principal-space candidate ordering + exact rerank,
    // i.e. at least pcaTopK's recall at the same m
    val n = emb.count().toInt
    val full = pairs(SimilaritySearch.pcaIvfTopK(spark, emb, queries, k = 10,
      overfetch = n, nLists = 4, nProbe = 4))
    assert(full == exact,
      "full-probe, corpus-covering overfetch must be exact (rerank is full-dim)")
  }

  test("x134 probe-amplified pcaIvfTopK: recall curve measured; the wide probe recovers the PCA ceiling, index untouched") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    def recallAt(nProbe: Int): Double = {
      val got = pairs(SimilaritySearch.pcaIvfTopK(spark, emb, queries,
        k = 10, nProbe = nProbe))
      got.count(exact.contains).toDouble / exact.size
    }
    val curve = Seq(6, 8, 10, SimilaritySearch.PcaFixed.NProbeWide)
      .distinct.map(p => p -> recallAt(p))
    info(s"pca+ivf recall@10 by nProbe: ${curve.mkString(", ")}")
    val rNarrow = curve.head._2
    val rWide = curve.last._2
    assert(rWide >= rNarrow,
      s"probe amplification lost recall: $rWide < $rNarrow")
    // the amplified probe must recover the basis's own ceiling: pcaTopK
    // at the same m with the same overfetch (the x129 reduced scan with
    // NO cell pruning) — amplification buys back exactly what the cells
    // cost
    val ceiling = pairs(SimilaritySearch.pcaTopK(spark, emb, queries, k = 10))
      .count(exact.contains).toDouble / exact.size
    info(s"pcaTopK ceiling at same m: $ceiling")
    assert(rWide >= ceiling - 0.05,
      s"wide-probe recall $rWide did not recover the PCA ceiling $ceiling")
    assert(rWide >= 0.85, s"wide-probe recall $rWide below 0.85")
  }

  test("ivfTopK: recall >= 0.5 vs brute force; probes only nProbe cells") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    val ivf = pairs(SimilaritySearch.ivfTopK(spark, emb, queries, k = 10))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF top-k recall $recall below 0.5")
    // determinism: seeded k-means + seeded assignment
    val again = pairs(SimilaritySearch.ivfTopK(spark, emb, queries, k = 10))
    assert(ivf == again)
  }

  test("ivfTopK: sampled fit preserves recall (the 100 TB fit path)") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, k = 10))
    // force the sampling branch: cap the fit well below the corpus size
    val n = emb.count()
    val sampled = pairs(SimilaritySearch.ivfTopK(spark, emb, queries, k = 10,
      maxFitRows = n / 2))
    val recall = (exact intersect sampled).size.toDouble / exact.size
    assert(recall >= 0.5, s"sampled-fit IVF recall $recall below 0.5")
    // still deterministic under sampling (seeded sample + seeded k-means)
    assert(sampled == pairs(SimilaritySearch.ivfTopK(spark, emb, queries, k = 10,
      maxFitRows = n / 2)))
  }

  test("clusterEmbeddings: total assignment, argmax-cosine membership, deterministic") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val (assignments, centers) = SimilaritySearch.clusterEmbeddings(spark, emb, nClusters = 8)
    val a = assignments.cache()

    // every vector assigned exactly once
    assert(a.count() == emb.count())
    assert(a.select("vec_id").distinct().count() == emb.count())
    // nearest-centroid on unit vectors IS argmax cosine: the assigned
    // center's cosine must equal the max over all centers, recomputed
    // independently (tolerance for the float-vs-double centroid round-trip)
    val maxPer = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(centers)
      .withColumn("cos", VectorFunctions.cosine_similarity(col("embedding"), col("center")))
      .groupBy("vec_id").agg(max(col("cos")).as("max_cos"))
    val bad = a.join(maxPer, "vec_id")
      .filter(col("cos_to_center") < col("max_cos") - 1e-5)
    assert(bad.count() == 0, "a vector is assigned to a non-nearest centroid")
    // deterministic under the fixed seed
    val (a2, _) = SimilaritySearch.clusterEmbeddings(spark, emb, nClusters = 8)
    val m1 = a.select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val m2 = a2.select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(m1 == m2)
    a.unpersist()
  }

  test("pqTopK: recall >= 0.5 vs brute force; rerank scores are exact") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exactDf = SimilaritySearch.bruteForceTopK(emb, queries, k = 10)
    val pqDf = SimilaritySearch.pqTopK(spark, emb, queries, k = 10)
    val exact = pairs(exactDf)
    val pq = pairs(pqDf)
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ top-k recall $recall below 0.5")
    // the rerank step scores survivors with the EXACT cosine: every pair
    // PQ and brute force agree on must carry the identical score
    val exactScores = exactDf.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val pqScores = pqDf.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    (exact intersect pq).foreach { p =>
      assert(math.abs(exactScores(p) - pqScores(p)) < 1e-12,
        s"rerank score differs from exact for $p")
    }
    // determinism: seeded sample + seeded per-subspace k-means
    assert(pq == pairs(SimilaritySearch.pqTopK(spark, emb, queries, k = 10)))
  }

  test("pq and ivf-pq k-means fits run in the caller's job group (gateway cancel reaches them)") {
    VectorFunctions.register(spark)
    val sc = spark.sparkContext
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def runIn(group: String): Unit = {
      sc.setJobGroup(group, group)
      try {
        SimilaritySearch.pqTopK(spark, emb, queries, k = 5).collect()
        SimilaritySearch.ivfPqTopK(spark, emb, queries, k = 5).collect()
      } finally sc.clearJobGroup()
    }
    // the first call leaves behind whatever lane threads a shared pool
    // would keep; every job of the second must still carry its group
    runIn("pq-group-a")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      runIn("pq-group-b")
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "pq-group-b"),
      s"${seen.count(_ != "pq-group-b")} of ${seen.size} jobs outside the caller's group: " +
        seen.distinct.mkString(", "))
  }

  test("pq paths survive short codebooks (duplicate-heavy corpus, < codes distinct)") {
    import spark.implicits._
    VectorFunctions.register(spark)
    // only 3 distinct vectors across 60 items: every subspace sees ≤ 3
    // distinct points, so the seeded random-init k-means collapses its
    // duplicate samples and returns FEWER than `codes` centers — the
    // case that crashed the ADC table build on the 30× replicated
    // fixture (Index 15 out of bounds for length 15) before the padding
    def base(a: Int): Array[Float] =
      Array.tabulate(8)(j => if (j == a % 4) 1.0f else 0.1f * a)
    val emb = (0L until 60L).map(i => (i, base((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    val pq = SimilaritySearch.pqTopK(spark, emb, queries, k = 5)
    val ivfpq = SimilaritySearch.ivfPqTopK(spark, emb, queries, k = 5)
    for ((name, df) <- Seq("pq" -> pq, "ivfpq" -> ivfpq)) {
      val rows = df.select("query_id", "vec_id", "cosine")
        .as[(Long, Long, Double)].collect()
      assert(rows.nonEmpty, s"$name returned nothing on the degenerate corpus")
      // every query's duplicates (identical vectors) score exactly 1.0
      // after the exact rerank, so each query must surface one
      val best = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).max }
      best.foreach { case (q, s) =>
        assert(math.abs(s - 1.0) < 1e-9, s"$name query $q best cosine $s != 1.0")
      }
    }
  }

  test("ivfPqTopK: recall >= 0.5 vs brute force; rerank exact; deterministic") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exactDf = SimilaritySearch.bruteForceTopK(emb, queries, k = 10)
    val composed = SimilaritySearch.ivfPqTopK(spark, emb, queries, k = 10)
    val exact = pairs(exactDf)
    val got = pairs(composed)
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-PQ top-k recall $recall below 0.5")
    // survivors carry the EXACT cosine (rerank contract, same as PQ-alone)
    val exactScores = exactDf.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val composedScores = composed.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    (exact intersect got).foreach { p =>
      assert(math.abs(exactScores(p) - composedScores(p)) < 1e-12,
        s"rerank score differs from exact for $p")
    }
    assert(got == pairs(SimilaritySearch.ivfPqTopK(spark, emb, queries, k = 10)))
  }

  test("ivfPqFixedTopK: planted nearest-cell routing — nProbe prunes exactly the other cells") {
    VectorFunctions.register(spark)
    // dim 4, m=2 subspaces, 2 cells: vec 0/1 donate centroids AND
    // codebooks; 12 is the trap — visible to the query (cos 0.6) but
    // ASSIGNED to cell 1, so nProbe=1 must never surface it
    val items = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 0f, 1f, 0f)),
      (10L, Array(0.9f, 0.1f, 0f, 0f)),
      (11L, Array(0f, 0f, 0.9f, 0.1f)),
      (12L, Array(0.6f, 0f, 0.8f, 0f))).toDF("vec_id", "embedding")
    val query = Seq((20L, Array(1f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    def top(k: Int, nProbe: Int) = SimilaritySearch.ivfPqFixedTopK(
        items, query, k = k, nLists = 2, nProbe = nProbe,
        m = 2, codes = 2, refine = 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().toMap
    // single probe: only cell-0 members (0, 10) are candidates, exact order
    assert(top(2, 1) == Map(0L -> 1, 10L -> 2))
    // probing cell 1 adds its members as candidates but not into the top-2
    assert(top(2, 2) == Map(0L -> 1, 10L -> 2))
    // ...and the trap IS reachable once its cell is probed
    assert(top(3, 2).contains(12L))
    assert(!top(3, 1).contains(12L))
  }

  test("clusterEmbeddingsFixed: total, argmax-cosine to the fixed centroids (independent recomputation)") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val out = SimilaritySearch.clusterEmbeddingsFixed(emb, nClusters = 8)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(out.size == emb.count(), "assignment must be total")
    // independent recomputation through a rank window (a DIFFERENT plan
    // shape than the operator's max_by aggregate)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos").desc, col("cid").asc)
    val expected = emb.crossJoin(cents)
      .withColumn("cos", VectorFunctions.cosine_similarity(col("embedding"), col("cv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(out == expected)
  }

  test("ANN finalization plans as partial ObjectHashAggregate, never a rank window") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
    val fams = Seq(
      "brute" -> SimilaritySearch.bruteForceTopK(emb, queries, k = 5),
      "lsh" -> SimilaritySearch.lshTopK(spark, emb, queries, k = 5),
      "ivf" -> SimilaritySearch.ivfTopK(spark, emb, queries, k = 5),
      "pq" -> SimilaritySearch.pqTopK(spark, emb, queries, k = 5),
      "ivfpq" -> SimilaritySearch.ivfPqTopK(spark, emb, queries, k = 5))
    fams.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      // the scale contract (VERDICT r4 #2): per-query top-k is a
      // bounded-heap aggregate with a map-side partial stage — each task
      // emits <= k rows per query into the exchange — NOT a
      // row_number window shuffling the whole scored relation
      assert(p.contains("ObjectHashAggregate"),
        s"$name: top-k did not plan as ObjectHashAggregate")
      assert(p.contains("partial_topkaggregator"),
        s"$name: no map-side partial top-k stage in plan")
      assert(!p.contains("Window"), s"$name: a rank window survived in the plan")
    }
  }

  test("rrfFuse: consensus docs outrank single-list docs; scores are exact") {
    // query 1: doc 10 is rank-2 in BOTH lists; docs 11/12 are rank-1 in
    // exactly one list. RRF must put the consensus doc first:
    // 2/62 = 0.03226 > 1/61 = 0.01639.
    val lex = Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 13L, 3)).toDF("query_id", "doc_id", "rank")
    val sem = Seq((1L, 12L, 1), (1L, 10L, 2), (1L, 14L, 3)).toDF("query_id", "doc_id", "rank")
    val out = SimilaritySearch.rrfFuse(lex, sem, k0 = 60, k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(10L, 11L, 12L, 13L, 14L),
      "consensus doc must lead; single-list ties broken by doc_id")
    val top = out.head
    assert(top.getDouble(4) == 1.0 / 62 + 1.0 / 62, "rrf must be the exact sum")
    assert(top.getDouble(2) == 2.0 && top.getDouble(3) == 2.0)
    // single-list doc carries a NULL rank for the missing retriever
    val lexOnly = out.find(_.getLong(1) == 13L).get
    assert(lexOnly.isNullAt(3) && lexOnly.getDouble(4) == 1.0 / 63)
  }

  test("rrfFuse handles disjoint query sets from the two retrievers") {
    val lex = Seq((1L, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val sem = Seq((2L, 20L, 1)).toDF("query_id", "doc_id", "rank")
    val out = SimilaritySearch.rrfFuse(lex, sem).collect()
    assert(out.length == 2)
    assert(out.forall(_.getInt(5) == 1), "each query fuses independently")
  }

  test("x91 embeddingHealth: exact stats on a planted table (zero-norm, ragged dims, norms)") {
    val embs = Seq(
      (0L, Array(3f, 4f), 1),          // norm 5
      (1L, Array(0f, 0f), 1),          // zero norm
      (2L, Array(1f, 0f, 0f), 1),      // ragged: dim 3
      (3L, Array(0f, 2f), 2)           // norm 2
    ).toDF("vec_id", "embedding", "label")
    val h = SimilaritySearch.embeddingHealth(embs).collect()
      .map(r => r.getInt(0) -> r).toMap
    val l1 = h(1)
    assert(l1.getLong(1) == 3L)                      // n_vecs
    assert(l1.getInt(2) == 2 && l1.getInt(3) == 3)   // ragged detected
    assert(l1.getLong(4) == 1L)                      // one zero-norm vector
    assert(l1.getDouble(5) == 2.0)                   // mean of 5, 0, 1
    assert(l1.getDouble(6) == 0.0 && l1.getDouble(7) == 5.0)
    val l2 = h(2)
    assert(l2.getLong(1) == 1L && l2.getDouble(5) == 2.0)
  }

  test("x92 centroidSeparation: identical labels at cosine 1, orthogonal at 0, opposite at -1") {
    // label 1: centroid (1,0); label 2: centroid (0,1); label 3: centroid
    // (-1,0) — pairwise cosines 0, -1, 0 exactly (members average cleanly)
    val embs = Seq(
      (0L, Array(1f, 0f), 1), (1L, Array(1f, 0f), 1),
      (2L, Array(0f, 1f), 2), (3L, Array(0f, 1f), 2),
      (4L, Array(-1f, 0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilaritySearch.centroidSeparation(embs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out == Map((1, 2) -> 0.0, (1, 3) -> -1.0, (2, 3) -> 0.0))
  }

  test("clusterEmbeddings assignment plans as partial max_by aggregate, no window") {
    VectorFunctions.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val (assignments, _) = SimilaritySearch.clusterEmbeddings(spark, emb, nClusters = 4)
    val p = assignments.queryExecution.executedPlan.toString
    assert(p.contains("partial_max_by"),
      "argmax assignment lost its map-side partial stage")
    assert(!p.contains("Window"), "a rank window survived in the assignment plan")
  }
}
