package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TopKAggregator, VectorFunctions}
import graft.streaming.StreamingQueries.inParallel

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact. Broadcast the (small) query set, score
  *    every (query, item) pair with the codegen'd cosine expression,
  *    per-query top-k via window rank. Cost O(|Q|·n) — the right answer
  *    whenever |Q| is bounded; at 100 TB the scan side stays fully
  *    distributed, the broadcast is |Q|·dim floats.
  *  - [[lshTopK]]: random-hyperplane LSH. Items are bucketed by the sign
  *    pattern of `planes` projections, repeated over `tables` independent
  *    hash tables (union of candidates ⇒ recall amplification); scoring
  *    happens only inside matching buckets via an equi-join on
  *    (table, bucket). Cost O(n·tables) hashing + per-bucket scoring —
  *    this is the scale path when |Q| is large.
  */
object SimilaritySearch {

  /** The x114 fixed-quantizer parameters, shared between
    * [[ivfPqFixedTopK]]'s defaults and the DuckDB oracle
    * (ExtendedQueries.knnIvfPqFixedSql) so a change to either side
    * cannot silently desync the hash check (ADVICE r15). */
  object IvfPqFixed {
    val NLists = 8
    val NProbe = 3
    val M = 8
    val Codes = 16
    val Refine = 4
    /** the x114/s45 top-k cut — shared so the streamed PQ serve (s45)
      * can hash against x114's oracle verbatim */
    val K = 10
    /** s41's serve-time probe amplification (the x110 recall knob in
      * the durable-index regime): the QUERY side probes more cells
      * against the UNCHANGED index — recall rises, the index is never
      * re-bucketed, and the probe set stays ≤ NLists by construction so
      * the store read is still static partition filters. */
    val NProbeWide = 6
  }

  /** The ANN eval-harness frame, shared between every Scala entry and
    * the DuckDB oracle tail (ExtendedQueries.lshScoreAndRankSql) so the
    * query slice and top-k cut cannot desync across files — the
    * annServeStreamSql ↔ streamAnnServe pair hard-coded both
    * independently (ADVICE r16). */
  object AnnEval {
    /** eval queries = embeddings with vec_id < QuerySlice */
    val QuerySlice = 5
    /** the top-k cut applied by lshScoreAndRankSql's rank <= K tail */
    val K = 10
  }

  /** The shared fixed-quantizer kernel of x114/x116/s37: literal-array
    * centroids, row-local argmax-cosine cell assignment (ties → lowest
    * cid via array_min over (−cos, cid) structs — exact negation, so
    * the ordering matches the oracles' ORDER BY cos DESC, cid), and
    * top-nProbe probe-cell selection by the same ordering. */
  private[graft] def litVec(a: Array[Float]): Column =
    array(a.map(x => lit(x)): _*)

  private[graft] def cellArms(vec: Column,
                              cents: IndexedSeq[Array[Float]]): Column =
    array(cents.indices.map { cid =>
      struct((-VectorFunctions.cosine_similarity(vec, litVec(cents(cid))))
        .as("negcos"), lit(cid.toLong).as("cid"))
    }: _*)

  private[graft] def argmaxCell(vec: Column,
                                cents: IndexedSeq[Array[Float]]): Column =
    array_min(cellArms(vec, cents)).getField("cid")

  private[graft] def probeCells(vec: Column, cents: IndexedSeq[Array[Float]],
                                nProbe: Int): Column =
    transform(slice(sort_array(cellArms(vec, cents)), 1, nProbe),
      x => x.getField("cid"))

  /** Collect the first `n` vec_ids of a (vec_id, vec) relation as the
    * fixed-quantizer rows — bounded by construction, loud on gaps. */
  private[graft] def collectFixedRows(src: DataFrame, n: Int): IndexedSeq[Array[Float]] = {
    val m = src.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    require((0 until n).forall(i => m.contains(i.toLong)),
      s"fixed quantizers need vec_ids 0..${n - 1} present")
    IndexedSeq.tabulate(n)(i => m(i.toLong))
  }

  /** Per-query top-k finalization shared by the whole ANN family:
    * bounded-heap partial aggregation ([[TopKAggregator]]) instead of a
    * rank window. Each map task emits ≤ k rows per query into the
    * exchange, so the post-scoring shuffle is O(|Q|·k) — independent of
    * corpus size — where the window it replaces shuffled ALL n·|Q|
    * scored rows and serialized each query onto one task.
    * Input needs (query_id, <idCol>, <scoreCol>); output
    * (query_id, idCol, scoreCol, rank) with rank 1..k ordered
    * (score desc, id asc). */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int,
                                  scoreCol: String = "cosine",
                                  idCol: String = "vec_id"): DataFrame =
    scored
      // Explicit degenerate-input contract: cosine_similarity is
      // null-intolerant (null embedding → null score) and a 0-norm vector
      // can yield NaN. The typed aggregator's primitive (Double, Long)
      // encoder throws on null and Java `>` silently drops NaN, so
      // null/NaN scores are excluded up front — they are never neighbors.
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol)))
      .groupBy(col("query_id"))
      .agg(TopKAggregator.topk(k)(col(scoreCol), col(idCol)).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__pos", "__s")))
      .select(col("query_id"), col("__s.id").as(idCol),
              col("__s.score").as(scoreCol), (col("__pos") + 1).as("rank"))

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, vec_id, cosine, rank), rank 1..k, ties broken by
    * item id for determinism. Self-matches excluded. */
  def bruteForceTopK(items: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val it = items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
    val scored = it.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * two ranked retrieval lists — the standard hybrid-search combiner
    * for a lexical (BM25) and a semantic (embedding-cosine) ranking:
    * rrf(d) = Σ_lists 1/(k0 + rank_d), summing only over the lists where
    * d appears. Rank-based, so the two lists' incomparable score scales
    * need no normalization — that is the point of RRF.
    *
    * Inputs are (query_id, doc_id, rank) relations. Scale shape: both
    * inputs are already top-N-per-query (O(|Q|·N) rows — corpus-size
    * independent), so the outer join and the per-query re-rank are
    * dashboard-sized no matter how large the corpus that produced them.
    * Constituent ranks are emitted as nullable DOUBLEs (a doc found by
    * only one retriever has no rank in the other).
    */
  def rrfFuse(lex: DataFrame, sem: DataFrame, k0: Int = 60, k: Int = 10): DataFrame = {
    val l = lex.select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val s = sem.select(col("query_id"), col("doc_id"), col("rank").as("sem_rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc)
    l.join(s, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0) + col("sem_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
              col("lex_rank").cast("double").as("lex_rank"),
              col("sem_rank").cast("double").as("sem_rank"),
              col("rrf"), col("rank"))
  }

  /** Deterministic random hyperplanes: `tables × planes × dim`, seeded.
    * `private[graft]` so the oracle-SQL generator derives its literal
    * plane lists from the SAME array (the jlSigns sharing pattern) —
    * both engines then evaluate identical plane constants. */
  private[graft] def hyperplanes(dim: Int, planes: Int, tables: Int, seed: Long): Array[Array[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, planes, dim)(rnd.nextGaussian().toFloat)
  }

  /** Bucket id = sign-bit pattern of the plane projections (one long). */
  private def bucketExpr(vec: org.apache.spark.sql.Column, table: Array[Array[Float]]) =
    table.zipWithIndex.map { case (plane, j) =>
      val planeCol = array(plane.map(x => lit(x)): _*)
      when(VectorFunctions.dot_product(vec, planeCol) >= 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce[org.apache.spark.sql.Column](_.bitwiseOR(_))

  /** (tbl, bucket) assignment of every row of `df` under `tables`
    * independent hyperplane hash tables — the shared candidate generator
    * for [[lshTopK]] and [[graft.operators.Dedup.embeddingNearDupsLsh]]. */
  def bucketize(df: DataFrame, vecCol: String,
                dim: Int, planes: Int, tables: Int, seed: Long): DataFrame = {
    val hp = hyperplanes(dim, planes, tables, seed)
    df.select(col("*"),
      posexplode(array(hp.map(t => bucketExpr(col(vecCol), t)): _*))
        .as(Seq("tbl", "bucket")))
  }

  /** Approximate top-k via random-hyperplane LSH with multiple tables.
    * Same output shape as [[bruteForceTopK]]; recall < 1 by construction
    * (recall-vs-brute-force invariant measured in SimilaritySearchSpec).
    *
    * Plane-count trade-off: P(pair collides in one table) =
    * (1 − θ/π)^planes, so for the WIDE angles this fixture's neighbor
    * structure lives at (cosine 0.3–0.5 ⇒ θ ≈ 60–73°), few planes + more
    * tables is the only regime with useful recall; planes should grow
    * with log(n) as the corpus grows to keep buckets bounded. */
  def lshTopK(spark: SparkSession, items: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              dim: Int = 64, planes: Int = 4, tables: Int = 8,
              seed: Long = 42L): DataFrame = {
    val hp = hyperplanes(dim, planes, tables, seed)

    def bucketed(df: DataFrame, id: String, vec: String, pfx: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
        posexplode(array(hp.map(t => bucketExpr(col(vecCol), t)): _*))
          .as(Seq(s"${pfx}tbl", s"${pfx}bucket")))

    val it = bucketed(items, "vec_id", "i_vec", "i_")
    val q = bucketed(queries, "query_id", "q_vec", "q_")

    val scored = it.join(broadcast(q),
        col("i_tbl") === col("q_tbl") && col("i_bucket") === col("q_bucket") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("q_vec"), col("i_vec"))
      .distinct() // union of candidates across tables
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** Multi-probe hyperplane LSH (Lv, Josephson, Wang, Charikar & Li,
    * VLDB 2007): each query probes its own bucket PLUS the buckets
    * reached by flipping the sign bit of the `probes` planes with the
    * smallest |projection| — the planes the query is least confident
    * about, which is exactly where a true neighbor on the other side of
    * the plane is most likely to sit.
    *
    * The scale rationale: recall amplification by MORE TABLES costs
    * another bucketing pass and another join fan-out on the ITEM side —
    * the corpus-sized side — while probing costs only (1+probes)
    * bucket keys per QUERY row. Same item index as [[lshTopK]]
    * (bit-identical bucketing), candidates bounded at (1+probes)× per
    * table, `probes = 0` reproduces [[lshTopK]] exactly (spec-pinned).
    * Output shape identical to [[bruteForceTopK]]. */
  /** Query-side multi-probe keys (the Lv 2007 probe set): for every
    * table, the base key (always probed) and each single-plane flip
    * tagged with its confidence rank — rank j = how many OTHER planes
    * have strictly smaller |projection| (index tie-break); only ranks
    * < probes are probed. The tables×planes projections are PROJECTED
    * ONCE as named columns before any key/rank expression references
    * them: inlining the 64-literal dot products into every struct
    * multiplies the expression tree ~10× and the cost is all
    * PLAN+CODEGEN time, not data (measured 4.35 s → sub-second on a
    * 5-row query side). O(planes²) comparison expressions per table,
    * query side only. Input needs columns (`idOut`, `vecOut`); output
    * (`idOut`, `vecOut`, tbl, bucket) — one row per probed key.
    * Shared by [[lshMultiProbeTopK]] and
    * [[graft.operators.Dedup.embeddingNearDupsLshMultiProbe]]. */
  private[graft] def multiProbeKeys(queries: DataFrame,
                                    idOut: String, vecOut: String,
                                    dim: Int, planes: Int, tables: Int,
                                    probes: Int, seed: Long): DataFrame = {
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, planes=$planes], got $probes")
    val hp = hyperplanes(dim, planes, tables, seed)
    val projCols: Seq[Column] = hp.zipWithIndex.toSeq.flatMap { case (table, t) =>
      table.zipWithIndex.map { case (plane, j) =>
        VectorFunctions.dot_product(col(vecOut), array(plane.map(x => lit(x)): _*))
          .as(s"__p_${t}_$j")
      }
    }
    val probeStructs: Seq[Column] = hp.zipWithIndex.toSeq.flatMap { case (table, t) =>
      val projs: Array[Column] =
        Array.tabulate(table.length)(j => col(s"__p_${t}_$j"))
      val base: Column = projs.zipWithIndex.map { case (p, j) =>
        when(p >= 0, shiftleft(lit(1L), j)).otherwise(0L)
      }.reduce[Column](_.bitwiseOR(_))
      val baseStruct =
        struct(lit(t).as("tbl"), base.as("key"), lit(true).as("inc"))
      val flips = (0 until table.length).map { j =>
        val rank = (0 until table.length).filter(_ != j).map { j2 =>
          val before = abs(projs(j2)) < abs(projs(j)) ||
            (abs(projs(j2)) === abs(projs(j)) && lit(j2 < j))
          when(before, 1).otherwise(0)
        }.reduce[Column](_ + _)
        struct(lit(t).as("tbl"),
          base.bitwiseXOR(shiftleft(lit(1L), j)).as("key"),
          (rank < probes).as("inc"))
      }
      baseStruct +: flips
    }
    queries
      .select(col(idOut) +: col(vecOut) +: projCols: _*)
      .select(col(idOut), col(vecOut),
        explode(array(probeStructs: _*)).as("pb"))
      .filter(col("pb.inc"))
      .select(col(idOut), col(vecOut),
        col("pb.tbl").as("tbl"), col("pb.key").as("bucket"))
  }

  def lshMultiProbeTopK(spark: SparkSession, items: DataFrame, queries: DataFrame,
                        k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
                        dim: Int = 64, planes: Int = 4, tables: Int = 8,
                        probes: Int = 2, seed: Long = 42L): DataFrame = {
    val hp = hyperplanes(dim, planes, tables, seed)

    val it = items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"),
      posexplode(array(hp.map(t => bucketExpr(col(vecCol), t)): _*))
        .as(Seq("i_tbl", "i_bucket")))

    val q = multiProbeKeys(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        "query_id", "q_vec", dim, planes, tables, probes, seed)
      .withColumnRenamed("tbl", "q_tbl")
      .withColumnRenamed("bucket", "q_bucket")

    val scored = it.join(broadcast(q),
        col("i_tbl") === col("q_tbl") && col("i_bucket") === col("q_bucket") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("q_vec"), col("i_vec"))
      .distinct() // union of candidates across tables AND probes
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** Deterministic ±1 sign matrix for [[jlTopK]]'s Johnson–Lindenstrauss
    * projection — `m × dim`, seeded. Shared with the oracle-SQL generator
    * (the SQL is built from the SAME array, so both engines evaluate the
    * literally identical left-associated term chain). */
  private[graft] def jlSigns(dim: Int, m: Int, seed: Long): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(m, dim)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** The reduced coordinates rp_0..rp_{m−1} as named columns: each is ONE
    * codegen'd [[VectorFunctions.dot_product]] against a literal ±1 sign
    * vector — never an unrolled 64-term Add chain (a first cut inlined
    * those chains and the OPTIMIZER, not the data, went quadratic: the
    * x110 plan-cost lesson, amplified). dot_product accumulates
    * left-to-right in double, the same fold order as the oracle's
    * `list_sum(list_transform(list_zip(...)))` — the established cosine
    * hash-parity contract. */
  private def jlProjected(df: DataFrame, vecCol: String,
                          weights: Array[Array[Float]], pfx: String): DataFrame = {
    val rp = weights.zipWithIndex.map { case (row, j) =>
      VectorFunctions.dot_product(col(vecCol),
        array(row.map(w => lit(w)): _*)).as(s"$pfx$j")
    }
    val withRp = df.select(col("*") +: rp.toSeq: _*)
    val norm = sqrt(weights.indices.map(j => col(s"$pfx$j") * col(s"$pfx$j"))
      .reduceLeft(_ + _))
    withRp.withColumn(s"${pfx}norm", norm)
  }

  /** The shared reduced-scan-then-exact-rerank spine of [[jlTopK]] (the
    * data-independent ±1 map) and [[pcaTopK]] (the learned principal
    * basis): project both sides onto `weights` (m literal-coefficient
    * dot_product columns, materialized — see jlTopK's plan notes),
    * shortlist the k·overfetch reduced-cosine top per query, rerank the
    * shortlist with the exact full-dim cosine. */
  private[graft] def reducedScanTopK(items: DataFrame, queries: DataFrame,
                                     weights: Array[Array[Float]],
                                     k: Int, overfetch: Int,
                                     idCol: String, vecCol: String): DataFrame = {
    // The projected relations are MATERIALIZED before the join: the
    // projection table is the operator's product (in production it
    // persists as the compressed index — computing it per query would
    // forfeit the whole point), and the barrier also fences Catalyst
    // off the m projection expressions — constraint propagation
    // (getAllValidConstraints → Add canonicalization) goes quadratic
    // in them across the join and OOMed the driver at m = 32 when the
    // plan was left fused.
    val it = jlProjected(
      items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec")),
      "i_vec", weights, "ip").localCheckpoint()
    val q = jlProjected(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "q_vec", weights, "qp").localCheckpoint()

    // reduced-space scoring: m-term dot over the named projection
    // columns (never the raw vectors), |Q|-side broadcast like the
    // exact baseline; the bounded-heap top-k caps the exchange at
    // |Q|·k·overfetch rows
    val rdot = weights.indices.map(j => col(s"qp$j") * col(s"ip$j"))
      .reduceLeft(_ + _)
    val cand = it.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("rcos", rdot / (col("qpnorm") * col("ipnorm")))
    val shortlist =
      topKPerQuery(cand.select(col("query_id"), col("vec_id"), col("rcos")),
        k * overfetch, scoreCol = "rcos")
      .select(col("query_id"), col("vec_id"))

    // exact rerank of the shortlist only — the |Q|·k·overfetch shortlist
    // BROADCASTS against the corpus-sized vector side (measured: the
    // unhinted join re-shuffled the item table at 30×; hinted, the item
    // side streams in place)
    val reranked = items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))), "query_id")
      .withColumn("cosine",
        VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(reranked.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** x111: Johnson–Lindenstrauss sign-projection ANN — compressed
    * CANDIDATE generation with exact rerank. Every vector is projected to
    * `m` dimensions through a seeded ±1 matrix (Achlioptas 2003: the
    * database-friendly JL construction — no Gaussians, just sign flips);
    * candidates are the `k·overfetch` reduced-space cosine top per query;
    * the final top-k re-scores only those with the exact 64-dim cosine.
    *
    * Where this sits in the ANN family: [[lshTopK]]/[[ivfTopK]] prune WHO
    * gets scored (buckets/cells) and [[pqTopK]] shrinks the scan via a
    * LEARNED codebook; JL shrinks it with a DATA-INDEPENDENT linear map —
    * no fit pass, no codebook state, valid from the first row of a stream,
    * and (unlike k-means fits or hash-bucket membership) every stage is a
    * closed-form deterministic expression, so the whole operator is
    * value-level oracle-checkable end to end. The candidate scan does
    * m-term dot products instead of dim-term (dim/m× fewer flops and —
    * with the projections materialized — dim/m× fewer bytes); at 100 TB
    * it composes with IVF/LSH (project, then bucket the projections).
    *
    * Recall is governed by the corpus's NEIGHBOR MARGIN against the JL
    * noise σ ≈ √((1−cos²)/m): near-dup neighbors (cos ≈ 1) survive any
    * reasonable m, while the fixture's smooth continuum (rank-10 cos
    * 0.255 vs rank-20 0.217 — gaps of 0.04 against σ ≈ 0.17 at m = 32)
    * is the hard case, measuring 0.78 at the defaults; the
    * spectrum-vs-recall read is documented in SimilaritySearchSpec.
    * `overfetch·k ≥ |items|` degenerates to exact brute force (the
    * algebraic reduction the spec pins). Output shape identical to
    * [[bruteForceTopK]]. */
  def jlTopK(spark: SparkSession, items: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             dim: Int = 64, m: Int = 32, overfetch: Int = 10,
             seed: Long = 7L): DataFrame = {
    require(m >= 1 && overfetch >= 1, s"need m >= 1, overfetch >= 1")
    val weights = jlSigns(dim, m, seed).map(_.map(_.toFloat))
    reducedScanTopK(items, queries, weights, k, overfetch, idCol, vecCol)
  }

  /** The x128/x129 PCA-rung constants, shared between the Scala entries
    * and the x128 oracle-SQL generator (the IvfPqFixed/AnnEval desync
    * discipline). `Quant` is the fixed-point grid of the scatter
    * statistics: 2^20 — fine enough that quantization error (≤ 2^-21
    * per coordinate) is far below the fixture's coordinate scale
    * (~0.15), coarse enough that every product and every corpus-sized
    * sum of products stays inside a 64-bit long (|q| ≤ 2^21 ⇒ a product
    * ≤ 2^42 ⇒ headroom for 2^20 ≈ 10^6× the sf1 corpus). */
  object PcaFixed {
    val Dim = 64
    val Quant = 1048576.0 // 2^20
    /** reduced dimensionality of the x129 principal-subspace scan —
      * HALF x111's JL width (the learned basis needs fewer coordinates
      * than the random one for the same recall; the spec measures both
      * at equal m) */
    val M = 16
    val Overfetch = 10
    /** x134's serve-time probe amplification for the PCA-cell regime —
      * the s41/x110 knob composed into x131: the QUERY side probes more
      * of the 16 principal-space cells against the UNCHANGED index.
      * Measured on the fixture (SimilaritySearchSpec): recall@10 rises
      * from x131's 0.76 at nProbe 6 back to the x129 basis ceiling at
      * 12 — amplification buys back exactly what the cell pruning
      * cost, at 12/16 of the reduced rows per query and still zero
      * re-bucketing. */
    val NProbeWide = 12
  }

  /** x128: the exact integer-quantized second-moment sufficient
    * statistics of the embedding corpus — the distributed "fit pass" of
    * PCA as a value-checkable relation. Coordinates are snapped to the
    * fixed grid q = floor(x·Quant + 0.5) (identical double arithmetic
    * in both engines), so every emitted statistic is an INTEGER sum —
    * exact under any summation order, which is what makes a cross-row
    * aggregate of float data hash-checkable at all (double sums are
    * reorder-sensitive; Spark's partial-aggregate merge order is not
    * deterministic, so a double-summed scatter could not hash).
    *
    * Output rows (i, j, s):
    *   0 ≤ i ≤ j < dim : s = Σ q_i·q_j   (upper-triangle scatter)
    *   (i, dim)        : s = Σ q_i        (per-dimension sums)
    *   (dim, dim)      : s = n            (corpus count)
    * — count, means and the full second-moment/covariance matrix are
    * all recoverable downstream at model grain (dim²/2 + dim + 1 rows
    * REGARDLESS of corpus size).
    *
    * Plan shape at scale: one row-local explode of the dim(dim+1)/2
    * products per vector, partial-aggregated map-side to ≤ 2 145 rows
    * per task before the only exchange — the s32 algebraic-partials
    * pattern at d² grain. No driver collection, no iteration. */
  def embeddingScatter(emb: DataFrame, dim: Int = PcaFixed.Dim,
                       quant: Double = PcaFixed.Quant): DataFrame = {
    val qv = transform(col("embedding"),
      x => floor(x.cast("double") * lit(quant) + lit(0.5d)).cast("long"))
    val base = emb.select(qv.as("qv"))
    val pairStructs = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("qv"), i + 1) * element_at(col("qv"), j + 1)).as("p")))))
    val scatter = base.select(explode(pairStructs).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
      .groupBy("i", "j").agg(sum("p").as("s"))
    val dimSums = base.select(posexplode(col("qv")).as(Seq("i", "v")))
      .groupBy("i").agg(sum("v").as("s"))
      .select(col("i"), lit(dim).as("j"), col("s"))
    val n = base.agg(count(lit(1)).as("s"))
      .select(lit(dim).as("i"), lit(dim).as("j"), col("s"))
    scatter.unionByName(dimSums).unionByName(n)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix — driver-side and
    * model-sized by construction (dim × dim, the x109 O(model)-memory
    * argument: the corpus never comes near the driver, only the scatter
    * statistics do). Returns (eigenvalues, eigenvector ROWS), sorted by
    * eigenvalue descending, each vector sign-normalized so its
    * largest-magnitude coordinate is positive (a deterministic
    * representative of the ± ambiguity). */
  private[graft] def jacobiEigen(sym: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = sym.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag: Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < 100 && offDiag > 1e-20) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - sn * aiq
          a(i)(q) = sn * aip + c * aiq
        }
        for (j <- 0 until d) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - sn * aqj
          a(q)(j) = sn * apj + c * aqj
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - sn * viq
          v(i)(q) = sn * vip + c * viq
        }
      }
      sweep += 1
    }
    val pairs = (0 until d).map { j =>
      val vec = Array.tabulate(d)(i => v(i)(j))
      val dom = vec.indices.maxBy(i => math.abs(vec(i)))
      (a(j)(j), if (vec(dom) < 0) vec.map(-_) else vec)
    }.sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** Top-`m` principal basis of the UNCENTERED second-moment matrix,
    * recovered from an [[embeddingScatter]] relation. Uncentered is the
    * deliberate choice for COSINE retrieval: the optimal rank-m linear
    * map for preserving dot products/norms is the principal subspace of
    * E[xxᵀ], not of the covariance — centering would shift every vector
    * by the corpus mean and distort the angles the reduced scan ranks
    * by (the means are in the relation for consumers that do want the
    * centered variant). */
  private[graft] def pcaBasis(scatterRows: Array[org.apache.spark.sql.Row],
                              dim: Int, m: Int,
                              quant: Double): (Array[Double], Array[Array[Float]]) = {
    val cells = scatterRows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val n = cells.getOrElse((dim, dim),
      throw new IllegalArgumentException("scatter relation has no count row"))
    require(n > 0, "pca basis: empty corpus")
    val mom = Array.tabulate(dim, dim) { (i, j) =>
      val key = (math.min(i, j), math.max(i, j))
      cells(key).toDouble / (quant * quant) / n
    }
    val (vals, vecs) = jacobiEigen(mom)
    (vals.take(m), vecs.take(m).map(_.map(_.toFloat)))
  }

  /** x129: PCA reduced-scan ANN — [[jlTopK]]'s compressed-candidate
    * spine with the LEARNED principal basis in place of the random ±1
    * map. One distributed pass builds the [[embeddingScatter]]
    * sufficient statistics (exact integer sums, the hash-checked x128
    * relation), a model-sized Jacobi eigensolve on the driver extracts
    * the top-m subspace, and the scan/shortlist/rerank machinery is
    * [[reducedScanTopK]] verbatim — so x129's moving parts are pinned
    * by x111's value-level hash and only the basis itself is learned
    * (fp-order-sensitive eigensolve ⇒ rows-only, spec-checked:
    * orthonormality, descending captured moments, recall ≥ the JL map
    * at equal m, and the overfetch-degenerate ≡ exact reduction).
    *
    * Why it earns its place next to x111: the principal basis captures
    * the corpus's actual spectral mass, so at equal m the reduced
    * cosine is a strictly better neighbor estimate on anisotropic
    * corpora (real embedding spectra decay; the fixture measures
    * 16-dim PCA ≈ 32-dim JL) — i.e. half the compressed-index bytes
    * and half the reduced-scan flops for the same recall, which at
    * 100 TB is the difference that pays for the one extra fit pass. */
  def pcaTopK(spark: SparkSession, items: DataFrame, queries: DataFrame,
              k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
              dim: Int = PcaFixed.Dim, m: Int = PcaFixed.M,
              overfetch: Int = PcaFixed.Overfetch): DataFrame = {
    require(m >= 1 && m <= dim && overfetch >= 1,
      s"need 1 <= m <= dim, overfetch >= 1")
    val scatter = embeddingScatter(
      items.select(col(vecCol).as("embedding")), dim).collect()
    val (_, basis) = pcaBasis(scatter, dim, m, PcaFixed.Quant)
    reducedScanTopK(items, queries, basis, k, overfetch, idCol, vecCol)
  }

  /** x131: the composed scale path x129's caveat names — "project, then
    * bucket the projections". [[pcaTopK]]'s reduced scan still touches
    * every item's m coordinates; here IVF cells are learned IN the
    * m-dim principal space, so a query scans only its nProbe cells of
    * PROJECTED vectors (dim/m× smaller rows AND cell-pruned row count —
    * the two savings multiply), and the reduced-space shortlist is
    * re-scored with the exact full-dim cosine. The principal space is
    * the right place to bucket: k-means distortion lives where the
    * variance lives, and after the rotation that is the first m
    * coordinates by construction.
    *
    * All three stages are learned (scatter→basis, k-means cells) ⇒
    * rows-only; the spec measures recall vs the exact baseline and pins
    * the candidate pruning. At 100 TB: one scatter pass (the hashed
    * x128 relation), one sampled k-means fit in m dims, one row-local
    * assignment pass, then per-query cell-pruned scans of m-float rows. */
  def pcaIvfTopK(spark: SparkSession, items: DataFrame, queries: DataFrame,
                 k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
                 dim: Int = PcaFixed.Dim, m: Int = PcaFixed.M,
                 overfetch: Int = PcaFixed.Overfetch,
                 nLists: Int = 16, nProbe: Int = 6): DataFrame = {
    require(m >= 1 && m <= dim && overfetch >= 1,
      s"need 1 <= m <= dim, overfetch >= 1")
    val scatter = embeddingScatter(
      items.select(col(vecCol).as("embedding")), dim).collect()
    val (_, basis) = pcaBasis(scatter, dim, m, PcaFixed.Quant)
    // m-float principal coordinates as the indexed vector — the
    // compressed index relation (localCheckpoint for the same two
    // reasons as reducedScanTopK: it IS the persisted product, and it
    // fences the optimizer off the m projection expressions)
    def projected(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol),
          array(basis.map(row =>
            VectorFunctions.dot_product(col(vecCol), litVec(row))
              .cast("float")): _*).as("pvec"))
        .localCheckpoint()
    // the two projection pins are independent (items vs queries) →
    // overlap the materialization jobs (guide §2.6)
    val Seq(itP, qP) = inParallel(
      () => projected(items, "vec_id"),
      () => projected(queries, "query_id"))
    val shortlist = ivfTopK(spark,
        itP.select(col("vec_id"), col("pvec")),
        qP.select(col("query_id").as("vec_id"), col("pvec")),
        k * overfetch, vecCol = "pvec", nLists = nLists, nProbe = nProbe)
      .select(col("query_id"), col("vec_id"))
    val reranked = items
      .select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))), "query_id")
      .withColumn("cosine",
        VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(reranked.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into `nLists` cells; each query probes its `nProbe` nearest
    * cells and scores only those cells' members.
    *
    * The complementary scale path to [[lshTopK]]: LSH is data-oblivious
    * (hash collisions), IVF is data-adaptive (learned centroids follow
    * the corpus's density), which typically wins recall-per-candidate on
    * clustered embeddings. Vectors are L2-normalized before both training
    * and assignment so Euclidean k-means cells align with cosine
    * neighborhoods; final scoring is exact cosine on the originals.
    *
    * Plan shape at scale: one distributed k-means fit (sampled corpus),
    * one model.transform over items (row-local), a |Q|×nLists broadcast
    * scoring to pick probe cells, then an equi-join on the cell id —
    * never a cross join against the corpus. */
  def ivfTopK(spark: SparkSession, items: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nLists: Int = 16, nProbe: Int = 6, seed: Long = 42L,
              maxFitRows: Long = 100000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    def withUnitVec(df: DataFrame, vc: String): DataFrame = df
      .withColumn("__norm",
        sqrt(aggregate(col(vc), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .withColumn("__unit", array_to_vector(
        when(col("__norm") === 0.0d, col(vc).cast("array<double>"))
          .otherwise(transform(col(vc), x => x.cast("double") / col("__norm")))))

    val itemsU = withUnitVec(
      items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec")), "i_vec")
    // fit on a bounded SAMPLE (k-means centroids converge on a fraction of
    // the corpus; 10 full passes over 10^9 rows before the first query is
    // the wrong trade) — the full corpus pays only the one assignment pass.
    // The gating count is NOT a data pass: column pruning drops every
    // derived column, so it plans as a zero-column scan answered from
    // parquet row-group metadata (verified: ReadSchema: struct<>).
    val total = itemsU.count()
    val fitInput =
      if (total <= maxFitRows) itemsU
      else itemsU.sample(withReplacement = false,
        math.min(1.0, maxFitRows.toDouble / total * 1.05), seed)
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__unit").setPredictionCol("list")
      .fit(fitInput)
    val assigned = model.transform(itemsU)
      .select(col("vec_id"), col("i_vec"), col("list"))

    // probe-cell selection: broadcast the tiny centroid table, keep each
    // query's nProbe most-cosine-similar cells (same bounded-heap top-k
    // as the finalization — |Q|·nLists in, |Q|·nProbe out)
    val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    val centersDf = spark.createDataFrame(centers).toDF("list", "center")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val cellSims = q.crossJoin(broadcast(centersDf))
      .withColumn("sim", VectorFunctions.cosine_similarity(col("q_vec"), col("center")))
      .select(col("query_id"), col("list").cast("long").as("list"), col("sim"))
    val probes = topKPerQuery(cellSims, nProbe, scoreCol = "sim", idCol = "list")
      .select(col("query_id"), col("list"))
      .join(q, "query_id") // re-attach the query vector: |Q|·nProbe rows

    val scored = assigned.as("it").join(broadcast(probes.as("pr")),
        col("it.list") === col("pr.list") && col("query_id") =!= col("vec_id"))
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** x45: product-quantization ANN with asymmetric-distance scoring —
    * the MEMORY-scale path. IVF ([[ivfTopK]]) prunes which vectors get
    * scored; PQ shrinks what is stored and scanned: each item vector is
    * encoded as `m` small codebook indices (a per-subspace k-means,
    * fit on a bounded sample), so the scan-side index carries m bytes
    * instead of dim floats — at 10⁹ × 64-dim that is ~8 GB of codes vs
    * ~256 GB of floats. Scoring is asymmetric (ADC): the query stays
    * full precision; its dot products against every centroid of every
    * subspace form an m×codes lookup table (built with the codegen'd
    * dot expression, broadcast with the query set), and an item's
    * approximate cosine is m TABLE LOOKUPS — no float-vector access at
    * all until the final rerank, which re-scores only the top
    * `k·refine` shortlist per query with the exact cosine expression.
    * All vectors are unit-normalized first, so per-subspace Euclidean
    * quantization and the ADC dot both approximate cosine. In a full
    * 100 TB deployment this composes with IVF (probe cells, then ADC
    * within them); here the two paths are kept separate so each is
    * independently measurable against the exact baseline. */
  def pqTopK(spark: SparkSession, items: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             m: Int = 8, codes: Int = 16, refine: Int = 4,
             seed: Long = 42L, maxFitRows: Long = 100000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    def unit(vc: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val norm = sqrt(aggregate(vc, lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      when(norm === 0.0d, vc)
        .otherwise(transform(vc, x => (x.cast("double") / norm).cast("float")))
    }

    val it = items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
      .withColumn("__u", unit(col("i_vec")))
    val dim = it.select(size(col("__u"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    def subCol(j: Int) =
      array_to_vector(slice(col("__u"), j * dsub + 1, dsub)).as(s"__s$j")

    // fit: per-subspace k-means over a bounded sample (same trade as the
    // IVF fit — centroids converge on a fraction of the corpus)
    val total = it.count()
    val fitInput =
      if (total <= maxFitRows) it
      else it.sample(withReplacement = false,
        math.min(1.0, maxFitRows.toDouble / total * 1.05), seed)
    val fitDf = fitInput.select((0 until m).map(subCol): _*).localCheckpoint()
    val models = inParallel(subspaceFits(fitDf, m, codes, seed): _*)

    // encode: ONE pass over the corpus, m nearest-centroid assignments;
    // everything downstream of this line touches codes, not vectors
    val withSubs = it.select(
      (col("vec_id") +: (0 until m).map(subCol)): _*)
    val encoded = models.foldLeft(withSubs)((df, mod) => mod.transform(df))
      .select((col("vec_id") +: (0 until m).map(j => col(s"code_$j"))): _*)

    // ADC tables: adc[j*codes + c] = dot(query subvector j, centroid c)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("__qu", unit(col("q_vec")))
    // a codebook can come back with FEWER than `codes` centers: the
    // seeded random init samples k vectors and collapses duplicates, and
    // a corpus whose subspace slices repeat (replicated/perturbed
    // fixtures, quantized embeddings) makes collisions likely. The ADC
    // stride stays `codes`; slots past a model's real centers pad with
    // 0 and are unreachable (predictions are always < numCenters).
    // clusterCenters converts every mllib center to ml vectors per CALL
    // — hoist to one call per subspace j, not one per (j, c) slot
    val adcCols = (0 until m).flatMap { j =>
      val centers = models(j).clusterCenters
      (0 until codes).map { c =>
        if (c < centers.length)
          VectorFunctions.dot_product(
            slice(col("__qu"), j * dsub + 1, dsub),
            array(centers(c).toArray.map(x => lit(x.toFloat)): _*))
        else lit(0.0d)
      }
    }
    val qtab = q.select(col("query_id"), col("q_vec"), array(adcCols: _*).as("adc"))

    // approximate cosine = m table lookups; shortlist by it via the same
    // bounded-heap top-k as every other ANN path (the ADC scan emits
    // ≤ k·refine rows per query into the exchange, never n·|Q|), then
    // exact-rerank only the shortlist
    val approx = (0 until m)
      .map(j => element_at(col("adc"), col(s"code_$j") + lit(j * codes + 1)))
      .reduce(_ + _)
    val scoredApprox = encoded.join(broadcast(qtab), col("query_id") =!= col("vec_id"))
      .withColumn("approx", approx)
      .select(col("query_id"), col("vec_id"), col("approx"))
    val shortlist = topKPerQuery(scoredApprox, k * refine, scoreCol = "approx")
      .select(col("query_id"), col("vec_id"))
    val reranked = shortlist
      .join(it.select(col("vec_id"), col("i_vec")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("q_vec"))), "query_id")
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(reranked.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** The m independent per-subspace codebook fits, for [[inParallel]]:
    * each is a small seeded k-means over the (localCheckpointed, bounded)
    * fit sample, so running them as lanes just lets the scheduler
    * overlap their jobs — measured as the dominant cost of x45 when run
    * sequentially. Seeds are per-subspace, so results are identical to the
    * sequential fit. */
  private def subspaceFits(fitDf: DataFrame, m: Int, codes: Int, seed: Long)
      : Seq[() => org.apache.spark.ml.clustering.KMeansModel] = {
    import org.apache.spark.ml.clustering.KMeans
    (0 until m).map { j => () =>
      // seeded RANDOM init, not k-means||: the parallel init's extra
      // sampling passes cost ~4 driver jobs per fit — at m fits × 10
      // iters the job-scheduling overhead, not the math, dominates this
      // stage (measured: the suite-order variance of x45). Codebooks of
      // 16-256 centroids over a bounded sample converge fine from random
      // seeds, and the exact rerank downstream absorbs any marginal
      // codebook-quality difference (recall floor is spec-asserted).
      new KMeans().setK(codes).setSeed(seed + j).setMaxIter(10)
        .setInitMode("random")
        .setFeaturesCol(s"__s$j").setPredictionCol(s"code_$j").fit(fitDf)
    }
  }

  /** x46: IVF × PQ — the composed shape [[pqTopK]]'s doc promises
    * ("probe cells, then ADC within them"), and the one you'd actually
    * deploy at 100 TB: the coarse quantizer prunes WHICH items are
    * scored (each query touches `nProbe` of `nLists` cells) while PQ
    * shrinks WHAT the scan reads and does per item (m one-byte codes
    * scored by table lookup, no float-vector access before the exact
    * rerank of the k·refine shortlist). One corpus pass assigns cell +
    * codes together; both fits share one bounded sample. Recall is
    * bounded above by [[ivfTopK]] (same probes, approximate in-cell
    * scores) and below by neither parent alone — the
    * recall-vs-brute-force floor is spec-asserted next to PQ-alone's. */
  def ivfPqTopK(spark: SparkSession, items: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                nLists: Int = 16, nProbe: Int = 6,
                m: Int = 8, codes: Int = 16, refine: Int = 4,
                seed: Long = 42L, maxFitRows: Long = 100000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    def unit(vc: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val norm = sqrt(aggregate(vc, lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      when(norm === 0.0d, vc)
        .otherwise(transform(vc, x => (x.cast("double") / norm).cast("float")))
    }

    val it = items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
      .withColumn("__u", unit(col("i_vec")))
      .withColumn("__unit", array_to_vector(col("__u")))
    val dim = it.select(size(col("__u"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    def subCol(j: Int) =
      array_to_vector(slice(col("__u"), j * dsub + 1, dsub)).as(s"__s$j")

    val total = it.count()
    val fitInput =
      if (total <= maxFitRows) it
      else it.sample(withReplacement = false,
        math.min(1.0, maxFitRows.toDouble / total * 1.05), seed)
    val fitDf = fitInput
      .select((col("__unit") +: (0 until m).map(subCol)): _*).localCheckpoint()
    // coarse quantizer and PQ codebooks are independent fits over the
    // same checkpointed sample — one fan-out overlaps the coarse fit's
    // jobs with the subspace fits instead of paying it serially up front
    val coarse +: pqModels = inParallel(
      (() => new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("__unit").setPredictionCol("list").fit(fitDf)) +:
        subspaceFits(fitDf, m, codes, seed): _*)

    // ONE corpus pass: coarse cell + the m code assignments together
    val withSubs = it.select(
      (col("vec_id") +: col("__unit") +: (0 until m).map(subCol)): _*)
    val encoded = pqModels.foldLeft(coarse.transform(withSubs))(
        (df, mod) => mod.transform(df))
      .select((col("vec_id") +: col("list").cast("long").as("list") +:
               (0 until m).map(j => col(s"code_$j"))): _*)

    // probe-cell selection: |Q|·nLists broadcast scoring → nProbe cells
    val centers = coarse.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    val centersDf = spark.createDataFrame(centers).toDF("list", "center")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("__qu", unit(col("q_vec")))
    val cellSims = q.crossJoin(broadcast(centersDf))
      .withColumn("sim", VectorFunctions.cosine_similarity(col("q_vec"), col("center")))
      .select(col("query_id"), col("list").cast("long").as("list"), col("sim"))
    val probes = topKPerQuery(cellSims, nProbe, scoreCol = "sim", idCol = "list")
      .select(col("query_id"), col("list"))

    // ADC tables ride along with the probes: |Q|·nProbe broadcast rows.
    // Same short-codebook padding as pqTopK: random-init k-means can
    // return < `codes` centers on duplicate-heavy corpora; padded slots
    // are unreachable (predictions < numCenters).
    // one clusterCenters call per subspace (each call re-converts the
    // whole mllib codebook to ml vectors — hoisted out of the c loop)
    val adcCols = (0 until m).flatMap { j =>
      val pcenters = pqModels(j).clusterCenters
      (0 until codes).map { c =>
        if (c < pcenters.length)
          VectorFunctions.dot_product(
            slice(col("__qu"), j * dsub + 1, dsub),
            array(pcenters(c).toArray.map(x => lit(x.toFloat)): _*))
        else lit(0.0d)
      }
    }
    val qtab = q.select(col("query_id"), array(adcCols: _*).as("adc"))
    val probedAdc = probes.join(qtab, "query_id")

    val approx = (0 until m)
      .map(j => element_at(col("adc"), col(s"code_$j") + lit(j * codes + 1)))
      .reduce(_ + _)
    val scoredApprox = encoded.as("it").join(broadcast(probedAdc.as("pr")),
        col("it.list") === col("pr.list") && col("query_id") =!= col("vec_id"))
      .withColumn("approx", approx)
      .select(col("query_id"), col("vec_id"), col("approx"))
    val shortlist = topKPerQuery(scoredApprox, k * refine, scoreCol = "approx")
      .select(col("query_id"), col("vec_id"))
    val reranked = shortlist
      .join(it.select(col("vec_id"), col("i_vec")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("q_vec"))), "query_id")
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("q_vec"), col("i_vec")))
    topKPerQuery(reranked.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  /** x114: [[ivfPqTopK]]'s HASH-CHECKED twin — IVF×PQ with FIXED coarse
    * centroids and FIXED codebooks (the x108 fixed-centroid pattern,
    * applied to the PQ family). The only non-SQL-expressible pieces of
    * x45/x46 are the k-means fits; freezing both quantizers to the raw
    * embeddings of the first `nLists` / `codes` vec_ids makes every
    * stage closed-form, so a DuckDB oracle recomputes cell assignment
    * (argmax cosine, the x108 rule), per-subspace encode (argmin
    * ||cb||² − 2·⟨slice, cb⟩ — the Euclidean-nearest rule with the
    * common ‖slice‖² term dropped on BOTH engines), probe-cell
    * selection, the ADC lookup-sum, the k·refine shortlist cut, and
    * the exact rerank value-for-value. Deltas vs the learned path,
    * on purpose: no unit normalization (it exists to make learned
    * Euclidean cells track cosine; with cosine assignment it is
    * redundant, and dropping it keeps the twin free of float-rounding
    * mirroring) and cosine (not Euclidean) coarse assignment — the
    * learned variants stay the quality path; the twin pins the shared
    * encode/ADC/shortlist/rerank machinery.
    *
    * Scale shape: centroids and codebooks are bounded relations by
    * construction (nLists + codes rows), collected once and inlined as
    * literal expressions — cell + code assignment is then ROW-LOCAL
    * over the corpus (exactly like the learned path's model.transform),
    * the probe join broadcasts |Q|·nProbe rows, and the only exchanges
    * are the bounded-heap top-k partials (O(|Q|·k·refine)). The
    * encoded relation is localCheckpointed before the join — the
    * fixed-width index is the operator's product, and the barrier
    * fences Catalyst's constraint propagation off the m derived code
    * columns (the x111 lesson). */
  /** Collect the x114 fixed-quantizer rows (vec_ids 0..max(nLists,
    * codes)−1) with the loud-on-gaps contract, returning (rows, dsub). */
  private[graft] def pqFixedRows(src: DataFrame, nLists: Int, m: Int,
                                 codes: Int): (Map[Long, Array[Float]], Int) = {
    val fixedRows = src.filter(col("vec_id") < math.max(nLists, codes))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    require((0 until math.max(nLists, codes)).forall(i => fixedRows.contains(i.toLong)),
      s"fixed quantizers need vec_ids 0..${math.max(nLists, codes) - 1} present")
    val dim = fixedRows(0L).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    (fixedRows, dim / m)
  }

  /** Row-local per-subspace PQ encode: argmin ‖cb‖² − 2⟨slice, cb⟩
    * (Euclidean-nearest with the common ‖slice‖² dropped), ties to the
    * lowest code. ‖cb‖² is computed BY THE KERNEL (dot_product of the
    * literal against itself), never driver math — both engines fold
    * the same literal floats left-to-right. */
  private[graft] def pqCodeOf(vec: Column, fixedRows: Map[Long, Array[Float]],
                              j: Int, dsub: Int, codes: Int): Column = {
    val s = slice(vec, j * dsub + 1, dsub)
    val arms = (0 until codes).map { c =>
      val cb = litVec(java.util.Arrays.copyOfRange(
        fixedRows(c.toLong), j * dsub, (j + 1) * dsub))
      struct((VectorFunctions.dot_product(cb, cb) -
        lit(2.0d) * VectorFunctions.dot_product(s, cb)).as("score"),
        lit(c).as("c"))
    }
    array_min(array(arms: _*)).getField("c")
  }

  /** The PQ code relation (vec_id, cell, code_0..code_{m−1}) — the
    * compressed index: m small integers per vector instead of dim
    * floats. Cell assignment is the shared argmaxCell kernel. */
  private[graft] def pqEncoded(src: DataFrame,
                               fixedRows: Map[Long, Array[Float]],
                               nLists: Int, m: Int, codes: Int,
                               dsub: Int): DataFrame = {
    val cents = IndexedSeq.tabulate(nLists)(i => fixedRows(i.toLong))
    src.select(col("vec_id") +: argmaxCell(col("vec"), cents).as("cell") +:
      (0 until m).map(j =>
        pqCodeOf(col("vec"), fixedRows, j, dsub, codes).as(s"code_$j")): _*)
  }

  /** Query-side probe + ADC relation: per query, the nProbe probe cells
    * (exploded) and the m×codes ADC lookup table ⟨q-slice, cb⟩ — all
    * row-local expressions. */
  private[graft] def pqProbed(q: DataFrame,
                              fixedRows: Map[Long, Array[Float]],
                              nLists: Int, nProbe: Int, m: Int, codes: Int,
                              dsub: Int): DataFrame = {
    val cents = IndexedSeq.tabulate(nLists)(i => fixedRows(i.toLong))
    val adcCols = (0 until m).flatMap { j =>
      val s = slice(col("q_vec"), j * dsub + 1, dsub)
      (0 until codes).map { c =>
        VectorFunctions.dot_product(s, litVec(java.util.Arrays.copyOfRange(
          fixedRows(c.toLong), j * dsub, (j + 1) * dsub)))
      }
    }
    q.select(col("query_id"), col("q_vec"),
        probeCells(col("q_vec"), cents, nProbe).as("cells"),
        array(adcCols: _*).as("adc"))
      .select(col("query_id"), col("q_vec"), col("adc"),
        explode(col("cells")).as("cell"))
  }

  /** ADC scan + shortlist + exact rerank: the serve tail shared by the
    * x114 batch entry and the s45 streamed PQ serving. `approx` = m
    * ordered table lookups (left-associated double fold, j ascending —
    * the oracle lists its addends ORDER BY j for the same fold);
    * rerank fetches the ORIGINAL vectors from `srcVec` (the code store
    * never carries them — that is the PQ memory contract). */
  private[graft] def pqAdcRank(encoded: DataFrame, probed: DataFrame,
                               srcVec: DataFrame, q: DataFrame,
                               k: Int, m: Int, codes: Int,
                               refine: Int): DataFrame = {
    val approx = (0 until m)
      .map(j => element_at(col("adc"), col(s"code_$j") + lit(j * codes + 1)))
      .reduce(_ + _)
    val scoredApprox = encoded.join(broadcast(probed),
        encoded("cell") === probed("cell") &&
          col("query_id") =!= col("vec_id"))
      .withColumn("approx", approx)
      .select(col("query_id"), col("vec_id"), col("approx"))
    val shortlist = topKPerQuery(scoredApprox, k * refine, scoreCol = "approx")
      .select(col("query_id"), col("vec_id"))
    // exact rerank of the shortlist only (broadcast-hinted: the
    // shortlist is |Q|·k·refine rows, the item side stays in place)
    val reranked = srcVec.join(broadcast(shortlist), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine",
        VectorFunctions.cosine_similarity(col("q_vec"), col("vec")))
    topKPerQuery(reranked.select(col("query_id"), col("vec_id"), col("cosine")), k)
  }

  def ivfPqFixedTopK(items: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     nLists: Int = IvfPqFixed.NLists, nProbe: Int = IvfPqFixed.NProbe,
                     m: Int = IvfPqFixed.M, codes: Int = IvfPqFixed.Codes,
                     refine: Int = IvfPqFixed.Refine): DataFrame = {
    val src = items.select(col(idCol).cast("long").as("vec_id"),
                           col(vecCol).as("vec"))
    // bounded by construction: nLists + codes rows of the input table
    val (fixedRows, dsub) = pqFixedRows(src, nLists, m, codes)
    val encoded = pqEncoded(src, fixedRows, nLists, m, codes, dsub)
      .localCheckpoint()
    val q = queries.select(col(idCol).cast("long").as("query_id"),
                           col(vecCol).as("q_vec"))
    val probed = pqProbed(q, fixedRows, nLists, nProbe, m, codes, dsub)
      .localCheckpoint()
    pqAdcRank(encoded, probed, src, q, k, m, codes, refine)
  }

  // -------------------------------------------------------------------
  // Embedding clustering (x40)
  // -------------------------------------------------------------------

  /** Semantic corpus clustering — the SemDeDup/topic-bucketing step of an
    * embedding-curation pipeline, and the same quantizer [[ivfTopK]] uses
    * as its index. K-means over L2-normalized vectors (so Euclidean
    * cells = cosine neighborhoods), fit on a bounded sample, one
    * row-local assignment pass over the full corpus.
    *
    * Returns (assignments, centers):
    *  - assignments: (vec_id, cluster, cos_to_center) — every input row,
    *    cosine is to the ASSIGNED centroid;
    *  - centers: (cluster, center float array) — nClusters rows.
    *
    * Assignment is ARGMAX-COSINE to the learned centroids (the spherical
    * k-means assignment rule), not Euclidean nearest-centroid: centroids
    * of unit vectors have unequal norms, so the two rules genuinely
    * differ, and for embedding work the cosine one is the contract.
    * The fit itself is Euclidean k-means over the unit vectors — the
    * standard spherical approximation. Spec-asserted against an
    * independent argmax recomputation. */
  def clusterEmbeddings(spark: SparkSession, items: DataFrame,
                        nClusters: Int = 8,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        seed: Long = 42L, maxFitRows: Long = 100000L)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val itemsU = items
      .select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
      .withColumn("__norm",
        sqrt(aggregate(col("i_vec"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .withColumn("__unit", array_to_vector(
        when(col("__norm") === 0.0d, col("i_vec").cast("array<double>"))
          .otherwise(transform(col("i_vec"), x => x.cast("double") / col("__norm")))))

    val total = itemsU.count()
    val fitInput =
      if (total <= maxFitRows) itemsU
      else itemsU.sample(withReplacement = false,
        math.min(1.0, maxFitRows.toDouble / total * 1.05), seed)
    val model = new KMeans().setK(nClusters).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__unit").setPredictionCol("cluster")
      .fit(fitInput)

    val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    val centersDf = spark.createDataFrame(centers).toDF("cluster", "center")

    // one broadcast pass: n×k cosines, per-vector argmax as a max_by
    // AGGREGATE (partial map-side combine shrinks the exchange to one row
    // per vector; the window it replaces shuffled all n×k scored rows).
    // Tie-break: highest cosine, then LOWEST cluster id — struct ordering
    // on (cos, -cluster) matches the old orderBy(desc cos, asc cluster).
    val assignments = itemsU
      .crossJoin(broadcast(centersDf))
      .withColumn("cos_to_center",
        VectorFunctions.cosine_similarity(col("i_vec"), col("center")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cluster"), col("cos_to_center")),
                  struct(col("cos_to_center"), -col("cluster"))).as("__best"))
      .select(col("vec_id"), col("__best.cluster").as("cluster"),
              col("__best.cos_to_center").as("cos_to_center"))
    (assignments, centersDf)
  }

  /** x116's core: [[clusterEmbeddings]] with FIXED centroids (the
    * embeddings of vec_id 0..nClusters−1) instead of a learned fit —
    * the x108/x114 pattern applied to the clustering entry, so the
    * max_by partial-aggregate ARGMAX-COSINE assignment path (the exact
    * code shape clusterEmbeddings uses, PlanSpec-pinned) gets a
    * value-level oracle check its learned variant cannot have.
    * cos_to_center is rounded 6 in-plan so the downstream per-cluster
    * average sums IDENTICAL summands on both engines (the x108 assign
    * rule). */
  def clusterEmbeddingsFixed(items: DataFrame, nClusters: Int = 8,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val cents = items.filter(col(idCol) < nClusters)
      .select(col(idCol).cast("long").as("cluster"), col(vecCol).as("center"))
    // fail loudly on malformed input instead of silently degrading to
    // fewer centroids (the ivfPqFixedTopK contract; ADVICE r15) — the
    // relation is ≤ nClusters rows by the filter, so the count is cheap
    val nCents = cents.count()
    require(nCents == nClusters,
      s"fixed clustering needs vec_ids 0..${nClusters - 1} present; found $nCents")
    items.select(col(idCol).as("vec_id"), col(vecCol).as("i_vec"))
      .crossJoin(broadcast(cents))
      .withColumn("cos_to_center",
        VectorFunctions.cosine_similarity(col("i_vec"), col("center")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cluster"), col("cos_to_center")),
                  struct(col("cos_to_center"), -col("cluster"))).as("__best"))
      .select(col("vec_id"), col("__best.cluster").as("cluster"),
              round(col("__best.cos_to_center"), 6).as("cos_to_center"))
  }

  // ---- x91: embedding-health audit --------------------------------------

  /** Per-label embedding-table health: the pre-flight audit every
    * vector pipeline runs before trusting ANN/dedup results built on
    * the table — dimension consistency (a ragged table silently breaks
    * dot products), zero/near-zero-norm counts (un-normalizable
    * vectors poison cosine math), and the L2-norm envelope (collapsed
    * or exploded norms flag an upstream encoder bug).
    *
    * Scale shape: norm and dimension are row-local (the codegen'd
    * [[VectorFunctions.dot_product]] kernel — sequential left-to-right
    * double accumulation, matching DuckDB's `list_sum` fold order for
    * hash parity), then ONE label-grain partial-agg'd shuffle;
    * |labels| output rows. mean_norm crosses partition boundaries as
    * double partials, so norm stats round(6) per the transcendental-
    * parity rule; counts and dims are exact integers. */
  def embeddingHealth(embs: DataFrame, zeroTol: Double = 1e-6): DataFrame =
    embs
      .withColumn("__dim", size(col("embedding")))
      .withColumn("__norm",
        sqrt(VectorFunctions.dot_product(col("embedding"), col("embedding"))))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("__dim")).as("dim_min"),
        max(col("__dim")).as("dim_max"),
        sum(when(col("__norm") < zeroTol, 1L).otherwise(0L)).as("n_zero_norm"),
        round(avg(col("__norm")), 6).as("mean_norm"),
        round(min(col("__norm")), 6).as("min_norm"),
        round(max(col("__norm")), 6).as("max_norm"))
      .orderBy("label")

  // ---- x92: label-centroid separation audit -----------------------------

  /** Pairwise cosine between LABEL CENTROIDS — the cluster-separation
    * read on a labeled embedding table: labels whose centroids sit at
    * cosine ≈ 1 are semantically indistinct (merge candidates /
    * labeling errors), centroids near orthogonal are well-separated.
    * The audit behind "are these classes actually separable" before
    * training a classifier head on the table.
    *
    * Scale shape: the corpus collapses to the (label, dim) grain in
    * ONE partial-agg'd shuffle — posexplode multiplies rows ×dims but
    * map-side combine shrinks the exchange to |labels|·dims rows per
    * partition, so the shuffle is model-sized, never corpus-sized.
    * Everything downstream (norms, the label×label join on dim) runs
    * on the |labels|·dims relation. Centroid components round(6)
    * IN-PLAN on both engines (they cross an avg partial), and the
    * final cosine rounds again — the x35/x87 parity rule applied
    * twice. */
  def centroidSeparation(embs: DataFrame): DataFrame = {
    val c = embs
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .localCheckpoint() // feeds the pair join twice + the norm relation
    val norms = c.groupBy(col("label"))
      .agg(sqrt(sum(col("cv") * col("cv"))).as("nrm"))
    val pairs = c.as("a").join(c.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.cv") * col("b.cv")).as("dot"))
    pairs
      .join(norms.as("na"), col("label_a") === col("na.label"))
      .join(norms.as("nb"), col("label_b") === col("nb.label"))
      .select(col("label_a"), col("label_b"),
        round(col("dot") / (col("na.nrm") * col("nb.nrm")), 6).as("cosine"))
      .orderBy("label_a", "label_b")
  }
}
