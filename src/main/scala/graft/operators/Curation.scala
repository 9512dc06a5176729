package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Training-data curation operators: deterministic splits, rule-based
  * quality filtering (the C4/Gopher-style rule family), PII scrubbing,
  * sequence packing, and per-stratum heavy hitters.
  *
  * All of these are row-local column expressions or single-shuffle
  * window/agg plans — the shapes that survive a 100 TB corpus:
  * no UDFs, no collects, no joins wider than the explicit groupBy key.
  *
  * Every constant that a DuckDB oracle must agree on (hash prefixes,
  * regexes, rule thresholds, pack capacity) lives HERE and the SQL in
  * `queries.CurationQueries` is generated from it — the two engines
  * cannot drift apart.
  */
object Curation {

  // ---- x20: deterministic, stratified train/val/test split -------------

  /** Hex-prefix boundaries on md5(id): [00,cc) train (~79.7%),
    * [cc,e6) val (~10.2%), [e6,ff] test (~10.2%). Two lowercase hex
    * chars compare identically as strings and as numbers, so the same
    * boundary works lexicographically in any engine — no hex→int
    * conversion (which DuckDB and Spark spell differently) is needed. */
  val TrainUpper = "cc"
  val ValUpper   = "e6"

  /** The split of one id as a pure ROW-LOCAL expression — the function
    * both [[withSplit]] and the leakage audit (x83) apply. Because the
    * split is a function of the id alone, consumers never join a split
    * relation: any row carrying the id can compute its split in place,
    * at zero shuffle cost. */
  def splitOf(idCol: Column): Column = {
    val bucket = substring(md5(idCol.cast("string")), 1, 2)
    when(bucket < TrainUpper, "train")
      .when(bucket < ValUpper, "val")
      .otherwise("test")
  }

  /** Deterministic split assignment: md5 of the STRING form of the id.
    * Content-stable — re-running on a grown corpus never reassigns an
    * existing id, which is what makes the split reproducible across
    * ingestion batches at scale (a random() split is not). Row-local;
    * zero shuffles. */
  def withSplit(df: DataFrame, idCol: Column): DataFrame =
    df.withColumn("bucket", substring(md5(idCol.cast("string")), 1, 2))
      .withColumn("split", splitOf(idCol))

  // ---- x21: rule-based quality filter (C4/Gopher rule family) ----------

  val MinWords     = 20
  val MaxWords     = 80
  val MinMeanWlen  = 3.0
  val MaxMeanWlen  = 8.0
  val MinAlnum     = 0.8
  /** Presence (not frequency) of high-frequency function words — the
    * Gopher "stop word" rule: require ≥ MinStopHits distinct hits. */
  val StopSet: Seq[String] = Seq("the", "a", "and", "of", "to", "in")
  val MinStopHits  = 2

  private def stopHits(t: Column): Column = StopSet
    .map(w => when(TF.wordOccurrences(t, w) > 0, 1).otherwise(0))
    .reduce(_ + _)

  def ruleWords(t: Column): Column    = TF.tokenCount(t).between(MinWords, MaxWords)
  def ruleWordLen(t: Column): Column  = TF.avgTokenLen(t).between(MinMeanWlen, MaxMeanWlen)
  def ruleAlnum(t: Column): Column    = TF.alnumRatio(t) >= MinAlnum
  def ruleStopword(t: Column): Column = stopHits(t).cast("long") >= MinStopHits

  /** The conjunctive keep decision — the single expression both the
    * per-rule report (x21) and the composed pipeline (x27) filter on. */
  def keepRule(t: Column): Column =
    ruleWords(t) && ruleWordLen(t) && ruleAlnum(t) && ruleStopword(t)

  /** Per-document rule flags + the conjunctive keep decision. Pure
    * codegen'd column exprs over one row — the 100 TB plan is a single
    * scan with every rule fused into one WholeStageCodegen span. */
  def qualityRules(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"), col("source"),
      TF.tokenCount(t).cast("long").as("n_words"),
      ruleWords(t).as("rule_words"),
      ruleWordLen(t).as("rule_word_len"),
      ruleAlnum(t).as("rule_alnum"),
      ruleStopword(t).as("rule_stopwords"))
      .withColumn("keep",
        col("rule_words") && col("rule_word_len") &&
        col("rule_alnum") && col("rule_stopwords"))
  }

  // ---- x22: PII scrubbing ----------------------------------------------

  /** Patterns restricted to syntax Java regex and RE2 (DuckDB) read
    * identically: character classes, bounded repetition, literals. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat  = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val PhonePat = "\\+\\d \\d{3}-\\d{3}-\\d{4}"

  val EmailToken = "<EMAIL>"
  val IpToken    = "<IP>"
  val PhoneToken = "<PHONE>"

  /** Count + redact emails, IPv4s, phone numbers. Order matters (emails
    * contain dot-separated digits an IP pattern could bite): emails
    * first, then IPs, then phones — counts are taken on the ORIGINAL
    * text so they report what was present, not what survived earlier
    * passes. Row-local, zero shuffles. */
  def scrubPii(df: DataFrame, textCol: Column): DataFrame =
    df.withColumn("n_emails", regexp_count(textCol, lit(EmailPat)).cast("long"))
      .withColumn("n_ips",    regexp_count(textCol, lit(Ipv4Pat)).cast("long"))
      .withColumn("n_phones", regexp_count(textCol, lit(PhonePat)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(textCol, EmailPat, EmailToken),
            Ipv4Pat, IpToken),
          PhonePat, PhoneToken))

  /** x22/s12 fixture augmentation: the synthetic corpus is PII-free, so
    * a deterministic id-derived contact line (one email, one IPv4, one
    * phone) is appended in BOTH engines — the scrub path is exercised on
    * every row, never vacuously green. */
  def contactAugmented(textCol: Column, idCol: Column): Column =
    concat(textCol,
      lit(" Contact user"), idCol.cast("string"),
      lit("@example.com from 192.168."), (idCol % 256).cast("string"),
      lit("."), (idCol % 100).cast("string"),
      lit(" or +1 555-014-"), lpad((idCol % 10000).cast("string"), 4, "0"), lit("."))

  /** x74 fixture augmentation: the synthetic corpus is ASCII, where NFC
    * and control-stripping are identity — so a deterministic id-derived
    * suffix of DECOMPOSED sequences (base vowel + combining mark, which
    * NFC must compose) and C0 controls (which the cleaner must strip) is
    * appended in BOTH engines. The hash then proves the JVM normalizer
    * and DuckDB's utf8proc agree codepoint-for-codepoint on the
    * exercised sequences — never vacuously green. */
  def unicodeAugmented(textCol: Column, idCol: Column): Column =
    concat(textCol,
      lit(" id"), idCol.cast("string"),
      lit(" cafe\u0301 "),                       // decomposed é → composes
      lit("\u0007ctl\u001b"),                    // BEL + ESC → stripped
      when(idCol % 3 === 0, lit("a\u0300"))      // à
        .when(idCol % 3 === 1, lit("e\u0301"))   // é
        .otherwise(lit("o\u0308")),              // ö
      lit("\r"))                                 // CR → stripped

  // ---- x23: sequence packing -------------------------------------------

  val PackCapacity = 512

  /** Chunked packing: documents ordered by id within each source,
    * assigned to the pack their exclusive prefix-sum of tokens falls in.
    * Deterministic and expressible as one window pass — the oracle-
    * checkable contract. Documents may straddle a boundary (the reader
    * splits them); `greedyPack` below is the no-straddle variant.
    *
    * Scale shape: one shuffle on `source` (the stratum), a sequential
    * scan within each partition — at 100 TB you pack within
    * (source, shard) strata so no single partition is unbounded. */
  def packChunks(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      .withColumn("cum_excl", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_excl DIV $PackCapacity"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("pack_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
  }

  /** Greedy first-fit packing with NO straddling: a doc that would
    * overflow the open pack closes it and starts the next; a single doc
    * larger than the capacity gets a pack of its own. Runs as a plain
    * JVM scan per source partition (the stateful fold a window function
    * can't express). Invariants proved in CurationSpec: every pack
    * except oversized singletons fits the capacity; every doc packed
    * exactly once; deterministic. */
  def greedyPack(docs: DataFrame, capacity: Int = PackCapacity): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs
      .select(col("source"), col("doc_id").cast("long"),
              TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
    sized.mapPartitions { it =>
      var src: String = null
      var pack = -1L
      var used = 0L
      it.map { case (source, docId, n) =>
        if (source != src) { src = source; pack = -1L; used = 0L }
        if (pack < 0L || used + n > capacity) { pack += 1; used = 0L }
        used += n
        (source, pack, docId, n)
      }
    }.toDF("source", "pack_id", "doc_id", "n_tokens")
  }

  // ---- x28: repetition scoring (the Gopher repetition rules) -----------

  val MaxDupWordRatio = 0.65
  val MaxDup2gRatio   = 0.06

  /** Duplicate-word and duplicate-2-gram ratios per document, plus the
    * pass flag. Entirely row-local — no explode, and no HOFs either:
    * distinct-gram counting runs through the codegen'd
    * [[graft.functions.DistinctNgramCount]] expression (one token pass
    * per n; the HOF `transform`+`array_distinct` composition it replaced
    * is CodegenFallback and measured 4× slower on this entry). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    import graft.functions.TextKernels
    TextKernels.register(docs.sparkSession)
    val n = size(TF.tokens(col("text")))
    val dupWord =
      lit(1.0) - TextKernels.distinct_ngram_count(col("text"), 1).cast("double") / n
    val dup2g = when(n < 2, 0.0)
      .otherwise(lit(1.0) -
        TextKernels.distinct_ngram_count(col("text"), 2).cast("double") / (n - 1))
    docs.select(col("doc_id"), col("source"),
        dupWord.as("dup_word_ratio"), dup2g.as("dup_2gram_ratio"))
      .withColumn("rule_repetition",
        col("dup_word_ratio") <= MaxDupWordRatio &&
        col("dup_2gram_ratio") <= MaxDup2gRatio)
  }

  // ---- x33: TF-IDF keyword extraction ----------------------------------

  val TfidfK = 5

  /** Top-K terms per document by smoothed TF-IDF
    * (`tf · (ln((N+1)/(df+1)) + 1)`, the sklearn formulation). The
    * score is rounded to 6 decimals BEFORE ranking: `ln` can differ by
    * an ulp between runtimes, and the operator's selection contract
    * must not depend on the last bit of a transcendental — after
    * rounding, order (with the term tie-break) is exactly reproducible
    * anywhere. Shapes: one explode→groupBy for tf, a vocabulary-sized
    * aggregation for df (joined back ON TOKEN — shuffles vocabulary,
    * not corpus), a broadcast scalar for N, a per-doc rank window. */
  def tfidfTopK(docs: DataFrame, k: Int = TfidfK): DataFrame = {
    // tf is CORPUS-sized (distinct doc×token) — recomputed per reference
    // rather than stored (row-local explode + map-side partial agg; see
    // unigramScore for the same trade)
    def tf = docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
  }

  // ---- x71: BM25 ranked retrieval --------------------------------------

  val BmK1 = 1.2
  val BmB  = 0.75
  val BmK  = 5
  /** Query slice = benchmark-mod ids BELOW this bound: an eval set is a
    * FIXED artifact — it does not grow with the corpus, and neither may
    * the query side of the retrieval join (measured: an uncapped slice
    * made the 10× ScaleCheck quadratic — 45× wall / 638× shuffle). */
  val BmQueryIdMax = 1000L
  /** Per-query term budget: only the `BmQTerms` RAREST query terms (df
    * ascending, token tie-break) retrieve. Stop-term posting lists are
    * the classic BM25 blow-up — a term with df ≈ N drags the whole
    * corpus into the candidate set while contributing ~zero idf; capping
    * by rarity bounds per-query candidates to the budgeted posting
    * lists (the query-term-budget analogue of WAND-style pruning). */
  val BmQTerms = 16
  /** BM25 serving IN-list boundary (the s36 escape-route switch made
    * code, r17): a per-trigger query token set at or below this size is
    * pushed into the postings/df store scans as a LITERAL IN, which
    * reaches parquet row-group stats on the sortBy'd token column and
    * prunes non-matching posting lists at the SCAN; beyond it the serve
    * falls back to the s36 broadcast left-semi prune, which bounds
    * merge-input ROWS without a literal list in the plan. Crossover
    * MEASURED (COVERAGE.md's BM25 route-crossover row: a since-deleted
    * receipt harness on the 100× store — 11.6M posting rows,
    * 500k docs; min of 2 warm serves per point): IN wins at streaming
    * widths (32 terms: 1.26 s vs 1.79 s semi; 128: 1.51 vs 1.98) and
    * ties at ~256 (1.72 vs 1.67); beyond it the literal list's
    * PLAN-side weight grows superlinearly (the r14 giant-literal-tree
    * lesson at filter grain: 1024 terms 3.81 s, 16k 30.1 s, 64k
    * 112.8 s) while the semi-join stays flat (~1.8–2.4 s at every
    * width). Real serve triggers are query-batch-sized (tens of
    * distinct terms) and stay on the IN route; the cap routes
    * wide-batch/analytic triggers to the flat fallback before the plan
    * cost bites. */
  val BmInMaxTerms = 256

  /** The Okapi BM25 per-(query, doc, token) weight over columns
    * (tf, df, dl, n_docs, avgdl) — shared verbatim between [[bm25TopK]]
    * and the s38 streamed serving twin so the two paths (and the DuckDB
    * oracle both hash against) cannot desync. */
  private[graft] def bm25Weight: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("tf") * (BmK1 + 1.0)) /
      (col("tf") + lit(BmK1) * (lit(1.0 - BmB) + lit(BmB) * col("dl") / col("avgdl")))

  /** BM25 top-K retrieval: for each benchmark-slice document (the same
    * deterministic `doc_id % benchMod == 0` eval-set stand-in x26 uses),
    * rank the remaining corpus by Okapi BM25 (Robertson et al., TREC-3;
    * k1 = 1.2, b = 0.75, the Lucene-default `ln(1 + (N-df+0.5)/(df+0.5))`
    * idf) over the distinct query terms. This is the retrieval-grain
    * companion to x26's binary n-gram contamination flag: instead of
    * "does any 4-gram collide", it answers "which corpus documents look
    * closest to this eval doc, scored" — the triage list a
    * decontamination review actually works from.
    *
    * Scale shape: the corpus is shuffled once on (doc_id, token) for tf
    * (the same postings build as x33); doc length rides that aggregation
    * and the df/stats passes are vocabulary-sized/scan-only. Retrieval
    * is an inverted-index equi-join: postings stream past a BROADCAST
    * query-term table, so non-matching tokens never leave the map side
    * and the corpus is never shuffled by query. Two explicit caps keep
    * the join linear in the corpus: the query slice is FIXED-size
    * ([[BmQueryIdMax]] — an eval set does not grow with the corpus) and
    * each query retrieves only its [[BmQTerms]] rarest terms, so
    * per-query candidates are bounded by the budgeted posting lists.
    * The final per-query rank window partitions on query_id over
    * exactly those candidates. Scores are rounded to 6 decimals before
    * ranking (same transcendental-ulp rationale as [[tfidfTopK]]). */
  /** `maxDfFrac`: optional WAND-style STOP-TERM cap — drop query terms
    * whose df exceeds this fraction of the corpus before retrieval. On a
    * healthy corpus the rarest-`BmQTerms` budget already selects rare
    * terms and the cap is a no-op (the registry entry runs uncapped —
    * same semantics as the oracle); on a mass-duplicated corpus where
    * every query term blankets the collection (ScaleCheck's welded-
    * clique fixture), blanket terms carry ~zero idf weight but
    * corpus-sized posting lists — the cap trades their negligible score
    * contribution for bounded postings. Same role the df cap plays for
    * the dedup family's pair joins. */
  def bm25TopK(docs: DataFrame, benchMod: Int = BenchMod, k: Int = BmK,
               maxDfFrac: Option[Double] = None): DataFrame = {
    def toksCol = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val items = docs.filter(col("doc_id") % benchMod =!= 0)
    // one corpus-grain shuffle total: dl RIDES the tf aggregation (it is
    // size(tokens), projected before the explode, constant per doc — so
    // doc length costs no second scan, join, or shuffle), df gets its
    // own scan but map-side-combines to a VOCABULARY-sized exchange
    // (array_distinct first: no doc-grain intermediate), and the corpus
    // stats pass is scan-only (no shuffle at all). A naive formulation
    // deriving dl/df from tf re-executes the postings subtree — plans
    // are trees — for three corpus-wide shuffles instead of one.
    // only docs with ≥1 token (= the docs present in tf, which is what
    // the oracle's doc-length CTE sees)
    val stats = items.select(size(toksCol).as("doclen"))
      .filter(col("doclen") > 0)
      .agg(count(lit(1)).as("n_docs"), avg(col("doclen")).as("avgdl"))
    // distinct query terms (set-of-words query, standard for short
    // queries), budgeted to the BmQTerms rarest per query — df comes
    // along for free, so the scoring join needs no second broadcast
    val qterms = docs
      .filter(col("doc_id") % benchMod === 0 && col("doc_id") < BmQueryIdMax)
      .select(col("doc_id").as("query_id"), explode(toksCol).as("token"))
      .distinct()
    // postings for NON-query tokens can never survive the retrieval
    // join, so both corpus-grain aggregations semi-join against the
    // broadcast query vocabulary BEFORE aggregating — this is what an
    // inverted index does (read only the query terms' posting lists) and
    // it is the difference between an exchange sized by the corpus's
    // per-doc-distinct token count and one sized by query-term
    // occurrences (measured at the disjoint-vocabulary 10× fixture:
    // 34× shuffle rows without the filter, ~1× with it). df values are
    // unaffected: tokens are filtered, never the docs containing them.
    val qtok = qterms.select("token").distinct()
    val dfAll = items.select(explode(array_distinct(toksCol)).as("token"))
      .join(broadcast(qtok), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("df"))
    val qw = Window.partitionBy("query_id").orderBy(col("df").asc, col("token").asc)
    val scored = qterms.join(dfAll, "token")
    val capped = maxDfFrac match {
      case Some(frac) => // stop terms dropped BEFORE the budget window,
        // so blanket terms never consume rarest-term slots. The cap can
        // legitimately empty the result (every query term blankets a
        // mass-duplicated corpus) — that regime must be self-diagnosing,
        // so the dropped/surviving term counts ride the SAME job as
        // named observed metrics (Dataset.observe: zero extra scans or
        // actions; readable from queryExecution.observedMetrics or any
        // QueryExecutionListener — dropped>0 reads "terms were capped
        // away", dropped=0 reads "cap is a no-op here"). CAVEAT
        // (measured): when the WHOLE result is empty, AQE's
        // empty-relation propagation prunes this CollectMetrics node
        // from the final plan and the metrics don't surface — the
        // fully-degenerate corpus must be diagnosed with the always-on
        // per-query relation, [[bm25CapAudit]], which is also the
        // per-query grain of the same accounting.
        scored.crossJoin(broadcast(stats.select("n_docs")))
          .withColumn("__blanket", col("df") > lit(frac) * col("n_docs"))
          .observe("bm25_cap_audit",
            sum(when(col("__blanket"), 1L).otherwise(0L)).as("dropped_blanket_terms"),
            sum(when(col("__blanket"), 0L).otherwise(1L)).as("surviving_terms"))
          .filter(!col("__blanket"))
          .drop("n_docs", "__blanket")
      case None => scored
    }
    val qsel = capped
      .withColumn("tr", row_number().over(qw))
      .filter(col("tr") <= BmQTerms)
      .select("query_id", "token", "df")
    // tf narrows further: only the BUDGETED (rarest-per-query) terms
    // score, so the (doc, token) aggregation sees just their postings;
    // dl is projected before the filter, so doc length stays the full
    // token count
    val qselTok = qsel.select("token").distinct()
    val tf = items.select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("token"))
      .join(broadcast(qselTok), Seq("token"), "left_semi")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val w = Window.partitionBy("query_id").orderBy(col("bm25").desc, col("doc_id").asc)
    tf.join(broadcast(qsel), "token")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight)
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("w")), 6).as("bm25"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "bm25", "rnk")
  }

  /** Per-query accounting for [[bm25TopK]]'s `maxDfFrac` stop-term cap:
    * one row per retrieval query — (query_id, n_terms,
    * n_blanket_dropped, n_surviving) — so "query X returned nothing"
    * decomposes into "all its terms blanket this corpus under the cap"
    * vs "the cap is a no-op and the query really has no scoring docs".
    * Same plan pieces as the retrieval path (broadcast query vocabulary
    * semi-join, vocabulary-sized df exchange); the corpus is never
    * shuffled. With `maxDfFrac = None` every term survives by
    * definition and n_blanket_dropped is 0 for all queries. */
  def bm25CapAudit(docs: DataFrame, benchMod: Int = BenchMod,
                   maxDfFrac: Option[Double] = None): DataFrame = {
    def toksCol = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val items = docs.filter(col("doc_id") % benchMod =!= 0)
    val nDocs = items.select(size(toksCol).as("doclen"))
      .filter(col("doclen") > 0)
      .agg(count(lit(1)).as("n_docs"))
    val qterms = docs
      .filter(col("doc_id") % benchMod === 0 && col("doc_id") < BmQueryIdMax)
      .select(col("doc_id").as("query_id"), explode(toksCol).as("token"))
      .distinct()
    val qtok = qterms.select("token").distinct()
    val dfAll = items.select(explode(array_distinct(toksCol)).as("token"))
      .join(broadcast(qtok), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("df"))
    // left join: a query term absent from the corpus has df 0 — it is
    // counted as surviving (no cap drops it), it just retrieves nothing
    val blanket = maxDfFrac match {
      case Some(frac) => col("df") > lit(frac) * col("n_docs")
      case None       => lit(false)
    }
    qterms.join(dfAll, Seq("token"), "left")
      .na.fill(0L, Seq("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__blanket", blanket)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_terms"),
           sum(when(col("__blanket"), 1L).otherwise(0L)).as("n_blanket_dropped"),
           sum(when(col("__blanket"), 0L).otherwise(1L)).as("n_surviving"))
  }

  // ---- x77: positional phrase search -----------------------------------

  /** Exact-phrase matches of `phrases` (query_id, ph: array<string>)
    * against `corpus` (doc_id, text): positional-postings intersection.
    * The corpus explodes once to (doc, pos, token); phrase terms
    * broadcast with their in-phrase offsets; an occurrence is an anchor
    * position pos − off covered by every offset 0..len−1 (duplicate
    * tokens inside a phrase are handled — offsets, not tokens, are
    * counted). Output: (query_id, doc_id, n_occurrences, first_pos),
    * 0-based positions over the `[a-z0-9]+` token stream. */
  def phraseMatches(corpus: DataFrame, phrases: DataFrame): DataFrame = {
    val post = corpus.select(col("doc_id"),
      posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as(Seq("pos", "token")))
    val terms = phrases
      .select(col("query_id"), size(col("ph")).as("len"),
              posexplode(col("ph")).as(Seq("off", "token")))
    post.join(broadcast(terms), "token")
      .groupBy(col("query_id"), col("doc_id"),
               (col("pos") - col("off")).as("anchor"))
      .agg(count_distinct(col("off")).as("hits"), max(col("len")).as("len"))
      .filter(col("hits") === col("len"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"), min("anchor").as("first_pos"))
  }

  // ---- x26: benchmark contamination ------------------------------------

  val ContamN    = 4

  /** The span-family gram width (x64–x67, x95, x98, s26, s33). Lives
    * here — not in the queries layer — because query objects reference
    * each other and a val read during a circular object init silently
    * yields 0 (measured: x98's oracle rendered `len(w)--1`, a SQL
    * comment). The operators layer is initialization-leaf. */
  val SpanGramN  = 4
  val BenchMod   = 97

  /** s53's near-dup admission gate (the streamed twin of x106 stage 3):
    * 3-word-shingle jaccard against the winner history, candidates
    * blocked on shingles whose document frequency over the CALIBRATION
    * corpus (the full item slice, the s48/x132 pinning posture) is at
    * most [[RelNdCap]] — time-invariant blocking keys are what keep the
    * streamed gate equal to the batch oracle at every arrival split. */
  val RelNdCap = 4
  val RelNdThreshold = 0.5

  /** s53's contamination quarantine threshold: a shared-span island
    * strictly longer than one [[SpanGramN]]-gram (≥ n+1 tokens chains at
    * least two overlapping grams — single-gram collisions are common
    * phrases, chained islands are copied eval content). */
  val RelQuarMinSpan = SpanGramN + 1

  /** Which corpus documents share a full word n-gram with any document
    * of the benchmark set (here: the deterministic `id % BenchMod == 0`
    * subset, standing in for an eval suite). The n-gram equi-join IS the
    * blocking — non-colliding pairs never materialize — and the
    * benchmark side is broadcast: at 100 TB the corpus streams past a
    * few MB of eval-set shingles with NO shuffle of the corpus at all. */
  def contamination(docs: DataFrame, n: Int = ContamN, benchMod: Int = BenchMod): DataFrame = {
    // filter BEFORE shingling so each side's predicate pushes to the scan
    // and only the 1/benchMod benchmark slice is ever shingled twice-over
    def grams(d: DataFrame) =
      d.select(col("doc_id"), explode(TF.shingles(col("text"), n)).as("sh"))
    val bench = grams(docs.filter(col("doc_id") % benchMod === 0))
      .select(col("doc_id").as("bench_id"), col("sh"))
    grams(docs.filter(col("doc_id") % benchMod =!= 0))
      .join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_shared_grams"),
           countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  // ---- x27: the composed curation pipeline -----------------------------

  /** Quality filter → exact dedup (keep the lowest id per content
    * fingerprint) → deterministic split, reported as per-(source, split)
    * doc/token counts. One scan, one shuffle on the 32-char fingerprint,
    * one on (source, split) — the end-to-end shape of a pretraining
    * ingest job, composed purely from the operators above.
    *
    * Keep-first is a partial-aggregable min_by (the same shape as
    * [[Dedup.exact]]), not a rank window: a mass-duplicated text — the
    * exact case dedup exists for — combines map-side instead of
    * serializing its whole fingerprint group onto one task. */
  def curate(docs: DataFrame): DataFrame = {
    val kept = docs.filter(keepRule(col("text")))
    val deduped = kept
      .withColumn("fp", TF.fingerprint(col("text")))
      .groupBy("fp")
      .agg(min_by(struct(col("doc_id"), col("source"), col("text")),
                  col("doc_id")).as("__r"))
      .select(col("__r.doc_id").as("doc_id"), col("__r.source").as("source"),
              col("__r.text").as("text"))
    withSplit(deduped, col("doc_id"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
           sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }

  // ---- x32: document chunking ------------------------------------------

  val ChunkSize   = 32
  val ChunkStride = 24

  /** Split each document into fixed-size overlapping word windows —
    * the unit an embedding model consumes. Chunk i covers words
    * [i·stride, i·stride + size); the last chunk may be short; a doc
    * shorter than one window yields exactly one chunk. Row-local
    * explode: chunk count per doc is ceil(max(n-size,0)/stride)+1, so
    * output size is a bounded multiple of input size (size/stride
    * overlap factor) — no shuffle at all until a downstream consumer
    * aggregates. */
  def chunk(docs: DataFrame, size: Int = ChunkSize, stride: Int = ChunkStride): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val toks = TF.tokens(col("text"))
    val n = size_(toks)
    val nChunks = ceil(greatest(n - size, lit(0)).cast("double") / stride).cast("int") + 1
    docs.select(col("doc_id"), col("source"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(toks, i * stride + 1, lit(size))))).as(Seq("chunk_id", "chunk")))
      .withColumn("chunk_tokens", size_(TF.tokens(col("chunk"))).cast("long"))
  }
  private def size_(c: Column) = org.apache.spark.sql.functions.size(c)

  // ---- x30: quantile-based quality selection ---------------------------

  val TopQuantile = 0.25

  /** Keep each source's top quality quartile: `percent_rank` over the
    * (quality desc, doc_id) order within the stratum. Rank-based rather
    * than threshold-based on purpose: a float threshold makes membership
    * depend on exact tie behavior at the cut value; ranks are integers
    * and the deterministic tie-break makes the selection reproducible.
    * One shuffle (by source) + one in-partition sort — at 100 TB each
    * stratum sorts in parallel and nothing is global. */
  def topQualityQuantile(docs: DataFrame, q: Double = TopQuantile): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
    docs
      .withColumn("quality", TF.qualityScore(col("text")))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= q)
      .select(col("doc_id"), col("source"), col("quality"), col("pr"))
  }

  // ---- x43: segment-level (paragraph) dedup, CCNet-style ---------------

  /** Non-overlapping segment width in words — the "paragraph" unit for
    * corpora whose documents carry no newline structure. */
  val SegWords = 8

  /** Cross-corpus segment dedup — the CCNet/RefinedWeb boilerplate
    * removal step: split every document into non-overlapping
    * `segWords`-word segments, keep only the globally FIRST occurrence
    * (ordered by (doc_id, position)) of each distinct segment, and
    * reassemble each document from its surviving segments in order.
    * Unlike document-grain dedup (x05) this removes the repeated
    * header/footer/menu text that never repeats at whole-document
    * grain.
    *
    * Plan shape at 100 TB: segments shuffle ONCE, on md5(segment) (a
    * fixed-width key); the rank window scans each hash bucket sorted by
    * (doc_id, pos). Reassembly is one groupBy(doc_id) whose per-group
    * state is bounded by document length. First-occurrence ranking
    * (not frequency thresholding) keeps the survivor set deterministic
    * under any partitioning or arrival order. */
  def segmentDedup(docs: DataFrame, segWords: Int = SegWords): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    val toks = TF.tokens(col("text"))
    val nSegs =
      greatest(ceil(size_(toks).cast("double") / segWords).cast("int"), lit(1))
    val segs = docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nSegs - 1),
        i => concat_ws(" ", slice(toks, i * segWords + 1, lit(segWords)))))
        .as(Seq("pos", "seg")))
    // first occurrence per distinct segment via partial-aggregable
    // min_by: boilerplate repeated across millions of docs (the reason
    // this operator exists) pre-reduces on every map task, where the
    // rank window this replaces serialized each hot segment's whole
    // group onto one task
    val first = segs
      .groupBy(md5(col("seg")).as("__h"))
      .agg(min_by(struct(col("doc_id"), col("pos"), col("seg")),
                  struct(col("doc_id"), col("pos"))).as("__f"))
      .select(col("__f.doc_id").as("doc_id"), col("__f.pos").as("pos"),
              col("__f.seg").as("seg"))
    val re = first
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            s => s.getField("seg"))).as("dedup_text"))
    // n_segs is row-local on docs — recomputing it here avoids a second
    // aggregation pass over the corpus-sized segment relation.
    docs.select(col("doc_id"), nSegs.cast("long").as("n_segs"))
      .join(re, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  // ---- x29: deterministic stratum rebalancing --------------------------

  /** Downsample every stratum (language, source, domain, …) to the size
    * of the smallest one — the "data mixing" step of a pretraining
    * pipeline — with DETERMINISTIC membership: a doc is kept iff its
    * md5 bucket falls under the stratum's keep-threshold, so the sample
    * is reproducible and content-stable, never `rand()`-dependent.
    *
    * Thresholds are derived from the data (per-stratum counts), compared
    * as 2-hex-char strings (`printf('%02x')` semantics — identical in
    * any engine). The count relation is a handful of rows and is
    * broadcast; the corpus itself is scanned twice (count + filter) and
    * never shuffled. The smallest-stratum keep-everything case is
    * handled by the `c = min` disjunct, not a threshold of 0x100 (which
    * would compare wrongly as a 3-char string). */
  def rebalance(docs: DataFrame, stratumCol: String): DataFrame = {
    val cnts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("c"))
    val minC = cnts.agg(min(col("c")).as("mc"))
    docs
      .join(broadcast(cnts), stratumCol)
      .crossJoin(broadcast(minC))
      .filter(col("c") === col("mc") ||
        substring(md5(col("doc_id").cast("string")), 1, 2) <
          format_string("%02x", expr("(256 * mc) DIV c")))
  }

  // ---- x34: weighted mixture sampling ----------------------------------

  /** Target mixture proportions in integer percent (sum 100) — the
    * DoReMi-style domain-weights configuration. */
  val MixtureWeights: Seq[(String, Int)] =
    Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)

  /** Downsample strata to a TARGET MIXTURE: the largest feasible corpus
    * with proportions `weights` is T = min_s floor(100·c_s / p_s) docs,
    * of which stratum s contributes p_s·T/100 — enforced by an
    * md5-bucket threshold per stratum, so membership is deterministic
    * and content-stable (same contract as [[rebalance]]).
    *
    * All threshold arithmetic is INTEGER (`DIV`): the binding stratum's
    * threshold would be 256·(p·(100c/p))/100c ≈ 256 in floats, where a
    * 1-ulp error flips floor() across the keep-all boundary between
    * engines; with integer division both engines compute the same
    * number, and thresholds ≥ 256 mean keep-everything (the hex-string
    * compare caps at 'ff'). */
  def mixtureSample(docs: DataFrame, stratumCol: String,
                    weights: Seq[(String, Int)] = MixtureWeights): DataFrame = {
    require(weights.map(_._2).sum == 100, "mixture weights must sum to 100")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toDF(stratumCol, "w_pct")
    val cnts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("c"))
      .join(w, stratumCol)
    // T = min_s floor(100*c_s/p_s), integer throughout
    val t = cnts.select(expr("min(100 * c DIV w_pct)").as("t_total"))
    docs
      .join(broadcast(cnts), stratumCol)
      .crossJoin(broadcast(t))
      .withColumn("__thresh", expr("(256 * w_pct * t_total) DIV (100 * c)"))
      .filter(col("__thresh") >= 256 ||
        substring(md5(col("doc_id").cast("string")), 1, 2) <
          format_string("%02x", col("__thresh")))
      .drop("__thresh")
  }

  // ---- x47: weighted priority sampling without replacement -------------

  /** Exact-k-per-stratum weighted sampling WITHOUT replacement,
    * P(selection) ∝ weight — Efraimidis–Spirakis priority sampling
    * (the standard distributed formulation: every row gets priority
    * u^(1/w), the k largest per stratum win; rank by the monotone
    * equivalent ln(u)/w to stay in plain column arithmetic). The
    * uniform u is a seeded md5-hash of the doc id, so the sample is a
    * pure function of the data — re-runnable, and oracle-checkable by
    * replaying the identical formula in SQL. The weight is the shared
    * x02 quality composite (+0.05 so zero-quality docs keep a nonzero
    * but tiny probability and ln(u)/w stays finite).
    *
    * This is the data-mixing primitive x34's RATE sampler can't
    * provide: x34 thins each stratum to a target proportion; this
    * draws an exact-size per-stratum sample biased toward quality —
    * "give me the best-weighted n docs per language, sampled, not
    * top-n" (top-n is x30; deterministic sampling beats it when
    * diversity matters).
    *
    * Plan at 100 TB: the key is row-local (no shuffle); the per-stratum
    * top-k is the same bounded-heap partial aggregate as the ANN
    * finalization — every map task emits ≤ k rows per stratum, so the
    * exchange carries O(strata·k) rows, never the corpus. The
    * transcendental key is rounded to 6 dp on both engines before
    * ranking, with the doc id as tie-break (the float-parity pattern
    * proven by x35). */
  /** The ES priority key as a row-local column: round(ln(u)/w, 6) with
    * u a seeded 60-bit-md5 uniform of the id and w the x02 quality
    * composite (+0.05 floor). Shared by [[prioritySample]] and its
    * streaming twin (s17) so batch and stream rank by the IDENTICAL
    * value — that equality is what makes one oracle serve both. */
  private[graft] def priorityKey(idCol: String = "doc_id"): Column = {
    val w = lit(0.05) + TF.qualityScore(col("text"))
    // 60-bit md5 prefix → uniform in (0,1); +0.5 keeps u strictly
    // positive (ln(0) guard) and is replayed verbatim in the oracle
    val v = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val u = (v.cast("double") + lit(0.5)) / lit(1152921504606846976.0d) // 2^60
    round(log(u) / w, 6)
  }

  def prioritySample(docs: DataFrame, k: Int,
                     stratumCol: String = "lang",
                     idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.select(col(stratumCol).as("query_id"), col(idCol),
      priorityKey(idCol).as("skey"))
    graft.operators.SimilaritySearch
      .topKPerQuery(keyed, k, scoreCol = "skey", idCol = idCol)
      .select(col("query_id").as(stratumCol), col(idCol), col("skey"),
        col("rank").cast("long").as("rank"))
  }

  /** x119: classifier-score Pareto acceptance — the GPT-3 quality-
    * sampling rule (Brown et al. 2020, Appendix A): keep a document iff
    * `pareto(α=9) > 1 − score`, which keeps essentially all high-scored
    * docs while still admitting a thin, diversity-preserving tail of
    * low-scored ones (a hard threshold like x21/x30 admits none — the
    * published rationale for the rule). With the standard Pareto draw
    * p = u^(−1/α) − 1 the condition is algebra:
    *
    *   keep ⟺ u < (2 − score)^(−α)
    *
    * so for integer α the whole operator is CLOSED-FORM: no libm `pow`
    * crosses the engine boundary — (2−score)⁹ is a fixed
    * multiplication chain (g², g⁴=g²·g², g⁸=g⁴·g⁴, g⁹=g⁸·g) replayed
    * verbatim in the oracle, `u` is the x47 md5-uniform (seeded
    * "pareto:" so the draw is independent of x47's), and the keep test
    * compares IEEE-identical doubles (u·g⁹ < 1 avoids even a division).
    * The score is the shared x02 composite, round-6 BEFORE the chain so
    * both engines fold the same starting double.
    *
    * Plan at 100 TB: entirely row-local — no model, no shuffle, no
    * join; the only exchange is the presentation sort. Acceptance rate
    * rises monotonically with score (score 1 ⇒ keep always; score 0 ⇒
    * p(keep) = 2⁻⁹), spec-asserted per quality bucket.
    *
    * The keep test runs as a TYPED filter on purpose: a relational
    * `filter(accept_key < 1)` is pushed below the projections, and the
    * substitution expands the 9-reference power chain into NINE copies
    * of the quality composite (≈ 50 regex passes per row — measured
    * 8.1 s → 0.9 s at sf0.1). The object boundary is pushdown-proof, so
    * quality and the chain evaluate ONCE each in the codegen'd Projects
    * upstream; the lambda itself is one double comparison — the heavy
    * math never leaves whole-stage codegen. */
  /** The Pareto rule's md5-uniform draw: u(seed, id) ∈ (0, 1) from the
    * top 60 bits of md5(seed || id). ONE definition for every site that
    * must stay bit-identical to the oracle SQL (x119, x126, s42, the
    * gateway /score path) — the chain is exact-parity-critical, so
    * copies are desync waiting to happen. */
  private[graft] def paretoUniform(seed: String, idCol: Column): Column = {
    val v = conv(substring(md5(concat(lit(seed), idCol.cast("string"))),
      1, 15), 16, 10).cast("long")
    (v.cast("double") + lit(0.5)) / lit(1152921504606846976.0d) // 2^60
  }

  /** The Pareto accept key u·(2−q)⁹ as the closed-form integer-α
    * multiplication chain (g², g⁴=g²·g², g⁸=g⁴·g⁴, g⁹=g⁸·g) — the
    * exact association the oracle replays; keep ⟺ this < 1 unrounded.
    * Shared by every site for the same reason as [[paretoUniform]]. */
  private[graft] def paretoAcceptKey(q: Column, u: Column): Column = {
    val g1 = lit(2.0) - q
    val g2 = g1 * g1
    val g9 = (g2 * g2) * (g2 * g2) * g1
    u * g9
  }

  def paretoQualitySample(docs: DataFrame): DataFrame = {
    val q = round(TF.qualityScore(col("text")), 6)
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("lang"), q.as("quality"),
        paretoUniform("pareto:", col("doc_id")).as("u"))
      .withColumn("accept_key", paretoAcceptKey(col("quality"), col("u")))
      .select(col("doc_id"), col("lang"), col("quality"), col("accept_key"))
      .as[(Long, String, Double, Double)]
      .filter(_._4 < 1.0)
      .toDF("doc_id", "lang", "quality", "accept_key")
      .select(col("doc_id"), col("lang"), col("quality"),
        round(col("accept_key"), 6).as("accept_key"))
  }

  /** x126: the CLASSIFIER-driven Pareto sampler — x119's GPT-3 keep
    * rule (Brown et al. 2020, Appendix A) fed by the x124 pinned-weight
    * classifier score instead of the x02 heuristic composite. This is
    * the published pipeline's actual shape: GPT-3 scores documents with
    * a trained logistic classifier and THEN applies the Pareto
    * acceptance — the composition closes the "x119/x21 can consume the
    * classifier score" contract as a hash-checked registry entry.
    *
    * Both stages stay closed-form: the score is x124's machinery
    * verbatim (tokenize → md5 bucket → mean affine-ramp weight →
    * sigmoid → round 6, lang riding the doc-grain groupBy so no
    * join-back is ever needed), u is an independent md5-uniform (seeded
    * "paretoc:" so the draw is uncorrelated with x119's), and the keep
    * test is the same integer-α multiplication chain compared
    * unrounded. Docs with zero tokens have no score and are absent (the
    * x124/x87 drop rule).
    *
    * The keep test is a RELATIONAL filter here, unlike x119's typed
    * one, deliberately: x119's hazard was `PushPredicateThroughNonJoin`
    * re-expanding the 9-reference power chain into nine copies of the
    * quality composite, but here q_score is an Aggregate output — the
    * predicate cannot push below the aggregation barrier, so the
    * expansion is nine cheap column references and the whole chain
    * stays inside one whole-stage-codegen span above the agg.
    *
    * Plan at 100 TB: one map-side-combined shuffle at (doc, lang) grain
    * (the same exchange x124 already pays), then row-local math; the
    * only other exchange is the presentation sort. */
  def paretoClassifierSample(docs: DataFrame): DataFrame =
    paretoKeepStage(qcFixedScored(docs, Seq("lang")), Seq("lang"))

  /** The classifier-Pareto ADMISSION stage in one place: given any
    * (doc_id, …, q_score) scored relation, draw the "paretoc:"-seeded
    * md5-uniform, apply the x119 keep rule (u·(2−q)⁹ < 1, the
    * integer-α chain compared unrounded), and return the kept rows —
    * shared by x126 (pinned-weight scores), x130 (trained scores) and
    * the spec's replay harness, so the admission semantics cannot
    * desync across scorers. */
  private[graft] def paretoKeepStage(scored: DataFrame,
                                     carry: Seq[String]): DataFrame =
    scored
      .withColumn("accept_key", paretoAcceptKey(col("q_score"),
        paretoUniform("paretoc:", col("doc_id"))))
      .filter(col("accept_key") < 1.0)
      .select(col("doc_id") +: carry.map(col) :+ col("q_score") :+
        round(col("accept_key"), 6).as("accept_key"): _*)

  /** x130: the GPT-3 data-curation composition in its PUBLISHED form —
    * Brown 2020 App. A scores Common Crawl with the TRAINED quality
    * classifier and keeps a document iff the Pareto rule admits it;
    * x126 proved the composition with the pinned-weight twin, this
    * entry runs it with x125's fitted model. [[paretoKeepStage]] is
    * shared verbatim (one definition of the admission semantics), so
    * the only unchecked-by-hash piece is the score itself — learned
    * weights are fp-order-sensitive ⇒ rows-only; CurationSpec replays
    * the keep rule over the entry's OWN carried scores (u is a
    * deterministic md5 of doc_id, the chain is closed-form, so every
    * output row is independently re-derivable) and pins the stage
    * against a hand-scored relation.
    *
    * Plan at 100 TB: the fit is x125's O(iters) passes with model-sized
    * exchanges; the admission adds row-local math above the existing
    * doc-grain agg — no new corpus-sized stage. */
  def paretoClassifierSampleTrained(docs: DataFrame,
                                    benchMod: Int = BenchMod,
                                    iters: Int = QcIters,
                                    lr: Double = QcLr): DataFrame =
    paretoKeepStage(
      qualityClassifierTrained(docs, benchMod, iters, lr), Seq("is_target"))

  // ---- x132: temperature (α) sampling -----------------------------------

  /** x132: TEMPERATURE SAMPLING — the multilingual-pretraining rebalance
    * rule (Lample & Conneau 2019 §3.1; mBERT's exponent trick): sample
    * strata to the tempered distribution q_l ∝ p_l^α, which lifts rare
    * languages and damps dominant ones without the hard caps of x29/x51.
    * α is FIXED at 1/2 (τ = 2) deliberately: sqrt and division are
    * correctly-rounded IEEE operations in BOTH engines (pow(x, 0.3) is
    * not), so every step of the rate computation is bit-identical
    * cross-engine and the keep decision u < rate hashes — the x119
    * integer-α-chain lesson applied to a fractional exponent.
    *
    * Rates follow x34's largest-feasible-corpus convention: the scale s
    * = min_l p_l/q_l makes the most-lifted stratum (the rarest language
    * — p/q = √p̄·Z is minimized there) keep EVERYTHING (rate exactly
    * 1.0) and every other stratum downsample to match q in expectation.
    * The per-stratum rates are computed ON THE DRIVER over the
    * model-grain count relation with an ORDERED left fold (stratum asc)
    * for the Σ√p̄ normalizer — the same association the oracle's
    * `list_sum(list(sq ORDER BY lang))` computes, because a cross-row
    * double sum is the one step where engine-side aggregation order
    * would break parity. Keep draw: the shared md5-uniform at seed
    * "tsample:" (independent of the x119/x126 draws by seed).
    *
    * Plan at 100 TB: one map-side-combined count shuffle (|strata|
    * rows), a |strata|-row broadcast back, then a row-local filter —
    * no corpus-sized exchange anywhere. */
  val TsampleSeed = "tsample:"

  def temperatureSample(docs: DataFrame): DataFrame =
    temperatureKeep(docs, temperatureRates(docs))

  /** The x132 admission stage given a pinned (lang, rate) relation —
    * row-local (broadcast rate join + the md5-uniform draw), shared by
    * the batch entry and the s48 streamed admission so the keep
    * semantics cannot desync. */
  private[graft] def temperatureKeep(docs: DataFrame,
                                     ratesDf: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(ratesDf), "lang")
      .filter(paretoUniform(TsampleSeed, col("doc_id")) < col("rate"))
      .select(col("doc_id"), col("lang"), round(col("rate"), 6).as("rate"))

  /** The x132 per-stratum keep rates — the driver-side ordered fold
    * over the model-grain count relation (see [[temperatureSample]]'s
    * scaladoc for why the fold lives on the driver). */
  private[graft] def temperatureRates(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val raw = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1))
    // The Σ√p̄ normalizer is an ORDERED driver fold whose order must
    // match the oracle's binary ORDER BY lang: Scala String sorting is
    // UTF-16 code-unit order, which diverges from UTF-8 byte order for
    // supplementary-plane vs >= U+E000 code points, and a null stratum
    // would NPE the sort while the rate join silently dropped its docs
    // (ADVICE r17). Strata are language tags — require non-null ASCII
    // loudly instead of mirroring a collation.
    raw.foreach { case (l, _) =>
      require(l != null && l.nonEmpty && l.forall(_ < 0x80),
        s"temperature sample: stratum '$l' is null/empty/non-ASCII — the " +
          "driver's ordered fold and the oracle's binary collation would " +
          "disagree; normalize lang tags to ASCII upstream")
    }
    val counts = raw.sortBy(_._1)
    require(counts.nonEmpty, "temperature sample: empty corpus")
    val nTot = counts.map(_._2).sum.toDouble
    val withSq = counts.map { case (l, n) =>
      val p = n / nTot
      (l, p, math.sqrt(p))
    }
    val z = withSq.foldLeft(0.0)(_ + _._3) // ordered left fold, lang asc
    val withQ = withSq.map { case (l, p, sq) => (l, p, sq / z) }
    val s = withQ.map { case (_, p, q) => p / q }.min
    withQ.map { case (l, p, q) => (l, (q * s) / p) }
      .toSeq.toDF("lang", "rate")
  }

  // ---- x24: heavy hitters per stratum ----------------------------------

  val TopK = 20

  /** Exact top-K tokens per language: explode → one partial-agg'd
    * shuffle on (lang, token) → bounded-heap top-k per lang
    * ([[graft.functions.TopKAggregator.topkStr]]). The heap's partial
    * stage emits ≤ k tokens per (task, lang) into the exchange, so the
    * second shuffle carries O(tasks·langs·k) — the rank window it
    * replaces moved each language's ENTIRE vocabulary onto one task
    * (billions of distinct tokens at corpus scale). Deterministic
    * tie-break (count desc, token asc); cnt rides as the score, so no
    * join-back is needed. */
  def heavyHitters(docs: DataFrame, k: Int = TopK): DataFrame = {
    import graft.functions.TopKAggregator
    docs
      .select(col("lang"),
              explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang"))
      .agg(TopKAggregator.topkStr(k)(col("cnt").cast("double"), col("token")).as("__tk"))
      .select(col("lang"), posexplode(col("__tk")).as(Seq("__pos", "__s")))
      .select(col("lang"), col("__s.id").as("token"),
              col("__s.score").cast("long").as("cnt"),
              (col("__pos") + 1).cast("int").as("rnk"))
  }

  // ---- x35: unigram LM cross-entropy scoring ---------------------------

  /** Per-document cross-entropy against the CORPUS unigram distribution
    * (mean −ln p(token), token-frequency weighted) — the CCNet-style
    * language-model quality signal: text of common, naturally-distributed
    * vocabulary scores low; rare-token soup scores high. Filtering on it
    * is the classic "perplexity filter" of pretraining pipelines, here
    * with the corpus itself as the model.
    *
    * Shapes (the 100 TB posture): token explode collapses immediately
    * into a per-(doc, token) count (partial agg map-side — the shuffle
    * carries tf rows, not occurrences); the model is a VOCABULARY-sized
    * aggregate built from an independent second pass over the row-local
    * explode (tf is corpus-sized and therefore NEVER stored — two cheap
    * scans beat one materialization); the total is one broadcast scalar.
    * Rounded to 6 decimals: the score involves `ln`, and a
    * transcendental's last ulp differs across runtimes (same contract as
    * [[tfidfTopK]]). */
  def unigramScore(docs: DataFrame): DataFrame = {
    def toks = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("token"))
    // tf is CORPUS-sized (distinct doc×token) — never stored; the model is
    // an independent second pass over the row-local explode (map-side
    // partial agg both times), so each relation is referenced exactly once
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("total"))
    tf.join(vocab, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
           round(
             sum(col("tf") * -log(col("c") / col("total").cast("double"))) /
               sum(col("tf")), 6).as("xent"))
  }

  // ---- x87: bigram LM cross-entropy scoring ----------------------------

  /** Per-document cross-entropy against a CORPUS bigram model with
    * unigram interpolation — the next step up from [[unigramScore]] on
    * the CCNet perplexity-filter ladder (Wenzek et al. 2020 score with a
    * KenLM n-gram model; the corpus itself is the model here, n=2):
    * score = mean over bigrams of −ln(λ·p(w₂|w₁) + (1−λ)·p(w₂)), with
    * p(w₂|w₁) the bigram MLE (count(w₁w₂)/count(w₁·)) and p(w₂) the
    * unigram relative frequency. Word-salad that happens to reuse common
    * TOKENS but not common TRANSITIONS scores high where x35 cannot see
    * it; the unigram term keeps unseen-in-context bigrams finite.
    *
    * Shapes (the 100 TB posture): bigrams are built ROW-LOCALLY (the
    * token array zipped with its own tail — no positional self-join, no
    * per-document window sort), then collapse map-side into per-(doc,
    * w₁, w₂) counts; the two model relations (bigram counts, context
    * totals) are vocabulary²-bounded aggregates from independent passes
    * over the row-local explode, the unigram model as in x35 — each
    * relation referenced exactly once, nothing corpus-sized ever
    * materialized (same scans-beat-materialization trade as
    * [[unigramScore]], documented there). Rounded to 6 decimals (`ln`
    * ulp contract, as x35/x33).
    *
    * Documents with fewer than two tokens have no bigrams and do not
    * appear in the output (nothing to score — callers wanting totality
    * left-join on the source and treat null as "unscorable"). */
  /** Row-local (doc, w1, w2) bigram relation — the shared x87/x101
    * front end (token array zipped with its own tail; no positional
    * self-join, no per-document window sort). */
  private def rawBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ts"))
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
          slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  private def rawToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("token"))

  /** The shared x87/x101 back end: interpolated cross-entropy over
    * (tf, bigram model, context totals, unigram model, token total). */
  private def xentFrom(tf: DataFrame, bm: DataFrame, ctx: DataFrame,
                       uni: DataFrame, total: DataFrame,
                       lambda: Double): DataFrame =
    tf.join(bm, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(uni, col("w2") === col("token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
           round(
             sum(col("tf") * -log(
               lit(lambda) * (col("cb") / col("cw1").cast("double")) +
               lit(1.0 - lambda) * (col("c") / col("total").cast("double")))) /
               sum(col("tf")), 6).as("xent"))

  def bigramScore(docs: DataFrame, lambda: Double = 0.9): DataFrame = {
    def bigrams = rawBigrams(docs)
    def toks = rawToks(docs)
    xentFrom(
      bigrams.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf")),
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb")),
      bigrams.groupBy("w1").agg(count(lit(1)).as("cw1")),
      toks.groupBy("token").agg(count(lit(1)).as("c")),
      toks.agg(count(lit(1)).as("total")),
      lambda)
  }

  /** x101: [[bigramScore]] on HASHED token buckets — the x96 pattern
    * applied one rung up the CCNet ladder. x87's scale liability is
    * x93's, squared: the bigram-count relation grows FASTER than the
    * (already open) unigram vocabulary, so at 100 TB the model joins'
    * build sides keep growing. Hashing every token into one of
    * 16^`hexLen` md5-prefix buckets (the [[splitOf]] engine-portable
    * trick) caps the bigram model at 16^(2·hexLen) rows and the
    * context/unigram models at 16^hexLen rows FOREVER — every model
    * join's build side broadcasts at any corpus size — at the cost of
    * collisions folding rare transitions together (the interpolated
    * unigram term keeps everything finite exactly as in x87; the
    * bound is spec-proven). n_bigrams is IDENTICAL to x87's by
    * construction (bucketing renames tokens, never drops them).
    *
    * Shape note: the fold to buckets happens AFTER the raw-token
    * aggregations — counts are associative, so folding aggregated
    * counts by bucket equals counting bucketed occurrences — which
    * keeps the md5 kernel at the (doc, bigram-type) / vocabulary
    * grain instead of once per corpus occurrence per scan (measured:
    * the per-occurrence variant was 5.7× slower at 30× with
    * super-linear shuffle rows; this one matches x87's spine cost and
    * drops one corpus scan, ctx being a roll-up of the bucketed
    * bigram model). */
  def bigramScoreHashed(docs: DataFrame, lambda: Double = 0.9,
                        hexLen: Int = 2): DataFrame = {
    def b(c: Column) = substring(md5(c), 1, hexLen)
    def bigrams = rawBigrams(docs)
    def toks = rawToks(docs)
    val tfB = bigrams
      .groupBy(col("doc_id"), b(col("w1")).as("w1"), b(col("w2")).as("w2"))
      .agg(count(lit(1)).as("tf"))
    val bmB = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .select(b(col("w1")).as("w1"), b(col("w2")).as("w2"), col("cb"))
      .groupBy("w1", "w2").agg(sum("cb").as("cb"))
    val ctxB = bmB.groupBy("w1").agg(sum("cb").as("cw1"))
    val uniB = toks.groupBy("token").agg(count(lit(1)).as("c"))
      .select(b(col("token")).as("token"), col("c"))
      .groupBy("token").agg(sum("c").as("c"))
    // the folded models are PROVABLY bounded (16^(2·hexLen) / 16^hexLen
    // rows), so broadcast is correct at ANY corpus size — the explicit
    // hints stop Catalyst's size ESTIMATE (derived from the corpus-sized
    // children) from flipping the model joins to sort-merge at scale
    // (measured: the unhinted 100× plan turned all three into SMJs)
    xentFrom(tfB, broadcast(bmB), broadcast(ctxB), broadcast(uniB),
      toks.agg(count(lit(1)).as("total")), lambda)
  }

  /** x118: Kneser–Ney smoothed bigram cross-entropy — the smoothing the
    * production CCNet/KenLM stack actually ships (Kneser & Ney 1995;
    * Chen & Goodman 1998 §2.7), replacing [[bigramScore]]'s unigram
    * interpolation with absolute discounting + the CONTINUATION
    * distribution:
    *
    *   P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *            + (D·N₁₊(w₁·)/c(w₁·)) · N₁₊(·w₂)/N₁₊(··)
    *
    * where N₁₊(w₁·) = distinct continuations of w₁, N₁₊(·w₂) = distinct
    * left-contexts of w₂, N₁₊(··) = total bigram types. The continuation
    * term is KN's distinctive fix: a token frequent only inside one
    * collocation ("francisco") backs off LOW, where x87's raw-frequency
    * unigram term scores it high — so boilerplate-inflated tokens stop
    * masking improbable transitions. Because the model IS the corpus,
    * every scored bigram has c ≥ 1 > D, so probabilities stay positive
    * without further smoothing.
    *
    * Shapes (x87's 100 TB posture, unchanged): bigrams row-local, the
    * four model relations are independent aggregates over the same
    * exploded spine — ctx adds a count_distinct partial to x87's context
    * aggregate, cont replaces the unigram model at the SAME w₂-grain —
    * and every arithmetic term is replayed verbatim in the DuckDB
    * oracle (round-6 `ln` ulp contract). Docs with < 2 tokens have no
    * bigrams and drop, exactly as x87. discount = 0 reduces P to the
    * bigram MLE = [[bigramScore]] at λ = 1 (spec-asserted — the
    * algebraic-reduction lever). */
  /** The x118 absolute discount, shared with the DuckDB oracle
    * (CurationQueries.bigramXentKNSql) so the two sides cannot
    * silently desync (the ADVICE-r15 shared-constant rule). 0.75 is
    * the Chen–Goodman-recommended fixed discount. */
  val KnDiscount = 0.75

  /** The shared x118/x120 back end: KN cross-entropy over
    * (tf, bigram model with n1w1-bearing context totals, continuation
    * counts, bigram-type total) — the [[xentFrom]] analogue. */
  private def knXentFrom(tf: DataFrame, bm: DataFrame, ctx: DataFrame,
                         cont: DataFrame, tot: DataFrame,
                         discount: Double): DataFrame =
    tf.join(bm, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
           round(
             sum(col("tf") * -log(
               greatest(col("cb") - lit(discount), lit(0.0)) /
                 col("cw1").cast("double") +
               lit(discount) * col("n1w1") / col("cw1").cast("double") *
                 (col("rw2") / col("ntypes").cast("double")))) /
               sum(col("tf")), 6).as("xent"))

  def bigramScoreKN(docs: DataFrame, discount: Double = KnDiscount): DataFrame = {
    def bigrams = rawBigrams(docs)
    knXentFrom(
      bigrams.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf")),
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb")),
      bigrams.groupBy("w1")
        .agg(count(lit(1)).as("cw1"), count_distinct(col("w2")).as("n1w1")),
      bigrams.groupBy("w2").agg(count_distinct(col("w1")).as("rw2")),
      bigrams.agg(count_distinct(col("w1"), col("w2")).as("ntypes")),
      discount)
  }

  /** x120: [[bigramScoreKN]] on HASHED token buckets — the x101 fold
    * applied to the KN model, closing the loop x118's scale caveat
    * names (exactly as x113 closes x112's). The KN model is DEFINED
    * over the bucketed token stream, which makes every model relation
    * provably bounded: the bigram model ≤ 16^(2·hexLen) rows, and —
    * the part x101 didn't need — the KN continuation statistics
    * (n₁₊(w₁·), n₁₊(·w₂), bigram-type total) are plain row counts OF
    * that bounded model, so they stay closed-form under the fold
    * (distinct-counts don't distribute over folding, but counts of the
    * folded model's rows ARE its distinct counts). Occurrence totals
    * fold associatively exactly as x101 (counts summed by bucket ==
    * bucketed occurrence counts), so the md5 kernel stays at the
    * (doc, bigram-type) grain. Every scored bucketed bigram has
    * c ≥ 1 > D, so probabilities stay positive, exactly as x118. */
  def bigramScoreKNHashed(docs: DataFrame, discount: Double = KnDiscount,
                          hexLen: Int = 2,
                          foldEarlyBm: Boolean = false): DataFrame = {
    def b(c: Column) = substring(md5(c), 1, hexLen)
    def bigrams = rawBigrams(docs)
    val tfB = bigrams
      .groupBy(col("doc_id"), b(col("w1")).as("w1"), b(col("w2")).as("w2"))
      .agg(count(lit(1)).as("tf"))
    // fold-early vs fold-late A/B, MEASURED r17 (the verdict-r16 ask):
    // occurrence counts are associative, so bucketing BEFORE the type
    // aggregation (early) and summing type counts by bucket (late)
    // produce the IDENTICAL cb relation — the choice is pure plan
    // cost. Same-session 100× legs: late 3.57× wall / 137.8 rows,
    // early 3.73× / 138.2 — a tie with late marginally ahead, and the
    // stage attribution says why: the raw-TYPE agg stages emit ~93k
    // rows (2.2 MB) of a ~475 MB total exchange — map-side combine
    // already collapses the type relation per partition, while the
    // corpus-LINEAR tf spine (25.4M rows) dominates either way. Late
    // stays the default (md5 at type grain, not per occurrence); early
    // stays behind this flag as the measured-negative receipt (the
    // s36 partitioned-layout discipline).
    val bmB = if (foldEarlyBm)
      bigrams.select(b(col("w1")).as("w1"), b(col("w2")).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    else
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .select(b(col("w1")).as("w1"), b(col("w2")).as("w2"), col("cb"))
      .groupBy("w1", "w2").agg(sum("cb").as("cb"))
    // the continuation statistics are row counts of the bounded model
    val ctxB = bmB.groupBy("w1")
      .agg(sum("cb").as("cw1"), count(lit(1)).as("n1w1"))
    val contB = bmB.groupBy("w2").agg(count(lit(1)).as("rw2"))
    val totB = bmB.agg(count(lit(1)).as("ntypes"))
    // bounded models => broadcast correct at ANY corpus size (the x101
    // hint rationale: stop the size ESTIMATE flipping these to SMJ)
    knXentFrom(tfB, broadcast(bmB), broadcast(ctxB), broadcast(contB),
      totB, discount)
  }

  /** x112: CCNet perplexity bucketing (Wenzek et al. 2020 §4.3) — the
    * step the CCNet ladder ([[unigramScore]] → [[bigramScore]]) was
    * building toward: split each LANGUAGE's corpus into head/middle/tail
    * terciles by LM score, so downstream consumers can train on `head`,
    * sample `middle`, and drop (or inspect) `tail` — the published
    * recipe's exact shape, with [[bigramScore]] standing in for KenLM.
    *
    * Deliberately NOT an NTILE over the corpus: a rank window per
    * language sorts corpus-sized partitions on one task each (languages
    * are few and huge — the worst skew shape there is). Instead the two
    * tercile THRESHOLDS per language are computed as percentile
    * aggregates (a |langs|×2 model relation), broadcast, and applied as
    * a row-local CASE — the bucketing pass is shuffle-free, so the whole
    * operator costs [[bigramScore]]'s spine plus one model-sized agg.
    * `approx = true` swaps the exact percentile for the mergeable
    * t-digest sketch (`percentile_approx`): exact percentile's per-group
    * state is O(distinct values); the sketch's is O(accuracy) forever.
    * `hashed = true` swaps [[bigramScore]] for [[bigramScoreHashed]]'s
    * fixed-width 256-bucket model (x87's open-vocabulary model relations
    * are the spine's only scale liability — measured 40× shuffle rows at
    * 30× on the disjoint-vocabulary replica). `hashed + approx` together
    * are the 100 TB path: every stage's state is then corpus-size-
    * independent; bucket agreement vs the exact twin is spec-measured at
    * small SF. Boundary docs (xent exactly at a threshold) land on the
    * lower bucket on both engines: thresholds are either exactly a data
    * value or strictly between two 1e-6-grid values (xent rounds to 6
    * decimals), so `<=` cannot diverge across engines.
    *
    * Docs [[bigramScore]] cannot score (< 2 tokens) are absent, as
    * there; output (doc_id, lang, xent, bucket). */
  def ccnetBuckets(docs: DataFrame, lambda: Double = 0.9,
                   approx: Boolean = false, accuracy: Int = 10000,
                   hashed: Boolean = false): DataFrame = {
    val xent =
      if (hashed) bigramScoreHashed(docs, lambda) else bigramScore(docs, lambda)
    val scored = xent
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val p = array(lit(1.0) / lit(3.0), lit(2.0) / lit(3.0))
    val thr =
      if (approx)
        scored.groupBy("lang")
          .agg(percentile_approx(col("xent"), p, lit(accuracy)).as("ts"))
      else
        scored.groupBy("lang").agg(percentile(col("xent"), p).as("ts"))
    scored.join(broadcast(thr), "lang")
      .withColumn("bucket",
        when(col("xent") <= col("ts").getItem(0), "head")
          .when(col("xent") <= col("ts").getItem(1), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("xent"), col("bucket"))
  }

  // ---- x86: corpus snapshot diff ----------------------------------------

  /** Content diff between two corpus snapshots keyed by `doc_id`:
    * one row per delta — `added` (in `neu` only), `removed` (in `old`
    * only), `changed` (both, content fingerprints differ). Rows whose
    * CONTENT is unchanged are absent: the output is the delta an
    * incremental pipeline re-processes, not a copy of the corpus.
    * "Content" means [[TF.fingerprint]] (md5 of the case/whitespace-
    * normalized text) — a whitespace-only edit is NOT a change, by the
    * same normalization contract as the exact-dedup family (x04/x05).
    *
    * Shapes (the 100 TB posture): fingerprints are row-local (the join
    * carries a fixed-width hash, never the text column — same reasoning
    * as [[TF.fingerprint]]'s doc), then ONE full-outer sort-merge join
    * on `doc_id`. Linear, no window, no skew surface beyond the id key
    * itself; with both snapshots bucketed by `doc_id` the join is
    * shuffle-free. This is the audit primitive for incremental corpus
    * versioning: what must re-embed / re-dedup / re-shard after a crawl
    * refresh, and the evidence row behind a release changelog. */
  def corpusDiff(old: DataFrame, neu: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val a = old.select(col(idCol).as("doc_id"),
      TF.fingerprint(col(textCol)).as("__fp_old"))
    val b = neu.select(col(idCol).as("doc_id"),
      TF.fingerprint(col(textCol)).as("__fp_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_old") =!= col("__fp_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** x103: corpus DRIFT between two snapshots — KL divergence both ways
    * and Jensen–Shannon divergence between the snapshots' Laplace-
    * smoothed unigram distributions over the JOINT vocabulary. x86
    * answers WHICH documents changed; this answers whether the
    * LANGUAGE changed: a crawl refresh that swaps 5% of docs but keeps
    * the distribution (routine churn) scores near 0, one that floods
    * templates or shifts domain moves both gauges — the "did this
    * refresh change what my model will learn" number a release
    * changelog carries next to x86's delta counts. Smoothing over the
    * joint vocabulary keeps tokens absent on one side finite (the x93
    * discipline); JS is symmetric and bounded by ln 2.
    *
    * Scale shape: both corpora collapse to ONE vocabulary-sized count
    * relation via a union with a side flag (a single partial-agg'd
    * shuffle moving the vocabulary, never the corpus); totals are a
    * 1-row broadcast; the divergences are one aggregate over that
    * relation. round(6) per the transcendental-parity rule. */
  def snapshotDrift(old: DataFrame, neu: DataFrame): DataFrame = {
    def toks(df: DataFrame, isNew: Boolean) = df.select(
      lit(isNew).as("is_new"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("token"))
    driftFromCounts(
      toks(old, isNew = false).unionAll(toks(neu, isNew = true))
        .groupBy("token").agg(
          sum(when(col("is_new"), 0L).otherwise(1L)).as("co"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("cn")))
  }

  /** The x103 divergence gauge over an already-built joint-vocabulary
    * count relation (token, co, cn) — factored so the streamed twin
    * (s35) can merge its per-batch partials into the same core. */
  private[graft] def driftFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("co")).as("no"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    val p = (col("co") + 1).cast("double") / (col("no") + col("v")).cast("double")
    val q = (col("cn") + 1).cast("double") / (col("nn") + col("v")).cast("double")
    val m = (p + q) / 2.0
    counts.crossJoin(broadcast(tot))
      .agg(
        max(col("v")).as("v_joint"),
        max(col("no")).as("n_tokens_old"),
        max(col("nn")).as("n_tokens_new"),
        round(sum(p * log(p / q)), 6).as("kl_old_new"),
        round(sum(q * log(q / p)), 6).as("kl_new_old"),
        round(sum(p * log(p / m)) / 2 + sum(q * log(q / m)) / 2, 6)
          .as("js_divergence"))
  }

  // ---- x36: vocabulary construction with coverage ----------------------

  val VocabK = 100

  // ---- x41: corpus datacard ---------------------------------------------

  /** One row per source: the summary table a dataset release ships
    * ("datacard"). The numeric statistics are algebraic aggregates over
    * row-local expressions — one shuffle on the stratum key with
    * map-side partials at any corpus size. The MODAL language needs a
    * second grain ((source, lang) counts, then per-source argmax with a
    * count-desc/lang-asc tie-break) — that relation is stratum×lang
    * sized, so the rank window and the join back are tiny. */
  def datacard(docs: DataFrame): DataFrame = {
    val stats = docs
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      .withColumn("quality", TF.qualityScore(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(avg(col("n_tokens")), 6).as("mean_tokens"),
        round(avg(col("quality")), 6).as("mean_quality"),
        count_distinct(col("lang")).as("n_langs"))
    val modal = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(desc("__c"), col("lang"))))
      .filter(col("__rn") === 1)
      .select(col("source"), col("lang").as("modal_lang"))
    stats.join(modal, "source")
  }

  // ---- x42: token-budget sampling ---------------------------------------

  val TokenBudget = 20000L

  /** Take documents per source, in deterministic doc_id order, until the
    * stratum's token budget is exhausted — the "sample N tokens per
    * domain" selection of a pretraining mix. A doc is kept iff the
    * running token total THROUGH it stays within budget; one window
    * cumsum per stratum (strata sort in parallel; nothing global). The
    * first doc of a stratum is kept even if it alone overflows the
    * budget (a non-empty stratum never vanishes). */
  def tokenBudgetSample(docs: DataFrame, budget: Long = TokenBudget): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget ||
        col("cum_tokens") === col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  // ---- x104: the composed curation pipeline ----------------------------

  val PipeMinQuality = 0.85
  val PipeDomainCap = 15
  val PipeTokenBudget = 600L

  /** x104: the END-TO-END selection pipeline a pretraining-data release
    * actually runs, composed from the already-verified operators into
    * ONE declarative plan — the "a user could run their whole pipeline
    * on this engine" capstone. Stages, in order:
    *
    *  1. quality gate   — row-local x02 score ≥ `minQuality` (zero
    *                      shuffles; the filter fuses into the scan);
    *  2. exact dedup    — keep the BEST duplicate per x04 fingerprint
    *                      (round-6 quality desc, doc_id asc) via a
    *                      partial-aggregable min_by — x37's keeper rule
    *                      at the exact-dup grain, never a rank window;
    *  3. domain cap     — x51's deterministic content-hash keep set
    *                      (≤ `cap` docs/source, stable under corpus
    *                      reordering), bounded-heap top-k shuffle;
    *  4. token budget   — x34-style per-source prefix in doc_id order
    *                      until `budget` tokens (first doc always kept).
    *
    * Ordering decisions inside the composition are on round(6) values
    * or hashes, so the two engines cannot disagree on who survives —
    * the whole four-stage SELECTION is one DuckDB-hashable relation.
    * Scale shape: one row-local pass + one fingerprint-grain exchange
    * + one bounded-heap stratum exchange + one stratum window over
    * ≤ cap rows per source. Nothing global, nothing quadratic. */
  def curationPipeline(docs: DataFrame, minQuality: Double = PipeMinQuality,
                       cap: Int = PipeDomainCap,
                       budget: Long = PipeTokenBudget): DataFrame = {
    val scored = docs
      .withColumn("quality", round(TF.qualityScore(col("text")), 6))
      .filter(col("quality") >= minQuality)
    val kept = scored
      .withColumn("fp", TF.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min_by(
        struct(col("doc_id"), col("source"), col("text"), col("quality")),
        struct((-col("quality")).as("nq"), col("doc_id"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.source").as("source"),
              col("k.text").as("text"), col("k.quality").as("quality"))
    val capped = kept
      .join(domainCap(kept, cap).select("doc_id"), "doc_id")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    capped
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget ||
        col("cum_tokens") === col("n_tokens"))
      .select(col("doc_id"), col("source"), col("quality"),
              col("n_tokens"), col("cum_tokens"))
  }

  // ---- x106: the FULL release pipeline -------------------------------

  val RelCapDf = 4
  val RelThreshold = 0.5

  /** x106: x104 grown into the pipeline a release ACTUALLY runs — the
    * two stages every production selection inserts between exact dedup
    * and the domain cap, composed from the already-verified operators
    * into ONE hash-checked plan emitting the survivor list:
    *
    *  1. quality gate    — row-local x02 score ≥ `minQuality`, AND the
    *                       x107 per-doc repetition rule (Gopher's
    *                       battery is a FILTER, not a dashboard): docs
    *                       breaching any of top2/top3/dup5 are removed;
    *  2. exact dedup     — best duplicate per x04 fingerprint (x104's
    *                       partial-aggregable min_by);
    *  3. NEAR-dup dedup  — x57's df-capped candidate pairs → connected
    *                       components → keep the best member per group
    *                       (x37's quality-desc, doc_id-asc rule);
    *  4. DECONTAM        — x97's quarantine: any non-train member of a
    *                       cross-split near-dup pair is removed (eval
    *                       hygiene; train members are stage 3's call);
    *  5. domain cap      — x51's deterministic content-hash keep set;
    *  6. token budget    — per-source prefix in doc_id order.
    *
    * The expensive audit relation — the df-capped near-dup pairs — is
    * computed ONCE and feeds BOTH stage 3 and stage 4 (the x99
    * `crossingPairs` factoring applied inside the pipeline). Stages 3
    * and 4 remove docs for DIFFERENT reasons: two same-split near-dups
    * lose only their worse member (stage 3); a cross-split pair's
    * non-train member is removed unconditionally (stage 4) even when it
    * is the group's best — so neither stage subsumes the other, and the
    * spec plants docs that only one of the two removes.
    *
    * Scale shape: everything x104 had, plus the pair relation (bounded
    * by the df cap — ≤ maxDf²/2 candidate rows per shingle on ANY
    * corpus), the component labeling (pair-sized iterations), and two
    * anti-joins whose RIGHT sides are pair-participant-sized — a
    * vanishing fraction of the corpus, broadcast-able at any scale.
    * Ordering decisions are on round(6) quality or hashes throughout,
    * so both engines agree on the survivor list. */
  def releasePipeline(docs: DataFrame, minQuality: Double = PipeMinQuality,
                      cap: Int = PipeDomainCap, budget: Long = PipeTokenBudget,
                      maxDf: Int = RelCapDf,
                      threshold: Double = RelThreshold,
                      repTop2: Double = RepTop2Max,
                      repTop3: Double = RepTop3Max,
                      repDup5: Double = RepDup5Max): DataFrame = {
    // (A pre-kernel repartition was tried for the one-parquet-partition
    // small-corpus case and measured a net LOSS at sf0.1 — the wall is
    // the pair/CC machinery's sequential job barriers, not the serial
    // kernel; at real scale the input is already well-partitioned.)
    // Stage 1 filters on quality AND the per-doc repetition rule —
    // in MassiveText/Gopher the repetition battery is a FILTER, not a
    // dashboard; both terms are row-local (codegen'd kernels), so the
    // stage stays a single fused scan. Thresholds ≥ 1.0 silence the
    // rule (fractions are capped at 1), the algebraic-reduction spec's
    // lever.
    val scored = docs
      .withColumn("quality", round(TF.qualityScore(col("text")), 6))
      .filter(col("quality") >= minQuality &&
        !repetitiveFlag(col("text"), repTop2, repTop3, repDup5))
    val kept = scored
      .withColumn("fp", TF.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min_by(
        struct(col("doc_id"), col("source"), col("text"), col("quality")),
        struct((-col("quality")).as("nq"), col("doc_id"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.source").as("source"),
              col("k.text").as("text"), col("k.quality").as("quality"))
      // PINNED (r20 re-measure): `kept` feeds five consumers (the pair
      // kernel, the component labeling, the survivor anti-joins, the
      // domain cap, the final budget window), each of which otherwise
      // re-runs the quality kernel + the fingerprint-dedup EXCHANGE —
      // the earlier "recompute-per-arm beats a materialization barrier"
      // note predated stages 3/4 and no longer holds: A/B at sf0.1,
      // same session shape, unpinned median 8.88 s / min 8.05 vs pinned
      // 7.41 / 6.80. At 100 TB the trade is one disk-backed
      // materialization of the deduped corpus vs FIVE corpus-wide
      // fp-shuffle re-executions — the pin wins harder, not less.
      .localCheckpoint()
    // The PAIR relation is pair-sized with two consumers: pinned too.
    val pairs = Dedup.ngramJaccardPairsCapped(kept,
        n = 3, threshold = threshold, maxDf = maxDf)
      .localCheckpoint()
    // stage 3 — removals: paired docs that are NOT their group's best.
    // labels cover only pair participants, so every relation here is
    // pair-sized, never corpus-sized
    val labeled = kept.select(col("doc_id"), col("quality"))
      .join(Components.connectedComponents(pairs), "doc_id")
    val best = labeled.groupBy(col("component"))
      .agg(max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
        .as("keeper"))
    val removedNearDup = labeled.join(best, "component")
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id")
    // stage 4 — quarantine: non-train members of cross-split pairs
    val quarantined = pairs
      .withColumn("split_a", splitOf(col("id_a")))
      .withColumn("split_b", splitOf(col("id_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select(explode(array(
        struct(col("id_a").as("doc_id"), col("split_a").as("split")),
        struct(col("id_b").as("doc_id"), col("split_b").as("split")))).as("s"))
      .select(col("s.doc_id").as("doc_id"), col("s.split").as("split"))
      .filter(col("split") =!= "train")
      .select("doc_id").distinct()
    val surv = kept
      .join(removedNearDup, Seq("doc_id"), "left_anti")
      .join(quarantined, Seq("doc_id"), "left_anti")
    // stages 5 + 6 — x104's tail unchanged
    val capped = surv
      .join(domainCap(surv, cap).select("doc_id"), "doc_id")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    capped
      .withColumn("split", splitOf(col("doc_id")))
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget ||
        col("cum_tokens") === col("n_tokens"))
      .select(col("doc_id"), col("source"), col("split"), col("quality"),
              col("n_tokens"), col("cum_tokens"))
  }

  /** The top-K corpus vocabulary with cumulative token coverage — the
    * "how big must the vocab be" table every tokenizer build starts
    * from. Global ordering is computed as a distributed top-K
    * (`orderBy.limit(k)` → TakeOrdered, every partition contributes its
    * local top-K and only K rows reach the driver-side sort), NOT a
    * global rank window — a one-partition window over the full
    * vocabulary would serialize at scale. The running-coverage window
    * then runs over K rows only. Coverage divides two exact longs, so
    * both engines compute the identical double; round(6) is belt and
    * braces. */
  def vocabCoverage(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val vocab = docs
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds both the total and the top-K
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    vocab.orderBy(col("cnt").desc, col("token").asc).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(w))
      .withColumn("coverage", round(
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("total"), 6))
      .select(col("rnk"), col("token"), col("cnt"), col("coverage"))
  }

  // ---- x107: per-document repetition profile ---------------------------

  /** x107: the half of the Gopher/MassiveText repetition battery x28
    * does NOT cover. x28 reports distinct-gram RATIOS (what fraction of
    * words/2-grams are duplicates of something); the two signals that
    * catch template floods those ratios miss are CONCENTRATION (one
    * n-gram covering a large share of the document — a page whose
    * boilerplate phrase repeats dominates even when most grams are
    * distinct) and LONG-gram duplication (repeated 5-grams are
    * near-certain copy-paste, where repeated words are just language).
    * Per doc:
    *  - `n_tokens`   — whitespace token count (the x28 tokenizer);
    *  - `top2_frac`  — fraction of 2-gram POSITIONS covered by the most
    *                   frequent 2-gram (occurrences × 2 / positions,
    *                   capped at 1 — a one-token-repeated doc overshoots);
    *  - `top3_frac`  — same at the 3-gram grain;
    *  - `dup5_frac`  — fraction of 5-gram positions whose gram occurs
    *                   more than once in the doc.
    * Docs shorter than the gram have NO positions: explicit NULL, never
    * NaN (the x89 degenerate-input contract). Fractions round(6).
    *
    * Scale shape: ENTIRELY row-local — the multiplicity statistics run
    * through the codegen'd [[graft.functions.TopNgramCount]] /
    * [[graft.functions.DupNgramPositions]] kernels (one token pass per
    * n, staying inside WholeStageCodegen), so the profile adds ZERO
    * shuffles and fuses into the scan; thresholding it (the x99 gate
    * pattern) is free. The explode→groupBy((doc, gram)) formulation
    * this replaces shuffles the corpus's whole gram mass per n. */
  def repetitionProfile(docs: DataFrame): DataFrame = {
    val (t2, t3, d5) = repetitionFracs(col("text"))
    docs.select(col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n_tokens"),
      t2.as("top2_frac"), t3.as("top3_frac"), d5.as("dup5_frac"))
  }

  /** The x107 per-doc fractions as bare row-local expressions —
    * (top2_frac, top3_frac, dup5_frac) — reusable by the x99 gate and
    * the x106 stage-1 repetition rule without a join against the
    * profile relation. */
  private[graft] def repetitionFracs(text: Column): (Column, Column, Column) = {
    import graft.functions.TextKernels.{dup_ngram_positions, top_ngram_count}
    val n = size(TF.tokens(text))
    def posK(k: Int) = (n - (k - 1)).cast("double")
    def topFrac(k: Int) = when(n >= k,
      least(round(top_ngram_count(text, k) * k / posK(k), 6), lit(1.0)))
    (topFrac(2), topFrac(3),
      when(n >= 5, round(
        dup_ngram_positions(text, 5).cast("double") / posK(5), 6)))
  }

  // The Gopher-family per-doc repetition RULE the battery acts through
  // (MassiveText applies these as filters, not dashboards): a doc is
  // repetitive when any of the three x107 fractions exceeds its
  // threshold. Concentration fractions are floor-biased on short docs
  // (an all-distinct doc has top2_frac = 2/(n-1) > 0.2 whenever
  // n < 11), so the rule only judges docs with ≥ RepMinTokens tokens —
  // the same family as Gopher's own min-length precondition; shorter
  // docs are out of the rule's jurisdiction, never flagged by it.
  val RepTop2Max    = 0.20
  val RepTop3Max    = 0.18
  val RepDup5Max    = 0.15
  val RepMinTokens  = 20

  /** True iff the doc breaches the per-doc repetition rule. NULL
    * fractions (docs shorter than the gram) cannot breach — per-term
    * coalesce(_, false), the same NULL handling on both engines. */
  private[graft] def repetitiveFlag(text: Column,
                                    t2Max: Double = RepTop2Max,
                                    t3Max: Double = RepTop3Max,
                                    d5Max: Double = RepDup5Max): Column = {
    val (t2, t3, d5) = repetitionFracs(text)
    (size(TF.tokens(text)) >= RepMinTokens) &&
      (coalesce(t2 > t2Max, lit(false)) ||
       coalesce(t3 > t3Max, lit(false)) ||
       coalesce(d5 > d5Max, lit(false)))
  }

  // ---- x89: Zipf-fit corpus-health audit --------------------------------

  /** Log-log OLS fit of the token frequency spectrum against Zipf's law
    * — the one-row corpus-health gauge data audits lean on: natural
    * text fits rank^(-s) with s ≈ 1 and r² near 1, while boilerplate-
    * flooded or template-generated corpora bend the curve (slope
    * drifts, fit degrades). Output: `n_terms`, `slope`, `intercept`,
    * `r2` of ln(count) ~ ln(rank) over the top-`k` vocabulary.
    *
    * Scale shape: identical spine to [[vocabCoverage]] — the corpus
    * collapses to a vocabulary count (one partial-agg'd shuffle moving
    * the vocabulary, never the corpus), the top-K plans as TakeOrdered
    * (every partition contributes a local heap; K rows total reach the
    * final sort), and the regression is a closed-form aggregate over
    * those K rows. The moment sums are doubles (ln of rank/count), so
    * the outputs are rounded to 6 decimals on both engines — the
    * x35/x87 transcendental-parity rule. */
  def zipfFit(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    val ranked = docs
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(k)
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("cnt").cast("double")))
    val m = ranked.agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val covN = col("n_terms") * col("sxy") - col("sx") * col("sy")
    val varX = col("n_terms") * col("sxx") - col("sx") * col("sx")
    val varY = col("n_terms") * col("syy") - col("sy") * col("sy")
    // Degenerate spectra (one distinct token ⇒ varX = 0; all counts
    // equal ⇒ varY = 0) yield explicit NULLs by contract, never NaN —
    // the fit is undefined there and callers (x99's gate) must see
    // that as "unjudgeable", not as a garbage number.
    m.withColumn("slope", when(varX =!= 0, round(covN / varX, 6)))
      .withColumn("intercept",
        when(varX =!= 0,
          round((col("sy") - covN / varX * col("sx")) / col("n_terms"), 6)))
      .withColumn("r2",
        when(varX =!= 0 && varY =!= 0, round(covN * covN / (varX * varY), 6)))
      .select("n_terms", "slope", "intercept", "r2")
  }

  // ---- x93: DSIR-style importance selection -----------------------------

  val DsirK = 50

  /** Data Selection via Importance Resampling (the DSIR recipe, Xie et
    * al. 2023, on unigram features): score every corpus document by how
    * much more likely its tokens are under the TARGET slice's unigram
    * LM than under the general corpus LM, and keep the top-K — the
    * principled "select pretraining data that looks like the domain I
    * care about" operator. Target = the deterministic
    * `doc_id % benchMod == 0` eval-set stand-in (x26/x71's convention);
    * log w(doc) = Σ_tokens tf · [ln p̂_target(t) − ln p̂_corpus(t)] with
    * Laplace smoothing over the joint vocabulary, so tokens unseen in
    * the target contribute a finite negative ratio instead of −∞.
    *
    * Scale shape — the x35 spine: ONE corpus-grain shuffle for the
    * per-(doc, token) tf; the two LMs collapse to a single
    * vocabulary-sized count relation (map-side combined), totals are a
    * 1-row broadcast, and the token join streams postings past the
    * vocabulary relation. Ranking is TakeOrdered on the doc-grain
    * score (never a global sort). Scores round(6) BEFORE ranking (the
    * x33 rule). */
  def dsirSelect(docs: DataFrame, benchMod: Int = BenchMod,
                 k: Int = DsirK): DataFrame = {
    val (tc, tot) = dsirModel(docs, benchMod)
    dsirScore(docs.filter(col("doc_id") % benchMod =!= 0), tc, tot)
      .orderBy(desc("log_w"), col("doc_id"))
      .limit(k)
  }

  /** The two smoothed unigram LMs behind [[dsirSelect]], as one
    * vocabulary-sized count relation (ct = target count, cc = corpus
    * count per token) plus the 1-row totals (nt, nc, v) — exposed so
    * the streamed admission twin (s31) can build them ONCE from the
    * static corpus and score micro-batches against the pinned
    * relations. */
  private[graft] def dsirModel(docs: DataFrame,
                               benchMod: Int = BenchMod): (DataFrame, DataFrame) = {
    val toks = docs.select(
      (col("doc_id") % benchMod === 0).as("is_t"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("token"))
    val tc = toks.groupBy(col("token")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cc"))
    val tot = tc.agg(sum(col("ct")).as("nt"), sum(col("cc")).as("nc"),
      count(lit(1)).as("v"))
    (tc, tot)
  }

  // ---- x96: DSIR on HASHED features (the fixed-width scale path) --------

  /** md5-prefix feature bucket — 16^`hexLen` buckets, identical string
    * on every engine (the [[splitOf]] portability trick), so the
    * hashed model is oracle-checkable where an engine-specific hash
    * (xxhash64) would not be. */
  private def dsirBucket(token: Column, hexLen: Int): Column =
    substring(md5(token), 1, hexLen)

  /** [[dsirSelect]] on HASHED n-gram features — the formulation the
    * DSIR paper actually ships, and the fixed-width answer to x93's
    * one scale liability: x93's model relation is the JOINT VOCABULARY,
    * which grows with the corpus (open vocabularies don't saturate), so
    * at 100 TB the token join's build side keeps growing. Hashing every
    * token into one of 16³ = 4096 md5-prefix buckets caps the model at
    * 4096 rows FOREVER — the join build side broadcasts at any corpus
    * size — at the cost of hash collisions folding rare tokens
    * together (the paper's trade; smoothing absorbs it). Same scoring
    * shape otherwise: one (doc, bucket) shuffle, Laplace smoothing over
    * the OCCUPIED bucket count, round(6) before TakeOrdered. */
  def dsirSelectHashed(docs: DataFrame, benchMod: Int = BenchMod,
                       k: Int = DsirK, hexLen: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"),
      (col("doc_id") % benchMod === 0).as("is_t"),
      // bucket INSIDE the array transform (a generator can't nest under
      // substring), so only 3-hex bucket strings ever leave the row
      explode(transform(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)),
        t => dsirBucket(t, hexLen))).as("b"))
    val bc = toks.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cc"))
    val tot = bc.agg(sum(col("ct")).as("nt"), sum(col("cc")).as("nc"),
      count(lit(1)).as("v"))
    val tf = toks.filter(!col("is_t"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("tf"))
    val ratio =
      log((col("ct") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
      log((col("cc") + 1).cast("double") / (col("nc") + col("v")).cast("double"))
    // bc is provably ≤ 16^hexLen rows — broadcast correct at any scale
    // (the estimate from the corpus-sized child would flip it to SMJ)
    tf.join(broadcast(bc), "b")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
           round(sum(col("tf") * ratio), 6).as("log_w"))
      .orderBy(desc("log_w"), col("doc_id"))
      .limit(k)
  }

  /** Calibrate s31's admission threshold τ for a TARGET admit rate:
    * score the calibration corpus's non-target slice with the pinned
    * [[dsirModel]], take the ceil(rate·n)-th highest log_w, and return
    * it — admitting at the returned τ then passes ≈ `targetRate` of a
    * stream drawn from the calibration distribution (exactly
    * ceil(rate·n)/n on the calibration corpus itself, modulo round(6)
    * ties). Makes the admission gate usable without hand-tuning a
    * constant.
    *
    * Scale shape: one count + one TakeOrdered (orderBy.limit — every
    * partition contributes its local top-k, k = ceil(rate·n) rows
    * total reach the driver-side min) over the doc-grain score
    * relation; never a global sort or a rank window. For small target
    * rates on huge corpora k is small; for large rates, calibrate on
    * a sample (the scores are iid under sampling). */
  def dsirTauFor(docs: DataFrame, targetRate: Double,
                 benchMod: Int = BenchMod): Double = {
    require(targetRate > 0.0 && targetRate <= 1.0,
      s"targetRate must be in (0, 1], got $targetRate")
    val (tc, tot) = dsirModel(docs, benchMod)
    val scored = dsirScore(docs.filter(col("doc_id") % benchMod =!= 0), tc, tot)
      .localCheckpoint() // feeds the count AND the top-k
    val n = scored.count()
    require(n > 0, "dsirTauFor needs a non-empty non-target slice to calibrate on")
    val kL = math.max(1L, math.ceil(targetRate * n).toLong)
    // limit() takes an Int: past 2^31 admitted rows the silent .toInt
    // wrap would mis-calibrate — enforce the documented sampling advice
    // loudly instead (scores are iid under sampling, so a sample's τ
    // is the corpus's τ)
    require(kL <= Int.MaxValue,
      s"dsirTauFor: targetRate * n = $kL exceeds Int.MaxValue — " +
      "calibrate on a sample of the corpus instead")
    val k = kL.toInt
    scored.orderBy(desc("log_w"), col("doc_id")).limit(k)
      .agg(min(col("log_w"))).head.getDouble(0)
  }

  /** Score `docs` against a [[dsirModel]]: per-doc token count and the
    * smoothed log importance weight, round(6). Row-local explode + one
    * (doc, token) shuffle + the vocabulary join; no ranking — callers
    * TakeOrder (x93) or threshold (s31) on top. */
  private[graft] def dsirScore(docs: DataFrame, tc: DataFrame,
                               tot: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val ratio =
      log((col("ct") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
      log((col("cc") + 1).cast("double") / (col("nc") + col("v")).cast("double"))
    tf.join(tc, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
           round(sum(col("tf") * ratio), 6).as("log_w"))
  }

  // ---- x124/x125: quality classifier over hashed n-gram features --------

  /** Feature geometry of the x124/x125 quality classifier, shared
    * Scala↔oracle (the ADVICE-r15 shared-constant rule): 16^QcHexLen
    * md5-prefix buckets — the CCNet/GPT-3 stack's hashed-n-gram
    * featurization (Wenzek 2020 §4.3 trains fastText over hashed
    * n-grams; Brown 2020 App. A a logistic classifier over the same),
    * with the x96 md5 portability trick so the bucket ids are
    * recomputable cross-engine. */
  val QcHexLen = 2
  val QcIters = 30
  val QcLr = 1.0

  /** Feature bucket id ∈ [0, 16^QcHexLen) of a token — md5-prefix hex
    * parsed as an integer (engine-shared: DuckDB CAST('0x'||…)). */
  private[graft] def qcBucket(token: Column): Column =
    conv(substring(md5(token), 1, QcHexLen), 16, 10).cast("long")

  /** The x124 fixed-weight affine-hash constants (LCG multiplier/
    * increment/modulus), shared with the oracle SQL so neither side
    * can silently desync. */
  val QcWA = 1103515245L
  val QcWB = 12345L
  val QcWM = 2147483647L

  /** The x124 FIXED per-bucket weight — a closed-form affine-hash ramp
    * (w(j) ∈ [−0.5, 0.5)) replayed verbatim in the oracle SQL, so the
    * pinned-weights serve path is value-level checkable. */
  private[graft] def qcFixedWeight(j: Column): Column =
    ((lit(QcWA) * j + lit(QcWB)) % lit(QcWM)).cast("double") /
      lit(QcWM.toDouble) - lit(0.5)

  /** The x124 pinned-weight serve agg in ONE place (tokenize → md5
    * bucket → mean ramp weight → sigmoid → round 6): x124, x126, x127,
    * s42 and the gateway /score path all score through this expression,
    * so the hash-twin machinery cannot desync across sites. `carry`
    * columns must be functionally dependent on doc_id (lang, a derived
    * label, a per-doc constant) — they ride the doc-grain groupBy so no
    * join-back is ever needed; zero-token docs have no rows and are
    * absent (the x87 drop rule). */
  private[graft] def qcFixedScored(docs: DataFrame,
                                   carry: Seq[String] = Nil): DataFrame =
    docs.select(col("doc_id") +: carry.map(col) :+
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).as("token"): _*)
      .groupBy("doc_id", carry: _*)
      .agg(round(lit(1.0) / (lit(1.0) +
        exp(-avg(qcFixedWeight(qcBucket(col("token")))))), 6).as("q_score"))

  /** x124: the quality-classifier SERVING path with PINNED weights —
    * the x108/x114 hash-twin discipline applied to x125: the only
    * non-SQL-expressible piece of the trained classifier is the
    * fp-order-sensitive gradient fit, so a literal weight function
    * lets the oracle recompute the whole serve machinery
    * ([[qcFixedScored]]) value-for-value. Row-local except the one
    * doc-grain aggregate; zero model state (the weight is a closed-form
    * expression), so the serve path runs at any corpus size with no
    * build side at all. */
  def qualityClassifierFixed(docs: DataFrame): DataFrame =
    qcFixedScored(docs).orderBy("doc_id")

  /** (doc, bucket) normalized bag-of-buckets features with the DSIR
    * wiki-vs-corpus label convention (is_t ⇔ doc_id % benchMod == 0 —
    * the x93/x96 target-slice stand-in): x = tf(bucket)/doclen, so
    * ‖x‖₁ = 1 per doc. Docs with zero tokens have no feature rows and
    * are absent from training and serving alike (the x87 drop rule). */
  private[graft] def qcFeatures(docs: DataFrame,
                                benchMod: Int = BenchMod): DataFrame =
    docs.select(col("doc_id"),
        (col("doc_id") % benchMod === 0).as("is_t"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).as("token"))
      .select(col("doc_id"), col("is_t"), qcBucket(col("token")).as("j"))
      .groupBy("doc_id", "is_t", "j").agg(count(lit(1)).as("c"))
      .withColumn("dl", sum("c").over(Window.partitionBy("doc_id")))
      .select(col("doc_id"), col("is_t"), col("j"),
        (col("c").cast("double") / col("dl")).as("x"))

  /** The (doc, bucket) features packed to ONE ROW PER DOC as parallel
    * arrays (js: bucket ids ascending, xs: tf fractions) — the fit and
    * serve layout (r20 optimization). Row width is bounded by the MODEL
    * (≤ 16^QcHexLen distinct buckets per doc), never the corpus, so the
    * packing is scale-safe; `sort_array` makes the per-doc summation
    * order deterministic (j-ascending), which the flat layout's
    * window-order sum was not. */
  private[graft] def qcDocFeatures(feats: DataFrame): DataFrame =
    feats.groupBy("doc_id", "is_t")
      .agg(sort_array(collect_list(struct(col("j").cast("int").as("j"),
        col("x")))).as("fs"))
      .select(col("doc_id"), col("is_t"),
        col("fs").getField("j").as("js"), col("fs").getField("x").as("xs"))

  /** DISTRIBUTED logistic-regression fit via MERGEABLE GRADIENT
    * PARTIALS (the s32 algebraic-partials pattern) over the doc-packed
    * feature relation: each iteration is ONE job — the per-doc margin
    * is ROW-LOCAL ([[graft.functions.VectorFunctions.indexed_dot]]
    * against the constant-folded literal weight vector), so the
    * doc-grain window (an exchange + sort per iteration in the flat
    * (doc, j, x) layout this replaces — measured ~0.3 s × 30 iterations
    * at sf0.1) is gone entirely; the gradient partials explode to
    * (j, e·x) rows and map-side-combine, so the iteration's only
    * exchange is the model-sized partial relation (≤ 16^QcHexLen + 1
    * rows: per-bucket ∂w plus the bias/count/loss partials riding each
    * doc's pos=0 row — the same smallest-j attribution the old rn=1
    * window rule used). O(iters) jobs, O(model) driver memory — the
    * x109 distributed-learner shape with a convex objective. Returns
    * (weights, bias, per-iteration mean log-loss) so specs can assert
    * the descent, not just the endpoint. */
  private[graft] def qcFitDoc(docFeats: DataFrame, iters: Int = QcIters,
                              lr: Double = QcLr)
      : (Array[Double], Double, Seq[Double]) = {
    import graft.functions.VectorFunctions
    val d = math.pow(16, QcHexLen).toInt
    val w = Array.fill(d)(0.0)
    var b = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until iters) {
      val wLit = array(w.map(lit).toIndexedSeq: _*)
      val scored = docFeats
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(
          -(VectorFunctions.indexed_dot(col("js"), col("xs"), wLit) + lit(b)))))
        .withColumn("y", when(col("is_t"), 1.0).otherwise(0.0))
        .withColumn("e", col("p") - col("y"))
      val parts = scored
        .select(col("p"), col("y"), col("e"),
          posexplode(arrays_zip(col("js"), col("xs"))))
        .groupBy(col("col.js").cast("long").as("j"))
        .agg(sum(col("e") * col("col.xs")).as("gj"),
          sum(when(col("pos") === 0, col("e")).otherwise(0.0)).as("gb"),
          sum(when(col("pos") === 0, 1L).otherwise(0L)).as("nd"),
          sum(when(col("pos") === 0,
            -(col("y") * log(col("p")) +
              (lit(1.0) - col("y")) * log(lit(1.0) - col("p"))))
            .otherwise(0.0)).as("ll"))
        .collect()
      val n = parts.map(_.getLong(3)).sum.toDouble
      require(n > 0, "quality classifier: no tokenized docs to fit on")
      losses += parts.map(_.getDouble(4)).sum / n
      parts.foreach { r =>
        w(r.getLong(0).toInt) -= lr * r.getDouble(1) / n
      }
      b -= lr * parts.map(_.getDouble(2)).sum / n
    }
    (w, b, losses.toSeq)
  }

  /** [[qcFitDoc]] behind the flat-features signature (spec surface):
    * packs, PINS (the fit re-scans `iters` times), fits. */
  private[graft] def qcFit(feats: DataFrame, iters: Int = QcIters,
                           lr: Double = QcLr)
      : (Array[Double], Double, Seq[Double]) =
    qcFitDoc(qcDocFeatures(feats).localCheckpoint(), iters, lr)

  /** x125: the TRAINED quality classifier — CCNet's "looks like the
    * target domain" gate as a fitted linear model instead of the x02
    * heuristic composite: [[qcFit]] logistic regression over hashed
    * n-gram features, labels from the DSIR wiki-vs-corpus split,
    * served by the same machinery x124 hash-pins. Learned weights are
    * fp-order-sensitive (gradient partials sum in partition order) ⇒
    * rows-only; CurationSpec asserts the descent (loss strictly
    * falls), separation on a constructed two-domain corpus (AUC), and
    * that the score slots into x119's Pareto keep rule (the
    * "x119/x21 can consume it" contract).
    *
    * Output (doc_id, is_target, q_score): scores for EVERY tokenized
    * doc, target slice included — downstream samplers filter as they
    * see fit. */
  def qualityClassifierTrained(docs: DataFrame, benchMod: Int = BenchMod,
                               iters: Int = QcIters, lr: Double = QcLr)
      : DataFrame = {
    // pinned: the fit re-scans the features `iters` times — the one
    // regime where materialize beats recompute (the x111 rule). The
    // doc-packed layout is pinned (not the flat one): both the fit and
    // the serve read it, and it is the smaller relation.
    val docFeats = qcDocFeatures(qcFeatures(docs, benchMod)).localCheckpoint()
    val (w, b, _) = qcFitDoc(docFeats, iters, lr)
    qcScoreDoc(docFeats, w, b).orderBy("doc_id")
  }

  /** The trained-classifier SERVE tail in one place — sigmoid(Σ wⱼxⱼ + b)
    * over the (doc, bucket) feature relation, round 6 — shared by the
    * in-session fit (x125/x130), the stored-model path (x133) and the
    * gateway's `model=trained` scoring, so "stored weights score
    * exactly what the fit scored" is true by construction (one
    * expression, the same doubles). */
  private[graft] def qcServeScores(feats: DataFrame, w: Array[Double],
                                   b: Double): DataFrame = {
    val wLit = array(w.map(lit).toIndexedSeq: _*)
    feats.groupBy("doc_id", "is_t")
      .agg(round(lit(1.0) / (lit(1.0) +
        exp(-(sum(element_at(wLit, (col("j") + 1).cast("int")) * col("x"))
          + lit(b)))), 6).as("q_score"))
      .select(col("doc_id"), col("is_t").cast("int").as("is_target"),
        col("q_score"))
  }

  /** The serve tail over the doc-packed layout — the [[qcServeScores]]
    * weight/sigmoid/round-6 shape evaluated ROW-LOCALLY via
    * [[graft.functions.VectorFunctions.indexed_dot]], for callers that
    * already hold the pinned docFeats relation (the x125/x130 fit
    * path): zero exchanges, and the per-doc summation order is the
    * deterministic j-ascending one the fit itself uses. The flat
    * [[qcServeScores]] stays for single-pass serve-only callers (x133,
    * the gateway /score route), where a direct partial-agg'd sum is
    * one collect-free pass and the packing groupBy would only add
    * per-doc array state. */
  private[graft] def qcScoreDoc(docFeats: DataFrame, w: Array[Double],
                                b: Double): DataFrame = {
    import graft.functions.VectorFunctions
    val wLit = array(w.map(lit).toIndexedSeq: _*)
    docFeats.select(col("doc_id"), col("is_t").cast("int").as("is_target"),
      round(lit(1.0) / (lit(1.0) + exp(
        -(VectorFunctions.indexed_dot(col("js"), col("xs"), wLit) + lit(b)))),
        6).as("q_score"))
  }

  /** Load-don't-refit (x133): the fitted (weights, bias) for `docs`
    * from the durable [[graft.store.ModelStore]] at `storeRoot` when
    * its fingerprint matches the corpus; otherwise fit (x125's qcFit)
    * and persist. Returns (w, b, fitted?) — fitted=false is the
    * amortized path where x130's 30-pass cost is NOT paid again. The
    * staleness contract: a fingerprint mismatch always refits and
    * overwrites — stored weights are never served against a corpus
    * they were not fitted on (never silently stale). */
  private[graft] def qcLoadOrFit(docs: DataFrame, storeRoot: String,
                                 benchMod: Int = BenchMod,
                                 iters: Int = QcIters, lr: Double = QcLr)
      : (Array[Double], Double, Boolean) = {
    import graft.store.ModelStore
    val s = docs.sparkSession
    val corpus = docs.select(col("doc_id"), col("text"))
    // Two-tier staleness check (VERDICT r18 task 4): validate against
    // the corpus's FILE metadata first — driver-side listing, no row
    // scan — and only fall back to the full-corpus row fingerprint when
    // the file list changed (or the relation has no file lineage). A
    // rewritten-but-identical corpus then re-validates once by rows and
    // refreshes the meta record, so steady state never runs a
    // corpus-sized job; mutation is still loud (meta mismatch → row
    // fingerprint → mismatch → refit).
    val meta = ModelStore.metaFingerprint(corpus)
    ModelStore.load(s, storeRoot) match {
      case Some((w, b, _))
          if meta.isDefined && ModelStore.loadMeta(s, storeRoot) == meta =>
        (w, b, false)
      case loaded =>
        val fp = ModelStore.corpusFingerprint(corpus)
        loaded match {
          case Some((w, b, storedFp)) if storedFp == fp =>
            ModelStore.saveMeta(s, storeRoot, meta) // revalidated by rows
            (w, b, false)
          case _ =>
            val (w, b, _) = qcFitDoc(
              qcDocFeatures(qcFeatures(docs, benchMod)).localCheckpoint(),
              iters, lr)
            ModelStore.save(s, storeRoot, w, b, fp, meta)
            (w, b, true)
        }
    }
  }

  /** x133: x125's serve path against the DURABLE model — score every
    * tokenized doc with the stored weights (fitting only when the store
    * is absent or stale). One corpus pass at serve; the O(iters)-pass
    * fit is paid once per corpus refresh instead of once per run. */
  def qualityClassifierStored(docs: DataFrame, storeRoot: String,
                              benchMod: Int = BenchMod,
                              iters: Int = QcIters, lr: Double = QcLr)
      : DataFrame = {
    val (w, b, _) = qcLoadOrFit(docs, storeRoot, benchMod, iters, lr)
    qcServeScores(qcFeatures(docs, benchMod), w, b).orderBy("doc_id")
  }

  /** x133's registry shape: the x130 composition (trained score →
    * Pareto admission, [[paretoKeepStage]] verbatim) with the model
    * loaded from the durable store — the production posture where the
    * sampler's wall is the SCORE, not the fit. */
  def paretoClassifierSampleStored(docs: DataFrame, storeRoot: String,
                                   benchMod: Int = BenchMod,
                                   iters: Int = QcIters,
                                   lr: Double = QcLr): DataFrame =
    paretoKeepStage(
      qualityClassifierStored(docs, storeRoot, benchMod, iters, lr),
      Seq("is_target"))

  /** Calibration table over any (…, is_t: boolean, q_score: double)
    * scored relation: score-decile → (count, target count, mean score,
    * target rate) — the reliability diagram of Guo et al. 2017, the
    * standard evaluation for a probabilistic quality gate (a calibrated
    * classifier has target_rate ≈ mean_score per decile; ECE is one
    * weighted fold of the two columns). target_rate is computed as the
    * exact integer-count ratio, not an avg of doubles, so the only
    * fp-order-sensitive column is the round-6 mean. */
  private[graft] def calibrationTable(scored: DataFrame): DataFrame =
    scored
      .withColumn("decile",
        least(floor(col("q_score") * 10), lit(9)).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("n_target"),
        round(avg(col("q_score")), 6).as("mean_score"),
        round(sum(when(col("is_t"), 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("target_rate"))
      .orderBy("decile")

  /** x127: the classifier family's EVALUATION rung — the calibration
    * table of the x124 pinned-weight scorer against the DSIR
    * wiki-vs-corpus label (the same label x125 trains on). With the
    * fixed affine-ramp weights the table honestly shows a flat,
    * uninformative scorer concentrated near 0.5 — the entry's value is
    * the hash-pinned MACHINERY (score → decile → count/rate fold);
    * CurationSpec runs the identical fold over x125's TRAINED scores
    * and asserts the separation the fixed twin cannot have (the
    * x124/x125 twin discipline applied to evaluation).
    *
    * Plan at 100 TB: the x124 doc-grain agg (map-side combined) then a
    * ≤10-row decile agg — nothing downstream of the first exchange
    * exceeds model size. */
  def classifierCalibration(docs: DataFrame,
                            benchMod: Int = BenchMod): DataFrame =
    calibrationTable(qcFixedScored(
      docs.withColumn("is_t", col("doc_id") % benchMod === 0), Seq("is_t")))

  // ---- x52: collocation extraction (PMI-ranked bigrams) ----------------

  val CollocMinCount = 5
  val CollocK = 50

  /** Top-K collocations: adjacent-token bigrams ranked by pointwise
    * mutual information, the classic corpus-linguistics signal for
    * multiword expressions ("new york" scores high, "of the" does not).
    *
    * Scale shape: the corpus collapses to a bigram-vocabulary count and
    * a unigram-vocabulary count (both partial-agg'd — the shuffles move
    * vocabularies, never the corpus); the two totals are 1-row broadcast
    * scalars; the unigram joins key on tokens (vocabulary-scale). PMI is
    * computed with the IDENTICAL expression shape on both engines and
    * rounded to 6 decimals BEFORE ranking (the x33/x35 transcendental-
    * parity rule), tie-broken on the bigram string. Top-K via
    * orderBy+limit (TakeOrdered — never a global rank window over the
    * bigram vocabulary). */
  def collocations(docs: DataFrame, k: Int = CollocK,
                   minCount: Int = CollocMinCount): DataFrame = {
    val toks = docs.select(
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val biAll = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
      .localCheckpoint() // feeds both the total and the scored join
    val totals = uni.agg(sum(col("cu")).cast("double").as("n_tok"))
      .crossJoin(biAll.agg(sum(col("cb")).cast("double").as("n_bi")))
    val scored = biAll.filter(col("cb") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("cb").cast("double") * col("n_tok") * col("n_tok")) /
        (col("n_bi") * col("cu1") * col("cu2"))), 6))
    val w = Window.orderBy(col("pmi").desc, col("bg").asc)
    scored.orderBy(col("pmi").desc, col("bg").asc).limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("bg"), col("cb"), col("pmi"))
  }

  // ---- x51: per-domain document cap ------------------------------------

  val DomainCap = 10

  /** Cap each domain (source) at `cap` documents, selected
    * deterministically by content hash — the RefinedWeb/C4-style defense
    * against a handful of giant hosts dominating the corpus. The keep
    * set is a pure function of content (md5 over doc_id:text), so it is
    * stable under corpus reordering and growth of OTHER domains.
    *
    * Scale shape: the bounded-heap string top-k
    * ([[graft.functions.TopKAggregator.topkStr]]) with a constant score
    * reduces to "k smallest hashes per domain" — each map task emits
    * ≤ cap rows per domain into the exchange, so a domain with 10⁸ docs
    * still moves only O(tasks·cap) rows. The rank-window alternative
    * would shuffle the whole corpus and serialize each domain onto one
    * task. */
  def domainCap(docs: DataFrame, cap: Int = DomainCap,
                domainCol: String = "source"): DataFrame = {
    import graft.functions.TopKAggregator
    // Hash input includes doc_id, so ids are collision-free and the
    // lexicographic order needs no tie-break.
    val keyed = docs.select(col(domainCol),
      concat(md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))),
             lit(":"), col("doc_id").cast("string")).as("h"))
    keyed.groupBy(col(domainCol))
      .agg(TopKAggregator.topkStr(cap)(lit(0.0), col("h")).as("__tk"))
      .select(col(domainCol), posexplode(col("__tk")).as(Seq("__pos", "__s")))
      .select(col(domainCol),
              split(col("__s.id"), ":").getItem(1).cast("long").as("doc_id"),
              (col("__pos") + 1).cast("long").as("sel_rank"))
  }

  // ---- x68: BPE merge learning (Sennrich et al. 2016) -------------------

  /** Greedy left-to-right application of one merge to a symbol
    * sequence — the merge rule of Sennrich et al.'s learn_bpe. */
  private[operators] def applyMerge(syms: Array[String], a: String,
                                    b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Learn `numMerges` byte-pair-encoding merges from the corpus —
    * subword-vocabulary INDUCTION (Sennrich, Haddow & Birch 2016, "Neural
    * Machine Translation of Rare Words with Subword Units"), the step
    * before [[vocabCoverage]]-style selection: x36 picks whole words,
    * this learns the units. Exact reference semantics: words split to
    * character symbols, each round counts every adjacent symbol pair
    * weighted by word frequency (overlapping occurrences included, as
    * in the reference's zip(word, word[1:])), merges the most frequent
    * pair corpus-wide (ties broken lexicographically on (left, right) —
    * deterministic on any engine), greedy left-to-right application,
    * and stops early when the best pair's frequency falls below
    * `minFreq`. Returns (rank, left, right, merged, pair_freq).
    *
    * Scale shape — CORPUS-DISTRIBUTED aggregation, VOCABULARY-LOCAL
    * learning. The corpus-sized work is exactly one partial-agg'd
    * shuffle (token → word-frequency table, the dictionary method of
    * the reference implementation); the learner then runs ONCE, inside
    * a single Spark task over the coalesced vocabulary, as a priority-
    * queue loop with INCREMENTAL pair-count maintenance — each merge
    * touches only the words that contain its pair, so the total work is
    * amortized by occurrences, not merges × vocabulary. Job count is
    * O(1) regardless of merge count; wall grows with corpus size (the
    * shuffle + vocabulary build), not with `numMerges`.
    *
    * Why not distributed merge rounds? Two shapes were built and
    * MEASURED before this one (sf0.01 fixture, 89 learnable merges):
    * the one-job-per-merge loop (272 jobs, 10.8 s — tens of thousands
    * of sequential driver round trips at a production 32k-merge
    * vocabulary), and a batched verified-replay variant applying top-m
    * symbol-disjoint merges per round with an exact driver-side replay
    * certifying each step (245 jobs, 14.4 s — average certified batch
    * 1.1). Batching fails for a reason intrinsic to BPE: the sequential
    * argmax CHAINS — the pair created by a merge (`t`+`h` → `th`) is
    * very often the next argmax (`th`+`e`), so any batch drawn from the
    * pre-round ranking truncates at step 2. The dictionary-local
    * learner is how production subword trainers handle 32k–50k merges,
    * and it is exact.
    *
    * Memory posture: the vocabulary must fit one executor task. Heaps'
    * law keeps natural-text vocabularies in the tens of millions at
    * 100 TB; the loud `maxVocab` guard plus the standard `minWordFreq`
    * threshold (drop hapax noise — URLs, hashes — before learning, the
    * knob every production trainer exposes) keep the bound honest. The
    * corpus itself never concentrates anywhere: only (distinct word,
    * freq) rows cross the exchange, and only k merge rows come back. */
  def bpeMerges(docs: DataFrame, textCol: String = "text",
                numMerges: Int = 20, minFreq: Long = 2L,
                minWordFreq: Long = 1L, maxVocab: Long = 5000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minWordFreq)
    // ONE corpus-sized job: the vocabulary guard rides inside the kernel
    // task — the dictionary is counted AS it buffers, throwing the
    // moment the count passes maxVocab (memory stays bounded by the
    // knob, never by the corpus) — instead of a separate words.count()
    // scan doubling the only corpus-sized work. The merge table is
    // ≤ numMerges rows — driver-sized by design — so it is materialized
    // here and the guard's IllegalArgumentException unwrapped from
    // Spark's task-failure wrapper to stay a loud, typed driver error.
    val rows =
      try {
        words
          .as[(String, Long)]
          .map { case (w, f) => (w.map(_.toString).toArray, f) }
          .coalesce(1) // the learner is one task over the vocabulary relation
          .mapPartitions { it =>
            val vocab = scala.collection.mutable.ArrayBuffer.empty[(Array[String], Long)]
            while (it.hasNext) {
              require(vocab.length < maxVocab,
                s"BPE vocabulary has more than maxVocab=$maxVocab distinct words; " +
                  "raise minWordFreq (frequency-thresholding the dictionary is the " +
                  "standard practice for web-scale corpora) or raise maxVocab")
              vocab += it.next()
            }
            learnBpeKernel(vocab.toArray, numMerges, minFreq).iterator
          }
          .collect()
      } catch {
        // surface ONLY the kernel's own maxVocab guard from the Spark
        // task-failure wrapping (matched by message, so an unrelated
        // IllegalArgumentException nested in a task failure keeps its
        // full Spark context instead of being rethrown stripped)
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .collectFirst {
              case iae: IllegalArgumentException
                  if iae.getMessage != null && iae.getMessage.contains("maxVocab") => iae
            }
            .foreach(throw _)
          throw e
      }
    rows.sortBy(_._1).toSeq.toDF("rank", "left", "right", "merged", "pair_freq")
  }

  /** x109: the DISTRIBUTED BPE learner — [[bpeMerges]]' scale path for
    * dictionaries that provably cannot fit one task. [[bpeMerges]] is
    * O(1) Spark jobs but holds the whole (word, freq) dictionary in a
    * single executor task (the loud maxVocab guard); here the
    * dictionary NEVER concentrates anywhere. Each merge round is
    *   1. one distributed pair-count aggregation — adjacent symbol
    *      pairs exploded per word, weighted by word frequency
    *      (overlapping occurrences included), partial-agg'd groupBy so
    *      only (pair, count) rows cross the exchange;
    *   2. a distributed top-1 argmax — `orderBy(count desc, left, right)
    *      .limit(1)` plans as TakeOrdered (every partition contributes
    *      one candidate; Spark's binary UTF8String ordering IS
    *      code-point order, so ties break exactly as in the kernel);
    *   3. a row-local merge application over the vocabulary (the merge
    *      pair rides the closure — two strings, broadcast-sized by
    *      construction).
    * The trade is explicit and the OPPOSITE of bpeMerges': job count
    * is O(numMerges) — a production 32k-merge vocabulary means 32k
    * sequential rounds, and batching cannot fix that (the argmax
    * CHAINS through just-created pairs; see bpeMerges' doc for the two
    * measured failures) — against per-task memory O(1 row) at ANY
    * vocabulary size. Use bpeMerges whenever the dictionary fits
    * (Heaps' law keeps natural-text vocabularies in the tens of
    * millions at 100 TB — it usually does); reach for this when the
    * maxVocab guard fires and minWordFreq cannot be raised further.
    *
    * The per-round vocabulary relation is localCheckpoint-pinned:
    * without the pin, round r's plan chains r map stages and total
    * work goes O(numMerges²); with it each round is one bounded
    * vocabulary-sized job (the pin is vocabulary-sized — exactly the
    * relation this variant exists to keep distributed). Exact same
    * semantics as bpeMerges, spec-proven merge-for-merge against both
    * the single-task kernel and the naive reference. */
  def bpeMergesDistributed(docs: DataFrame, textCol: String = "text",
                           numMerges: Int = 20, minFreq: Long = 2L,
                           minWordFreq: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minWordFreq)
      .as[(String, Long)]
      .map { case (w, f) => (w.map(_.toString).toArray, f) }
      .toDF("syms", "freq")
      .localCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms)-2), " +
            "i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      top.headOption match {
        case Some(r) if r.getLong(2) >= minFreq =>
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += ((rank, a, b, a + b, c))
          vocab = vocab.as[(Array[String], Long)]
            .map { case (s, f) => (applyMerge(s, a, b), f) }
            .toDF("syms", "freq")
            .localCheckpoint()
          rank += 1
        case _ => done = true
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_freq")
  }

  /** String comparison by Unicode CODE POINTS — identical to comparing
    * the UTF-8 encodings byte-for-byte, and to Spark's `UTF8String`
    * binary comparator — without allocating. `Ordering.String` (UTF-16
    * code units) disagrees with it exactly when a supplementary-plane
    * character meets a BMP character in `[U+E000, U+FFFF]`. */
  private[operators] val codePointOrder: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      var i = 0; var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i); val cy = y.codePointAt(j)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx); j += Character.charCount(cy)
      }
      Integer.compare(x.length - i, y.length - j)
    }
  }

  /** The exact sequential learn_bpe over an in-memory (symbols, freq)
    * vocabulary, with the classic incremental index: pair → count and
    * pair → set of containing words, plus an ordered set over
    * (−count, left, right) so each round's argmax is O(log P). A merge
    * re-tokenizes ONLY the words holding its pair and feeds their exact
    * pair-count deltas back into the structures — total work amortizes
    * over occurrences. Selection order, greedy left-to-right
    * application, and the `minFreq` stop match the one-pair-at-a-time
    * reference algorithm symbol-for-symbol (spec-proven, including
    * tie-dense and merged-symbol-collision corpora). */
  private[operators] def learnBpeKernel(
      vocab: Array[(Array[String], Long)], numMerges: Int, minFreq: Long)
      : Array[(Int, String, String, String, Long)] = {
    type Pair = (String, String)
    val words = vocab.map(_._1)
    val freqs = vocab.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[Pair, Long]
    val where = scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.HashSet[Int]]
    // learn_bpe's argmax order: freq desc, then (left, right) asc in
    // CODE-POINT order (≡ Spark UTF8String binary order) — Java's
    // default String ordering compares UTF-16 code units, which ranks
    // supplementary-plane symbols below BMP symbols ≥ U+E000 and would
    // silently flip tie winners vs the engine-side binary semantics
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, codePointOrder, codePointOrder)
    val order = scala.collection.mutable.TreeSet.empty[(Long, String, String)]

    def pairsOf(syms: Array[String]): Iterator[Pair] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    def bump(p: Pair, d: Long): Unit = {
      val c0 = counts.getOrElse(p, 0L)
      if (c0 != 0L) order.remove((c0, p._1, p._2))
      val c1 = c0 + d
      if (c1 == 0L) counts.remove(p)
      else { counts(p) = c1; order.add((c1, p._1, p._2)) }
    }

    var w = 0
    while (w < words.length) {
      val f = freqs(w)
      pairsOf(words(w)).foreach { p =>
        bump(p, f)
        where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += w
      }
      w += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done && order.nonEmpty) {
      val (c, a, b) = order.head
      if (c < minFreq) done = true
      else {
        merges += ((rank, a, b, a + b, c))
        val touched = where.getOrElse((a, b), scala.collection.mutable.HashSet.empty).toArray
        var t = 0
        while (t < touched.length) {
          val idx = touched(t)
          val before = words(idx)
          val after = applyMerge(before, a, b)
          if (after.length != before.length) {
            val f = freqs(idx)
            // exact multiset delta of this word's adjacent pairs
            val diff = scala.collection.mutable.HashMap.empty[Pair, Long]
            pairsOf(before).foreach(p => diff(p) = diff.getOrElse(p, 0L) - f)
            pairsOf(after).foreach(p => diff(p) = diff.getOrElse(p, 0L) + f)
            diff.foreach { case (p, d) => if (d != 0L) bump(p, d) }
            // presence index: drop pairs this word no longer holds, add new
            val now = pairsOf(after).toSet
            pairsOf(before).foreach { p =>
              if (!now(p)) where.get(p).foreach(_ -= idx)
            }
            now.foreach(p =>
              where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += idx)
            words(idx) = after
          }
          t += 1
        }
        rank += 1
      }
    }
    merges.toArray
  }

  // ---- x69: BPE encoding (tokenize with a learned merge table) ----------

  /** Encode one word with a rank-ordered merge table: one greedy
    * left-to-right pass per merge, in learning order. Equivalent to
    * Sennrich et al.'s priority-queue apply_bpe (spec-proven against an
    * independent implementation of exactly that): a later merge can
    * only COMBINE adjacent symbols, never remove one, so it cannot
    * create a new adjacency of an earlier merge's pair — each rule is
    * exhausted once its pass runs. O(merges · |word|) — kept as the
    * independently-shaped SPEC REFERENCE for the shipped
    * [[encodeWordRankHeap]] kernel (O(|word| log |word|), table-size
    * independent), which [[bpeEncode]] uses. */
  private[operators] def encodeWord(word: String,
                                    merges: Array[(String, String)]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    var m = 0
    while (m < merges.length && syms.length > 1) {
      val (a, b) = merges(m)
      syms = applyMerge(syms, a, b)
      m += 1
    }
    syms
  }

  /** Pair → rank lookup for [[encodeWordRankHeap]], built once per
    * table and closure-shipped to executors (java.util.HashMap: O(1)
    * probes, Serializable, no Option allocation in the hot loop). */
  private[operators] def rankTable(
      merges: Seq[(String, String)]): java.util.HashMap[(String, String), Integer] = {
    val m = new java.util.HashMap[(String, String), Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, Integer.valueOf(i)) }
    m
  }

  /** The PRODUCTION encoder for large merge tables: Sennrich's
    * apply_bpe as a rank-heap over the word's adjacent pairs —
    * O(|word| log |word|) INDEPENDENT of table size, where
    * [[encodeWord]] pays one pass per rule (fine at dashboard-sized
    * tables; 32k passes per word at a production vocabulary). Symbols
    * live in a doubly linked list over the word's positions; the heap
    * orders candidate merges by (rank, original position) — position
    * ascending realizes the pass form's leftmost-first order for
    * equal-rank occurrences — and stale entries are validated lazily on
    * pop (skip unless the popped pair is still live at that position
    * with that exact rank; ranks are unique per pair, so a revalidated
    * entry is always the correct next merge). Output is identical to
    * [[encodeWord]] on any LEARNED table: merges never remove symbols,
    * so a newly created adjacency always involves the merged symbol,
    * and every learned pair containing that symbol has a strictly
    * greater rank — no pair ranked below the current minimum can ever
    * appear (equality spec-proven per word, including tie-dense random
    * and chained-argmax corpora). */
  private[operators] def encodeWordRankHeap(
      word: String,
      rank: java.util.HashMap[(String, String), Integer]): Array[String] = {
    val n = word.length
    if (n <= 1) return word.map(_.toString).toArray
    val syms = new Array[String](n)
    var i = 0
    while (i < n) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    val next = new Array[Int](n)
    val prev = new Array[Int](n)
    val alive = new Array[Boolean](n)
    i = 0
    while (i < n) {
      prev(i) = i - 1
      next(i) = if (i == n - 1) -1 else i + 1
      alive(i) = true
      i += 1
    }
    val pq = new java.util.PriorityQueue[Array[Int]](n,
      (x: Array[Int], y: Array[Int]) =>
        if (x(0) != y(0)) Integer.compare(x(0), y(0))
        else Integer.compare(x(1), y(1)))
    def offer(l: Int): Unit = if (l >= 0) {
      val r = next(l)
      if (r >= 0) {
        val rk = rank.get((syms(l), syms(r)))
        if (rk != null) pq.add(Array(rk.intValue, l))
      }
    }
    i = 0
    while (i < n - 1) { offer(i); i += 1 }
    while (!pq.isEmpty) {
      val e = pq.poll()
      val l = e(1)
      val r = if (alive(l)) next(l) else -1
      if (r >= 0) {
        val cur = rank.get((syms(l), syms(r)))
        if (cur != null && cur.intValue == e(0)) {
          syms(l) = syms(l) + syms(r)
          alive(r) = false
          val rr = next(r)
          next(l) = rr
          if (rr >= 0) prev(rr) = l
          offer(prev(l))
          offer(l)
        }
      }
    }
    val out = Array.newBuilder[String]
    var c = 0
    while (c >= 0) { out += syms(c); c = next(c) }
    out.result()
  }

  /** Tokenize the corpus with a learned BPE merge table — the ENCODE
    * half of subword tokenization (x68 learns the table, this applies
    * it), producing the per-document subword statistics a token-budget
    * planner consumes: word count, subword-unit count and distinct
    * units per document. `merges` is the model artifact ((left, right)
    * in rank order — tiny: k rows) and ships to executors by closure
    * broadcast as a pair→rank hash table; each word encodes via the
    * table-size-independent [[encodeWordRankHeap]] kernel, so a
    * production 32k-merge vocabulary costs the same per word as a
    * 20-merge one. The encode itself is row-local partition work with
    * ZERO shuffles — the only exchange in the plan is the presentation
    * sort.
    * At high word-repetition rates the dictionary trick applies (encode
    * DISTINCT words once, join counts back on the token — one
    * vocabulary-sized shuffle instead of re-encoding repeats), the same
    * trade [[bpeMerges]] exploits during learning; for per-document
    * output at typical web-corpus repetition the row-local form wins
    * because it never moves the corpus at all.
    *
    * CONTRACT on `merges`: a LEARNED table ([[bpeMerges]]'s output, or
    * any table where rule k's merged symbol only feeds pairs of rank
    * > k, and no pair appears twice). On such tables the heap kernel is
    * word-for-word identical to the pass-per-rule form and to upstream
    * apply_bpe (spec-proven). On arbitrary hand-crafted tables the two
    * forms legitimately diverge: if a LATER rule's merge creates the
    * adjacency an EARLIER-ranked pair needs (e.g. [(a,bc),(b,c)] on
    * "abc": pass order gives [a,bc], the heap — like apply_bpe —
    * re-offers the lower rank and gives [abc]), the heap applies the
    * lower-ranked merge; and a DUPLICATE pair keeps only its last rank
    * in the lookup table. This follows apply_bpe, the reference
    * semantics for encode. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table = rankTable(merges)
    docs.select(col("doc_id").cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        var nWords = 0L
        var nUnits = 0L
        val seen = scala.collection.mutable.HashSet.empty[String]
        text.split(" ").foreach { w =>
          if (w.nonEmpty) {
            nWords += 1
            val units = encodeWordRankHeap(w, table)
            nUnits += units.length
            units.foreach(seen += _)
          }
        }
        (id, nWords, nUnits, seen.size.toLong)
      }
      .toDF("doc_id", "n_words", "n_units", "n_distinct_units")
      .orderBy("doc_id")
  }

  // ---- x90: tokenizer fertility audit -----------------------------------

  /** Per-language tokenizer FERTILITY — subword units per word and
    * characters per unit under a learned BPE merge table. The tokenizer-
    * equity audit every multilingual release runs: a tokenizer trained
    * on skewed data fragments under-represented languages into more
    * units per word (higher fertility), which taxes their effective
    * context length and training compute; chars/unit is the inverse
    * compression read.
    *
    * Scale shape: the encode kernel is row-local (the rank-heap
    * [[encodeWordRankHeap]], O(|word| log |word|) per word, merge table
    * broadcast with the closure), and language is carried THROUGH the
    * kernel so the aggregation needs no join back to the corpus — one
    * lang-grain partial-agg'd shuffle total, |langs| output rows.
    * Ratios divide exact longs and round(6) — but the entry is
    * rows-only regardless: the merge table is x68's iterative output,
    * not SQL-expressible. */
  def tokenizerFertility(docs: DataFrame, merges: Seq[(String, String)],
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table = rankTable(merges)
    docs.select(col("lang"), col(textCol)).as[(String, String)]
      .map { case (lang, text) =>
        var nWords = 0L
        var nUnits = 0L
        var nChars = 0L
        text.split(" ").foreach { w =>
          if (w.nonEmpty) {
            nWords += 1
            nChars += w.length
            nUnits += encodeWordRankHeap(w, table).length
          }
        }
        (lang, nWords, nUnits, nChars)
      }
      .toDF("lang", "n_words", "n_units", "n_chars")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
           sum("n_units").as("n_units"), sum("n_chars").as("n_chars"))
      .withColumn("fertility",
        round(col("n_units").cast("double") / col("n_words"), 6))
      .withColumn("chars_per_unit",
        round(col("n_chars").cast("double") / col("n_units"), 6))
      .orderBy("lang")
  }
}
