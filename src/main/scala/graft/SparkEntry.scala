package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.{CoerceTz, ParamsFilter, TimeBounds, RoundTime}
import graft.ops.{Dedup, Diff}
import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.Media
import graft.ops.{ApproxDedup, SimilaritySearch}
import graft.sync.SyncEngine

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in [[SparkEntry.oracleSql]].
  *
  * Conventions that keep the Spark result and the DuckDB oracle hash-equal:
  *   - every aggregate over doubles is cast to an explicit DECIMAL on BOTH
  *     sides (double→decimal rounding at coarse scales is unambiguous, and
  *     DECIMAL arithmetic is exact and engine-independent, unlike summing
  *     IEEE doubles in nondeterministic order);
  *   - the final aggregate is cast to DOUBLE on both sides: the exact decimal
  *     value converts to the same IEEE double in any engine, and the result
  *     *type* matches too (Spark and DuckDB widen decimal sums differently);
  *   - every query ends in a total ORDER BY (unique tiebreak column);
  *   - `events.ts` is nanosecond parquet: Spark reads it as Long and
  *     truncates to µs (Tables.scala), which is exactly DuckDB's read-time
  *     TIMESTAMP_NS→TIMESTAMP truncation.
  */
object SparkEntry {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  private def ts(literal: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(literal.replace(' ', 'T'))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // OPQ family configuration — equal (m, ks) on both arms of the A/B gate
  private val OpqM  = 8
  private val OpqKs = 128

  // graph-ANN (NSW/DiskANN shape, ops/GraphAnn) family configuration:
  // 16 coarse cells seed build cohorts (2 cells/vector), degree cap 6,
  // 8 src-hash buckets, beam = ef 8 × 3 hops, top-10. Entry points are
  // CHOSEN AT BUILD (per-cell best-aligned node, stored as their own
  // pipe — GraphAnn.entryBatch), not an id convention.
  private val HnswCents   = 16
  private val HnswNpBuild = 2
  private val HnswM       = 6
  private val HnswCellCap = 2   // diversity prune: ≤2 edges per (src, dst-cell)
  private val HnswBuckets = 8
  private val HnswEf      = 8
  private val HnswHops    = 3
  private val HnswK       = 10
  private val HnswQids    = Seq(40L, 41L, 42L, 43L)
  // the clustered gate's wider sample (all < 500, the sf0.01 table size)
  private val HnswQidsClustered =
    Seq(40L, 41L, 42L, 43L, 173L, 219L, 307L, 411L)

  // Aho–Corasick query patterns: nested ("scan" ⊃ "can" ⊃ "an") and
  // overlapping entries so the automaton's every-end-position semantics
  // are exercised, plus corpus words and never-hit strings
  private val AcPatterns = Seq("scan", "can", "an", "merge", "erg", "order",
    "rde", "sort", "table", "row", "a b", "spark", "zzznever", "qqq")

  // URL deny-prefixes for the prefix-blocklist queries: nested entries
  // ("https://src1" ⊂ "https://src1.example/en") prove multi-emit walks
  private val UrlDenyPrefixes = Seq("https://src1", "https://src1.example/en",
    "https://src3.example", "https://src7.example/de", "https://nomatch")

  /** DuckDB replay of TextFns.qualityScore × 1e6 — shared by the
    * calibration-bins and ECE oracles. */
  private val qualityMicroSql: String =
    """(CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 250000 ELSE 0 END
      + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
              AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
             THEN 250000 ELSE 0 END
      + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                  / greatest(length(text),1)::DOUBLE <= 0.1 THEN 250000 ELSE 0 END
      + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                 ['the','a','of','and','to','in','is','it','that','for'])) >= 2
             THEN 250000 ELSE 0 END)"""
      .linesIterator.map(_.trim).mkString(" ")

  /** OPQ model artifact: the trained rotation, memoized per sfDir by the
    * q_opq_* queries and read back by their oracle generators. The matrix
    * is a DETERMINISTIC function of the corpus (fixed lowest-id sample,
    * fixed iteration budget, sequential arithmetic), so injecting it into
    * the oracle as literals is the same move every ANN oracle makes with
    * its SRP planes / codebook coefficients — and Verify always runs every
    * query before dumping oracle_sql.json, so the artifact is present when
    * the oracle is rendered. */
  private object OpqModel {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()
    @volatile private var last: Option[Seq[Seq[Double]]] = None
    def rotationFor(s: SparkSession, d: String): Seq[Seq[Double]] = {
      val r = cache.computeIfAbsent(d, dir =>
        SimilaritySearch.opqRotation(Tables.embeddings(s, dir),
          "vec_id", "embedding", m = OpqM, ks = OpqKs,
          nSample = 256, iters = 10))
      last = Some(r)
      r
    }
    /** The rotation for oracle rendering (the run's single sfDir). */
    def forOracle: Option[Seq[Seq[Double]]] = last
  }

  /** Graph-ANN index memo per (sfDir, variant) — the OpqModel move applied
    * to the BATCHED graph family (r14 verdict item 3): the folded
    * adjacency (float vectors + PQ codes on ONE edge table) is a
    * deterministic function of the corpus, so it is built once per corpus
    * and persisted to a temp parquet every probe query — and every bench
    * pass — reads back: the build-once/probe-many amortization the
    * stored-index queries already model, shared across
    * q_hnsw_batch/filtered/pq_batch/recall ("raw") and
    * q_hnsw_recall_clustered ("clustered"). Artifacts are plain Scala
    * data plus a parquet PATH — never a cached/checkpointed DataFrame
    * (the bench clears storage blocks between entries). The oracles
    * re-derive everything from the tables, never from this memo. */
  private object GraphIndexMemo {
    final case class Art(cents: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Double]]],
                         entries: Seq[Long], eadjPath: String)
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(String, String), Art]()
    def forDir(s: SparkSession, d: String, variant: String,
               emb: () => DataFrame): Art =
      cache.computeIfAbsent((d, variant), { _ =>
        val e = emb()
        val cents = SimilaritySearch.sampleCentroids(e, "vec_id", "embedding",
          HnswCents)
        val cbs = SimilaritySearch.pqCodebooks(e, "vec_id", "embedding",
          m = 4, ks = 16)
        val cells = graft.ops.GraphAnn.withBuildCells(e, "vec_id", "embedding",
          cents, HnswNpBuild)
        val adj = graft.ops.GraphAnn.foldAdjacency(
          graft.ops.GraphAnn.edgeBatch(cells, None, HnswM, HnswBuckets,
            HnswCellCap), HnswM, HnswCellCap)
        // one edge table carries BOTH payloads: float probes select dvec,
        // PQ probes select dpq, rerank reads self-edge dvec — see
        // GraphAnn.recallReport for why the code step shares the float
        // graph's pruned edge set
        val eadj = SimilaritySearch.withPqCodes(adj, "dvec", cbs)
          .select(col("src"), col("dst"), col("dvec"), col("pq").as("dpq"))
        val dir = java.nio.file.Files.createTempDirectory("graft_gidx").toString
        eadj.write.mode("overwrite").parquet(dir)
        val entries = graft.ops.GraphAnn.entryIds(
          graft.ops.GraphAnn.entryBatch(cells, cents))
        Art(cents, cbs, entries, dir)
      })
    def eadj(s: SparkSession, art: Art): DataFrame =
      s.read.parquet(art.eadjPath)
  }

  // SentencePiece-unigram family configuration (Kudo 2018; ops/SpUnigram)
  private val SpSeed = 48
  private val SpP    = 4
  private val SpIters = 2
  private val SpV    = 24
  private val SpCap  = 16
  // vocab-shrink A/B: only the top-K multi-char pieces survive the prune
  // (rank-based so the rule bites at any sf; single chars never drop)
  private val SpPruneKeep = 6

  /** SP-unigram model memo, per (sfDir, training scope) — the OpqModel
    * move: training is a DETERMINISTIC function of the corpus (fixed seed
    * rule, integer-micro Viterbi, fixed iteration budget), so the model is
    * shared across the q_sp_* family instead of retrained per query; the
    * oracles re-derive it from the tables, never from this memo. */
  private object SpModel {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      (String, String), graft.ops.SpUnigram.Model]()
    def forScope(s: SparkSession, d: String, scope: String): graft.ops.SpUnigram.Model =
      cache.computeIfAbsent((d, scope), { _ =>
        val docs = Tables.documents(s, d)
        val base =
          if (scope == "even") docs.where(col("doc_id") % 2 === 0) else docs
        graft.ops.SpUnigram.trainModel(base, "text",
          SpSeed, SpP, SpIters, SpV, SpCap)
      })
    def scores(m: graft.ops.SpUnigram.Model): Map[String, Long] =
      m.map { case (p, _, lp) => p -> lp }.toMap
  }

  // exact-k-means family configuration (ops/SimilaritySearch.kmeansTrainExact)
  private val KmK = 8
  private val KmIters = 3

  // temperature-scaling grid: 0.25 … 4.0 step 0.25 (all exact binary
  // fractions, so T rides identically through both engines)
  private val TempGridMicro: Seq[Long] = (1 to 16).map(_ * 250000L)

  // ITQ family configuration (ops/SimilaritySearch.itqModel)
  private val ItqBits = 16
  private val ItqQids = Seq(0L, 1L, 2L, 3L)

  /** ITQ model memo per sfDir (W hyperplanes, offsets) — trained once on
    * the bounded sample; the oracle injects the artifacts as literals. */
  private object ItqModel {
    type M = (Seq[Seq[Double]], Seq[Double])
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, M]()
    @volatile private var last: Option[M] = None
    def forDir(s: SparkSession, d: String): M = {
      val r = cache.computeIfAbsent(d, _ =>
        SimilaritySearch.itqModel(Tables.embeddings(s, d),
          "vec_id", "embedding", nBits = ItqBits))
      last = Some(r)
      r
    }
    def forOracle: Option[M] = last
  }

  /** The linear-probe label (long-doc detector over the SAME filtered
    * tokenization the features use) and its SQL twin. */
  private val RidgeLabelSql: String =
    """CASE WHEN len(list_filter(string_split_regex(trim(lower(text)),
       '\s+'), t -> length(t) > 0)) >= 56
       THEN 1 ELSE -1 END""".linesIterator.map(_.trim).mkString(" ")

  /** Ridge-probe memo per sfDir: the shipped micro weights ONLY — plain
    * Scala data, never a cached/checkpointed DataFrame (the bench clears
    * storage blocks between entries, so a memoized checkpoint would lose
    * its blocks before a second read). Trained once per corpus; the
    * oracle injects the weights as literals (the ItqModel move). */
  private object RidgeModel {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Long, Long)]]()
    @volatile private var last: Option[Seq[(Long, Long)]] = None
    def features(s: SparkSession, d: String): DataFrame =
      graft.ops.Classify.hashedDocFeatures(
        Tables.documents(s, d)
          .withColumn("__y", when(size(filter(
              TextFns.tokens(lower(trim(col("text")))),
              t => length(t) > 0)) >= 56, 1).otherwise(-1)),
        "doc_id", "__y", "text", buckets = 64)
    def forDir(s: SparkSession, d: String): (DataFrame, Seq[(Long, Long)]) = {
      val feats = features(s, d)
      val w = cache.computeIfAbsent(d, _ =>
        graft.ops.Classify.ridgeProbeFit(feats.localCheckpoint(true),
          lambda = 1.0))
      last = Some(w)
      (feats, w)
    }
    def forOracleWeights: Option[Seq[(Long, Long)]] = last
  }

  /** PCA model memo per sfDir (components, eigenvalues, sample mean) —
    * trained once on the bounded lowest-id sample; the oracle injects the
    * artifacts as literals (the OpqModel move). */
  private object PcaModel {
    type M = (Seq[Seq[Double]], Seq[Double], Seq[Double])
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, M]()
    @volatile private var last: Option[M] = None
    def forDir(s: SparkSession, d: String): M = {
      val r = cache.computeIfAbsent(d, _ =>
        SimilaritySearch.pcaComponents(Tables.embeddings(s, d),
          "vec_id", "embedding", nSample = 256, p = 8))
      last = Some(r)
      r
    }
    def forOracle: Option[M] = last
  }

  /** Exact k-means state memo per sfDir (the OpqModel move — deterministic
    * function of the corpus, shared across the q_kmeans_train and
    * q_ann_ivf_kmeans queries; oracles re-derive it from the tables). */
  private object KmState {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, Seq[Seq[(Long, Long)]]]()
    def forDir(s: SparkSession, d: String): Seq[Seq[(Long, Long)]] =
      cache.computeIfAbsent(d, _ =>
        SimilaritySearch.kmeansTrainExact(Tables.embeddings(s, d),
          "vec_id", "embedding", KmK, KmIters))
  }

  /** Probe a STORED minhash band index for one document's near-dup pairs:
    * collect the query doc's ≤ bands (band, bandHash, bucket) rows, read
    * ONLY those bucket directories (partition-pruned `readIn`), apply the
    * exact (band, bandHash) disjunction, verify candidates by exact
    * Jaccard. Shared by the stored-probe and incremental-index queries so
    * thresholds cannot drift between them. A query doc with no band rows
    * (absent id / shorter than the shingle) yields an empty pair set
    * rather than an empty-reduce crash. */
  /** Probe a STORED video frame-hash index: the lowest video-typed doc
    * re-uploads under id+1000000, its ≤ nf frame hashes read ONLY their
    * bucket dirs (`readIn`), exact-hash match, distinct-shared-frame
    * threshold — shared by the batch index-sync and streaming-maintain
    * queries so the content-ID probe cannot drift between them. */
  private def probeStoredFrameHashIndex(s: SparkSession,
                                        store: graft.storage.InstanceStore,
                                        docs: DataFrame,
                                        buckets: Int): DataFrame = {
    val qdoc = docs.where(length(col("text")) % 3 === 2)
      .agg(min(col("doc_id"))).head().getLong(0)
    val qHashes = Media.videoFrameHashes(Media.fromDocuments(s,
        docs.where(col("doc_id") === qdoc)
          .withColumn("doc_id", col("doc_id") + 1000000L))).toDF()
      .select(col("fhash")).distinct().collect().map(_.getLong(0)).toSeq
    store.readIn(qHashes.map(h => math.floorMod(h, buckets).toLong).distinct)
      .where(col("fhash").isin(qHashes: _*))
      .select(lit(qdoc + 1000000L).as("sid"),
        col("media_id").as("hist_id"), col("fhash"))
      .distinct()
      .groupBy(col("sid"), col("hist_id"))
      .agg(countDistinct(col("fhash")).as("shared_frames"))
      .where(col("shared_frames") >= 2)
      .orderBy(col("hist_id"))
  }

  private def probeStoredBandIndex(store: graft.storage.InstanceStore,
                                   docs: DataFrame, qid: Long,
                                   index: DataFrame => DataFrame): DataFrame = {
    val qBands = index(docs.where(col("doc_id") === qid))
      .select("band", "bandHash", "bucket").collect()
    val hit = qBands.toSeq.map(r =>
        col("band") === r.getInt(0) && col("bandHash") === r.getInt(1))
      .reduceOption(_ || _).getOrElse(lit(false))
    val probed = store.readIn(qBands.toSeq.map(_.getLong(2))).where(hit)
    val cands = probed.where(col("doc_id") =!= qid)
      .select(col("doc_id")).distinct()
      .select(least(lit(qid), col("doc_id")).as("id1"),
              greatest(lit(qid), col("doc_id")).as("id2"))
    ApproxDedup.verifyPairs(cands, docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  /** Documents plus doubled-text twins (doc_id + 1e6 for every 41st doc) —
    * the guaranteed-signal corpus for the SimHash queries: simhash is
    * scale-invariant under full-text repetition (every bit sum doubles, no
    * sign change), so each twin sits at Hamming 0 from its parent while
    * exact dedup misses it. [[simhashCorpusSql]] is the oracle-side
    * rendering of the same union. */
  private def simhashCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.where(col("doc_id") % 41 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
  }

  /** Deterministic JSON conversation synthesized from a document row —
    * always user→assistant, plus an adjacent-assistant violation on every
    * 7th id and an empty user turn on every 5th. [[chatJsonSql]] renders
    * the identical string for the oracle (document text is [a-z0-9 ]
    * word salad, so no JSON escaping is needed on either side). */
  private def chatJson: Column = concat(
    lit("""[{"role":"user","content":""""), col("text"),
    lit(""""},{"role":"assistant","content":"reply about """), col("source"),
    lit("\"}"),
    when(col("doc_id") % 7 === 0,
      lit(""",{"role":"assistant","content":"followup"}""")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      lit(""",{"role":"user","content":""}""")).otherwise(lit("")),
    lit("]"))

  private val chatJsonSql: String =
    """('[{"role":"user","content":"' || text ||
       '"},{"role":"assistant","content":"reply about ' || source || '"}' ||
       CASE WHEN doc_id % 7 = 0
         THEN ',{"role":"assistant","content":"followup"}' ELSE '' END ||
       CASE WHEN doc_id % 5 = 0
         THEN ',{"role":"user","content":""}' ELSE '' END || ']')"""
      .linesIterator.map(_.trim).mkString(" ")

  /** The data-card replay SQL — shared by the one-pass and stored-card
    * queries (incremental fold ≡ full rebuild). */
  private val dataCardOracle: String =
    """WITH b AS (
         SELECT source, lang,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks,
           CAST((CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.0 END
              + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
                      AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
                     THEN 1.0 ELSE 0.0 END
              + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                          / greatest(length(text),1)::DOUBLE <= 0.1 THEN 1.0 ELSE 0.0 END
              + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                         ['the','a','of','and','to','in','is','it','that','for'])) >= 2
                     THEN 1.0 ELSE 0.0 END) / 4.0 * 1000000.0 AS BIGINT) AS qm,
           md5(lower(trim(text))) AS fp
         FROM documents)
       SELECT source, count(*) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS total_tokens,
         min(toks) AS min_tokens, max(toks) AS max_tokens,
         CAST(sum(qm) AS BIGINT) AS sum_quality_micro,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_english,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs
       FROM b GROUP BY source ORDER BY source"""

  private val simhashCorpusSql: String =
    """(SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000 AS doc_id, text || ' ' || text AS text
       FROM documents WHERE doc_id % 41 = 0) AS d2"""

  /** Synthesized multi-line pages for the boilerplate queries: each page =
    * its unique text + a per-source cookie banner (on every page of the
    * source), an even-id newsletter line (~half the pages), and a short
    * length-exempt copyright chrome line. The oracle SQL rebuilds the
    * identical expression ([[boilerplatePagesSqlExpr]]). */
  private def boilerplatePages(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      concat_ws("\n",
        col("text"),
        concat(lit("Cookie consent notice for "), col("source")),
        when(col("doc_id") % 2 === 0,
            concat(lit("Subscribe to the "), col("source"), lit(" newsletter")))
          .otherwise(lit("Read more from our partners")),
        lit("(c) 2024")).as("text"))

  private val boilerplatePagesSqlExpr: String =
    """concat_ws(chr(10), text,
       'Cookie consent notice for ' || source,
       CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to the ' || source || ' newsletter'
            ELSE 'Read more from our partners' END,
       '(c) 2024')"""

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `n`, restoring
    * the previous value after. Streaming STATE partitioning is frozen from
    * this conf at the query's first batch — production sizes it to key
    * cardinality (here ~150 users / ~120 windows), not to the CPU count; at
    * 32 the toy streams pay ~100 near-empty state-store file commits per
    * run. The mutation is SESSION-scoped: Bench runs queries sequentially
    * on one session, and Verify runs each query on its own
    * `spark.newSession()` (private SQLConf), so it cannot race another
    * entry in either harness. */
  private def withStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Overlap INDEPENDENT Spark actions from a small thread pool
    * (optimization guide §2.6 "overlap independent jobs"): concurrent
    * driver threads submit jobs that back-fill each other's scheduling/
    * planning/commit gaps. Used where a build writes several DISJOINT
    * pipes from already-checkpointed inputs — the fixed per-write envelope
    * (plan + write job + footer bookkeeping + lease fsyncs) dominates at
    * any scale and the writes share no state. Actions that read a pipe
    * another action writes must stay sequential. First failure rethrows
    * after all complete (a failed build surfaces, never half-silently). */
  private def inParallel(fs: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try {
      val futs = fs.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = f()
      }))
      val errs = futs.flatMap(f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) })
      errs.headOption.foreach(throw _)
    } finally pool.shutdown()
  }

  /** Stage an "arriving" frame into `$root/source` as `n` byte-identical
    * single-file deliveries (the redelivery protocol every streaming
    * probe/maintain entry uses): ONE coalesce(1) write + n file copies.
    * Returns the source dir. Factored so entries can overlap the staging
    * write with their independent stored-model/index build (guide §2.6). */
  private def stageArrivals(df: DataFrame, root: String, n: Int = 2): String = {
    val srcDir = s"$root/source"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val tmpW = s"$root/arriving"
    df.coalesce(1).write.parquet(tmpW)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmpW))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    (1 to n).foreach(i => java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$srcDir/arriving_$i.parquet")))
    srcDir
  }

  /** The parquet file of quarter `q` in a `partitionBy("__q")` staging
    * write. An empty quarter writes no `__q=q` directory, so this fails
    * naming the quarter instead of dereferencing a null listing. */
  private[graft] def stagedQuarterFile(tmp: String, q: Int): java.io.File =
    Option(new java.io.File(s"$tmp/__q=$q").listFiles()).toSeq.flatten
      .find(_.getName.endsWith(".parquet")).getOrElse(throw new IllegalStateException(
        s"quarter $q (event_id % 4 == $q) of the staged events is empty: " +
          s"no parquet file under $tmp/__q=$q"))

  /** Stage the events table plus two far-future sentinel rows (user_id −1,
    * 2030/2031) as separate stream files. With `maxFilesPerTrigger = 1`
    * each sentinel forms its own micro-batch, driving the watermark past
    * every real window/session end so append-mode aggregations flush
    * completely — emission in batch N uses batch N−1's watermark, so the
    * LAST data batch must lie beyond (every aggregate's end + delay).
    * Returns the source directory. */
  private def stageSentineledEvents(s: SparkSession, d: String,
                                    root: String): String = {
    val srcDir = s"$root/source"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(d, "events")),
      java.nio.file.Paths.get(s"$srcDir/a_events.parquet"))
    // NOTE (r16): overlapping the two sentinel writes was tried and
    // REVERTED as unmeasurable — the consuming entries are io-canary-bound
    // (every A/B window tracked io_calibration_sec 1.0→2.6 swings, not the
    // change) and the writes are ~0.1 s limit(1) jobs with nothing to
    // amortize; sequential keeps the mtime protocol trivially ordered.
    Seq((2030, 1), (2031, 2)).foreach { case (year, idx) => locally {
      val ns = java.time.LocalDateTime.of(year, 1, 1, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
      val tmp = s"$root/sent_$idx"
      val base = s.read.parquet(s"$srcDir/a_events.parquet").limit(1)
      // sentinel ts in the SAME dtype as the source file (int64 nanos or
      // native timestamp) so the staged dir keeps one schema
      val sentinelTs = base.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(ns)
        case dt => lit(s"$year-01-01 00:00:00").cast(dt)
      }
      base.withColumn("ts", sentinelTs).withColumn("user_id", lit(-1L))
        .coalesce(1).write.parquet(tmp)
      // Files.list holds an open directory handle — close it (a leaked fd
      // per sentinel accumulates across looped bench/verify runs)
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val part = try listing.filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
      val dest = java.nio.file.Paths.get(s"$srcDir/z_sentinel_$idx.parquet")
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + idx * 10000L))
      ()
    } }
    srcDir
  }

  /** Stored-index queries split into (build, probe) thunks so the bench can
    * time the phases separately (r6 verdict item 7): the amortized
    * production cost of a stored index is the PROBE — the build runs once
    * per corpus sync, the probe per query. The `queries` entry for each
    * name composes build-then-probe, so Verify and the oracle see the same
    * end-to-end result; Bench reports `<name>` = probe seconds and
    * `<name>_build` = build seconds. Each call returns fresh thunks over a
    * fresh temp store; `probe` requires its paired `build` to have run. */
  def staged: Map[String, (SparkSession, String) => (() => Unit, () => DataFrame)] = Map(

    "q_minhash_probe_stored" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val qid  = 45L
      def index(df: DataFrame) = ApproxDedup.minhashBandIndex(
        df, "doc_id", "text", shingleSize = 3, k = 24, bands = 6, buckets = 4)
      val root = java.nio.file.Files.createTempDirectory("graft_mh_store").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "mh_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val store = eng.storage(spec)
      // create() clusters by the chunk (= bucket) label: one file per
      // bucket directory instead of (tasks × buckets) shards
      (() => store.create(index(docs)),
       () => probeStoredBandIndex(store, docs, qid, index))
    }),

    "q_minhash_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val qid  = 45L
      // bands = 6 → r = 4 rows/band: the PRODUCTION kernel (same as
      // q_minhash_near_dups_fast). The oracled result is unchanged — the
      // query doc's true near-dups are j ≈ 0.99, which an r=4 band matches
      // with probability 1−(1−j⁴)⁶ ≈ 1 — while band rows and bucket fanout
      // halve vs the old r=2 configuration.
      def index(df: DataFrame) = ApproxDedup.minhashBandIndex(
        df, "doc_id", "text", shingleSize = 3, k = 24, bands = 6, buckets = 4)
      val root = java.nio.file.Files.createTempDirectory("graft_mh_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "mh_bands_sync"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        // two ingest batches, ONE envelope (syncBlindAll: append-law equal)
        eng.syncBlindAll(spec, Seq(
          index(docs.where(col("doc_id") % 2 === 0)),
          index(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => probeStoredBandIndex(eng.storage(spec), docs, qid, index))
    }),

    "q_ivf_index_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // lazy: the query-vector collect and centroid sampling are Spark jobs
      // that belong to the BUILD phase's timing, not closure construction
      lazy val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      lazy val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      def index(df: DataFrame) =
        SimilaritySearch.withIvfCell(df, "embedding", cents)
          .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cell"))
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "ivf_cells_sync"),
        columns = ColumnRoles(Map("datetime" -> "cell", "id" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          index(emb.where(col("vec_id") % 2 === 0)),
          index(emb.where(col("vec_id") % 2 === 1))))
        ()
       },
       () => {
        val probe = SimilaritySearch.ivfProbeCells(cents, q, nProbe = 4)
        eng.storage(spec).readIn(probe.map(_.toLong))
          .select(col("vec_id"), VectorFns.cosineToQuery(col("embedding"), q).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
       })
    }),

    // Stored IVF+PQ index (FAISS's production IVFPQ shape, persisted): the
    // coarse cell AND the m-byte PQ code are stamped at ingest — two stacked
    // shuffle-free projections — and halves blind-append into a
    // cell-partitioned pipe. The probe touches ONLY the nProbe cells' chunk
    // directories; inside them the ADC candidate pass reads (vec_id, pq)
    // alone, and float vectors load for the `rerank` survivors only. Codes
    // are row-local, so incremental build == full rebuild and the oracle
    // replays the whole IVF+PQ pipeline (centroids + codebooks re-derived).
    "q_ivfpq_index_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      lazy val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      lazy val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      lazy val cbs = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, ks = 16)
      def index(df: DataFrame) =
        SimilaritySearch.withPqCodes(
            SimilaritySearch.withIvfCell(df, "embedding", cents), "embedding", cbs)
          .select(col("vec_id"), col("embedding"), col("pq"),
            col("cell").cast("long").as("cell"))
      val root = java.nio.file.Files.createTempDirectory("graft_ivfpq_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "ivfpq_cells_sync"),
        columns = ColumnRoles(Map("datetime" -> "cell", "id" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          index(emb.where(col("vec_id") % 2 === 0)),
          index(emb.where(col("vec_id") % 2 === 1))))
        ()
       },
       () => {
        val probe = SimilaritySearch.ivfProbeCells(cents, q, nProbe = 8)
        SimilaritySearch.pqTopK(eng.storage(spec).readIn(probe.map(_.toLong)),
          "vec_id", "embedding", "pq", q, cbs, k = 10, rerank = 50)
       })
    }),

    // Stored OPQ index (FAISS's OPQ..,IVF..,PQ.. composition; Ge et al.,
    // CVPR 2013): the COMPLETE artifact set — trained rotation R, rotated
    // coarse centroids, and rotated-space PQ codebooks — persists as ONE
    // model pipe NEXT TO the cell-partitioned coded pipe (exactly what
    // faiss.write_index ships), and the PROBE reads everything back from
    // the store: query rotation, probe-cell selection, and the ADC table
    // all derive from SHIPPED artifacts. The r11 shape persisted only R
    // and re-derived centroids/codebooks from the corpus per probe (two
    // bounded but corpus-touching jobs); now the probe's only data reads
    // are the model pipe (~1.1k rows) and the nProbe cells' chunk dirs —
    // zero corpus files (StoredIndexPruningSpec asserts it executionally).
    // Build stamps rotation, cell, and m-byte code in stacked shuffle-free
    // projections; halves blind-append (codes row-local ⇒ incremental ==
    // rebuild). Cosine is rotation-invariant, so the oracle replays IVF+PQ
    // in the rotated space with the same persisted R.
    "q_opq_index_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val rot = OpqModel.rotationFor(s, d)
      lazy val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      lazy val rcents = SimilaritySearch
        .sampleCentroids(emb, "vec_id", "embedding", 16)
        .map(v => SimilaritySearch.rotateQuery(v, rot))
      lazy val rcbs = SimilaritySearch.opqCodebooks(
        emb, "vec_id", "embedding", rot, m = OpqM, ks = OpqKs)
      // spread the encode input (guide §2.5 single-row-group input): the
      // rotation (64×64 dots) + cell argmax + 8×128-centroid PQ encode is
      // the build's dominant per-row kernel and otherwise runs on the
      // 1-2 scan tasks the single-row-group testdata file plans
      def index(df: DataFrame) =
        SimilaritySearch.withPqCodes(
            SimilaritySearch.withIvfCell(
              SimilaritySearch.withRotation(Tables.spread(df), "embedding", rot, "rvec"),
              "rvec", rcents), "rvec", rcbs)
          .select(col("vec_id"), col("rvec"), col("pq"),
            col("cell").cast("long").as("cell"))
      val root = java.nio.file.Files.createTempDirectory("graft_opq_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "opq_cells_sync"),
        columns = ColumnRoles(Map("datetime" -> "cell", "id" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // one model pipe, three artifact kinds keyed (kind, i):
      // kind 0 = rotation row i; kind 1 = rotated centroid of cell i;
      // kind 2 = codebook entry i = j·ks + c. row_id = kind·2048 + i keeps
      // every row in one chunk (max row_id < 3·2048 ≪ chunkMinutes).
      val mspec = PipeSpec(PipeKeys("ann", "opq_model"),
        columns = ColumnRoles(Map("datetime" -> "row_id", "id" -> "row_id")),
        epochUnit = Some("minute"), chunkMinutes = 8192)
      (() => {
        val modelRows =
          rot.zipWithIndex.map { case (v, i) => (0L, i.toLong, v) } ++
          rcents.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) } ++
          rcbs.zipWithIndex.flatMap { case (cb, j) =>
            cb.zipWithIndex.map { case (v, c) =>
              (2L, (j * OpqKs + c).toLong, v) } }
        val modelDf = s.createDataFrame(
          s.sparkContext.parallelize(modelRows.map { case (k, i, v) =>
            org.apache.spark.sql.Row(k * 2048L + i, k, i, v) }.toList, 1),
          StructType(Seq(StructField("row_id", LongType),
            StructField("kind", LongType), StructField("i", LongType),
            StructField("coeffs", ArrayType(DoubleType)))))
        // model rows are a bounded per-model artifact — direct store
        // create (the entry-pipe move): the ~1.3 s sync envelope buys
        // nothing for a driver-built 2k-row frame, and the corpus halves
        // below still exercise the real sync surface
        // model create and corpus sync write DISJOINT pipes — overlap
        // their envelopes (guide §2.6)
        inParallel(
          () => { eng.storage(mspec).create(modelDf); () },
          () => { eng.syncBlindAll(spec, Seq(
            index(emb.where(col("vec_id") % 2 === 0)),
            index(emb.where(col("vec_id") % 2 === 1)))); () })
        ()
       },
       () => {
        // the SHIPPED model: R, centroids, codebooks ALL read back from the
        // store in one bounded collect (parquet double round-trip is exact,
        // so these are bit-equal to the trainer's artifacts)
        val m = eng.getData(mspec)
          .select(col("kind"), col("i"), col("coeffs")).collect()
        def part(kind: Long): Seq[Seq[Double]] =
          m.filter(_.getLong(0) == kind).sortBy(_.getLong(1))
            .map(_.getSeq[Double](2)).toSeq
        val rStored     = part(0L)
        val storedCents = part(1L)
        val cbRows      = part(2L)
        val storedCbs = Seq.tabulate(OpqM)(j =>
          cbRows.slice(j * OpqKs, (j + 1) * OpqKs))
        val rq = SimilaritySearch.rotateQuery(q, rStored)
        val probe = SimilaritySearch.ivfProbeCells(storedCents, rq, nProbe = 8)
        SimilaritySearch.pqTopK(eng.storage(spec).readIn(probe.map(_.toLong)),
          "vec_id", "rvec", "pq", rq, storedCbs, k = 10, rerank = 50)
       })
    }),

    // Stored GRAPH-ANN index (the HNSW/DiskANN family, ops/GraphAnn) —
    // completes the ANN story beyond the quantization ladder: a bounded-
    // degree neighbor graph persists as a bucket-partitioned pipe (row =
    // src → dst edge CARRYING dst's vector — DiskANN's co-located layout —
    // plus a self-edge per node), and the probe is best-first beam search
    // reading ONLY the frontier's bucket dirs per hop (≤ ef·(m+1) index
    // rows, zero corpus files — GraphAnnSpec asserts it executionally).
    // Incrementality: per-batch top-m lists are MERGEABLE (top-m(A∪B) =
    // top-m(top-m(A)∪top-m(B))), so batch 2 appends its candidate lists —
    // including BOTH directions of new↔old pairs, computed against vectors
    // read back from the STORE's self-edges, never the corpus — and the
    // per-src fold at read ≡ a full rebuild, which is exactly what the
    // oracle replays (build + frontier evolution, hop by hop).
    "q_hnsw_index_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding",
        HnswCents)
      def cellsOf(df: DataFrame) = graft.ops.GraphAnn.withBuildCells(
        df, "vec_id", "embedding", cents, HnswNpBuild)
      val root = java.nio.file.Files.createTempDirectory("graft_hnsw_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "hnsw_edges"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // the ENTRY pipe: per-cell best-aligned node, blind-appended per
      // batch with the same fold ≡ rebuild law as the edges (per-cell
      // argmax is mergeable) — replaces the r13 ids-0..n convention, so
      // a UUID-keyed corpus gets real navigation seeds
      val entSpec = PipeSpec(PipeKeys("ann", "hnsw_entries"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // cell-chunked node pipe: the increment's old side reads ONLY the
      // touched cells' node rows instead of scanning every stored
      // self-edge + recomputing its cohort (same preservation argument as
      // the streaming maintain — every cross pair joins on a shared cell)
      val nodeSpec = PipeSpec(PipeKeys("ann", "hnsw_nodes"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        // truncate each edge batch ONCE: the sync envelope legitimately
        // runs several actions over a batch (envelope, write, inference)
        // and would otherwise re-run the cohort join + top-m per action
        val cells1 = cellsOf(emb.where(col("vec_id") % 2 === 0))
          .localCheckpoint(true)
        // the edge sync, entry create and node create write DISJOINT
        // pipes off the one checkpointed cohort frame — overlap their
        // fixed write envelopes (guide §2.6); entry/node batches are
        // small per-cell artifacts written through the store
        // (create/append) instead of paying the ~1.3 s sync envelope
        // extra times per build
        inParallel(
          () => { eng.sync(spec, graft.ops.GraphAnn.edgeBatch(
            cells1, None, HnswM, HnswBuckets, HnswCellCap).localCheckpoint(true),
            checkExisting = false); () },
          () => { eng.storage(entSpec).create(
            graft.ops.GraphAnn.entryBatch(cells1, cents)); () },
          () => { eng.storage(nodeSpec).create(
            graft.ops.GraphAnn.nodeBatch(cells1)); () })
        // batch 2's old side comes from the NODE PIPE, pruned to the
        // increment's touched cells (a bounded ≤ nCentroids driver list) —
        // sequential by design: the increment reads batch 1's stored state
        val cells2 = cellsOf(emb.where(col("vec_id") % 2 === 1))
          .localCheckpoint(true)
        val touched = cells2.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val oldCells = graft.ops.GraphAnn.nodeCells(
          eng.storage(nodeSpec).readIn(touched))
        // readIn snapshot taken above; the increment's three writes are
        // again disjoint-pipe and overlap. The edge batch materializes
        // FIRST (it reads the node pipe lazily via oldCells — it must not
        // race the node append in this group).
        val edges2 = graft.ops.GraphAnn.edgeBatch(
          cells2, Some(oldCells), HnswM, HnswBuckets, HnswCellCap)
          .localCheckpoint(true)
        inParallel(
          () => { eng.sync(spec, edges2, checkExisting = false); () },
          () => { eng.storage(entSpec).append(
            graft.ops.GraphAnn.entryBatch(cells2, cents)); () },
          () => { eng.storage(nodeSpec).append(
            graft.ops.GraphAnn.nodeBatch(cells2)); () })
        ()
       },
       () => {
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head()
          .getSeq[Double](0)
        val store = eng.storage(spec)
        val entries = graft.ops.GraphAnn.entryIds(
          graft.ops.GraphAnn.foldEntries(eng.getData(entSpec)))
        def expand(frontier: Seq[Long]): Seq[(Long, Double)] = {
          val rows = store.readIn(frontier.map(_ % HnswBuckets).distinct)
            .where(col("src").isin(frontier: _*))
          graft.ops.GraphAnn.expandFrom(
            graft.ops.GraphAnn.foldAdjacency(rows, HnswM, HnswCellCap), q)(frontier)
        }
        val top = graft.ops.GraphAnn.beamSearch(expand,
          entries, HnswEf, HnswHops, HnswK)
        s.createDataFrame(top).toDF("vec_id", "cosine")
       })
    }),

    // Stored PQ-compressed graph index — DiskANN's ACTUAL serving layout
    // (Subramanya et al. 2019 §3): edges carry the dst's m-byte PQ code
    // instead of its float vector (~128× smaller per edge at 64-dim — the
    // reason a billion-node graph fits one box), self-edges keep code AND
    // vector (traversal + rerank store + incremental old side). The graph
    // is BUILT with exact cosines (per the paper); only SERVING runs on
    // ADC. Probe: beam on negated ADC distances reading frontier buckets,
    // then the top-`rerank` survivors' self-edges (bucket-pruned) finish
    // with exact cosine. Same append/fold law as q_hnsw_index_sync.
    "q_hnsw_pq_index_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding",
        HnswCents)
      val cbs = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, ks = 16)
      def cellsOf(df: DataFrame) = graft.ops.GraphAnn.withBuildCells(
        df, "vec_id", "embedding", cents, HnswNpBuild)
      val root = java.nio.file.Files.createTempDirectory("graft_hnswpq").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "hnsw_pq_edges"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val entSpec = PipeSpec(PipeKeys("ann", "hnsw_pq_entries"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // cell-chunked node pipe — see q_hnsw_index_sync
      val nodeSpec = PipeSpec(PipeKeys("ann", "hnsw_pq_nodes"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        // localCheckpoint: see q_hnsw_index_sync — one cohort join per
        // batch, not one per sync-envelope action
        val cells1 = cellsOf(emb.where(col("vec_id") % 2 === 0))
          .localCheckpoint(true)
        // disjoint-pipe writes overlapped (guide §2.6) — see
        // q_hnsw_index_sync for the dependence argument
        inParallel(
          () => { eng.sync(spec, graft.ops.GraphAnn.pqEdgeBatch(
            cells1, None, HnswM, HnswBuckets, HnswCellCap, cbs).localCheckpoint(true),
            checkExisting = false); () },
          () => { eng.storage(entSpec).create(
            graft.ops.GraphAnn.entryBatch(cells1, cents)); () },
          () => { eng.storage(nodeSpec).create(
            graft.ops.GraphAnn.nodeBatch(cells1)); () })
        val cells2 = cellsOf(emb.where(col("vec_id") % 2 === 1))
          .localCheckpoint(true)
        val touched = cells2.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val oldCells = graft.ops.GraphAnn.nodeCells(
          eng.storage(nodeSpec).readIn(touched))
        // edge batch materializes BEFORE the group (it reads the node
        // pipe via oldCells — must not race this batch's node append)
        val edges2 = graft.ops.GraphAnn.pqEdgeBatch(
          cells2, Some(oldCells), HnswM, HnswBuckets, HnswCellCap, cbs)
          .localCheckpoint(true)
        inParallel(
          () => { eng.sync(spec, edges2, checkExisting = false); () },
          () => { eng.storage(entSpec).append(
            graft.ops.GraphAnn.entryBatch(cells2, cents)); () },
          () => { eng.storage(nodeSpec).append(
            graft.ops.GraphAnn.nodeBatch(cells2)); () })
        ()
       },
       () => {
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head()
          .getSeq[Double](0)
        val adcTable = SimilaritySearch.pqAdcTable(q, cbs)
        val store = eng.storage(spec)
        val entries = graft.ops.GraphAnn.entryIds(
          graft.ops.GraphAnn.foldEntries(eng.getData(entSpec)))
        def expand(frontier: Seq[Long]): Seq[(Long, Double)] = {
          val rows = store.readIn(frontier.map(_ % HnswBuckets).distinct)
            .where(col("src").isin(frontier: _*))
          graft.ops.GraphAnn.expandPqFrom(
            graft.ops.GraphAnn.foldAdjacency(rows, HnswM, HnswCellCap), adcTable)(frontier)
        }
        val rerank = 24
        val cands = graft.ops.GraphAnn.beamSearch(expand,
          entries, HnswEf, HnswHops, rerank)
          .map(_._1)
        store.readIn(cands.map(_ % HnswBuckets).distinct)
          .where(col("src") === col("dst") && col("src").isin(cands: _*))
          .select(col("src").as("vec_id"),
            VectorFns.cosineToQuery(col("dvec"), q).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(HnswK)
       })
    }),

    // Stored trigram-LM model pipes (the KenLM production shape: train =
    // count, incrementally): per-batch unigram/bigram/trigram type counts
    // blind-append into three hash-bucketed pipes; counts are ADDITIVE, so
    // the fold (groupBy-sum at read) equals a full-corpus rebuild and
    // scoring against the stored model is bit-identical to the self-model
    // q_trigram_logprob — which is therefore the oracle.
    "q_lm_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val buckets = 16
      val root = java.nio.file.Files.createTempDirectory("graft_lm_sync").toString
      val eng  = new SyncEngine(s, root)
      def spec(name: String) = PipeSpec(PipeKeys("idx", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (sU, sB, sT) = (spec("lm_uni"), spec("lm_bi"), spec("lm_tri"))
      (() => {
        // TYPE-level count batches with corpus-scan lineage: truncate
        // each ONCE so the sync pipeline's several actions (envelope,
        // write, inference) don't re-tokenize the half per action — the
        // hll/dd index-sync discipline. The two ingest halves then ship
        // through ONE envelope per model pipe (syncBlindAll: counts are
        // additive, so union-append ≡ sequential appends) — three
        // job-ladders instead of six for the same stored rows.
        val halves = Seq(docs.where(col("doc_id") % 2 === 0),
            docs.where(col("doc_id") % 2 === 1)).map { half =>
          // one tokenization per half, shared by the three count
          // checkpoints (was: each count branch re-tokenized the half)
          val toks = graft.ops.Corpus.lmTokens(half, "doc_id", "text")
            .localCheckpoint(true)
          val (u, b, t) =
            graft.ops.Corpus.trigramModelCountsFromToks(toks, buckets)
          // independent count materializations overlapped (guide §2.6)
          var uc: DataFrame = null; var bc: DataFrame = null; var tc: DataFrame = null
          inParallel(
            () => uc = u.localCheckpoint(true),
            () => bc = b.localCheckpoint(true),
            () => tc = t.localCheckpoint(true))
          ApproxDedup.freeCheckpoint(toks)
          (uc, bc, tc)
        }
        // three disjoint-pipe sync envelopes overlapped (guide §2.6)
        inParallel(
          () => { eng.syncBlindAll(sU, halves.map(_._1)); () },
          () => { eng.syncBlindAll(sB, halves.map(_._2)); () },
          () => { eng.syncBlindAll(sT, halves.map(_._3)); () })
        ()
       },
       () => graft.ops.Corpus.trigramScoreWithModel(docs, "doc_id", "text",
          graft.ops.Corpus.lmFoldUni(eng.getData(sU)),
          graft.ops.Corpus.lmFoldBi(eng.getData(sB)),
          graft.ops.Corpus.lmFoldTri(eng.getData(sT)),
          lambda3 = 0.5, lambda2 = 0.3)
        .orderBy(col("doc_id")))
    }),

    "q_vocab_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val buckets = 16
      val root = java.nio.file.Files.createTempDirectory("graft_vocab_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "vocab_counts"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          graft.ops.Corpus.vocabPostings(
            docs.where(col("doc_id") % 2 === 0), "text", buckets),
          graft.ops.Corpus.vocabPostings(
            docs.where(col("doc_id") % 2 === 1), "text", buckets)))
        ()
       },
       () => graft.ops.Corpus.vocabFold(eng.getData(spec))
         .orderBy(col("freq").desc, col("token")).limit(30))
    }),

    // Stored boilerplate index: per-batch (bucket, source, line, df) and
    // (batch, source, n_docs) rows blind-append into two derived pipes;
    // counting is additive, so the fold + integer prevalence flag equals a
    // full [[Cleaning.boilerplateLines]] rebuild without re-reading text.
    "q_boilerplate_index_sync" -> ((s, d) => {
      val pages = boilerplatePages(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_bp_sync").toString
      val eng  = new SyncEngine(s, root)
      val cSpec = PipeSpec(PipeKeys("idx", "bp_counts"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val nSpec = PipeSpec(PipeKeys("idx", "bp_doccounts"),
        columns = ColumnRoles(Map("datetime" -> "batch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val half0 = pages.where(col("doc_id") % 2 === 0)
      val half1 = pages.where(col("doc_id") % 2 === 1)
      (() => {
        // two disjoint-pipe envelopes overlapped (guide §2.6)
        inParallel(
          () => { eng.syncBlindAll(cSpec, Seq(
            graft.ops.Cleaning.boilerplateCounts(half0, "doc_id", "text", "source"),
            graft.ops.Cleaning.boilerplateCounts(half1, "doc_id", "text", "source"))); () },
          () => { eng.syncBlindAll(nSpec, Seq(
            graft.ops.Cleaning.sourceDocCounts(half0, "source", 0L),
            graft.ops.Cleaning.sourceDocCounts(half1, "source", 1L))); () })
        ()
       },
       () => graft.ops.Cleaning.boilerplateFold(
           eng.getData(cSpec), eng.getData(nSpec), "source",
           minFrac = 0.6, minDocs = 2L)
         .orderBy(col("source"), col("line")))
    }),

    // Stored SimHash signature index, maintained incrementally: band rows
    // (id, simhash, band, bv, bucket) blind-append into a bucket-clustered
    // pipe; the probe reads ≤ 4 bucket partition dirs and verifies Hamming
    // distance FROM THE INDEX (signatures ride in the rows — text is never
    // re-read). Pigeonhole-exact at Hamming ≤ 3, so the oracle is the
    // direct bit_count formula over all documents.
    "q_simhash_index_sync" -> ((s, d) => {
      val buckets = 16
      val all = simhashCorpus(s, d)
      val qid = 1000000L // the doubled-text twin of doc 0: Hamming 0 from it
      def index(df: DataFrame) =
        ApproxDedup.simhashBands(df, "doc_id", "text", buckets)
      val root = java.nio.file.Files.createTempDirectory("graft_sh_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "simhash_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val store = eng.storage(spec)
      (() => {
        eng.syncBlindAll(spec, Seq(
          index(all.where(col("doc_id") % 2 === 0)),
          index(all.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => {
        val qRows = index(all.where(col("doc_id") === qid))
          .select("band", "bv", "bucket", "simhash").collect()
        val qSig = qRows.head.getAs[Long]("simhash")
        val hit = qRows.toSeq.map(r =>
            col("band") === r.getAs[Int]("band") && col("bv") === r.getAs[Long]("bv"))
          .reduce(_ || _)
        store.readIn(qRows.toSeq.map(_.getAs[Long]("bucket")).distinct)
          .where(hit && col("doc_id") =!= qid)
          .select(col("doc_id"),
            bit_count(col("simhash").bitwiseXOR(lit(qSig))).as("hamming"))
          .distinct()
          .where(col("hamming") <= 3)
          .select(least(col("doc_id"), lit(qid)).as("id1"),
            greatest(col("doc_id"), lit(qid)).as("id2"), col("hamming"))
          .orderBy(col("id1"), col("id2"))
       })
    }),

    // Stored PERCEPTUAL media index: aHash band rows blind-append into a
    // bucket-clustered pipe; a re-upload probe hashes ONE payload, reads
    // ≤ 4 bucket dirs, and Hamming-verifies from the stored hashes —
    // payload bytes never leave their original scan. Pigeonhole-exact at
    // Hamming ≤ 3, so the oracle is the direct formula.
    "q_media_index_sync" -> ((s, d) => {
      val buckets = 16
      val docs = Tables.documents(s, d)
      def index(df: DataFrame) =
        Media.perceptualBands(Media.fromDocuments(s, df), buckets)
      val root = java.nio.file.Files.createTempDirectory("graft_med_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "media_ahash"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "media_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val store = eng.storage(spec)
      (() => {
        eng.syncBlindAll(spec, Seq(
          index(docs.where(col("doc_id") % 2 === 0)),
          index(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => {
        val qid = 1000040L // re-upload of doc 40's payload under a new id
        val qRows = index(docs.where(col("doc_id") === 40)
            .withColumn("doc_id", col("doc_id") + 1000000L))
          .select("band", "bv", "bucket", "ahash").collect()
        val qSig = qRows.head.getAs[Long]("ahash")
        val hit = qRows.toSeq.map(r =>
            col("band") === r.getAs[Int]("band") && col("bv") === r.getAs[Long]("bv"))
          .reduce(_ || _)
        store.readIn(qRows.toSeq.map(_.getAs[Long]("bucket")).distinct)
          .where(hit)
          .select(lit(qid).as("sid"), col("media_id").as("hist_id"),
            bit_count(col("ahash").bitwiseXOR(lit(qSig))).as("hamming"))
          .distinct()
          .where(col("hamming") <= 3)
          .orderBy(col("hist_id"))
       })
    }),

    // Stored VIDEO temporal-fingerprint index — per-frame aHash rows
    // (media_id, frame_idx, fhash) bucket-chunked by fhash: the arriving
    // re-upload hashes ONE video's frames (≤ 5 driver rows), reads ≤ that
    // many bucket dirs, equi-matches on the exact hash, and thresholds
    // distinct shared frames — the content-ID lookup-at-ingest shape.
    // Frame-hash rows are row-local, so blind-appended halves fold to the
    // rebuild trivially. The query video is the LOWEST video-typed doc
    // (derived from data, so the oracle selects it in SQL).
    "q_videohash_index_sync" -> ((s, d) => {
      val buckets = 16
      val docs = Tables.documents(s, d)
      def index(df: DataFrame) =
        Media.videoFrameHashes(Media.fromDocuments(s, df)).toDF()
          .withColumn("bucket", pmod(col("fhash"), lit(buckets.toLong)))
      val root = java.nio.file.Files.createTempDirectory("graft_vh_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "video_fhash"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "media_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val store = eng.storage(spec)
      (() => {
        eng.syncBlindAll(spec, Seq(
          index(docs.where(col("doc_id") % 2 === 0)),
          index(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => probeStoredFrameHashIndex(s, store, docs, buckets))
    }),

    // Stored BPE tokenizer artifact: the merge table trains on HALF the
    // corpus, persists as a pipe, and the probe re-reads it (k driver
    // rows, configuration-bounded) to segment the FULL corpus — including
    // words the trainer never saw (standard BPE OOV: they stop merging).
    // The deployment shape bpeSegmentCounts cannot cover (it retrains on
    // its own input); the oracle derives the merges from the train half
    // and replays the identical literal-replace chain on the full corpus.
    "q_bpe_stored_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_bpe_store").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "bpe_merges"),
        columns = ColumnRoles(Map("datetime" -> "step")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.sync(spec, graft.ops.Corpus.bpeTrain(
          docs.where(col("doc_id") % 2 === 0), "text", nMerges = 8),
          checkExisting = false)
        ()
       },
       () => {
        val merges = eng.getData(spec).orderBy(col("step"))
          .select(col("pair")).collect().map(_.getString(0)).toSeq
        graft.ops.Corpus.bpeSegmentCountsFromMerges(docs, "doc_id", "text",
            merges)
          .orderBy(col("doc_id"))
       })
    }),

    // Stored Naive-Bayes model pipes: per-batch (batch, label, n_docs) and
    // (bucket, label, token, cnt) counts blind-append; counting is
    // additive, so the fold ≡ a full retrain and scoring against the
    // stored model is bit-identical to the self-trained q_nb_classify —
    // which is therefore the oracle.
    "q_nb_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_nb_sync").toString
      val eng  = new SyncEngine(s, root)
      val cSpec = PipeSpec(PipeKeys("idx", "nb_classes"),
        columns = ColumnRoles(Map("datetime" -> "batch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val tSpec = PipeSpec(PipeKeys("idx", "nb_tokens"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        val halves = Seq(0, 1).map { h =>
          val (cls, toks) = graft.ops.Classify.nbCounts(
            docs.where(col("doc_id") % 2 === h), "source", "text", 16)
          (cls.withColumn("batch", lit(h.toLong)), toks)
        }
        // two disjoint-pipe envelopes overlapped (guide §2.6)
        inParallel(
          () => { eng.syncBlindAll(cSpec, halves.map(_._1)); () },
          () => { eng.syncBlindAll(tSpec, halves.map(_._2)); () })
        ()
       },
       () => {
        val cls = graft.ops.Classify.nbFoldClasses(
          eng.getData(cSpec).select(col("label"), col("n_docs")))
        val toks = graft.ops.Classify.nbFoldTokens(eng.getData(tSpec))
          .localCheckpoint(true) // three consumers: vocab count, totals, model
        val v = toks.select(col("token")).distinct().count()
        graft.ops.Classify.nbClassify(docs, "doc_id", "source", "text",
            cls, toks, v)
          .orderBy(col("doc_id"))
       })
    }),

    // Stored SentencePiece-unigram tokenizer artifact (Kudo 2018): the
    // (piece, cnt, logp_micro) model trains on HALF the corpus, persists
    // as a pipe, and the probe re-reads it (≤ seed+alphabet driver rows,
    // configuration-bounded) to segment the FULL corpus — unknown
    // characters fall back to the UNK floor. String/long round-trips are
    // exact, so the stored-model apply is bit-equal to the trainer's and
    // the oracle replays train-on-even → apply-to-all from the tables.
    "q_sp_stored_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_sp_store").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "sp_model"),
        columns = ColumnRoles(Map("datetime" -> "row_id")),
        epochUnit = Some("minute"), chunkMinutes = 4096)
      (() => {
        val model = SpModel.forScope(s, d, "even")
        val rows = model.zipWithIndex.map { case ((p, c, lp), i) =>
          org.apache.spark.sql.Row(i.toLong, p, c, lp) }
        eng.sync(spec, s.createDataFrame(
          s.sparkContext.parallelize(rows.toList, 1),
          StructType(Seq(StructField("row_id", LongType),
            StructField("piece", StringType), StructField("cnt", LongType),
            StructField("logp_micro", LongType)))), checkExisting = false)
        ()
       },
       () => {
        val stored = eng.getData(spec)
          .select(col("piece"), col("logp_micro")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.ops.SpUnigram.subwordCounts(docs, "doc_id", "text",
            stored, SpP, SpCap)
          .orderBy(col("doc_id"))
       })
    }),

    // Incremental CONNECTED COMPONENTS as stored pipes: near-dup cluster
    // labels maintained per batch (touched buckets + merged-roots buckets
    // only — batch-proportional reads) instead of recomputed from the full
    // pair graph every run. Labels are monotone decreasing, so blind-append
    // + min-fold ≡ full rebuild and the oracle is the plain full-graph CC
    // (q_neardup_clusters' recursive-CTE replay).
    "q_cc_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val buckets = 8
      val root = java.nio.file.Files.createTempDirectory("graft_cc_sync").toString
      val eng  = new SyncEngine(s, root)
      def spec(name: String) = PipeSpec(PipeKeys("idx", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (lSpec, mSpec) = (spec("cc_labels"), spec("cc_members"))
      val (lStore, mStore) = (eng.storage(lSpec), eng.storage(mSpec))
      def appendRows(rows: DataFrame, create: Boolean): Unit = {
        val l = rows.select(col("node_bucket").as("bucket"), col("node"), col("root"))
        val m = rows.select(col("root_bucket").as("bucket"), col("root"), col("node"))
        // rows is checkpointed by ccIncrementRows; the two projections
        // write DISJOINT pipes — overlap the write envelopes (guide §2.6)
        inParallel(
          () => { if (create) lStore.create(l) else lStore.append(l); () },
          () => { if (create) mStore.create(m) else mStore.append(m); () })
      }
      (() => {
        val pairs = ApproxDedup.minhashNearDupsFast(docs,
          "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24,
          bands = 6, estSlack = 0.25, maxBucket = 200, md5Base = true)
          .localCheckpoint(true)
        val bothEven = col("id1") % 2 === 0 && col("id2") % 2 === 0
        appendRows(ApproxDedup.ccIncrementRows(pairs.where(bothEven),
          "id1", "id2", buckets, history = None), create = true)
        appendRows(ApproxDedup.ccIncrementRows(pairs.where(!bothEven),
          "id1", "id2", buckets,
          history = Some((bs => lStore.readIn(bs), bs => mStore.readIn(bs)))),
          create = false)
        ApproxDedup.freeCheckpoint(pairs)
        ()
       },
       () => ApproxDedup.ccFold(lStore.read.select(col("node"), col("root")))
         .orderBy(col("doc_id")))
    }),

    // The leakage-safe split RE-POINTED at the stored CC labels: the split
    // reads the incrementally-maintained label pipe (one min-fold) instead
    // of re-propagating the pair graph; fold ≡ rebuild makes the plain
    // full-pipeline split SQL the oracle.
    "q_leakage_split_stored" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val buckets = 8
      val root = java.nio.file.Files.createTempDirectory("graft_ccsplit").toString
      val eng  = new SyncEngine(s, root)
      def spec(name: String) = PipeSpec(PipeKeys("idx", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (lSpec, mSpec) = (spec("ccs_labels"), spec("ccs_members"))
      val (lStore, mStore) = (eng.storage(lSpec), eng.storage(mSpec))
      (() => {
        val pairs = ApproxDedup.minhashNearDupsFast(docs,
          "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24,
          bands = 6, estSlack = 0.25, maxBucket = 200, md5Base = true)
          .localCheckpoint(true)
        val bothEven = col("id1") % 2 === 0 && col("id2") % 2 === 0
        val r1 = ApproxDedup.ccIncrementRows(pairs.where(bothEven),
          "id1", "id2", buckets, history = None)
        // r1/r2 are checkpointed; label and member pipes are disjoint —
        // overlap the two write envelopes per step (guide §2.6)
        inParallel(
          () => { lStore.create(r1.select(col("node_bucket").as("bucket"), col("node"), col("root"))); () },
          () => { mStore.create(r1.select(col("root_bucket").as("bucket"), col("root"), col("node"))); () })
        val r2 = ApproxDedup.ccIncrementRows(pairs.where(!bothEven),
          "id1", "id2", buckets,
          history = Some((bs => lStore.readIn(bs), bs => mStore.readIn(bs))))
        inParallel(
          () => { lStore.append(r2.select(col("node_bucket").as("bucket"), col("node"), col("root"))); () },
          () => { mStore.append(r2.select(col("root_bucket").as("bucket"), col("root"), col("node"))); () })
        ApproxDedup.freeCheckpoint(pairs)
        ()
       },
       () => graft.ops.Sampling.leakageSafeSplitFromClusters(docs,
           ApproxDedup.ccFold(lStore.read.select(col("node"), col("root"))),
           "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
         .select(col("doc_id"), col("group_id"), col("split"))
         .orderBy(col("doc_id")))
    }),

    // Stored data card: per-batch additive summary rows + a fingerprint
    // pipe carrying the non-additive unique-doc count; fold ≡ rebuild, so
    // the oracle is the plain corpus card. The release dashboard updates
    // per sync without ever re-reading corpus text.
    "q_data_card_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_card_sync").toString
      val eng  = new SyncEngine(s, root)
      val cSpec = PipeSpec(PipeKeys("idx", "card_batches"),
        columns = ColumnRoles(Map("datetime" -> "batch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val fSpec = PipeSpec(PipeKeys("idx", "card_fps"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val half0 = docs.where(col("doc_id") % 2 === 0)
      val half1 = docs.where(col("doc_id") % 2 === 1)
      (() => {
        // two disjoint-pipe envelopes overlapped (guide §2.6)
        inParallel(
          () => { eng.syncBlindAll(cSpec, Seq(
            graft.ops.Corpus.dataCardBatch(half0, "source", "lang", "text", 0L),
            graft.ops.Corpus.dataCardBatch(half1, "source", "lang", "text", 1L))); () },
          () => { eng.syncBlindAll(fSpec, Seq(
            graft.ops.Corpus.dataCardFps(half0, "source", "text"),
            graft.ops.Corpus.dataCardFps(half1, "source", "text"))); () })
        ()
       },
       () => graft.ops.Corpus.dataCardFold(
           eng.getData(cSpec), eng.getData(fSpec), "source")
         .orderBy(col("source")))
    }),

    "q_bm25_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val q = Seq("table", "scan", "window")
      val buckets = 16
      def postings(df: DataFrame) =
        graft.ops.Corpus.bm25Postings(df, "doc_id", "text", buckets)
      val root = java.nio.file.Files.createTempDirectory("graft_bm25_sync").toString
      val eng  = new SyncEngine(s, root)
      val pSpec = PipeSpec(PipeKeys("idx", "bm25_postings"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val sSpec = PipeSpec(PipeKeys("idx", "bm25_stats"),
        columns = ColumnRoles(Map("datetime" -> "batch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val half0 = docs.where(col("doc_id") % 2 === 0)
      val half1 = docs.where(col("doc_id") % 2 === 1)
      (() => {
        // two disjoint-pipe envelopes overlapped (guide §2.6)
        inParallel(
          () => { eng.syncBlindAll(pSpec, Seq(postings(half0), postings(half1))); () },
          () => { eng.syncBlindAll(sSpec, Seq(
            graft.ops.Corpus.bm25BatchStats(half0, "text", 0L),
            graft.ops.Corpus.bm25BatchStats(half1, "text", 1L))); () })
        ()
       },
       () => {
        val qBuckets = q.map(t =>
          graft.ops.Sampling.hashBucketValue(t.toLowerCase, buckets)).distinct
        graft.ops.Corpus.bm25ProbeStored(
          eng.storage(pSpec).readIn(qBuckets),
          eng.getData(sSpec), "doc_id", q, k = 12)
       })
    }),

    // Stored HLL sketch maintained incrementally: per-batch (register,
    // rank) rows blind-append into a register-keyed pipe; registers fold
    // by max (idempotent + commutative), so the estimate over the STORE
    // equals a full-corpus rebuild — distinct-shingle cardinality tracked
    // across syncs in O(2^p) stored rows without re-reading any text.
    "q_hll_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val p = 8
      // native single-pass kernel: bit-identical to
      // hllRegisters(shingleValues(df, "text", 3), p) — parity-asserted.
      // The ≤2^p-row batch is eagerly materialized BEFORE sync: the sync
      // pipeline legitimately runs several actions over a batch (envelope,
      // write, inference) — fine when the batch is the expensive thing,
      // but a derived sketch batch is 256 rows whose LINEAGE is a corpus
      // scan, so the caller truncates it to pay that scan exactly once.
      def regs(df: DataFrame) =
        graft.ops.Sketches.hllShingleRegisters(df, "text", 3, p)
          .localCheckpoint(true)
      val root = java.nio.file.Files.createTempDirectory("graft_hll_sync").toString
      val eng  = new SyncEngine(s, root)
      // 64 registers per chunk: 2^p=256 registers land in 4 chunk dirs —
      // one-register-per-chunk (chunkMinutes=1) measured 12s of pure
      // tiny-file write overhead for a 256-row table, 8x the whole build
      val spec = PipeSpec(PipeKeys("idx", "hll_registers"),
        columns = ColumnRoles(Map("datetime" -> "register")),
        epochUnit = Some("minute"), chunkMinutes = 64)
      (() => {
        eng.syncBlindAll(spec, Seq(
          regs(docs.where(col("doc_id") % 2 === 0)),
          regs(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => graft.ops.Sketches.hllEstimate(
         graft.ops.Sketches.hllFold(eng.getData(spec)), p))
    }),

    // Stored count-min sketch maintained incrementally: per-batch
    // (row, counter, cnt) cells blind-append; counters are additive, so
    // the folded point-estimates equal a full rebuild. The monitoring
    // story: token-frequency point queries against O(d·w) stored rows,
    // corpus text touched once per batch.
    "q_cms_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (dd, ww) = (4, 512)
      def cells(df: DataFrame) = graft.ops.Sketches.cmsCounters(
        graft.ops.Sketches.tokenValues(df, "text"), dd, ww)
      val root = java.nio.file.Files.createTempDirectory("graft_cms_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "cms_counters"),
        columns = ColumnRoles(Map("datetime" -> "row")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          cells(docs.where(col("doc_id") % 2 === 0)),
          cells(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => graft.ops.Sketches.cmsPointReport(
           graft.ops.Sketches.cmsFold(eng.getData(spec)),
           graft.ops.Sketches.tokenValues(docs, "text"),
           Seq("scan", "join", "window", "batch", "zzz_absent_term"), dd, ww)
         .orderBy(col("term")))
    }),

    // Stored quantile sketch maintained incrementally: per-batch
    // (octave, sub, cnt) histogram rows blind-append into an
    // octave-clustered pipe; counts are ADDITIVE, so quantiles over the
    // folded store equal a full-corpus rebuild — length/latency
    // percentiles tracked across syncs in ≤ 1009 stored rows per batch
    // without re-reading any data.
    "q_dd_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def hist(df: DataFrame) = graft.ops.Sketches.ddSketchHistogram(
          df.select(col("n_chars").as("v")), "v")
        .localCheckpoint(true) // ≤1009 rows whose lineage is a corpus scan
      val root = java.nio.file.Files.createTempDirectory("graft_dd_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "dd_hist"),
        columns = ColumnRoles(Map("datetime" -> "octave")),
        epochUnit = Some("minute"), chunkMinutes = 16)
      (() => {
        eng.syncBlindAll(spec, Seq(
          hist(docs.where(col("doc_id") % 2 === 0)),
          hist(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => graft.ops.Sketches.ddQuantiles(
           graft.ops.Sketches.ddSketchFold(eng.getData(spec)),
           qsMicro = Seq(250000L, 500000L, 750000L, 990000L))
         .orderBy(col("q_micro")))
    }),

    // Stored per-GROUP quantile sketches maintained incrementally: grouped
    // histograms blind-append into a group-bucketed pipe; additive per
    // (group, octave, sub), so per-source quantiles over the folded store
    // equal a full rebuild — length percentiles per source tracked across
    // syncs without re-reading any text.
    "q_dd_grouped_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def hist(df: DataFrame) = graft.ops.Sketches.ddSketchHistogramByGroup(
          df.select(col("source").as("grp"), col("n_chars").as("v")),
          "grp", "v")
        .select(pmod(graft.functions.TextFns.md5Long60(col("grp")), lit(8L))
          .as("bucket"), col("grp"), col("octave"), col("sub"), col("cnt"))
        .localCheckpoint(true)
      val root = java.nio.file.Files.createTempDirectory("graft_ddg_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "dd_grouped"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          hist(docs.where(col("doc_id") % 2 === 0)),
          hist(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => graft.ops.Sketches.ddQuantilesByGroup(
           graft.ops.Sketches.ddSketchFoldByGroup(
             eng.getData(spec).select("grp", "octave", "sub", "cnt")),
           qsMicro = Seq(500000L, 950000L))
         .orderBy(col("grp"), col("q_micro")))
    }),

    // Stored reference-GRAM index maintained incrementally: each reference
    // batch blind-appends its distinct shingle hashes into a hash-bucketed
    // pipe; distinct(∪ batch-distincts) = distinct(corpus grams), so
    // novelty probed against the folded store equals the full-reference
    // rebuild — and candidate batches score without ever re-reading the
    // reference text (the acquisition-side novelty signal as a pipe).
    "q_novelty_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ref  = docs.where(col("doc_id") % 2 === 0)
      def batch(df: DataFrame) = graft.ops.TextStats.gramIndexBatch(
        df, "doc_id", "text", n = 3, buckets = 8)
      val root = java.nio.file.Files.createTempDirectory("graft_ng_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "ref_grams"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          batch(ref.where(col("doc_id") % 4 === 0)),
          batch(ref.where(col("doc_id") % 4 === 2))))
        ()
       },
       () => graft.ops.TextStats.ngramNoveltyAgainstIndex(
           docs.where(col("doc_id") % 2 === 1), "doc_id", "text", n = 3,
           storedGrams = eng.getData(spec).select(col("h")))
         .orderBy(col("doc_id")))
    }),

    // Stored blocklist-AUDIT pipe: per-batch Aho–Corasick pattern stats
    // blind-append (disjoint doc batches ⇒ additive n_docs/n_hits);
    // fold ≡ rebuild, so the dashboard reads |patterns| stored rows, not
    // the corpus.
    "q_ac_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def batch(df: DataFrame) = graft.ops.Corpus.acPatternStatsBatch(
        df, "doc_id", "text", AcPatterns, buckets = 8)
      val root = java.nio.file.Files.createTempDirectory("graft_ac_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "ac_stats"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          batch(docs.where(col("doc_id") % 2 === 0)),
          batch(docs.where(col("doc_id") % 2 === 1))))
        ()
       },
       () => graft.ops.Corpus.acPatternStatsFold(
           eng.getData(spec).select("pattern", "n_docs", "n_hits"))
         .orderBy(col("pattern")))
    }),

    // Stored IVF centroid-DRIFT monitor: per-batch (epoch, cell, n, sd)
    // stats blind-append (two sub-batches per epoch prove additivity);
    // the retrain trigger reads ONLY the ≤ k·|epochs| stored rows —
    // occupancy-share PSI between epochs + per-cell tightness creep,
    // either firing flags the cell. The corpora collapse at sync time
    // and are never re-read.
    "q_centroid_drift_index_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
        "embedding", 16)
      def batch(df: DataFrame, epoch: Long) =
        SimilaritySearch.cellStatsBatch(df, "embedding", cents, epoch)
      val root = java.nio.file.Files.createTempDirectory("graft_cd_sync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "cell_stats"),
        columns = ColumnRoles(Map("datetime" -> "epoch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(
          batch(emb.where(col("vec_id") % 4 === 0), 0L),
          batch(emb.where(col("vec_id") % 4 === 2), 0L),
          batch(emb.where(col("vec_id") % 2 === 1), 1L)))
        ()
       },
       () => SimilaritySearch.centroidDriftFromStats(
         eng.getData(spec).select("epoch", "cell", "n", "sd"),
         k = 16, baseEpoch = 0L, curEpoch = 1L))
    }),

    // Stored Bradley–Terry leaderboard maintained incrementally: per-batch
    // pair/win counts blind-append into hash-bucketed pipes; both counts
    // are ADDITIVE, so the MM refit over the folded store equals a
    // full-history rebuild — the Chatbot-Arena shape where battles arrive
    // forever and the leaderboard refits from O(|pairs|) stored rows.
    "q_bt_index_sync" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val battles = e.as("x")
        .join(e.as("y"), expr("y.event_id = x.event_id + 1"))
        .where(col("x.event_type") =!= col("y.event_type") &&
          col("x.value") =!= col("y.value"))
        .select(col("x.event_id").as("bid"),
          when(col("x.value") > col("y.value"), col("x.event_type"))
            .otherwise(col("y.event_type")).as("w"),
          when(col("x.value") > col("y.value"), col("y.event_type"))
            .otherwise(col("x.event_type")).as("l"))
      val root = java.nio.file.Files.createTempDirectory("graft_bt_sync").toString
      val eng  = new SyncEngine(s, root)
      def mSpec(name: String) = PipeSpec(PipeKeys("idx", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (pSpec, wSpec) = (mSpec("bt_pairs"), mSpec("bt_wins"))
      (() => {
        val halves = Seq(0, 1).map { half =>
          val (pc, w) = graft.ops.Rlhf.btBattleCounts(
            battles.where(col("bid") % 2 === half), "w", "l", buckets = 8)
          (pc.localCheckpoint(true), w.localCheckpoint(true))
        }
        // two disjoint-pipe envelopes overlapped (guide §2.6)
        inParallel(
          () => { eng.syncBlindAll(pSpec, halves.map(_._1)); () },
          () => { eng.syncBlindAll(wSpec, halves.map(_._2)); () })
        ()
       },
       () => graft.ops.Rlhf.bradleyTerryFromCounts(
           graft.ops.Rlhf.btFoldPairs(eng.getData(pSpec)),
           graft.ops.Rlhf.btFoldWins(eng.getData(wSpec)), iters = 4)
         .orderBy(col("item")))
    }),

    // STORED Elo leaderboard: per-batch (ep, w, l, n) counts blind-append
    // under the epoch axis (one chunk per epoch → the replay's per-epoch
    // reads partition-prune); counts additive AND within-epoch deltas are
    // n·d exactly, so fold ≡ match-level replay and the oracle is
    // q_elo's. Two halves by battle id simulate two arena ingest syncs.
    "q_elo_index_sync" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val battles = e.as("x")
        .join(e.as("y"), expr("y.event_id = x.event_id + 1"))
        .where(col("x.event_type") =!= col("y.event_type") &&
          col("x.value") =!= col("y.value"))
        .select(col("x.event_id").as("bid"),
          expr("least((dayofyear(x.ts) - 1) div 7, 4)").as("ep"),
          when(col("x.value") > col("y.value"), col("x.event_type"))
            .otherwise(col("y.event_type")).as("w"),
          when(col("x.value") > col("y.value"), col("y.event_type"))
            .otherwise(col("x.event_type")).as("l"))
      val root = java.nio.file.Files.createTempDirectory("graft_elo_sync")
        .toString
      val eng = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("idx", "elo_counts"),
        columns = ColumnRoles(Map("datetime" -> "ep")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      (() => {
        eng.syncBlindAll(spec, Seq(0, 1).map { half =>
          graft.ops.Rlhf.eloBattleCounts(
            battles.where(col("bid") % 2 === half), "ep", "w", "l")
            .localCheckpoint(true)
        })
        ()
       },
       () => graft.ops.Rlhf.eloFromCounts(
           graft.ops.Rlhf.eloFoldCounts(eng.getData(spec)), numEpochs = 5)
         .orderBy(col("item")))
    }),

    // INCREMENTAL triangle/LCC maintenance: canonical edges and per-node
    // (d_deg, d_tri) deltas blind-append as pipes; each triangle is
    // charged to the batch where its LAST edge arrives (common-neighbor
    // join against the merged adjacency, sorted-triple dedup), so stat
    // rows are additive and fold ≡ the full-graph q_triangle_count
    // rebuild — which is exactly what the oracle replays.
    "q_triangle_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
        .localCheckpoint(true)
      val root = java.nio.file.Files.createTempDirectory("graft_tri_sync")
        .toString
      val eng = new SyncEngine(s, root)
      def mSpec(name: String) = PipeSpec(PipeKeys("idx", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (eSpec, sSpec) = (mSpec("tri_edges"), mSpec("tri_stats"))
      def bucketOf(c: org.apache.spark.sql.Column) =
        pmod(TextFns.md5Long60(c.cast("string")), lit(8L)).as("bucket")
      (() => {
        Seq(0, 1).foreach { half =>
          val stored =
            if (half == 0)
              s.range(0).select(col("id").as("a"), col("id").as("b"))
            else eng.getData(eSpec).select(col("a"), col("b"))
          val (newE, stats) = graft.ops.Graph.triangleBatchDelta(stored,
            pairs.where(col("id1") % 2 === half))
          eng.sync(eSpec, newE
              .select(bucketOf(concat_ws("#", col("a"), col("b"))),
                col("a"), col("b")).localCheckpoint(true),
            checkExisting = false)
          eng.sync(sSpec, stats
              .select(bucketOf(col("node")), col("node"), col("d_deg"),
                col("d_tri")).localCheckpoint(true),
            checkExisting = false)
        }
        ()
       },
       () => graft.ops.Graph.triangleFoldStats(eng.getData(sSpec))
         .orderBy(col("node")))
    }))

  /** Compose a staged entry back into the single-DataFrame query form used
    * by Verify and the oracle compare. */
  private def composed(name: String): (SparkSession, String) => DataFrame =
    (s, d) => { val (build, probe) = staged(name)(s, d); build(); probe() }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── §2.4 aggregations / §2.1 scan ────────────────────────────────────
    "q1_pricing_summary" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.where(col("l_shipdate") <= lit(ts("1999-12-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"), 18, 2)).cast(DoubleType).as("sum_qty"),
          sum(dec(col("l_extendedprice"), 18, 2)).cast(DoubleType).as("sum_base_price"),
          sum(dec(dec(col("l_extendedprice"), 18, 2) * (lit(1) - dec(col("l_discount"), 18, 2)), 38, 4)).cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_shipping_priority" -> ((s, d) => {
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).where(col("o_orderdate") < lit(ts("1998-03-15 00:00:00")))
      val l = Tables.lineitem(s, d).where(col("l_shipdate") > lit(ts("1998-03-15 00:00:00")))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec(dec(col("l_extendedprice"), 18, 2) * (lit(1) - dec(col("l_discount"), 18, 2)), 38, 4)).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q5_local_supplier_volume" -> ((s, d) => {
      // dims broadcast explicitly: region/nation stay tiny at any scale
      val r = broadcast(Tables.region(s, d).where(col("r_name") === "ASIA"))
      val n = broadcast(Tables.nation(s, d))
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit(ts("1996-01-01 00:00:00")) &&
               col("o_orderdate") < lit(ts("1998-01-01 00:00:00")))
      val l = Tables.lineitem(s, d)
      val su = Tables.supplier(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(c, o("o_custkey") === c("c_custkey") &&
                 su("s_nationkey") === c("c_nationkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(dec(col("l_extendedprice"), 18, 2) * (lit(1) - dec(col("l_discount"), 18, 2)), 38, 4)).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ── §2.2 projection + predicate pushdown ────────────────────────────
    "q_scan_project_filter" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit(ts("2000-01-01 00:00:00")) && col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── §2.1/§2.2 get_data read surface: bounds + params + order + limit ─
    "q_get_data" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.where(TimeBounds.predicate("ts",
          Some(java.time.Instant.parse("2024-01-05T00:00:00Z")),
          Some(java.time.Instant.parse("2024-01-20T00:00:00Z"))))
        .where(ParamsFilter.toPredicate(Map(
          "event_type" -> Seq("click", "view"),
          "user_id"    -> ParamsFilter.Not(3L))))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
        .limit(1000)
    }),

    // ── §2.2 params filter DSL: mixed include/exclude + JSON equality ────
    "q_params_dsl" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.where(ParamsFilter.toPredicate(Map(
          "user_id"    -> Seq(1L, 2L, 5L, 7L, 11L),
          "event_type" -> Seq("_error", "_signup"))))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    "q_params_json" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.where(ParamsFilter.toPredicate(Map("props" -> Map("k" -> 87))))
        .select(col("event_id"), col("user_id"), col("props"))
        .orderBy(col("event_id"))
    }),

    // ── §2.4 sync-time / rowcount / bounds aggregates ────────────────────
    "q_sync_time" -> ((s, d) =>
      Tables.events(s, d).agg(max(col("ts")).as("sync_time"))),

    "q_sync_time_per_id" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as("sync_time"), min(col("ts")).as("first_time"))
        .orderBy(col("user_id"))),

    "q_rowcount_bounds" -> ((s, d) => {
      Tables.events(s, d)
        .where(TimeBounds.predicate("ts",
          Some(java.time.Instant.parse("2024-01-03T00:00:00Z")),
          Some(java.time.Instant.parse("2024-01-27T00:00:00Z"))))
        .where(ParamsFilter.toPredicate(Map("event_type" -> "purchase")))
        .agg(count(lit(1)).as("cnt"))
    }),

    "q_dt_bounds" -> ((s, d) =>
      Tables.events(s, d).agg(
        min(col("ts")).as("dt_min"), max(col("ts")).as("dt_max"),
        count(lit(1)).as("cnt"))),

    "q_distinct_count" -> ((s, d) =>
      Tables.events(s, d).agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"))),

    // ── §2.3 delta anti-join (full-row, null-safe canonical hash) ────────
    "q_delta_antijoin" -> ((s, d) => {
      val ev       = Tables.events(s, d)
      val existing = ev.where(col("event_id") % 3 === 0)
      val incoming = ev.where(col("event_id") < 600)
      Diff.filterUnseen(existing, incoming).orderBy(col("event_id"))
    }),

    // ── §2.3 unseen/update split on index columns ────────────────────────
    "q_sync_unseen" -> ((s, d) => {
      val ev        = Tables.events(s, d)
      val incoming  = ev.where(col("event_id") < 200)
      val backtrack = ev.where(col("event_id") >= 200 && col("event_id") < 800)
      val (unseen, _) = Diff.filterExisting(incoming, backtrack, Seq("user_id", "event_type"))
      unseen.orderBy(col("event_id"))
    }),

    "q_sync_update" -> ((s, d) => {
      val ev        = Tables.events(s, d)
      val incoming  = ev.where(col("event_id") < 200)
      val backtrack = ev.where(col("event_id") >= 200 && col("event_id") < 800)
      val (_, update) = Diff.filterExisting(incoming, backtrack, Seq("user_id", "event_type"))
      update.orderBy(col("event_id"))
    }),

    // ── §2.3 per-id as-of incremental fetch (join_fetch) ─────────────────
    "q_asof_incremental" -> ((s, d) => {
      val ev  = Tables.events(s, d)
      // bookmark join column renamed (not usingColumns): both sides share
      // lineage, and the self-join disambiguation warning marks a pattern
      // that turns into a silent cross join under expression-form rewrites
      val st  = ev.where(col("event_id") < 800)
        .groupBy(col("user_id")).agg(max(col("ts")).as("st"))
        .withColumnRenamed("user_id", "st_user_id")
      ev.join(broadcast(st), ev("user_id") === st("st_user_id"), "left")
        .where(col("ts") > col("st") || col("st").isNull)
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy(col("event_id"))
    }),

    // ── §2.3 backtrack window read ───────────────────────────────────────
    "q_backtrack_window" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val last = ev.agg(max(col("ts")).as("m"))
      ev.join(broadcast(last))
        .where(col("ts") >= col("m") - expr("INTERVAL 24 HOURS"))
        .select(col("event_id"), col("ts"), col("user_id"))
        .orderBy(col("event_id"))
    }),

    // ── §2.5 window dedup (keep-latest row_number) ───────────────────────
    "q_dedup_latest" -> ((s, d) =>
      Dedup.keepLatest(Tables.events(s, d),
          keys = Seq("user_id", "event_type"), orderBy = Seq("ts", "event_id"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))),

    "q_duplicate_counts" -> ((s, d) =>
      Dedup.duplicateCounts(Tables.events(s, d), Seq("user_id", "event_type"))
        .orderBy(col("user_id"), col("event_type"))),

    // ── §2.6 sort / limit / top-k ────────────────────────────────────────
    "q_topk" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("value"))
        .orderBy(col("value").desc, col("event_id"))
        .limit(100)),

    // ── §2.7 set ops: chunked-scan union ─────────────────────────────────
    "q_union_chunks" -> ((s, d) => {
      val ev     = Tables.events(s, d)
      val split  = lit(ts("2024-01-15 00:00:00"))
      val chunk1 = ev.where(col("ts") < split)
      val chunk2 = ev.where(col("ts") >= split)
      chunk1.unionByName(chunk2)
        .select(col("event_id"), col("ts"), col("user_id"))
        .orderBy(col("event_id"))
    }),

    // ── §2.11 clear (delete half-open range) ─────────────────────────────
    "q_clear_range" -> ((s, d) => {
      val b = lit(ts("2024-01-10 00:00:00"))
      val e = lit(ts("2024-01-20 00:00:00"))
      Tables.events(s, d)
        .where(!(col("ts") >= b && col("ts") < e))
        .select(col("event_id"), col("ts"))
        .orderBy(col("event_id"))
    }),

    // ── §2.8 scalar functions ────────────────────────────────────────────
    "q_round_time" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(RoundTime.floor(col("ts"), "hour").as("hour_ts"))
        .agg(count(lit(1)).as("cnt"),
             sum(dec(col("value"), 18, 2)).cast(DoubleType).as("sum_value"))
        .orderBy(col("hour_ts"))),

    "q_epoch_micros" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), RoundTime.epochMicros(col("ts")).as("ts_us"))
        .orderBy(col("event_id"))),

    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy(col("event_id"))),

    "q_decimal_quantize" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sum(dec(col("value"), 18, 4)).cast(DoubleType).as("sum_value"),
             min(dec(col("value"), 18, 4)).cast(DoubleType).as("min_value"),
             max(dec(col("value"), 18, 4)).cast(DoubleType).as("max_value"))
        .orderBy(col("event_type"))),

    // ── §2.8 dtype canonicalizer kit: uuid / bytes / geometry ────────────
    // uuid: bare uppercase hex in → canonical lowercase hyphenated out;
    // bytes: base64 + hex + round-trip; geometry: WKT → WKB → WKT round
    // trip compared against an independently string-built WKT (DuckDB has
    // no WKB parser offline; the WKB byte layout itself is pinned by known
    // OGC vectors in DtypeFnsSpec).
    "q_dtype_canonical" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val bin = col("event_type").cast("binary")
      val wktIn = concat(lit("POINT ("), col("user_id"), lit(" "),
        pmod(col("event_id"), lit(100)), lit(")"))
      ev.select(
          col("event_id"),
          graft.functions.DtypeFns.uuidCanonical(
            upper(md5(col("event_id").cast("string")))).as("uuid_c"),
          graft.functions.DtypeFns.bytesToBase64(bin).as("b64"),
          graft.functions.DtypeFns.bytesToHex(bin).as("hx"),
          graft.functions.DtypeFns.base64ToBytes(
            graft.functions.DtypeFns.bytesToBase64(bin)).cast("string").as("rt"),
          graft.functions.DtypeFns.wkbToWkt(
            graft.functions.DtypeFns.wktToWkb(wktIn)).as("wkt_rt"))
        .orderBy(col("event_id"))
    }),

    // ── HTTP instance e2e: the reference's remote-instance deployment
    // shape (api connector as the pipes backend, connectors/api/_pipes.py:
    // 368-489 client vs meerschaum/api server). The SAME two-batch sync as
    // q_sync_pipe_e2e, but every store call crosses a live PipeServer —
    // executor-parallel staged uploads, one commit per patch, ND-JSON +
    // DDL schema on the wire. Result must be byte-identical to the local
    // parquet run, so the oracle is the same SQL.
    "q_api_instance_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_api_e2e").toString
      val srvDir = java.nio.file.Files.createTempDirectory("graft_api_srv").toString
      val srv = new graft.server.PipeServer(s, srvDir)
      try {
        val eng = new SyncEngine(s, root,
          storeFactory = graft.storage.ApiStore.factory(srv.url))
        val spec = PipeSpec(PipeKeys("api", "instance_e2e"),
          columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
        val ev = Tables.events(s, d)
        eng.sync(spec, ev.where(col("event_id") < 700))
        eng.sync(spec, ev.where(col("event_id") >= 500)
          .withColumn("value", col("value") + 1000))
        eng.getData(spec)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                  col("value"), col("props"))
          .orderBy(col("event_id"))
          .localCheckpoint(true) // materialized before the server stops
      } finally srv.stop()
    }),

    // ── Valkey instance e2e: the reference's KV-instance deployment shape
    // (valkey connector as the pipes backend, connectors/valkey/_pipes.py:
    // 37-139). The SAME two-batch sync as q_sync_pipe_e2e, but every store
    // call crosses a live RESP server — pipelined executor-parallel ZADD,
    // score-bounded zrangebyscore reads, token lease. Result must be
    // byte-identical to the local parquet run, so the oracle is the same
    // SQL.
    // ── §2.11 the JDBC instance backend end-to-end — the reference's
    // PRIMARY instance-connector shape (SQLConnector): pipes as database
    // tables, staged-MERGE upserts, MAX/MIN sync-time pushdown. Two
    // overlapping batches through the full sync pipeline against embedded
    // Derby, read back through the store.
    "q_jdbc_instance_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jdbc_e2e").toString
      val db = "ge2e" + java.lang.Integer.toHexString(root.hashCode)
      val eng = new SyncEngine(s, root,
        storeFactory = graft.storage.JdbcStore.factory(
          s"jdbc:derby:memory:$db;create=true",
          varcharCols = Map("event_type" -> 32)))
      val spec = PipeSpec(PipeKeys("jdbc", "instance_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d)
      eng.sync(spec, ev.where(col("event_id") < 700))
      eng.sync(spec, ev.where(col("event_id") >= 500)
        .withColumn("value", col("value") + 1000))
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    "q_valkey_instance_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_vk_e2e").toString
      val srv = new graft.kv.MiniValkey()
      try {
        val eng = new SyncEngine(s, root,
          storeFactory = graft.storage.ValkeyStore.factory(srv.host, srv.port))
        val spec = PipeSpec(PipeKeys("valkey", "instance_e2e"),
          columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
        val ev = Tables.events(s, d)
        eng.sync(spec, ev.where(col("event_id") < 700))
        eng.sync(spec, ev.where(col("event_id") >= 500)
          .withColumn("value", col("value") + 1000))
        eng.getData(spec)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                  col("value"), col("props"))
          .orderBy(col("event_id"))
          .localCheckpoint(true) // materialized before the server stops
      } finally srv.stop()
    }),

    // ── §3.1/§3.2 the full sync pipeline end-to-end ──────────────────────
    // Two overlapping batches through SyncEngine (diff → unseen/update →
    // chunk-scoped upsert into parquet storage), read back via getData.
    "q_sync_pipe_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_e2e").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "sync_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d)
      eng.sync(spec, ev.where(col("event_id") < 700))
      eng.sync(spec, ev.where(col("event_id") >= 500)
        .withColumn("value", col("value") + 1000))
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    "q_sync_upsert_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_e2e").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "sync_upsert_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")),
        upsert = true)
      val ev = Tables.events(s, d)
      eng.sync(spec, ev.where(col("event_id") < 600))
      eng.sync(spec, ev.where(col("event_id") >= 300)
        .withColumn("event_type", upper(col("event_type"))))
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    // ── fleet sync e2e: N pipes fetch+sync CONCURRENTLY through the worker
    // pool (reference --workers parallelism); each shard source yields one
    // user_id residue class, so the union of the synced pipes must equal
    // the events table exactly. Per-pipe failures would surface as missing
    // rows → hash mismatch.
    "q_fleet_sync" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_fleet").toString
      val eng  = new SyncEngine(s, root)
      val shards = 4
      val jobs = (0 until shards).map { i =>
        val spec = PipeSpec(PipeKeys("fleet", s"shard$i"),
          columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
        val src = new graft.sources.FnSource((sp, _, _, _) =>
          Tables.events(sp, d).where(pmod(col("user_id"), lit(shards)) === i))
        (spec, src)
      }
      val res = eng.fetchSyncMany(jobs, workers = shards)
      val failed = res.collect { case (k, Left(e)) => s"$k: ${e.getMessage}" }
      require(failed.isEmpty, s"fleet sync failures: ${failed.mkString("; ")}")
      jobs.map { case (spec, _) => eng.getData(spec) }
        .reduce(_.unionByName(_))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    // ── §2.3 blind-insert sync (check_existing=false): the append-only
    // fast path — no backtrack read, no diff; two disjoint batches land
    // exactly once each. O(batch) writes, zero reads of existing data.
    "q_sync_blind_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_blind").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("blind", "sync_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      eng.sync(spec, ev.where(col("event_id") % 2 === 0), checkExisting = false)
      eng.sync(spec, ev.where(col("event_id") % 2 === 1), checkExisting = false)
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §1.1 pipe DAG (parents): raw → cleaned chain synced INCREMENTALLY.
    // The child's source is the parent pipe read through the storage
    // layer's partition-pruned bounded read; the second child sync re-reads
    // only from its sync time minus the backtrack window. Batches split on
    // the time axis so the incremental window covers all new rows (the
    // reference's late-data contract).
    "q_pipe_dag" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dag").toString
      val eng  = new SyncEngine(s, root)
      val parent = PipeSpec(PipeKeys("dag", "raw"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val child = PipeSpec(PipeKeys("dag", "clean"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")),
        parents = Seq(parent.keys))
      val src = new graft.sources.PipeSource(eng, parent,
        df => df.where(col("event_type") =!= "error")
                .withColumn("value", col("value") * 2))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"))
      val cut = lit(ts("2024-01-15 00:00:00"))
      eng.sync(parent, ev.where(col("ts") < cut))
      eng.fetchSync(child, src)
      eng.sync(parent, ev.where(col("ts") >= cut))
      eng.fetchSync(child, src)
      eng.getData(child)
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.1 SQL-definition (JDBC) source: the reference's primary ingest ─
    // Remote = embedded Derby seeded from the events table; the definition
    // is wrapped with pushed-down bounds + params and read with a
    // partitioned JDBC scan. Oracle applies the same filter to the
    // original table.
    "q_jdbc_definition_fetch" -> ((s, d) => {
      val url = "jdbc:derby:memory:graftq;create=true"
      Tables.events(s, d)
        .select(col("event_id").as("EVENT_ID"), col("ts").cast("timestamp").as("TS"),
                col("user_id").as("USER_ID"), col("event_type").as("ETYPE"),
                col("value").as("VAL"))
        .coalesce(4) // bounded writer concurrency against the embedded DB
        .write.mode("overwrite")
        .option("createTableColumnTypes", "ETYPE VARCHAR(32)")
        .option("batchsize", "10000")
        .jdbc(url, "EVENTS", new java.util.Properties)
      val spec = PipeSpec(PipeKeys("jdbc", "events"),
        columns = ColumnRoles(Map("datetime" -> "TS")))
      val src = new graft.sources.SqlDefinitionSource(
        url, "SELECT * FROM EVENTS", numPartitions = 4)
      src.fetch(s, spec,
          begin = Some(java.time.LocalDateTime.parse("2024-01-05T00:00:00")),
          end   = Some(java.time.LocalDateTime.parse("2024-01-20T00:00:00")),
          params = Map("ETYPE" -> Seq("click", "view"),
                       "USER_ID" -> ParamsFilter.Not(3L)))
        .select(col("EVENT_ID").as("event_id"),
                col("TS").cast("timestamp_ntz").as("ts"),
                col("USER_ID").as("user_id"), col("ETYPE").as("event_type"),
                col("VAL").as("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.3 per-id as-of incremental fetch through the ENGINE (join_fetch)
    // The pipe holds events below id 800; joinFetchSync embeds each user's
    // max(ts) as a remote VALUES join and pulls only newer/new-user rows.
    "q_join_fetch_incremental" -> ((s, d) => {
      val url = "jdbc:derby:memory:graftjf;create=true"
      val up = Tables.events(s, d)
        .select(col("event_id").as("EVENT_ID"), col("ts").as("TS"),
                col("user_id").as("USER_ID"), col("event_type").as("ETYPE"),
                col("value").as("VAL"))
      up.withColumn("TS", col("TS").cast("timestamp"))
        .coalesce(4) // bounded writer concurrency against the embedded DB
        .write.mode("overwrite")
        .option("createTableColumnTypes", "ETYPE VARCHAR(32)")
        .option("batchsize", "10000")
        .jdbc(url, "EVENTS", new java.util.Properties)
      val root = java.nio.file.Files.createTempDirectory("graft_jf").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("jdbc", "join_fetch"),
        columns = ColumnRoles(Map(
          "datetime" -> "TS", "id" -> "USER_ID", "primary" -> "EVENT_ID")))
      eng.sync(spec, up.where(col("EVENT_ID") < 800))
      val src = new graft.sources.SqlDefinitionSource(url, "SELECT * FROM EVENTS")
      // default maxIds=250: at sf0.01 (150 users) the VALUES join pushes to
      // the remote; past the heuristic the engine falls back to the
      // broadcast-filtered full read with identical results
      eng.joinFetchSync(spec, src)
      eng.getData(spec)
        .select(col("EVENT_ID").as("event_id"),
                col("TS").cast("timestamp_ntz").as("ts"),
                col("USER_ID").as("user_id"), col("ETYPE").as("event_type"),
                col("VAL").as("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.5/§2.11 deduplicate as a maintenance op on the STORED pipe ────
    // Plant duplicates via raw appends (bypassing the sync diff), then
    // rank-and-rebuild only the chunks that lose rows.
    "q_deduplicate_pipe" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dedup").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "dedup_pipe"),
        columns = ColumnRoles(Map(
          "datetime" -> "ts", "id" -> "user_id", "seq" -> "event_id")))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val store = eng.storage(spec)
      store.create(ev, cluster = false) // monthlong span: 1-2 chunks
      store.append(ev.where(col("event_id") % 5 === 0)
        .withColumn("value", col("value") + 1000))
      eng.deduplicate(spec, extraOrder = Seq("value"))
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.11 compact: many small incremental files → one per chunk,
    // data byte-identical (file-count drop asserted in unit tests).
    "q_compact_roundtrip" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "compact"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("value"))
      // five raw appends leave many small files per chunk (sync-level diff
      // behavior is covered elsewhere; compaction is the op under test)
      val store = eng.storage(spec)
      store.create(ev.where(col("event_id") % 5 === 0), cluster = false)
      (1 until 5).foreach { i => store.append(ev.where(col("event_id") % 5 === i)) }
      store.compact()
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.11 repartition: re-chunk storage after the spec's chunk width
    // changes (reference Pipe.repartition) — monthly chunks rewritten under
    // daily labels in one clustered pass; bounded reads stay label-prunable.
    "q_repartition_op" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_repart").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "repart"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      eng.sync(spec, ev)
      val daily = spec.copy(chunkMinutes = 1440)
      graft.ops.Maintenance.repartition(eng, daily)
      eng.getData(daily)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.11 copy_to: pipe → pipe copy via idempotent sync ─────────────
    "q_copy_pipe" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_copy").toString
      val eng  = new SyncEngine(s, root)
      val a = PipeSpec(PipeKeys("verify", "copy_src"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val b = PipeSpec(PipeKeys("verify", "copy_dst"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("user_id"))
      eng.sync(a, ev)
      graft.ops.Maintenance.copyTo(eng, a, b)
      eng.getData(b)
        .select(col("event_id"), col("ts"), col("user_id"))
        .orderBy(col("event_id"))
    }),

    // ── §2.9 verify/backfill: windowed rowcount compare + bounded re-sync ─
    // Clear a 5-day hole, verify against the source: one windowed aggregate
    // per side finds the mismatched chunks, one re-sync bounded to exactly
    // those chunks repairs them.
    "q_verify_backfill" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_verify").toString
      val eng  = new SyncEngine(s, root)
      // default 30-day chunks/windows: one mismatched window, two chunk
      // rewrites (daily granularity is covered by SyncEngineSpec)
      val spec = PipeSpec(PipeKeys("verify", "backfill"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      eng.sync(spec, ev)
      eng.storage(spec).clear(
        col("ts") >= lit(ts("2024-01-10 00:00:00")) &&
        col("ts") <  lit(ts("2024-01-15 00:00:00")))
      // daily compare windows bound the re-sync to the 5 damaged days while
      // storage keeps its coarse monthly chunks
      graft.ops.Maintenance.verify(eng, spec, ev, windowMinutes = Some(1440))
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.8/§3 integer-epoch datetime axis end-to-end ───────────────────
    // The same sync pipeline on an epoch-second axis (precision unit flows
    // through bounds, backtrack envelope, and chunk labels).
    "q_sync_epoch_e2e" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_epoch").toString
      val eng  = new SyncEngine(s, root)
      // default 30-day chunks: a monthlong batch touches 1-2 partitions, not
      // 30 (daily-chunk layout is covered by SyncEngineSpec)
      val spec = PipeSpec(PipeKeys("verify", "sync_epoch"),
        columns = ColumnRoles(Map("datetime" -> "ts_s", "primary" -> "event_id")),
        epochUnit = Some("second"))
      val ev = Tables.events(s, d).withColumn("ts_s",
          expr("unix_micros(cast(ts as timestamp)) div 1000000"))
        .select(col("event_id"), col("ts_s"), col("user_id"), col("value"))
      eng.sync(spec, ev.where(col("event_id") < 700))
      eng.sync(spec, ev.where(col("event_id") >= 500)
        .withColumn("value", col("value") + 1000))
      eng.getData(spec)
        .select(col("event_id"), col("ts_s"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.9 streaming sync: file micro-batches → foreachBatch merge ─────
    // Trigger.AvailableNow drains the source; every batch runs the same
    // idempotent diff+merge as batch sync, so the drained pipe equals the
    // source table exactly.
    "q_streaming_sync_e2e" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "events_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // FileStreamSource requires a DIRECTORY; the testdata table is a single
      // parquet file, so stage it into a source dir first (copy, not move —
      // /root/testdata is read-only).
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(Tables.path(d, "events")),
        java.nio.file.Paths.get(s"$srcDir/events.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val q = graft.streaming.StreamingSync.run(eng, spec, stream, s"$root/ckpt",
        transform = df => Tables.naiveTimestamps(Tables.normalizeEventsTs(df)))
      q.awaitTermination()
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    // ── §2.9 RESTART-RECOVERY e2e — the streaming failure mode a 100 TB
    // ingest hits weekly (the reference's daemons restart jobs routinely,
    // meerschaum/jobs/_Job.py:69+): a streaming sync KILLED mid-run must
    // resume from its checkpoint — same query id, offset log continued —
    // not reprocess from batch 0, and a file redelivered after the restart
    // must dedup through the diff sink. Phase 1 drains a partial backlog
    // (2 of 4 quarter files, one file per micro-batch) and is stopped from
    // a SEPARATE thread as soon as its first batch commits — an in-flight
    // kill raced against batch 2, not a clean drain. Phase 2 reuses the
    // SAME checkpoint dir over a source that gained the remaining quarters
    // PLUS a byte-identical re-upload of a phase-1 file under a new name
    // (FileStreamSource tracks file NAMES, so the copy IS reprocessed).
    // Whatever the kill landed on — batch 1 only, or both — the final
    // table must equal the events table EXACTLY once. The checkpoint
    // query-id/offset-log continuity is asserted in StreamingRestartSpec.
    "q_streaming_restart_e2e" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "restart_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      val ev = Tables.events(s, d) // ts already normalized to NTZ
      // Stage several quarter files in ONE partitionBy write (guide §6 /
      // r15 verdict item 1: batch the staging writes): each quarter's
      // rows hash to one shuffle partition, so every __q directory holds
      // exactly one parquet file carrying ev's schema (partitionBy drops
      // the synthetic column from the file). Two write jobs for four
      // staged files instead of four coalesce(1) jobs. The quarters'
      // ARRIVAL protocol is unchanged — q2/q3 still land only after the
      // phase-1 kill.
      def stageQuarters(qs: Seq[Int], names: Map[Int, String]): Unit = {
        val tmp = s"$root/stage_${qs.mkString("_")}"
        ev.where(pmod(col("event_id"), lit(4)).isin(qs.map(_.toLong): _*))
          .withColumn("__q", pmod(col("event_id"), lit(4)))
          .repartition(col("__q"))
          .write.partitionBy("__q").mode("overwrite").parquet(tmp)
        qs.foreach { i =>
          val f = stagedQuarterFile(tmp, i)
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$srcDir/${names(i)}"))
        }
      }
      stageQuarters(Seq(0, 1), Map(0 -> "q0.parquet", 1 -> "q1.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val ckpt = s"$root/ckpt"
      def mkStream = graft.streaming.StreamingSync.parquetStream(
        s, srcDir, schema, maxFilesPerTrigger = Some(1))
      // phase 1: kill posted from a separate thread after the FIRST commit
      val qRef = new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.streaming.StreamingQuery]()
      val stopOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q1 = graft.streaming.StreamingSync.run(eng, spec, mkStream, ckpt,
        onBatch = _ => if (stopOnce.compareAndSet(false, true)) {
          val t = new Thread(() => {
            var q = qRef.get()
            while (q == null) { Thread.sleep(5); q = qRef.get() }
            q.stop()
          }, "graft-restart-killer")
          t.setDaemon(true); t.start()
        })
      qRef.set(q1)
      // stop() surfaces as normal termination; a kill that catches batch 2
      // mid-write may surface as a StreamingQueryException — both are the
      // crash being simulated, so both fall through to the restart
      try q1.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      // phase 2: the rest of the backlog + a redelivered phase-1 file,
      // resumed from the SAME checkpoint dir
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$srcDir/q1.parquet"),
        java.nio.file.Paths.get(s"$srcDir/q1_redelivered.parquet"))
      stageQuarters(Seq(2, 3), Map(2 -> "q2.parquet", 3 -> "q3.parquet"))
      val q2 = graft.streaming.StreamingSync.run(eng, spec, mkStream, ckpt)
      q2.awaitTermination()
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    // ── Streaming content dedup e2e: the corpus is delivered TWICE (two
    // staged files → redelivery across micro-batches); content fingerprints
    // dedup IN-STREAM (watermark-bounded state — O(fps inside the window),
    // never history), survivors blind-append to the pipe (no per-batch diff
    // read of the target). In-corpus duplicate texts collapse along with
    // the redelivery, so the result is each distinct fingerprint once.
    "q_streaming_dedup_e2e" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "dedup_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      for (i <- 1 to 2)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(Tables.path(d, "documents")),
          java.nio.file.Paths.get(s"$srcDir/documents_$i.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      // synthetic event times start a day after epoch: a row AT epoch 0
      // sits exactly on the stream's initial watermark and is culled as late
      val deduped = graft.streaming.StreamingSync.withWatermarkDedup(
        stream
          .withColumn("ts",
            timestamp_micros((col("doc_id") * 60L + 86400L) * 1000000L))
          .withColumn("fp", TextFns.fingerprint(col("text"))),
        "ts", Seq("fp"), delay = "1 minute")
        .select(col("ts"), col("fp"))
      val q = graft.streaming.StreamingSync.run(eng, spec, deduped, s"$root/ckpt",
        checkExisting = false)
      q.awaitTermination()
      eng.getData(spec).select(col("fp")).orderBy(col("fp"))
    }),

    // ── Streaming MULTIMODAL ingest dedup e2e: media payloads (opaque
    // binary) delivered twice across micro-batches; each row reduces to
    // its sha-256 on the scan (payload bytes never enter state or the
    // sink), duplicates collapse in-stream against watermark-bounded
    // state, survivors blind-append. The multimodal row of the streaming
    // dedup family — same state bound, binary payload column.
    "q_streaming_media_dedup" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_smedia").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "media_dedup_e2e"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      for (i <- 1 to 2)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(Tables.path(d, "documents")),
          java.nio.file.Paths.get(s"$srcDir/documents_$i.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val deduped = graft.streaming.StreamingSync.withWatermarkDedup(
        stream
          .withColumn("ts",
            timestamp_micros((col("doc_id") * 60L + 86400L) * 1000000L))
          .withColumn("payload", col("text").cast("binary"))
          .withColumn("content_sha256", sha2(col("payload"), 256)),
        "ts", Seq("content_sha256"), delay = "1 minute")
        .select(col("ts"), col("content_sha256"))
      val q = graft.streaming.StreamingSync.run(eng, spec, deduped, s"$root/ckpt",
        checkExisting = false)
      q.awaitTermination()
      eng.getData(spec).select(col("content_sha256")).orderBy(col("content_sha256"))
    }),

    // ── LLM-pipeline: STREAMING embedding probe — arriving vectors stamp
    // their SRP signature in-stream (native projection, zero shuffle),
    // band-join the STORED SRP index (stream-static), and exact-cosine
    // verify against the static vector table (second stream-static join).
    // Re-embeds of every 5th vector arrive under new ids, redelivered
    // twice; the sink dedups. The semantic-decontamination machinery run
    // AT INGEST against an index built once.
    // ── LLM-pipeline: STREAMING LM-quality probe — arriving docs score
    // IN-STREAM against the STORED trigram model (model pipes trained on
    // the historical corpus, folded once, checkpointed; each micro-batch
    // runs the batch scorer via foreachBatch's transform). Re-deliveries
    // dedup in-batch (dropDuplicates) and at the sink (distinct) — the
    // score is deterministic, so replays are exact duplicates. Oracle:
    // cross-table trigram score (model = corpus, scored = arrivals).
    "q_streaming_lm_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_slm").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val buckets = 16
      def mSpec(name: String) = PipeSpec(PipeKeys("stream", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (sU, sB, sT) = (mSpec("lm_uni"), mSpec("lm_bi"), mSpec("lm_tri"))
      // shared tokenization for the three creates — see q_streaming_kn_probe
      val toks = graft.ops.Corpus.lmTokens(docs, "doc_id", "text")
        .localCheckpoint(true)
      val (u, b, t) = graft.ops.Corpus.trigramModelCountsFromToks(toks, buckets)
      // the three creates write DISJOINT pipes off the one checkpointed
      // token table — overlap their fixed write envelopes (guide §2.6)
      inParallel(
        () => { eng.storage(sU).create(u); () },
        () => { eng.storage(sB).create(b); () },
        () => { eng.storage(sT).create(t); () })
      ApproxDedup.freeCheckpoint(toks)
      // the three independent fold materializations AND the arriving-file
      // staging write (independent of the folds) overlap in one group
      var cf: DataFrame = null; var cvw: DataFrame = null; var cuvw: DataFrame = null
      var srcDir: String = null
      inParallel(
        () => cf   = graft.ops.Corpus.lmFoldUni(eng.getData(sU)).localCheckpoint(true),
        () => cvw  = graft.ops.Corpus.lmFoldBi(eng.getData(sB)).localCheckpoint(true),
        () => cuvw = graft.ops.Corpus.lmFoldTri(eng.getData(sT)).localCheckpoint(true),
        // arriving docs: every 5th doc re-enters under a new id, ×2
        () => srcDir = stageArrivals(
          docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 20000L).as("doc_id"), col("text")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "lm_scores"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.Corpus.trigramScoreWithModel(
            batch.dropDuplicates("doc_id"), "doc_id", "text", cf, cvw, cuvw,
            lambda3 = 0.5, lambda2 = 0.3)
          .withColumn("ts", timestamp_micros(
            (col("doc_id") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("doc_id"), col("n_tokens"), col("logprob_micro"), col("xent"))
        .distinct().orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: STREAMING NB-classifier gate — arriving docs are
    // classified IN-STREAM against the STORED Naive-Bayes model (count
    // pipes trained on the historical corpus, folded once, checkpointed;
    // each micro-batch runs the batch classifier via foreachBatch's
    // transform). Re-deliveries dedup in-batch + at the sink — the
    // prediction is deterministic, so replays are exact duplicates.
    // Oracle: cross-table NB (model = corpus, scored = arrivals).
    "q_streaming_nb_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_snb").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val cSpec = PipeSpec(PipeKeys("stream", "nb_classes"),
        columns = ColumnRoles(Map("datetime" -> "batch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val tSpec = PipeSpec(PipeKeys("stream", "nb_tokens"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (cls0, toks0) = graft.ops.Classify.nbCounts(docs, "source", "text", 16)
      // disjoint-pipe creates + folds overlapped (guide §2.6)
      inParallel(
        () => { eng.storage(cSpec).create(cls0.withColumn("batch", lit(0L))); () },
        () => { eng.storage(tSpec).create(toks0); () })
      var cls: DataFrame = null; var toks: DataFrame = null
      var srcDir: String = null
      inParallel(
        () => cls = graft.ops.Classify.nbFoldClasses(
          eng.getData(cSpec).select(col("label"), col("n_docs")))
          .localCheckpoint(true),
        () => toks = graft.ops.Classify.nbFoldTokens(eng.getData(tSpec))
          .localCheckpoint(true),
        // arriving docs: every 5th doc under a new id, delivered twice
        () => srcDir = stageArrivals(
          docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 20000L).as("doc_id"), col("source"),
              col("text")), root))
      val v = toks.select(col("token")).distinct().count()
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "nb_preds"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.Classify.nbClassify(
            batch.dropDuplicates("doc_id"), "doc_id", "source", "text",
            cls, toks, v)
          .withColumn("ts", timestamp_micros(
            (col("doc_id") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("doc_id"), col("actual"), col("predicted"), col("score_micro"))
        .distinct().orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: STREAMING novelty probe — arriving docs score their
    // shingle novelty IN-STREAM against the STORED reference-gram index
    // (gram pipe built once from the historical even-id corpus, fold
    // checkpointed; each micro-batch runs the index probe via
    // foreachBatch's transform). Re-deliveries dedup in-batch + at the
    // sink — the score is deterministic, so replays are exact duplicates.
    "q_streaming_novelty_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_snov").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val gSpec = PipeSpec(PipeKeys("stream", "ref_grams"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // index create and staging write are independent — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(gSpec).create(graft.ops.TextStats.gramIndexBatch(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 3,
          buckets = 8)); () },
        // arrivals: every 5th doc re-enters under a new id, delivered twice
        () => srcDir = stageArrivals(
          docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 20000L).as("doc_id"), col("text")), root))
      val grams = eng.getData(gSpec).select(col("h")).distinct()
        .localCheckpoint(true)
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "novelty_scores"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.TextStats.ngramNoveltyAgainstIndex(
            batch.dropDuplicates("doc_id"), "doc_id", "text", n = 3, grams)
          .withColumn("ts", timestamp_micros(
            (col("doc_id") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty_micro"))
        .distinct().orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: STREAMING blocklist gate — arriving docs pass the
    // Aho–Corasick automaton IN-STREAM (scan-local projection, the
    // automaton rides once per executor in the task binary): the C4-style
    // safety gate run AT INGEST instead of as a backfill. Re-deliveries
    // dedup in-batch + at the sink (the gate is deterministic).
    "q_streaming_ac_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sac").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val srcDir = stageArrivals(
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text")), root)
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "ac_gate"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.Corpus.acBlocklistFilter(
            batch.dropDuplicates("doc_id"), "doc_id", "text", AcPatterns,
            maxHits = 2L)
          .withColumn("ts", timestamp_micros(
            (col("doc_id") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("doc_id"), col("n_hits"), col("n_patterns"), col("keep"))
        .distinct().orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: STREAMING centroid-drift probe — arriving vectors
    // stamp their (cell, d_micro) assignment IN-STREAM (scan-local argmax
    // over the broadcast centroids); per-vector rows are deterministic,
    // so redelivery dedups with a distinct, and the drift trigger folds
    // the deduped rows into the same additive stats the batch pipe
    // stores. The retrain monitor fed AT INGEST.
    "q_streaming_drift_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sdrift").toString
      val eng  = new SyncEngine(s, root)
      val emb  = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
        "embedding", 16)
      val statsSpec = PipeSpec(PipeKeys("stream", "cell_stats"),
        columns = ColumnRoles(Map("datetime" -> "epoch")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // stats create and staging write are independent — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(statsSpec).create(SimilaritySearch.cellStatsBatch(
          emb.where(col("vec_id") % 2 === 0), "embedding", cents, 0L)); () },
        () => srcDir = stageArrivals(
          emb.where(col("vec_id") % 2 === 1)
            .select((col("vec_id") + 20000L).as("vec_id"), col("embedding")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "cell_assigns"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => SimilaritySearch.cellAssignRows(
            batch.dropDuplicates("vec_id"), "vec_id", "embedding", cents, 1L)
          .withColumn("ts", timestamp_micros(
            (col("vec_id") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      val streamedStats = SimilaritySearch.cellStatsFromAssigns(
        eng.getData(sinkSpec)
          .select(col("epoch"), col("vec_id"), col("cell"), col("d_micro"))
          .distinct())
      SimilaritySearch.centroidDriftFromStats(
        eng.getData(statsSpec).select("epoch", "cell", "n", "sd")
          .unionByName(streamedStats.select("epoch", "cell", "n", "sd")),
        k = 16, baseEpoch = 0L, curEpoch = 1L)
    }),

    // Streaming quantile-sketch maintenance: the base corpus's histogram
    // pipe is extended by per-micro-batch histograms of arriving docs
    // (re-deliveries dedup in-batch + at the sink — identical rows);
    // quantiles over the fold equal the full-corpus oracle because the
    // sketch is additive.
    "q_streaming_dd_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sdd").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val baseSpec = PipeSpec(PipeKeys("stream", "dd_base"),
        columns = ColumnRoles(Map("datetime" -> "octave")),
        epochUnit = Some("minute"), chunkMinutes = 16)
      // base-histogram create and staging write are independent (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(baseSpec).create(graft.ops.Sketches.ddSketchHistogram(
          docs.where(col("doc_id") % 2 === 0).select(col("n_chars").as("v")), "v")
          .localCheckpoint(true)); () },
        () => srcDir = stageArrivals(
          docs.where(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("n_chars")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "dd_batches"),
        columns = ColumnRoles(Map("datetime" -> "octave")),
        epochUnit = Some("minute"), chunkMinutes = 16)
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.Sketches.ddSketchHistogram(
          batch.dropDuplicates("doc_id").select(col("n_chars").as("v")), "v"))
      q.awaitTermination()
      val folded = graft.ops.Sketches.ddSketchFold(
        eng.getData(baseSpec).select("octave", "sub", "cnt")
          .unionByName(eng.getData(sinkSpec)
            .select("octave", "sub", "cnt").distinct()))
      graft.ops.Sketches.ddQuantiles(folded,
          qsMicro = Seq(250000L, 500000L, 750000L, 990000L))
        .orderBy(col("q_micro"))
    }),

    // Streaming KN-quality probe: arriving docs score against the stored
    // Kneser-Ney model (the KenLM inference path inside foreachBatch);
    // model pipes fold once and checkpoint, re-deliveries dedup in-batch
    // + at the sink (deterministic scores => exact duplicate rows).
    "q_streaming_kn_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_skn").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val buckets = 16
      def mSpec(name: String) = PipeSpec(PipeKeys("stream", name),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val (sU, sB, sT) = (mSpec("kn_uni"), mSpec("kn_bi"), mSpec("kn_tri"))
      // ONE tokenization pass shared by the three count-table writes
      // (was: each create re-tokenized the corpus through its lazy count
      // branch); released as soon as the writes land
      val toks = graft.ops.Corpus.lmTokens(docs, "doc_id", "text")
        .localCheckpoint(true)
      val (u, b, t) = graft.ops.Corpus.trigramModelCountsFromToks(toks, buckets)
      // disjoint-pipe writes + folds overlapped (guide §2.6) — see
      // q_streaming_lm_probe
      inParallel(
        () => { eng.storage(sU).create(u); () },
        () => { eng.storage(sB).create(b); () },
        () => { eng.storage(sT).create(t); () })
      ApproxDedup.freeCheckpoint(toks)
      var cf: DataFrame = null; var cvw: DataFrame = null; var cuvw: DataFrame = null
      var srcDir: String = null
      inParallel(
        () => cf   = graft.ops.Corpus.lmFoldUni(eng.getData(sU)).localCheckpoint(true),
        () => cvw  = graft.ops.Corpus.lmFoldBi(eng.getData(sB)).localCheckpoint(true),
        () => cuvw = graft.ops.Corpus.lmFoldTri(eng.getData(sT)).localCheckpoint(true),
        () => srcDir = stageArrivals(
          docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 20000L).as("doc_id"), col("text")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "kn_scores"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.Corpus.knScoreWithModel(
            batch.dropDuplicates("doc_id"), "doc_id", "text", cf, cvw, cuvw,
            discount = 0.75)
          .withColumn("ts", timestamp_micros(
            (col("doc_id") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("doc_id"), col("n_tokens"), col("logprob_micro"), col("xent"))
        .distinct().orderBy(col("doc_id"))
    }),

    // ── STREAMING graph-ANN probe: arriving query vectors (re-embeds under
    // shifted ids, delivered twice) run the BATCHED beam search against the
    // STORED neighbor graph inside foreachBatch — the ingest-time serving
    // path for the q_hnsw family. Redelivered rows are deterministic
    // (frontier evolution is a pure function of the stored graph), so the
    // blind-append sink dedups by distinct at read; the oracle replays the
    // per-qid frontier evolution with the id shift.
    "q_streaming_hnsw_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_shp").toString
      val eng  = new SyncEngine(s, root)
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding",
        HnswCents)
      val idxSpec = PipeSpec(PipeKeys("stream", "hnsw_edges"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val entSpec = PipeSpec(PipeKeys("stream", "hnsw_entries"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val buildCells = graft.ops.GraphAnn.withBuildCells(emb, "vec_id",
        "embedding", cents, HnswNpBuild).localCheckpoint(true)
      // edge create, entry create, and staging write touch disjoint
      // targets off the one checkpointed cohort frame — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(idxSpec).create(graft.ops.GraphAnn.edgeBatch(
          buildCells, None, HnswM, HnswBuckets, HnswCellCap)); () },
        () => { eng.storage(entSpec).create(
          graft.ops.GraphAnn.entryBatch(buildCells, cents)); () },
        () => srcDir = stageArrivals(
          emb.where(col("vec_id") % 100 === 0)
            .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")), root))
      val adj = graft.ops.GraphAnn.foldAdjacency(
        eng.storage(idxSpec).read, HnswM, HnswCellCap).localCheckpoint(true)
      // entry seeds read ONCE from the stored entry pipe at stream setup —
      // ≤ |cells| ids, the bounded-collect discipline of every stored probe
      val entries = graft.ops.GraphAnn.entryIds(
        graft.ops.GraphAnn.foldEntries(eng.storage(entSpec).read))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sinkSpec = PipeSpec(PipeKeys("stream", "hnsw_hits"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => graft.ops.GraphAnn.beamSearchBatch(adj, batch,
            "vec_id", "embedding", entries, HnswEf, HnswHops, HnswK)
          .withColumn("ts", timestamp_micros(
            (col("qid") * lit(60L) + lit(86400L)) * lit(1000000L))))
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("qid"), col("id"), col("cosine"), col("rank"))
        .distinct().orderBy(col("qid"), col("rank"))
    }),

    // ── STREAMING MinHash band-index MAINTENANCE — arriving docs keep the
    // LSH dedup index fresh at ingest: the per-batch transform is the
    // band-index projection (shingle → minhash → band rows), blind-appended
    // into the bucket-chunked pipe; band rows are row-local (fold = union
    // ≡ rebuild) and the probe's candidate distinct collapses redelivered
    // duplicates. The probe is the stored pruned path (≤ bands bucket
    // dirs + exact shingle verify) against a doc that itself ARRIVED via
    // the stream — same oracle as the batch index sync.
    "q_streaming_minhash_maintain" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_smhm").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val qid  = 45L
      def index(df: DataFrame) = ApproxDedup.minhashBandIndex(
        df, "doc_id", "text", shingleSize = 3, k = 24, bands = 6, buckets = 4)
      val spec = PipeSpec(PipeKeys("stream", "mh_maint"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // the stored-index create and the arriving-file staging write are
      // independent — overlap their envelopes (guide §2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(spec).create(index(docs.where(col("doc_id") % 2 === 0))); () },
        () => srcDir = stageArrivals(
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sq = graft.streaming.StreamingSync.run(eng, spec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => index(batch.dropDuplicates("doc_id")))
      sq.awaitTermination()
      probeStoredBandIndex(eng.storage(spec), docs, qid, index)
    }),

    // ── STREAMING video frame-hash index MAINTENANCE — arriving videos
    // keep the stored temporal-fingerprint (content-ID) index fresh at
    // ingest: the per-batch transform decodes the batch's videos and
    // blind-appends their per-frame aHash rows into the bucket-chunked
    // pipe. Rows are ROW-LOCAL ⇒ fold = union ≡ rebuild; redelivered
    // files append byte-identical rows the probe's distinct collapses.
    // Final probe = the stored bucket-pruned content-ID lookup, same
    // oracle as the batch index sync.
    "q_streaming_videohash_maintain" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_svhm").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val buckets = 16
      def index(df: DataFrame) =
        Media.videoFrameHashes(Media.fromDocuments(s, df)).toDF()
          .withColumn("bucket", pmod(col("fhash"), lit(buckets.toLong)))
      val spec = PipeSpec(PipeKeys("stream", "vh_maint"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "media_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // the stored-index create and the arriving-file staging write are
      // independent — overlap their envelopes (guide §2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(spec).create(index(docs.where(col("doc_id") % 2 === 0))); () },
        () => srcDir = stageArrivals(
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sq = graft.streaming.StreamingSync.run(eng, spec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => index(batch.dropDuplicates("doc_id")))
      sq.awaitTermination()
      probeStoredFrameHashIndex(s, eng.storage(spec), docs, buckets)
    }),

    // ── STREAMING IVF+PQ index MAINTENANCE — arriving vectors keep the
    // quantized index FRESH at ingest: the per-batch transform is two
    // stacked shuffle-free projections (nearest cell + m-byte PQ code),
    // blind-appended into the cell-chunked pipe; rows are ROW-LOCAL, so
    // fold = plain union ≡ rebuild and redelivered files append
    // byte-identical rows the probe's distinct collapses. The final probe
    // is the stored partition-pruned IVF+PQ path (nProbe cell dirs, ADC
    // candidates, exact rerank) — same oracle as the batch index sync.
    "q_streaming_ivfpq_maintain" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sivfpq").toString
      val eng  = new SyncEngine(s, root)
      val emb = Tables.embeddings(s, d)
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val cbs = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, ks = 16)
      def index(df: DataFrame) =
        SimilaritySearch.withPqCodes(
            SimilaritySearch.withIvfCell(df, "embedding", cents), "embedding", cbs)
          .select(col("vec_id"), col("embedding"), col("pq"),
            col("cell").cast("long").as("cell"))
      val spec = PipeSpec(PipeKeys("stream", "ivfpq_maint"),
        columns = ColumnRoles(Map("datetime" -> "cell", "id" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // the stored-index create and the arriving-file staging write are
      // independent — overlap their envelopes (guide §2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(spec).create(index(emb.where(col("vec_id") % 2 === 0))); () },
        () => srcDir = stageArrivals(
      emb.where(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sq = graft.streaming.StreamingSync.run(eng, spec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => index(batch.dropDuplicates("vec_id")))
      sq.awaitTermination()
      val probe = SimilaritySearch.ivfProbeCells(cents, qv, nProbe = 8)
      SimilaritySearch.pqTopK(
        eng.storage(spec).readIn(probe.map(_.toLong)).distinct(),
        "vec_id", "embedding", "pq", qv, cbs, k = 10, rerank = 50)
    }),

    // ── STREAMING graph-ANN index MAINTENANCE — the WRITE-path complement
    // of q_streaming_hnsw_probe: arriving vectors extend the STORED graph
    // at ingest. Each micro-batch builds its edge increment against the
    // CELL-CHUNKED NODE PIPE (history + prior batches — the same
    // sequential old-side rule as the batch increment), reading ONLY the
    // batch's touched cell dirs; edges blind-append through the sink,
    // entry/node rows through side appends. Redelivered files append
    // byte-identical rows, which the read-side distinct + fold collapse
    // (top-m/argmax mergeability over ANY covering family of candidate
    // subsets ⇒ fold ≡ full rebuild — so the oracle is the same
    // full-rebuild beam replay as q_hnsw_index_sync, at a different query).
    "q_streaming_hnsw_maintain" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_shm").toString
      val eng  = new SyncEngine(s, root)
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding",
        HnswCents)
      def cellsOf(df: DataFrame) = graft.ops.GraphAnn.withBuildCells(
        df, "vec_id", "embedding", cents, HnswNpBuild)
      val edgeSpec = PipeSpec(PipeKeys("stream", "hnsw_maint_edges"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val entSpec = PipeSpec(PipeKeys("stream", "hnsw_maint_entries"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // the CELL-CHUNKED NODE PIPE (r14's one `weak`, fixed): the old side
      // used to be a full self-edge SCAN + cohort recompute per micro-batch
      // — O(stored graph) however small the increment. Node rows persist
      // chunked by cohort cell, so each batch reads ONLY its touched
      // cells' node dirs (GraphAnn.nodeBatch Scaladoc has the algebra).
      val nodeSpec = PipeSpec(PipeKeys("stream", "hnsw_maint_nodes"),
        columns = ColumnRoles(Map("datetime" -> "cell")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // history half builds the initial graph + entries + node rows
      val histCells = cellsOf(emb.where(col("vec_id") % 2 === 0))
        .localCheckpoint(true)
      // three disjoint-pipe creates off the one checkpointed cohort frame
      // plus the independent staging write — overlap all four envelopes
      // (guide §2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(edgeSpec).create(graft.ops.GraphAnn.edgeBatch(
          histCells, None, HnswM, HnswBuckets, HnswCellCap)); () },
        () => { eng.storage(entSpec).create(
          graft.ops.GraphAnn.entryBatch(histCells, cents)); () },
        () => { eng.storage(nodeSpec).create(
          graft.ops.GraphAnn.nodeBatch(histCells)); () },
        // arriving half, delivered twice (redelivery)
        () => srcDir = stageArrivals(
          emb.where(col("vec_id") % 2 === 1)
            .select(col("vec_id"), col("embedding")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val q = graft.streaming.StreamingSync.run(eng, edgeSpec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = batch => {
          val newCells = cellsOf(batch.dropDuplicates("vec_id"))
            .localCheckpoint(true)
          // the batch's cohort cells — a bounded driver list (≤ nCentroids)
          val batchCells = newCells.select(col("cell")).distinct()
            .collect().map(_.getLong(0)).toSeq
          // old side from the NODE PIPE, reading ONLY the touched cells'
          // chunk dirs — never the corpus, never the full graph: every
          // cross pair joins on a shared cell ∈ batchCells, so old rows
          // outside them can't pair (pruning by the node's PRIMARY cell
          // alone would lose secondary-cell overlaps). Cells were
          // resolved at build time and ride in the rows — no recompute.
          val oldCells = graft.ops.GraphAnn.nodeCells(
            eng.storage(nodeSpec).readIn(batchCells))
          // localCheckpoint BEFORE the node append: the old side must be
          // the pre-batch store (a lazy read after the append would pair
          // the batch against itself and double-count new×new candidates)
          val inc = graft.ops.GraphAnn.edgeBatch(newCells, Some(oldCells),
            HnswM, HnswBuckets, HnswCellCap).localCheckpoint(true)
          // entry + node increments ride the same micro-batch (argmax /
          // row-local mergeability collapses redelivered duplicates);
          // direct store appends — tiny artifacts don't buy sync
          // envelopes; disjoint pipes, so the two appends overlap (§2.6)
          inParallel(
            () => { eng.storage(entSpec).append(
              graft.ops.GraphAnn.entryBatch(newCells, cents)); () },
            () => { eng.storage(nodeSpec).append(
              graft.ops.GraphAnn.nodeBatch(newCells)); () })
          inc
        })
      q.awaitTermination()
      // probe the maintained graph: fold over redelivery-dedup'd rows
      val queryId = 7L
      val qv = emb.where(col("vec_id") === queryId)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val adj = graft.ops.GraphAnn.foldAdjacency(
        eng.getData(edgeSpec).distinct(), HnswM, HnswCellCap)
        .localCheckpoint(true)
      val entries = graft.ops.GraphAnn.entryIds(
        graft.ops.GraphAnn.foldEntries(eng.getData(entSpec).distinct()))
      val top = graft.ops.GraphAnn.beamSearch(
        graft.ops.GraphAnn.expandFrom(adj, qv), entries,
        HnswEf, HnswHops, HnswK)
      s.createDataFrame(top).toDF("vec_id", "cosine")
    }),

    "q_streaming_embedding_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sep").toString
      val eng  = new SyncEngine(s, root)
      val emb = Tables.embeddings(s, d)
      val planes = SimilaritySearch.srpPlanes(dim = 64, nBits = 24)
      val bands = 6; val rBits = 4; val mask = (1L << rBits) - 1
      val buckets = 16
      def withBands(df: DataFrame, idAs: String) =
        df.select(col("vec_id").as(idAs),
            col("embedding").cast("array<double>").as("__v"),
            VectorFns.srpSignaturePlanes(col("embedding"), planes).as("sig"))
          .select(col(idAs), col("__v"), col("sig"),
            posexplode(array((0 until bands).map(b =>
              shiftright(col("sig"), b * rBits).bitwiseAND(lit(mask))): _*))
              .as(Seq("band", "bv")))
          .withColumn("bucket",
            col("band").cast("long") * lit(buckets.toLong) +
              pmod(col("bv"), lit(buckets.toLong)))
      val idxSpec = PipeSpec(PipeKeys("stream", "srp_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // index create and staging write are independent — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(idxSpec).create(
        withBands(emb, "vec_id").drop("__v")); () },
        () => srcDir = stageArrivals(
      emb.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sbands = withBands(stream, "sid").drop("bucket", "sig")
      val idx = eng.storage(idxSpec).read
        .select(col("vec_id").as("hist_id"), col("band"), col("bv"))
      val hist = emb.select(col("vec_id").as("hist_id"),
        col("embedding").cast("array<double>").as("__h"))
      val hits = sbands.join(idx, Seq("band", "bv"))
        .join(hist, Seq("hist_id"))
        .withColumn("cosine", VectorFns.cosine(col("__v"), col("__h")))
        .where(col("cosine") >= 0.99)
        .select(col("hist_id").as("corpus_id"), col("sid").as("bench_id"),
          col("cosine"),
          timestamp_micros((col("sid") * lit(60L) + lit(86400L)) * lit(1000000L))
            .as("ts"))
      val sinkSpec = PipeSpec(PipeKeys("stream", "srp_hits"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, hits,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("corpus_id"), col("bench_id"), col("cosine"))
        .distinct().orderBy(col("corpus_id"), col("bench_id"))
    }),

    // ── LLM-pipeline: STREAMING perceptual media probe — arriving
    // payloads hash per-partition IN-STREAM (mapPartitions, payloads
    // never shuffle), band-join the STORED perceptual index
    // (stream-static), and Hamming-verify from the stored hashes.
    // Re-uploads of every 3rd payload arrive under new ids, redelivered
    // twice; the sink dedups. Pigeonhole-exact at Hamming ≤ 3, so the
    // oracle is the direct cross-set formula.
    "q_streaming_media_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_smp").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val buckets = 16
      val idxSpec = PipeSpec(PipeKeys("stream", "media_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "media_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // index create and staging write are independent — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(idxSpec).create(
        Media.perceptualBands(Media.fromDocuments(s, docs), buckets)); () },
        () => srcDir = stageArrivals(
      docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val bands = Media.perceptualBands(Media.fromDocuments(s, stream), buckets)
        .withColumnRenamed("media_id", "sid")
        .withColumnRenamed("ahash", "sig")
        .drop("bucket")
      val idx = eng.storage(idxSpec).read
        .select(col("media_id").as("hist_id"), col("ahash").as("hist_sig"),
          col("band"), col("bv"))
      val hits = bands.join(idx, Seq("band", "bv"))
        .select(col("sid"), col("hist_id"),
          bit_count(col("sig").bitwiseXOR(col("hist_sig"))).as("hamming"),
          timestamp_micros((col("sid") * lit(60L) + lit(86400L)) * lit(1000000L))
            .as("ts"))
        .where(col("hamming") <= 3)
      val sinkSpec = PipeSpec(PipeKeys("stream", "media_hits"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, hits,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("sid"), col("hist_id"), col("hamming"))
        .distinct().orderBy(col("sid"), col("hist_id"))
    }),

    // ── §2.9 streaming near-dup probe AGAINST HISTORY e2e: arriving docs
    // stamp their MinHash bands IN-STREAM and stream-static join the
    // STORED band index of the corpus synced so far (the complement of
    // q_streaming_dedup_e2e, which only dedups within the stream window).
    // Candidates exact-verify per ROW (both shingle sets on the row after
    // a second stream-static join) — no streaming aggregate, no state;
    // redelivered files collapse in the keyed readback. Threshold 0.995
    // admits only set-identical twins, so banding recall is exactly 1 and
    // the batch oracle is deterministic.
    "q_streaming_neardup_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_snd").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val idxSpec = PipeSpec(PipeKeys("stream", "nd_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // index create and staging write are independent — overlap (§2.6);
      // staged arrivals are exact twins of every 3rd doc, the file
      // redelivered twice (at-least-once source semantics)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(idxSpec).create(ApproxDedup.minhashBandIndex(
          docs, "doc_id", "text", shingleSize = 3, k = 24, bands = 6,
          buckets = 4)); () },
        () => srcDir = stageArrivals(
          docs.where(col("doc_id") % 3 === 0)
            .select((col("doc_id") + lit(10000L)).as("doc_id"), col("text")), root))
      val histSh = docs.select(col("doc_id").as("hist_id"),
        array_distinct(TextFns.wordShingles(col("text"), 3)).as("hist_sh"))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val bands = ApproxDedup.minhashBandIndex(stream, "doc_id", "text",
          shingleSize = 3, k = 24, bands = 6, buckets = 4,
          keep = Seq(array_distinct(TextFns.wordShingles(col("text"), 3)).as("sh")))
        .withColumnRenamed("doc_id", "sid")
      val idx = eng.storage(idxSpec).read
        .select(col("doc_id").as("hist_id"), col("band"), col("bandHash"))
      val verified = bands.join(idx, Seq("band", "bandHash"))
        .join(histSh, Seq("hist_id"))
        .withColumn("jaccard",
          size(array_intersect(col("sh"), col("hist_sh"))).cast("double") /
          size(array_union(col("sh"), col("hist_sh"))).cast("double"))
        .where(col("jaccard") >= lit(0.995))
        .select(col("sid"), col("hist_id"), col("jaccard"),
          timestamp_micros((col("sid") * lit(60L) + lit(86400L)) * lit(1000000L)).as("ts"))
      val sinkSpec = PipeSpec(PipeKeys("stream", "nd_hits"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, verified,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("sid"), col("hist_id"), col("jaccard"))
        .distinct().orderBy(col("sid"), col("hist_id"))
    }),

    // ── LLM-pipeline: STREAMING triangle probe — arriving co-occurrence
    // EDGES (top-vocab token graph, the TextRank edge list — dense where
    // the near-dup graph is triangle-sparse) close triangles against the
    // STORED adjacency at ingest (two stream-static joins, no state): the
    // live "does this edge confirm a clique" signal next to the batch
    // q_triangle_index_sync. A file redelivered twice dedups at the sink
    // read (rows are a deterministic function of the edge). Oracle
    // enumerates the same arriving×stored² closure in SQL.
    "q_streaming_triangle_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_stri").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val canon = graft.ops.Corpus.tokenCoocEdges(docs, "doc_id", "text",
          vocabK = 60)
        .select(col("id1").as("a"), col("id2").as("b"),
          pmod(TextFns.md5Long60(concat_ws("#", col("id1"), col("id2"))),
            lit(2L)).as("par"))
        .localCheckpoint(true)
      val eSpec = PipeSpec(PipeKeys("stream", "tri_hist"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // index create and staging write are independent — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(eSpec).create(canon.where(col("par") === 0L)
        .select(pmod(TextFns.md5Long60(
            concat_ws("#", col("a"), col("b"))), lit(8L)).as("bucket"),
          col("a"), col("b"))); () },
        () => srcDir = stageArrivals(
      canon.where(col("par") === 1L).select(col("a"), col("b")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val hist = eng.storage(eSpec).read.select(col("a"), col("b"))
      val adj = hist.select(col("a").as("x"), col("b").as("y"))
        .union(hist.select(col("b").as("x"), col("a").as("y")))
      val closed = stream
        .join(adj.select(col("x").as("a"), col("y").as("c")), Seq("a"))
        .join(adj.select(col("x").as("b"), col("y").as("c")), Seq("b", "c"))
        .where(col("c") =!= col("a") && col("c") =!= col("b"))
        .select(col("a"), col("b"), col("c"),
          timestamp_micros((pmod(TextFns.md5Long60(
              concat_ws("#", col("a"), col("b"), col("c"))), lit(1000L)) *
            lit(60L) + lit(86400L)) * lit(1000000L)).as("ts"))
      val sinkSpec = PipeSpec(PipeKeys("stream", "tri_hits"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, closed,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("a"), col("b"), col("c"))
        .distinct().orderBy(col("a"), col("b"), col("c"))
    }),

    // ── LLM-pipeline: STREAMING simhash probe — arriving docs stamp their
    // signature with the per-row kernel (zero shuffle: legal in a stream
    // projection, the right ingest shape), band-join the STORED simhash
    // index (stream-static), and Hamming-verify from the index alone.
    // Doubled-text twins arrive with a file redelivered twice; the sink
    // dedups, so at-least-once delivery yields exactly-once hits. The
    // oracle is the direct cross-set bit_count formula.
    "q_streaming_simhash_probe" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_ssh").toString
      val eng  = new SyncEngine(s, root)
      val docs = Tables.documents(s, d)
      val buckets = 16
      val idxSpec = PipeSpec(PipeKeys("stream", "sh_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      // index create and staging write are independent — overlap (§2.6)
      var srcDir: String = null
      inParallel(
        () => { eng.storage(idxSpec).create(
        ApproxDedup.simhashBands(docs, "doc_id", "text", buckets)); () },
        () => srcDir = stageArrivals(
      docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + lit(10000L)).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")), root))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val sigs = stream.select(col("doc_id").as("sid"),
        ApproxDedup.simhashRow(col("text")).as("sig"))
      val bands = ApproxDedup.simhashBandsFromSig(sigs, "sid", "sig", buckets)
      val idx = eng.storage(idxSpec).read
        .select(col("doc_id").as("hist_id"), col("simhash").as("hist_sig"),
          col("band"), col("bv"))
      val hits = bands.join(idx, Seq("band", "bv"))
        .select(col("sid"), col("hist_id"),
          bit_count(col("simhash").bitwiseXOR(col("hist_sig"))).as("hamming"),
          timestamp_micros((col("sid") * lit(60L) + lit(86400L)) * lit(1000000L))
            .as("ts"))
        .where(col("hamming") <= 3)
      val sinkSpec = PipeSpec(PipeKeys("stream", "sh_hits"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      val q = graft.streaming.StreamingSync.run(eng, sinkSpec, hits,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(sinkSpec)
        .select(col("sid"), col("hist_id"), col("hamming"))
        .distinct().orderBy(col("sid"), col("hist_id"))
    }),

    // ── maintenance: derived-index STALENESS report — corpus ids missing
    // from a stored index (a sync that never ran) and orphaned index ids
    // (source rows cleared after indexing). The index here is a REAL
    // stored band pipe built over half the corpus plus one synthetic
    // orphan row, so both anti-join directions exercise against storage.
    "q_index_staleness" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_stale").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "stale_bands"),
        columns = ColumnRoles(Map("datetime" -> "bucket", "id" -> "doc_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val indexed = docs.where(col("doc_id") % 2 === 0)
        .unionByName(docs.where(col("doc_id") === 1)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      eng.storage(spec).create(
        ApproxDedup.simhashBands(indexed, "doc_id", "text", buckets = 16))
      graft.ops.Maintenance.indexStaleness(
          docs.select(col("doc_id")),
          eng.getData(spec).select(col("doc_id")), "doc_id")
        .orderBy(col("status"), col("doc_id"))
    }),

    // ── LLM-pipeline: pairwise Pearson correlation between quality
    // signals — the redundancy check before stacking signals into a
    // composite gate. Exact long moment sums in ONE aggregate pass; the
    // final r computes in double from those integers, floor-micro.
    "q_signal_correlation" -> ((s, d) =>
      graft.ops.Evaluation.signalCorrelation(
        Tables.documents(s, d).select(
          col("n_chars").cast("long").as("nc"),
          TextFns.tokenCount(col("text")).cast("long").as("nt"),
          TextFns.stopwordHits(col("text"), "en").cast("long").as("sw")),
        signals = Seq("nc", "nt", "sw"))
        .orderBy(col("sig_a"), col("sig_b"))),

    // ── LLM-pipeline: source-concentration Gini — the one-number
    // inequality check of the corpus's source mix; |sources|-row window,
    // exact integer arithmetic, floor-micro.
    "q_source_gini" -> ((s, d) =>
      graft.ops.Evaluation.sourceGini(Tables.documents(s, d), "source")),

    // ── maintenance: per-group exact percentile report — the ANALYZE
    // distribution keyed by event type; Spark's exact percentile uses the
    // same linear interpolation as quantile_cont, so the report replays
    // bit-for-bit. One grouped aggregate.
    "q_group_percentiles" -> ((s, d) =>
      graft.ops.Maintenance.groupPercentiles(Tables.events(s, d),
          "event_type", "value", ps = Seq(0.25, 0.5, 0.9))
        .orderBy(col("event_type"))),

    // ── relational: latest-N retention per key — materialize "keep each
    // user's newest 5 events" via the salted two-stage top-n (no
    // whole-user single-task funnel; composition equals one window
    // exactly — the same kernel as the per-group quota cap, ordered by
    // recency instead of quality).
    "q_retain_latest" -> ((s, d) =>
      graft.ops.Sampling.capPerGroup(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            RoundTime.epochMicros(col("ts")).as("ts_us")),
          "user_id", Seq(col("ts_us").desc, col("event_id").desc), n = 5,
          saltOn = col("event_id"), salts = 8)
        .orderBy(col("event_id"))),

    // ── relational: double-fire detection — events whose same-key
    // predecessor arrived within the tolerance (client retries, duplicate
    // webhooks); one keyed window, exact integer micro gaps, the SECOND
    // of each close pair flagged.
    "q_event_double_fire" -> ((s, d) =>
      graft.ops.Relational.doubleFires(Tables.events(s, d),
          keyCols = Seq("user_id", "event_type"), tsCol = "ts",
          idCol = "event_id", toleranceUs = 12L * 3600L * 1000000L)
        .orderBy(col("event_id"))),

    // ── maintenance/streaming: DQ monitoring as a STREAM — every arriving
    // micro-batch runs the expectations suite (dqChecks inside the batch
    // transform) and appends its per-rule report to a monitoring pipe;
    // the batch label derives from the DATA (event-id parity), so the
    // report is deterministic under any file arrival order. The violation
    // dashboard updates at ingest without a second corpus pass.
    "q_streaming_dq_monitor" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sdq").toString
      val eng  = new SyncEngine(s, root)
      val ev = Tables.events(s, d)
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      for (h <- 0 to 1) {
        val tmp = s"$root/h$h"
        ev.where(pmod(col("event_id"), lit(2)) === h)
          .coalesce(1).write.parquet(tmp)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(part,
          java.nio.file.Paths.get(s"$srcDir/half_$h.parquet"))
      }
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(
        s, srcDir, schema, maxFilesPerTrigger = Some(1))
      val spec = PipeSpec(PipeKeys("stream", "dq_monitor"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val rules = Seq(
        "value_null" -> col("value").isNull,
        "value_over_100" -> (col("value") > 100),
        "unknown_event_type" -> !col("event_type").isin(
          "click", "error", "purchase", "signup", "view"))
      val q = graft.streaming.StreamingSync.run(eng, spec, stream,
        s"$root/ckpt", checkExisting = false,
        transform = b => {
          val label = b.agg(
            coalesce(pmod(min(col("event_id")), lit(2)), lit(-1L))
              .cast("long")).head().getLong(0)
          graft.ops.Maintenance.dqChecks(b, rules,
              uniqueKey = Some(Seq("event_id")))
            .withColumn("bucket", lit(label))
            .where(col("n_rows") > 0) // empty flush ticks produce no report
        })
      q.awaitTermination()
      eng.getData(spec)
        .select(col("bucket"), col("rule"), col("n_violations"),
          col("n_rows"), col("violation_micro"))
        .distinct().orderBy(col("bucket"), col("rule"))
    }),

    // ── §2.9 streaming sessionization e2e: Spark `session_window` + water-
    // mark, drained with AvailableNow. Two far-future sentinel batches
    // (maxFilesPerTrigger=1) advance the watermark past every real
    // session's end, so append mode flushes them all deterministically —
    // emission in batch N uses the watermark from batch N-1, so the LAST
    // data batch must lie beyond (every session end + delay). The oracle is
    // the batch gaps-and-islands form with session_window's boundary rule
    // (diff >= gap starts a session; end = last event + gap).
    "q_streaming_sessions" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_ssess").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "sessions"),
        columns = ColumnRoles(Map("datetime" -> "session_start", "id" -> "user_id")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val srcDir = stageSentineledEvents(s, d, root)
      val schema = s.read.parquet(s"$srcDir/a_events.parquet").schema
      val stream = graft.streaming.StreamingSync.parquetStream(
        s, srcDir, schema, maxFilesPerTrigger = Some(1))
      val sessions = graft.streaming.StreamingSync.sessionCounts(
        Tables.normalizeEventsTs(stream, src = "stream"),
        "ts", "user_id", gap = "4 hours", delay = "1 minute")
      val q = graft.streaming.StreamingSync.run(eng, spec, sessions,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(spec).where(col("user_id") >= 0)
        .select(col("user_id"),
          col("session_start").cast(TimestampNTZType).as("session_start"),
          col("session_end").cast(TimestampNTZType).as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ── §2.9 streaming tumbling-window counts (the chunk-iteration shape
    // as a stream): window() + watermark, drained AvailableNow behind the
    // same sentinel-batch flush as q_streaming_sessions. Oracle = batch
    // epoch-aligned 6-hour bucket counts.
    "q_streaming_windows" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_swin").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "windows"),
        columns = ColumnRoles(Map("datetime" -> "chunk_start")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val srcDir = stageSentineledEvents(s, d, root)
      val schema = s.read.parquet(s"$srcDir/a_events.parquet").schema
      val stream = graft.streaming.StreamingSync.parquetStream(
        s, srcDir, schema, maxFilesPerTrigger = Some(1))
      val counts = graft.streaming.StreamingSync.windowedCounts(
        Tables.normalizeEventsTs(stream, src = "stream"),
        "ts", width = "6 hours", delay = "1 minute")
      val q = graft.streaming.StreamingSync.run(eng, spec, counts,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(spec)
        .where(col("chunk_start") < lit(ts("2029-01-01 00:00:00")))
        .select(col("chunk_start").cast(TimestampNTZType).as("chunk_start"),
                col("cnt"))
        .orderBy(col("chunk_start"))
    }),

    // ── §2.9 stateful per-id sync-time bookkeeping as STREAMING state:
    // one GroupState[Long] (µs) per id via flatMapGroupsWithState, emitted
    // on advance, upserted into a bookmark pipe keyed on the id. The final
    // table equals the batch `max(ts) GROUP BY id` — the oracle.
    "q_streaming_synctimes" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_sst").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "synctimes"),
        columns = ColumnRoles(Map("datetime" -> "st", "primary" -> "user_id")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(Tables.path(d, "events")),
        java.nio.file.Paths.get(s"$srcDir/events.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val st = graft.streaming.StreamingSync.runningSyncTimes(
          Tables.normalizeEventsTs(stream, src = "stream"),
          "user_id", "ts")
        .toDF("user_id", "st")
      val q = graft.streaming.StreamingSync.run(eng, spec, st, s"$root/ckpt",
        outputMode = Some("update"))
      q.awaitTermination()
      eng.getData(spec)
        .select(col("user_id"), col("st").cast(TimestampNTZType).as("st"))
        .orderBy(col("user_id"))
    }),

    // ── §2.9 stream-static broadcast enrichment e2e: every micro-batch of
    // events joins the static nation dimension BROADCAST (the unbounded
    // side never shuffles on the join key), enriched rows blind-append to
    // a pipe, and the read-back per-nation rollup equals the batch join —
    // the oracle. Stateless join: no watermark or sentinel drain needed.
    "q_streaming_enrich" -> ((s, d) => withStatePartitions(s, 8) {
      val root = java.nio.file.Files.createTempDirectory("graft_senr").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("stream", "enrich"),
        columns = ColumnRoles(Map("datetime" -> "ts")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val srcDir = s"$root/source"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(Tables.path(d, "events")),
        java.nio.file.Paths.get(s"$srcDir/events.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val stream = graft.streaming.StreamingSync.parquetStream(s, srcDir, schema)
      val dim = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val enriched = graft.streaming.StreamingSync.enrichWithStatic(
          Tables.normalizeEventsTs(stream, src = "stream"),
          dim, pmod(col("user_id"), lit(25L)) === col("n_nationkey"))
        .select(col("ts"), col("event_id"), col("n_name"))
      val q = graft.streaming.StreamingSync.run(eng, spec, enriched,
        s"$root/ckpt", checkExisting = false)
      q.awaitTermination()
      eng.getData(spec)
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_name"))
    }),

    // ── LLM-pipeline: text analysis ──────────────────────────────────────
    "q_doc_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        length(col("text")).cast(LongType).as("len_chars"),
        TextFns.punctCount(col("text")).cast(LongType).as("n_punct"),
        TextFns.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "q_text_quality" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // BPE-ish subword counting: words plus intra-word punctuation splits —
    // the cheap stand-in for a real tokenizer's token count (the regex
    // class is the Java∩RE2 ASCII punct set so the oracle splits alike).
    "q_subword_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFns.subwordCount(col("text")).cast(LongType).as("n_subwords"))
        .orderBy(col("doc_id"))),

    "q_langid" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFns.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: deduplication ──────────────────────────────────────
    "q_dedup_exact_docs" -> ((s, d) =>
      ApproxDedup.exactDuplicates(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("fp"))),

    // ── LLM-pipeline: Bloom-index incremental dedup — "is this new doc
    // already in the 100 TB corpus?" answered from O(m) bits of state, no
    // batch×history join. The result is EXACT and independent of (m, k):
    // the filter only routes rows between the zero-join fast path and the
    // broadcast verify path, so the oracle is the plain anti-join the
    // reference's filter_unseen computes. Nulls route through "new".
    "q_bloom_filter_unseen" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
      val m = 1L << 16; val k = 4
      val dense = graft.ops.BloomIndex.assemble(
        graft.ops.BloomIndex.bloomWords(corpus, "text", m, k), m)
      graft.ops.BloomIndex.notInCorpus(batch, corpus, "text", dense, m, k)
        .orderBy(col("doc_id"))
    }),

    // Sparse-filter incremental maintenance: build-from-halves + bit_or
    // merge ≡ build-from-whole (associativity), the property that makes
    // the index a derived pipe maintainable by blind append. Oracle
    // replays the md5 double-hash bit layout over the WHOLE corpus.
    "q_bloom_index_sync" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val m = 1L << 16; val k = 4
      val a = graft.ops.BloomIndex.bloomWords(
        docs.where(col("doc_id") % 2 === 0), "text", m, k)
      val b = graft.ops.BloomIndex.bloomWords(
        docs.where(col("doc_id") % 2 =!= 0), "text", m, k)
      graft.ops.BloomIndex.mergeWords(a, b).orderBy(col("word"))
    }),

    "q_ngram_jaccard_pairs" -> ((s, d) =>
      ApproxDedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          bucketCol = "source", window = 50, n = 1, threshold = 0.5)
        .orderBy(col("id1"), col("id2"))),

    // ── LLM-pipeline: dedup-rate sweep — docs removed by keep-first dedup
    // at each candidate threshold, all thresholds from ONE pass over the
    // pair table (distinct larger endpoints of surviving pairs — exact
    // for the id-ordered greedy policy, no clustering).
    "q_dedup_sweep" -> ((s, d) =>
      ApproxDedup.dedupThresholdSweep(
        ApproxDedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          bucketCol = "source", window = 50, n = 1, threshold = 0.3),
        "id1", "id2", "jaccard", thresholds = Seq(0.3, 0.5, 0.7, 0.9))
        .orderBy(col("threshold_micro"))),

    // MinHash-LSH near-dup: scale path (band join, never a cross join).
    // The exact-Jaccard verify stage removes LSH false positives; r=1
    // (bands=k=24) makes the miss probability (1−j)^24 — ≤ 6e-8 even for
    // a pair exactly AT the 0.5 threshold — so the output equals the exact
    // all-pairs oracle for any input, not just high-j corpora. (r=2 would
    // miss a j=0.5 pair with ~3% probability: oracle-fragile.)
    // EXACTNESS-PROOF configuration, deliberately capped to doc_id < 1000
    // (the full sf0.01 corpus, a fifth of sf0.1): r=1 floods the band join
    // with single-hash collisions — the price of provable recall — and is
    // NOT the production path. q_minhash_near_dups_fast (r=4, prefilter,
    // hot-bucket cap) is the configuration benched at full scale.
    "q_minhash_near_dups" -> ((s, d) =>
      ApproxDedup.minhashNearDups(
          Tables.documents(s, d).where(col("doc_id") < 1000), "doc_id", "text",
          threshold = 0.5, shingleSize = 3, k = 24, bands = 24)
        .orderBy(col("id1"), col("id2"))),

    // The PRODUCTION configuration — r = 4 rows/band (collision rate falls
    // as j^4), signature-estimate prefilter, hot-bucket cap ON. This is the
    // plan you'd run at 100 TB; the r=1 query above stays as the exactness
    // proof. md5Base swaps the shingle base hash for the oracle-replayable
    // 60-bit md5 form — a constant-factor slowdown per shingle with zero
    // plan-shape change (production would use the xxhash64 kernel).
    "q_minhash_near_dups_fast" -> ((s, d) =>
      ApproxDedup.minhashNearDupsFast(Tables.documents(s, d), "doc_id", "text",
          threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
          estSlack = 0.25, maxBucket = 200, md5Base = true)
        .orderBy(col("id1"), col("id2"))),

    // ── LLM-pipeline: near-dup CLUSTERS — connected components of the
    // near-dup pair graph by min-label propagation (hash-min); dedup keeps
    // one representative per cluster. Clusters over the PRODUCTION fast-path
    // pairs (the r=1 pair generation was the benched scale-killer); the
    // oracle replays the fast pipeline and closes it with a recursive CTE.
    "q_neardup_clusters" -> ((s, d) => {
      val pairs = ApproxDedup.minhashNearDupsFast(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.nearDupClusters(pairs).orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: connected components maintained INCREMENTALLY as
    // stored pipes — batch-proportional label updates, min-fold read;
    // fold ≡ rebuild, so the full-graph CC replay is the oracle (see
    // `staged`).
    "q_cc_index_sync" -> composed("q_cc_index_sync"),

    // ── LLM-pipeline: the leakage-safe split driven by the STORED CC
    // labels instead of a fresh propagation (see `staged`).
    "q_leakage_split_stored" -> composed("q_leakage_split_stored"),

    // Same components via alternating large-star/small-star (Kiveris et
    // al. 2014) — O(log n) rounds regardless of component diameter, the
    // variant for adversarial transitive-chain pair graphs where hash-min
    // needs diameter passes. Identical output contract, same oracle.
    "q_neardup_clusters_star" -> ((s, d) => {
      val pairs = ApproxDedup.minhashNearDupsFast(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.nearDupClustersStar(pairs).orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: cross-document duplicated 5-gram statistics — the
    // Gopher/RefinedWeb "fraction of tokens in duplicated n-grams" signal.
    // Only duplicated grams fan out into positions; the sole table-wide
    // shuffle carries one md5 per gram.
    "q_dup_ngram_stats" -> ((s, d) =>
      ApproxDedup.dupNgramStats(Tables.documents(s, d), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),

    // SimHash bits derive from md5 nibbles, so the DuckDB oracle reproduces
    // the signature bit-for-bit (simhashOracleSql shares the formula).
    "q_simhash_signatures" -> ((s, d) =>
      ApproxDedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: SimHash near-dup PAIRS (Manku WWW'07) — Hamming ≤ 3
    // via a 4-band (16/16/16/15-bit) pigeonhole equi-join, EXACT at that
    // radius, never all-pairs; verify = one codegen'd bit_count(xor).
    // Guaranteed signal: every 41st doc gains a doubled-text twin — simhash
    // is scale-invariant under repetition (every bit sum doubles, no sign
    // change), so the twin sits at Hamming 0 while exact dedup misses it.
    "q_simhash_near_dups" -> ((s, d) =>
      ApproxDedup.simhashNearDups(simhashCorpus(s, d),
          "doc_id", "text", maxHamming = 3)
        .orderBy(col("id1"), col("id2"))),

    // ── LLM-pipeline: the SimHash index maintained INCREMENTALLY as a
    // stored pipe — blind-append band rows, bucket-pruned probe, Hamming
    // verify from the index alone (see `staged`).
    "q_simhash_index_sync" -> composed("q_simhash_index_sync"),

    // ── LLM-pipeline: asymmetric shingle-CONTAINMENT pairs — near-superset
    // detection (quotes/aggregators/excerpts whose symmetric Jaccard stays
    // low). Boilerplate shingles (> 20 docs) drop before the self-join;
    // score = exact integer micro-units. Guaranteed signal: every 23rd doc
    // gains a 12-token-prefix excerpt, fully contained in its parent.
    "q_containment_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat_ws(" ", slice(TextFns.tokens(col("text")), 1, 12)).as("text"))
      ApproxDedup.containmentPairs(docs.unionByName(excerpts),
          "doc_id", "text", n = 3, thresholdMicro = 800000L,
          maxDocsPerShingle = 20)
        .orderBy(col("id1"), col("id2"))
    }),

    // ── LLM-pipeline: HTML → text extraction (the C4/CommonCrawl step) —
    // script/style/comment spans drop, tags strip, common entities decode
    // (&amp; last: single-pass semantics), whitespace collapses. Documents
    // are wrapped in a deterministic HTML template in-query; the oracle
    // renders the IDENTICAL chain via TextFns.htmlToTextSqlExpr.
    "q_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>T</title><style type=\"text/css\">p { color: red; }</style></head><body><!-- header nav --><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1> <p>"), col("text"),
        lit("</p> <script>if (a &amp;&amp; b) { run(); }</script><div class=\"footer\">&quot;Fin&quot; &amp; &lt;end&gt;&nbsp;&#39;ok&#39;</div></body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.htmlToText(html).as("text_clean"))
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: exact ROC AUC of a quality signal against a binary
    // label (Mann-Whitney with average-rank ties, doubled-rank integer
    // arithmetic) — here the en-stopword-hit signal scored as an English
    // detector. Corpus collapses to |distinct score| rows before the one
    // tiny rank window; single-row output.
    "q_signal_auc" -> ((s, d) =>
      graft.ops.Evaluation.signalAuc(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("int").as("lbl"),
          TextFns.stopwordHits(col("text"), "en").as("score")),
        "lbl", "score")),

    // ── LLM-pipeline: reliability-diagram calibration bins — per-bin count,
    // mean predicted micro-score, observed positive rate; ONE map-combined
    // aggregate, all integer columns.
    "q_calibration_bins" -> ((s, d) =>
      graft.ops.Evaluation.calibrationBins(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("int").as("lbl"),
          (TextFns.qualityScore(col("text")) * 1000000).cast("long")
            .as("score_micro")),
        "lbl", "score_micro", nBins = 5)
        .orderBy(col("bin"))),

    // ── LLM-pipeline: Expected Calibration Error (Guo et al. 2017) — the
    // one-number rollup of the reliability bins, DECIMAL(38,0)-widened
    // weighted sum.
    "q_ece" -> ((s, d) =>
      graft.ops.Evaluation.ece(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("int").as("lbl"),
          (TextFns.qualityScore(col("text")) * 1000000).cast("long")
            .as("score_micro")),
        "lbl", "score_micro", nBins = 5)),

    // ── LLM-pipeline: isotonic (PAV) calibration — the non-parametric
    // FIX after the bins diagnose miscalibration, via the distributable
    // minimax closed form max_{j≤i} min_{k≥i} rate(j..k); everything
    // after the one corpus aggregate is interval-sized.
    "q_isotonic_calibration" -> ((s, d) =>
      graft.ops.Evaluation.isotonicCalibration(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("int").as("lbl"),
          (TextFns.qualityScore(col("text")) * 1000000).cast("long")
            .as("score_micro")),
        "lbl", "score_micro", nBins = 5)
        .orderBy(col("bin"))),

    // ── LLM-pipeline: temperature-scaling fit (Guo et al. 2017 §4.2) —
    // the post-hoc calibrator next to the ECE report: NLL grid search
    // over T, per-row micro-quantized terms, argmin with smallest-T ties.
    "q_temperature_fit" -> ((s, d) =>
      graft.ops.Evaluation.temperatureFit(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("int").as("lbl"),
          (TextFns.qualityScore(col("text")) * 1000000).cast("long")
            .as("score_micro")),
        "lbl", "score_micro", TempGridMicro)),

    // ── LLM-pipeline: NDCG@10 (Järvelin & Kekäläinen 2002) — the graded
    // retrieval-eval metric over the BM25 ranking, relevance = quality
    // buckets; position gains are ONE driver array literal (no in-plan
    // log2), ideal ranking from the judged pool.
    "q_ndcg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val ranked = graft.ops.Corpus.bm25TopK(docs, "doc_id", "text",
          query = Seq("table", "scan", "fast", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank"))
      val judged = docs
        .withColumn("__qm",
          (TextFns.qualityScore(col("text")) * 1000000).cast("long"))
        .select(col("doc_id").as("id"),
          expr("CAST(__qm * 4 div 1000000 AS BIGINT)").as("rel"))
      graft.ops.Evaluation.ndcgAtK(ranked, judged, "id", "rank", "rel", k = 10)
    }),

    // ── LLM-pipeline: binned mutual information between two quality
    // signals — the redundancy audit beyond linear correlation: one hash
    // aggregate to ≤|bins|² cells, pointwise-MI micro terms per cell.
    "q_signal_mi" -> ((s, d) =>
      graft.ops.Evaluation.signalMi(
        Tables.documents(s, d)
          .withColumn("__qm",
            (TextFns.qualityScore(col("text")) * 1000000).cast("long"))
          .select(expr("CAST(__qm div 250000 AS BIGINT)").as("xb"),
            expr("CAST(least(n_chars div 200, 4) AS BIGINT)").as("yb")),
        "xb", "yb")
        .orderBy(col("x_bin"), col("y_bin"))),

    // ── LLM-pipeline: Pearson χ² contingency (source × language) — the
    // significance companion to q_signal_mi's effect size and q_domain_kl's
    // divergence: is the language mix independent of the source beyond
    // sampling noise? Full R×C grid (absent cells still contribute e);
    // one grid aggregate; the (o−e)²/e term is the one float stage.
    "q_chi_square" -> ((s, d) =>
      graft.ops.Evaluation.chiSquare(
        Tables.documents(s, d)
          .select(col("source").as("xb"), col("lang").as("yb")),
        "xb", "yb")
        .orderBy(col("x"), col("y"))),

    // ── LLM-pipeline: UCB1 source-exploration scores (Auer et al. 2002)
    // — which domain gets the next crawl/annotation budget: mean quality
    // + √(2·ln N/n) bonus, the bandit view of the mixture planners.
    "q_ucb_sources" -> ((s, d) =>
      graft.ops.Sampling.ucbSourceScores(
        Tables.documents(s, d)
          .withColumn("score_micro",
            (TextFns.qualityScore(col("text")) * 1000000).cast("long")),
        "source", "score_micro")
        .orderBy(col("src"))),

    // ── LLM-pipeline: Spearman ρ between the quality signal and doc
    // length — completing the association trio (Pearson/Kendall/ρ):
    // average-rank ties via bounded value-domain windows (the signalAuc
    // bound), exact half-unit rank moments in DECIMAL(38,0), one float
    // stage.
    "q_spearman_rho" -> ((s, d) =>
      graft.ops.Evaluation.spearmanRho(
        Tables.documents(s, d)
          .withColumn("__qm",
            (TextFns.qualityScore(col("text")) * 1000000).cast("long"))
          .select(col("__qm").as("xs"), col("n_chars").as("ys")),
        "xs", "ys")),

    // ── LLM-pipeline: binned Kendall τ-b between the same two signals —
    // the rank-agreement view next to q_signal_mi's information view and
    // q_signal_correlation's linear view; tie-corrected because binning
    // manufactures ties. Grid-sized cross join, corpus touched once.
    "q_kendall_tau" -> ((s, d) =>
      graft.ops.Evaluation.kendallTauBinned(
        Tables.documents(s, d)
          .withColumn("__qm",
            (TextFns.qualityScore(col("text")) * 1000000).cast("long"))
          .select(expr("CAST(__qm div 250000 AS BIGINT)").as("xb"),
            expr("CAST(least(n_chars div 200, 4) AS BIGINT)").as("yb")),
        "xb", "yb")),

    // ── LLM-pipeline: min-K% prob membership signal (Shi et al., ICLR
    // 2024) — "has the model seen this doc?": mean log-prob of each doc's
    // lowest 20% of token occurrences under the corpus LM; memorized text
    // lacks low-prob outliers. Type-level selection, doc-partitioned
    // window, integer budget math.
    "q_min_k_prob" -> ((s, d) =>
      graft.ops.Corpus.minKProb(Tables.documents(s, d), "doc_id", "text",
        fracMicro = 200000L).orderBy(col("doc_id"))),

    // ── LLM-pipeline: split-conformal quality gate (Vovk; Angelopoulos &
    // Bates 2021) — the distribution-free threshold pick: τ from the
    // even-doc calibration split at α = 0.1, coverage measured on the
    // odd-doc eval split. TakeOrdered head, no global window.
    "q_conformal_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def scored(df: DataFrame) = df.select(
        (lit(1000000L) - (TextFns.qualityScore(col("text")) * 1000000)
          .cast("long")).as("s"))
      graft.ops.Evaluation.conformalGate(
        scored(docs.where(col("doc_id") % 2 === 0)),
        scored(docs.where(col("doc_id") % 2 === 1)),
        "s", alphaMicro = 100000L)
    }),

    // ── LLM-pipeline: greedy k-center selection (Gonzalez 1985; Sener &
    // Savarese 2018) — the core-set diversity-first selection baseline:
    // k−1 scans, each one min-distance projection against ≤k literal
    // centers + a TakeOrdered(1); the recorded radii are the budget curve.
    "q_kcenter_select" -> ((s, d) =>
      graft.ops.Sampling.kCenterSelect(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8)),

    // ── LLM-pipeline: deterministic Poisson-bootstrap CI (Efron 1979;
    // Chamandy et al. 2012's massive-data form) — every data-card mean
    // ships with uncertainty: B=32 md5-seeded Poisson(1) replicates in ONE
    // scan, nearest-rank percentile bounds.
    "q_bootstrap_ci" -> ((s, d) =>
      graft.ops.Evaluation.bootstrapCi(
        Tables.documents(s, d).select(col("source"), col("doc_id"),
          (TextFns.qualityScore(col("text")) * 1000000).cast("long")
            .as("q_micro")),
        "source", "doc_id", "q_micro", b = 32)
        .orderBy(col("grp"))),

    // ── LLM-pipeline: unbiased pass@k (Chen et al. 2021, HumanEval App. A)
    // — the eval-harness estimator: per problem group with n samples and c
    // passes, 1 − C(n−c,k)/C(n,k) via the numerically-stable product,
    // statically unrolled, micro-rounded.
    "q_pass_at_k" -> ((s, d) =>
      graft.ops.Evaluation.passAtK(
        Tables.documents(s, d).select(
          pmod(col("doc_id"), lit(37L)).as("grp"),
          (TextFns.qualityScore(col("text")) * 1000000 >= 500000)
            .cast("int").as("p")),
        "grp", "p", ks = Seq(1, 5))
        .orderBy(col("grp"))),

    // ── LLM-pipeline: Luhn-validated payment-card report — the mod-10
    // checksum gate after the digit-run regex (regex-only card detection
    // drowns in timestamp/id false positives). Synthetic 16-digit runs
    // injected deterministically so both engines see identical text.
    "q_luhn_report" -> ((s, d) =>
      graft.ops.Cleaning.luhnReport(
        Tables.documents(s, d).select(col("source"),
          concat(col("text"), lit(" "),
            (lit(4000000000000000L) + (col("doc_id") * 137) % 1000000000L)
              .cast("string")).as("text")),
        "source", "text").orderBy(col("source"))),

    // ── LLM-pipeline: Jensen–Shannon divergence matrix between source
    // unigram distributions (domain-mix planning); per-token terms
    // micro-quantized before the pair sums, text never shuffles.
    "q_source_js" -> ((s, d) =>
      graft.ops.TextStats.sourceJsMatrix(Tables.documents(s, d),
        "source", "text").orderBy(col("src_a"), col("src_b"))),

    // ── relational: interval × interval OVERLAP join — both sides explode
    // onto a 30-day grid, hash equi-join on the bucket id, each pair
    // emitted exactly once (residual keeps the overlap-start bucket only).
    // Intervals derive deterministically from orders; overlap reported as
    // exact epoch-micro length.
    "q_interval_overlap" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def iv(m: Int, p: String) = o.where(col("o_orderkey") % m === 0)
        .select(col("o_orderkey").as(s"${p}_id"),
          col("o_orderdate").as(s"${p}_lo"),
          expr("timestampadd(DAY, CAST(o_orderkey % 60 + 1 AS INT), o_orderdate)")
            .as(s"${p}_hi"))
      val us = RoundTime.epochMicros _
      graft.ops.Relational.intervalOverlapJoin(
          iv(997, "a"), iv(991, "b"), "a_lo", "a_hi", "b_lo", "b_hi",
          bucketWidthUs = 30L * 86400L * 1000000L)
        .select(col("a_id"), col("b_id"),
          (least(us(col("a_hi")), us(col("b_hi"))) -
           greatest(us(col("a_lo")), us(col("b_lo")))).as("overlap_us"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ── relational: first/last-touch attribution — per purchase, the
    // earliest and latest click/view by the same user within 2 h before
    // it. One entity-keyed join (window bound IN the join condition) +
    // one min/max-struct hash aggregate; no window function.
    "q_attribution" -> ((s, d) =>
      graft.ops.Relational.touchAttribution(Tables.events(s, d),
          "user_id", "ts", "event_type", "event_id",
          touchTypes = Seq("click", "view"), convType = "purchase",
          windowUs = 2L * 3600L * 1000000L)
        .orderBy(col("conv_id"))),

    // ── maintenance: data-quality assertion report (expectations-suite
    // shape) — named violation predicates in ONE aggregate pass plus the
    // primary-key uniqueness check; per-rule counts and micro rates.
    "q_dq_checks" -> ((s, d) =>
      graft.ops.Maintenance.dqChecks(Tables.events(s, d),
        Seq(
          "value_null" -> col("value").isNull,
          "value_negative" -> (col("value") < 0),
          "unknown_event_type" -> !col("event_type").isin(
            "click", "error", "purchase", "signup", "view"),
          "ts_out_of_range" -> (col("ts") < lit(ts("2020-01-01 00:00:00")) ||
            col("ts") > lit(ts("2030-01-01 00:00:00")))),
        uniqueKey = Some(Seq("event_id")))
        .orderBy(col("rule"))),

    // ── LLM-pipeline: SFT conversation flattening — JSON turn arrays
    // (the de-facto chat interchange shape) parse on the scan and explode
    // to one row per turn. Conversations synthesized deterministically
    // with alternation violations (every 7th) and empty turns (every 5th).
    "q_chat_turns" -> ((s, d) =>
      graft.ops.Chat.chatTurns(
          Tables.documents(s, d).select(col("doc_id"), chatJson.as("conv")),
          "doc_id", "conv")
        .orderBy(col("doc_id"), col("turn_idx"))),

    // ── LLM-pipeline: SFT structural validation gate — role alternation,
    // empty turns, per-role token budgets, as a PURE projection (per-row
    // array folds, zero shuffle): the ingest-speed gate before templates.
    "q_chat_validate" -> ((s, d) =>
      graft.ops.Chat.chatValidate(
          Tables.documents(s, d).select(col("doc_id"), chatJson.as("conv")),
          "doc_id", "conv")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: chat template rendering — turns become
    // `<|role|>`-tagged blocks joined by newlines, with the token count
    // packing needs; pure projection, zero shuffle.
    "q_chat_render" -> ((s, d) =>
      graft.ops.Chat.chatRender(
          Tables.documents(s, d).select(col("doc_id"), chatJson.as("conv")),
          "doc_id", "conv")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: turn-level dedup composition — assistant replies
    // repeated across conversations (every doc of a source shares one
    // synthesized reply) collapse to first id + copy count: the SFT-side
    // "templated answer" detector.
    "q_chat_turn_dedup" -> ((s, d) =>
      graft.ops.Chat.chatTurns(
          Tables.documents(s, d).select(col("doc_id"), chatJson.as("conv")),
          "doc_id", "conv")
        .where(col("role") === "assistant")
        .groupBy(col("content"))
        .agg(min(col("doc_id")).as("first_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("content"))),

    // ── LLM-pipeline: preference-pair (DPO) QA — degenerate same-response
    // pairs, chosen:rejected length-bias ratio, and prompt duplication
    // counts; per-pair projection + ONE fp-keyed aggregate.
    "q_preference_checks" -> ((s, d) => {
      val pairs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 9 === 0, lit("common prompt about things"))
          .otherwise(concat_ws(" ", slice(TextFns.tokens(col("text")), 1, 10)))
          .as("prompt"),
        concat(lit("reply about "), col("source")).as("chosen"),
        when(col("doc_id") % 11 === 0,
            concat(lit("reply about "), col("source")))
          .otherwise(col("text")).as("rejected"))
      graft.ops.Chat.preferenceChecks(pairs, "doc_id",
          "prompt", "chosen", "rejected")
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: the composed SFT pipeline — structural gate
    // (parse_ok, clean alternation, no empty turns, assistant-terminated)
    // semi-joins the rendered training strings; survivors carry the token
    // counts packing needs. One lazy plan: both sides are projections
    // over the same scan, the semi join is the only shuffle.
    "q_sft_pipeline" -> ((s, d) => {
      val docsConv = Tables.documents(s, d)
        .select(col("doc_id"), chatJson.as("conv"))
      val keep = graft.ops.Chat.chatValidate(docsConv, "doc_id", "conv")
        .where(col("parse_ok") && col("n_role_violations") === 0 &&
          col("n_empty_turns") === 0 && col("ends_assistant"))
        .select("doc_id")
      graft.ops.Chat.chatRender(docsConv, "doc_id", "conv")
        .join(keep, Seq("doc_id"), "left_semi")
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: URL-keyed dedup composition — normalize (case,
    // default port, fragment, trailing slash) then strip tracking params,
    // then collapse: the crawl-frontier dedup that folds every tracking
    // variant of a page onto one canonical key. Scan-local
    // canonicalization + ONE url-keyed aggregate.
    "q_url_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = concat(lit("https://www."), col("source"),
        lit(".example.com/p/"), col("doc_id").cast("string"))
      val variant = concat(lit("HTTPS://WWW."), col("source"),
        lit(".EXAMPLE.COM:443/p/"), col("doc_id").cast("string"),
        lit("?utm_source=x&gclid=z#frag"))
      docs.select(col("doc_id"), base.as("raw"))
        .unionByName(docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), variant.as("raw")))
        .select(col("doc_id"),
          TextFns.stripTrackingParams(TextFns.normalizeUrl(col("raw")))
            .as("url"))
        .groupBy(col("url"))
        .agg(min(col("doc_id")).as("first_id"),
          count(lit(1)).as("n_variants"))
        .orderBy(col("url"))
    }),

    // ── LLM-pipeline: vocabulary coverage curve — fraction of corpus token
    // occurrences covered by the top-V types for candidate vocab sizes;
    // corpus collapses to |vocab| rows before the one bounded rank window.
    "q_vocab_coverage" -> ((s, d) =>
      graft.ops.Evaluation.vocabCoverage(Tables.documents(s, d), "text",
        sizes = Seq(5, 10, 20, 40, 100000))
        .orderBy(col("v"))),

    // ── LLM-pipeline: precision/recall/F1 threshold sweep — the operating
    // point picker after AUC ranks the signal. ONE CASE-ladder aggregate
    // pass for all thresholds; row explode happens on the single
    // aggregated row; micro-unit ratios, null when undefined.
    "q_pr_curve" -> ((s, d) =>
      graft.ops.Evaluation.prCurve(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("int").as("lbl"),
          TextFns.stopwordHits(col("text"), "en").as("score")),
        "lbl", "score", thresholds = Seq(1L, 2L, 3L, 4L))
        .orderBy(col("threshold"))),

    // ── LLM-pipeline: embedding-corpus QA gate — dimension consistency,
    // zero-norm vectors, norm² range per observed dim; floor-micro-units
    // over double arithmetic in array order (engine-identical).
    "q_embedding_qa" -> ((s, d) =>
      graft.ops.Evaluation.embeddingQa(Tables.embeddings(s, d),
        "vec_id", "embedding").orderBy(col("dim"))),

    // ── LLM-pipeline: token frequency spectrum (count-of-counts) — the
    // Good-Turing / vocabulary-sizing report; two map-combined aggregates.
    "q_freq_spectrum" -> ((s, d) =>
      graft.ops.Evaluation.freqSpectrum(Tables.documents(s, d), "text")
        .orderBy(col("freq"))),

    // ── LLM-pipeline: Good-Turing smoothed estimates (Good 1953; Gale &
    // Sampson 1995 simple form) on the spectrum — r* mass reassignment +
    // the unseen mass p0 = N1/N; exact integer micro-rationals over the
    // bounded counts-of-counts grid.
    "q_good_turing" -> ((s, d) =>
      graft.ops.Evaluation.goodTuring(Tables.documents(s, d), "text")
        .orderBy(col("r"))),

    // ── LLM-pipeline: per-document language-consistency audit (the
    // code-switching filter): per-line langId → majority language +
    // fraction + distinct-language count. Docs gain one English line
    // always and one Spanish line for every 5th id, so mixed and
    // consistent branches both exercise.
    "q_lang_mix" -> ((s, d) => {
      val docsML = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit("\nthe quick brown fox is on the hill and it is fine"),
          when(col("doc_id") % 5 === 0,
            lit("\nel perro es un animal y la casa es de madera"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Cleaning.langMix(docsML, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: tracking-parameter strip (utm_*/gclid/fbclid/…) —
    // the second URL-canonicalization step before URL-keyed crawl dedup;
    // backreference-free (literal ? → ?& anchoring) so Java regex and RE2
    // run the identical rewrite. URLs synthesized deterministically with
    // kept params, all-tracking queries, and fragments to exercise every
    // separator-cleanup branch.
    "q_url_strip_tracking" -> ((s, d) => {
      val raw = concat(
        lit("https://www."), col("source"), lit(".example.com/a/"),
        col("doc_id").cast("string"),
        lit("?utm_source=news&utm_campaign="), col("source"),
        when(col("doc_id") % 2 === 0, lit("&page=2")).otherwise(lit("")),
        lit("&fbclid=IwAR12345"),
        when(col("doc_id") % 3 === 0, lit("#Frag")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.stripTrackingParams(raw).as("url_clean"))
        .orderBy(col("doc_id"))
    }),

    // Embedding-cosine near-dup: SRP band buckets → equi-join candidates →
    // exact cosine verify; oracle replays the whole pipeline from the same
    // hyperplanes.
    "q_embedding_near_dups" -> ((s, d) =>
      ApproxDedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding",
          planes = SimilaritySearch.srpPlanes(dim = 64, nBits = 24),
          bands = 4, threshold = 0.45)
        .orderBy(col("id1"), col("id2"))),

    // ── LLM-pipeline: SRP parameter-tuning report — the embedding analog
    // of q_minhash_tuning: measured band-bucket candidate workload per
    // (bands, rows) factorization of the 24-bit SRP signature, next to the
    // closed-form match probability at the target cosine (precomputed
    // driver-side, embedded as an identical literal in both engines).
    "q_srp_tuning" -> ((s, d) =>
      ApproxDedup.srpTuning(Tables.embeddings(s, d), "vec_id", "embedding",
          planes = SimilaritySearch.srpPlanes(dim = 64, nBits = 24),
          targetCosine = 0.45)
        .orderBy(col("bands"))),

    // ── LLM-pipeline: SEMANTIC decontamination — cross-set embedding
    // near-dups (paraphrased benchmark leakage that n-gram overlap misses).
    // The benchmark slice broadcasts through both the band join and the
    // verify; the corpus never shuffles.
    "q_semantic_decontaminate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      ApproxDedup.embeddingCrossNearDups(
          emb.where(col("vec_id") % 10 =!= 0), "vec_id",
          emb.where(col("vec_id") % 10 === 0), "vec_id",
          "embedding",
          planes = SimilaritySearch.srpPlanes(dim = 64, nBits = 24),
          bands = 6, threshold = 0.3)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // ── LLM-pipeline: similarity search over embeddings ─────────────────
    "q_embedding_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    }),

    // ── LLM-pipeline: embedding ANISOTROPY report (Ethayarajh 2019) —
    // the geometry health check before trusting cosine thresholds:
    // random-pair cosine histogram via the deterministic disjoint
    // matching (i ↔ i+⌊N/2⌋), per-pair floor-micro quantization, one
    // equi-join + one |bins|-row aggregate.
    "q_anisotropy" -> ((s, d) =>
      SimilaritySearch.anisotropyReport(Tables.embeddings(s, d),
        "vec_id", "embedding", bins = 20)
        .orderBy(col("bin"))),

    // ── LLM-pipeline: per-label embedding CENTROID cosine matrix — the
    // semantic domain-similarity planner next to q_source_js's token
    // view. cos(mean,mean)=cos(sum,sum), so only exact integer sums
    // shuffle; the pair grid is |labels|²·dim broadcast rows.
    "q_label_centroid_sim" -> ((s, d) =>
      SimilaritySearch.groupCentroidSimilarity(
        Tables.embeddings(s, d), "label", "embedding")
        .orderBy(col("g1"), col("g2"))),

    // ANN with a persisted-index shape: build stamps the signature/cell
    // column in one codegen'd projection (no join/window/shuffle of the
    // vector table); probe prunes by bucket. The oracle re-runs the whole
    // pipeline in DuckDB from the same hyperplanes / centroid rule.
    "q_embedding_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val planes  = SimilaritySearch.srpPlanes(dim = q.length, nBits = 12)
      val indexed = SimilaritySearch.withSrpSignature(emb, "embedding", planes)
      SimilaritySearch.lshTopK(indexed, "vec_id", "embedding", "sig",
        q, planes, k = 10, radius = 3)
    }),

    "q_embedding_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val cents   = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val indexed = SimilaritySearch.withIvfCell(emb, "embedding", cents)
      SimilaritySearch.ivfTopK(indexed, "vec_id", "embedding", "cell",
        q, cents, k = 10, nProbe = 4)
    }),

    // ── LLM-pipeline: Lloyd k-means TRAINING with exact rational centroids
    // — the production coarse-quantizer trainer every IVF oracle's
    // lowest-id sample stands in for. Per-dim coordinate sums are
    // micro-quantized LONGS (order-independent), assignment is the
    // bit-exact cosine argmax, empty cells carry forward; the oracle
    // replays every iteration. Output = the exact (cell, dim, Σmicro, n)
    // model artifact.
    // trains FRESH on every run (no memo) so the bench prices the
    // iterations' corpus passes; q_ann_ivf_kmeans amortizes through
    // KmState (train once, probe everywhere)
    "q_kmeans_train" -> ((s, d) =>
      SimilaritySearch.kmeansModelDf(s,
        SimilaritySearch.kmeansTrainExact(Tables.embeddings(s, d),
          "vec_id", "embedding", KmK, KmIters))
        .orderBy(col("cell"), col("dim_idx"))),

    // ── LLM-pipeline: the IVF probe over TRAINED (k-means) centroids —
    // the FAISS `IVF8,Flat` production shape with a real trainer instead
    // of the sampled stand-in; same pruned-scan plan as q_embedding_ann_ivf.
    "q_ann_ivf_kmeans" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val cents = SimilaritySearch.kmeansCents(KmState.forDir(s, d))
      val indexed = SimilaritySearch.withIvfCell(emb, "embedding", cents)
      SimilaritySearch.ivfTopK(indexed, "vec_id", "embedding", "cell",
        q, cents, k = 10, nProbe = 4)
    }),

    // ── LLM-pipeline: SQ8 scalar-quantized ANN — int8 codes stamped in one
    // projection (4× smaller than float32), pure-integer candidate scoring,
    // exact-cosine rerank of the survivors. Oracle replays scale,
    // quantization, and both rankings.
    "q_embedding_ann_sq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val scale   = SimilaritySearch.maxAbsScale(emb, "embedding")
      val indexed = SimilaritySearch.withInt8(emb, "embedding", scale)
      SimilaritySearch.sqTopK(indexed, "vec_id", "embedding", "qvec",
        q, scale, k = 10, rerank = 50)
    }),

    // ── LLM-pipeline: PQ ANN — m-byte product-quantization codes stamped
    // in one projection, asymmetric-distance candidate scoring from m
    // literal table lookups, exact-cosine rerank. Oracle re-derives
    // codebooks from the data and replays encode + ADC + both rankings.
    "q_embedding_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val cbs = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, ks = 16)
      val indexed = SimilaritySearch.withPqCodes(emb, "embedding", cbs)
      SimilaritySearch.pqTopK(indexed, "vec_id", "embedding", "pq",
        q, cbs, k = 10, rerank = 50)
    }),

    // ── LLM-pipeline: IVF+PQ ANN — the production composition: the scan
    // prunes to nProbe cells, m-byte ADC scores rank inside them, floats
    // load only for the rerank set. Oracle re-derives centroids AND
    // codebooks from the data and replays the whole pipeline.
    "q_embedding_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val cbs = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, ks = 16)
      val indexed = SimilaritySearch.withPqCodes(
        SimilaritySearch.withIvfCell(emb, "embedding", cents), "embedding", cbs)
      SimilaritySearch.ivfPqTopK(indexed, "vec_id", "embedding", "cell", "pq",
        q, cents, cbs, k = 10, nProbe = 8, rerank = 50)
    }),

    // ── LLM-pipeline: OPQ rotation ship gate (Ge et al., CVPR 2013) — the
    // one FAISS production step between plain PQ and state-of-the-art
    // stored ANN: train the orthonormal rotation driver-side on the same
    // bounded sample that fits the codebooks, stamp plain-PQ and OPQ codes
    // in ONE scan, and report each method's mean reconstruction error at
    // EQUAL (m, ks) plus the per-row win count. OPQ must come in strictly
    // below plain PQ (OpqSpec pins it). Oracle replays the full dual
    // pipeline with the persisted R injected as literals.
    "q_opq_recon" -> ((s, d) =>
      SimilaritySearch.pqVsOpqRecon(Tables.embeddings(s, d),
        "vec_id", "embedding", m = OpqM, ks = OpqKs,
        OpqModel.rotationFor(s, d))),

    // ── LLM-pipeline: BATCHED IVF ANN — the production probe shape: every
    // 100th vector queries at once, per-query probe cells resolve IN-PLAN
    // (argsort over typedLit centroid scores — zero per-query driver work),
    // the cell equi-join prunes the corpus, and one qid-keyed window ranks.
    // Scales to millions of query vectors; oracle replays cells + ranking.
    // ── LLM-pipeline: ANN recall@k QA — the tuning gate before committing
    // an (nCentroids, nProbe) config: per sampled query, |ANN ∩ exact
    // top-k| / k with the exact side bounded by the query sample. Integer
    // micro recall; run it before trusting any stored-probe answer.
    "q_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val queries = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.annRecallReport(emb, "vec_id", "embedding",
          queries, "qid", "qvec", cents, k = 10, nProbe = 4)
        .orderBy(col("qid"))
    }),

    // ── LLM-pipeline: margin-based bitext mining (Artetxe & Schwenk 2019,
    // the CCMatrix alignment step) — source vectors pair with the target
    // vector maximizing cos/(mean kNN cos both ways); both directions'
    // kNN run the batched IVF probe, averages and margin in exact integer
    // micro-units, argmax via max-struct.
    "q_bitext_margin" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("side", (col("label") % 2 === 1).cast("int"))
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      SimilaritySearch.bitextMarginMine(emb, "vec_id", "embedding", "side",
          cents, k = 4, nProbe = 8, thresholdMicro = 1000000L)
        .orderBy(col("x_id"))
    }),

    "q_embedding_ann_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val indexed = SimilaritySearch.withIvfCell(emb, "embedding", cents)
      val queries = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.ivfBatchTopK(indexed, queries,
          "vec_id", "embedding", "cell", "qid", "qvec",
          cents, k = 5, nProbe = 4)
        .orderBy(col("qid"), col("rank"))
    }),

    // ── LLM-pipeline: retrieval MRR / success@k (Voorhees, TREC-8) over
    // the batched IVF ANN — per query: first same-label hit position,
    // exact integer reciprocal rank, hit flags. The RAG-lookup view next
    // to q_ndcg's graded gains and q_ann_recall's tuning gate.
    "q_retrieval_metrics" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
        "embedding", 16)
      val indexed = SimilaritySearch.withIvfCell(emb, "embedding", cents)
      val queries = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val ranked = SimilaritySearch.ivfBatchTopK(indexed, queries,
          "vec_id", "embedding", "cell", "qid", "qvec",
          cents, k = 5, nProbe = 4)
        .select(col("qid"), col("vec_id").as("id"), col("rank"))
      val rel = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlbl"))
        .join(emb.select(col("vec_id").as("id"), col("label").as("qlbl")),
          Seq("qlbl"))
        .where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"))
      graft.ops.Evaluation.retrievalMetrics(ranked, rel, Seq(1, 5))
        .orderBy(col("qid"))
    }),

    // ── LLM-pipeline: BATCHED IVF+PQ ANN — the full production composition
    // for N queries at once: per-query probe cells AND ADC term tables
    // resolve in-plan, candidates rank on (id, cell, m-byte codes) with
    // floats loaded only for the per-query rerank set. No driver collects.
    "q_embedding_ann_ivfpq_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val cbs = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, ks = 16)
      val indexed = SimilaritySearch.withPqCodes(
        SimilaritySearch.withIvfCell(emb, "embedding", cents), "embedding", cbs)
      val queries = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.ivfPqBatchTopK(indexed, queries,
          "vec_id", "embedding", "cell", "pq", "qid", "qvec",
          cents, cbs, k = 5, nProbe = 8, rerank = 50)
        .orderBy(col("qid"), col("rank"))
    }),

    // ── LLM-pipeline: the FULL Gopher in-document repetition matrix —
    // top-{2,3,4}-gram and dup-{5..10}-gram character fractions, position-
    // exact and overlap-safe. Grams shuffle as md5 hashes keyed on
    // (doc, hash); nothing quadratic, nothing corpus-wide.
    // The corpus is random word soup (no natural in-document repeats), so
    // each document's first 8 words are appended TWICE on both sides —
    // the dup_{5..8} signals get real coverage instead of an empty branch.
    "q_repetition_matrix" -> ((s, d) => {
      val first8 = array_join(
        slice(split(trim(lower(col("text"))), "\\s+"), 1, 8), " ")
      val enriched = Tables.documents(s, d).select(col("doc_id"),
        concat_ws(" ", col("text"), first8, first8).as("text"))
      graft.ops.Corpus.repetitionMatrix(enriched, "doc_id", "text")
        .orderBy(col("doc_id"), col("signal"))
    }),

    // ── LLM-pipeline: exact-substring dedup signal (Lee et al. 2021) —
    // chars inside verbatim ≥20-char spans repeated anywhere in the corpus.
    "q_dup_char_spans" -> ((s, d) =>
      ApproxDedup.dupCharSpanStats(Tables.documents(s, d), "doc_id", "text", n = 20)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: SemDeDup (Abbas et al. 2023) — semantic dedup with
    // the pair search pruned to k-means cells: Σ|cell|² candidates instead
    // of N², shuffles keyed on cell / id only. Oracle replays cell argmax,
    // exact intra-cell cosine pairs, and the transitive closure.
    "q_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      ApproxDedup.semanticDedup(emb, "vec_id", "embedding", cents, threshold = 0.45)
        .orderBy(col("vec_id"))
    }),

    // ── LLM-pipeline: INCREMENTAL SemDeDup — the embedding-space member of
    // the incremental dedup family: half the corpus builds a cell-
    // partitioned SURVIVOR pipe; the other half arrives as a batch, reads
    // the survivor slice partition-pruned to its cells, drops rows within
    // threshold of ANY stored survivor, dedups the remainder among itself
    // (intra-cell pairs → min-label closure), and blind-appends its new
    // survivors. History is never re-clustered. Oracle replays the exact
    // two-phase semantics (A-survivor closure, B-vs-history check,
    // B-internal closure) from the shared centroid rule.
    "q_semantic_dedup_sync" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.where(col("vec_id") % 2 === 0)
      val b = emb.where(col("vec_id") % 2 === 1)
      val th = 0.45
      val cents = SimilaritySearch.sampleCentroids(a, "vec_id", "embedding", 32)
      val aKeepIds = ApproxDedup.semanticDedup(a, "vec_id", "embedding", cents, th)
        .where(col("keep") === 1).select("vec_id")
      def cells(df: DataFrame) =
        SimilaritySearch.withIvfCell(df, "embedding", cents)
          .select(col("vec_id"), col("embedding"), col("cell").cast("long").as("cell"))
      val root = java.nio.file.Files.createTempDirectory("graft_semsync").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "sem_survivors"),
        columns = ColumnRoles(Map("datetime" -> "cell", "id" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val store = eng.storage(spec)
      store.create(cells(a).join(aKeepIds, Seq("vec_id")))
      val bCell = cells(b)
      // bounded driver state: ≤ |centroids| distinct cell labels
      val probeCells = bCell.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val hist = store.readIn(probeCells)
      val newSurv = ApproxDedup.semanticNewSurvivors(bCell, hist,
        "vec_id", "embedding", th)
      store.append(bCell.join(newSurv.select("vec_id"), Seq("vec_id")))
      store.read
        .select(col("vec_id"),
          (col("vec_id") % 2 === 0).cast("int").as("from_base"))
        .orderBy(col("vec_id"))
    }),

    // ── LLM-pipeline: cluster-balanced diversity sample — perCell md5-order
    // representatives of every k-means cell (coverage of every semantic
    // region, not a head-cluster-dominated uniform draw).
    "q_cluster_sample" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      graft.ops.Sampling.clusterSample(emb, "vec_id", "embedding", cents, perCell = 5)
        .orderBy(col("cell"), col("vec_id"))
    }),

    // ── LLM-pipeline: rare-token (hapax) quality statistics — corpus-
    // frequency join, all-integer arithmetic + one division.
    "q_rare_tokens" -> ((s, d) =>
      graft.ops.Corpus.rareTokenStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: unigram-LM log-prob quality signal (CCNet's KenLM
    // perplexity with a unigram surrogate model — same fit/join/reduce
    // plan shape). Micro-nat per-type quantization → integer sums →
    // oracle-exact; xent is one final division.
    "q_unigram_logprob" -> ((s, d) =>
      graft.ops.Corpus.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: CCNet head/middle/tail perplexity buckets — per-
    // language terciles of the unigram-LM cross-entropy, deterministic
    // ntile (ties on doc_id). The window shuffles scores, never text.
    "q_ccnet_buckets" -> ((s, d) =>
      graft.ops.Corpus.ccnetBuckets(Tables.documents(s, d), "doc_id", "text",
          "lang")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: cross-source overlap matrix — shingle Jaccard
    // between every source pair; hashed (source, shingle) rows dedupe
    // before the self-join, so output is |sources|² regardless of corpus.
    "q_source_overlap" -> ((s, d) =>
      graft.ops.Corpus.sourceOverlap(Tables.documents(s, d), "text", "source",
          shingleSize = 3)
        .orderBy(col("s1"), col("s2"))),

    // ── LLM-pipeline: document chunking — sliding 64-token windows with
    // 16-token overlap (stride 48), the doc → training-sequence step.
    // Pure projection + posexplode: zero shuffles at any corpus size.
    "q_doc_chunking" -> ((s, d) =>
      graft.ops.Corpus.chunkDocs(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ── LLM-pipeline: fastText-style hashed linear quality classifier —
    // frozen-model INFERENCE (the CCNet/RedPajama scoring shape): hashed
    // unigram+bigram features, broadcast B-row weight table, integer
    // micro-unit sums. The corpus never shuffles for the model.
    "q_quality_classifier" -> ((s, d) =>
      graft.ops.Corpus.hashedLinearScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: multimodal binary columns ──────────────────────────
    // partition-wise stub decode (mapPartitions = the mapInPandas shape);
    // oracle checks the plumbing-derived fields (byte length, type, frames).
    "q_media_features" -> ((s, d) => {
      // REAL decodes, all three modalities: image payloads are genuine PNG
      // bytes decoded through ImageIO (width/height/mean-luma from the
      // pixel plane), audio payloads genuine RIFF/WAVE PCM walked
      // chunk-by-chunk, video payloads genuine RIFF/AVI containers with
      // uncompressed DIB frames (dims/frame-count/mean-luma from the
      // container walk); the oracle recomputes the expected decode
      // outputs from the fixture's content fold.
      val media = Media.fromDocuments(s, Tables.documents(s, d))
      Media.extractFeatures(media).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
                col("width"), col("height"),
                col("mean_luma_micro"), col("mean_abs_sample"),
                col("n_frames_sampled").cast(LongType).as("n_frames"))
        .orderBy(col("media_id"))
    }),

    // ── LLM-pipeline: video SCENE-CUT detection — shot segmentation over
    // REAL decoded AVI frames (mean |Δluma| between consecutive frames,
    // micro-normalized, integer-exact); the curation step before per-shot
    // sampling/dedup. The oracle replays the fixture's per-frame drift
    // (+7 mod 256), whose wrap count makes the delta content-dependent.
    "q_video_scene_cuts" -> ((s, d) => {
      val media = Media.fromDocuments(s, Tables.documents(s, d))
      Media.sceneCuts(media, cutThresholdMicro = 55000L).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ── LLM-pipeline: audio LOUDNESS / silence segmentation — the REAL
    // decoded PCM stream splits into equal windows reporting mean
    // |sample| (16-bit units); silence flags gate transcription-worthy
    // segments. Oracle replays the fixture's sample rule per window.
    "q_audio_loudness" -> ((s, d) => {
      val media = Media.fromDocuments(s, Tables.documents(s, d))
      Media.loudnessWindows(media, nWindows = 8, silenceThreshold = 14000L)
        .toDF().orderBy(col("media_id"), col("win_idx"))
    }),

    // ── LLM-pipeline: multimodal content-hash dedup — duplicate media
    // payloads (opaque binary) collapse onto their sha-256; one hash agg
    // keyed on the digest, payload bytes never shuffle (the hash does).
    "q_media_dedup" -> ((s, d) => {
      // the dedup key is sha-256 of the ENCODED payload bytes (real PNG /
      // WAV / raw) — SQL cannot re-encode those containers, so the oracle
      // groups by the payload-DETERMINING content tuple instead and the
      // sha column stays engine-internal (the deterministic stored-mode
      // PNG writer makes equal content ⇒ equal bytes ⇒ equal sha)
      val media = Media.fromDocuments(s, Tables.documents(s, d)).toDF()
      media.select(col("media_id"), sha2(col("payload"), 256).as("content_sha256"))
        .groupBy(col("content_sha256"))
        .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("keeper_id"))
        .select(col("n_copies"), col("keeper_id"))
        .orderBy(col("keeper_id"))
    }),

    // ── LLM-pipeline: perceptual (aHash) media near-dup — 64-bit
    // average-hash fingerprints band into 4×16-bit chunks; by pigeonhole
    // the banded equi-join is EXACT for hamming ≤ 3 (never all-pairs), and
    // the verify is one bit_count(xor) per candidate. Luma grids come
    // from REAL decodes for all three modalities (ImageIO pixels / RIFF
    // PCM bins / AVI frame-0 pixels), so near-identical content genuinely
    // lands at small hamming. Every 10th payload is re-ingested under a
    // shifted id (the re-crawl / re-upload case), so the hamming-0 pairs
    // are real rows, not an empty trivially-matching result.
    "q_media_neardups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reup = docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Media.perceptualNearDups(
          Media.fromDocuments(s, docs.unionByName(reup)), maxHamming = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // ── LLM-pipeline: video TEMPORAL near-dup (the content-ID shape) —
    // videos sharing ≥ minShared distinct per-frame aHashes (re-uploads,
    // re-encodes, clipped copies). Equi-join on the frame hash behind a
    // hot-hash cap (black frames / test cards can't go quadratic) — the
    // minhash/winnowing guard applied to the temporal fingerprint. The
    // re-ingested every-10th corpus provides real full-overlap pairs.
    "q_video_temporal_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reup = docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Media.videoTemporalNearDups(
          Media.fromDocuments(s, docs.unionByName(reup)), minShared = 2)
        .orderBy(col("id1"), col("id2"))
    }),

    "q_na_canonicalize" -> ((s, d) => {
      // NA-marker strings → NULL (diff canonicalizer), §2.8
      val ev = Tables.events(s, d).withColumn("event_type",
        when(col("event_id") % 7 === 0, lit("none")).otherwise(col("event_type")))
      Diff.canonicalize(ev)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type").asc_nulls_first)
    }),

    // ── §2.1 docs scan: rows as JSON documents (get_pipe_docs) ───────────
    "q_get_docs" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_docs").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "docs"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      eng.sync(spec, Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id")))
      eng.getDocs(spec, select = Seq("event_id", "user_id"))
        .toDF("doc").orderBy(col("doc"))
    }),

    // ── §2.2 dtype enforcement on READ: the pipe was created through raw
    // storage (no write-side cast), so the declared int32/numeric dtypes on
    // the result can only come from getData's enforcement projection.
    "q_dtype_enforce" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_enforce").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "enforce"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")),
        dtypes = Map(
          "user_id" -> graft.types.Dtypes.parse("int32"),
          "value"   -> graft.types.Dtypes.parse("numeric(18,4)")))
      eng.storage(spec).create(Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value")),
        cluster = false)
      // the quantization is decided by the enforced decimal(18,4); the final
      // double cast only puts the value in a driver-comparable type (same
      // convention as q_decimal_quantize — pandas reads DECIMAL as float)
      eng.getData(spec).select(col("event_id"), col("user_id"),
          col("value").cast(DoubleType).as("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.1 inline literals: simple-lines text → typed frame ────────────
    "q_ingest_lines" -> ((s, d) => {
      val text =
        """sensor:alpha,reading:12,flag:true
          |sensor:beta,reading:7.5,flag:false
          |{"sensor":"gamma","reading":3,"flag":true}""".stripMargin
      graft.sources.Ingest.fromSimpleLines(s, text).orderBy(col("sensor"))
    }),

    // ── §2.1 datetime parsing on ingest: ISO strings → timestamp/date ────
    "q_parse_datetimes" -> ((s, d) => {
      val raw = Tables.events(s, d).select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("ts_str"),
        date_format(col("ts"), "yyyy-MM-dd").as("d_str"))
      // parseDatetimes yields DATE for date-only strings; compare as a
      // midnight timestamp (pandas reads parquet date32 as objects the
      // driver's normalizer won't coerce)
      graft.sources.Ingest.parseDatetimes(raw)
        .withColumn("d_str", col("d_str").cast(TimestampNTZType))
        .orderBy(col("event_id"))
    }),

    // ── §2.8 timezone coercion: naive↔zone conversions ───────────────────
    "q_coerce_tz" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        CoerceTz.convertNaive(col("ts"), "UTC", "America/New_York").as("ts_ny"),
        CoerceTz.stripToUtcNaive(
          CoerceTz.assumeZone(col("ts"), "Europe/Berlin")).as("ts_berlin_utc"))
      .orderBy(col("event_id"))),

    // ── §2.8 round_time: floor + UP + CLOSEST + interval multiple ────────
    "q_round_modes" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        RoundTime.floor(col("ts"), "hour").cast(TimestampNTZType).as("h_floor"),
        RoundTime.ceil(col("ts"), "hour").cast(TimestampNTZType).as("h_ceil"),
        RoundTime.closest(col("ts"), "hour").cast(TimestampNTZType).as("h_closest"),
        RoundTime.floorInterval(col("ts"), "minute", 15)
          .cast(TimestampNTZType).as("m15_floor"))
      .orderBy(col("event_id"))),

    // ── §2.9 autotime with precision: injected clock, 5-minute round-down ─
    "q_autotime_precision" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_autotime").toString
      val eng = new SyncEngine(s, root,
        clock = () => java.time.LocalDateTime.parse("2024-03-07T10:13:27"))
      val spec = PipeSpec(PipeKeys("verify", "autotime"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")),
        autotime = true,
        precision = Some(graft.dsl.Precision("minute", 5, "down")))
      eng.sync(spec, Tables.events(s, d).select(col("event_id"), col("user_id")))
      eng.getData(spec).select(col("event_id"), col("ts"), col("user_id"))
        .orderBy(col("event_id"))
    }),

    // ── §2.4 chunk bounds: epoch-aligned grid with begin clamp ───────────
    "q_chunk_bounds" -> ((s, d) => {
      val bs = graft.dsl.ChunkGrid.bounds(
        java.time.Instant.parse("2024-01-03T07:00:00Z"),
        java.time.Instant.parse("2024-01-20T00:00:00Z"),
        java.time.Duration.ofDays(1))
      import s.implicits._
      bs.map { case (lo, hi) =>
        (java.time.LocalDateTime.ofInstant(lo, java.time.ZoneOffset.UTC),
         java.time.LocalDateTime.ofInstant(hi, java.time.ZoneOffset.UTC)) }
        .toDF("chunk_begin", "chunk_end").orderBy(col("chunk_begin"))
    }),

    // ── §2.9 content-aware verify: values corrupted WITHOUT changing any
    // window's rowcount (raw storage upsert bypasses the sync diff); the
    // per-window XOR content signature flags the damaged days and the
    // bounded re-sync repairs them. A rowcount-only verify passes silently.
    "q_verify_content" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_vcontent").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "content"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      eng.sync(spec, ev)
      eng.storage(spec).upsert(
        ev.where(col("ts") >= lit(ts("2024-01-08 00:00:00")) &&
                 col("ts") <  lit(ts("2024-01-13 00:00:00")))
          .withColumn("value", col("value") + 9999), Seq("event_id"))
      graft.ops.Maintenance.verify(eng, spec, ev, windowMinutes = Some(1440))
      eng.getData(spec)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ── LLM-pipeline: IVF probe against the STORED index. The cell id is
    // the pipe's integer axis with one chunk per cell, so the probe is a
    // partition-pruned read of nProbe directories — the persisted form of
    // q_embedding_ann_ivf's in-plan index.
    "q_embedding_ann_ivf_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val cents   = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val indexed = SimilaritySearch.withIvfCell(emb, "embedding", cents)
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_store").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("ann", "ivf_store"),
        columns = ColumnRoles(Map("datetime" -> "cell", "primary" -> "vec_id")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      val store = eng.storage(spec)
      store.create(indexed) // create() clusters by the chunk (= cell) label
      val probed = store.readIn(
        SimilaritySearch.ivfProbeCells(cents, q, nProbe = 4).map(_.toLong))
      probed.select(col("vec_id"),
          VectorFns.cosineToQuery(col("embedding"), q).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }),

    // ── LLM-pipeline: deterministic train/val/test carve — md5-bucket
    // assignment, reproduced bit-for-bit by the oracle (no RNG/seed drift;
    // append-stable membership). A pure projection: no shuffle until the
    // reporting aggregate.
    // ── LLM-pipeline: per-epoch seeded training-order shuffle — each epoch
    // reads the corpus in a different deterministic pseudo-random order,
    // materialized with NO global sort (shard = seeded hash bucket, pos =
    // rank within shard via a partitioned window; trainer ranks consume
    // shard files independently).
    "q_epoch_shuffle" -> ((s, d) =>
      graft.ops.Sampling.epochShuffle(Tables.documents(s, d), "doc_id",
          seeds = Seq(7L, 13L), shards = 8)
        .orderBy(col("epoch"), col("shard"), col("pos"))),

    "q_train_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.withColumn("split", graft.ops.Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"))
    }),

    // ── LLM-pipeline: the BM25 inverted index maintained INCREMENTALLY as
    // a derived pipe — postings (doc, term, tf, dl) partitioned by md5 term
    // bucket, per-batch (n_docs, sum_dl) stats rows that FOLD at probe time
    // (sum-mergeable, so blind appends == full rebuild). The probe reads
    // only the query terms' ≤ q bucket directories and scores with the
    // SAME code path as q_bm25_topk — the full-corpus oracle replays it.
    "q_bm25_index_sync" -> composed("q_bm25_index_sync"),

    // ── LLM-pipeline: output shard plan — size-targeted export shards in
    // a deterministic md5 order, buckets-way parallel (no global sort);
    // a row's shard is the target-sized window its cumulative start
    // offset falls in, namespaced by bucket.
    "q_shard_plan" -> ((s, d) =>
      graft.ops.Sampling.shardPlan(Tables.documents(s, d), "doc_id",
          col("n_chars"), targetPerShard = 20000L, buckets = 8)
        .orderBy(col("shard_id"))),

    // ── LLM-pipeline: checksummed export manifest — the shard plan plus a
    // per-shard order-independent content signature (sum of 60-bit row
    // hashes, decimal-widened): consumers verify shard integrity without
    // re-reading the corpus.
    "q_shard_manifest" -> ((s, d) =>
      graft.ops.Sampling.shardManifest(Tables.documents(s, d), "doc_id",
          col("n_chars"),
          TextFns.md5Long60(concat(col("doc_id").cast("string"), lit("|"),
            col("text"))),
          targetPerShard = 20000L, buckets = 8)
        .orderBy(col("shard_id"))),

    // ── layout: Morton Z-order clustering key over (user, hour) — sorting
    // by z co-locates rows close in BOTH dimensions so row-group min/max
    // stats prune scans filtered on EITHER column. Pure codegen'd bit
    // arithmetic; the write path is repartitionByRange(z) + sort.
    "q_zorder_values" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("__us", graft.dsl.RoundTime.epochMicros(col("ts")))
        .withColumn("__hr", expr("__us div 3600000000"))
        .select(col("event_id"),
          graft.ops.Maintenance.zValue(col("user_id"), col("__hr"), 16)
            .as("zvalue"))
        .orderBy(col("event_id"))),

    // ── LLM-pipeline: near-dup graph centrality — fixed-iteration PageRank
    // with integer micro-unit ranks (per-edge contributions quantized
    // BEFORE the sum → order-independent at any parallelism; the oracle
    // unrolls the same 3 steps). One edge join + one dst-keyed aggregate
    // per iteration, rank tables checkpointed so plan depth stays flat.
    "q_pagerank" -> ((s, d) => {
      val pairs = ApproxDedup.minhashNearDupsFast(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      graft.ops.Graph.pageRankMicro(pairs, iters = 3).orderBy(col("node"))
    }),

    // ── LLM-pipeline: self-instruct pool dedup by ROUGE-L (Wang et al.,
    // ACL 2023 §3.2 — the Alpaca gate): drop on F1 ≥ 0.7 vs ANY lower-id
    // member; LCS kernel runs only on banded candidate pairs.
    "q_instruction_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.35, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.instructionDedupRougeL(docs, "doc_id", "text", pairs,
        thresholdMicro = 700000L, maxTokens = 32)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: triangles + local clustering coefficient on the
    // near-dup graph — transitive near-dup mass (templates) vs LCC≈0 hubs
    // (degenerate docs the banding over-matches). Degree-ordered
    // orientation (Suri & Vassilvitskii 2011) bounds wedge fanout at
    // O(√E) per node regardless of skew.
    "q_triangle_count" -> ((s, d) => {
      val pairs = ApproxDedup.minhashNearDupsFast(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      graft.ops.Graph.triangleStats(pairs).orderBy(col("node"))
    }),

    // ── LLM-pipeline: triangle/LCC stats maintained INCREMENTALLY as
    // stored pipes — each triangle charged to the batch of its last edge,
    // per-node deltas additive, fold ≡ full-graph rebuild (see `staged`).
    "q_triangle_index_sync" -> composed("q_triangle_index_sync"),

    // ── LLM-pipeline: PMI collocations — top within-doc co-occurring pairs
    // among the top-40 vocabulary, ln(n_ab·N/(n_a·n_b)) in micro-units.
    // Tokens prune to the broadcast vocab BEFORE the shuffle; self-join
    // fanout bounded at V²/2 per doc by configuration.
    "q_pmi_pairs" -> ((s, d) =>
      graft.ops.Corpus.pmiPairs(Tables.documents(s, d), "doc_id", "text",
        vocabK = 40, minPairCount = 5L, k = 25)),

    // ── LLM-pipeline: SOFT dedup — weight each doc by 1/|near-dup cluster|
    // (micro-units) instead of dropping: the cluster's total training
    // influence equals one document's while all text stays visible.
    "q_soft_dedup_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.softDedupWeights(docs, pairs, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: winnowing MATCH pairs (the MOSS composition) — doc
    // pairs sharing ≥ minShared fingerprints; boilerplate fps (> maxDocs
    // docs) drop BEFORE the self-join, so a ubiquitous fingerprint cannot
    // go quadratic.
    "q_winnow_pairs" -> ((s, d) =>
      graft.ops.Corpus.winnowMatchPairs(Tables.documents(s, d),
          "doc_id", "text", k = 8, w = 4, minShared = 5, maxDocsPerFp = 10)
        .orderBy(col("id1"), col("id2"))),

    // ── LLM-pipeline: quality-aware near-dup survivor selection — keep the
    // BEST member of each near-dup cluster (score desc, id tiebreak), via
    // the skew-proof max-struct hash aggregate (no window: a mega-cluster
    // costs its reducer one struct, not a sort).
    "q_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.keepBestPerCluster(
          docs.withColumn("quality", TextFns.qualityScore(col("text"))),
          pairs, "doc_id", "quality")
        .orderBy(col("cluster_id"))
    }),

    // ── LLM-pipeline: per-source data card — the release-notes summary in
    // ONE scan + grouped aggregate (exact-unique adds the expand shuffle);
    // all columns integral (quality in exact micro-units), zero float-
    // parity risk.
    "q_data_card" -> ((s, d) =>
      graft.ops.Corpus.dataCard(Tables.documents(s, d),
        "source", "lang", "text").orderBy(col("source"))),

    // ── LLM-pipeline: the data card maintained INCREMENTALLY as stored
    // pipes (additive batch summaries + a fingerprint pipe for the
    // non-additive unique count); fold ≡ rebuild (see `staged`).
    "q_data_card_sync" -> composed("q_data_card_sync"),

    // ── LLM-pipeline: the BPE tokenizer as a STORED artifact — train on
    // half, persist merges as a pipe, apply to the full corpus (see
    // `staged`).
    "q_bpe_stored_apply" -> composed("q_bpe_stored_apply"),

    // ── LLM-pipeline: the perceptual media index maintained as a stored
    // pipe — re-upload probes read ≤ 4 bucket dirs and verify from stored
    // hashes; payload bytes never leave their scan (see `staged`).
    "q_media_index_sync" -> composed("q_media_index_sync"),
    "q_videohash_index_sync" -> composed("q_videohash_index_sync"),

    // ── LLM-pipeline: BPE pair counting — the tokenizer-training kernel
    // (one merge iteration = this op). The only corpus-sized pass is the
    // map-side-combined word-frequency aggregate; the pair explode runs
    // over the |vocab|-row table, corpus-size-independent.
    "q_bpe_pairs" -> ((s, d) =>
      graft.ops.Corpus.bpePairCounts(Tables.documents(s, d), "text", k = 30)),

    // ── LLM-pipeline: per-source KL from the corpus unigram mix — the
    // data-mixing diagnostic behind DoReMi/Pile weight tuning. Micro-nat
    // integer sums (order-independent, oracle-exact); text never shuffles.
    "q_domain_kl" -> ((s, d) =>
      graft.ops.Corpus.domainDivergence(Tables.documents(s, d),
        "source", "text").orderBy(col("source"))),

    // ── LLM-pipeline: FULL BPE tokenizer training — 8 merge iterations of
    // Sennrich Alg. 1 producing the merge table. The corpus is scanned
    // ONCE (the vocab fit); every iteration runs on the |vocab|-row
    // table with the merge applied as a literal left-to-right replace —
    // identical greedy semantics in Spark and the oracle's CTE chain.
    "q_bpe_train" -> ((s, d) =>
      graft.ops.Corpus.bpeTrain(Tables.documents(s, d), "text", nMerges = 8)),

    // ── LLM-pipeline: WordPiece tokenizer TRAINING (Schuster & Nakajima
    // 2012 — the BERT family): the BPE merge loop scored by likelihood
    // gain freq(ab)/(freq(a)·freq(b)) as an EXACT integer rational
    // (DECIMAL(38,0) products, integral divide) — no float decides a
    // merge; ties lexicographic; same |vocab|-row iteration cost.
    "q_wordpiece_train" -> ((s, d) =>
      graft.ops.Corpus.wordPieceTrain(Tables.documents(s, d), "text",
        nMerges = 8)),

    // ── LLM-pipeline: multinomial Naive Bayes TRAINING (McCallum & Nigam
    // 1998 — the fastText/CCNet shallow-classifier shape): the model IS
    // additive counts, so training is one map-side-combined scan and the
    // smoothed per-(label, token) log-likelihoods are micro-quantized
    // types. Output = the model artifact.
    "q_nb_train" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // checkpoint the type-level count table BEFORE the vocab count so
      // the corpus tokenize+aggregate runs once (the vocab action and the
      // model's internal snap otherwise each replayed it)
      val (_, toks0) = graft.ops.Classify.nbCounts(docs, "source", "text", 16)
      val toks = toks0.localCheckpoint(true)
      val v = toks.select(col("token")).distinct().count()
      graft.ops.Classify.nbModel(toks, v)
        .orderBy(col("label"), col("token"))
    }),

    // ── LLM-pipeline: NB classification at corpus scale — doc-token counts
    // fan |labels| ways, one broadcast model join, per-doc argmax window
    // (partitioned by doc, never global). Self-trained on the corpus, so
    // the oracle replays train + classify end-to-end.
    "q_nb_classify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (cls, toks) = graft.ops.Classify.nbCounts(docs, "source", "text", 16)
      val v = toks.select(col("token")).distinct().count()
      graft.ops.Classify.nbClassify(docs, "doc_id", "source", "text",
          cls, toks, v)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: ridge LINEAR PROBE (Hoerl & Kennard 1970) — the
    // closed-form trained linear classifier next to NB: exact integer
    // Gram/moment aggregates (one corpus scan, per-doc fanout <= dims^2),
    // a bounded dims^3 driver solve with nothing to oscillate, micro-long
    // shipped weights, exact integer application. Eval = confusion over
    // the long-doc label; the oracle replays application from the
    // inlined artifact, the solve is residual-pinned in RidgeProbeSpec.
    "q_linear_probe_eval" -> ((s, d) => {
      val (feats, w) = RidgeModel.forDir(s, d)
      graft.ops.Classify.ridgeProbeEval(feats, w)
    }),

    // ── LLM-pipeline: confident-learning label-noise audit (Northcutt
    // et al., JAIR 2021) — the confident joint C[given ỹ, confident y*]
    // over the NB score table: per-class self-confidence thresholds,
    // threshold-cleared argmax, |labels|² cells; off-diagonal mass =
    // estimated label noise. Softmax terms quantize per (doc, label)
    // TYPE before any sum — no order-dependent float reduction.
    "q_confident_learning" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (cls, toks) = graft.ops.Classify.nbCounts(docs, "source", "text", 16)
      val v = toks.select(col("token")).distinct().count()
      val scores = graft.ops.Classify.nbScores(docs, "doc_id", "source",
        "text", cls, toks, v)
      graft.ops.Classify.confidentLearning(scores, "doc_id")
        .orderBy(col("given_label"), col("star_label"))
    }),

    // ── LLM-pipeline: the NB model maintained INCREMENTALLY as stored
    // pipes — counts are additive, fold ≡ retrain (see `staged`).
    "q_nb_index_sync" -> composed("q_nb_index_sync"),

    // ── LLM-pipeline: SentencePiece-style UNIGRAM-LM tokenizer TRAINING
    // (Kudo 2018) — the production tokenizer family next to BPE. Seed
    // vocab = top frequent substrings + all chars; 2 Viterbi-EM rounds
    // over the |vocab|-row word table (corpus touched once, the bpeTrain
    // discipline); final top-V prune. Integer-micro log-probs end to end;
    // the oracle replays the identical seed → DP-ladder → backtrace →
    // re-estimate chain in SQL.
    // trains FRESH on every run (no memo) so the bench prices the actual
    // training cost — the corpus-pass vocab fit + EM rounds; the OTHER
    // q_sp_* queries amortize through SpModel (the production shape:
    // train once, apply everywhere)
    "q_sp_unigram_train" -> ((s, d) =>
      graft.ops.SpUnigram.modelDf(s,
        graft.ops.SpUnigram.trainModel(Tables.documents(s, d), "text",
          SpSeed, SpP, SpIters, SpV, SpCap))
        .orderBy(col("cnt").desc, col("piece"))),

    // ── LLM-pipeline: unigram-tokenizer APPLICATION at corpus scale —
    // Viterbi segmentation computed once per DISTINCT word under the
    // trained model, stamped by ONE token equi-join (the bpeSegmentCounts
    // shape); per-doc token/subword counts.
    "q_sp_unigram_apply" -> ((s, d) =>
      graft.ops.SpUnigram.subwordCounts(Tables.documents(s, d),
          "doc_id", "text",
          SpModel.scores(SpModel.forScope(s, d, "full")), SpP, SpCap)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: tokenizer VOCAB PRUNING A/B — the shipping step for
    // a trained vocab (drop the long tail, shrink the embedding table):
    // multi-char pieces under minCnt drop, single chars never (coverage),
    // log-probs renormalize, and the per-doc subword counts land side by
    // side with the unpruned model's — the fertility cost of the smaller
    // table, measured on this corpus.
    "q_sp_prune_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val m = SpModel.forScope(s, d, "full")
      val pruned = graft.ops.SpUnigram.pruneModel(m, SpPruneKeep)
      val base = graft.ops.SpUnigram.subwordCounts(docs, "doc_id", "text",
        SpModel.scores(m), SpP, SpCap)
      val pr = graft.ops.SpUnigram.subwordCounts(docs, "doc_id", "text",
        pruned.map { case (p, _, lp) => p -> lp }.toMap, SpP, SpCap)
      base.select(col("doc_id"), col("n_tokens"),
          col("n_subwords").as("n_sub_base"))
        .join(pr.select(col("doc_id"),
          col("n_subwords").as("n_sub_pruned")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: the SP-unigram tokenizer as a STORED artifact —
    // train on half, persist the model pipe, segment the full corpus from
    // the stored pieces (see `staged`).
    "q_sp_stored_apply" -> composed("q_sp_stored_apply"),

    // ── LLM-pipeline: skip-gram pairs with ¾-power negative sampling
    // (Mikolov et al. 2013) — embedding-training data prep: positive
    // (center, context) types from ±2 offsets (pure array projections),
    // 2 md5-deterministic negatives per positive from the capped noise
    // table; reproducible across engines and reshards.
    "q_skipgram_pairs" -> ((s, d) =>
      graft.ops.Corpus.skipgramPairs(Tables.documents(s, d), "doc_id",
          "text", window = 2, negK = 2, negVocab = 1000)
        .orderBy(col("center"), col("context"), col("label"), col("n"))),

    // ── LLM-pipeline: the TOKENIZER A/B TABLE — BPE vs WordPiece vs
    // SP-unigram fertility on the same corpus in one report (the
    // pick-your-tokenizer capstone of the three trainer families); each
    // arm is its own vocab-bounded trainer + one token equi-join.
    "q_tokenizer_ab" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // r16 (r15 verdict item 4): ONE word-frequency fit shared by all
      // three trainers (was: one corpus vocab pass per trainer plus an
      // 8-round merge REPLAY for the WordPiece fertility), and
      // constant-group fertility computed from the trainers' final
      // |vocab|-row state (per-occurrence corpus join ≡ freq-weighted
      // vocab sums when the group column is a literal). Row-identical —
      // pinned in OptimizationEquivalenceSpec, re-oracled.
      val words = graft.ops.Corpus.vocab(docs, "text").localCheckpoint(true)
      val (_, bpeV) = graft.ops.Corpus.bpeTrainStateFromWords(words, nMerges = 8)
      val bpe = graft.ops.Corpus.fertilityFromTrainedState(bpeV, "bpe", "__fam")
      val (_, wpV) = graft.ops.Corpus.wordPieceTrainStateFromWords(words, nMerges = 8)
      val wp = graft.ops.Corpus.fertilityFromTrainedState(wpV, "wordpiece", "__fam")
      val sp = graft.ops.SpUnigram.fertilityFromWords(words, "sp_unigram",
        "__fam", SpModel.scores(SpModel.forScope(s, d, "full")), SpP, SpCap)
      graft.ops.ApproxDedup.freeCheckpoint(words)
      bpe.unionByName(wp).unionByName(sp)
        .withColumnRenamed("__fam", "family")
        .orderBy(col("family"))
    }),

    // ── LLM-pipeline: tokenizer fertility under the SP-unigram family —
    // row-for-row comparable with q_fertility_report's BPE numbers (same
    // schema, same integer micro ratios), the A/B a tokenizer choice reads.
    "q_sp_fertility" -> ((s, d) =>
      graft.ops.SpUnigram.fertilityReport(Tables.documents(s, d),
          "text", "lang",
          SpModel.scores(SpModel.forScope(s, d, "full")), SpP, SpCap)
        .orderBy(col("lang"))),

    // ── LLM-pipeline: APPLY the trained BPE tokenizer at corpus scale —
    // per-doc subword counts: segmentation computed once per DISTINCT
    // word (vocab-sized loop), stamped by ONE token equi-join. The number
    // every data-budget pipeline actually wants.
    "q_bpe_subwords" -> ((s, d) =>
      graft.ops.Corpus.bpeSegmentCounts(Tables.documents(s, d),
        "doc_id", "text", nMerges = 8).orderBy(col("doc_id"))),

    // ── LLM-pipeline: corpus snapshot diff — the dataset-versioning
    // changelog: added/removed/changed/same per doc id between two corpus
    // versions. Both sides reduce to (id, md5) BEFORE the one full-outer
    // join; text never shuffles.
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldV = docs.where(col("doc_id") % 7 =!= 0)
      val newV = docs.where(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Corpus.corpusDiff(oldV, newV, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: padding-waste report — pick sequence-length buckets
    // by measuring the pad-token overhead each boundary set costs. One
    // scan projection (CASE ladder) + one |boundaries|-row aggregate.
    "q_padding_waste" -> ((s, d) =>
      graft.ops.Corpus.paddingWaste(Tables.documents(s, d),
        TextFns.tokenCount(col("text")), boundaries = Seq(64, 128, 256, 512))),

    // ── LLM-pipeline: C4 "badwords" blocklist filter — exact token-
    // boundary matching, occurrence counts + keep flag in one scan
    // projection (zero shuffles); the blocklist rides as an array literal.
    "q_blocklist_filter" -> ((s, d) =>
      graft.ops.Corpus.blocklistFilter(Tables.documents(s, d),
          "doc_id", "text", words = Seq("table", "scan", "fast"), maxHits = 1L)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: Aho–Corasick multi-pattern blocklist — ONE automaton
    // pass per doc (O(len + hits) at ANY pattern count, vs the array
    // literal's O(len · patterns)); overlapping + nested patterns counted
    // at every end position ("scan"/"can"/"an" all hit inside "scan").
    "q_ac_blocklist" -> ((s, d) =>
      graft.ops.Corpus.acBlocklistFilter(Tables.documents(s, d),
          "doc_id", "text", patterns = AcPatterns, maxHits = 2L)
        .orderBy(col("doc_id"))),

    // Blocklist audit report: which patterns fire, in how many docs, how
    // often — one explode + one |patterns|-bounded hash aggregate.
    "q_ac_pattern_stats" -> ((s, d) =>
      graft.ops.Corpus.acPatternStats(Tables.documents(s, d),
          "doc_id", "text", patterns = AcPatterns)
        .orderBy(col("pattern"))),

    // ── LLM-pipeline: near-dup cluster SIZE distribution — the dedup-rate
    // diagnostic a release report publishes ("how big are the duplicate
    // families"): cluster sizes → size histogram, two tiny aggregates over
    // the |clustered docs|-row label table.
    "q_cluster_sizes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.nearDupClusters(pairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    }),

    // ── LLM-pipeline: near-dup SOURCE matrix — dedup diagnostics: how
    // near-dup pairs distribute within/across sources ("is crawl B a
    // re-crawl of A?"). Two id equi-joins + one grouped count; output
    // ≤ |sources|² rows at any corpus size.
    "q_neardup_source_matrix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.nearDupSourceMatrix(docs, pairs, "doc_id", "source")
    }),

    // ── LLM-pipeline: percentile winsorization — clamp n_chars to its
    // exact [p05, p95] (the percentile ⇄ quantile_cont parity the
    // percentile queries prove), clipped flags for audit. One 2-value
    // bounds aggregate broadcast over a scan projection.
    "q_winsorize" -> ((s, d) =>
      graft.ops.Maintenance.winsorize(Tables.documents(s, d),
        "doc_id", col("n_chars"), pLo = 0.05, pHi = 0.95)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: PSI drift bins — the production distribution-shift
    // monitor between two corpus snapshots (here the doc_id parity halves)
    // over fixed equi-width n_chars bins; per-bin PSI terms in exact
    // micro-nats, totals as an OVER () window over the bins-row grid.
    "q_psi_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Maintenance.psiBins(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        col("n_chars"), lo = 0.0, hi = 4000.0, bins = 20)
    }),

    // ── LLM-pipeline: EXACT two-sample Kolmogorov–Smirnov drift between
    // the same snapshots — binning-free (catches tail shifts PSI's bins
    // wash out): type-level distinct-value collapse, one allowlisted
    // bounded window, integer micro ECDFs, TakeOrdered(1) head.
    "q_ks_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Maintenance.ksDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        col("n_chars"))
    }),

    // ── LLM-pipeline: PSI against a STORED baseline — monitoring as a
    // materialized pipeline: the baseline snapshot's |bins|-row count
    // table persists as a pipe (bin = integer epoch axis, one chunk per
    // bin) and every later snapshot compares against the STORE without
    // re-reading the baseline corpus. Values equal q_psi_drift's by
    // construction — the oracle proves the storage round-trip is exact.
    "q_psi_drift_stored" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = graft.ops.Maintenance.psiBinCounts(
        docs.where(col("doc_id") % 2 === 0), col("n_chars"),
        lo = 0.0, hi = 4000.0, bins = 20)
      val root = java.nio.file.Files.createTempDirectory("graft_psi").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("monitor", "psi_base"),
        columns = ColumnRoles(Map("datetime" -> "bin")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      eng.storage(spec).create(base.withColumn("bin", col("bin").cast("long")))
      val stored = eng.storage(spec).read
        .select(col("bin").cast("int").as("bin"), col("cnt"))
      graft.ops.Maintenance.psiBinsFromCounts(stored,
        docs.where(col("doc_id") % 2 === 1), col("n_chars"),
        lo = 0.0, hi = 4000.0, bins = 20)
    }),

    // ── LLM-pipeline: exact KS vs a STORED baseline — the binning-free
    // drift monitor as a materialized pipeline: the baseline's additive
    // per-distinct-value counts persist as a pipe (value-bucketed) and
    // later snapshots compare against the STORE without re-reading the
    // baseline corpus; values equal q_ks_drift's by construction.
    "q_ks_drift_stored" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = graft.ops.Maintenance.ksValueCounts(
        docs.where(col("doc_id") % 2 === 0), col("n_chars"))
      val root = java.nio.file.Files.createTempDirectory("graft_ks").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("monitor", "ks_base"),
        columns = ColumnRoles(Map("datetime" -> "bucket")),
        epochUnit = Some("minute"), chunkMinutes = 1)
      eng.storage(spec).create(base.withColumn("bucket", pmod(col("v"), lit(16L))))
      val stored = eng.storage(spec).read.select(col("v"), col("ca"))
      graft.ops.Maintenance.ksDriftFromCounts(stored,
        docs.where(col("doc_id") % 2 === 1), col("n_chars"))
    }),

    // ── LLM-pipeline: SQ8 reconstruction-error QA — cosine between every
    // vector and its dequantized int8 code in exact micro-units: the gate
    // before shipping a quantized index. Pure scan projection.
    "q_sq_recon_error" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val scale = SimilaritySearch.maxAbsScale(emb, "embedding")
      SimilaritySearch.sqReconstructionError(
          SimilaritySearch.withInt8(emb, "embedding", scale),
          "vec_id", "embedding", "qvec", scale)
        .orderBy(col("vec_id"))
    }),

    // ── LLM-pipeline: hybrid retrieval via reciprocal-rank fusion — BM25
    // lexical top-20 fused with embedding-cosine top-20 (ids share the
    // corpus space), micro-unit integer fusion scores. The heavy retrieval
    // happens upstream; fusion is a union of tiny frames + one aggregate.
    "q_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = graft.ops.Corpus.bm25TopK(docs, "doc_id", "text",
          query = Seq("table", "scan", "fast", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))))
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val sem = emb.select(col("vec_id").as("doc_id"),
          graft.functions.VectorFns.cosineToQuery(col("embedding"), qv).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("doc_id"))))
      graft.ops.Corpus.rrfFuse(
        Seq(lex.select(col("doc_id"), col("rank")),
            sem.select(col("doc_id"), col("rank"))),
        "doc_id", "rank", k = 10)
    }),

    // ── LLM-pipeline: rank-biased overlap (Webber et al. 2010) between
    // the lexical (BM25) and semantic (cosine) top-20 lists — the
    // retrieval-A/B ranking-similarity number next to the RRF fusion.
    // Per-depth weights are driver doubles shared verbatim with the
    // oracle; overlaps are exact counts over two ≤20-row rank lists.
    "q_rbo" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = graft.ops.Corpus.bm25TopK(docs, "doc_id", "text",
          query = Seq("table", "scan", "fast", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))))
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val sem = emb.select(col("vec_id").as("doc_id"),
          graft.functions.VectorFns.cosineToQuery(col("embedding"), qv).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("doc_id"))))
      graft.ops.Evaluation.rbo(lex.select(col("doc_id"), col("rank")),
        sem.select(col("doc_id"), col("rank")),
        "doc_id", "rank", depth = 20, p = 0.9)
    }),

    // ── LLM-pipeline: Krippendorff's α (nominal, missing-tolerant) — the
    // agreement statistic for incomplete rating panels, completing the
    // Cohen-κ / Fleiss-κ family. Exact integer numerator/denominator via
    // the lcm-scaled coincidence weights; items keep any ≥2-rater subset.
    "q_krippendorff" -> ((s, d) => {
      val rated = Tables.events(s, d).select(
          pmod(col("event_id"), lit(997L)).as("item"),
          pmod(col("user_id"), lit(5L)).as("rater"),
          col("event_id"),
          expr("CAST(round(value) AS BIGINT) * 4 div 491").as("lbl"))
        .groupBy(col("item"), col("rater"))
        .agg(min(struct(col("event_id"), col("lbl"))).as("p"))
        .select(col("item"), col("rater"), col("p.lbl").as("lbl"))
        // missingness is the point: drop a deterministic slice of ratings
        .where(pmod(col("item") + col("rater"), lit(7L)) =!= 0)
      graft.ops.Evaluation.krippendorffAlpha(rated, "item", "lbl",
        maxRaters = 5)
    }),

    // ── LLM-pipeline: ITQ binary hashing A/B (Gong & Lazebnik 2011) —
    // data-adaptive binary codes vs SRP-LSH at EQUAL bits, graded by
    // recall@10 of Hamming-ranked candidates against exact cosine top-10
    // per query (the q_opq_recon ship-gate shape for the binary family).
    "q_itq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (w, o) = ItqModel.forDir(s, d)
      val planes = SimilaritySearch.srpPlanes(dim = 64, nBits = ItqBits)
      val itq = SimilaritySearch.hammingRecallReport(
        SimilaritySearch.withAffineSignature(emb, "embedding", w, o),
        "vec_id", "embedding", "sig", ItqQids, k = 10, cand = 50, "itq")
      val srp = SimilaritySearch.hammingRecallReport(
        SimilaritySearch.withSrpSignature(emb, "embedding", planes),
        "vec_id", "embedding", "sig", ItqQids, k = 10, cand = 50, "srp")
      itq.unionByName(srp).orderBy(col("method"), col("qid"))
    }),

    // ── LLM-pipeline: PCA variance-explained report (the FAISS PCAMatrix
    // preprocessing gate): components trained driver-side on the bounded
    // lowest-id sample (Jacobi, fixed sweeps — the OPQ training bound),
    // variance measured over the FULL corpus in ONE scan with
    // milli-quantized centered projections and DECIMAL(38,0) square sums.
    "q_pca_variance" -> ((s, d) => {
      val (comps, eigs, mean) = PcaModel.forDir(s, d)
      SimilaritySearch.pcaVarianceReport(Tables.embeddings(s, d),
        "embedding", comps, eigs, mean)
    }),

    // ── LLM-pipeline: exact-substring duplicate REMOVAL (Lee et al. 2021's
    // applied dedup): corpus-duplicated ≥20-char spans are cut everywhere
    // but their first occurrence, with island-merged intervals and ordered
    // segment reconstruction. The corpus gains partial clones (first 60
    // chars + a unique tail) so keepers, cuts, and kept tails all exercise:
    // originals (lower ids) survive untouched, clones lose exactly the
    // cloned prefix and keep their tails.
    "q_remove_dup_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(
        docs.where(col("doc_id") % 10 === 0).select(
          (col("doc_id") + lit(100000L)).as("doc_id"),
          concat(substring(col("text"), 1, 60), lit(" tail-"),
            col("doc_id").cast("string")).as("text")))
      ApproxDedup.removeDupSpans(corpus, "doc_id", "text", n = 20)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: interpolated-bigram LM cross-entropy — one modeling
    // step up from q_unigram_logprob toward CCNet's KenLM: catches
    // degenerate word ORDER a unigram score is blind to. ONE corpus scan
    // (persisted token arrays feed both explodes); micro-nat integer sums.
    "q_bigram_logprob" -> ((s, d) =>
      graft.ops.Corpus.bigramLogProb(Tables.documents(s, d),
        "doc_id", "text", lambda = 0.7).orderBy(col("doc_id"))),

    // ── LLM-pipeline: interpolated-TRIGRAM LM cross-entropy — the next
    // KenLM rung (position ≥3 under λ₃·tri + λ₂·bg + (1−λ₃−λ₂)·uni;
    // position 2 backs the conditional mass onto the bigram; position 1
    // unigram floor). Catches short-range templating the bigram smooths
    // over. ONE corpus scan: persisted token arrays feed the unigram /
    // pair / triple explodes; all model tables type-level equi-joins.
    "q_trigram_logprob" -> ((s, d) =>
      graft.ops.Corpus.trigramLogProb(Tables.documents(s, d),
        "doc_id", "text", lambda3 = 0.5, lambda2 = 0.3)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: Moore–Lewis cross-entropy difference selection
    // (ACL 2010) — rank candidates by H_in − H_out under an in-domain vs
    // a general trigram LM; the classic data-selection signal. Two scorer
    // passes + one id equi-join; exact LONG micro-nats, one IEEE division.
    "q_moore_lewis_select" -> ((s, d) =>
      // fused self-trained form — identical values to the generic
      // two-trigramModelCounts + crossEntropySelect composition (same
      // oracle); see Corpus.crossEntropySelectSelf for the cost argument
      graft.ops.Corpus.crossEntropySelectSelf(Tables.documents(s, d),
          "doc_id", "text", col("lang") === "en")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: epoch materialization — the upsampling step after
    // the token-budget plan: each doc repeats floor(rate) times plus a
    // deterministic md5-coin fractional epoch. Broadcast rate table +
    // pure projection/explode; append-stable per-document coin.
    "q_epoch_materialize" -> ((s, d) =>
      graft.ops.Sampling.materializeEpochs(Tables.documents(s, d),
          "doc_id", "lang", TextFns.tokenCount(col("text")),
          Seq("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
          budget = 60000L)
        .orderBy(col("doc_id"), col("epoch"))),

    // ── LLM-pipeline: per-SOURCE weighted sampling — the balanced-subset
    // builder (k docs per source ∝ length): the weightedSample key ranked
    // inside each group by one keyed window. Integer key, id tiebreak.
    "q_weighted_sample_grouped" -> ((s, d) =>
      graft.ops.Sampling.weightedSamplePerGroup(Tables.documents(s, d),
          "doc_id", "source", col("n_chars"), k = 5)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: composed curation v2 — blocklist gate → winsorized
    // quality → per-source balanced weighted sample, ONE fused lazy plan:
    // the scan-level gates fuse into the projection, the winsorize bounds
    // broadcast, and the only shuffle is the final group-sample window.
    "q_curation_v2" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gated = graft.ops.Corpus.blocklistFilter(docs, "doc_id", "text",
          words = Seq("table", "scan", "fast"), maxHits = 1L)
        .where(col("keep"))
        .join(docs, Seq("doc_id"))
      val winsored = graft.ops.Maintenance.winsorize(gated, "doc_id",
        col("n_chars"), pLo = 0.05, pHi = 0.95)
      graft.ops.Sampling.weightedSamplePerGroup(
          winsored.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
          "doc_id", "source", col("v_winsor"), k = 3)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: weighted sampling WITHOUT replacement ∝ n_chars —
    // Gumbel-top-k over quantized log-weights ≡ Efraimidis–Spirakis; the
    // md5 coin makes it engine-portable and reshuffle-stable. Pure scan
    // projection + TakeOrdered, zero shuffles.
    "q_weighted_sample" -> ((s, d) =>
      graft.ops.Sampling.weightedSample(Tables.documents(s, d),
        "doc_id", col("n_chars"), k = 50)),

    // ── LLM-pipeline: hard-negative mining (contrastive training data) —
    // per query vector, the top-k nearest with a DIFFERENT label, IVF-cell
    // pruned with the mismatch predicate applied before the ranking window.
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id", "embedding", 16)
      val indexed = SimilaritySearch.withIvfCell(emb, "embedding", cents)
      val queries = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      SimilaritySearch.hardNegatives(indexed, queries,
          "vec_id", "embedding", "cell", "label", "qid", "qvec", "qlabel",
          cents, k = 5, nProbe = 4)
        .orderBy(col("qid"), col("rank"))
    }),

    // ── LLM-pipeline: BM25 top-k retrieval — rank documents against a
    // bag-of-words query (curation lookups: "which training docs most
    // resemble this eval prompt"). Token rows filter to the query's terms
    // BEFORE the tf shuffle; df and (N, avgdl) broadcast; per-term scores
    // quantize to integer micro-units before the order-free sum.
    "q_bm25_topk" -> ((s, d) =>
      graft.ops.Corpus.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        query = Seq("table", "scan", "fast", "vector"), k = 15)),

    // ── LLM-pipeline: language-ID confusion matrix — the model-eval
    // harness over the labeled corpus (which langs the n-gram heuristic
    // confuses). One scan-fused prediction projection + one grouped count.
    "q_langid_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), TextFns.langId(col("text")).as("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred_lang"))),

    // ── analytics: cohort retention over events — users grouped by their
    // first-activity day, counted distinct per whole-week offset. All
    // integer arithmetic (epoch-micro div), so the oracle is exact; two
    // aggregates + one id-keyed join.
    "q_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .withColumn("__us", graft.dsl.RoundTime.epochMicros(col("ts")))
        .withColumn("__cus", graft.dsl.RoundTime.epochMicros(col("cohort_day")))
        .withColumn("week_offset", expr("(__us - __cus) div 604800000000"))
        .groupBy(col("cohort_day"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("week_offset"))
    }),

    // ── analytics: Mann–Kendall monotonic-trend test over daily ingest
    // counts (Mann 1945) — "is the monitor drifting or wiggling":
    // distribution-free S over the bounded day grid, tie-corrected
    // Var(S), continuity-corrected z. Complements q_daily_bursts (spikes)
    // and q_changepoint (level shifts) with the TREND verdict.
    "q_mann_kendall" -> ((s, d) =>
      graft.ops.Evaluation.mannKendall(
        Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("t"))
          .agg(count(lit(1)).as("v")),
        "t", "v")),

    // ── analytics: EWMA control chart (Roberts 1959) over daily ingest
    // counts — the small-persistent-shift monitor next to q_daily_bursts'
    // spike rule: per-term nano-quantized coefficient unroll (exact
    // integer weighted sums), k-dependent limits from the same shipped
    // coefficient table; σ is the one float stage.
    "q_ewma_chart" -> ((s, d) =>
      graft.ops.Maintenance.ewmaChart(
        Tables.events(s, d)
          .groupBy(datediff(date_trunc("day", col("ts")).cast("date"),
            to_date(lit("1970-01-01"))).as("t"))
          .agg(count(lit(1)).as("v")),
        "t", "v", alpha = 0.3, l = 3, baselineK = 15)
        .orderBy(col("t"))),

    // ── analytics: Theil–Sen slope of daily ingest counts — the robust
    // trend MAGNITUDE next to q_mann_kendall's direction verdict: median
    // of all pairwise slopes over the bounded day grid.
    "q_sen_slope" -> ((s, d) =>
      graft.ops.Evaluation.senSlope(
        Tables.events(s, d)
          .groupBy(datediff(date_trunc("day", col("ts")).cast("date"),
            to_date(lit("1970-01-01"))).as("t"))
          .agg(count(lit(1)).as("v")),
        "t", "v")),

    // ── analytics: pairwise association rules (Agrawal & Srikant 1994)
    // over (user, event-type) baskets — support/confidence/lift as exact
    // integer micro-rationals; the market-basket view next to
    // q_event_trigrams' sequential patterns.
    "q_association_rules" -> ((s, d) =>
      graft.ops.Relational.associationRules(
        Tables.events(s, d).select(col("user_id").as("b"),
          col("event_type").as("i")),
        "b", "i")
        .orderBy(col("antecedent"), col("consequent"))),

    // ── analytics: Kaplan–Meier survival with right-censoring (Kaplan &
    // Meier 1958) — feature-subscription lifetime: subject = (user,
    // event type), duration = first→last activity; subjects active in
    // the trailing 3 days are censored. The product runs in log space
    // with per-term micro quantization over the bounded duration grid
    // (two allowlisted windows).
    "q_kaplan_meier" -> ((s, d) =>
      graft.ops.Relational.kaplanMeier(
        Tables.events(s, d).select(
          concat_ws("#", col("user_id"), col("event_type")).as("subj"),
          col("ts")),
        "subj", "ts", censorTailDays = 3)
        .orderBy(col("duration_days"))),

    // ── analytics: strictly-ordered event funnel — step k counts only
    // strictly after step k−1's first completion. One pre-filtered
    // id-keyed aggregate per step; |steps| output rows.
    "q_event_funnel" -> ((s, d) =>
      graft.ops.Relational.funnel(Tables.events(s, d),
          "user_id", "event_type", "ts",
          steps = Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step"))),

    // ── daily burst detection — ingest monitoring: days whose event count
    // exceeds mean + 3σ of the trailing 7 full days (self-excluded).
    // Integer window sums → identical IEEE shapes both engines.
    "q_daily_bursts" -> ((s, d) =>
      graft.ops.Relational.dailyBursts(Tables.events(s, d), "ts",
        sigma = 3.0, window = 7)),

    // ── events: HITS authorities over the user × event-type bipartite
    // graph — 3 mutually-recursive half-steps, exact-long sums, one IEEE
    // L1 renormalization per half-step.
    "q_hits" -> ((s, d) =>
      graft.ops.Graph.hitsAuthoritiesMicro(
        Tables.events(s, d).select(col("user_id").as("u"),
          col("event_type").as("t"), lit(1L).as("w")),
        "u", "t", "w", iters = 3)
        .orderBy(col("t"))),

    // ── events: Markov stationary distribution of the event-type chain —
    // where user journeys spend their long-run time; 4 quantized power
    // iterations, dangling mass redistributed, renormalized each step.
    "q_markov_stationary" -> ((s, d) =>
      graft.ops.Relational.markovStationaryMicro(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id", iters = 4)
        .orderBy(col("state"))),

    // ── events: change-point per event type — the best-split mean-shift
    // day (level shift a local burst detector normalizes away); windows
    // partition by type over |days| rows, exact integer rational gap.
    "q_changepoint" -> ((s, d) =>
      graft.ops.Relational.changepointSplit(Tables.events(s, d),
        "event_type", "ts")
        .orderBy(col("event_type"))),

    // ── funnel step latencies — "median time to purchase": the funnel
    // fixpoint keeping per-user completion times; per transition the
    // converter count and exact interpolated p50/p90 gap seconds.
    "q_funnel_latency" -> ((s, d) =>
      graft.ops.Relational.funnelLatency(Tables.events(s, d),
          "user_id", "event_type", "ts",
          steps = Seq("signup", "view", "click", "purchase"))
        .orderBy(col("transition"))),

    // ── event-sequence trigram mining — the flow-mining primitive ("what
    // happens right before a purchase"): one user-keyed lag window, one
    // map-combined count, TakeOrdered. Deterministic (ts, event_id) order.
    "q_event_trigrams" -> ((s, d) =>
      graft.ops.Relational.eventNgrams(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id", n = 3, k = 25)),

    // ── windowed funnel: each step must land within 48h of the previous
    // step's completion — the "conversion within T" product metric. Same
    // shrinking-frame composition; the bound compares exact epoch micros.
    "q_funnel_windowed" -> ((s, d) =>
      graft.ops.Relational.funnel(Tables.events(s, d),
          "user_id", "event_type", "ts",
          steps = Seq("signup", "view", "click", "purchase"),
          maxGapUs = Some(48L * 3600L * 1000000L))
        .orderBy(col("step"))),

    // ── time-series rolling window: per-user trailing-24h count + sum —
    // ONE user-keyed window shuffle with a RANGE frame over exact epoch
    // micros; the summed value quantizes to micro-longs first, so the
    // result is exact under ANY frame-evaluation strategy (slide,
    // recompute, segment tree) and the oracle replays it.
    "q_rolling_24h" -> ((s, d) =>
      graft.ops.Relational.rollingWindow(
          Tables.events(s, d).select(col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", "value", windowUs = 24L * 3600 * 1000000L)
        .orderBy(col("user_id"), col("ts"))),

    // ── time-series resample: per-user 6-hour LOCF grid — the classic
    // gap-fill downsample, composed from the as-of join (grid explode +
    // ONE keyed shuffle; grid points before a user's first event stay
    // null). Oracle = DuckDB's native ASOF LEFT JOIN.
    "q_resample_locf" -> ((s, d) =>
      graft.ops.Relational.resampleLocf(
          Tables.events(s, d).select(col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", Seq("value"), "interval 6 hours")
        .orderBy(col("user_id"), col("grid_ts"))),

    // ── LLM-pipeline: leakage-safe split — near-dup cluster members NEVER
    // straddle the train/val/test boundary: membership hashes the CLUSTER
    // label (min reachable id through the minhash pair graph), so a test
    // document's near-twin cannot sit in train. Singletons degrade to the
    // plain md5-of-id carve of q_train_split.
    "q_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs,
        "doc_id", "text", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      graft.ops.Sampling.leakageSafeSplit(docs, pairs, "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: per-source quota cap (crawl balancing) — at most n
    // documents per source, the quota going to the best quality scores.
    // Salted two-stage top-n: the group window never funnels a whole
    // (head) domain through one task; stage-2 state is n·salts rows per
    // group, bounded by configuration.
    "q_source_cap" -> ((s, d) =>
      graft.ops.Sampling.capPerGroup(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            TextFns.qualityScore(col("text")).as("quality")),
          "source", Seq(col("quality").desc, col("doc_id").asc), n = 10,
          saltOn = col("doc_id"), salts = 8)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: token-budget mixture plan — the data-card accounting
    // step: per-source token supply vs budgeted demand under target mixture
    // weights, implied sampling rate, and epochs-over-source (rate > 1 ⇒
    // the source repeats). One map-combined aggregate + broadcast weights.
    "q_token_budget_plan" -> ((s, d) => {
      val weights = (0 until 20).map(i => s"src$i" -> (i + 1).toDouble / 210.0)
      graft.ops.Sampling.tokenBudgetPlan(Tables.documents(s, d), "source",
          TextFns.subwordCount(col("text")), weights, budget = 1000000L)
        .orderBy(col("source"))
    }),

    // ── LLM-pipeline: near-dup probe against the STORED band index. The
    // inverted (band, bandHash) table persists with one chunk per bucket;
    // probing one document reads only its ≤ `bands` bucket directories
    // (partition-pruned), then exact-verifies the candidates. bands = 6 →
    // r = 4 rows/band: the PRODUCTION kernel; the query doc's true
    // near-dups are j ≈ 0.99, which an r=4 band matches with probability
    // 1−(1−j⁴)⁶ ≈ 1, so the one-vs-all exact-Jaccard oracle still holds.
    "q_minhash_probe_stored" -> composed("q_minhash_probe_stored"),

    // ── LLM-pipeline: the corpus VOCABULARY maintained incrementally as a
    // derived pipe — per-batch (bucket, token, freq) rows blind-append
    // (counting is additive), readers fold with one groupBy-sum over the
    // |vocab|-row index instead of re-tokenizing the corpus. Probing a
    // term's frequency reads its ONE md5 bucket dir; this query rolls up
    // the stored index to the top-30 — oracle = the full-corpus count.
    "q_vocab_index_sync" -> composed("q_vocab_index_sync"),

    // ── LLM-pipeline: HyperLogLog distinct-shingle estimate — sizes the
    // MinHash band store before a corpus-wide dedup run. Deterministic
    // md5 registers, ONE map-combined aggregate to 2^p rows; the oracle
    // replays every register bit-for-bit.
    "q_hll_distinct" -> ((s, d) =>
      graft.ops.Sketches.hllDistinct(
        graft.ops.Sketches.shingleValues(Tables.documents(s, d), "text", 3),
        p = 8)),

    // ── LLM-pipeline: per-GROUP HLL — distinct vocabulary per source in
    // one map-combined pass (|groups|·2^p register rows, fold-by-max
    // stored shape unchanged); the "distinct per key" production staple.
    "q_hll_by_source" -> ((s, d) =>
      graft.ops.Sketches.hllEstimateByGroup(
        graft.ops.Sketches.hllRegisters(
          graft.ops.Sketches.tokenValuesByGroup(
            Tables.documents(s, d), "source", "text"),
          p = 8, extraKeys = Seq("grp")),
        p = 8).orderBy(col("grp"))),

    // ── LLM-pipeline: KMV / bottom-k distinct estimate — the cross-check
    // estimator next to HLL (different failure modes, same one-pass cost).
    "q_kmv_distinct" -> ((s, d) =>
      graft.ops.Sketches.kmvEstimate(
        graft.ops.Sketches.kmvSketch(
          graft.ops.Sketches.shingleValues(Tables.documents(s, d), "text", 3),
          k = 256), k = 256)),

    // ── LLM-pipeline: KMV SET OPERATIONS — pairwise cross-source
    // distinct-overlap/Jaccard/intersection estimates from bottom-k
    // sketches (the theta-sketch move): "how many unique shingles do
    // these two crawls share" from |sources|·k longs, text never joined.
    "q_kmv_overlap" -> ((s, d) =>
      graft.ops.Sketches.kmvOverlap(Tables.documents(s, d),
          "source", "text", shingleSize = 3, k = 64)
        .orderBy(col("s1"), col("s2"))),

    // ── LLM-pipeline: count-min point estimates vs exact counts — the
    // sketch-bias calibration report (est ≥ exact always; the gap is the
    // collision bias being measured). Probe list includes an absent term.
    "q_cms_heavy" -> ((s, d) => {
      val vals = graft.ops.Sketches.tokenValues(Tables.documents(s, d), "text")
      graft.ops.Sketches.cmsPointReport(
        graft.ops.Sketches.cmsCounters(vals, d = 4, w = 512), vals,
        Seq("scan", "join", "window", "batch", "zzz_absent_term"),
        d = 4, w = 512)
        .orderBy(col("term"))
    }),

    // ── LLM-pipeline: exact φ-heavy hitters — the ground truth a count-min
    // deployment calibrates against. Docs gain a skew injector (5×"spark"
    // on every 3rd id) so exactly one token crosses the 1/20 threshold.
    "q_heavy_hitters" -> ((s, d) => {
      val skewed = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" spark spark spark spark spark")).otherwise(lit(""))).as("text"))
      graft.ops.Sketches.heavyHitters(
        graft.ops.Sketches.tokenValues(skewed, "text"), k = 20)
        .orderBy(col("v"))
    }),

    // ── LLM-pipeline: STORED sketches maintained incrementally — HLL
    // registers fold by max, CMS counters by sum; fold ≡ rebuild, so the
    // oracle for each is the full-corpus sketch.
    "q_hll_index_sync" -> composed("q_hll_index_sync"),
    "q_dd_index_sync" -> composed("q_dd_index_sync"),
    "q_dd_grouped_index_sync" -> composed("q_dd_grouped_index_sync"),
    "q_bt_index_sync" -> composed("q_bt_index_sync"),
    "q_cms_index_sync" -> composed("q_cms_index_sync"),
    "q_novelty_index_sync" -> composed("q_novelty_index_sync"),
    "q_centroid_drift_index_sync" -> composed("q_centroid_drift_index_sync"),
    "q_ac_index_sync" -> composed("q_ac_index_sync"),

    // ── LLM-pipeline: Flesch readability per doc — three codegen'd regex
    // counts on the scan, zero shuffle; integer products, truncating div.
    "q_readability" -> ((s, d) =>
      graft.ops.TextStats.readability(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: lexical-diversity profile (TTR + hapax share) —
    // repetition loops sit near TTR 0, word salad near hapax 1.
    "q_lexical_diversity" -> ((s, d) =>
      graft.ops.TextStats.lexicalDiversity(Tables.documents(s, d),
        "doc_id", "text").orderBy(col("id"))),

    // ── LLM-pipeline: URL deny-list — prefix matching under the pure
    // trie walk (O(min(|url|, max prefix)) at ANY list size, where a
    // startsWith OR-chain is O(url · prefixes)); synthetic URLs derive
    // deterministically from (source, lang, doc_id) on both engines.
    "q_prefix_blocklist" -> ((s, d) =>
      graft.ops.Corpus.prefixBlocklist(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example/"),
            col("lang"), lit("/"), col("doc_id")).as("url")),
        "doc_id", "url", prefixes = UrlDenyPrefixes)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: fill-in-the-middle transform (Bavarian et al.
    // 2022) — deterministic md5 cut points, PSM re-serialization; pure
    // scan projection, zero shuffles.
    "q_fim_transform" -> ((s, d) =>
      graft.ops.Corpus.fimTransform(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: T5 span corruption (Raffel et al. 2020 §3.1.4) —
    // deterministic per-position masking, runs merge into sentinel spans;
    // the only window is per-document.
    "q_span_corruption" -> ((s, d) =>
      graft.ops.Corpus.spanCorruption(Tables.documents(s, d), "doc_id",
        "text", pct = 15).orderBy(col("doc_id"))),

    // ── LLM-pipeline: UL2 mixture-of-denoisers (Tay et al. 2022) — the
    // corpus under R (15%) and X (45%) denoiser configs with mode tokens,
    // unioned into one training mixture.
    "q_ul2_mixture" -> ((s, d) =>
      graft.ops.Corpus.ul2Mixture(Tables.documents(s, d), "doc_id", "text",
        configs = Seq("R" -> 15, "X" -> 45))
        .orderBy(col("doc_id"), col("denoiser"))),

    // ── LLM-pipeline: composed RELEASE REPORT — the per-source dataset
    // nutrition label a release publishes in one table: the data card
    // (counts/tokens/quality/uniques) ⋈ the PII exposure fraction ⋈ the
    // distinct-2 diversity. One scan per signal family, joined on the
    // |sources|-row axis.
    "q_release_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Corpus.dataCard(docs, "source", "lang", "text")
        .join(graft.ops.Cleaning.piiReport(docs, "source", "text")
          .select(col("source"), col("pii_doc_frac_micro")), Seq("source"))
        .join(graft.ops.TextStats.distinctN(docs, "source", "text", Seq(2))
          .select(col("grp").as("source"),
            col("distinct_micro").as("distinct2_micro")), Seq("source"))
        .orderBy(col("source"))
    }),

    // ── LLM-pipeline: distinct-n diversity per source (Li et al. 2016) —
    // templated/mode-collapsed sources crater distinct-2 before any
    // per-doc signal moves. One grams pass per n, |sources| rows out.
    "q_distinct_n" -> ((s, d) =>
      graft.ops.TextStats.distinctN(Tables.documents(s, d), "source", "text")
        .orderBy(col("grp"), col("n"))),

    // ── LLM-pipeline: Heaps'-law vocabulary-growth fit — exact
    // (tokens_seen, types) at doc-prefix checkpoints from ONE corpus
    // pass, log-log least squares over micro-quantized points.
    "q_heaps_law" -> ((s, d) =>
      graft.ops.TextStats.heapsLaw(Tables.documents(s, d), "doc_id", "text")),

    // ── LLM-pipeline: per-doc shingle NOVELTY vs a reference corpus —
    // "is this crawl batch new text?" (odd ids probe against even ids).
    "q_ngram_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TextStats.ngramNovelty(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: sentence-level BLEU-4 (generation eval) — each odd
    // doc as candidate against its preceding even doc as reference;
    // clipped n-gram matches + brevity penalty, add-one smoothing on the
    // n ≥ 2 precisions. Counts exact; ONE float stage at the end.
    "q_bleu_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Evaluation.bleuPairs(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1L).as("doc_id"), col("text")),
        "doc_id", "text").orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: ROUGE-1/2 on the same pairing (Lin 2004) —
    // summarization-eval recall/precision/F1 as PURE integer rationals
    // (no float stage anywhere).
    "q_rouge_n" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Evaluation.rougeN(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1L).as("doc_id"), col("text")),
        "doc_id", "text").orderBy(col("doc_id"), col("n"))
    }),

    // ── LLM-pipeline: ROUGE-L (Lin 2004 §3.2) on the same pairing — the
    // LCS metric (order-sensitive, non-consecutive) via ONE generated
    // static DP call per pair; P/R/F1 are exact integer rationals, the
    // oracle replays the DP as an anti-diagonal recursive CTE.
    "q_rouge_l" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Evaluation.rougeL(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1L).as("doc_id"), col("text")),
        "doc_id", "text", maxTokens = 32).orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: chrF₂ (Popović 2015) on the same pairing — the
    // tokenizer-free metric (char 1..6-grams, both-direction clipped
    // matches, effective-order macro P/R, recall-weighted F₂).
    "q_chrf_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Evaluation.chrfPairs(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1L).as("doc_id"), col("text")),
        "doc_id", "text").orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: length-bucketed BATCH PLAN — the data-loader
    // materialization after the padding-waste report picks boundaries;
    // md5 shards keep the plan shards-way parallel (no per-bucket global
    // sort funnel at 100 TB).
    "q_length_batches" -> ((s, d) =>
      graft.ops.Sampling.lengthBatchPlan(Tables.documents(s, d), "doc_id",
        col("n_chars"), boundaries = Seq(128, 256, 512), batchSize = 8,
        shards = 4)
        .orderBy(col("bucket"), col("shard"), col("batch_id"))),

    // ── LLM-pipeline: DPO preference-pair construction — per prompt
    // group, chosen = best completion, rejected = worst, kept only past
    // the reward margin gate (Rafailov et al. 2023's data shape). One
    // max-struct + min-struct hash aggregate, |groups| rows out.
    "q_preference_pairs" -> ((s, d) =>
      graft.ops.Rlhf.preferencePairs(
        Tables.events(s, d).select(expr("event_id div 8").as("grp"),
          col("event_id"), round(col("value") * 100).cast("long").as("reward_centi")),
        "grp", "event_id", "reward_centi", minMargin = 50L)
        .orderBy(col("grp"))),

    // ── LLM-pipeline: per-group reward z-normalization (advantage-style
    // whitening before preference-pair construction) — exact long moments,
    // one IEEE division per row, floor-micro. Output thinned by id for the
    // dump; the statistics are over the FULL table.
    "q_reward_zscore" -> ((s, d) =>
      graft.ops.Rlhf.rewardZScore(
        Tables.events(s, d).select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("reward_centi")),
        "event_type", "event_id", "reward_centi")
        .where(col("event_id") % 13 === 0)
        .orderBy(col("event_id"))),

    // ── LLM-pipeline: best-of-n selection per group (rejection sampling /
    // BoN distillation) — one skew-proof max-struct hash aggregate.
    "q_best_of_n" -> ((s, d) =>
      graft.ops.Rlhf.bestOfN(
        Tables.events(s, d).select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("reward_centi")),
        "event_type", "event_id", "reward_centi")
        .orderBy(col("event_type"))),

    // ── LLM-pipeline: reward-model CALIBRATION report (r7 ask) — the
    // reliability diagram of the group-whitened reward against an outcome
    // label: exact-long z-moments per prompt group, integer min–max rescale
    // to micro-units, ≤ nBins-row calibration aggregate. pos_rate rising
    // with mean_score = the reward ordering carries signal.
    "q_reward_calibration" -> ((s, d) =>
      graft.ops.Rlhf.rewardCalibration(
        Tables.events(s, d).select(col("event_type"),
          round(col("value") * 100).cast("long").as("reward_centi"),
          (col("value") > lit(50.0d)).cast("int").as("lbl")),
        "event_type", "reward_centi", "lbl", nBins = 8)
        .orderBy(col("bin"))),

    // ── LLM-pipeline: filter-ablation matrix — which quality gates bite
    // and which are redundant: pairwise kill-set sizes + integer-micro
    // Jaccard overlap from ONE CASE-ladder aggregate pass (k·(k+1)/2
    // longs per reducer; pair rows explode from the single aggregated row).
    "q_filter_ablation" -> ((s, d) => {
      import graft.functions.TextFns
      graft.ops.Evaluation.filterAblation(Tables.documents(s, d), Seq(
          "few_words" -> (size(filter(TextFns.tokens(col("text")),
            t => length(t) > 0)) < 50),
          "low_stopword" -> (TextFns.stopwordHits(col("text"), "en") < 2),
          "too_long" -> (length(col("text")) > 20000),
          "too_short" -> (length(col("text")) < 200)))
        .orderBy(col("filter_a"), col("filter_b"))
    }),

    // ── LLM-pipeline: quality-threshold sweep — the calibration table a
    // curation run reads before picking its gate: docs/tokens surviving
    // each candidate threshold, one CASE-ladder aggregate pass.
    "q_quality_sweep" -> ((s, d) =>
      graft.ops.Corpus.qualityThresholdSweep(Tables.documents(s, d),
        TextFns.qualityScore(col("text")), TextFns.tokenCount(col("text")),
        thresholds = Seq(0.25, 0.5, 0.75, 1.0))),

    // ── LLM-pipeline: dedup-rate curve — verified near-dup pair counts at
    // every candidate threshold from ONE fast-path pass at the lowest one
    // (higher thresholds are subsets of the same verified pair list).
    "q_dedup_rate_curve" -> ((s, d) =>
      ApproxDedup.dedupRateCurve(Tables.documents(s, d), "doc_id", "text",
        thresholds = Seq(0.3, 0.5, 0.7, 0.9), shingleSize = 3, k = 24,
        bands = 6, estSlack = 0.25, maxBucket = 200)),

    // ── LLM-pipeline: LSH parameter-tuning report — for every (bands,
    // rows) factorization of the k=24 signature, the MEASURED candidate
    // workload on this corpus next to the theoretical match probability at
    // the threshold; the operator you run on a sample before committing a
    // 100 TB dedup pass to one configuration. Buckets key on slice VALUES
    // (engine-portable), one cached signature pass.
    "q_minhash_tuning" -> ((s, d) =>
      ApproxDedup.minhashTuning(Tables.documents(s, d), "doc_id", "text",
          threshold = 0.5, shingleSize = 3, k = 24)
        .orderBy(col("bands"))),

    // ── LLM-pipeline: C4 line-level cleaning (Raffel §2.2) — terminal-
    // punctuation / min-words / "javascript" line gates plus the brace and
    // lorem-ipsum page gates, over synthesized multi-line pages (prose
    // line, nav chrome, a js placeholder, per-id code/filler variants).
    // Pure scan projection — zero shuffles at any corpus size.
    "q_c4_line_clean" -> ((s, d) => {
      val page = Tables.documents(s, d).select(col("doc_id"),
        concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("Click here"),
          concat(lit("All rights reserved by "), col("source"),
            lit(" media group")),
          lit("Please enable javascript to view this page."),
          when(col("doc_id") % 5 === 0, lit("if (x) { return; }"))
            .otherwise(lit("This closing sentence has exactly seven words!")),
          when(col("doc_id") % 17 === 0,
              lit("Lorem Ipsum dolor sit amet text filler."))
            .otherwise(concat(lit("Document "), col("doc_id"),
              lit(" concludes with a proper sentence.")))).as("text"))
      graft.ops.Cleaning.c4LineClean(page, "doc_id", "text",
          minWords = 5, minLines = 2)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: per-source template-line detection — lines present
    // in ≥60% of a source's documents (cookie banner on every page, the
    // even-id newsletter line on only half) via ONE (source, line)-keyed
    // map-combined aggregate; prevalence compares integers, output is
    // flagged-lines-sized.
    "q_boilerplate_lines" -> ((s, d) =>
      graft.ops.Cleaning.boilerplateLines(boilerplatePages(s, d),
          "doc_id", "text", "source", minFrac = 0.6, minDocs = 2L)
        .orderBy(col("source"), col("line"))),

    // ── LLM-pipeline: boilerplate removal — the flagged template lines
    // broadcast into a left-anti join over the exploded pages; documents
    // reassemble in original line order (the only shuffle). Short chrome
    // ("© 2024") is exempt by the length floor and survives.
    "q_remove_boilerplate" -> ((s, d) =>
      graft.ops.Cleaning.removeBoilerplate(boilerplatePages(s, d),
          "doc_id", "text", "source", minFrac = 0.6, minDocs = 2L)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: EVAL-side contamination report (Brown et al. 2020
    // App. C) — per benchmark item (every 20th doc), the fraction of its
    // distinct 3-gram shingles found anywhere in the disjoint training
    // corpus. Bench shingles broadcast; the corpus never shuffles.
    "q_contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Corpus.contaminationReport(
          docs.where(col("doc_id") % 20 =!= 0),
          docs.where(col("doc_id") % 20 === 0),
          "doc_id", "text", shingleSize = 3, threshold = 0.5)
        .orderBy(col("bench_id"))
    }),

    // ── LLM-pipeline: tokenizer fertility report (Rust et al. 2021) —
    // subwords/word and chars/subword per language under the corpus-trained
    // 6-merge BPE, in exact integer micro-units. Merge loop is vocab-sized;
    // the corpus is touched by ONE token equi-join.
    "q_fertility_report" -> ((s, d) =>
      graft.ops.Corpus.fertilityReport(Tables.documents(s, d), "text",
          "lang", nMerges = 6)
        .orderBy(col("lang"))),

    // ── LLM-pipeline: UniMax language-balanced budget allocation (Chung
    // et al. 2023) — the sequential ascending-supply pass resolved as
    // closed-form water-filling over |languages| window rows; the four
    // small languages cap at 1 epoch, the en head takes the remainder.
    "q_unimax_alloc" -> ((s, d) =>
      graft.ops.Sampling.unimaxAllocation(Tables.documents(s, d), "lang",
          graft.functions.TextFns.tokenCount(col("text")).cast("long"),
          budget = 20000L, epochCap = 1)
        .orderBy(col("lang"))),

    // ── LLM-pipeline: temperature-scaled mixture (mT5's α-sampling) — the
    // companion table to UniMax: shares ∝ supply^0.3, one transcendental
    // per LANGUAGE micro-quantized before the exact integer share math.
    "q_temperature_mixture" -> ((s, d) =>
      graft.ops.Sampling.temperatureMixture(Tables.documents(s, d), "lang",
          graft.functions.TextFns.tokenCount(col("text")).cast("long"),
          budget = 20000L, alpha = 0.3)
        .orderBy(col("lang"))),

    // ── LLM-pipeline: curriculum / domain-interleaved training order —
    // round r takes each source's r-th longest document; the (round,
    // domain_idx) key is the training order, computed with ONE
    // domain-keyed window and no global sort.
    "q_curriculum_interleave" -> ((s, d) =>
      graft.ops.Sampling.curriculumInterleave(Tables.documents(s, d),
          "doc_id", "source",
          graft.functions.TextFns.tokenCount(col("text")).cast("long"))
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: PII exposure report — per-source email/phone span
    // counts (the audit table published before/after redaction), over
    // deterministically synthesized contact lines; regexp counting fused
    // into the scan, one |sources|-row aggregate.
    "q_pii_report" -> ((s, d) => {
      val page = Tables.documents(s, d).select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
              concat(lit(" contact u"), col("doc_id"), lit("@mail.org")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" call +1 555-0199 now"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Cleaning.piiReport(page, "source", "text")
        .orderBy(col("source"))
    }),

    "q_boilerplate_index_sync" -> composed("q_boilerplate_index_sync"),

    // ── LLM-pipeline: Zipf power-law fit over the vocabulary head — the
    // corpus-health diagnostic (natural text: slope ≈ −1; templated or
    // synthetic text bends the curve). One map-combined token count; the
    // fit resolves from five exact integer micro-nat sums.
    "q_zipf_fit" -> ((s, d) =>
      graft.ops.Corpus.zipfFit(Tables.documents(s, d), "text", topV = 100)),

    // ── LLM-pipeline: semantic drift between snapshots (embedding PSI) —
    // both halves of the embeddings table assign to the SAME 16 baseline
    // cells, per-cell shares compare via add-one-smoothed PSI micro-nat
    // terms. The embedding analog of q_psi_drift: catches topical shift
    // scalar monitors cannot see.
    "q_semantic_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 2 === 0)
      val cur  = emb.where(col("vec_id") % 2 === 1)
      val cents = SimilaritySearch.sampleCentroids(base, "vec_id", "embedding", 32)
      SimilaritySearch.semanticDrift(base, cur, "embedding", cents)
    }),

    // ── §2.8 special-column inference: uuid/json shapes hiding in string
    // columns are detected from the VALUES (all-sampled-match rule); the
    // oracle replays the same per-column counting decision in SQL. `maybe`
    // mixes uuids with source words on a data-dependent predicate, so the
    // "not uniform → stays str" branch is decided by the data, not the query.
    "q_infer_special" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      def hx(a: Int, b: Int) = substring(md5(col("doc_id").cast("string")), a, b)
      val uuid = concat_ws("-", hx(1, 8), hx(9, 4), hx(13, 4), hx(17, 4), hx(21, 12))
      val df = docs.select(
        uuid.as("u"),
        when(col("doc_id") % 7 === 0, col("source")).otherwise(uuid).as("maybe"),
        concat(lit("{\"n\":"), col("n_chars").cast("string"), lit("}")).as("j"),
        col("lang").as("s"))
      val inferred = graft.ops.SpecialCols.infer(df)
      df.columns.toSeq.sorted.map { c =>
        c -> graft.types.Dtypes.format(
          inferred.getOrElse(c, graft.types.MrsmType.MStr))
      }.toDF("col_name", "dtype").orderBy(col("col_name"))
    }),

    // ── §2.8 geometry SRID reprojection (reference project_geometry,
    // utils/dtypes/__init__.py:874-881): synthesize deterministic lon/lat
    // points, run them through the FULL codec chain
    // (WKT → WKB → projectWkb 4326→3857 → WKB → WKT → parse), and compare
    // against the oracle's independent closed-form Web Mercator arithmetic.
    // x is bit-exact (IEEE mult/div only, same operation order); y passes
    // through libm tan/ln, so BOTH sides round to 3 decimals (≈1 mm).
    "q_geo_reproject" -> ((s, d) => {
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        (pmod(col("c_custkey") * 7, lit(360)).cast("double") - 180.0 + 0.25).as("lon"),
        (pmod(col("c_custkey") * 3, lit(170)).cast("double") - 85.0 + 0.125).as("lat"))
      val wkt  = concat(lit("POINT ("), col("lon").cast("string"), lit(" "),
                        col("lat").cast("string"), lit(")"))
      val back = graft.functions.DtypeFns.wkbToWkt(
        graft.functions.DtypeFns.projectWkb(
          graft.functions.DtypeFns.wktToWkb(wkt), 4326, 3857))
      pts.select(col("c_custkey"),
          regexp_extract(back, "POINT \\(([-0-9.E]+) ([-0-9.E]+)\\)", 1)
            .cast("double").as("x"),
          regexp_extract(back, "POINT \\(([-0-9.E]+) ([-0-9.E]+)\\)", 2)
            .cast("double").as("y"))
        // y at 2 decimals (cm): it passes through libm tan/ln, and the
        // coarser grid gives a 10× margin against an ulp difference
        // straddling a rounding boundary at larger scale factors
        .select(col("c_custkey"),
          round(col("x"), 3).as("x3857"), round(col("y"), 2).as("y3857"))
        .orderBy(col("c_custkey"))
    }),

    // ── §2.1 API (HTTP) fetch: the reference's api-connector ingest. An
    // in-process ND-JSON instance serves the events table; the source plans
    // 5-day chunk windows on the driver and each TASK pulls its own window
    // over HTTP (executor-parallel, the partitioned-JDBC shape — the
    // reference funnels every chunk through the driver). Bounds prune
    // server-side; params re-apply locally. localCheckpoint materializes
    // the pull so the server can stop before the query returns.
    "q_api_fetch" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.events(s, d).select(
          RoundTime.epochMicros(col("ts")).as("us"),
          to_json(struct(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("ts"),
            col("user_id"), col("event_type"), col("value"))).as("j"))
        .as[(Long, String)].collect().toSeq
      val h = graft.sources.NdjsonServer.serve(rows)
      try {
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", StringType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val src  = new graft.sources.ApiSource(h.url, schema, chunkMinutes = 5 * 1440)
        val spec = PipeSpec(PipeKeys("api", "events"),
          columns = ColumnRoles(Map("datetime" -> "ts")))
        val fetched = src.fetch(s, spec,
            begin = Some(java.time.LocalDateTime.parse("2024-01-05T00:00:00")),
            end   = Some(java.time.LocalDateTime.parse("2024-01-20T00:00:00")),
            params = Map("event_type" -> Seq("click", "view")))
          .localCheckpoint(true)
        fetched.select(col("event_id"),
            to_timestamp(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
              .cast(TimestampNTZType).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .orderBy(col("event_id"))
      } finally h.stop()
    }),

    // ── as-of join as a first-class operator (the general form of the
    // reference's per-id join_fetch): each purchase picks up the latest
    // preceding click for its user. Union+window — ONE shuffle on the key,
    // no range-join cross product.
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
                col("value").as("click_value"))
      graft.ops.Relational.asofJoin(purchases, clicks, Seq("user_id"),
          "ts", "ts", rightPayload = Seq("click_id", "click_value"),
          rightOrder = Seq("click_id"))
        .orderBy(col("event_id"))
    }),

    // ── as-of join, FORWARD direction with a tolerance window (pandas
    // merge_asof surface): each purchase picks up the NEXT click within
    // 2 hours — same single-shuffle union+window machinery on the negated
    // axis; beyond-tolerance matches null out, rows stay.
    "q_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      graft.ops.Relational.asofJoin(purchases, clicks, Seq("user_id"),
          "ts", "ts", rightPayload = Seq("click_id"),
          rightOrder = Seq("click_id"),
          direction = "forward", toleranceUs = Some(2L * 3600 * 1000000))
        .orderBy(col("event_id"))
    }),

    // ── gap-based sessionization (4h inactivity): lag + running sum, one
    // shuffle on the session key; gap compared in exact integer micros.
    "q_sessionize" -> ((s, d) =>
      graft.ops.Relational.sessionBounds(Tables.events(s, d),
          "user_id", "ts", gapSeconds = 14400, tiebreak = Seq("event_id"))
        .orderBy(col("user_id"), col("session_idx"))),

    // ── range join (point-in-interval), bucketized: purchases falling in
    // user 7's session windows. Intervals explode onto a 6h bucket grid,
    // points land in one bucket, hash equi-join + exact residual — never
    // the broadcast-nested-loop Spark plans for a raw inequality join.
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sessions = graft.ops.Relational.sessionBounds(
          ev.where(col("user_id") === 7), "user_id", "ts",
          gapSeconds = 14400, tiebreak = Seq("event_id"))
        .drop("user_id")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("ts").as("pt_ts"))
      graft.ops.Relational.pointInIntervalJoin(sessions, purchases,
          "session_start", "session_end", "pt_ts",
          bucketWidthUs = 6L * 3600 * 1000000)
        .select(col("session_idx"), col("session_start"), col("session_end"),
                col("event_id"), col("pt_ts"))
        .orderBy(col("session_idx"), col("event_id"))
    }),

    // ── LLM-pipeline: vocabulary build (token frequency top-k) ───────────
    "q_vocab_topk" -> ((s, d) =>
      graft.ops.Corpus.vocabTopK(Tables.documents(s, d), "text", 100)),

    // ── LLM-pipeline: benchmark decontamination — corpus docs containing
    // ≥50% of a benchmark doc's 3-gram shingles. Benchmark side broadcast;
    // per-shingle rows only cross the shuffle.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Corpus.decontaminate(docs,
          docs.where(col("doc_id") % 20 === 0), "doc_id", "text",
          shingleSize = 3, threshold = 0.5)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // ── LLM-pipeline: Gopher/C4 repetition filters — top-bigram fraction
    // and distinct-sentence ratio, computed relationally (explode + two
    // map-side-combined aggregates), never per-row quadratic lambdas.
    "q_repetition_stats" -> ((s, d) =>
      graft.ops.Corpus.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: winnowing fingerprints (Schleimer et al. 2003),
    // k=8 char-grams, window w=4 — pure projection, zero shuffle.
    "q_winnow_fingerprints" -> ((s, d) =>
      graft.ops.Corpus.winnowFingerprints(Tables.documents(s, d),
          "doc_id", "text", k = 8, w = 4)
        .orderBy(col("doc_id"), col("fp"))),

    // ── LLM-pipeline: stratified sampling — per-language keep rates from
    // the same deterministic md5 buckets as the train split (no RNG).
    "q_stratified_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .where(graft.ops.Sampling.stratifiedPredicate(col("doc_id"),
          col("lang"), Seq("en" -> 10, "zh" -> 50), defaultRate = 100))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: DSIR importance weights (Xie et al. 2023) — hashed
    // unigram+bigram buckets, add-one-smoothed target/raw log-ratios
    // quantized to integer micro-nats BEFORE summation (long aggregates are
    // order-independent → oracle-exact; double sums are not). Target domain
    // here: the English subset; raw corpus: everything.
    "q_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Dsir.importanceWeightsMicro(
        docs, docs.where(col("lang") === "en"), "doc_id", "text", nBuckets = 256)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: DSIR Gumbel-top-k resample — deterministic md5-coin
    // Gumbel noise (micro-nats), integer scores, id tiebreak: samples k
    // docs ∝ softmax(logw) reproducibly on any engine.
    "q_dsir_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Dsir.select(docs, docs.where(col("lang") === "en"),
        "doc_id", "text", nBuckets = 256, k = 40)
        .orderBy(col("score_micro").desc, col("doc_id"))
    }),

    // ── LLM-pipeline: Shannon character entropy via the native generated
    // expression — one pass per row, no per-character explode; micro-nat
    // quantization per distinct char keeps the value oracle-exact.
    "q_char_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFns.charEntropyMicro(col("text")).as("entropy_micro"),
          TextFns.charEntropy(col("text")).as("entropy"))
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: token-budget mixture sampling — per-domain budgets
    // (Pile/DoReMi-style mixture weights as integer token budgets), md5
    // in-domain order, exact LONG running totals.
    "q_mixture_sample" -> ((s, d) =>
      graft.ops.Sampling.mixtureSample(Tables.documents(s, d), "doc_id", "lang",
        TextFns.tokenCount(col("text")),
        Map("en" -> 3000L, "zh" -> 1200L, "de" -> 600L, "es" -> 600L,
            "fr" -> 600L))
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: PII redaction (email + phone patterns valid in both
    // Java regex and RE2, so the oracle applies the identical rewrite).
    "q_redact_pii" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val raw = concat(lit("user "), col("user_id"), lit(" email u"),
        col("user_id"), lit("@example"), pmod(col("event_id"), lit(10)),
        lit(".com phone +1 555-01"),
        lpad(pmod(col("event_id"), lit(100)).cast("string"), 2, "0"),
        lit(" end"))
      ev.select(col("event_id"), TextFns.redactPii(raw).as("redacted"))
        .orderBy(col("event_id"))
    }),

    // ── LLM-pipeline: Unicode NFC normalization (UTR #15) via the native
    // generated expression — decomposed e+U+0301 sequences are synthesized
    // onto each document deterministically; the oracle applies DuckDB's
    // nfc_normalize to the same construction and compares the normalized
    // bytes and codepoint counts.
    "q_nfc_normalize" -> ((s, d) => {
      val decomposed = concat(substring(col("text"), 1, 40), lit("e\u0301"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(decomposed).cast(LongType).as("n_before"),
          length(TextFns.unicodeNormalize(decomposed)).cast(LongType).as("n_after"),
          TextFns.unicodeNormalize(decomposed).as("normalized"))
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: Gopher-rule composite quality filter (Rae et al.
    // 2021) — seven structural signals, a keep decision, and a
    // deterministic reject-reason string, all codegen'd scan expressions.
    "q_quality_filter" -> ((s, d) =>
      graft.ops.Corpus.gopherQualityFilter(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: quality-distribution percentiles per language.
    // p ∈ {.25,.5,.75} over integer data: the linear-interpolation lerp is
    // exact in binary floating point, so exact-percentile engines agree
    // bit-for-bit. (At 100 TB swap in approx_percentile — same plan shape.)
    "q_quality_percentile" -> ((s, d) =>
      Tables.documents(s, d).groupBy(col("lang"))
        .agg(percentile(col("n_chars").cast(DoubleType), lit(0.25)).as("p25"),
             percentile(col("n_chars").cast(DoubleType), lit(0.5)).as("p50"),
             percentile(col("n_chars").cast(DoubleType), lit(0.75)).as("p75"),
             count(lit(1)).as("cnt"))
        .orderBy(col("lang"))),

    // ── LLM-pipeline: URL normalization + registrable domain. URLs are
    // synthesized deterministically from doc_id/source (mixed-case scheme
    // and host, default/explicit ports, trailing slashes, fragments); the
    // oracle replays the identical regex pipeline. The domain blocklist
    // filter at the end is the unit step of domain-level corpus curation.
    "q_url_domains" -> ((s, d) => {
      val raw = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("https://Blog.")),
        col("source"),
        when(col("doc_id") % 3 === 0, lit(".CO.UK")).otherwise(lit(".Example.COM")),
        when(col("doc_id") % 4 === 0, lit(":80"))
          .when(col("doc_id") % 4 === 1, lit(":443"))
          .when(col("doc_id") % 4 === 2, lit(":8080")).otherwise(lit("")),
        lit("/Articles/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#Section-2")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.normalizeUrl(raw).as("url_norm"))
        .withColumn("domain",
          TextFns.registrableDomain(TextFns.urlHost(col("url_norm"))))
        .where(!col("domain").isin("src0.co.uk", "src1.co.uk"))
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: C4-style global line dedup — shared boilerplate lines
    // (synthesized: one corpus-wide, one per source, one short-exempt)
    // survive only at their first occurrence; each document's own text is
    // unique and survives everywhere. One md5(line)-keyed window shuffle.
    "q_dedup_lines" -> ((s, d) => {
      val withBoiler = Tables.documents(s, d).select(col("doc_id"),
        concat_ws("\n", col("text"),
          lit("Subscribe to our newsletter today."),
          concat(lit("All rights reserved by "), col("source")),
          lit("© 2024")).as("text"))
      graft.ops.Corpus.dedupLines(withBoiler, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: sequence packing (concat-and-chunk) — md5-bucketed,
    // doc-id-ordered token layout cut into 2048-token chunks; per-bucket
    // cumulative sums run independently (buckets-way parallel at 100 TB).
    "q_pack_chunks" -> ((s, d) =>
      graft.ops.Corpus.packChunks(Tables.documents(s, d), "doc_id", "text",
          tokenBudget = 2048, buckets = 8)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: top-3 characteristic terms per doc by tf·idf with
    // the rational idf = 1/df (exact arithmetic → bit-exact oracle replay;
    // a log idf is a monotone transform with the same per-doc ranking).
    "q_tfidf_topk" -> ((s, d) =>
      graft.ops.Corpus.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rank"))),

    // ── LLM-pipeline: the band index maintained INCREMENTALLY as a derived
    // pipe — half the corpus builds it, the other half arrives later through
    // a blind (append-only) sync that computes band rows for NEW docs only.
    // Probing the incrementally-synced index equals probing a full rebuild,
    // so the oracle is the same one-vs-all exact Jaccard.
    "q_minhash_index_sync" -> composed("q_minhash_index_sync"),

    // ── LLM-pipeline: the IVF ANN index maintained INCREMENTALLY as a
    // derived pipe — the cell column is stamped at ingest (shuffle-free
    // projection), halves arrive through blind appends into a
    // cell-partitioned pipe, and the probe reads ONLY the nProbe cells'
    // partition directories. Incremental build == full rebuild, so the
    // oracle is the standard IVF replay.
    "q_ivf_index_sync" -> composed("q_ivf_index_sync"),

    // ── LLM-pipeline: the stored IVF+PQ index (FAISS's production IVFPQ,
    // persisted + incrementally synced): cell and m-byte PQ code stamped at
    // ingest, halves blind-append into a cell-partitioned pipe, probe reads
    // ONLY the nProbe cells' chunk dirs — ADC candidates on (id, codes),
    // floats touch the rerank set alone. Incremental == rebuild; oracle
    // replays the full IVF+PQ pipeline.
    "q_ivfpq_index_sync" -> composed("q_ivfpq_index_sync"),
    "q_opq_index_sync" -> composed("q_opq_index_sync"),
    "q_hnsw_index_sync" -> composed("q_hnsw_index_sync"),
    "q_hnsw_pq_index_sync" -> composed("q_hnsw_pq_index_sync"),

    // ── BATCHED graph-ANN probe — the production shape: N query vectors
    // advance their beam frontiers together, one equi-join + one qid-keyed
    // rank window per hop (never a per-query driver loop), exact cosine
    // inherent. The oracle replays the per-qid frontier evolution.
    "q_hnsw_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // the beam expands the adjacency once per hop — the memo's parquet
      // is the materialization (build once per corpus, shared across the
      // whole batched family)
      val art = GraphIndexMemo.forDir(s, d, "raw", () => emb)
      graft.ops.GraphAnn.beamSearchBatch(
          GraphIndexMemo.eadj(s, art).select(col("src"), col("dst"), col("dvec")),
          emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
          art.entries, HnswEf, HnswHops, HnswK)
        .orderBy(col("qid"), col("rank"))
    }),

    // ── FILTERED graph-ANN probe — predicate-constrained top-k (the RAG /
    // tenant-scoped retrieval access pattern, Filtered-DiskANN shape):
    // traversal navigates the UNfiltered graph (non-matching nodes are the
    // bridges), only the collection keeps label-matching visited nodes.
    "q_hnsw_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val art = GraphIndexMemo.forDir(s, d, "raw", () => emb)
      graft.ops.GraphAnn.beamSearchBatchFiltered(
          GraphIndexMemo.eadj(s, art).select(col("src"), col("dst"), col("dvec")),
          emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
          emb, "vec_id", "label", art.entries, HnswEf, HnswHops, HnswK)
        .orderBy(col("qid"), col("rank"))
    }),

    // ── BATCHED PQ-graph probe — DiskANN's serving path for N queries at
    // once: per-query ADC tables stamp in-plan, traversal reads only the
    // m-byte codes, per-query top-`rerank` survivors rerank with exact
    // cosine from the self-edge vectors. The oracle replays encode +
    // frontier + rerank per qid.
    "q_hnsw_pq_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // the memo's edge table carries dpq for the traversal and dvec on
      // the self-edges for the rerank — the same rows pqEdgeBatch+fold
      // would produce (the code step shares the float graph's pruned
      // edge set; see GraphAnn.recallReport)
      val art = GraphIndexMemo.forDir(s, d, "raw", () => emb)
      graft.ops.GraphAnn.pqBeamSearchBatch(GraphIndexMemo.eadj(s, art),
          emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
          art.cbs, art.entries, HnswEf, HnswHops, rerank = 24, k = HnswK)
        .orderBy(col("qid"), col("rank"))
    }),

    // ── graph-ANN recall A/B: beam-search probe vs the IVF probe at
    // comparable probe cost, both against the exact top-k — the
    // (ef, hops, m) tuning gate for the stored graph index.
    "q_hnsw_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val art = GraphIndexMemo.forDir(s, d, "raw", () => emb)
      graft.ops.GraphAnn.recallReportFromIndex(emb, "vec_id", "embedding",
        HnswQids, art.cents, GraphIndexMemo.eadj(s, art), art.entries,
        HnswEf, HnswHops, HnswK, nProbeIvf = 2,
        codebooks = art.cbs, pqRerank = 24)
    }),

    // ── graph-ANN recall on STRUCTURED (clustered) embeddings: the
    // synthetic table is near-uniform, the worst case for graph
    // navigation (every direction looks alike), so q_hnsw_recall honestly
    // reports mid recalls. This gate rebuilds the SAME report over a
    // manifold-structured variant — each vector blended toward one of 64
    // deterministic cluster centers (0.8·center + 0.7·self, centers = the
    // first 64 corpus vectors, so the oracle derives them from data) —
    // the regime real embedding corpora live in and where beam navigation
    // pays. Same parameters, same arms, same oracle CTEs over the derived
    // table.
    "q_hnsw_recall_clustered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centers = emb.where(col("vec_id") < 64).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      // cluster map (id·37 mod 64) SCATTERS center assignment across the
      // id space so the id<16 centroid sample sees 16 distinct clusters;
      // 0.8·center + 0.7·self keeps clusters overlapping enough that a
      // query's true neighbors straddle coarse-cell boundaries — the
      // regime where IVF fragments the neighborhood and graph navigation
      // pays (measured here: beam ~0.76 mean recall vs IVF ~0.49 at
      // equal row budget, 7/8 queries ≥)
      val structured = emb.select(col("vec_id"),
        zip_with(
          element_at(typedLit(centers),
            (col("vec_id") * 37 % 64 + 1).cast("int")),
          col("embedding").cast("array<double>"),
          (c, x) => lit(0.8) * c + lit(0.7) * x).as("embedding"))
        .localCheckpoint(true)
      val art = GraphIndexMemo.forDir(s, d, "clustered", () => structured)
      // equal PROBE BUDGET in rows touched: the beam at ef=16, hops=3
      // expands ≤ (16 entries + 3·16)·(m+1) ≈ 450 index rows; IVF at
      // nProbe=1 scans ~N/C ≈ 625 corpus rows. (The uniform gate keeps
      // nProbe=2 — there IVF gets a 4× row budget and the beam still
      // competes; this gate holds the budgets equal.)
      graft.ops.GraphAnn.recallReportFromIndex(structured, "vec_id",
        "embedding", HnswQidsClustered, art.cents,
        GraphIndexMemo.eadj(s, art), art.entries,
        HnswEf * 2, HnswHops, HnswK, nProbeIvf = 1,
        codebooks = art.cbs, pqRerank = 24)
    }),

    // ── LLM-pipeline: the trigram LM model maintained INCREMENTALLY as
    // three hash-bucketed count pipes (train = count, additive fold at
    // read == full rebuild); probing = scoring the corpus against the
    // STORED model — bit-identical to the self-model q_trigram_logprob.
    "q_lm_index_sync" -> composed("q_lm_index_sync"),

    // ── §2.4 column profile (the ANALYZE surface): non-null / exact
    // distinct / min / max per column in ONE aggregate pass.
    "q_profile_stats" -> ((s, d) =>
      graft.ops.Maintenance.profile(Tables.events(s, d),
          Seq("event_id", "user_id", "value", "event_type"))
        .orderBy(col("col_name"))),

    // ── §2.4 equi-width histogram: bounds aggregate + ONE binned hash
    // aggregate (shuffles `bins` rows at any scale).
    "q_histogram" -> ((s, d) =>
      graft.ops.Maintenance.histogram(Tables.events(s, d), "value", bins = 20)
        .orderBy(col("bin"))),

    // ── LLM-pipeline FLAGSHIP COMPOSITION: normalize → quality-filter →
    // exact-dedup → split + token count, all stages chained as one lazy
    // plan (normalize and filter fuse into the scan; dedup is the only
    // shuffle; split is a projection). The oracle replays the whole chain.
    "q_curation_pipeline" -> ((s, d) => {
      val normalized = Tables.documents(s, d)
        .withColumn("text", TextFns.unicodeNormalize(col("text")))
      // bounds tuned to the synthetic corpus (random word soup carries no
      // English stopwords); the rule set and plan shape are the production
      // ones — only thresholds move
      val kept = normalized.join(
        graft.ops.Corpus.gopherQualityFilter(normalized, "doc_id", "text",
            minWords = 20, maxWords = 100000, minStopwords = 0)
          .where(col("keep") === 1).select("doc_id"),
        "doc_id")
      // exact dedup as ONE window over the filtered stream (keep lowest id
      // per fingerprint): deriving a survivor set and joining it back would
      // evaluate the normalize+filter subtree twice — Spark does not dedupe
      // DAG subtrees
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      kept.withColumn("fp", TextFns.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("doc_id"),
          graft.ops.Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"),
          TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline FLAGSHIP COMPOSITION v3 — the full RefinedWeb/
    // FineWeb-style curation chain: Gopher structural gate → exact dedup
    // (keep lowest id per fingerprint) → fuzzy near-dup dedup keeping the
    // BEST-quality cluster member → CCNet LM-perplexity gate (drop the
    // worst tercile per language) → leakage-safe split keyed on the
    // near-dup CLUSTER label → per-(split, lang) doc/token rollup. The
    // filtered corpus persists once and feeds every stage; pair graph and
    // cluster labels are computed ONCE and shared by the dedup and the
    // split. Every stage is individually oracled elsewhere; this query
    // proves the COMPOSITION end-to-end against one replayed chain.
    "q_curation_v3" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val kept1 = docs.join(
        graft.ops.Corpus.gopherQualityFilter(docs, "doc_id", "text",
            minWords = 20, maxWords = 100000, minStopwords = 0)
          .where(col("keep") === 1).select("doc_id"),
        Seq("doc_id"))
      val fpw = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
      // persist: kept2 feeds the pair graph, keep-best, the LM gate, the
      // split, and the rollup — unpersisted, the gopher HOF projections
      // would re-run once per consumer (Spark does not dedupe DAG subtrees)
      val kept2 = kept1.withColumn("__fp", TextFns.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(fpw))
        .where(col("__rn") === 1).drop("__rn", "__fp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = ApproxDedup.minhashNearDupsFast(kept2, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      // the iterative label propagation runs ONCE; the keep-best dedup and
      // the split-group labels both read this table
      val clusters = ApproxDedup.nearDupClusters(pairs).localCheckpoint(true)
      val kb = ApproxDedup.keepBestFromClusters(
        kept2.withColumn("quality", TextFns.qualityScore(col("text"))),
        clusters, "doc_id", "quality")
      val kept3 = kept2.join(kb.select("doc_id"), Seq("doc_id"))
      val cc = graft.ops.Corpus.ccnetBuckets(kept3, "doc_id", "text", "lang")
      val kept4 = cc.where(col("bucket") <= 2).select("doc_id")
      val ls = graft.ops.Sampling.leakageSafeSplitFromClusters(kept2, clusters,
        "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val out = ls.select(col("doc_id"), col("split"))
        .join(kept4, Seq("doc_id"))
        .join(kept2.select(col("doc_id"), col("lang"),
          TextFns.tokenCount(col("text")).cast(LongType).as("__toks")), Seq("doc_id"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("total_tokens"))
        .orderBy(col("split"), col("lang"))
        .localCheckpoint(true) // materialize the tiny rollup, then release
      kept2.unpersist()
      out
    }),

    // ── SQL surface: the same engine functions resolved through the
    // FunctionRegistry (GraftFunctions.register / GraftExtensions), running
    // the native codegen'd expressions from a spark.sql query.
    "q_sql_functions" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id, CAST(graft_token_count(text) AS BIGINT) AS n_tokens,
               graft_fingerprint(text) AS fp, graft_langid(text) AS pred_lang,
               graft_html_to_text('<p>' || text || '</p>') AS text_clean,
               graft_strip_tracking(
                 'https://x.example.com/p?utm_source=a&q=' || CAST(doc_id AS STRING))
                 AS url_clean
               FROM graft_docs ORDER BY doc_id""")
    }),

    // ── §2.11 registry key/tag search: one pipe registered per nation row,
    // then searched with a `_`-negated connector filter plus tag include +
    // exclude groups. The oracle re-implements the documented matching rule
    // relationally over the same rows — an independent check of the search
    // semantics, like q_chunk_bounds for the grid.
    "q_registry_search" -> ((s, d) => {
      import s.implicits._
      val cat = new graft.catalog.PipeCatalog()
      Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
        .collect().foreach { r =>
          val nk = r.getAs[Number](0).longValue; val rk = r.getAs[Number](1).longValue
          cat.register(PipeSpec(
            PipeKeys(s"c${rk % 3}", r.getString(2).toLowerCase),
            tags = Seq(s"r$rk") ++ (if (nk % 2 == 0) Seq("even") else Nil)))
        }
      cat.search(connectors = Seq("_c2"), tags = Seq("even", "_r4"))
        .map(p => (p.keys.connector, p.keys.metric))
        .toDF("connector", "metric")
        .orderBy(col("connector"), col("metric"))
    }),

    // ── §2.9 schedule DSL: next-fire times for an interval form, a
    // `starting`-anchored daily form, and a 5-field cron — the oracle
    // regenerates each stream independently with generate_series.
    "q_schedule_fires" -> ((s, d) => {
      import s.implicits._
      val from = java.time.LocalDateTime.parse("2024-03-01T00:00:00")
      def rows(sch: String, n: Int) =
        graft.streaming.Schedule.nextFires(sch, from, n)
          .zipWithIndex.map { case (t, i) => (sch, (i + 1).toLong, t) }
      (rows("every 15 minutes", 8) ++
       rows("daily starting 2024-03-05 01:30:00", 5) ++
       rows("30 14 * * *", 4))
        .toDF("schedule", "n", "fire_at")
        .orderBy(col("schedule"), col("n"))
    }),

    // ── §2.1 autoincrement: dense surrogate ids from the two-pass
    // per-partition offset assignment (no single-partition window).
    "q_autoincrement_ids" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_autoinc").toString
      val eng  = new SyncEngine(s, root)
      val spec = PipeSpec(PipeKeys("verify", "autoinc"),
        columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "row_id")),
        autoincrement = true)
      eng.sync(spec, Tables.events(s, d).select(col("ts"), col("user_id")))
      eng.getData(spec).select(col("row_id")).orderBy(col("row_id"))
    }),

    // ── LLM-pipeline: k-anonymity violation worklist — QI equivalence
    // classes under k, smallest (most identifying) first; ONE hash
    // aggregate on the QI tuple, capped under a total order.
    "q_k_anonymity" -> ((s, d) =>
      graft.ops.Privacy.kAnonymityViolations(
        Tables.events(s, d).select(col("event_type"),
          round(col("value") * 10).cast("long").as("value_deci")),
        Seq("event_type", "value_deci"), k = 5L, cap = 40)),

    // ── LLM-pipeline: k-anonymity one-row summary — totals, violating
    // classes, rows at risk, min class size, at-risk fraction micro.
    "q_k_anon_summary" -> ((s, d) =>
      graft.ops.Privacy.kAnonymitySummary(
        Tables.events(s, d).select(col("event_type"),
          round(col("value") * 10).cast("long").as("value_deci")),
        Seq("event_type", "value_deci"), k = 5L)),

    // ── LLM-pipeline: l-diversity violations — QI classes whose sensitive
    // attribute shows fewer than l distinct values (leaks it even at
    // size ≥ k); exact distinct via the (QI, sensitive) shuffle key.
    "q_l_diversity" -> ((s, d) =>
      graft.ops.Privacy.lDiversityViolations(
        Tables.events(s, d).select(col("event_type"),
          round(col("value") * 10).cast("long").as("value_deci"),
          pmod(col("user_id"), lit(3L)).as("cohort")),
        Seq("event_type", "value_deci"), "cohort", l = 3L, cap = 40)),

    // ── LLM-pipeline: reward length-bias audit — corpus Pearson
    // corr(length, reward) + an 8-bin mean-reward profile across the
    // length range; the check that keeps RLHF from becoming length
    // optimization. Stopword hits stand in for the integral reward.
    "q_reward_length_bias" -> ((s, d) =>
      graft.ops.Rlhf.lengthBiasAudit(
        Tables.documents(s, d).select(
          TextFns.stopwordHits(col("text"), "en").cast("long").as("reward"),
          col("n_chars").cast("long").as("len")),
        "reward", "len", nBins = 8)),

    // ── LLM-pipeline: inter-annotator agreement — pairwise Cohen's κ over
    // a (item, rater, label) frame; contingency counts make κ a pure
    // integer rational. Rater = user cohort, label = value quartile,
    // (item, rater) deduped by smallest event id (max-struct kernel).
    "q_annotator_kappa" -> ((s, d) => {
      val rated = Tables.events(s, d).select(
          pmod(col("event_id"), lit(997L)).as("item"),
          pmod(col("user_id"), lit(5L)).as("rater"),
          col("event_id"),
          expr("CAST(round(value) AS BIGINT) * 4 div 491").as("lbl"))
        .groupBy(col("item"), col("rater"))
        .agg(min(struct(col("event_id"), col("lbl"))).as("p"))
        .select(col("item"), col("rater"), col("p.lbl").as("lbl"))
      graft.ops.Evaluation.annotatorAgreement(rated, "item", "rater", "lbl")
        .orderBy(col("ra"), col("rb"))
    }),

    // ── LLM-pipeline: Bradley–Terry strength fit (Chatbot-Arena
    // aggregation) — consecutive events of different types "battle", the
    // higher value wins; 4 MM iterations with per-opponent terms
    // integer-quantized before the item sum (order-independent; the
    // oracle unrolls the same steps).
    "q_bradley_terry" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val battles = e.as("x")
        .join(e.as("y"), expr("y.event_id = x.event_id + 1"))
        .where(col("x.event_type") =!= col("y.event_type") &&
          col("x.value") =!= col("y.value"))
        .select(
          when(col("x.value") > col("y.value"), col("x.event_type"))
            .otherwise(col("y.event_type")).as("w"),
          when(col("x.value") > col("y.value"), col("y.event_type"))
            .otherwise(col("x.event_type")).as("l"))
      graft.ops.Rlhf.bradleyTerryMicro(battles, "w", "l", iters = 4)
        .orderBy(col("item"))
    }),

    // ── LLM-pipeline: the Elo leaderboard maintained INCREMENTALLY as a
    // stored pipe — (ep, w, l, n) counts are additive and within-epoch
    // deltas are n·d exactly, so the stored fold replays to the same
    // ratings as match-level Elo (oracle = q_elo's).
    "q_elo_index_sync" -> composed("q_elo_index_sync"),

    // ── LLM-pipeline: epoch-batched Elo leaderboard (Elo 1978) over the
    // same consecutive-event battles — the TRAJECTORY view next to BT's
    // static MM fit (arenas report Elo because it absorbs drift): weekly
    // epochs score vs start-of-epoch ratings, per-match deltas quantize
    // before exact per-player sums, epochs apply sequentially (bounded
    // calendar axis, 5 rounds).
    "q_elo" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val battles = e.as("x")
        .join(e.as("y"), expr("y.event_id = x.event_id + 1"))
        .where(col("x.event_type") =!= col("y.event_type") &&
          col("x.value") =!= col("y.value"))
        .select(
          expr("least((dayofyear(x.ts) - 1) div 7, 4)").as("ep"),
          when(col("x.value") > col("y.value"), col("x.event_type"))
            .otherwise(col("y.event_type")).as("w"),
          when(col("x.value") > col("y.value"), col("y.event_type"))
            .otherwise(col("x.event_type")).as("l"))
      graft.ops.Rlhf.eloBatchedMicro(battles, "ep", "w", "l", numEpochs = 5)
        .orderBy(col("item"))
    }),

    // ── LLM-pipeline: TextRank keywords — PageRank over the adjacent-token
    // co-occurrence graph pruned to the top-60 vocabulary (graph bounded
    // by vocabK² before any iteration); 3 integer-quantized steps, top-25.
    "q_textrank" -> ((s, d) =>
      graft.ops.Corpus.textRankKeywords(Tables.documents(s, d),
        "doc_id", "text", vocabK = 60, iters = 3, k = 25)),

    // ── LLM-pipeline: edit-distance verify of near-dup candidates — the
    // character-level second opinion after shingle Jaccard (catches the
    // in-word edits word shingles are blind to); Levenshtein runs only
    // on the candidate sliver, codegen'd on both engines.
    "q_editdist_verify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ApproxDedup.minhashNearDupsFast(docs, "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200, md5Base = true)
      ApproxDedup.editDistanceVerify(docs, "doc_id", "text", pairs)
        .orderBy(col("id1"), col("id2"))
    }),

    // ── LLM-pipeline: WEIGHTED TextRank — edges carry co-occurrence
    // counts (the paper's §2.2 form); same vocabK² bound, contributions
    // proportional to weight share, quantized before the sum.
    "q_textrank_weighted" -> ((s, d) =>
      graft.ops.Corpus.textRankKeywordsWeighted(Tables.documents(s, d),
        "doc_id", "text", vocabK = 60, iters = 3, k = 25)),

    // ── LLM-pipeline: KNESER–NEY trigram cross-entropy — the smoothing
    // KenLM defaults to: lower orders back off onto CONTINUATION counts
    // (distinct-context types), so collocation-bound tokens stop
    // inflating the backoff mass. Same one-scan, type-table plan shape
    // as q_trigram_logprob; one discount double, micro-nat exact.
    "q_kn_trigram" -> ((s, d) =>
      graft.ops.Corpus.knTrigramLogProb(Tables.documents(s, d),
        "doc_id", "text", discount = 0.75)
        .where(col("doc_id") % 7 === 0)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: DoReMi excess-loss reweighting — the multiplicative-
    // weights update that closes the loop over the static mixture
    // planners: per-domain w' ∝ prior·exp(η·max(loss−ref, 0)), integer
    // micro in/out, one exp per DOMAIN (never per row). Mean chars per
    // doc stands in for the per-domain proxy loss.
    "q_domain_reweight" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tot = docs.agg(count(lit(1)).as("nt"), sum("n_chars").as("st"))
      val dom = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("c"), sum("n_chars").as("sc"))
        .crossJoin(broadcast(tot))
        .select(col("source"),
          expr("c * 1000000L div nt").as("prior_micro"),
          expr("CAST(sc AS DECIMAL(38,0)) * 1000000 div c").cast("long")
            .as("loss_micro"),
          expr("CAST(st AS DECIMAL(38,0)) * 1000000 div nt").cast("long")
            .as("ref_micro"))
      graft.ops.Sampling.domainExcessReweight(dom, "source",
          "prior_micro", "loss_micro", "ref_micro", etaMicro = 20000L)
        .orderBy(col("source"))
    }),

    // ── LLM-pipeline: KN stored-model scoring with OOV backoff — the
    // KenLM production path: the model (three count tables, the same
    // shapes the LM pipes persist) trains on the even half of the corpus
    // and scores the odd half; out-of-model n-grams walk the KN backoff
    // cascade down to the add-one floor instead of being dropped.
    "q_kn_stored" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (uni, bi, tri) = graft.ops.Corpus.trigramModelCounts(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", buckets = 8)
      // r16 (r15 verdict item 6): the r15 eager checkpoints of the three
      // folded model tables REVERTED — q_kn_stored was the one touched
      // entry consistently slower (3.06 → 3.63 committed). Lazy model
      // leaves cost nothing extra here: the KN ladder's repeated
      // references are identical subtrees inside ONE action, so exchange
      // reuse computes each count pipeline once, while the checkpoints
      // paid three eager materialization jobs up front. Measured r16,
      // alternating in-JVM A/B at sf0.1 (3 rounds each): checkpointed
      // 4.76/4.03/4.62 s vs lazy 3.75/3.51/3.65 s — lazy wins every
      // alternation by ~1 s.
      graft.ops.Corpus.knScoreWithModel(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
          graft.ops.Corpus.lmFoldUni(uni),
          graft.ops.Corpus.lmFoldBi(bi),
          graft.ops.Corpus.lmFoldTri(tri),
          discount = 0.75)
        .orderBy(col("doc_id"))
    }),

    // ── LLM-pipeline: Fleiss' κ — one agreement number for the whole
    // campaign (items rated by exactly 5 raters); pure integer rational
    // in DECIMAL(38,0), no float anywhere.
    "q_fleiss_kappa" -> ((s, d) => {
      val rated = Tables.events(s, d).select(
          pmod(col("event_id"), lit(997L)).as("item"),
          pmod(col("user_id"), lit(5L)).as("rater"),
          col("event_id"),
          expr("CAST(round(value) AS BIGINT) * 4 div 491").as("lbl"))
        .groupBy(col("item"), col("rater"))
        .agg(min(struct(col("event_id"), col("lbl"))).as("p"))
        .select(col("item"), col("rater"), col("p.lbl").as("lbl"))
      graft.ops.Evaluation.fleissKappa(rated, "item", "rater", "lbl",
        raters = 5)
    }),

    // ── LLM-pipeline: mergeable log-histogram quantile sketch (the
    // DDSketch idea with EXACT integer bucket boundaries via bit length):
    // ≤ 63·16+1 rows regardless of input size, counts additive (fold ≡
    // rebuild), ≤ 1/16 relative error on every estimate.
    "q_dd_quantiles" -> ((s, d) => {
      val hist = graft.ops.Sketches.ddSketchHistogram(
        Tables.documents(s, d).select(col("n_chars").as("v")), "v")
      graft.ops.Sketches.ddQuantiles(hist,
          qsMicro = Seq(10000L, 250000L, 500000L, 750000L, 990000L))
        .orderBy(col("q_micro"))
    }),

    // ── LLM-pipeline: per-GROUP quantile sketches — per-event-type value
    // quantiles off grouped log-histograms; the cumulative window
    // partitions by group over ≤ 1009 rows each, never over data.
    "q_dd_quantiles_grouped" -> ((s, d) => {
      val hist = graft.ops.Sketches.ddSketchHistogramByGroup(
        Tables.events(s, d).select(col("event_type"),
          round(col("value") * 100).cast("long").as("v")),
        "event_type", "v")
      graft.ops.Sketches.ddQuantilesByGroup(hist,
          qsMicro = Seq(500000L, 950000L))
        .orderBy(col("grp"), col("q_micro"))
    }),

    // ── LLM-pipeline: length-DEBIASED reward — subtract each length bin's
    // mean reward (non-parametric length penalty); two broadcast
    // aggregates then a pure projection, exact longs end to end.
    "q_length_debiased_reward" -> ((s, d) =>
      graft.ops.Rlhf.lengthDebiasedReward(
        Tables.documents(s, d).select(col("doc_id"),
          TextFns.stopwordHits(col("text"), "en").cast("long").as("reward"),
          col("n_chars").cast("long").as("len")),
        "doc_id", "reward", "len", nBins = 8)
        .where(col("doc_id") % 5 === 0)
        .orderBy(col("doc_id"))),

    // ── LLM-pipeline: operating point from a target FPR — the loosest
    // stopword-hit threshold whose English-detector false-positive rate
    // stays under 5%; |distinct score| domain table, min-struct pick.
    "q_fpr_threshold" -> ((s, d) =>
      graft.ops.Evaluation.fprThreshold(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("long").as("lbl"),
          TextFns.stopwordHits(col("text"), "en").cast("long").as("score")),
        "lbl", "score", alphaMicro = 50000L)),

    // ── LLM-pipeline: token burstiness (Church–Gale VMR) — across-doc
    // dispersion of per-doc counts: ≈1e6 = Poisson function word (the
    // data-driven stopword list), ≫1e6 = clumping content word. Pure
    // integer rational over the broadcast top-80 vocabulary.
    "q_burstiness" -> ((s, d) =>
      graft.ops.Corpus.tokenBurstiness(Tables.documents(s, d),
        "doc_id", "text", vocabK = 80, k = 30)),

    // ── LLM-pipeline: IVF cell-scatter report — per-cell tightness (mean
    // cosine distance to the assigned centroid) vs separation (nearest
    // other centroid): the retrain-or-add-centroids gate. One codegen'd
    // projection per row into a ≤ k-row aggregate.
    "q_cell_scatter" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
        "embedding", 16)
      SimilaritySearch.cellScatterReport(emb, "vec_id", "embedding", cents)
        .orderBy(col("cell"))
    }),

    // ── LLM-pipeline: simplified silhouette per cell (Rousseeuw 1987 /
    // Hruschka et al. 2004) — the per-POINT quality gate next to
    // q_cell_scatter's per-centroid view: runner-up-centroid margins
    // catch boundary subpopulations the cell means hide. One codegen'd
    // k-cosine projection, top-2 by value sort, one k-row aggregate.
    "q_silhouette" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
        "embedding", 16)
      SimilaritySearch.silhouetteReport(emb, "embedding", cents)
        .orderBy(col("cell"))
    }),

    // ── LLM-pipeline: per-source exact AUC — does the English-stopword
    // signal still rank inside each source, or only pooled (Simpson's
    // flip)? Rank windows partition by source over its score domain.
    "q_auc_by_source" -> ((s, d) =>
      graft.ops.Evaluation.signalAucByGroup(
        Tables.documents(s, d).select(col("source").as("grp"),
          (col("lang") === "en").cast("long").as("lbl"),
          TextFns.stopwordHits(col("text"), "en").cast("long").as("score")),
        "grp", "lbl", "score")
        .orderBy(col("grp"))),

    // ── LLM-pipeline: quantile normalization across sources — map each
    // source's length distribution onto the corpus distribution via the
    // log-histogram sketch (no data sort anywhere); cross-source
    // comparability for per-vendor scores.
    "q_quantile_normalize" -> ((s, d) =>
      graft.ops.Sketches.quantileNormalize(
        Tables.documents(s, d).select(col("source").as("grp"),
          col("doc_id").as("id"), col("n_chars").as("v")),
        "grp", "id", "v")
        .where(col("id") % 5 === 0)
        .orderBy(col("id"))),

    // ── LLM-pipeline: Matryoshka truncation QA — recall of truncated-dim
    // cosine rankings against the full-dim exact top-k, per candidate
    // prefix length; picks the serving dimension before a re-index.
    "q_truncation_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.truncationRecall(emb, "vec_id", "embedding",
          queries, "qid", "qvec", dims = Seq(8, 16, 32), k = 10)
        .orderBy(col("dim"))
    }),

    // ── LLM-pipeline: t-closeness violations — classes whose sensitive
    // distribution drifts more than t (total variation) from the corpus:
    // the leak l-diversity misses (many distinct values, still 95% one).
    // Pure integer rational incl. the absent-value term; no zero-fill.
    "q_t_closeness" -> ((s, d) =>
      graft.ops.Privacy.tClosenessViolations(
        Tables.events(s, d).select(col("event_type"),
          expr("CAST(value AS BIGINT) div 50").as("value_band"),
          pmod(col("user_id"), lit(4L)).as("cohort")),
        Seq("event_type", "value_band"), "cohort",
        tMicro = 100000L, cap = 40)),

    // ── maintenance: robust MAD outlier worklist — |x − median| > k·MAD
    // per event type (median/MAD resist the contamination that inflates
    // a z-score's sigma); exact percentile ≡ quantile_cont parity.
    "q_mad_outliers" -> ((s, d) =>
      graft.ops.Maintenance.madOutliers(
        Tables.events(s, d).select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("value_centi")),
        "event_type", "event_id", "value_centi",
        kMicro = 2500000L, cap = 40)),

    // ── LLM-pipeline: Brier score — single-number calibration of a
    // micro-unit probability against a binary label; exact integers.
    "q_brier" -> ((s, d) =>
      graft.ops.Evaluation.brierScore(
        Tables.documents(s, d).select(
          (col("lang") === "en").cast("long").as("lbl"),
          least(TextFns.stopwordHits(col("text"), "en").cast("long")
            * lit(100000L), lit(1000000L)).as("score_micro")),
        "lbl", "score_micro"))
  )

  /** DuckDB oracle SQL per query (same parquet tables, bare names). */
  /** Shared oracle CTE chain replaying [[graft.ops.Dsir]] bit-for-bit:
    * unigram+bigram buckets (60-bit md5 hash % 256), add-one-smoothed
    * target(en)/raw log-ratios quantized to micro-nat LONGs, per-doc long
    * sums. Arithmetic forms mirror the Spark column expressions exactly
    * (same association, same operand types) — see Dsir.scala's exactness
    * discipline. */
  private val dsirWeightsCte: String =
    """tok AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS w
              FROM documents),
       uni AS (SELECT doc_id, lang, unnest(w) AS g FROM tok),
       bi AS (SELECT doc_id, lang, w[u.i] || ' ' || w[u.i+1] AS g
              FROM tok, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS u(i)),
       grams AS (SELECT doc_id, lang, g FROM uni WHERE length(g) > 0
                 UNION ALL SELECT doc_id, lang, g FROM bi WHERE length(g) > 0),
       bk AS (SELECT doc_id, lang,
                CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 256 AS bucket
              FROM grams),
       tgt AS (SELECT bucket, count(*) AS nt FROM bk WHERE lang = 'en' GROUP BY 1),
       rawc AS (SELECT bucket, count(*) AS nr FROM bk GROUP BY 1),
       tt AS (SELECT CAST(sum(nt) AS DOUBLE) AS t FROM tgt),
       rt AS (SELECT CAST(sum(nr) AS DOUBLE) AS r FROM rawc),
       ratios AS (
         SELECT b.bucket,
           CAST(round((ln((coalesce(nt, 0) + 1.0) / (t + 256.0))
                     - ln((coalesce(nr, 0) + 1.0) / (r + 256.0))) * 1000000.0) AS BIGINT) AS lw
         FROM (SELECT unnest(generate_series(0, 255)) AS bucket) b
         LEFT JOIN tgt USING (bucket) LEFT JOIN rawc USING (bucket), tt, rt),
       wsum AS (SELECT bk.doc_id, CAST(sum(lw) AS BIGINT) AS logw_micro
                FROM bk JOIN ratios USING (bucket) GROUP BY 1)"""

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q5_local_supplier_volume" ->
      """SELECT n_name,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q_scan_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity < 5
         ORDER BY l_orderkey, l_linenumber""",

    "q_get_data" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
           AND event_type IN ('click','view') AND user_id <> 3
         ORDER BY event_id LIMIT 1000""",

    "q_params_dsl" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE user_id IN (1,2,5,7,11)
           AND event_type NOT IN ('error','signup')
         ORDER BY event_id""",

    "q_params_json" ->
      // NUMERIC compare, mirroring the engine's cast-to-double equality
      // (ParamsFilter.jsonEquality matches "87.0" too — a string compare
      // against '87' would diverge on any non-canonical numeric rendering)
      """SELECT event_id, user_id, props FROM events
         WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) = 87.0
         ORDER BY event_id""",

    "q_sync_time" -> "SELECT max(ts) AS sync_time FROM events",

    "q_sync_time_per_id" ->
      """SELECT user_id, max(ts) AS sync_time, min(ts) AS first_time
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q_rowcount_bounds" ->
      """SELECT count(*) AS cnt FROM events
         WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-27 00:00:00'
           AND event_type = 'purchase'""",

    "q_dt_bounds" ->
      "SELECT min(ts) AS dt_min, max(ts) AS dt_max, count(*) AS cnt FROM events",

    "q_distinct_count" ->
      """SELECT count(DISTINCT user_id) AS n_users,
                count(DISTINCT event_type) AS n_types FROM events""",

    "q_delta_antijoin" ->
      """SELECT * FROM events WHERE event_id < 600 AND event_id % 3 <> 0
         ORDER BY event_id""",

    "q_sync_unseen" ->
      """SELECT * FROM events e WHERE event_id < 200 AND NOT EXISTS (
           SELECT 1 FROM events b WHERE b.event_id >= 200 AND b.event_id < 800
             AND b.user_id = e.user_id AND b.event_type = e.event_type)
         ORDER BY event_id""",

    "q_sync_update" ->
      """SELECT * FROM events e WHERE event_id < 200 AND EXISTS (
           SELECT 1 FROM events b WHERE b.event_id >= 200 AND b.event_id < 800
             AND b.user_id = e.user_id AND b.event_type = e.event_type)
         ORDER BY event_id""",

    "q_asof_incremental" ->
      """SELECT event_id, e.user_id AS user_id, ts FROM events e LEFT JOIN (
           SELECT user_id, max(ts) AS st FROM events WHERE event_id < 800 GROUP BY user_id
         ) s ON e.user_id = s.user_id
         WHERE e.ts > s.st OR s.st IS NULL ORDER BY event_id""",

    "q_backtrack_window" ->
      """SELECT event_id, ts, user_id FROM events
         WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 24 HOURS
         ORDER BY event_id""",

    "q_dedup_latest" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY event_id""",

    "q_duplicate_counts" ->
      """SELECT user_id, event_type, count(*) AS dup_count FROM events
         GROUP BY user_id, event_type HAVING count(*) > 1
         ORDER BY user_id, event_type""",

    "q_topk" ->
      "SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 100",

    "q_union_chunks" ->
      """SELECT event_id, ts, user_id FROM (
           SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
           UNION ALL
           SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
         ) ORDER BY event_id""",

    "q_clear_range" ->
      """SELECT event_id, ts FROM events
         WHERE NOT (ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00')
         ORDER BY event_id""",

    "q_round_time" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_epoch_micros" ->
      "SELECT event_id, epoch_us(ts) AS ts_us FROM events ORDER BY event_id",

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",

    "q_decimal_quantize" ->
      """SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
         CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_dtype_canonical" ->
      """SELECT event_id,
         substring(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
         substring(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
         substring(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
         substring(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
         substring(md5(CAST(event_id AS VARCHAR)), 21, 12) AS uuid_c,
         to_base64(CAST(event_type AS BLOB)) AS b64,
         lower(hex(CAST(event_type AS BLOB))) AS hx,
         CAST(from_base64(to_base64(CAST(event_type AS BLOB))) AS VARCHAR) AS rt,
         'POINT (' || user_id || '.0 ' || (event_id % 100) || '.0)' AS wkt_rt
         FROM events ORDER BY event_id""",

    "q_sync_pipe_e2e" ->
      """SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id >= 500 THEN value + 1000 ELSE value END AS value,
         props FROM events ORDER BY event_id""",

    "q_api_instance_e2e" ->
      """SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id >= 500 THEN value + 1000 ELSE value END AS value,
         props FROM events ORDER BY event_id""",

    "q_jdbc_instance_e2e" ->
      """SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id >= 500 THEN value + 1000 ELSE value END AS value,
         props
         FROM events ORDER BY event_id""",

    "q_valkey_instance_e2e" ->
      """SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id >= 500 THEN value + 1000 ELSE value END AS value,
         props FROM events ORDER BY event_id""",

    "q_sync_upsert_e2e" ->
      """SELECT event_id, ts, user_id,
         CASE WHEN event_id >= 300 THEN upper(event_type) ELSE event_type END AS event_type,
         value, props FROM events ORDER BY event_id""",

    "q_join_fetch_incremental" ->
      """WITH t AS (SELECT * FROM events WHERE event_id < 800),
         st AS (SELECT user_id, max(ts) AS st FROM t GROUP BY user_id)
         SELECT e.event_id, e.ts, e.user_id AS user_id, e.event_type, e.value
         FROM events e LEFT JOIN st ON e.user_id = st.user_id
         WHERE e.event_id < 800 OR e.ts > st.st OR st.st IS NULL
         ORDER BY e.event_id""",

    "q_sync_blind_e2e" ->
      """SELECT event_id, ts, user_id, value FROM events ORDER BY event_id""",

    "q_fleet_sync" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",

    "q_repartition_op" ->
      """SELECT event_id, ts, user_id, value FROM events ORDER BY event_id""",

    "q_jdbc_definition_fetch" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
           AND event_type IN ('click','view') AND user_id <> 3
         ORDER BY event_id""",

    "q_deduplicate_pipe" ->
      """SELECT event_id, ts, user_id,
         CASE WHEN event_id % 5 = 0 THEN value + 1000 ELSE value END AS value
         FROM events ORDER BY event_id""",

    "q_compact_roundtrip" ->
      """SELECT event_id, ts, value FROM events ORDER BY event_id""",

    "q_copy_pipe" ->
      """SELECT event_id, ts, user_id FROM events ORDER BY event_id""",

    "q_verify_backfill" ->
      """SELECT event_id, ts, user_id, value FROM events ORDER BY event_id""",

    "q_sync_epoch_e2e" ->
      """SELECT event_id, epoch_us(ts) // 1000000 AS ts_s, user_id,
         CASE WHEN event_id >= 500 THEN value + 1000 ELSE value END AS value
         FROM events ORDER BY event_id""",

    "q_streaming_sync_e2e" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",

    // exactly-once across the kill/restart/redelivery: the final table is
    // the events table, each row once — same oracle as the clean run
    "q_streaming_restart_e2e" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",

    "q_streaming_dedup_e2e" ->
      """SELECT DISTINCT md5(lower(trim(text))) AS fp
         FROM documents ORDER BY fp""",

    "q_streaming_media_dedup" ->
      """SELECT DISTINCT sha256(text) AS content_sha256
         FROM documents ORDER BY content_sha256""",

    "q_streaming_neardup_probe" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(t)-2),
                      i -> array_to_string(t[i:i+2], ' ')) END) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                 FROM documents)),
         s AS (SELECT doc_id + 10000 AS sid, sh FROM sh WHERE doc_id % 3 = 0),
         p AS (
           SELECT s.sid, h.doc_id AS hist_id,
             CAST(len(list_intersect(s.sh, h.sh)) AS DOUBLE) /
             CAST(len(list_distinct(list_concat(s.sh, h.sh))) AS DOUBLE) AS jaccard
           FROM s, sh h)
         SELECT sid, hist_id, jaccard FROM p
         WHERE jaccard >= 0.995 ORDER BY sid, hist_id""",

    "q_doc_stats" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS len_chars,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         md5(lower(trim(text))) AS fp
         FROM documents ORDER BY doc_id""",

    "q_text_quality" ->
      """SELECT doc_id,
         (CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.0 END
          + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
                  AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
                 THEN 1.0 ELSE 0.0 END
          + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                      / greatest(length(text),1)::DOUBLE <= 0.1 THEN 1.0 ELSE 0.0 END
          + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                     ['the','a','of','and','to','in','is','it','that','for'])) >= 2
                 THEN 1.0 ELSE 0.0 END) / 4.0 AS quality
         FROM documents ORDER BY doc_id""",

    "q_subword_count" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '[\s[:punct:]]+')) AS BIGINT) AS n_subwords
         FROM documents ORDER BY doc_id""",

    "q_langid" ->
      """WITH h AS (SELECT doc_id,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['der','die','das','und','ist','ein','eine','zu','den','von'])) AS h_de,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['the','a','of','and','to','in','is','it','that','for'])) AS h_en,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['el','la','de','que','y','en','un','una','es','por'])) AS h_es,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])) AS h_fr,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人'])) AS h_zh
           FROM documents)
         SELECT doc_id, CASE
           WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und'
           WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
           WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
           WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
           WHEN h_fr >= h_zh THEN 'fr'
           ELSE 'zh' END AS pred_lang
         FROM h ORDER BY doc_id""",

    "q_dedup_exact_docs" ->
      """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
         count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY fp""",

    "q_bloom_filter_unseen" ->
      """SELECT doc_id, text FROM documents b
         WHERE doc_id % 7 = 0
           AND NOT EXISTS (SELECT 1 FROM documents c
                           WHERE c.doc_id % 2 = 0 AND c.text = b.text)
         ORDER BY doc_id""",

    "q_bloom_index_sync" ->
      """WITH h AS (
           SELECT CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h1,
                  CAST(('0x' || substring(md5(text), 17, 15)) AS BIGINT) | 1 AS h2
           FROM documents),
         p AS (
           SELECT ((h1 + i * h2) % 65536) AS pos
           FROM h, (SELECT unnest(generate_series(0, 3)) AS i) AS ks)
         SELECT CAST(pos // 64 AS INT) AS word,
                bit_or(CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1)
                       ELSE 1::BIGINT << CAST(pos % 64 AS INT) END) AS bits
         FROM p GROUP BY 1 ORDER BY word""",

    "q_ngram_jaccard_pairs" ->
      """WITH sh AS (
           SELECT source AS bucket, doc_id,
             list_distinct(string_split_regex(trim(text), '\s+')) AS sh
           FROM documents),
         p AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2,
             len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
           FROM sh a JOIN sh b ON a.bucket = b.bucket AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 50)
         SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    "q_neardup_clusters" ->
      ApproxDedup.nearDupClustersFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_neardup_clusters_star" ->
      ApproxDedup.nearDupClustersFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    // incremental label fold == full rebuild (monotone-min labels), so the
    // stored-pipe CC replays as the plain full-graph CC
    "q_cc_index_sync" ->
      ApproxDedup.nearDupClustersFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_leakage_split_stored" ->
      ApproxDedup.leakageSafeSplitOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_dedup_sweep" ->
      ApproxDedup.dedupThresholdSweepOracleSql(
        """WITH sh AS (
             SELECT source AS bucket, doc_id,
               list_distinct(string_split_regex(trim(text), '\s+')) AS sh
             FROM documents),
           pr AS (
             SELECT a.doc_id AS id1, b.doc_id AS id2,
               len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
             FROM sh a JOIN sh b ON a.bucket = b.bucket AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 50)
           SELECT id1, id2, jaccard FROM pr WHERE jaccard >= 0.3""",
        "jaccard", thresholds = Seq(0.3, 0.5, 0.7, 0.9)),

    "q_dup_ngram_stats" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
         grams AS (
           SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-4, 0)),
             i -> {'pos': i, 'h': md5(array_to_string(t[i:i+4], ' '))}), recursive := true)
           FROM toks),
         dup AS (SELECT h FROM (SELECT h, count(*) AS c FROM grams GROUP BY 1) WHERE c > 1),
         cov AS (
           SELECT doc_id, count(DISTINCT p) AS covered_tokens
           FROM (SELECT g.doc_id, unnest(generate_series(g.pos, g.pos+4)) AS p
                 FROM grams g JOIN dup USING (h))
           GROUP BY 1),
         tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
         SELECT t.doc_id, t.n_tokens,
           coalesce(c.covered_tokens, 0) AS covered_tokens,
           coalesce(c.covered_tokens, 0)::DOUBLE / t.n_tokens::DOUBLE AS dup_fraction
         FROM tot t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id""",

    "q_minhash_near_dups" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')) END) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                 FROM documents WHERE doc_id < 1000)),
         p AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2,
             len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    "q_minhash_near_dups_fast" ->
      ApproxDedup.minhashNearDupsFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_simhash_signatures" ->
      ApproxDedup.simhashOracleSql("documents", "doc_id", "text"),

    "q_simhash_near_dups" ->
      ApproxDedup.simhashNearDupsOracleSql(simhashCorpusSql,
        "doc_id", "text", maxHamming = 3),

    "q_simhash_index_sync" ->
      ApproxDedup.simhashProbeOracleSql(simhashCorpusSql,
        "doc_id", "text", qid = 1000000L, maxHamming = 3),

    "q_streaming_simhash_probe" ->
      ApproxDedup.simhashCrossOracleSql(
        """(SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000 AS doc_id, text || ' ' || text AS text
           FROM documents WHERE doc_id % 3 = 0) AS d2""",
        "doc_id", "text",
        leftPred = "a.doc_id >= 10000", rightPred = "h.doc_id < 10000",
        maxHamming = 3),

    "q_containment_pairs" ->
      ApproxDedup.containmentPairsOracleSql(
        """(SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id,
             array_to_string((string_split_regex(trim(text), '\s+'))[1:12], ' ') AS text
           FROM documents WHERE doc_id % 23 = 0) AS d2""",
        "doc_id", "text", n = 3, thresholdMicro = 800000L,
        maxDocsPerShingle = 20),

    "q_html_extract" -> {
      val htmlExpr =
        """'<html><head><title>T</title><style type="text/css">p { color: red; }</style></head><body><!-- header nav --><h1>Doc '
           || CAST(doc_id AS VARCHAR) || '</h1> <p>' || text ||
           '</p> <script>if (a &amp;&amp; b) { run(); }</script><div class="footer">&quot;Fin&quot; &amp; &lt;end&gt;&nbsp;&#39;ok&#39;</div></body></html>'"""
          .linesIterator.map(_.trim).mkString(" ")
      s"""SELECT doc_id, ${TextFns.htmlToTextSqlExpr(s"($htmlExpr)")} AS text_clean
         FROM documents ORDER BY doc_id"""
    },

    "q_signal_auc" ->
      graft.ops.Evaluation.signalAucOracleSql("documents",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        """len(list_intersect(string_split_regex(trim(lower(text)), '\s+'),
           ['the','a','of','and','to','in','is','it','that','for']))"""
          .linesIterator.map(_.trim).mkString(" ")),

    "q_calibration_bins" ->
      graft.ops.Evaluation.calibrationBinsOracleSql("documents",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", qualityMicroSql,
        nBins = 5),

    "q_ece" ->
      graft.ops.Evaluation.eceOracleSql("documents",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", qualityMicroSql,
        nBins = 5),

    "q_isotonic_calibration" ->
      graft.ops.Evaluation.isotonicCalibrationOracleSql("documents",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", qualityMicroSql,
        nBins = 5),

    "q_source_js" ->
      graft.ops.TextStats.sourceJsMatrixOracleSql("documents", "source",
        "text"),

    "q_luhn_report" ->
      graft.ops.Cleaning.luhnReportOracleSql("documents", "source",
        "concat(text, ' ', CAST(4000000000000000 + (doc_id * 137) % 1000000000 AS VARCHAR))"),

    "q_interval_overlap" ->
      """WITH a AS (SELECT o_orderkey AS a_id, o_orderdate AS a_lo,
           o_orderdate + INTERVAL (o_orderkey % 60 + 1) DAY AS a_hi
           FROM orders WHERE o_orderkey % 997 = 0),
         b AS (SELECT o_orderkey AS b_id, o_orderdate AS b_lo,
           o_orderdate + INTERVAL (o_orderkey % 60 + 1) DAY AS b_hi
           FROM orders WHERE o_orderkey % 991 = 0)
         SELECT a_id, b_id,
           epoch_us(least(a_hi, b_hi)) - epoch_us(greatest(a_lo, b_lo)) AS overlap_us
         FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
         ORDER BY a_id, b_id""",

    "q_attribution" ->
      """WITH conv AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us
           FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, event_id AS touch_id, epoch_us(ts) AS touch_us,
           event_type AS touch_type FROM events WHERE event_type IN ('click','view')),
         j AS (SELECT c.user_id, c.conv_id, c.conv_us, t.touch_id, t.touch_us, t.touch_type
           FROM conv c LEFT JOIN tch t ON c.user_id = t.user_id
             AND t.touch_us <= c.conv_us AND t.touch_us >= c.conv_us - 7200000000),
         j2 AS (SELECT *,
           row_number() OVER (PARTITION BY conv_id ORDER BY touch_us ASC NULLS LAST, touch_id ASC) AS rf,
           row_number() OVER (PARTITION BY conv_id ORDER BY touch_us DESC NULLS LAST, touch_id DESC) AS rl
           FROM j)
         SELECT user_id, conv_id, conv_us,
           max(CASE WHEN rf = 1 THEN touch_id END) AS first_touch_id,
           max(CASE WHEN rf = 1 THEN touch_type END) AS first_touch_type,
           max(CASE WHEN rl = 1 THEN touch_id END) AS last_touch_id,
           max(CASE WHEN rl = 1 THEN touch_type END) AS last_touch_type
         FROM j2 GROUP BY 1, 2, 3 ORDER BY conv_id""",

    "q_dq_checks" ->
      graft.ops.Maintenance.dqChecksOracleSql("events",
        Seq(
          "value_null" -> "value IS NULL",
          "value_negative" -> "value < 0",
          "unknown_event_type" ->
            "event_type NOT IN ('click','error','purchase','signup','view')",
          "ts_out_of_range" ->
            "(ts < TIMESTAMP '2020-01-01 00:00:00' OR ts > TIMESTAMP '2030-01-01 00:00:00')"),
        uniqueKey = Some(Seq("event_id"))),

    "q_chat_turns" ->
      graft.ops.Chat.chatTurnsOracleSql("documents", "doc_id", chatJsonSql),

    "q_chat_validate" ->
      graft.ops.Chat.chatValidateOracleSql("documents", "doc_id", chatJsonSql),

    "q_vocab_coverage" ->
      graft.ops.Evaluation.vocabCoverageOracleSql("documents", "text",
        sizes = Seq(5, 10, 20, 40, 100000)),

    "q_chat_render" ->
      graft.ops.Chat.chatRenderOracleSql("documents", "doc_id", chatJsonSql),

    "q_sft_pipeline" ->
      s"""SELECT * FROM (
           ${graft.ops.Chat.chatRenderOracleSql("documents", "doc_id", chatJsonSql)}
         ) rend
         WHERE doc_id IN (
           SELECT doc_id FROM (
             ${graft.ops.Chat.chatValidateOracleSql("documents", "doc_id", chatJsonSql)}
           ) v
           WHERE parse_ok AND n_role_violations = 0 AND n_empty_turns = 0
             AND ends_assistant)
         ORDER BY doc_id""",

    "q_url_dedup" -> {
      val canonExpr = TextFns.stripTrackingParamsSqlExpr("url_norm")
      s"""WITH u AS (
           SELECT doc_id,
             'https://www.' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS raw
           FROM documents
           UNION ALL
           SELECT doc_id,
             'HTTPS://WWW.' || source || '.EXAMPLE.COM:443/p/' || CAST(doc_id AS VARCHAR)
               || '?utm_source=x&gclid=z#frag' AS raw
           FROM documents WHERE doc_id % 2 = 0),
         a AS (
           SELECT doc_id, regexp_replace(raw, '#.*', '') AS nofrag,
             regexp_extract(regexp_replace(raw, '#.*', ''),
               '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS auth
           FROM u),
         norm AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(lower(auth), '^(http://.*):80$$', '\\1'),
                            '^(https://.*):443$$', '\\1') ||
             regexp_replace(substring(nofrag, length(auth) + 1), '/+$$', '') AS url_norm
           FROM a),
         canon AS (SELECT doc_id, $canonExpr AS url FROM norm)
         SELECT url, min(doc_id) AS first_id, CAST(count(*) AS BIGINT) AS n_variants
         FROM canon GROUP BY url ORDER BY url"""
    },

    "q_chat_turn_dedup" ->
      graft.ops.Chat.chatTurnDedupOracleSql("documents", "doc_id",
        chatJsonSql, role = "assistant"),

    "q_preference_checks" ->
      graft.ops.Chat.preferenceChecksOracleSql("documents", "doc_id",
        promptExpr = """CASE WHEN doc_id % 9 = 0 THEN 'common prompt about things'
          ELSE array_to_string((string_split_regex(trim(text), '\s+'))[1:10], ' ')
          END""".linesIterator.map(_.trim).mkString(" "),
        chosenExpr = "('reply about ' || source)",
        rejectedExpr =
          "CASE WHEN doc_id % 11 = 0 THEN 'reply about ' || source ELSE text END"),

    "q_group_percentiles" ->
      graft.ops.Maintenance.groupPercentilesOracleSql("events",
        "event_type", "value", ps = Seq(0.25, 0.5, 0.9)),

    "q_signal_correlation" ->
      graft.ops.Evaluation.signalCorrelationOracleSql("documents",
        signals = Seq(
          "nc" -> "n_chars",
          "nt" -> "len(string_split_regex(trim(text), '\\s+'))",
          "sw" -> """len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','a','of','and','to','in','is','it','that','for']))"""
            .linesIterator.map(_.trim).mkString(" "))),

    "q_source_gini" ->
      graft.ops.Evaluation.sourceGiniOracleSql("documents", "source"),

    "q_retain_latest" ->
      """WITH r AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnk
           FROM events)
         SELECT event_id, user_id, ts_us, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5 ORDER BY event_id""",

    "q_index_staleness" ->
      """WITH idx AS (
           SELECT doc_id FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id + 5000000 AS doc_id FROM documents WHERE doc_id = 1),
         c AS (SELECT doc_id FROM documents)
         SELECT doc_id, 'missing' AS status FROM c
         WHERE doc_id NOT IN (SELECT doc_id FROM idx)
         UNION ALL
         SELECT doc_id, 'orphaned' AS status FROM idx
         WHERE doc_id NOT IN (SELECT doc_id FROM c)
         ORDER BY status, doc_id""",

    "q_event_double_fire" ->
      """WITH g AS (
           SELECT event_id, user_id, event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts) ASC, event_id ASC) AS gap_us
           FROM events)
         SELECT event_id, user_id, event_type, gap_us FROM g
         WHERE gap_us IS NOT NULL AND gap_us <= 43200000000
         ORDER BY event_id""",

    "q_streaming_dq_monitor" -> {
      val rules = Seq(
        "value_null" -> "value IS NULL",
        "value_over_100" -> "value > 100",
        "unknown_event_type" ->
          "event_type NOT IN ('click','error','purchase','signup','view')")
      val ones = (0 to 1).map { h =>
        val sums = rules.zipWithIndex.map { case ((_, p), i) =>
          s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
        }.mkString(", ")
        s"""one$h AS (SELECT CAST(count(*) AS BIGINT) AS n, $sums,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS vd
           FROM events WHERE event_id % 2 = $h)"""
      }.mkString(",\n         ")
      val rows = (0 to 1).flatMap { h =>
        rules.zipWithIndex.map { case ((name, _), i) =>
          s"SELECT $h AS bucket, '$name' AS rule, v$i AS n_violations, n AS n_rows FROM one$h"
        } :+ s"SELECT $h, 'duplicate_key:event_id', vd, n FROM one$h"
      }.mkString("\n         UNION ALL ")
      s"""WITH $ones,
         r AS ($rows)
         SELECT CAST(bucket AS BIGINT) AS bucket, rule, n_violations, n_rows,
           CASE WHEN n_rows > 0 THEN n_violations * 1000000 // n_rows END
             AS violation_micro
         FROM r ORDER BY bucket, rule"""
    },

    "q_pr_curve" ->
      graft.ops.Evaluation.prCurveOracleSql("documents",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        """len(list_intersect(string_split_regex(trim(lower(text)), '\s+'),
           ['the','a','of','and','to','in','is','it','that','for']))"""
          .linesIterator.map(_.trim).mkString(" "),
        thresholds = Seq(1L, 2L, 3L, 4L)),

    "q_embedding_qa" ->
      graft.ops.Evaluation.embeddingQaOracleSql("embeddings", "vec_id",
        "embedding"),

    "q_freq_spectrum" ->
      graft.ops.Evaluation.freqSpectrumOracleSql("documents", "text"),

    "q_good_turing" ->
      graft.ops.Evaluation.goodTuringOracleSql("documents", "text"),

    "q_lang_mix" ->
      graft.ops.Cleaning.langMixOracleSql("documents", "doc_id",
        """(text || chr(10) || 'the quick brown fox is on the hill and it is fine'
           || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'el perro es un animal y la casa es de madera'
              ELSE '' END)"""
          .linesIterator.map(_.trim).mkString(" ")),

    "q_url_strip_tracking" -> {
      val urlExpr =
        """('https://www.' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR)
           || '?utm_source=news&utm_campaign=' || source
           || CASE WHEN doc_id % 2 = 0 THEN '&page=2' ELSE '' END
           || '&fbclid=IwAR12345'
           || CASE WHEN doc_id % 3 = 0 THEN '#Frag' ELSE '' END)"""
          .linesIterator.map(_.trim).mkString(" ")
      s"""SELECT doc_id, ${TextFns.stripTrackingParamsSqlExpr(urlExpr)} AS url_clean
         FROM documents ORDER BY doc_id"""
    },

    "q_embedding_near_dups" ->
      ApproxDedup.embeddingNearDupsOracleSql("embeddings", "vec_id", "embedding",
        SimilaritySearch.srpPlanes(dim = 64, nBits = 24), bands = 4, threshold = 0.45),

    "q_srp_tuning" ->
      ApproxDedup.srpTuningOracleSql("embeddings", "vec_id", "embedding",
        SimilaritySearch.srpPlanes(dim = 64, nBits = 24), targetCosine = 0.45),

    "q_semantic_decontaminate" ->
      ApproxDedup.embeddingCrossNearDupsOracleSql("embeddings", "vec_id",
        "embedding", SimilaritySearch.srpPlanes(dim = 64, nBits = 24),
        bands = 6, threshold = 0.3,
        corpusPred = "vec_id % 10 <> 0", benchPred = "vec_id % 10 = 0"),

    "q_semantic_dedup_sync" ->
      ApproxDedup.semanticDedupSyncOracleSql("embeddings", "vec_id",
        "embedding", centroidMax = 32,
        basePred = "vec_id % 2 = 0", batchPred = "vec_id % 2 = 1",
        threshold = 0.45),

    "q_embedding_ann_lsh" ->
      SimilaritySearch.lshOracleSql("embeddings", "vec_id", "embedding",
        SimilaritySearch.srpPlanes(dim = 64, nBits = 12), queryId = 0L,
        k = 10, radius = 3),

    "q_embedding_ann_ivf" ->
      SimilaritySearch.ivfOracleSql("embeddings", "vec_id", "embedding",
        nCentroids = 16, nProbe = 4, queryId = 0L, k = 10),

    "q_embedding_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
           (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))) AS cosine
         FROM embeddings, q
         ORDER BY cosine DESC, vec_id LIMIT 10""",

    "q_kmeans_train" ->
      graft.ops.SimilaritySearch.kmeansTrainOracleSql("embeddings", "vec_id",
        "embedding", KmK, KmIters),

    "q_ann_ivf_kmeans" ->
      graft.ops.SimilaritySearch.ivfKmeansOracleSql("embeddings", "vec_id",
        "embedding", KmK, KmIters, nProbe = 4, queryId = 0, topK = 10),

    "q_embedding_ann_sq" ->
      graft.ops.SimilaritySearch.sqOracleSql("embeddings", "vec_id", "embedding",
        queryId = 0, k = 10, rerank = 50),

    "q_embedding_ann_pq" ->
      graft.ops.SimilaritySearch.pqOracleSql("embeddings", "vec_id", "embedding",
        dim = 64, m = 4, ks = 16, queryId = 0, k = 10, rerank = 50),

    "q_embedding_ann_ivfpq" ->
      graft.ops.SimilaritySearch.ivfPqOracleSql("embeddings", "vec_id", "embedding",
        dim = 64, m = 4, ks = 16, nCentroids = 16, nProbe = 8,
        queryId = 0, k = 10, rerank = 50),

    // The OPQ oracles inject the TRAINED rotation (a deterministic model
    // artifact of the corpus) as literals; Verify runs every query before
    // dumping oracle_sql.json, so the artifact is always present here.
    "q_opq_recon" -> OpqModel.forOracle.map(r =>
        graft.ops.SimilaritySearch.opqReconOracleSql("embeddings", "vec_id",
          "embedding", dim = 64, m = OpqM, ks = OpqKs, r))
      .getOrElse("SELECT CAST(NULL AS BIGINT) AS opq_rotation_not_trained"),

    "q_opq_index_sync" -> OpqModel.forOracle.map(r =>
        graft.ops.SimilaritySearch.opqIvfPqOracleSql("embeddings", "vec_id",
          "embedding", dim = 64, m = OpqM, ks = OpqKs, nCentroids = 16,
          nProbe = 8, queryId = 0, k = 10, rerank = 50, r))
      .getOrElse("SELECT CAST(NULL AS BIGINT) AS opq_rotation_not_trained"),

    "q_hnsw_index_sync" ->
      graft.ops.GraphAnn.beamProbeOracleSql("embeddings", "vec_id",
        "embedding", queryId = 0L, nCentroids = HnswCents,
        nProbeBuild = HnswNpBuild, m = HnswM, cellCap = HnswCellCap,
        ef = HnswEf, hops = HnswHops, k = HnswK),

    "q_hnsw_batch" ->
      graft.ops.GraphAnn.beamBatchOracleSql("embeddings", "vec_id",
        "embedding", queryFilter = "id % 100 = 0", nCentroids = HnswCents,
        nProbeBuild = HnswNpBuild, m = HnswM, cellCap = HnswCellCap,
        ef = HnswEf, hops = HnswHops, k = HnswK),

    "q_hnsw_pq_index_sync" ->
      graft.ops.GraphAnn.pqBeamProbeOracleSql("embeddings", "vec_id",
        "embedding", queryId = 0L, nCentroids = HnswCents,
        nProbeBuild = HnswNpBuild, m = HnswM, cellCap = HnswCellCap,
        ef = HnswEf, hops = HnswHops, dim = 64, pqM = 4, ks = 16,
        rerank = 24, k = HnswK),

    "q_hnsw_filtered" ->
      graft.ops.GraphAnn.beamBatchFilteredOracleSql("embeddings", "vec_id",
        "embedding", labelCol = "label", queryFilter = "id % 100 = 0",
        nCentroids = HnswCents, nProbeBuild = HnswNpBuild, m = HnswM,
        cellCap = HnswCellCap, ef = HnswEf, hops = HnswHops, k = HnswK),

    "q_hnsw_pq_batch" ->
      graft.ops.GraphAnn.pqBeamBatchOracleSql("embeddings", "vec_id",
        "embedding", queryFilter = "id % 100 = 0", nCentroids = HnswCents,
        nProbeBuild = HnswNpBuild, m = HnswM, cellCap = HnswCellCap,
        ef = HnswEf, hops = HnswHops, dim = 64, pqM = 4, ks = 16,
        rerank = 24, k = HnswK),

    "q_hnsw_recall" ->
      graft.ops.GraphAnn.recallOracleSql("embeddings", "vec_id", "embedding",
        queryFilter = s"id IN (${HnswQids.mkString(", ")})",
        nCentroids = HnswCents, nProbeBuild = HnswNpBuild, m = HnswM,
        cellCap = HnswCellCap, ef = HnswEf, hops = HnswHops, k = HnswK,
        nProbeIvf = 2, dim = 64, pqM = 4, ks = 16, pqRerank = 24),

    // same report over the derived clustered table — the 2·center +
    // 0.25·self construction replays in SQL from the raw rows
    "q_hnsw_recall_clustered" ->
      graft.ops.GraphAnn.recallOracleSql(
        """(SELECT e0.vec_id,
             list_transform(c0.ev, (x, i) -> 0.8 * x + 0.7 * e0.ev[i]) AS embedding
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings) e0
           JOIN (SELECT vec_id AS g, CAST(embedding AS DOUBLE[]) AS ev
                 FROM embeddings WHERE vec_id < 64) c0
             ON c0.g = (e0.vec_id * 37) % 64) AS es""",
        "vec_id", "embedding",
        queryFilter = s"id IN (${HnswQidsClustered.mkString(", ")})",
        nCentroids = HnswCents, nProbeBuild = HnswNpBuild, m = HnswM,
        cellCap = HnswCellCap, ef = HnswEf * 2, hops = HnswHops, k = HnswK,
        nProbeIvf = 1, dim = 64, pqM = 4, ks = 16, pqRerank = 24),

    "q_ann_recall" ->
      graft.ops.SimilaritySearch.annRecallOracleSql("embeddings", "vec_id",
        "embedding", nCentroids = 16, queryFilter = "vec_id % 100 = 0",
        k = 10, nProbe = 4),

    "q_bitext_margin" ->
      graft.ops.SimilaritySearch.bitextMarginOracleSql("embeddings", "vec_id",
        "embedding", sideExpr = "CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END",
        nCentroids = 16, k = 4, nProbe = 8, thresholdMicro = 1000000L),

    "q_embedding_ann_batch" ->
      graft.ops.SimilaritySearch.ivfBatchOracleSql("embeddings", "vec_id",
        "embedding", nCentroids = 16, queryFilter = "vec_id % 100 = 0",
        k = 5, nProbe = 4),

    "q_retrieval_metrics" ->
      graft.ops.Evaluation.retrievalMetricsOracleSql(
        "SELECT qid, vec_id AS id, rank FROM (" +
          graft.ops.SimilaritySearch.ivfBatchOracleSql("embeddings",
            "vec_id", "embedding", nCentroids = 16,
            queryFilter = "vec_id % 100 = 0", k = 5, nProbe = 4) + ")",
        """SELECT q.vec_id AS qid, e.vec_id AS id
           FROM embeddings q JOIN embeddings e
             ON e.label = q.label AND e.vec_id <> q.vec_id
           WHERE q.vec_id % 100 = 0""",
        ks = Seq(1, 5)),

    "q_mann_kendall" ->
      graft.ops.Evaluation.mannKendallOracleSql(
        """SELECT date_trunc('day', ts) AS t, CAST(count(*) AS BIGINT) AS v
           FROM events GROUP BY 1"""),

    "q_ewma_chart" ->
      graft.ops.Maintenance.ewmaChartOracleSql(
        """SELECT date_diff('day', DATE '1970-01-01',
             CAST(date_trunc('day', ts) AS DATE)) AS t,
           CAST(count(*) AS BIGINT) AS v
           FROM events GROUP BY 1""",
        alpha = 0.3, l = 3, baselineK = 15),

    "q_sen_slope" ->
      graft.ops.Evaluation.senSlopeOracleSql(
        """SELECT date_diff('day', DATE '1970-01-01',
             CAST(date_trunc('day', ts) AS DATE)) AS t,
           CAST(count(*) AS BIGINT) AS v
           FROM events GROUP BY 1"""),

    "q_association_rules" ->
      graft.ops.Relational.associationRulesOracleSql(
        "SELECT user_id AS b, event_type AS i FROM events"),

    "q_embedding_ann_ivfpq_batch" ->
      graft.ops.SimilaritySearch.ivfPqBatchOracleSql("embeddings", "vec_id",
        "embedding", dim = 64, m = 4, ks = 16, nCentroids = 16,
        queryFilter = "vec_id % 100 = 0", k = 5, nProbe = 8, rerank = 50),

    "q_hard_negatives" ->
      graft.ops.SimilaritySearch.hardNegativesOracleSql("embeddings", "vec_id",
        "embedding", "label", nCentroids = 16,
        queryFilter = "vec_id % 100 = 0", k = 5, nProbe = 4),

    "q_bpe_pairs" ->
      graft.ops.Corpus.bpePairCountsOracleSql("documents", "text", k = 30),

    "q_bigram_logprob" ->
      graft.ops.Corpus.bigramLogProbOracleSql("documents", "doc_id", "text",
        lambda = 0.7),

    "q_trigram_logprob" ->
      graft.ops.Corpus.trigramLogProbOracleSql("documents", "doc_id", "text",
        lambda3 = 0.5, lambda2 = 0.3),

    // stored-model fold ≡ full rebuild (additive counts), so the stored
    // LM scores replay the exact self-model oracle
    "q_lm_index_sync" ->
      graft.ops.Corpus.trigramLogProbOracleSql("documents", "doc_id", "text",
        lambda3 = 0.5, lambda2 = 0.3),

    "q_moore_lewis_select" ->
      graft.ops.Corpus.crossEntropySelectOracleSql(
        "(SELECT doc_id, text FROM documents WHERE lang = 'en')",
        "documents", "documents", "doc_id", "text"),

    "q_streaming_lm_probe" ->
      graft.ops.Corpus.trigramScoreOracleSql(
        "documents",
        "(SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)",
        "doc_id", "text", lambda3 = 0.5, lambda2 = 0.3),

    "q_streaming_kn_probe" ->
      graft.ops.Corpus.knScoreOracleSql(
        "documents",
        "(SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)",
        "doc_id", "text", discount = 0.75),

    // additive pair/win counts: the folded-store MM refit equals the
    // full-history fit, so the oracle is q_bradley_terry's replay
    "q_bt_index_sync" ->
      graft.ops.Rlhf.bradleyTerryOracleSql(
        """(SELECT CASE WHEN x.value > y.value THEN x.event_type
             ELSE y.event_type END AS w,
           CASE WHEN x.value > y.value THEN y.event_type
             ELSE x.event_type END AS l
           FROM events x JOIN events y ON y.event_id = x.event_id + 1
           WHERE x.event_type <> y.event_type AND x.value <> y.value)"""
          .linesIterator.map(_.trim).mkString(" "),
        winnerExpr = "w", loserExpr = "l", iters = 4),

    "q_elo" ->
      graft.ops.Rlhf.eloBatchedOracleSql(
        """SELECT least((dayofyear(x.ts) - 1) // 7, 4) AS ep,
           CASE WHEN x.value > y.value THEN x.event_type
             ELSE y.event_type END AS w,
           CASE WHEN x.value > y.value THEN y.event_type
             ELSE x.event_type END AS l
           FROM events x JOIN events y ON y.event_id = x.event_id + 1
           WHERE x.event_type <> y.event_type AND x.value <> y.value"""
          .linesIterator.map(_.trim).mkString(" "),
        numEpochs = 5),

    // additive epoch counts: fold == match-level replay, so the stored
    // leaderboard's oracle is q_elo's
    "q_elo_index_sync" ->
      graft.ops.Rlhf.eloBatchedOracleSql(
        """SELECT least((dayofyear(x.ts) - 1) // 7, 4) AS ep,
           CASE WHEN x.value > y.value THEN x.event_type
             ELSE y.event_type END AS w,
           CASE WHEN x.value > y.value THEN y.event_type
             ELSE x.event_type END AS l
           FROM events x JOIN events y ON y.event_id = x.event_id + 1
           WHERE x.event_type <> y.event_type AND x.value <> y.value"""
          .linesIterator.map(_.trim).mkString(" "),
        numEpochs = 5),

    "q_sq_recon_error" ->
      graft.ops.SimilaritySearch.sqReconstructionErrorOracleSql(
        "embeddings", "vec_id", "embedding"),

    "q_blocklist_filter" ->
      graft.ops.Corpus.blocklistFilterOracleSql("documents", "doc_id", "text",
        words = Seq("table", "scan", "fast"), maxHits = 1L),

    "q_ac_blocklist" ->
      graft.ops.Corpus.acBlocklistFilterOracleSql("documents", "doc_id", "text",
        patterns = AcPatterns, maxHits = 2L),

    "q_ac_pattern_stats" ->
      graft.ops.Corpus.acPatternStatsOracleSql("documents", "doc_id", "text",
        patterns = AcPatterns),

    // fold ≡ rebuild (disjoint batches, additive counts)
    "q_ac_index_sync" ->
      graft.ops.Corpus.acPatternStatsOracleSql("documents", "doc_id", "text",
        patterns = AcPatterns),

    "q_streaming_ac_probe" ->
      graft.ops.Corpus.acBlocklistFilterOracleSql(
        "(SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)",
        "doc_id", "text", patterns = AcPatterns, maxHits = 2L),

    "q_bpe_train" ->
      graft.ops.Corpus.bpeTrainOracleSql("documents", "text", nMerges = 8),

    "q_bpe_subwords" ->
      graft.ops.Corpus.bpeSegmentCountsOracleSql("documents", "doc_id", "text",
        nMerges = 8),

    "q_corpus_diff" ->
      graft.ops.Corpus.corpusDiffOracleSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0)",
        """(SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 0)""",
        "doc_id", "text"),

    "q_padding_waste" ->
      graft.ops.Corpus.paddingWasteOracleSql("documents",
        """len(string_split_regex(trim(text), '\s+'))""",
        boundaries = Seq(64, 128, 256, 512)),

    "q_neardup_source_matrix" ->
      ApproxDedup.nearDupSourceMatrixOracleSql("documents", "doc_id", "text",
        "source", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_cluster_sizes" -> {
      val clusters = ApproxDedup.nearDupClustersFastOracleSql(
        "documents", "doc_id", "text", threshold = 0.5, shingleSize = 3,
        k = 24, bands = 6, estSlack = 0.25, maxBucket = 200)
      s"""SELECT sz, count(*) AS n_clusters FROM (
           SELECT cluster_id, count(*) AS sz FROM ($clusters) c GROUP BY 1) g
         GROUP BY 1 ORDER BY 1"""
    },

    "q_winsorize" ->
      graft.ops.Maintenance.winsorizeOracleSql("documents", "doc_id",
        "n_chars", pLo = 0.05, pHi = 0.95),

    "q_psi_drift" ->
      graft.ops.Maintenance.psiBinsOracleSql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "n_chars", lo = 0.0, hi = 4000.0, bins = 20),

    "q_ks_drift" ->
      graft.ops.Maintenance.ksDriftOracleSql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "n_chars"),

    // additive value counts: store-read == recount, so the stored
    // baseline's oracle is q_ks_drift's replay
    "q_ks_drift_stored" ->
      graft.ops.Maintenance.ksDriftOracleSql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "n_chars"),

    "q_psi_drift_stored" ->
      graft.ops.Maintenance.psiBinsOracleSql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "n_chars", lo = 0.0, hi = 4000.0, bins = 20),

    "q_semantic_drift" ->
      SimilaritySearch.semanticDriftOracleSql(
        "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
        "(SELECT * FROM embeddings WHERE vec_id % 2 = 1)",
        "vec_id", "embedding", centroidMax = 32, bins = 16),

    "q_minhash_tuning" ->
      ApproxDedup.minhashTuningOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24),

    "q_c4_line_clean" ->
      graft.ops.Cleaning.c4LineCleanOracleSql("documents", "doc_id",
        """concat_ws(chr(10),
           text || '.',
           'Click here',
           'All rights reserved by ' || source || ' media group',
           'Please enable javascript to view this page.',
           CASE WHEN doc_id % 5 = 0 THEN 'if (x) { return; }'
                ELSE 'This closing sentence has exactly seven words!' END,
           CASE WHEN doc_id % 17 = 0 THEN 'Lorem Ipsum dolor sit amet text filler.'
                ELSE 'Document ' || CAST(doc_id AS VARCHAR) ||
                     ' concludes with a proper sentence.' END)""",
        minWords = 5, minLines = 2),

    "q_boilerplate_lines" ->
      graft.ops.Cleaning.boilerplateLinesOracleSql("documents", "doc_id",
        boilerplatePagesSqlExpr, "source", minFrac = 0.6, minDocs = 2L),

    "q_remove_boilerplate" ->
      graft.ops.Cleaning.removeBoilerplateOracleSql("documents", "doc_id",
        boilerplatePagesSqlExpr, "source", minFrac = 0.6, minDocs = 2L),

    "q_contamination_report" ->
      graft.ops.Corpus.contaminationReportOracleSql("documents", "doc_id",
        "text", benchPred = "doc_id % 20 = 0", corpusPred = "doc_id % 20 <> 0",
        shingleSize = 3, threshold = 0.5),

    "q_fertility_report" ->
      graft.ops.Corpus.fertilityReportOracleSql("documents", "text",
        "lang", nMerges = 6),

    "q_unimax_alloc" ->
      graft.ops.Sampling.unimaxAllocationOracleSql("documents", "lang",
        "len(string_split_regex(trim(text), '\\s+'))",
        budget = 20000L, epochCap = 1),

    "q_temperature_mixture" ->
      graft.ops.Sampling.temperatureMixtureOracleSql("documents", "lang",
        "len(string_split_regex(trim(text), '\\s+'))",
        budget = 20000L, alpha = 0.3),

    "q_curriculum_interleave" ->
      graft.ops.Sampling.curriculumInterleaveOracleSql("documents", "doc_id",
        "source", "len(string_split_regex(trim(text), '\\s+'))"),

    "q_pii_report" ->
      graft.ops.Cleaning.piiReportOracleSql("documents", "source",
        """text || CASE WHEN doc_id % 3 = 0
             THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.org'
             ELSE '' END ||
           CASE WHEN doc_id % 4 = 0 THEN ' call +1 555-0199 now'
             ELSE '' END"""),

    "q_boilerplate_index_sync" ->
      graft.ops.Cleaning.boilerplateLinesOracleSql("documents", "doc_id",
        boilerplatePagesSqlExpr, "source", minFrac = 0.6, minDocs = 2L),

    "q_quality_sweep" ->
      graft.ops.Corpus.qualityThresholdSweepOracleSql("documents",
        scoreSql =
          """(CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
                    AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
                   THEN 1.0 ELSE 0.0 END
            + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                        / greatest(length(text),1)::DOUBLE <= 0.1 THEN 1.0 ELSE 0.0 END
            + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                       ['the','a','of','and','to','in','is','it','that','for'])) >= 2
                   THEN 1.0 ELSE 0.0 END) / 4.0""",
        tokensSql = "len(string_split_regex(trim(text), '\\s+'))",
        thresholds = Seq(0.25, 0.5, 0.75, 1.0)),

    "q_dedup_rate_curve" ->
      ApproxDedup.dedupRateCurveOracleSql("documents", "doc_id", "text",
        thresholds = Seq(0.3, 0.5, 0.7, 0.9), shingleSize = 3, k = 24,
        bands = 6, estSlack = 0.25, maxBucket = 200),

    "q_zipf_fit" ->
      graft.ops.Corpus.zipfFitOracleSql("documents", "text", topV = 100),

    "q_hybrid_rrf" -> {
      val bm25 = graft.ops.Corpus.bm25OracleSql("documents", "doc_id", "text",
        terms = Seq("table", "scan", "fast", "vector"), k = 20)
      s"""WITH lexr AS (
           SELECT doc_id,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
           FROM ($bm25) lex),
         semr AS (
           SELECT doc_id,
             row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
           FROM (
             WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                        FROM embeddings WHERE vec_id = 0)
             SELECT vec_id AS doc_id,
               list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
               (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))) AS cosine
             FROM embeddings, q
             ORDER BY cosine DESC, vec_id LIMIT 20) sem),
         u AS (
           SELECT doc_id, CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM lexr
           UNION ALL
           SELECT doc_id, CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM semr)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
           count(*) AS n_lists
         FROM u GROUP BY 1 ORDER BY rrf_micro DESC, doc_id LIMIT 10"""
    },

    "q_rbo" -> {
      val bm25 = graft.ops.Corpus.bm25OracleSql("documents", "doc_id", "text",
        terms = Seq("table", "scan", "fast", "vector"), k = 20)
      graft.ops.Evaluation.rboOracleSql(
        s"""SELECT doc_id,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
           FROM ($bm25) lex""",
        """SELECT doc_id,
             row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
           FROM (
             WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                        FROM embeddings WHERE vec_id = 0)
             SELECT vec_id AS doc_id,
               list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
               (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))) AS cosine
             FROM embeddings, q
             ORDER BY cosine DESC, vec_id LIMIT 20) sem""",
        depth = 20, p = 0.9)
    },

    "q_krippendorff" ->
      graft.ops.Evaluation.krippendorffOracleSql(
        """WITH d0 AS (SELECT event_id % 997 AS item, user_id % 5 AS rater,
             event_id, CAST(round(value) AS BIGINT) * 4 // 491 AS lbl
             FROM events),
           pick AS (SELECT item, rater, min(event_id) AS eid
                    FROM d0 GROUP BY 1, 2)
           SELECT d0.item, d0.lbl
           FROM d0 JOIN pick ON pick.item = d0.item AND pick.rater = d0.rater
                            AND pick.eid = d0.event_id
           WHERE (d0.item + d0.rater) % 7 <> 0"""
          .linesIterator.map(_.trim).mkString(" "),
        maxRaters = 5),

    "q_itq_recall" -> ItqModel.forOracle.map { case (w, o) =>
        graft.ops.SimilaritySearch.itqVsSrpRecallOracleSql("embeddings",
          "vec_id", "embedding", w, o,
          SimilaritySearch.srpPlanes(dim = 64, nBits = ItqBits),
          ItqQids, k = 10, cand = 50)
      }.getOrElse("SELECT CAST(NULL AS BIGINT) AS itq_not_trained"),

    "q_pca_variance" -> PcaModel.forOracle.map { case (comps, eigs, mean) =>
        graft.ops.SimilaritySearch.pcaVarianceOracleSql("embeddings",
          "embedding", comps, eigs, mean)
      }.getOrElse("SELECT CAST(NULL AS BIGINT) AS pca_not_trained"),

    "q_remove_dup_spans" ->
      ApproxDedup.removeDupSpansOracleSql(
        """(SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
             substring(text, 1, 60) || ' tail-' || CAST(doc_id AS VARCHAR) AS text
           FROM documents WHERE doc_id % 10 = 0)""",
        "doc_id", "text", n = 20),

    "q_epoch_materialize" ->
      graft.ops.Sampling.materializeEpochsOracleSql("documents", "doc_id",
        "lang", """len(string_split_regex(trim(text), '\s+'))""",
        Seq("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
        budget = 60000L),

    "q_domain_kl" ->
      graft.ops.Corpus.domainDivergenceOracleSql("documents", "source", "text"),

    "q_weighted_sample" ->
      graft.ops.Sampling.weightedSampleOracleSql("documents", "doc_id",
        "n_chars", k = 50),

    "q_weighted_sample_grouped" ->
      graft.ops.Sampling.weightedSamplePerGroupOracleSql("documents",
        "doc_id", "source", "n_chars", k = 5),

    "q_curation_v2" ->
      s"""WITH gated AS (
           SELECT d.* FROM documents d
           WHERE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 t -> list_contains(['fast', 'scan', 'table'], t))) AS BIGINT) <= 1),
         b AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
                      quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
               FROM gated),
         wz AS (SELECT doc_id, source,
                  least(greatest(CAST(n_chars AS DOUBLE), b.lo), b.hi) AS v_winsor
                FROM gated, b),
         t AS (SELECT doc_id, source, CAST(v_winsor AS DOUBLE) AS weight
               FROM wz WHERE v_winsor > 0),
         s AS (
           SELECT doc_id, source, weight,
             CAST(round(ln(weight) * 1000000.0) AS BIGINT) +
             CAST(round(-ln(-ln(
               (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                 / 4294967296.0)) * 1000000.0) AS BIGINT) AS score_micro
           FROM t),
         r AS (
           SELECT doc_id, source, weight, score_micro,
             row_number() OVER (PARTITION BY source
               ORDER BY score_micro DESC, doc_id) AS rnk
           FROM s)
         SELECT doc_id, source, weight, score_micro FROM r
         WHERE rnk <= 3 ORDER BY doc_id""",

    "q_dup_char_spans" ->
      ApproxDedup.dupCharSpanStatsOracleSql("documents", "doc_id", "text", n = 20),

    "q_repetition_matrix" ->
      graft.ops.Corpus.repetitionMatrixOracleSql(
        """(SELECT doc_id, text || ' ' || f8 || ' ' || f8 AS text FROM (
           SELECT doc_id, text,
             array_to_string((string_split_regex(trim(lower(text)), '\s+'))[1:8], ' ') AS f8
           FROM documents))""",
        "doc_id", "text"),

    "q_semantic_dedup" ->
      ApproxDedup.semanticDedupOracleSql("embeddings", "vec_id", "embedding",
        nCentroids = 16, threshold = 0.45),

    "q_cluster_sample" ->
      graft.ops.Sampling.clusterSampleOracleSql("embeddings", "vec_id", "embedding",
        nCentroids = 16, perCell = 5),

    "q_rare_tokens" ->
      """WITH tok AS (
           SELECT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
             FROM documents) t
           WHERE length(tok) > 0),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1)
         SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cf <= 1 THEN tf ELSE 0 END) AS BIGINT) AS n_rare,
           count(CASE WHEN cf <= 1 THEN 1 END) AS n_rare_types,
           CAST(sum(CASE WHEN cf <= 1 THEN tf ELSE 0 END) AS DOUBLE) /
             CAST(sum(tf) AS DOUBLE) AS rare_ratio
         FROM tf JOIN cf USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",

    "q_unigram_logprob" ->
      graft.ops.Corpus.unigramLogProbOracleSql("documents", "doc_id", "text"),

    "q_quality_classifier" ->
      graft.ops.Corpus.hashedLinearScoreOracleSql("documents", "doc_id", "text"),

    "q_doc_chunking" ->
      graft.ops.Corpus.chunkDocsOracleSql("documents", "doc_id", "text",
        chunkTokens = 64, stride = 48),

    "q_source_overlap" ->
      graft.ops.Corpus.sourceOverlapOracleSql("documents", "text", "source",
        shingleSize = 3),

    "q_ccnet_buckets" ->
      graft.ops.Corpus.ccnetBucketsOracleSql("documents", "doc_id", "text",
        "lang"),

    "q_media_features" ->
      Media.featuresOracleSql("documents", "doc_id", "text"),

    "q_video_scene_cuts" ->
      Media.sceneCutsOracleSql("documents", "doc_id", "text", 55000L),

    "q_audio_loudness" ->
      Media.loudnessOracleSql("documents", "doc_id", "text", 8, 14000L),

    "q_na_canonicalize" ->
      """SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS event_type,
         count(*) AS cnt FROM events
         GROUP BY 1 ORDER BY 1 NULLS FIRST""",

    "q_get_docs" ->
      """SELECT '{"event_id":' || event_id || ',"user_id":' || user_id || '}' AS doc
         FROM events ORDER BY doc""",

    "q_dtype_enforce" ->
      """SELECT event_id, CAST(user_id AS INTEGER) AS user_id,
         CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value
         FROM events ORDER BY event_id""",

    "q_ingest_lines" ->
      """SELECT * FROM (VALUES
           ('alpha', CAST(12 AS DOUBLE), true),
           ('beta', CAST(7.5 AS DOUBLE), false),
           ('gamma', CAST(3 AS DOUBLE), true)) t(sensor, reading, flag)
         ORDER BY sensor""",

    "q_parse_datetimes" ->
      """SELECT event_id,
         strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S') AS ts_str,
         CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d_str
         FROM events ORDER BY event_id""",

    "q_coerce_tz" ->
      """SELECT event_id,
         timezone('America/New_York', timezone('UTC', ts)) AS ts_ny,
         timezone('UTC', timezone('Europe/Berlin', ts)) AS ts_berlin_utc
         FROM events ORDER BY event_id""",

    "q_round_modes" ->
      """WITH b AS (SELECT event_id, ts, date_trunc('hour', ts) AS f,
           CASE WHEN date_trunc('hour', ts) = ts THEN ts
                ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR END AS cl
         FROM events)
         SELECT event_id, f AS h_floor, cl AS h_ceil,
           CASE WHEN epoch_us(ts) - epoch_us(f) < epoch_us(cl) - epoch_us(ts)
                THEN f ELSE cl END AS h_closest,
           make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000) AS m15_floor
         FROM b ORDER BY event_id""",

    "q_autotime_precision" ->
      """SELECT event_id, TIMESTAMP '2024-03-07 10:10:00' AS ts, user_id
         FROM events ORDER BY event_id""",

    "q_chunk_bounds" ->
      """SELECT CASE WHEN g < TIMESTAMP '2024-01-03 07:00:00'
                     THEN TIMESTAMP '2024-01-03 07:00:00' ELSE g END AS chunk_begin,
                g + INTERVAL 1 DAY AS chunk_end
         FROM generate_series(TIMESTAMP '2024-01-03 00:00:00',
                              TIMESTAMP '2024-01-19 00:00:00', INTERVAL 1 DAY) t(g)
         ORDER BY chunk_begin""",

    "q_verify_content" ->
      """SELECT event_id, ts, user_id, value FROM events ORDER BY event_id""",

    "q_embedding_ann_ivf_stored" ->
      SimilaritySearch.ivfOracleSql("embeddings", "vec_id", "embedding",
        nCentroids = 16, nProbe = 4, queryId = 0L, k = 10),

    "q_autoincrement_ids" ->
      """SELECT CAST(row_number() OVER () AS BIGINT) AS row_id
         FROM events ORDER BY row_id""",

    "q_schedule_fires" ->
      """SELECT * FROM (
           SELECT 'every 15 minutes' AS schedule,
                  CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS n, g AS fire_at
           FROM generate_series(TIMESTAMP '2024-03-01 00:00:00',
                                TIMESTAMP '2024-03-01 01:45:00', INTERVAL 15 MINUTE) t(g)
           UNION ALL
           SELECT 'daily starting 2024-03-05 01:30:00',
                  CAST(row_number() OVER (ORDER BY g) AS BIGINT), g
           FROM generate_series(TIMESTAMP '2024-03-05 01:30:00',
                                TIMESTAMP '2024-03-09 01:30:00', INTERVAL 1 DAY) t(g)
           UNION ALL
           SELECT '30 14 * * *',
                  CAST(row_number() OVER (ORDER BY g) AS BIGINT), g
           FROM generate_series(TIMESTAMP '2024-03-01 14:30:00',
                                TIMESTAMP '2024-03-04 14:30:00', INTERVAL 1 DAY) t(g)
         ) ORDER BY schedule, n""",

    "q_registry_search" ->
      """SELECT 'c' || CAST(n_regionkey % 3 AS VARCHAR) AS connector,
                lower(n_name) AS metric
         FROM nation
         WHERE 'c' || CAST(n_regionkey % 3 AS VARCHAR) <> 'c2'
           AND n_nationkey % 2 = 0
           AND n_regionkey <> 4
         ORDER BY connector, metric""",

    "q_api_fetch" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
           AND event_type IN ('click','view')
         ORDER BY event_id""",

    "q_asof_join" ->
      """WITH t AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type='purchase'),
         q AS (SELECT event_id AS click_id, user_id, ts, value AS click_value FROM events WHERE event_type='click'),
         u AS (
           SELECT user_id, ts, 1 AS side, CAST(NULL AS BIGINT) AS click_id,
                  CAST(NULL AS DOUBLE) AS click_value, event_id, value FROM t
           UNION ALL
           SELECT user_id, ts, 0, click_id, click_value, NULL, NULL FROM q),
         m AS (
           SELECT *, last_value(click_id IGNORE NULLS) OVER w AS m_click_id,
                     last_value(click_value IGNORE NULLS) OVER w AS m_click_value
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, click_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts, value, m_click_id AS click_id,
                m_click_value AS click_value
         FROM m WHERE side = 1 ORDER BY event_id""",

    "q_asof_tolerance" ->
      """WITH t AS (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase'),
         q AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type='click'),
         u AS (
           SELECT user_id, ts, 1 AS side, CAST(NULL AS BIGINT) AS click_id,
                  CAST(NULL AS TIMESTAMP) AS rts, event_id FROM t
           UNION ALL
           SELECT user_id, ts, 0, click_id, ts, NULL FROM q),
         m AS (
           SELECT *, last_value(click_id IGNORE NULLS) OVER w AS m_click_id,
                     last_value(rts IGNORE NULLS) OVER w AS m_rts
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, side, click_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts,
           CASE WHEN m_rts IS NOT NULL AND epoch_us(m_rts) - epoch_us(ts) <= 7200000000
                THEN m_click_id END AS click_id
         FROM m WHERE side = 1 ORDER BY event_id""",

    "q_sessionize" ->
      """WITH o AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 14400000000
                  THEN 1 ELSE 0 END AS is_new
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts,
             -- DuckDB's windowed sum is HUGEINT → pandas float64; CAST so
             -- the driver hash sees the same int64 as the Spark side
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM o)
         SELECT user_id, session_idx, min(ts) AS session_start,
                max(ts) AS session_end, count(*) AS n_events
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""",

    "q_streaming_synctimes" ->
      """SELECT user_id, max(ts) AS st FROM events GROUP BY user_id
         ORDER BY user_id""",

    "q_streaming_windows" ->
      """WITH b AS (
           SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS bus FROM events)
         SELECT make_timestamp(bus) AS chunk_start, count(*) AS cnt
         FROM b GROUP BY 1 ORDER BY 1""",

    "q_streaming_sessions" ->
      """WITH o AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 14400000000
                  THEN 1 ELSE 0 END AS is_new
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM o)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 4 HOUR AS session_end,
                count(*) AS n_events
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",

    "q_range_join" ->
      """WITH o AS (
           SELECT ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 14400000000
                  THEN 1 ELSE 0 END AS is_new
           FROM events WHERE user_id = 7
           WINDOW w AS (ORDER BY ts, event_id)),
         s AS (
           SELECT session_idx, min(ts) AS session_start, max(ts) AS session_end,
                  count(*) AS n_events
           FROM (SELECT ts, CAST(sum(is_new) OVER (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
                 FROM o) t
           GROUP BY session_idx),
         p AS (SELECT event_id, ts FROM events WHERE event_type='purchase')
         SELECT s.session_idx, s.session_start, s.session_end, p.event_id,
                p.ts AS pt_ts
         FROM s JOIN p ON p.ts >= s.session_start AND p.ts <= s.session_end
         ORDER BY session_idx, event_id""",

    "q_vocab_topk" ->
      """SELECT tok AS token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents) t
         WHERE length(tok) > 0
         GROUP BY 1 ORDER BY freq DESC, token LIMIT 100""",

    // the stored-index fold equals the full-corpus count (sum-mergeable)
    "q_vocab_index_sync" ->
      """SELECT tok AS token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents) t
         WHERE length(tok) > 0
         GROUP BY 1 ORDER BY freq DESC, token LIMIT 30""",

    "q_decontaminate" ->
      """WITH sh0 AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')) END) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)),
         sh AS (
           SELECT doc_id,
             list_transform(sh, s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)) AS sh
           FROM sh0),
         b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 20 = 0),
         c AS (SELECT doc_id AS corpus_id, sh FROM sh)
         SELECT corpus_id, bench_id,
           len(list_intersect(c.sh, b.sh))::DOUBLE / len(b.sh)::DOUBLE AS containment
         FROM c, b WHERE corpus_id <> bench_id
           AND len(list_intersect(c.sh, b.sh))::DOUBLE / len(b.sh)::DOUBLE >= 0.5
         ORDER BY corpus_id, bench_id""",

    "q_repetition_stats" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                 ELSE list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1]) END) AS gram
               FROM t),
         m AS (SELECT doc_id, max(c) AS top_bigram_count, sum(c) AS n_bigrams
               FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1)
         SELECT d.doc_id,
           coalesce(m.top_bigram_count, 0) AS top_bigram_count,
           coalesce(m.top_bigram_count::DOUBLE / m.n_bigrams::DOUBLE, 0.0) AS top_bigram_fraction,
           len(list_distinct(string_split(d.text, '. ')))::DOUBLE
             / len(string_split(d.text, '. '))::DOUBLE AS uniq_sentence_ratio
         FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id ORDER BY d.doc_id""",

    "q_winnow_fingerprints" ->
      """WITH h AS (
           SELECT doc_id, list_transform(generate_series(1, greatest(length(lower(text))-8+1, 0)),
             i -> CAST(('0x' || substring(md5(substring(lower(text), i, 8)), 1, 8)) AS BIGINT)) AS hs
           FROM documents),
         sel AS (
           SELECT doc_id, CASE WHEN len(hs) < 4 THEN list_distinct(hs)
             ELSE list_distinct(list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3]))) END AS fps
           FROM h)
         SELECT doc_id, unnest(fps) AS fp FROM sel ORDER BY doc_id, fp""",

    "q_stratified_sample" ->
      """WITH b AS (
           SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bk
           FROM documents)
         SELECT doc_id, lang FROM b
         WHERE bk < CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 50 ELSE 100 END
         ORDER BY doc_id""",

    "q_dsir_weights" ->
      s"""WITH $dsirWeightsCte
         SELECT d.doc_id, coalesce(w.logw_micro, CAST(0 AS BIGINT)) AS logw_micro
         FROM documents d LEFT JOIN wsum w USING (doc_id)
         ORDER BY d.doc_id""",

    "q_dsir_resample" ->
      s"""WITH $dsirWeightsCte,
         allw AS (
           SELECT d.doc_id, coalesce(w.logw_micro, CAST(0 AS BIGINT)) AS logw_micro
           FROM documents d LEFT JOIN wsum w USING (doc_id)),
         sel AS (
           SELECT doc_id, logw_micro,
             logw_micro + CAST(round(-ln(-ln(
               (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                 / 4294967296.0)) * 1000000.0) AS BIGINT) AS score_micro
           FROM allw)
         SELECT doc_id, logw_micro, score_micro FROM sel
         ORDER BY score_micro DESC, doc_id LIMIT 40""",

    "q_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
           FROM documents),
         cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
         terms AS (
           SELECT cnt.doc_id,
             CAST(round((CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
               * ln(CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS term
           FROM cnt JOIN tot USING (doc_id)),
         e AS (SELECT doc_id, CAST(sum(term) AS BIGINT) AS entropy_micro
               FROM terms GROUP BY 1)
         SELECT d.doc_id,
           coalesce(e.entropy_micro, CAST(0 AS BIGINT)) AS entropy_micro,
           CAST(coalesce(e.entropy_micro, CAST(0 AS BIGINT)) AS DOUBLE) / 1000000.0 AS entropy
         FROM documents d LEFT JOIN e USING (doc_id)
         ORDER BY d.doc_id""",

    "q_mixture_sample" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         b(lang, token_budget) AS (VALUES
           ('de', CAST(600 AS BIGINT)), ('en', CAST(3000 AS BIGINT)),
           ('es', CAST(600 AS BIGINT)), ('fr', CAST(600 AS BIGINT)),
           ('zh', CAST(1200 AS BIGINT))),
         c AS (
           SELECT t.doc_id, t.lang, t.n_tokens, b.token_budget,
             CAST(sum(t.n_tokens) OVER (PARTITION BY t.lang
               ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           FROM t JOIN b USING (lang))
         SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= token_budget ORDER BY doc_id""",

    "q_streaming_enrich" ->
      """SELECT n_name, count(*) AS n_events
         FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
         GROUP BY 1 ORDER BY 1""",

    "q_redact_pii" ->
      """SELECT event_id, regexp_replace(regexp_replace(
           'user ' || user_id || ' email u' || user_id || '@example' || (event_id % 10) ||
           '.com phone +1 555-01' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') || ' end',
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
         FROM events ORDER BY event_id""",

    "q_nfc_normalize" ->
      """WITH s AS (
           SELECT doc_id, substr(text, 1, 40) || 'e' || chr(769) AS raw
           FROM documents)
         SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_before,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_after,
           nfc_normalize(raw) AS normalized
         FROM s ORDER BY doc_id""",

    "q_quality_filter" ->
      graft.ops.Corpus.gopherQualityFilterOracleSql("documents", "doc_id", "text"),

    "q_quality_percentile" ->
      """SELECT lang,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.5)  AS p50,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75,
           count(*) AS cnt
         FROM documents GROUP BY lang ORDER BY lang""",

    "q_url_domains" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'https://Blog.' END) || source ||
             (CASE WHEN doc_id % 3 = 0 THEN '.CO.UK' ELSE '.Example.COM' END) ||
             (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END) ||
             '/Articles/' || CAST(doc_id AS VARCHAR) ||
             (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
             (CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END) AS raw
           FROM documents),
         a AS (
           SELECT doc_id, regexp_replace(raw, '#.*', '') AS nofrag,
             regexp_extract(regexp_replace(raw, '#.*', ''),
               '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS auth
           FROM u),
         norm AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(lower(auth), '^(http://.*):80$', '\1'),
                            '^(https://.*):443$', '\1') ||
             regexp_replace(substring(nofrag, length(auth) + 1), '/+$', '') AS url_norm
           FROM a),
         dom AS (
           SELECT doc_id, url_norm,
             CASE WHEN len(p) <= 2 THEN array_to_string(p, '.')
                  WHEN array_to_string(p[-2:], '.') IN
                    ('co.uk','org.uk','gov.uk','ac.uk','com.au','net.au',
                     'co.jp','co.kr','com.br','com.mx','co.in','com.cn')
                    THEN array_to_string(p[-3:], '.')
                  ELSE array_to_string(p[-2:], '.') END AS domain
           FROM (SELECT doc_id, url_norm,
                   string_split(lower(regexp_extract(url_norm, '://([^/:?#]+)', 1)), '.') AS p
                 FROM norm))
         SELECT doc_id, url_norm, domain FROM dom
         WHERE domain NOT IN ('src0.co.uk', 'src1.co.uk')
         ORDER BY doc_id""",

    "q_dedup_lines" ->
      """WITH d2 AS (
           SELECT doc_id,
             text || chr(10) || 'Subscribe to our newsletter today.' || chr(10) ||
             'All rights reserved by ' || source || chr(10) || '© 2024' AS t
           FROM documents),
         l AS (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
             i -> {'pos': i, 'line': ls[i]}), recursive := true)
           FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d2)),
         k AS (
           SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
           FROM l),
         kept AS (SELECT * FROM k WHERE length(line) < 10 OR rn = 1),
         r AS (
           SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY 1)
         SELECT d2.doc_id, coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0) AS n_kept,
           len(string_split(d2.t, chr(10))) - coalesce(r.n_kept, 0) AS n_removed
         FROM d2 LEFT JOIN r USING (doc_id) ORDER BY doc_id""",

    "q_pack_chunks" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bucket,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, bucket, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - n_tokens AS start_offset
           FROM t)
         SELECT doc_id, bucket, n_tokens, start_offset,
           start_offset // 2048 AS chunk_id,
           (start_offset + n_tokens - 1) // 2048 - start_offset // 2048 + 1 AS n_chunks
         FROM o ORDER BY doc_id""",

    "q_tfidf_topk" ->
      """WITH tok AS (
           SELECT doc_id, tok AS token FROM (
             SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
             FROM documents) WHERE length(tok) > 0),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         sc AS (
           SELECT tf.doc_id, tf.token, tf.tf, df.df,
             tf.tf::DOUBLE / df.df::DOUBLE AS score,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf::DOUBLE / df.df::DOUBLE DESC, tf.token) AS rank
           FROM tf JOIN df USING (token))
         SELECT doc_id, rank, token, tf, df, score FROM sc WHERE rank <= 3
         ORDER BY doc_id, rank""",

    "q_pipe_dag" ->
      """SELECT event_id, ts, user_id, event_type, value * 2 AS value
         FROM events WHERE event_type <> 'error' ORDER BY event_id""",

    "q_ivf_index_sync" ->
      SimilaritySearch.ivfOracleSql("embeddings", "vec_id", "embedding",
        nCentroids = 16, nProbe = 4, queryId = 0L, k = 10),

    "q_ivfpq_index_sync" ->
      SimilaritySearch.ivfPqOracleSql("embeddings", "vec_id", "embedding",
        dim = 64, m = 4, ks = 16, nCentroids = 16, nProbe = 8,
        queryId = 0, k = 10, rerank = 50),

    // streamed increments are row-local (fold = union ≡ rebuild), so the
    // maintained-index probe replays as the full IVF+PQ probe
    "q_streaming_ivfpq_maintain" ->
      SimilaritySearch.ivfPqOracleSql("embeddings", "vec_id", "embedding",
        dim = 64, m = 4, ks = 16, nCentroids = 16, nProbe = 8,
        queryId = 0, k = 10, rerank = 50),

    "q_profile_stats" ->
      graft.ops.Maintenance.profileOracleSql("events",
        Seq(("event_id", true), ("user_id", true), ("value", true),
            ("event_type", false))),

    "q_histogram" ->
      graft.ops.Maintenance.histogramOracleSql("events", "value", bins = 20),

    "q_curation_pipeline" -> {
      val cte = graft.ops.Corpus.gopherSignalsCte(
        "(SELECT doc_id, nfc_normalize(text) AS text FROM documents)",
        "doc_id", "text")
      s"""WITH $cte,
         kept AS (
           SELECT t0.doc_id, t0.text FROM t0 JOIN sig USING (doc_id)
           WHERE NOT (${graft.ops.Corpus.gopherRejectSql(20, 100000, 0)})),
         surv AS (
           SELECT min(doc_id) AS doc_id
           FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM kept)
           GROUP BY fp),
         sel AS (
           SELECT k.doc_id, k.text,
             CAST(('0x' || substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bk
           FROM kept k JOIN surv USING (doc_id))
         SELECT doc_id,
           CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         FROM sel ORDER BY doc_id"""
    },

    // composed v3 oracle: each stage is the SAME generator its standalone
    // query is proven by, chained through named CTEs (nested WITHs scope
    // each generator's internal names); the pair-graph stages both run
    // over kept2, exactly as the Spark plan shares one pair computation.
    "q_curation_v3" -> {
      val scoreSql =
        """(CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
                    AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
                   THEN 1.0 ELSE 0.0 END
            + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                        / greatest(length(text),1)::DOUBLE <= 0.1 THEN 1.0 ELSE 0.0 END
            + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                       ['the','a','of','and','to','in','is','it','that','for'])) >= 2
                   THEN 1.0 ELSE 0.0 END) / 4.0"""
      val kb = ApproxDedup.keepBestOracleSql("kept2", "doc_id", "text",
        scoreSql, "quality", threshold = 0.5, shingleSize = 3, k = 24,
        bands = 6, estSlack = 0.25, maxBucket = 200)
      val cc = graft.ops.Corpus.ccnetBucketsOracleSql("kept3", "doc_id", "text", "lang")
      val ls = ApproxDedup.leakageSafeSplitOracleSql("kept2", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200)
      s"""WITH g1 AS (
           WITH ${graft.ops.Corpus.gopherSignalsCte("documents", "doc_id", "text")}
           SELECT doc_id FROM sig
           WHERE NOT (${graft.ops.Corpus.gopherRejectSql(20, 100000, 0)})),
         kept1 AS (SELECT d.* FROM documents d JOIN g1 USING (doc_id)),
         kept2 AS (SELECT * EXCLUDE (__rn) FROM (
             SELECT k.*, row_number() OVER (
               PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS __rn
             FROM kept1 k) t WHERE __rn = 1),
         kb AS ($kb),
         kept3 AS (SELECT k2.* FROM kept2 k2
                   WHERE k2.doc_id IN (SELECT doc_id FROM kb)),
         cc AS ($cc),
         kept4 AS (SELECT doc_id FROM cc WHERE bucket <= 2),
         ls AS ($ls)
         SELECT ls.split, d.lang, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(d.text), '\\s+'))) AS BIGINT) AS total_tokens
         FROM ls JOIN kept4 USING (doc_id) JOIN kept2 d USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    "q_minhash_index_sync" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')) END) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)),
         q AS (SELECT sh FROM sh WHERE doc_id = 45),
         p AS (
           SELECT LEAST(45, b.doc_id) AS id1, GREATEST(45, b.doc_id) AS id2,
             len(list_intersect(q.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(q.sh, b.sh)))::DOUBLE AS jaccard
           FROM sh b, q WHERE b.doc_id <> 45)
         SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    // streamed band increments are row-local (fold = union ≡ rebuild),
    // so the maintained-index probe replays as the batch index sync
    "q_streaming_minhash_maintain" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')) END) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)),
         q AS (SELECT sh FROM sh WHERE doc_id = 45),
         p AS (
           SELECT LEAST(45, b.doc_id) AS id1, GREATEST(45, b.doc_id) AS id2,
             len(list_intersect(q.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(q.sh, b.sh)))::DOUBLE AS jaccard
           FROM sh b, q WHERE b.doc_id <> 45)
         SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    "q_sql_functions" ->
      ("""SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         md5(lower(trim(text))) AS fp,
         CASE
           WHEN greatest(
             len(list_intersect(string_split_regex(lower(text),'\s+'), ['der','die','das','und','ist','ein','eine','zu','den','von'])),
             len(list_intersect(string_split_regex(lower(text),'\s+'), ['the','a','of','and','to','in','is','it','that','for'])),
             len(list_intersect(string_split_regex(lower(text),'\s+'), ['el','la','de','que','y','en','un','una','es','por'])),
             len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])),
             len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人']))) = 0 THEN 'und'
           WHEN len(list_intersect(string_split_regex(lower(text),'\s+'), ['der','die','das','und','ist','ein','eine','zu','den','von'])) >=
                greatest(
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['the','a','of','and','to','in','is','it','that','for'])),
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['el','la','de','que','y','en','un','una','es','por'])),
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])),
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人']))) THEN 'de'
           WHEN len(list_intersect(string_split_regex(lower(text),'\s+'), ['the','a','of','and','to','in','is','it','that','for'])) >=
                greatest(
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['el','la','de','que','y','en','un','una','es','por'])),
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])),
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人']))) THEN 'en'
           WHEN len(list_intersect(string_split_regex(lower(text),'\s+'), ['el','la','de','que','y','en','un','una','es','por'])) >=
                greatest(
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])),
                  len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人']))) THEN 'es'
           WHEN len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])) >=
                len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人'])) THEN 'fr'
           ELSE 'zh' END AS pred_lang,
         """ + TextFns.htmlToTextSqlExpr("('<p>' || text || '</p>')") +
      """ AS text_clean,
         """ + TextFns.stripTrackingParamsSqlExpr(
        "('https://x.example.com/p?utm_source=a&q=' || CAST(doc_id AS VARCHAR))") +
      """ AS url_clean
         FROM documents ORDER BY doc_id"""),

    "q_epoch_shuffle" ->
      graft.ops.Sampling.epochShuffleOracleSql("documents", "doc_id",
        seeds = Seq(7L, 13L), shards = 8),

    "q_train_split" ->
      """WITH b AS (
           SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bk,
                  n_chars
           FROM documents)
         SELECT CASE WHEN bk < 80 THEN 'train'
                     WHEN bk < 90 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM b GROUP BY 1 ORDER BY 1""",

    "q_shard_plan" ->
      """WITH b AS (
           SELECT doc_id, n_chars,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bk,
             md5(CAST(doc_id AS VARCHAR)) AS ord
           FROM documents),
         c AS (
           SELECT bk, n_chars,
             sum(n_chars) OVER (PARTITION BY bk ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM b)
         SELECT CAST(bk * 1000000 + (cum - n_chars) // 20000 AS BIGINT) AS shard_id,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_size
         FROM c GROUP BY 1 ORDER BY 1""",

    "q_shard_manifest" ->
      """WITH b AS (
           SELECT doc_id, n_chars,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bk,
             md5(CAST(doc_id AS VARCHAR)) AS ord,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)) AS BIGINT) AS h
           FROM documents),
         c AS (
           SELECT bk, n_chars, h,
             sum(n_chars) OVER (PARTITION BY bk ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM b)
         SELECT CAST(bk * 1000000 + (cum - n_chars) // 20000 AS BIGINT) AS shard_id,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_size,
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS content_sig
         FROM c GROUP BY 1 ORDER BY 1""",

    "q_zorder_values" ->
      s"""SELECT event_id,
         CAST(${graft.ops.Maintenance.zValueOracleExpr("user_id",
           "epoch_us(ts) // 3600000000", 16)} AS BIGINT) AS zvalue
         FROM events ORDER BY event_id""",

    "q_pagerank" ->
      ApproxDedup.pageRankFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, iters = 3, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_triangle_count" ->
      ApproxDedup.triangleStatsFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_label_centroid_sim" ->
      SimilaritySearch.groupCentroidSimilarityOracleSql("embeddings",
        "label", "embedding"),

    "q_streaming_triangle_probe" ->
      graft.ops.Corpus.streamingTriangleProbeOracleSql("documents",
        "doc_id", "text", vocabK = 60),

    // additive per-node deltas: fold == full-graph rebuild, so the stored
    // triangle stats' oracle is q_triangle_count's replay
    "q_triangle_index_sync" ->
      ApproxDedup.triangleStatsFastOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_instruction_dedup" ->
      ApproxDedup.instructionDedupOracleSql("documents", "doc_id", "text",
        jaccardThreshold = 0.35, rougeThresholdMicro = 700000L,
        maxTokens = 32, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_pmi_pairs" ->
      """WITH alltok AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
           FROM documents),
         vocab AS (
           SELECT token FROM (
             SELECT token, count(*) AS c FROM alltok WHERE length(token) > 0
             GROUP BY 1 ORDER BY c DESC, token LIMIT 40)),
         pres AS (
           SELECT DISTINCT doc_id, token FROM alltok
           WHERE length(token) > 0 AND token IN (SELECT token FROM vocab)),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         tc AS (SELECT token, count(*) AS n_t FROM pres GROUP BY 1),
         pr AS (
           SELECT a.token AS t1, b.token AS t2, count(*) AS n_pair
           FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.token < b.token
           GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT pr.t1, pr.t2, pr.n_pair,
           CAST(round(ln((pr.n_pair * nd.n_docs)::DOUBLE / (ta.n_t * tb.n_t)::DOUBLE)
             * 1000000.0) AS BIGINT) AS pmi_micro
         FROM pr
         CROSS JOIN nd
         JOIN tc ta ON pr.t1 = ta.token
         JOIN tc tb ON pr.t2 = tb.token
         ORDER BY pmi_micro DESC, t1, t2 LIMIT 25""",

    "q_soft_dedup_weights" ->
      ApproxDedup.softDedupWeightsOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_winnow_pairs" ->
      """WITH h AS (
           SELECT doc_id, list_transform(generate_series(1, greatest(length(lower(text))-8+1, 0)),
             i -> CAST(('0x' || substring(md5(substring(lower(text), i, 8)), 1, 8)) AS BIGINT)) AS hs
           FROM documents),
         sel AS (
           SELECT doc_id, CASE WHEN len(hs) < 4 THEN list_distinct(hs)
             ELSE list_distinct(list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3]))) END AS fps
           FROM h),
         u AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
         rare AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 10)
         SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared_fps
         FROM u a JOIN rare r ON a.fp = r.fp
                  JOIN u b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 5
         ORDER BY id1, id2""",

    "q_dedup_keep_best" ->
      ApproxDedup.keepBestOracleSql("documents", "doc_id", "text",
        scoreSql =
          """(CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
                    AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
                   THEN 1.0 ELSE 0.0 END
            + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                        / greatest(length(text),1)::DOUBLE <= 0.1 THEN 1.0 ELSE 0.0 END
            + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                       ['the','a','of','and','to','in','is','it','that','for'])) >= 2
                   THEN 1.0 ELSE 0.0 END) / 4.0""",
        scoreName = "quality",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_data_card" -> dataCardOracle,

    // incremental card fold == full rebuild, so the stored-card probe
    // replays as the plain corpus data card
    "q_data_card_sync" -> dataCardOracle,

    "q_bpe_stored_apply" ->
      graft.ops.Corpus.bpeCrossApplyOracleSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) AS dtr",
        "documents", "doc_id", "text", nMerges = 8),

    "q_temperature_fit" ->
      graft.ops.Evaluation.temperatureFitOracleSql(
        s"""SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
            CAST($qualityMicroSql AS BIGINT) AS s FROM documents""",
        TempGridMicro),

    "q_ndcg" -> {
      val bm25 = graft.ops.Corpus.bm25OracleSql("documents", "doc_id", "text",
        terms = Seq("table", "scan", "fast", "vector"), k = 20)
      graft.ops.Evaluation.ndcgOracleSql(
        s"""SELECT doc_id AS id,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
           FROM ($bm25) lex""",
        s"""SELECT doc_id AS id,
             CAST(CAST($qualityMicroSql AS BIGINT) * 4 // 1000000 AS BIGINT) AS rel
           FROM documents""",
        k = 10)
    },

    "q_signal_mi" ->
      graft.ops.Evaluation.signalMiOracleSql(
        s"""SELECT CAST(CAST($qualityMicroSql AS BIGINT) // 250000 AS BIGINT) AS x,
            CAST(least(n_chars // 200, 4) AS BIGINT) AS y FROM documents"""),

    "q_kendall_tau" ->
      graft.ops.Evaluation.kendallTauBinnedOracleSql(
        s"""SELECT CAST(CAST($qualityMicroSql AS BIGINT) // 250000 AS BIGINT) AS x,
            CAST(least(n_chars // 200, 4) AS BIGINT) AS y FROM documents"""),

    "q_spearman_rho" ->
      graft.ops.Evaluation.spearmanRhoOracleSql(
        s"""SELECT CAST($qualityMicroSql AS BIGINT) AS x,
            n_chars AS y FROM documents"""),

    "q_anisotropy" ->
      SimilaritySearch.anisotropyOracleSql("embeddings", "vec_id",
        "embedding", bins = 20),

    "q_chi_square" ->
      graft.ops.Evaluation.chiSquareOracleSql(
        "SELECT source AS x, lang AS y FROM documents"),

    "q_ucb_sources" ->
      graft.ops.Sampling.ucbSourceScoresOracleSql(
        s"""SELECT source AS src, CAST($qualityMicroSql AS BIGINT) AS s
            FROM documents"""),

    "q_min_k_prob" ->
      graft.ops.Corpus.minKProbOracleSql("documents", "doc_id", "text",
        fracMicro = 200000L),

    "q_conformal_gate" ->
      graft.ops.Evaluation.conformalGateOracleSql(
        s"SELECT 1000000 - CAST($qualityMicroSql AS BIGINT) AS s FROM documents WHERE doc_id % 2 = 0",
        s"SELECT 1000000 - CAST($qualityMicroSql AS BIGINT) AS s FROM documents WHERE doc_id % 2 = 1",
        alphaMicro = 100000L),

    "q_kcenter_select" ->
      graft.ops.Sampling.kCenterOracleSql("embeddings", "vec_id",
        "embedding", k = 8),

    "q_bootstrap_ci" ->
      graft.ops.Evaluation.bootstrapCiOracleSql(
        s"""SELECT source AS grp, doc_id AS id,
            CAST($qualityMicroSql AS BIGINT) AS q FROM documents""",
        b = 32),

    "q_pass_at_k" ->
      graft.ops.Evaluation.passAtKOracleSql(
        s"""SELECT doc_id % 37 AS grp,
            CASE WHEN $qualityMicroSql >= 500000 THEN 1 ELSE 0 END AS p
            FROM documents""",
        ks = Seq(1, 5)),

    "q_kmv_overlap" ->
      graft.ops.Sketches.kmvOverlapOracleSql("documents", "source", "text",
        shingleSize = 3, k = 64),

    "q_nb_train" ->
      graft.ops.Classify.nbModelOracleSql("documents", "source", "text"),

    "q_nb_classify" ->
      graft.ops.Classify.nbClassifyOracleSql("documents", "doc_id",
        "source", "text"),

    "q_confident_learning" ->
      graft.ops.Classify.confidentLearningOracleSql("documents", "doc_id",
        "source", "text"),

    "q_linear_probe_eval" -> RidgeModel.forOracleWeights.map { w =>
        graft.ops.Classify.ridgeProbeEvalOracleSql("documents", "doc_id",
          RidgeLabelSql, "text", buckets = 64, weights = w)
      }.getOrElse("SELECT CAST(NULL AS BIGINT) AS probe_not_trained"),

    // additive counts: fold == retrain, so the stored-model scoring
    // replays as the self-trained classify
    "q_nb_index_sync" ->
      graft.ops.Classify.nbClassifyOracleSql("documents", "doc_id",
        "source", "text"),

    "q_streaming_nb_probe" ->
      graft.ops.Classify.nbClassifyCrossOracleSql("documents",
        """(SELECT doc_id + 20000 AS doc_id, source, text
           FROM documents WHERE doc_id % 5 = 0)""",
        "doc_id", "source", "text"),

    "q_wordpiece_train" ->
      graft.ops.Corpus.wordPieceTrainOracleSql("documents", "text",
        nMerges = 8),

    "q_skipgram_pairs" ->
      graft.ops.Corpus.skipgramOracleSql("documents", "text",
        window = 2, negK = 2, negVocab = 1000),

    // three self-contained trainer replays, one per arm, unioned
    "q_tokenizer_ab" -> {
      val bpe = graft.ops.Corpus.fertilityReportOracleSql(
        "(SELECT 'bpe' AS fam, text FROM documents) bz", "text", "fam",
        nMerges = 8)
      val wp = graft.ops.Corpus.wordPieceFertilityOracleSql(
        "(SELECT 'wordpiece' AS fam, text FROM documents) wz", "text", "fam",
        nMerges = 8)
      val sp = graft.ops.SpUnigram.fertilityOracleSql(
        "(SELECT 'sp_unigram' AS fam, text FROM documents) sz", "text", "fam",
        SpSeed, SpP, SpIters, SpV, SpCap)
      s"""SELECT fam AS family, n_words, n_subwords, n_chars,
           fertility_micro, chars_per_subword_micro
         FROM (
           SELECT * FROM ($bpe) a
           UNION ALL SELECT * FROM ($wp) b
           UNION ALL SELECT * FROM ($sp) c) u
         ORDER BY family"""
    },

    "q_sp_unigram_train" ->
      graft.ops.SpUnigram.trainOracleSql("documents", "text",
        SpSeed, SpP, SpIters, SpV, SpCap),

    "q_sp_unigram_apply" ->
      graft.ops.SpUnigram.applyOracleSql("documents", "documents",
        "doc_id", "text", SpSeed, SpP, SpIters, SpV, SpCap),

    "q_sp_prune_apply" ->
      graft.ops.SpUnigram.pruneApplyOracleSql("documents", "doc_id", "text",
        SpSeed, SpP, SpIters, SpV, SpCap, SpPruneKeep),

    // stored-model round trip is exact (strings + longs), so the stored
    // apply replays as train-on-even → segment-the-full-corpus
    "q_sp_stored_apply" ->
      graft.ops.SpUnigram.applyOracleSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) AS str",
        "documents", "doc_id", "text", SpSeed, SpP, SpIters, SpV, SpCap),

    "q_sp_fertility" ->
      graft.ops.SpUnigram.fertilityOracleSql("documents", "text", "lang",
        SpSeed, SpP, SpIters, SpV, SpCap),

    "q_streaming_hnsw_probe" ->
      graft.ops.GraphAnn.beamBatchOracleSql("embeddings", "vec_id",
        "embedding", queryFilter = "id % 100 = 0", nCentroids = HnswCents,
        nProbeBuild = HnswNpBuild, m = HnswM, cellCap = HnswCellCap,
        ef = HnswEf, hops = HnswHops, k = HnswK, qidShift = 100000L),

    // streamed increments fold to the full rebuild (top-m/argmax
    // mergeability survives redelivery after the distinct), so the oracle
    // is the full-corpus build + beam replay
    "q_streaming_hnsw_maintain" ->
      graft.ops.GraphAnn.beamProbeOracleSql("embeddings", "vec_id",
        "embedding", queryId = 7L, nCentroids = HnswCents,
        nProbeBuild = HnswNpBuild, m = HnswM, cellCap = HnswCellCap,
        ef = HnswEf, hops = HnswHops, k = HnswK),

    "q_streaming_embedding_probe" ->
      ApproxDedup.embeddingCrossNearDupsOracleSql(
        """(SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
           WHERE vec_id % 5 = 0) AS e2""",
        "vec_id", "embedding",
        planes = SimilaritySearch.srpPlanes(dim = 64, nBits = 24),
        bands = 6, threshold = 0.99,
        corpusPred = "vec_id < 100000", benchPred = "vec_id >= 100000"),

    "q_streaming_media_probe" ->
      Media.perceptualCrossOracleSql(
        """(SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 20000 AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0)""",
        "doc_id", "text",
        leftPred = "a.id >= 20000", rightPred = "hh.id < 20000",
        maxHamming = 3),

    "q_media_index_sync" ->
      Media.perceptualProbeOracleSql(
        """(SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id = 40)""",
        "doc_id", "text", qid = 1000040L, maxHamming = 3),

    "q_bm25_topk" ->
      graft.ops.Corpus.bm25OracleSql("documents", "doc_id", "text",
        terms = Seq("table", "scan", "fast", "vector"), k = 15),

    // incremental postings build == full rebuild, so the stored-index probe
    // replays as full-corpus BM25 over the same query
    "q_bm25_index_sync" ->
      graft.ops.Corpus.bm25OracleSql("documents", "doc_id", "text",
        terms = Seq("table", "scan", "window"), k = 12),

    "q_langid_confusion" ->
      """WITH h AS (SELECT lang,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['der','die','das','und','ist','ein','eine','zu','den','von'])) AS h_de,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['the','a','of','and','to','in','is','it','that','for'])) AS h_en,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['el','la','de','que','y','en','un','una','es','por'])) AS h_es,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['le','la','de','et','un','une','est','pour','que','dans'])) AS h_fr,
           len(list_intersect(string_split_regex(lower(text),'\s+'), ['的','了','是','在','我','有','和','就','不','人'])) AS h_zh
           FROM documents),
         p AS (SELECT lang, CASE
           WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und'
           WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
           WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
           WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
           WHEN h_fr >= h_zh THEN 'fr'
           ELSE 'zh' END AS pred_lang
           FROM h)
         SELECT lang, pred_lang, count(*) AS cnt FROM p
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_cohort_retention" ->
      """WITH f AS (
           SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
           FROM events GROUP BY 1),
         j AS (
           SELECT e.user_id, f.cohort_day,
             (epoch_us(e.ts) - epoch_us(f.cohort_day)) // 604800000000 AS week_offset
           FROM events e JOIN f USING (user_id))
         SELECT cohort_day, week_offset, count(DISTINCT user_id) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_kaplan_meier" ->
      graft.ops.Relational.kaplanMeierOracleSql("events",
        "CAST(user_id AS VARCHAR) || '#' || event_type", "ts",
        censorTailDays = 3),

    // groups key on the payload-determining content tuple — SQL cannot
    // re-encode the PNG/WAV containers to replay sha2(payload) itself
    "q_media_dedup" ->
      Media.contentDedupOracleSql("documents", "doc_id", "text"),

    "q_media_neardups" ->
      Media.perceptualNearDupsOracleSql(
        """(SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id % 10 = 0)""",
        "doc_id", "text", maxHamming = 3),

    "q_videohash_index_sync" ->
      Media.videoHashProbeOracleSql("documents", "doc_id", "text",
        minShared = 2),

    // maintained index fold ≡ rebuild (row-local frame-hash rows), so the
    // streaming probe replays as the same full-corpus content-ID lookup
    "q_streaming_videohash_maintain" ->
      Media.videoHashProbeOracleSql("documents", "doc_id", "text",
        minShared = 2),

    "q_video_temporal_dedup" ->
      Media.videoTemporalOracleSql(
        """(SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id % 10 = 0)""",
        "doc_id", "text", minShared = 2, maxVideosPerHash = 32),

    "q_event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
         s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
         SELECT * FROM (
           SELECT '1_signup' AS step, count(*) AS n_users FROM s1
           UNION ALL SELECT '2_view', count(*) FROM s2
           UNION ALL SELECT '3_click', count(*) FROM s3
           UNION ALL SELECT '4_purchase', count(*) FROM s4)
         ORDER BY step""",

    "q_event_trigrams" ->
      graft.ops.Relational.eventNgramsOracleSql("events",
        "user_id", "event_type", "ts", "event_id", n = 3, k = 25),

    "q_funnel_latency" ->
      graft.ops.Relational.funnelLatencyOracleSql("events",
        "user_id", "event_type", "ts",
        steps = Seq("signup", "view", "click", "purchase")),

    "q_daily_bursts" ->
      graft.ops.Relational.dailyBurstsOracleSql("events", "ts",
        sigma = 3.0, window = 7),

    "q_funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'view' AND e.ts > s1.t
                  AND epoch_us(e.ts) <= epoch_us(s1.t) + 172800000000 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s2.t
                  AND epoch_us(e.ts) <= epoch_us(s2.t) + 172800000000 GROUP BY 1),
         s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s3.t
                  AND epoch_us(e.ts) <= epoch_us(s3.t) + 172800000000 GROUP BY 1)
         SELECT * FROM (
           SELECT '1_signup' AS step, count(*) AS n_users FROM s1
           UNION ALL SELECT '2_view', count(*) FROM s2
           UNION ALL SELECT '3_click', count(*) FROM s3
           UNION ALL SELECT '4_purchase', count(*) FROM s4)
         ORDER BY step""",

    "q_rolling_24h" ->
      """WITH e AS (
           SELECT user_id, ts, value, epoch_us(ts) AS us,
             CAST(round(value * 1000000.0) AS BIGINT) AS vm
           FROM events)
         SELECT user_id, ts, value,
           count(*) OVER w AS n_window,
           CAST(sum(vm) OVER w AS BIGINT) AS sum_micro_window
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, ts""",

    "q_resample_locf" ->
      """WITH ev AS (SELECT user_id, ts, value FROM events),
         b AS (SELECT user_id, date_trunc('day', min(ts)) AS t0, max(ts) AS t1
               FROM ev GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
                  FROM b)
         SELECT g.user_id, g.grid_ts, e.value
         FROM grid g ASOF LEFT JOIN ev e
           ON g.user_id = e.user_id AND g.grid_ts >= e.ts
         ORDER BY g.user_id, g.grid_ts""",

    "q_leakage_safe_split" ->
      ApproxDedup.leakageSafeSplitOracleSql("documents", "doc_id", "text",
        threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_source_cap" ->
      """WITH q AS (
           SELECT doc_id, source,
             (CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.0 END
              + CASE WHEN length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE >= 3
                      AND length(text)::DOUBLE / greatest(len(string_split_regex(trim(text),'\s+')), 1)::DOUBLE <= 12
                     THEN 1.0 ELSE 0.0 END
              + CASE WHEN (length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))::DOUBLE
                          / greatest(length(text),1)::DOUBLE <= 0.1 THEN 1.0 ELSE 0.0 END
              + CASE WHEN len(list_intersect(string_split_regex(lower(text),'\s+'),
                         ['the','a','of','and','to','in','is','it','that','for'])) >= 2
                     THEN 1.0 ELSE 0.0 END) / 4.0 AS quality
           FROM documents),
         r AS (
           SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk
           FROM q)
         SELECT doc_id, source, quality, CAST(rnk AS BIGINT) AS rnk FROM r
         WHERE rnk <= 10 ORDER BY doc_id""",

    "q_token_budget_plan" ->
      """WITH a AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '[\s[:punct:]]+'))) AS BIGINT) AS actual_tokens
           FROM documents GROUP BY source),
         t AS (
           SELECT source, n_docs, actual_tokens,
             CAST(floor(1000000.0 * ((CAST(substring(source, 4) AS INT) + 1) / 210.0)) AS BIGINT) AS target_tokens
           FROM a)
         SELECT source, n_docs, actual_tokens, target_tokens,
           CAST(target_tokens AS DOUBLE) / CAST(actual_tokens AS DOUBLE) AS sample_rate,
           CAST(ceil(CAST(target_tokens AS DOUBLE) / CAST(actual_tokens AS DOUBLE)) AS BIGINT) AS epochs
         FROM t ORDER BY source""",

    "q_minhash_probe_stored" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')) END) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)),
         q AS (SELECT sh FROM sh WHERE doc_id = 45),
         p AS (
           SELECT LEAST(45, b.doc_id) AS id1, GREATEST(45, b.doc_id) AS id2,
             len(list_intersect(q.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(q.sh, b.sh)))::DOUBLE AS jaccard
           FROM sh b, q WHERE b.doc_id <> 45)
         SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    "q_infer_special" ->
      """WITH src AS (
           SELECT
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
             substring(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
             substring(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-' ||
             substring(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-' ||
             substring(md5(CAST(doc_id AS VARCHAR)), 21, 12) AS u,
             CASE WHEN doc_id % 7 = 0 THEN source ELSE
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
               substring(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
               substring(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-' ||
               substring(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-' ||
               substring(md5(CAST(doc_id AS VARCHAR)), 21, 12) END AS maybe,
             '{"n":' || n_chars || '}' AS j,
             lang AS s
           FROM documents
         ), stats AS (
           SELECT 'u' AS col_name, count(u) AS n,
             count(CASE WHEN regexp_full_match(u,
               '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')
               THEN 1 END) AS n_uuid,
             count(CASE WHEN left(ltrim(u), 1) IN ('{','[') AND json_valid(u)
               THEN 1 END) AS n_json FROM src
           UNION ALL
           SELECT 'maybe', count(maybe),
             count(CASE WHEN regexp_full_match(maybe,
               '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')
               THEN 1 END),
             count(CASE WHEN left(ltrim(maybe), 1) IN ('{','[') AND json_valid(maybe)
               THEN 1 END) FROM src
           UNION ALL
           SELECT 'j', count(j),
             count(CASE WHEN regexp_full_match(j,
               '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')
               THEN 1 END),
             count(CASE WHEN left(ltrim(j), 1) IN ('{','[') AND json_valid(j)
               THEN 1 END) FROM src
           UNION ALL
           SELECT 's', count(s),
             count(CASE WHEN regexp_full_match(s,
               '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')
               THEN 1 END),
             count(CASE WHEN left(ltrim(s), 1) IN ('{','[') AND json_valid(s)
               THEN 1 END) FROM src
         )
         SELECT col_name,
           CASE WHEN n > 0 AND n_uuid = n THEN 'uuid'
                WHEN n > 0 AND n_json = n THEN 'json'
                ELSE 'str' END AS dtype
         FROM stats ORDER BY col_name""",

    // ── sketches: DuckDB replays every register / hash / counter from the
    // same md5 hex digits; the *_index_sync oracles are the full-corpus
    // sketches (fold ≡ rebuild is exactly what they verify).
    "q_hll_distinct" ->
      graft.ops.Sketches.hllDistinctOracleSql(
        graft.ops.Sketches.shingleValuesSql("documents", "text", 3), p = 8),

    "q_hll_by_source" ->
      graft.ops.Sketches.hllByGroupOracleSql(
        graft.ops.Sketches.tokenValuesByGroupSql("documents", "source", "text"),
        p = 8),

    "q_kmv_distinct" ->
      graft.ops.Sketches.kmvDistinctOracleSql(
        graft.ops.Sketches.shingleValuesSql("documents", "text", 3), k = 256),

    "q_cms_heavy" ->
      graft.ops.Sketches.cmsPointReportOracleSql(
        graft.ops.Sketches.tokenValuesSql("documents", "text"),
        Seq("scan", "join", "window", "batch", "zzz_absent_term"),
        d = 4, w = 512),

    "q_heavy_hitters" ->
      graft.ops.Sketches.heavyHittersOracleSql(
        graft.ops.Sketches.tokenValuesSql("documents",
          "(text || CASE WHEN doc_id % 3 = 0 THEN ' spark spark spark spark spark' ELSE '' END)"),
        k = 20),

    "q_hll_index_sync" ->
      graft.ops.Sketches.hllDistinctOracleSql(
        graft.ops.Sketches.shingleValuesSql("documents", "text", 3), p = 8),

    // additive fold ≡ rebuild: the stored-pipe quantiles match the
    // full-corpus oracle bit-for-bit
    "q_dd_index_sync" ->
      graft.ops.Sketches.ddQuantilesOracleSql(
        "SELECT n_chars AS v FROM documents",
        qsMicro = Seq(250000L, 500000L, 750000L, 990000L)),

    // base histogram + streamed-batch histograms fold to the same
    // full-corpus quantiles (additive sketch, dedup at both layers)
    "q_streaming_dd_probe" ->
      graft.ops.Sketches.ddQuantilesOracleSql(
        "SELECT n_chars AS v FROM documents",
        qsMicro = Seq(250000L, 500000L, 750000L, 990000L)),

    "q_cms_index_sync" ->
      graft.ops.Sketches.cmsPointReportOracleSql(
        graft.ops.Sketches.tokenValuesSql("documents", "text"),
        Seq("scan", "join", "window", "batch", "zzz_absent_term"),
        d = 4, w = 512),

    "q_readability" ->
      graft.ops.TextStats.readabilityOracleSql("documents", "doc_id", "text"),

    "q_lexical_diversity" ->
      graft.ops.TextStats.lexicalDiversityOracleSql("documents", "doc_id",
        "text"),

    "q_ngram_novelty" ->
      graft.ops.TextStats.ngramNoveltyOracleSql("documents", "doc_id", "text",
        n = 3, candWhere = "doc_id % 2 = 1", refWhere = "doc_id % 2 = 0"),

    "q_bleu_pairs" ->
      graft.ops.Evaluation.bleuPairsOracleSql(
        "SELECT doc_id AS id, text FROM documents WHERE doc_id % 2 = 1",
        "SELECT doc_id + 1 AS id, text FROM documents WHERE doc_id % 2 = 0"),

    "q_chrf_pairs" ->
      graft.ops.Evaluation.chrfPairsOracleSql(
        "SELECT doc_id AS id, text FROM documents WHERE doc_id % 2 = 1",
        "SELECT doc_id + 1 AS id, text FROM documents WHERE doc_id % 2 = 0"),

    "q_rouge_n" ->
      graft.ops.Evaluation.rougeNOracleSql(
        "SELECT doc_id AS id, text FROM documents WHERE doc_id % 2 = 1",
        "SELECT doc_id + 1 AS id, text FROM documents WHERE doc_id % 2 = 0",
        ns = Seq(1, 2)),

    "q_rouge_l" ->
      graft.ops.Evaluation.rougeLOracleSql(
        "SELECT doc_id AS id, text FROM documents WHERE doc_id % 2 = 1",
        "SELECT doc_id + 1 AS id, text FROM documents WHERE doc_id % 2 = 0",
        maxTokens = 32),

    "q_distinct_n" ->
      graft.ops.TextStats.distinctNOracleSql("documents", "source", "text",
        ns = Seq(1, 2)),

    "q_prefix_blocklist" ->
      graft.ops.Corpus.prefixBlocklistOracleSql("documents", "doc_id",
        "concat('https://', source, '.example/', lang, '/', CAST(doc_id AS VARCHAR))",
        prefixes = UrlDenyPrefixes),

    "q_fim_transform" ->
      graft.ops.Corpus.fimTransformOracleSql("documents", "doc_id", "text"),

    "q_span_corruption" ->
      graft.ops.Corpus.spanCorruptionOracleSql("documents", "doc_id", "text",
        pct = 15),

    "q_ul2_mixture" ->
      graft.ops.Corpus.ul2MixtureOracleSql("documents", "doc_id", "text",
        configs = Seq("R" -> 15, "X" -> 45)),

    "q_release_report" ->
      s"""WITH card AS ($dataCardOracle),
         pii AS (${graft.ops.Cleaning.piiReportOracleSql("documents", "source", "text")}),
         dv AS (${graft.ops.TextStats.distinctNOracleSql("documents", "source", "text", Seq(2))})
       SELECT card.*, pii.pii_doc_frac_micro, dv.distinct_micro AS distinct2_micro
       FROM card JOIN pii USING (source) JOIN dv ON dv.grp = card.source
       ORDER BY source""",

    "q_heaps_law" ->
      graft.ops.TextStats.heapsLawOracleSql("documents", "doc_id", "text",
        fracsMicro = Seq(62500L, 125000L, 250000L, 500000L, 1000000L)),

    // fold(store) ≡ full-reference rebuild, so the stored-index probe
    // replays as the plain novelty query
    "q_novelty_index_sync" ->
      graft.ops.TextStats.ngramNoveltyOracleSql("documents", "doc_id", "text",
        n = 3, candWhere = "doc_id % 2 = 1", refWhere = "doc_id % 2 = 0"),

    "q_streaming_novelty_probe" ->
      s"""SELECT doc_id + 20000 AS doc_id, n_grams, n_novel, novelty_micro
         FROM (${graft.ops.TextStats.ngramNoveltyOracleSql(
               "documents", "doc_id", "text", n = 3,
               candWhere = "doc_id % 5 = 0", refWhere = "doc_id % 2 = 0")})
         ORDER BY doc_id""",

    // fold ≡ rebuild (stat sums are additive), so the stored drift
    // monitor replays from the raw vectors with the epoch predicates
    "q_centroid_drift_index_sync" ->
      graft.ops.SimilaritySearch.centroidDriftOracleSql(
        "embeddings", "vec_id", "embedding", k = 16,
        baseWhere = "vec_id % 2 = 0", curWhere = "vec_id % 2 = 1"),

    // re-keyed arrivals are the same vectors, so the streamed drift
    // replays with the identical epoch predicates
    "q_streaming_drift_probe" ->
      graft.ops.SimilaritySearch.centroidDriftOracleSql(
        "embeddings", "vec_id", "embedding", k = 16,
        baseWhere = "vec_id % 2 = 0", curWhere = "vec_id % 2 = 1"),

    "q_length_batches" ->
      graft.ops.Sampling.lengthBatchPlanOracleSql("documents", "doc_id",
        "n_chars", boundaries = Seq(128, 256, 512), batchSize = 8,
        shards = 4),

    "q_reward_zscore" -> (
      graft.ops.Rlhf.rewardZScoreOracleSql(
        "(SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS reward_centi FROM events)",
        "event_type", "event_id", "reward_centi", "reward_centi")
        .replace("ORDER BY event_id",
          "WHERE id % 13 = 0 ORDER BY event_id")),

    "q_preference_pairs" ->
      graft.ops.Rlhf.preferencePairsOracleSql("events", "event_id // 8",
        "event_id", "round(value * 100)", minMargin = 50L),

    "q_best_of_n" ->
      graft.ops.Rlhf.bestOfNOracleSql(
        "(SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS reward_centi FROM events)",
        "event_type", "event_id", "reward_centi", "reward_centi"),

    "q_filter_ablation" ->
      graft.ops.Evaluation.filterAblationOracleSql("documents", Seq(
        "few_words" ->
          """len(list_filter(string_split_regex(trim(text), '\s+'),
             t -> length(t) > 0)) < 50""".linesIterator.map(_.trim).mkString(" "),
        "low_stopword" ->
          """len(list_intersect(string_split_regex(trim(lower(text)), '\s+'),
             ['the','a','of','and','to','in','is','it','that','for'])) < 2"""
            .linesIterator.map(_.trim).mkString(" "),
        "too_long" -> "length(text) > 20000",
        "too_short" -> "length(text) < 200")),

    "q_reward_calibration" ->
      graft.ops.Rlhf.rewardCalibrationOracleSql(
        "(SELECT event_type, CAST(round(value * 100) AS BIGINT) AS reward_centi, CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS lbl FROM events)",
        "event_type", "reward_centi", "lbl", nBins = 8),

    // independent closed-form Web Mercator; operation order mirrors
    // GeoWkb.Crs.to3857 so x is bit-exact, y rounds (libm tan/ln)
    "q_geo_reproject" ->
      """WITH p AS (
           SELECT c_custkey,
             CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.25 AS lon,
             CAST((c_custkey * 3) % 170 AS DOUBLE) - 85.0 + 0.125 AS lat
           FROM customer)
         SELECT c_custkey,
           round(lon / 180.0 * pi() * 6378137.0, 3) AS x3857,
           round(ln(tan(lat / 180.0 * pi() / 2.0 + pi() / 4.0)) * 6378137.0, 2) AS y3857
         FROM p ORDER BY c_custkey""",

    "q_k_anonymity" ->
      graft.ops.Privacy.kAnonymityViolationsOracleSql("events", Seq(
        "event_type" -> "event_type",
        "value_deci" -> "CAST(round(value * 10) AS BIGINT)"), k = 5L, cap = 40),

    "q_k_anon_summary" ->
      graft.ops.Privacy.kAnonymitySummaryOracleSql("events", Seq(
        "event_type" -> "event_type",
        "value_deci" -> "CAST(round(value * 10) AS BIGINT)"), k = 5L),

    "q_l_diversity" ->
      graft.ops.Privacy.lDiversityViolationsOracleSql("events", Seq(
        "event_type" -> "event_type",
        "value_deci" -> "CAST(round(value * 10) AS BIGINT)"),
        sensitiveExpr = "user_id % 3", l = 3L, cap = 40),

    "q_reward_length_bias" ->
      graft.ops.Rlhf.lengthBiasAuditOracleSql("documents",
        rewardExpr =
          """len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','a','of','and','to','in','is','it','that','for']))"""
            .linesIterator.map(_.trim).mkString(" "),
        lenExpr = "n_chars", nBins = 8),

    "q_annotator_kappa" ->
      graft.ops.Evaluation.annotatorAgreementOracleSql(
        """(WITH d AS (SELECT event_id % 997 AS item, user_id % 5 AS rater,
             event_id, CAST(round(value) AS BIGINT) * 4 // 491 AS lbl
             FROM events),
           pick AS (SELECT item, rater, min(event_id) AS eid
                    FROM d GROUP BY 1, 2)
           SELECT d.item, d.rater, d.lbl
           FROM d JOIN pick ON pick.item = d.item AND pick.rater = d.rater
                           AND pick.eid = d.event_id)"""
          .linesIterator.map(_.trim).mkString(" "),
        itemExpr = "item", raterExpr = "rater", labelExpr = "lbl"),

    "q_bradley_terry" ->
      graft.ops.Rlhf.bradleyTerryOracleSql(
        """(SELECT CASE WHEN x.value > y.value THEN x.event_type
             ELSE y.event_type END AS w,
           CASE WHEN x.value > y.value THEN y.event_type
             ELSE x.event_type END AS l
           FROM events x JOIN events y ON y.event_id = x.event_id + 1
           WHERE x.event_type <> y.event_type AND x.value <> y.value)"""
          .linesIterator.map(_.trim).mkString(" "),
        winnerExpr = "w", loserExpr = "l", iters = 4),

    "q_textrank" ->
      graft.ops.Corpus.textRankOracleSql("documents", "doc_id", "text",
        vocabK = 60, iters = 3, k = 25),

    "q_textrank_weighted" ->
      graft.ops.Corpus.textRankWeightedOracleSql("documents", "doc_id",
        "text", vocabK = 60, iters = 3, k = 25),

    "q_editdist_verify" ->
      ApproxDedup.editDistanceVerifyOracleSql("documents", "doc_id",
        "text", threshold = 0.5, shingleSize = 3, k = 24, bands = 6,
        estSlack = 0.25, maxBucket = 200),

    "q_kn_trigram" ->
      graft.ops.Corpus.knTrigramLogProbOracleSql("documents", "doc_id",
        "text", discount = 0.75)
        .replace("ORDER BY doc_id", "WHERE nt.doc_id % 7 = 0 ORDER BY doc_id"),

    "q_domain_reweight" ->
      graft.ops.Sampling.domainExcessReweightOracleSql(
        """(SELECT source,
             CAST(count(*) * 1000000 //
               (SELECT count(*) FROM documents) AS BIGINT) AS prior_micro,
             CAST(CAST(sum(n_chars) AS HUGEINT) * 1000000 // count(*)
               AS BIGINT) AS loss_micro,
             (SELECT CAST(CAST(sum(n_chars) AS HUGEINT) * 1000000
                // count(*) AS BIGINT) FROM documents) AS ref_micro
           FROM documents GROUP BY source)"""
          .linesIterator.map(_.trim).mkString(" "),
        domainCol = "source", priorMicroCol = "prior_micro",
        lossMicroCol = "loss_micro", refMicroCol = "ref_micro",
        etaMicro = 20000L),

    "q_kn_stored" ->
      graft.ops.Corpus.knScoreOracleSql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "doc_id", "text", discount = 0.75),

    "q_fleiss_kappa" ->
      graft.ops.Evaluation.fleissKappaOracleSql(
        """(WITH d AS (SELECT event_id % 997 AS item, user_id % 5 AS rater,
             event_id, CAST(round(value) AS BIGINT) * 4 // 491 AS lbl
             FROM events),
           pick AS (SELECT item, rater, min(event_id) AS eid
                    FROM d GROUP BY 1, 2)
           SELECT d.item, d.rater, d.lbl
           FROM d JOIN pick ON pick.item = d.item AND pick.rater = d.rater
                           AND pick.eid = d.event_id)"""
          .linesIterator.map(_.trim).mkString(" "),
        itemExpr = "item", raterExpr = "rater", labelExpr = "lbl",
        raters = 5),

    "q_dd_quantiles" ->
      graft.ops.Sketches.ddQuantilesOracleSql(
        "SELECT n_chars AS v FROM documents",
        qsMicro = Seq(10000L, 250000L, 500000L, 750000L, 990000L)),

    "q_dd_quantiles_grouped" ->
      graft.ops.Sketches.ddQuantilesByGroupOracleSql(
        "SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v FROM events",
        qsMicro = Seq(500000L, 950000L)),

    // grouped additive fold ≡ rebuild: stored-pipe per-source quantiles
    // match the full-corpus oracle bit-for-bit
    "q_dd_grouped_index_sync" ->
      graft.ops.Sketches.ddQuantilesByGroupOracleSql(
        "SELECT source AS grp, n_chars AS v FROM documents",
        qsMicro = Seq(500000L, 950000L)),

    "q_length_debiased_reward" ->
      graft.ops.Rlhf.lengthDebiasedRewardOracleSql("documents",
        idCol = "doc_id",
        rewardExpr =
          """len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','a','of','and','to','in','is','it','that','for']))"""
            .linesIterator.map(_.trim).mkString(" "),
        rewardName = "reward", lenExpr = "n_chars", nBins = 8)
        .replace("ORDER BY doc_id", "WHERE b.id % 5 = 0 ORDER BY doc_id"),

    "q_fpr_threshold" ->
      graft.ops.Evaluation.fprThresholdOracleSql("documents",
        labelExpr = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        scoreExpr =
          """len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','a','of','and','to','in','is','it','that','for']))"""
            .linesIterator.map(_.trim).mkString(" "),
        alphaMicro = 50000L),

    "q_burstiness" ->
      graft.ops.Corpus.tokenBurstinessOracleSql("documents", "doc_id",
        "text", vocabK = 80, k = 30),

    "q_cell_scatter" ->
      SimilaritySearch.cellScatterOracleSql("embeddings", "vec_id",
        "embedding", nCentroids = 16),

    "q_silhouette" ->
      SimilaritySearch.silhouetteOracleSql("embeddings", "vec_id",
        "embedding", nCentroids = 16),

    "q_auc_by_source" ->
      graft.ops.Evaluation.signalAucByGroupOracleSql("documents",
        groupExpr = "source",
        labelExpr = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        scoreExpr =
          """len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','a','of','and','to','in','is','it','that','for']))"""
            .linesIterator.map(_.trim).mkString(" ")),

    "q_quantile_normalize" ->
      graft.ops.Sketches.quantileNormalizeOracleSql(
        "SELECT source AS grp, doc_id AS id, n_chars AS v FROM documents",
        groupCol = "grp", idCol = "id", valueCol = "v")
        .replace("ORDER BY id", "WHERE r.id % 5 = 0 ORDER BY id"),

    "q_truncation_recall" ->
      SimilaritySearch.truncationRecallOracleSql("embeddings", "vec_id",
        "embedding", queryFilter = "vec_id % 100 = 0",
        dims = Seq(8, 16, 32), k = 10),

    "q_changepoint" ->
      graft.ops.Relational.changepointSplitOracleSql("events",
        groupCol = "event_type", timeCol = "ts"),

    "q_hits" ->
      graft.ops.Graph.hitsAuthoritiesOracleSql(
        "SELECT user_id AS u, event_type AS t, 1 AS w FROM events",
        iters = 3),

    "q_markov_stationary" ->
      graft.ops.Relational.markovStationaryOracleSql("events",
        entityCol = "user_id", typeCol = "event_type", timeCol = "ts",
        tieCol = "event_id", iters = 4),

    "q_t_closeness" ->
      graft.ops.Privacy.tClosenessViolationsOracleSql("events", Seq(
        "event_type" -> "event_type",
        "value_band" -> "CAST(trunc(value) AS BIGINT) // 50"),
        sensitiveExpr = "user_id % 4", tMicro = 100000L, cap = 40),

    "q_mad_outliers" ->
      graft.ops.Maintenance.madOutliersOracleSql("events",
        groupCol = "event_type", idCol = "event_id",
        valueExpr = "round(value * 100)", valueName = "value_centi",
        kMicro = 2500000L, cap = 40),

    "q_brier" ->
      graft.ops.Evaluation.brierScoreOracleSql("documents",
        labelExpr = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        scoreMicroExpr =
          """least(len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','a','of','and','to','in','is','it','that','for']))
            * 100000, 1000000)"""
            .linesIterator.map(_.trim).mkString(" "))
  )
}
