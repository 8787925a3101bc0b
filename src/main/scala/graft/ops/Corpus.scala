package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus-level operators for training-data pipelines: vocabulary building,
  * benchmark decontamination, and winnowing fingerprints (Schleimer,
  * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003).
  *
  * Scale design: everything reduces to explode → hash-aggregate (map-side
  * combined) or a broadcast join against the small benchmark side. Nothing
  * here ever shuffles document text except the tokens/shingles actually
  * being counted.
  */
object Corpus {

  /** Token frequency table: the vocabulary-building pre-pass. One explode +
    * one hash aggregate with map-side combine; top-k via TakeOrdered (no
    * global sort materialization).
    */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))

  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame =
    vocab(docs, textCol).orderBy(col("freq").desc, col("token")).limit(k)

  /** Quality-threshold sweep — the calibration table a curation run reads
    * before picking its gate: for each candidate threshold, how many
    * documents and tokens survive `score >= t`, and the surviving token
    * fraction. ONE map-combined aggregate pass (each row contributes to
    * every threshold via a CASE ladder — |thresholds| longs per row, no
    * re-scan per candidate); micro-unit integer token sums. */
  def qualityThresholdSweep(docs: DataFrame, scoreCol: Column,
                            tokensCol: Column,
                            thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one candidate threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(scoreCol.cast("double").as("__s"),
      tokensCol.cast("long").as("__t"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(col("__s") >= t, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(col("__s") >= t, col("__t")).otherwise(0L)).as(s"__k$i"))
    }
    val totals = base.agg(count(lit(1)).as("__n_all"),
      (sum(col("__t")).as("__t_all") +: aggs): _*)
    val row = totals.head()
    val nAll = row.getLong(0); val tAll = row.getLong(1)
    thresholds.zipWithIndex.map { case (t, i) =>
      val n = row.getLong(2 + 2 * i); val k = row.getLong(3 + 2 * i)
      (t, n, k, math.round(k.toDouble / tAll.toDouble * 1e6), nAll)
    }.toDF("threshold", "n_docs_kept", "tokens_kept", "token_frac_micro", "n_docs_total")
  }

  /** DuckDB oracle replaying [[qualityThresholdSweep]]. */
  def qualityThresholdSweepOracleSql(table: String, scoreSql: String,
                                     tokensSql: String,
                                     thresholds: Seq[Double]): String = {
    val rows = thresholds.map(t => s"SELECT $t AS threshold").mkString(" UNION ALL ")
    s"""WITH b AS (SELECT CAST($scoreSql AS DOUBLE) AS s,
           CAST($tokensSql AS BIGINT) AS t FROM $table),
       th AS ($rows),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
                      CAST(sum(t) AS BIGINT) AS t_all FROM b)
       SELECT th.threshold,
         CAST(sum(CASE WHEN b.s >= th.threshold THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_kept,
         CAST(sum(CASE WHEN b.s >= th.threshold THEN b.t ELSE 0 END) AS BIGINT)
           AS tokens_kept,
         CAST(round(CAST(sum(CASE WHEN b.s >= th.threshold THEN b.t ELSE 0 END) AS DOUBLE)
           / CAST(tot.t_all AS DOUBLE) * 1000000) AS BIGINT) AS token_frac_micro,
         tot.n_all AS n_docs_total
       FROM th CROSS JOIN b CROSS JOIN tot
       GROUP BY th.threshold, tot.t_all, tot.n_all
       ORDER BY th.threshold"""
  }

  /** The PERSISTABLE vocabulary: (bucket, token, freq) rows — freq is
    * SUM-MERGEABLE, so incremental corpus batches blind-append their own
    * counts and any reader folds with one groupBy-sum over the |vocab|-row
    * index, never re-tokenizing the corpus. All counts of a token land in
    * ONE md5 bucket (the BM25-postings layout), so a term-frequency probe
    * reads ≤ q bucket directories, while corpus-wide rollups (top-k, Zipf
    * fit, rare-token lists) scan |vocab| rows instead of 100 TB of text. */
  def vocabPostings(docs: DataFrame, textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    vocab(docs, textCol)
      .withColumn("bucket", Sampling.hashBucket(col("token"), buckets))
  }

  /** Fold stored [[vocabPostings]] batches back into exact corpus-wide
    * frequencies — blind appends + this fold ≡ a full rebuild (counting is
    * additive). */
  def vocabFold(stored: DataFrame): DataFrame =
    stored.groupBy(col("token")).agg(sum(col("freq")).as("freq"))

  /** Zipf power-law fit over the rank–frequency head of the vocabulary —
    * the corpus-health diagnostic (natural language: slope ≈ −1; templated
    * or synthetic text bends the curve, and a drifting slope between crawls
    * flags a pipeline change upstream). Least squares over
    * (ln rank, ln freq) of the top-V terms.
    *
    * Scale/parity: the corpus pays ONE map-combined token count ([[vocab]]);
    * everything after runs on the V-row head (the row_number window is a
    * single partition of V ≤ 200 rows — bounded by construction). The
    * (x, y) points quantize to integer micro-nats BEFORE the sums, so the
    * five sums are order-independent exact LONGs (overflow-proofed for
    * V ≤ 200 at any real-world frequency), and the slope/intercept/r²
    * resolve from them in a fixed deterministic double expression — the
    * DuckDB oracle replays bit-for-bit. */
  def zipfFit(docs: DataFrame, textCol: String, topV: Int = 100): DataFrame = {
    require(topV >= 3 && topV <= 200,
      "topV in [3, 200]: the fit reads the head of the rank curve, and the " +
      "exact integer sums are overflow-proofed for this range")
    val ranked = vocabTopK(docs, textCol, topV)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("token"))))
    val pts = ranked.select(
      round(log(col("rank").cast("double")) * lit(1e6)).cast("long").as("x"),
      round(log(col("freq").cast("double")) * lit(1e6)).cast("long").as("y"))
    val sums = pts.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num   = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den   = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den
    val den2  = col("n").cast("double") * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    sums.select(
      col("n").as("n_terms"),
      round(slope * lit(1e6)).cast("long").as("slope_micro"),
      round((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double")).cast("long").as("intercept_micro"),
      round(num * num / (den * den2) * lit(1e6)).cast("long").as("r2_micro"))
  }

  /** DuckDB oracle replaying [[zipfFit]] — identical quantization, the same
    * exact integer sums, and the same double expression for the fit. */
  def zipfFitOracleSql(table: String, textCol: String, topV: Int = 100): String =
    s"""WITH v AS (SELECT token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1 ORDER BY freq DESC, token LIMIT $topV),
       r AS (SELECT row_number() OVER (ORDER BY freq DESC, token) AS rank, freq FROM v),
       p AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                    CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
             FROM r),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x*y) AS BIGINT) AS sxy,
                    CAST(sum(x*x) AS BIGINT) AS sxx,
                    CAST(sum(y*y) AS BIGINT) AS syy FROM p)
       SELECT n AS n_terms,
         CAST(round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
           * 1000000) AS BIGINT) AS slope_micro,
         CAST(round((CAST(sy AS DOUBLE)
           - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro,
         CAST(round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
           / (CAST(n*sxx - sx*sx AS DOUBLE)
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000) AS BIGINT)
           AS r2_micro
       FROM s"""

  /** Benchmark decontamination: find corpus documents whose shingle sets
    * contain a large fraction of some benchmark document's shingles
    * (containment = |corpus ∩ bench| / |bench|, the standard direction for
    * "the eval set leaked into the training set").
    *
    * Returns (corpus id, bench id, containment) for pairs at or above
    * `threshold`. The benchmark side is exploded and BROADCAST (eval sets
    * are small by definition); the corpus side streams through one explode
    * + equi-join + count aggregate — per-shingle rows, never per-pair
    * shingle sets, cross the shuffle. Shingles are hashed to 60-bit
    * truncated-md5 longs BEFORE the join (the repetitionMatrix/winnowing
    * key trick): the broadcast table and every probe row carry 8-byte longs
    * instead of full n-gram strings, and the DuckDB oracle replays the
    * truncation exactly, so results are identical barring 2^-60 collisions.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    shingleSize: Int, threshold: Double,
                    excludeSelfPairs: Boolean = true): DataFrame = {
    def shingles(df: DataFrame, as: String) = df.select(
        col(idCol).as(as),
        explode(array_distinct(
          TextFns.wordShingles(col(textCol), shingleSize))).as("__sh_str"))
      .select(col(as),
        TextFns.md5Long60(col("__sh_str")).as("sh"))
    val b = shingles(bench, "bench_id")
    val bSizes = b.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
    // `excludeSelfPairs` exists for the bench-is-a-subset-of-corpus case;
    // pass false when the two are INDEPENDENT datasets whose integer id
    // spaces coincide — there a same-id pair is real contamination, not a
    // self-comparison
    val hits = shingles(corpus, "corpus_id")
      .join(broadcast(b), "sh")
      .where(if (excludeSelfPairs) col("corpus_id") =!= col("bench_id") else lit(true))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_common"))
    hits.join(broadcast(bSizes), "bench_id")
      .withColumn("containment",
        col("n_common").cast("double") / col("n_bench").cast("double"))
      .where(col("containment") >= threshold)
      .select(col("corpus_id"), col("bench_id"), col("containment"))
  }

  /** EVAL-side contamination report — the complement of [[decontaminate]]
    * (which flags CORPUS documents): per benchmark item, what fraction of
    * its distinct `shingleSize`-grams occurs ANYWHERE in the training
    * corpus. This is the "dirty eval example" accounting of Brown et al.
    * 2020 Appendix C / Chowdhery et al. 2022 §8 — the number an eval report
    * publishes per task ("x% of test items are ≥p% contaminated"), where
    * which corpus document matched is irrelevant.
    *
    * Output: one row per benchmark item — (bench_id, n_shingles, n_found,
    * dirt_frac, dirty) with `dirty` = dirt_frac ≥ `threshold`.
    *
    * Scale: the bench shingle table (small by definition) BROADCASTS into
    * one corpus-side explode; only matching gram hashes survive the join,
    * so the per-bench distinct count aggregates output-sized rows — the
    * corpus never shuffles its grams, and no corpus-wide distinct pass
    * exists. Grams travel as 60-bit truncated-md5 longs (the
    * [[decontaminate]] key trick, oracle-replayed exactly).
    */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          shingleSize: Int, threshold: Double): DataFrame = {
    def shingles(df: DataFrame, as: String) = df.select(
        col(idCol).as(as),
        explode(array_distinct(
          TextFns.wordShingles(col(textCol), shingleSize))).as("__sh_str"))
      .select(col(as), TextFns.md5Long60(col("__sh_str")).as("sh"))
    val b = shingles(bench, "bench_id")
    val bSizes = b.groupBy(col("bench_id")).agg(count(lit(1)).as("n_shingles"))
    // distinct (bench item, gram) matches: a gram repeated across many
    // corpus documents counts once per bench item
    val found = shingles(corpus, "corpus_id")
      .join(broadcast(b), "sh")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("sh")).as("n_found"))
    bSizes.join(found, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_shingles"),
        coalesce(col("n_found"), lit(0L)).as("n_found"))
      .withColumn("dirt_frac",
        col("n_found").cast("double") / col("n_shingles").cast("double"))
      .withColumn("dirty", col("dirt_frac") >= threshold)
  }

  /** DuckDB oracle replaying [[contaminationReport]] — same 60-bit gram
    * hashes, same distinct-per-item counting. `benchPred` selects the
    * benchmark slice out of `table`, `corpusPred` the corpus slice (the
    * eval-side report is only meaningful when the bench rows are NOT in
    * the probed corpus). */
  def contaminationReportOracleSql(table: String, idCol: String,
                                   textCol: String, benchPred: String,
                                   corpusPred: String,
                                   shingleSize: Int, threshold: Double): String = {
    def sh(src: String, as: String) =
      s"""SELECT DISTINCT $idCol AS $as, g.sh FROM (
            SELECT $idCol, md5_hex60(gram) AS sh FROM (
              SELECT $idCol,
                array_to_string(t[j:j+${shingleSize - 1}], ' ') AS gram
              FROM (SELECT $idCol,
                      string_split_regex(trim($textCol), '\\s+') AS t
                    FROM $src) w,
                unnest(generate_series(1, len(t) - ${shingleSize - 1})) AS u(j)
              WHERE len(t) >= $shingleSize) x) g"""
    // DuckDB has no named-function macro injection here; inline the 60-bit
    // truncated-md5 exactly as TextFns.md5Long60 computes it
    def inline60(q: String) = q.replace("md5_hex60(gram)",
      "CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)")
    s"""WITH b AS (${inline60(sh(s"(SELECT * FROM $table WHERE $benchPred) __b", "bench_id"))}),
       c AS (${inline60(sh(s"(SELECT * FROM $table WHERE $corpusPred) __c", "corpus_id"))}),
       bs AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shingles FROM b GROUP BY 1),
       f AS (SELECT b.bench_id, CAST(count(DISTINCT b.sh) AS BIGINT) AS n_found
             FROM c JOIN b USING (sh) GROUP BY 1)
       SELECT bs.bench_id, bs.n_shingles,
         coalesce(f.n_found, 0) AS n_found,
         CAST(coalesce(f.n_found, 0) AS DOUBLE) / CAST(bs.n_shingles AS DOUBLE)
           AS dirt_frac,
         CAST(coalesce(f.n_found, 0) AS DOUBLE) / CAST(bs.n_shingles AS DOUBLE)
           >= $threshold AS dirty
       FROM bs LEFT JOIN f USING (bench_id) ORDER BY bs.bench_id"""
  }

  /** Repetition statistics — the Gopher/C4 repetition filters (Rae et al.
    * 2021 §A1.1; Raffel et al. 2020): fraction of the document consumed by
    * its most frequent word bigram, and the distinct-sentence ratio.
    * Documents dominated by one repeated phrase or copy-pasted lines are
    * the classic low-quality tail these cut.
    *
    * Computed RELATIONALLY (explode → count → max), not with per-row
    * quadratic array lambdas: two map-side-combined aggregates scale to any
    * document length, and Spark's HOF lambdas evaluate interpreted anyway.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = docs.select(col(idCol),
        explode(TextFns.wordShingles(col(textCol), 2)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_bigram_count"),
           sum(col("c")).as("n_bigrams"))
    val sentences = split(col(textCol), "\\. ") // literal ". " split
    docs.select(col(idCol),
        (size(array_distinct(sentences)).cast("double") /
         size(sentences).cast("double")).as("uniq_sentence_ratio"))
      .join(grams, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        coalesce(col("top_bigram_count").cast("double") /
                 col("n_bigrams").cast("double"), lit(0.0)).as("top_bigram_fraction"),
        col("uniq_sentence_ratio"))
  }

  /** C4-style global line deduplication (Raffel et al. 2020 §2.2 apply the
    * same rule to three-sentence spans): any line appearing more than once
    * ACROSS the corpus survives only at its first occurrence (ordered by
    * document id, then position); every other copy is removed and the
    * documents are reassembled. Lines shorter than `minLineLength` are
    * exempt (headers, bullets, blank lines) — boilerplate removal should
    * not eat structure.
    *
    * ONE shuffle keyed on md5(line) (the window rank), then one groupBy the
    * doc id to reassemble — line text never joins against itself and no
    * per-pair work exists. At 100 TB the md5 key can narrow further to
    * xxhash64 without changing the algorithm (the md5 form is kept for
    * bit-exact oracle replay).
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minLineLength: Int = 10): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val w = Window.partitionBy(md5(col("line"))).orderBy(col(idCol), col("pos"))
    val kept = lines.withColumn("rn", row_number().over(w))
      .where(length(col("line")) < minLineLength || col("rn") === 1)
    // collect_list state ≤ the doc's own line count (per-doc regroup): the
    // buffer is bounded by the largest single document, same as its
    // original text row — never corpus-proportional
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
             array_sort(collect_list(struct(col("pos"), col("line")))),
             s => s.getField("line")), "\n").as("clean_text"),
           count(lit(1)).as("n_kept"))
    docs.select(col(idCol), size(split(col(textCol), "\n")).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Sequence packing — the concat-and-chunk layout step before training:
    * documents are hash-bucketed (deterministic md5 buckets, the
    * [[Sampling]] mechanics — append-stable, no RNG), laid end-to-end in
    * doc-id order within each bucket, and cut into fixed `tokenBudget`
    * chunks. Emits each document's bucket, token count, start offset, first
    * chunk and the number of chunks it spans.
    *
    * One shuffle keyed on the bucket; each bucket's running sum is
    * independent, so 100 TB packs as `buckets`-way parallel cumulative sums
    * — no global order, no driver state, and re-packing after an append
    * only disturbs the buckets the new documents hash into.
    */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
                 tokenBudget: Long, buckets: Int = 64): DataFrame = {
    require(tokenBudget > 0, "positive token budget")
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
    docs.select(col(idCol),
        Sampling.hashBucket(col(idCol), buckets).as("bucket"),
        TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("chunk_id", expr(s"start_offset div ${tokenBudget}L"))
      .withColumn("n_chunks",
        expr(s"(start_offset + n_tokens - 1) div ${tokenBudget}L") -
          col("chunk_id") + lit(1L))
  }

  /** Rare-token statistics — the corpus-frequency quality signal behind
    * CCNet-style filtering (Wenzek et al. 2020 use LM perplexity; the
    * engine-portable core is "how much of this document is made of tokens
    * the corpus has essentially never seen"): per document, the total token
    * count, the number of token OCCURRENCES whose corpus frequency is at
    * most `rareMaxCount` (hapax legomena at the default 1), the number of
    * distinct such tokens, and the rare fraction. OOV-heavy gibberish and
    * boilerplate-free mojibake score high; normal prose scores near zero.
    *
    * All-integer arithmetic plus one final division, so results replay
    * bit-for-bit on any engine. Two hash aggregates with map-side combine +
    * one equi-join on the token — per-token rows cross the shuffles, never
    * document text; the corpus-frequency side is vocabulary-sized.
    */
  def rareTokenStats(docs: DataFrame, idCol: String, textCol: String,
                     rareMaxCount: Long = 1L): DataFrame = {
    // the output is purely numeric, so token STRINGS never need to survive
    // the shuffles: compare 64-bit xxhash64 values instead — every shuffle
    // key narrows from a string to 8 bytes (the same birthday-bounded trick
    // as the MinHash verify stage; a vocabulary-scale corpus puts the
    // collision odds around 1e-7, and a collision only perturbs one
    // document's rare count by one)
    val tf = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col(idCol), xxhash64(col("token")).as("__th"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("__th")).agg(sum(col("tf")).as("cf"))
    val rare = col("cf") <= rareMaxCount
    tf.join(cf, "__th")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
           sum(when(rare, col("tf")).otherwise(lit(0L))).as("n_rare"),
           count(when(rare, lit(1))).as("n_rare_types"))
      .withColumn("rare_ratio",
        col("n_rare").cast("double") / col("n_tokens").cast("double"))
  }

  /** Per-document log-probability under a corpus-fit add-one-smoothed
    * unigram language model — the unigram surrogate of CCNet's KenLM
    * perplexity quality signal (Wenzek et al. 2020 §3: documents whose
    * text the LM finds surprising are the low-quality/boilerplate tail).
    * Same pipeline shape as the real thing: fit a model table over the
    * corpus, join it back per token, reduce per document — swapping in
    * 5-gram rows changes the table, not the plan.
    *
    * Exactness: per-type log-probs quantize to integer micro-nats BEFORE
    * the integer multiply by the in-doc count and the per-doc LONG sum
    * (the [[graft.ops.Dsir]] discipline — order-independent, oracle-
    * replayable). `xent` (cross-entropy per token, nats) is one final
    * division of exact integers.
    *
    * Scale: tf is a map-side-combined (doc, token) aggregate; the model
    * table is vocabulary-sized — broadcast when small, plain equi-join
    * keyed on the token otherwise (never the documents). Totals ride as
    * broadcast 1-row cross joins.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val totals = cf.agg(sum(col("cf")).as("t"), count(lit(1)).as("v"))
    val lw = cf.crossJoin(broadcast(totals))
      .select(col("token"),
        round(log((col("cf") + lit(1.0d)) /
          (col("t") + col("v")).cast("double")) * lit(1e6))
          .cast("long").as("lw_micro"))
    tf.join(lw, Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
           sum(col("tf") * col("lw_micro")).as("logprob_micro"))
      .withColumn("xent",
        (-col("logprob_micro")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)))
  }

  /** Min-K% prob membership signal (Shi et al., ICLR 2024 "Detecting
    * Pretraining Data from Large Language Models"): the mean log-prob of
    * each document's LOWEST `fracMicro` fraction of token occurrences
    * under the corpus LM — memorized/contaminated text has no
    * low-probability outlier tokens, so a HIGH min-k% score flags "the
    * model has seen this". Scored here under the add-one unigram
    * surrogate ([[unigramLogProb]]'s model — swap the stored KenLM pipes
    * in freely, the selection math is model-agnostic).
    *
    * The lowest-k selection works on TYPE rows: types sort by
    * (logprob, token) per doc, a cumulative-count window takes whole
    * types until the occurrence budget k = ⌈frac·n⌉ fills and a partial
    * count at the boundary — all integer arithmetic (integer ceil; ties
    * are value-ties so any boundary choice yields the same sum), the
    * final mean one rounded double division of exact longs.
    *
    * Scale: the corpus collapses to (doc, type, tf); the window
    * partitions BY DOC over its type rows, never globally. */
  def minKProb(docs: DataFrame, idCol: String, textCol: String,
               fracMicro: Long = 200000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fracMicro > 0 && fracMicro <= 1000000L, "frac in (0, 1e6]")
    val tf = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val totals = cf.agg(sum(col("cf")).as("t"), count(lit(1)).as("v"))
    val lw = cf.crossJoin(broadcast(totals))
      .select(col("token"),
        round(log((col("cf") + lit(1.0d)) /
          (col("t") + col("v")).cast("double")) * lit(1e6))
          .cast("long").as("lw_micro"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("lw_micro").asc, col("token").asc)
    val scored = tf.join(lw, Seq("token"))
      .withColumn("cb", coalesce(sum(col("tf")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("tf")).over(
        Window.partitionBy(col(idCol))))
    // integer ceil: k = ⌈n·frac/1e6⌉, floored at 1 (positive operands, so
    // truncating div == floor on both engines)
    val k = greatest(lit(1L),
      expr(s"(n * $fracMicro + 999999) div 1000000"))
    scored
      .withColumn("k", k)
      .withColumn("take",
        greatest(lit(0L), least(col("tf"), col("k") - col("cb"))))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n_tokens"), max(col("k")).as("k_lowest"),
        round(sum(col("take") * col("lw_micro")).cast("double") /
          max(col("k")).cast("double")).cast("long").as("min_k_mean_micro"))
  }

  /** DuckDB oracle replaying [[minKProb]]. */
  def minKProbOracleSql(table: String, idCol: String, textCol: String,
                        fracMicro: Long): String =
    s"""WITH tf AS (SELECT $idCol, token, CAST(count(*) AS BIGINT) AS tf FROM (
           SELECT $idCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1, 2),
       cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
               FROM cf),
       lw AS (SELECT token,
                CAST(round(ln((cf + 1.0) / CAST(t + v AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS lw
              FROM cf, tot),
       sc AS (SELECT tf.$idCol, tf.token, tf.tf, lw.lw,
                coalesce(sum(tf.tf) OVER (PARTITION BY tf.$idCol
                  ORDER BY lw.lw, tf.token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                sum(tf.tf) OVER (PARTITION BY tf.$idCol) AS n
              FROM tf JOIN lw USING (token)),
       tk AS (SELECT $idCol, n,
                greatest(1, (n * $fracMicro + 999999) // 1000000) AS k,
                greatest(0, least(tf,
                  greatest(1, (n * $fracMicro + 999999) // 1000000) - cb)) AS take,
                lw
              FROM sc)
       SELECT $idCol, CAST(max(n) AS BIGINT) AS n_tokens,
         CAST(max(k) AS BIGINT) AS k_lowest,
         CAST(round(CAST(sum(take * lw) AS DOUBLE) / CAST(max(k) AS DOUBLE))
           AS BIGINT) AS min_k_mean_micro
       FROM tk GROUP BY 1 ORDER BY 1"""

  /** Per-document log-probability under a corpus-fit INTERPOLATED BIGRAM
    * language model — one modeling step up from [[unigramLogProb]] toward
    * CCNet's 5-gram KenLM (Wenzek et al. 2020 §3; Jelinek–Mercer
    * interpolation): P(w|v) = λ·c(v,w)/c(v,·) + (1−λ)·P_uni(w) with the
    * add-one unigram as the smoothing floor, and the document's first
    * token scored under the unigram alone. Catches degenerate word ORDER
    * (shuffled/templated text) that any unigram score is blind to.
    *
    * Exactness: per-TYPE log-probs quantize to integer micro-nats before
    * the integer multiply by in-doc counts and the per-doc LONG sums —
    * order-independent, oracle-replayable; `xent` is one final division.
    *
    * Scale: ONE corpus scan — the token arrays persist
    * (repetitionMatrix's pattern) and both the unigram and bigram explodes
    * read the cached arrays; the model tables are type-level (vocabulary /
    * bigram-type sized) and join back by token equi-joins. Text never
    * shuffles; totals ride as broadcast 1-row cross joins.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.7): DataFrame = {
    val (out, toks) = bigramLogProbLazy(docs, idCol, textCol, lambda)
    val materialized = out.localCheckpoint(true)
    toks.unpersist()
    materialized
  }

  /** The lazy pipeline behind [[bigramLogProb]], returning the persisted
    * token-array intermediate for the plan-audit spec. */
  private[graft] def bigramLogProbLazy(
      docs: DataFrame, idCol: String, textCol: String,
      lambda: Double): (DataFrame, DataFrame) = {
    require(lambda > 0.0 && lambda < 1.0, "lambda must be in (0, 1)")
    val toks = docs.select(col(idCol),
        filter(TextFns.tokens(lower(col(textCol))),
          t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = toks.select(col(idCol), explode(col("toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val totals = cf.agg(sum(col("cf")).as("tot_t"), count(lit(1)).as("tot_v"))
    // the add-one unigram term, shared by the floor and the first token —
    // SAME float shape as unigramLogProb's oracle
    def uniTerm = (col("cf") + lit(1.0d)) /
      (col("tot_t") + col("tot_v")).cast("double")
    val lwUni = cf.crossJoin(broadcast(totals))
      .select(col("token"),
        round(log(uniTerm) * lit(1e6)).cast("long").as("lw0_micro"))
    // bigram occurrences per doc: adjacent pairs off the cached arrays
    // (guarded — Spark's sequence(1, 0) is DESCENDING, not empty)
    val pairs = when(size(col("toks")) < 2,
        array().cast("array<struct<v:string,w:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(col("toks")) - lit(1)),
        i => struct(element_at(col("toks"), i).as("v"),
                    element_at(col("toks"), i + lit(1)).as("w"))))
    val bg = toks.select(col(idCol), explode(pairs).as("p"))
      .select(col(idCol), col("p.v").as("v"), col("p.w").as("w"))
      .groupBy(col(idCol), col("v"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val cvw = bg.groupBy(col("v"), col("w")).agg(sum(col("tf")).as("c_vw"))
    val cv = cvw.groupBy(col("v")).agg(sum(col("c_vw")).as("c_v"))
    val lwBi = cvw.join(cv, Seq("v"))
      .join(cf.withColumnRenamed("token", "w"), Seq("w"))
      .crossJoin(broadcast(totals))
      .select(col("v"), col("w"),
        round(log(
          lit(lambda) * (col("c_vw").cast("double") / col("c_v").cast("double")) +
          lit(1.0d - lambda) * uniTerm) * lit(1e6))
          .cast("long").as("lw_micro"))
    val nt = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("n_tokens"))
    val first = toks.select(col(idCol), element_at(col("toks"), 1).as("token"))
      .join(lwUni, Seq("token"))
      .select(col(idCol), col("lw0_micro"))
    val bsum = bg.join(lwBi, Seq("v", "w"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("lw_micro")).as("bi_micro"))
    val out = nt.join(first, Seq(idCol))
      .join(bsum, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("lw0_micro") + coalesce(col("bi_micro"), lit(0L)))
          .as("logprob_micro"))
      .withColumn("xent",
        (-col("logprob_micro")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)))
    (out, toks)
  }

  /** DuckDB oracle replaying [[bigramLogProb]] — same tokenization, the
    * same per-type micro-nat quantization, and the interpolation's exact
    * float-op shapes (λ and 1−λ serialized from the SAME doubles the
    * Spark plan uses, so e.g. 1−0.7 prints as 0.30000000000000004 and
    * parses back to the identical bit pattern). */
  def bigramLogProbOracleSql(table: String, idCol: String, textCol: String,
                             lambda: Double = 0.7): String =
    s"""WITH toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tf AS (SELECT $idCol, token, count(*) AS tf FROM (
           SELECT $idCol, unnest(toks) AS token FROM t2) u GROUP BY 1, 2),
       cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS tot_t, count(*) AS tot_v FROM cf),
       lwu AS (SELECT token,
           CAST(round(ln((cf + 1.0) / CAST(tot_t + tot_v AS DOUBLE))
             * 1000000.0) AS BIGINT) AS lw0_micro
         FROM cf, tot),
       bg AS (SELECT $idCol, v, w, count(*) AS tf FROM (
           SELECT $idCol, toks[CAST(i AS INT)] AS v,
             toks[CAST(i AS INT) + 1] AS w
           FROM (SELECT $idCol, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM t2 WHERE len(toks) >= 2) g) p
         GROUP BY 1, 2, 3),
       cvw AS (SELECT v, w, CAST(sum(tf) AS BIGINT) AS c_vw FROM bg GROUP BY 1, 2),
       cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v FROM cvw GROUP BY 1),
       lwb AS (SELECT cvw.v, cvw.w,
           CAST(round(ln($lambda * (CAST(c_vw AS DOUBLE) / CAST(c_v AS DOUBLE)) +
             ${1.0d - lambda} * ((cf + 1.0) / CAST(tot_t + tot_v AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS lw_micro
         FROM cvw JOIN cv USING (v) JOIN cf ON cf.token = cvw.w CROSS JOIN tot),
       nt AS (SELECT $idCol, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
       fi AS (SELECT t2.$idCol, lwu.lw0_micro
              FROM t2 JOIN lwu ON lwu.token = t2.toks[1]),
       bs AS (SELECT bg.$idCol,
                CAST(sum(bg.tf * lwb.lw_micro) AS BIGINT) AS bi_micro
              FROM bg JOIN lwb ON bg.v = lwb.v AND bg.w = lwb.w GROUP BY 1)
       SELECT nt.$idCol, nt.n_tokens,
         CAST(fi.lw0_micro + coalesce(bs.bi_micro, 0) AS BIGINT) AS logprob_micro,
         CAST(-(fi.lw0_micro + coalesce(bs.bi_micro, 0)) AS DOUBLE) /
           (CAST(nt.n_tokens AS DOUBLE) * 1000000.0) AS xent
       FROM nt JOIN fi USING ($idCol) LEFT JOIN bs USING ($idCol)
       ORDER BY $idCol"""

  /** Per-document log-probability under a corpus-fit INTERPOLATED TRIGRAM
    * language model — the next KenLM rung above [[bigramLogProb]] (Wenzek
    * et al. 2020 §3 run a 5-gram; Jelinek–Mercer fixed-weight
    * interpolation): positions ≥ 3 score under
    * P(w|u,v) = λ₃·c(u,v,w)/c(u,v,·) + λ₂·c(v,w)/c(v,·) + (1−λ₃−λ₂)·P_uni(w),
    * position 2 under the bigram interpolation with the conditional mass
    * λ₃+λ₂ backed onto the bigram term, and position 1 under the add-one
    * unigram floor — so every document's token sequence is fully scored
    * and a 1-token document degrades exactly to [[unigramLogProb]]'s term.
    * Catches short-range templating (copied clause pairs) that the bigram
    * model smooths over.
    *
    * Exactness: the THREE interpolation scalars (λ₃, λ₂, λ₃+λ₂, 1−λ₃−λ₂)
    * resolve to driver-side doubles serialized verbatim into the oracle, so
    * both engines run bit-identical float shapes; per-TYPE log-probs
    * quantize to integer micro-nats before the integer multiply by in-doc
    * counts and the per-doc LONG sums (order-independent at any
    * parallelism).
    *
    * Scale: ONE corpus scan — the persisted token arrays feed the unigram,
    * pair, and triple explodes; all model tables are TYPE-level (vocab /
    * bigram-type / trigram-type sized) and join back by token equi-joins,
    * so document text never shuffles. The trigram-type table is the big
    * one (~tokens-in-corpus rows worst case) but it is 3 strings + 1 long
    * wide and its joins are plain shuffles on short keys; totals ride as
    * broadcast 1-row cross joins. Reference scope: Meerschaum has no LM
    * scoring; this is §2.12 beyond-reference surface
    * (cf. `/root/reference/meerschaum/utils/dataframe.py` limits to frame
    * diff/filter utilities). */
  def trigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     lambda3: Double = 0.5, lambda2: Double = 0.3): DataFrame = {
    val toks = lmToks(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // self-model: type counts from the same cached arrays the scorer reads
    val cf = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cf"))
    val cvw = toks.select(explode(lmPairs).as("p"))
      .groupBy(col("p.v").as("v"), col("p.w").as("w"))
      .agg(count(lit(1)).as("c_vw"))
    val cuvw = toks.select(explode(lmTriples).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .agg(count(lit(1)).as("c_uvw"))
    val out = trigramScoreFromToks(toks, idCol, cf, cvw, cuvw, lambda3, lambda2)
    val materialized = out.localCheckpoint(true)
    toks.unpersist()
    materialized
  }

  /** Filtered token arrays shared by the LM builders and scorers. */
  private def lmToks(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        filter(TextFns.tokens(lower(col(textCol))),
          t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)

  /** Adjacent (v, w) pairs off a `toks` array column (guarded — Spark's
    * sequence(1, 0) is DESCENDING, not empty). */
  private def lmPairs: Column =
    when(size(col("toks")) < 2,
        array().cast("array<struct<v:string,w:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(col("toks")) - lit(1)),
        i => struct(element_at(col("toks"), i).as("v"),
                    element_at(col("toks"), i + lit(1)).as("w"))))

  /** Adjacent (u, v, w) triples off a `toks` array column. */
  private def lmTriples: Column =
    when(size(col("toks")) < 3,
        array().cast("array<struct<u:string,v:string,w:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(col("toks")) - lit(2)),
        i => struct(element_at(col("toks"), i).as("u"),
                    element_at(col("toks"), i + lit(1)).as("v"),
                    element_at(col("toks"), i + lit(2)).as("w"))))

  /** Per-batch ADDITIVE model counts for the STORED trigram LM — the
    * KenLM production shape: train (count) once per batch, blind-append
    * into hash-bucketed pipes, fold (sum) at read. Returns (unigram,
    * bigram, trigram) count tables, each with a `bucket` chunk axis so
    * the model lives as ordinary pipes. Counts are additive over disjoint
    * doc batches, so fold ≡ full-corpus rebuild — the stored-model score
    * is bit-identical to [[trigramLogProb]]'s self-model score. */
  def trigramModelCounts(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int): (DataFrame, DataFrame, DataFrame) =
    trigramModelCountsFromToks(lmToks(docs, idCol, textCol), buckets)

  /** The LM builders' shared filtered token arrays, exposed so callers
    * that materialize all three count tables can tokenize ONCE (eagerly
    * checkpoint the returned frame, feed it to
    * [[trigramModelCountsFromToks]], release after the writes land)
    * instead of paying one corpus tokenization per count table.
    *
    * SPREAD (r16, guide §2.5): every caller of THIS entry point eagerly
    * checkpoints the result and feeds exactly three count aggregates — the
    * few-consumer kernel shape where widening the map side pays. On the
    * single-row-group testdata the un-spread checkpoint had 1 partition,
    * which serialized the tokenize (profiled 1.5 s single-task) AND all
    * three downstream explode+agg map sides behind one task (~3.5 s more);
    * multi-split corpora pass through untouched. The LAZY [[lmToks]] paths
    * (scorers, q_kn_stored's reuse-deduped folds) are deliberately not
    * spread — they have more consumers or rely on exchange reuse. */
  def lmTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // Spread the INPUT and drop [[lmToks]]' empty-doc row filter: the
    // filter is a semantic no-op for the count builders (an empty/null
    // `toks` array explodes to ZERO unigram/pair/triple rows), but its
    // predicate evaluates the tokenizer, so the optimizer's
    // filter-through-exchange pushdown dragged the whole tokenization
    // below the repartition onto the single scan task (profiled 1.6 s
    // single-task either way until the filter went). With a pure
    // projection above the exchange the tokenize runs at session
    // parallelism. Row-equivalence of the count tables is pinned in
    // OptimizationEquivalenceSpec.
    graft.Tables.spread(docs)
      .select(col(idCol),
        filter(TextFns.tokens(lower(col(textCol))),
          t => length(t) > 0).as("toks"))

  /** [[trigramModelCounts]] over a PRE-BUILT `toks` table (any frame with
    * a `toks` array column — typically a checkpointed [[lmTokens]]). */
  def trigramModelCountsFromToks(toks: DataFrame,
                                 buckets: Int): (DataFrame, DataFrame, DataFrame) = {
    require(buckets >= 1, "need at least one bucket")
    def bucketOf(key: Column) =
      pmod(TextFns.md5Long60(key), lit(buckets.toLong)).as("bucket")
    val uni = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .select(bucketOf(col("token")), col("token"), col("cnt"))
    val bi = toks.select(explode(lmPairs).as("p"))
      .groupBy(col("p.v").as("v"), col("p.w").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(bucketOf(concat_ws(" ", col("v"), col("w"))),
        col("v"), col("w"), col("cnt"))
    val tri = toks.select(explode(lmTriples).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(bucketOf(concat_ws(" ", col("u"), col("v"), col("w"))),
        col("u"), col("v"), col("w"), col("cnt"))
    (uni, bi, tri)
  }

  /** Fold stored per-batch LM counts back into model tables. */
  def lmFoldUni(df: DataFrame): DataFrame =
    df.groupBy(col("token")).agg(sum(col("cnt")).as("cf"))
  def lmFoldBi(df: DataFrame): DataFrame =
    df.groupBy(col("v"), col("w")).agg(sum(col("cnt")).as("c_vw"))
  def lmFoldTri(df: DataFrame): DataFrame =
    df.groupBy(col("u"), col("v"), col("w")).agg(sum(col("cnt")).as("c_uvw"))

  /** Score documents under a GIVEN trigram model — stored-model inference
    * (model tables from [[lmFoldUni]]/[[lmFoldBi]]/[[lmFoldTri]] over a
    * synced pipe, or any externally trained counts with the same schema).
    * Same plan shape and quantization as [[trigramLogProb]]. */
  def trigramScoreWithModel(docs: DataFrame, idCol: String, textCol: String,
                            cf: DataFrame, cvw: DataFrame, cuvw: DataFrame,
                            lambda3: Double = 0.5,
                            lambda2: Double = 0.3): DataFrame = {
    val toks = lmToks(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = trigramScoreFromToks(toks, idCol, cf, cvw, cuvw, lambda3, lambda2)
    val materialized = out.localCheckpoint(true)
    toks.unpersist()
    materialized
  }

  /** Shared scorer, in the GENERALIZED smoothed form: every scored
    * position looks its n-gram up with LEFT joins and absent counts read
    * 0, so unseen types fall onto the lower interpolation orders and
    * finally the add-one unigram floor (an OOV token scores
    * 1/(T+V), never probability 1). For fully in-model data — the
    * self-model queries — every lookup hits and the values are
    * bit-identical to the per-model-type tables the committed oracles
    * replay; the generalization only changes CROSS-model scoring
    * ([[crossEntropySelect]]), where silent-zero contributions would have
    * made out-of-domain text look MORE likely. Context counts c(v,·) /
    * c(u,v,·) derive from the pair / triple tables by summation, so
    * callers only ship three tables. */
  private def trigramScoreFromToks(toks: DataFrame, idCol: String,
                                   cf: DataFrame, cvw: DataFrame,
                                   cuvw: DataFrame, lambda3: Double,
                                   lambda2: Double): DataFrame = {
    require(lambda3 > 0.0 && lambda2 > 0.0 && lambda3 + lambda2 < 1.0,
      "need lambda3, lambda2 > 0 with lambda3 + lambda2 < 1")
    // resolve every interpolation scalar ONCE driver-side; the oracle
    // serializes these exact doubles so both engines fold identical literals
    val lam23 = lambda3 + lambda2
    val lamU  = 1.0d - lambda3 - lambda2
    val cv  = cvw.groupBy(col("v")).agg(sum(col("c_vw")).as("c_v"))
    val cuv = cuvw.groupBy(col("u"), col("v")).agg(sum(col("c_uvw")).as("c_uv"))
    val totals = cf.agg(sum(col("cf")).as("tot_t"), count(lit(1)).as("tot_v"))
    val cfW = cf.withColumnRenamed("token", "w")
    // smoothed terms over LEFT-joined counts: a null numerator reads 0
    // (the SAME double as the seen-case division when the count is there)
    def floorTerm = (coalesce(col("cf"), lit(0L)) + lit(1.0d)) /
      (col("tot_t") + col("tot_v")).cast("double")
    def bgTerm = coalesce(
      col("c_vw").cast("double") / col("c_v").cast("double"), lit(0.0d))
    def triTerm = coalesce(
      col("c_uvw").cast("double") / col("c_uv").cast("double"), lit(0.0d))
    val tf = toks.select(col(idCol), explode(col("toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nt = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("n_tokens"))
    val first = toks.select(col(idCol), element_at(col("toks"), 1).as("token"))
      .join(cf, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log(floorTerm) * lit(1e6)).cast("long").as("lw0_micro"))
    val second = toks.where(size(col("toks")) >= 2)
      .select(col(idCol), element_at(col("toks"), 1).as("v"),
        element_at(col("toks"), 2).as("w"))
      .join(cvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .join(cfW, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log(lit(lam23) * bgTerm + lit(lamU) * floorTerm) * lit(1e6))
          .cast("long").as("lw2_micro"))
    val tg = toks.select(col(idCol), explode(lmTriples).as("p"))
      .select(col(idCol), col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .groupBy(col(idCol), col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val tsum = tg
      .join(cuvw, Seq("u", "v", "w"), "left")
      .join(cuv, Seq("u", "v"), "left")
      .join(cvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .join(cfW, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), (col("tf") *
        round(log(
          lit(lambda3) * triTerm + lit(lambda2) * bgTerm +
          lit(lamU) * floorTerm) * lit(1e6)).cast("long")).as("c_micro"))
      .groupBy(col(idCol))
      .agg(sum(col("c_micro")).as("tri_micro"))
    nt.join(first, Seq(idCol))
      .join(second, Seq(idCol), "left")
      .join(tsum, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("lw0_micro") + coalesce(col("lw2_micro"), lit(0L)) +
          coalesce(col("tri_micro"), lit(0L)))
          .as("logprob_micro"))
      .withColumn("xent",
        (-col("logprob_micro")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)))
  }

  /** DuckDB oracle replaying [[trigramLogProb]] — same tokenization, the
    * same per-type micro-nat quantization, and interpolation scalars
    * serialized from the SAME driver-side doubles the Spark plan folds, so
    * both engines run bit-identical float shapes. */
  def trigramLogProbOracleSql(table: String, idCol: String, textCol: String,
                              lambda3: Double = 0.5,
                              lambda2: Double = 0.3): String = {
    val lam23 = lambda3 + lambda2
    val lamU  = 1.0d - lambda3 - lambda2
    s"""WITH toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tf AS (SELECT $idCol, token, count(*) AS tf FROM (
           SELECT $idCol, unnest(toks) AS token FROM t2) u GROUP BY 1, 2),
       cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS tot_t, count(*) AS tot_v FROM cf),
       lwu AS (SELECT token,
           CAST(round(ln((cf + 1.0) / CAST(tot_t + tot_v AS DOUBLE))
             * 1000000.0) AS BIGINT) AS lw0_micro
         FROM cf, tot),
       cvw AS (SELECT v, w, count(*) AS c_vw FROM (
           SELECT toks[CAST(i AS INT)] AS v, toks[CAST(i AS INT) + 1] AS w
           FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM t2 WHERE len(toks) >= 2) g) p
         GROUP BY 1, 2),
       cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v FROM cvw GROUP BY 1),
       tg AS (SELECT $idCol, u, v, w, count(*) AS tf FROM (
           SELECT $idCol, toks[CAST(i AS INT)] AS u,
             toks[CAST(i AS INT) + 1] AS v, toks[CAST(i AS INT) + 2] AS w
           FROM (SELECT $idCol, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS i
                 FROM t2 WHERE len(toks) >= 3) g) p
         GROUP BY 1, 2, 3, 4),
       cuvw AS (SELECT u, v, w, CAST(sum(tf) AS BIGINT) AS c_uvw
         FROM tg GROUP BY 1, 2, 3),
       cuv AS (SELECT u, v, CAST(sum(c_uvw) AS BIGINT) AS c_uv
         FROM cuvw GROUP BY 1, 2),
       lw2 AS (SELECT cvw.v, cvw.w,
           CAST(round(ln($lam23 * (CAST(c_vw AS DOUBLE) / CAST(c_v AS DOUBLE)) +
             $lamU * ((cf + 1.0) / CAST(tot_t + tot_v AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS lw2_micro
         FROM cvw JOIN cv USING (v) JOIN cf ON cf.token = cvw.w CROSS JOIN tot),
       lw3 AS (SELECT cuvw.u, cuvw.v, cuvw.w,
           CAST(round(ln(
             $lambda3 * (CAST(c_uvw AS DOUBLE) / CAST(c_uv AS DOUBLE)) +
             $lambda2 * (CAST(c_vw AS DOUBLE) / CAST(c_v AS DOUBLE)) +
             $lamU * ((cf + 1.0) / CAST(tot_t + tot_v AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS lw3_micro
         FROM cuvw JOIN cuv USING (u, v) JOIN cvw USING (v, w)
              JOIN cv USING (v) JOIN cf ON cf.token = cuvw.w CROSS JOIN tot),
       nt AS (SELECT $idCol, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
       fi AS (SELECT t2.$idCol, lwu.lw0_micro
              FROM t2 JOIN lwu ON lwu.token = t2.toks[1]),
       se AS (SELECT t2.$idCol, lw2.lw2_micro
              FROM t2 JOIN lw2 ON lw2.v = t2.toks[1] AND lw2.w = t2.toks[2]
              WHERE len(toks) >= 2),
       ts AS (SELECT tg.$idCol,
                CAST(sum(tg.tf * lw3.lw3_micro) AS BIGINT) AS tri_micro
              FROM tg JOIN lw3 USING (u, v, w) GROUP BY 1)
       SELECT nt.$idCol, nt.n_tokens,
         CAST(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0) AS BIGINT) AS logprob_micro,
         CAST(-(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0)) AS DOUBLE) /
           (CAST(nt.n_tokens AS DOUBLE) * 1000000.0) AS xent
       FROM nt JOIN fi USING ($idCol) LEFT JOIN se USING ($idCol)
            LEFT JOIN ts USING ($idCol)
       ORDER BY $idCol"""
  }

  /** Per-document log-probability under an interpolated KNESER–NEY
    * trigram model — the smoothing KenLM actually defaults to (Kneser &
    * Ney 1995; Chen & Goodman 1999 eq. 20): lower orders use CONTINUATION
    * counts ("how many distinct contexts precede this n-gram"), not raw
    * frequencies, so a token frequent only inside one collocation
    * ("francisco") stops inflating its unigram backoff. With absolute
    * discount D:
    *
    *   P₁(w)     = N₁₊(·w) / N₁₊(··)                      (bigram types)
    *   P₂ᶜ(w|v)  = (N₁₊(·vw) − D + D·N₂(v)·P₁(w)) / N₁₊(·v·)
    *   P₃(w|u,v) = (c(uvw) − D + D·N₃(uv)·P₂ᶜ(w|v)) / c(uv·)
    *
    * Position 2 scores under the REAL-count order-2 model
    * (c(vw) − D + D·N₂ʳ(v)·P₁(w)) / c(v·), and position 1 under the
    * family's add-one unigram floor, so every document is fully scored
    * and a 1-token document degrades exactly to [[unigramLogProb]].
    *
    * Exactness: every count is an exact long; D is ONE driver-side
    * double serialized verbatim into the oracle, each per-TYPE log-prob
    * computes the identical IEEE expression tree on both engines and
    * quantizes to integer micro-nats before the per-doc LONG sums.
    * Self-model scoring means every lookup hits (all inner joins). All
    * counts ≥ 1 and 0 < D < 1 keep every numerator positive.
    *
    * Scale: identical shape to [[trigramLogProb]] — ONE corpus scan
    * through the persisted token arrays; continuation tables derive from
    * the trigram/bigram TYPE tables by short-key aggregates (they are
    * strictly smaller than their sources); totals ride as broadcast
    * 1-row frames. */
  def knTrigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                       discount: Double = 0.75): DataFrame = {
    val toks = lmToks(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cf = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cf"))
    val cvw = toks.select(explode(lmPairs).as("p"))
      .groupBy(col("p.v").as("v"), col("p.w").as("w"))
      .agg(count(lit(1)).as("c_vw"))
    val cuvw = toks.select(explode(lmTriples).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .agg(count(lit(1)).as("c_uvw"))
    val out = knScoreFromToks(toks, idCol, cf, cvw, cuvw, discount)
    val materialized = out.localCheckpoint(true)
    toks.unpersist()
    materialized
  }

  /** Score documents under a GIVEN Kneser–Ney trigram model — stored-model
    * inference over the same three count tables the LM pipes persist
    * ([[lmFoldUni]]/[[lmFoldBi]]/[[lmFoldTri]] outputs): the KenLM
    * production path of shipping one model and scoring arbitrary text
    * against it. Out-of-model n-grams walk the KN BACKOFF CASCADE —
    * unseen trigram type keeps the context's continuation mass
    * (numerator D·N₃(uv)·P₂ᶜ), unseen context falls to the next order,
    * and a fully-OOV token lands on the add-one unigram floor — so
    * out-of-domain text pays its real penalty instead of being dropped.
    * For fully in-model text every branch takes the seen arm and the
    * score is bit-identical to [[knTrigramLogProb]]'s self-model value
    * (greatest(c−D, 0) ≡ c−D when c ≥ 1). */
  def knScoreWithModel(docs: DataFrame, idCol: String, textCol: String,
                       cf: DataFrame, cvw: DataFrame, cuvw: DataFrame,
                       discount: Double = 0.75): DataFrame = {
    val toks = lmToks(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = knScoreFromToks(toks, idCol, cf, cvw, cuvw, discount)
    val materialized = out.localCheckpoint(true)
    toks.unpersist()
    materialized
  }

  /** Shared KN scorer over prepared token arrays: LEFT-joined count
    * lookups with the backoff cascade, identical IEEE tree per type,
    * micro-nat quantization before the per-doc LONG sums. */
  private def knScoreFromToks(toks: DataFrame, idCol: String,
                              cf: DataFrame, cvw: DataFrame,
                              cuvw: DataFrame, discount: Double): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0, 1)")
    val dD = discount
    // context/continuation tables — all bounded by their type sources
    val cuv = cuvw.groupBy(col("u"), col("v"))
      .agg(sum(col("c_uvw")).as("c_uv"), count(lit(1)).as("n3_uv"))
    val mid = cuvw.groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("n1l_vw"))
    val midv = mid.groupBy(col("v"))
      .agg(sum(col("n1l_vw")).as("n1l_v"), count(lit(1)).as("n2_v"))
    val cv = cvw.groupBy(col("v"))
      .agg(sum(col("c_vw")).as("c_v"), count(lit(1)).as("n2r_v"))
    val uniC = cvw.groupBy(col("w")).agg(count(lit(1)).as("n1l_w"))
    val nB = cvw.agg(count(lit(1)).as("nb"))
    val totals = cf.agg(sum(col("cf")).as("tot_t"), count(lit(1)).as("tot_v"))
    val cfW = cf.withColumnRenamed("token", "w")
    // backoff cascade terms: each order falls through when its context is
    // absent; the seen branches compute the exact self-model expressions
    def floorTerm = (coalesce(col("cf"), lit(0L)) + lit(1.0d)) /
      (col("tot_t") + col("tot_v")).cast("double")
    def p1 = when(col("n1l_w").isNotNull,
        col("n1l_w").cast("double") / col("nb").cast("double"))
      .otherwise(floorTerm)
    def p2c = when(col("n1l_v").isNotNull,
        (greatest(coalesce(col("n1l_vw"), lit(0L)).cast("double") - lit(dD),
          lit(0.0d)) + lit(dD) * col("n2_v").cast("double") * p1) /
          col("n1l_v").cast("double"))
      .otherwise(p1)
    def p2r = when(col("c_v").isNotNull,
        (greatest(coalesce(col("c_vw"), lit(0L)).cast("double") - lit(dD),
          lit(0.0d)) + lit(dD) * col("n2r_v").cast("double") * p1) /
          col("c_v").cast("double"))
      .otherwise(p1)
    def p3 = when(col("c_uv").isNotNull,
        (greatest(coalesce(col("c_uvw"), lit(0L)).cast("double") - lit(dD),
          lit(0.0d)) + lit(dD) * col("n3_uv").cast("double") * p2c) /
          col("c_uv").cast("double"))
      .otherwise(p2c)
    val tf = toks.select(col(idCol), explode(col("toks")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val nt = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("n_tokens"))
    val first = toks.select(col(idCol), element_at(col("toks"), 1).as("token"))
      .join(cf, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log(floorTerm) * lit(1e6)).cast("long").as("lw0_micro"))
    val second = toks.where(size(col("toks")) >= 2)
      .select(col(idCol), element_at(col("toks"), 1).as("v"),
        element_at(col("toks"), 2).as("w"))
      .join(cvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .join(uniC, Seq("w"), "left")
      .join(cfW, Seq("w"), "left")
      .crossJoin(broadcast(nB))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log(p2r) * lit(1e6)).cast("long").as("lw2_micro"))
    val tg = toks.select(col(idCol), explode(lmTriples).as("p"))
      .select(col(idCol), col("p.u").as("u"), col("p.v").as("v"),
        col("p.w").as("w"))
      .groupBy(col(idCol), col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val tsum = tg
      .join(cuvw, Seq("u", "v", "w"), "left")
      .join(cuv, Seq("u", "v"), "left")
      .join(mid, Seq("v", "w"), "left")
      .join(midv, Seq("v"), "left")
      .join(uniC, Seq("w"), "left")
      .join(cfW, Seq("w"), "left")
      .crossJoin(broadcast(nB))
      .crossJoin(broadcast(totals))
      .select(col(idCol), (col("tf") *
        round(log(p3) * lit(1e6)).cast("long")).as("c_micro"))
      .groupBy(col(idCol))
      .agg(sum(col("c_micro")).as("tri_micro"))
    nt.join(first, Seq(idCol))
      .join(second, Seq(idCol), "left")
      .join(tsum, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("lw0_micro") + coalesce(col("lw2_micro"), lit(0L)) +
          coalesce(col("tri_micro"), lit(0L))).as("logprob_micro"))
      .withColumn("xent",
        (-col("logprob_micro")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)))
  }

  /** DuckDB oracle replaying [[knTrigramLogProb]] — the same count /
    * continuation tables and the identical IEEE expression tree per
    * type, with the one discount double serialized verbatim. */
  def knTrigramLogProbOracleSql(table: String, idCol: String,
                                textCol: String,
                                discount: Double = 0.75): String = {
    val dD = discount
    s"""WITH toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tf AS (SELECT $idCol, token, count(*) AS tf FROM (
           SELECT $idCol, unnest(toks) AS token FROM t2) u GROUP BY 1, 2),
       cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS tot_t, count(*) AS tot_v FROM cf),
       cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM (
           SELECT toks[CAST(i AS INT)] AS v, toks[CAST(i AS INT) + 1] AS w
           FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM t2 WHERE len(toks) >= 2) g) p
         GROUP BY 1, 2),
       cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
                CAST(count(*) AS BIGINT) AS n2r_v
              FROM cvw GROUP BY 1),
       unic AS (SELECT w, CAST(count(*) AS BIGINT) AS n1l_w
                FROM cvw GROUP BY 1),
       nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cvw),
       tg AS (SELECT $idCol, u, v, w, count(*) AS tf FROM (
           SELECT $idCol, toks[CAST(i AS INT)] AS u,
             toks[CAST(i AS INT) + 1] AS v, toks[CAST(i AS INT) + 2] AS w
           FROM (SELECT $idCol, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS i
                 FROM t2 WHERE len(toks) >= 3) g) p
         GROUP BY 1, 2, 3, 4),
       cuvw AS (SELECT u, v, w, CAST(sum(tf) AS BIGINT) AS c_uvw
         FROM tg GROUP BY 1, 2, 3),
       cuv AS (SELECT u, v, CAST(sum(c_uvw) AS BIGINT) AS c_uv,
                 CAST(count(*) AS BIGINT) AS n3_uv
               FROM cuvw GROUP BY 1, 2),
       mid AS (SELECT v, w, CAST(count(*) AS BIGINT) AS n1l_vw
               FROM cuvw GROUP BY 1, 2),
       midv AS (SELECT v, CAST(sum(n1l_vw) AS BIGINT) AS n1l_v,
                  CAST(count(*) AS BIGINT) AS n2_v
                FROM mid GROUP BY 1),
       lw2 AS (SELECT cvw.v, cvw.w,
           CAST(round(ln((CAST(c_vw AS DOUBLE) - $dD +
               $dD * CAST(n2r_v AS DOUBLE) *
               (CAST(n1l_w AS DOUBLE) / CAST(nb AS DOUBLE))) /
             CAST(c_v AS DOUBLE)) * 1000000.0) AS BIGINT) AS lw2_micro
         FROM cvw JOIN cv USING (v) JOIN unic ON unic.w = cvw.w
              CROSS JOIN nb),
       lw3 AS (SELECT cuvw.u, cuvw.v, cuvw.w,
           CAST(round(ln((CAST(c_uvw AS DOUBLE) - $dD +
               $dD * CAST(n3_uv AS DOUBLE) *
               ((CAST(n1l_vw AS DOUBLE) - $dD +
                 $dD * CAST(n2_v AS DOUBLE) *
                 (CAST(n1l_w AS DOUBLE) / CAST(nb AS DOUBLE))) /
                 CAST(n1l_v AS DOUBLE))) /
             CAST(c_uv AS DOUBLE)) * 1000000.0) AS BIGINT) AS lw3_micro
         FROM cuvw JOIN cuv USING (u, v) JOIN mid USING (v, w)
              JOIN midv USING (v) JOIN unic ON unic.w = cuvw.w
              CROSS JOIN nb),
       nt AS (SELECT $idCol, CAST(sum(tf) AS BIGINT) AS n_tokens
              FROM tf GROUP BY 1),
       fi AS (SELECT t2.$idCol,
                CAST(round(ln((cf + 1.0) / CAST(tot_t + tot_v AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS lw0_micro
              FROM t2 JOIN cf ON cf.token = t2.toks[1] CROSS JOIN tot),
       se AS (SELECT t2.$idCol, lw2.lw2_micro
              FROM t2 JOIN lw2 ON lw2.v = t2.toks[1] AND lw2.w = t2.toks[2]
              WHERE len(toks) >= 2),
       ts AS (SELECT tg.$idCol,
                CAST(sum(tg.tf * lw3.lw3_micro) AS BIGINT) AS tri_micro
              FROM tg JOIN lw3 USING (u, v, w) GROUP BY 1)
       SELECT nt.$idCol, nt.n_tokens,
         CAST(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0) AS BIGINT) AS logprob_micro,
         CAST(-(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0)) AS DOUBLE) /
           (CAST(nt.n_tokens AS DOUBLE) * 1000000.0) AS xent
       FROM nt JOIN fi USING ($idCol) LEFT JOIN se USING ($idCol)
            LEFT JOIN ts USING ($idCol)
       ORDER BY $idCol"""
  }

  /** DuckDB oracle replaying [[knScoreWithModel]] with the model trained
    * on `modelTable` and the documents of `scoreTable` scored — LEFT
    * joins with the same KN backoff cascade (unseen type → continuation
    * mass; unseen context → next order; OOV token → add-one floor),
    * identical IEEE expression trees per branch. */
  def knScoreOracleSql(modelTable: String, scoreTable: String,
                       idCol: String, textCol: String,
                       discount: Double = 0.75): String = {
    val dD = discount
    s"""WITH mtoks AS (
         SELECT list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $modelTable),
       mt2 AS (SELECT toks FROM mtoks WHERE len(toks) > 0),
       cf AS (SELECT token, CAST(count(*) AS BIGINT) AS cf FROM (
           SELECT unnest(toks) AS token FROM mt2) u GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS tot_t, count(*) AS tot_v FROM cf),
       cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM (
           SELECT toks[CAST(i AS INT)] AS v, toks[CAST(i AS INT) + 1] AS w
           FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM mt2 WHERE len(toks) >= 2) g) p
         GROUP BY 1, 2),
       cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
                CAST(count(*) AS BIGINT) AS n2r_v
              FROM cvw GROUP BY 1),
       unic AS (SELECT w, CAST(count(*) AS BIGINT) AS n1l_w
                FROM cvw GROUP BY 1),
       nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cvw),
       cuvw AS (SELECT u, v, w, CAST(count(*) AS BIGINT) AS c_uvw FROM (
           SELECT toks[CAST(i AS INT)] AS u,
             toks[CAST(i AS INT) + 1] AS v, toks[CAST(i AS INT) + 2] AS w
           FROM (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
                 FROM mt2 WHERE len(toks) >= 3) g) p
         GROUP BY 1, 2, 3),
       cuv AS (SELECT u, v, CAST(sum(c_uvw) AS BIGINT) AS c_uv,
                 CAST(count(*) AS BIGINT) AS n3_uv
               FROM cuvw GROUP BY 1, 2),
       mid AS (SELECT v, w, CAST(count(*) AS BIGINT) AS n1l_vw
               FROM cuvw GROUP BY 1, 2),
       midv AS (SELECT v, CAST(sum(n1l_vw) AS BIGINT) AS n1l_v,
                  CAST(count(*) AS BIGINT) AS n2_v
                FROM mid GROUP BY 1),
       stoks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $scoreTable),
       st2 AS (SELECT $idCol, toks FROM stoks WHERE len(toks) > 0),
       stf AS (SELECT $idCol, token, count(*) AS tf FROM (
           SELECT $idCol, unnest(toks) AS token FROM st2) u GROUP BY 1, 2),
       nt AS (SELECT $idCol, CAST(sum(tf) AS BIGINT) AS n_tokens
              FROM stf GROUP BY 1),
       fi AS (SELECT st2.$idCol,
                CAST(round(ln((coalesce(cf, 0) + 1.0)
                  / CAST(tot_t + tot_v AS DOUBLE)) * 1000000.0) AS BIGINT)
                  AS lw0_micro
              FROM st2 LEFT JOIN cf ON cf.token = st2.toks[1] CROSS JOIN tot),
       se AS (SELECT s.$idCol,
                CAST(round(ln(
                  CASE WHEN cv.c_v IS NOT NULL THEN
                    (greatest(CAST(coalesce(cvw.c_vw, 0) AS DOUBLE) - $dD, 0.0)
                      + $dD * CAST(cv.n2r_v AS DOUBLE) *
                      (CASE WHEN unic.n1l_w IS NOT NULL
                         THEN CAST(unic.n1l_w AS DOUBLE) / CAST(nb AS DOUBLE)
                         ELSE (coalesce(cf.cf, 0) + 1.0)
                           / CAST(tot_t + tot_v AS DOUBLE) END))
                      / CAST(cv.c_v AS DOUBLE)
                  ELSE CASE WHEN unic.n1l_w IS NOT NULL
                         THEN CAST(unic.n1l_w AS DOUBLE) / CAST(nb AS DOUBLE)
                         ELSE (coalesce(cf.cf, 0) + 1.0)
                           / CAST(tot_t + tot_v AS DOUBLE) END
                  END) * 1000000.0) AS BIGINT) AS lw2_micro
              FROM (SELECT $idCol, toks[1] AS v, toks[2] AS w
                    FROM st2 WHERE len(toks) >= 2) s
              LEFT JOIN cvw ON cvw.v = s.v AND cvw.w = s.w
              LEFT JOIN cv ON cv.v = s.v
              LEFT JOIN unic ON unic.w = s.w
              LEFT JOIN cf ON cf.token = s.w
              CROSS JOIN nb CROSS JOIN tot),
       stg AS (SELECT $idCol, u, v, w, count(*) AS tf FROM (
           SELECT $idCol, toks[CAST(i AS INT)] AS u,
             toks[CAST(i AS INT) + 1] AS v, toks[CAST(i AS INT) + 2] AS w
           FROM (SELECT $idCol, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS i
                 FROM st2 WHERE len(toks) >= 3) g) p
         GROUP BY 1, 2, 3, 4),
       ts AS (SELECT s.$idCol,
                CAST(sum(s.tf * CAST(round(ln(
                  CASE WHEN cuv.c_uv IS NOT NULL THEN
                    (greatest(CAST(coalesce(cuvw.c_uvw, 0) AS DOUBLE) - $dD, 0.0)
                      + $dD * CAST(cuv.n3_uv AS DOUBLE) *
                      (CASE WHEN midv.n1l_v IS NOT NULL THEN
                         (greatest(CAST(coalesce(mid.n1l_vw, 0) AS DOUBLE) - $dD, 0.0)
                           + $dD * CAST(midv.n2_v AS DOUBLE) *
                           (CASE WHEN unic.n1l_w IS NOT NULL
                              THEN CAST(unic.n1l_w AS DOUBLE) / CAST(nb AS DOUBLE)
                              ELSE (coalesce(cf.cf, 0) + 1.0)
                                / CAST(tot_t + tot_v AS DOUBLE) END))
                           / CAST(midv.n1l_v AS DOUBLE)
                       ELSE CASE WHEN unic.n1l_w IS NOT NULL
                              THEN CAST(unic.n1l_w AS DOUBLE) / CAST(nb AS DOUBLE)
                              ELSE (coalesce(cf.cf, 0) + 1.0)
                                / CAST(tot_t + tot_v AS DOUBLE) END END))
                      / CAST(cuv.c_uv AS DOUBLE)
                  ELSE CASE WHEN midv.n1l_v IS NOT NULL THEN
                         (greatest(CAST(coalesce(mid.n1l_vw, 0) AS DOUBLE) - $dD, 0.0)
                           + $dD * CAST(midv.n2_v AS DOUBLE) *
                           (CASE WHEN unic.n1l_w IS NOT NULL
                              THEN CAST(unic.n1l_w AS DOUBLE) / CAST(nb AS DOUBLE)
                              ELSE (coalesce(cf.cf, 0) + 1.0)
                                / CAST(tot_t + tot_v AS DOUBLE) END))
                           / CAST(midv.n1l_v AS DOUBLE)
                       ELSE CASE WHEN unic.n1l_w IS NOT NULL
                              THEN CAST(unic.n1l_w AS DOUBLE) / CAST(nb AS DOUBLE)
                              ELSE (coalesce(cf.cf, 0) + 1.0)
                                / CAST(tot_t + tot_v AS DOUBLE) END END
                  END) * 1000000.0) AS BIGINT)) AS BIGINT) AS tri_micro
              FROM stg s
              LEFT JOIN cuvw ON cuvw.u = s.u AND cuvw.v = s.v AND cuvw.w = s.w
              LEFT JOIN cuv ON cuv.u = s.u AND cuv.v = s.v
              LEFT JOIN mid ON mid.v = s.v AND mid.w = s.w
              LEFT JOIN midv ON midv.v = s.v
              LEFT JOIN unic ON unic.w = s.w
              LEFT JOIN cf ON cf.token = s.w
              CROSS JOIN nb CROSS JOIN tot
              GROUP BY 1)
       SELECT nt.$idCol, nt.n_tokens,
         CAST(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0) AS BIGINT) AS logprob_micro,
         CAST(-(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0)) AS DOUBLE) /
           (CAST(nt.n_tokens AS DOUBLE) * 1000000.0) AS xent
       FROM nt JOIN fi USING ($idCol) LEFT JOIN se USING ($idCol)
            LEFT JOIN ts USING ($idCol)
       ORDER BY $idCol"""
  }

  /** DuckDB oracle replaying [[trigramScoreWithModel]] with the model
    * trained on `modelTable` and the documents of `scoreTable` scored —
    * the generalized smoothed form: every scored position LEFT-joins its
    * n-gram counts (absent reads 0), so OOV types fall through the
    * interpolation orders onto the add-one floor, exactly like the Spark
    * scorer. [[trigramLogProbOracleSql]] remains the (equivalent)
    * per-model-type special case for modelTable == scoreTable. */
  def trigramScoreOracleSql(modelTable: String, scoreTable: String,
                            idCol: String, textCol: String,
                            lambda3: Double = 0.5,
                            lambda2: Double = 0.3): String = {
    val lam23 = lambda3 + lambda2
    val lamU  = 1.0d - lambda3 - lambda2
    val floor = "((coalesce(cf.cf, 0) + 1.0) / CAST(tot_t + tot_v AS DOUBLE))"
    val bg    = "coalesce(CAST(c_vw AS DOUBLE) / CAST(c_v AS DOUBLE), 0.0)"
    val tri   = "coalesce(CAST(c_uvw AS DOUBLE) / CAST(c_uv AS DOUBLE), 0.0)"
    s"""WITH mt AS (
         SELECT list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $modelTable),
       m2 AS (SELECT toks FROM mt WHERE len(toks) > 0),
       cf AS (SELECT token, CAST(count(*) AS BIGINT) AS cf FROM (
           SELECT unnest(toks) AS token FROM m2) u GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS tot_t, count(*) AS tot_v FROM cf),
       cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM (
           SELECT toks[CAST(i AS INT)] AS v, toks[CAST(i AS INT) + 1] AS w
           FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM m2 WHERE len(toks) >= 2) g) p
         GROUP BY 1, 2),
       cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v FROM cvw GROUP BY 1),
       cuvw AS (SELECT u, v, w, CAST(count(*) AS BIGINT) AS c_uvw FROM (
           SELECT toks[CAST(i AS INT)] AS u,
             toks[CAST(i AS INT) + 1] AS v, toks[CAST(i AS INT) + 2] AS w
           FROM (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
                 FROM m2 WHERE len(toks) >= 3) g) p
         GROUP BY 1, 2, 3),
       cuv AS (SELECT u, v, CAST(sum(c_uvw) AS BIGINT) AS c_uv
         FROM cuvw GROUP BY 1, 2),
       st AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $scoreTable),
       s2 AS (SELECT $idCol, toks FROM st WHERE len(toks) > 0),
       tf AS (SELECT $idCol, token, count(*) AS tf FROM (
           SELECT $idCol, unnest(toks) AS token FROM s2) u GROUP BY 1, 2),
       tg AS (SELECT $idCol, u, v, w, count(*) AS tf FROM (
           SELECT $idCol, toks[CAST(i AS INT)] AS u,
             toks[CAST(i AS INT) + 1] AS v, toks[CAST(i AS INT) + 2] AS w
           FROM (SELECT $idCol, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS i
                 FROM s2 WHERE len(toks) >= 3) g) p
         GROUP BY 1, 2, 3, 4),
       nt AS (SELECT $idCol, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
       fi AS (SELECT s2.$idCol,
                CAST(round(ln($floor) * 1000000.0) AS BIGINT) AS lw0_micro
              FROM s2 LEFT JOIN cf ON cf.token = s2.toks[1] CROSS JOIN tot),
       se AS (SELECT s2.$idCol,
                CAST(round(ln($lam23 * $bg + $lamU * $floor)
                  * 1000000.0) AS BIGINT) AS lw2_micro
              FROM s2
              LEFT JOIN cvw ON cvw.v = s2.toks[1] AND cvw.w = s2.toks[2]
              LEFT JOIN cv ON cv.v = s2.toks[1]
              LEFT JOIN cf ON cf.token = s2.toks[2]
              CROSS JOIN tot
              WHERE len(s2.toks) >= 2),
       ts AS (SELECT tg.$idCol, CAST(sum(tg.tf *
                CAST(round(ln($lambda3 * $tri + $lambda2 * $bg + $lamU * $floor)
                  * 1000000.0) AS BIGINT)) AS BIGINT) AS tri_micro
              FROM tg
              LEFT JOIN cuvw USING (u, v, w)
              LEFT JOIN cuv USING (u, v)
              LEFT JOIN cvw USING (v, w)
              LEFT JOIN cv USING (v)
              LEFT JOIN cf ON cf.token = tg.w
              CROSS JOIN tot
              GROUP BY 1)
       SELECT nt.$idCol, nt.n_tokens,
         CAST(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0) AS BIGINT) AS logprob_micro,
         CAST(-(fi.lw0_micro + coalesce(se.lw2_micro, 0)
           + coalesce(ts.tri_micro, 0)) AS DOUBLE) /
           (CAST(nt.n_tokens AS DOUBLE) * 1000000.0) AS xent
       FROM nt JOIN fi USING ($idCol) LEFT JOIN se USING ($idCol)
            LEFT JOIN ts USING ($idCol)
       ORDER BY $idCol"""
  }

  /** Moore–Lewis cross-entropy difference selection (Moore & Lewis, ACL
    * 2010) — THE classic data-selection signal: score every candidate
    * document under an IN-DOMAIN LM and a GENERAL LM and rank by
    * H_in − H_out; low values read "looks like the target domain, not
    * just easy text". Composed from two [[trigramScoreWithModel]] passes
    * over the same candidates (each model a stored count-pipe triple),
    * joined on the id — so the selection runs against incrementally
    * maintained models without retraining. `ce_delta` is one IEEE
    * division over exact LONG micro-nats (bit-portable). OOV types score
    * at the interpolation's add-one floor on BOTH sides (the scorer's
    * generalized smoothed form), so out-of-domain text pays the full
    * unseen-n-gram penalty under the in-domain model instead of silently
    * contributing nothing.
    *
    * Scale: two scoring passes (each ONE corpus scan + type-level model
    * joins) and one id equi-join; no new shuffle classes beyond the
    * scorer's. */
  def crossEntropySelect(docs: DataFrame, idCol: String, textCol: String,
                         inCf: DataFrame, inCvw: DataFrame, inCuvw: DataFrame,
                         outCf: DataFrame, outCvw: DataFrame,
                         outCuvw: DataFrame,
                         lambda3: Double = 0.5,
                         lambda2: Double = 0.3): DataFrame = {
    val a = trigramScoreWithModel(docs, idCol, textCol,
        inCf, inCvw, inCuvw, lambda3, lambda2)
      .select(col(idCol), col("n_tokens"),
        col("logprob_micro").as("lp_in_micro"))
    val b = trigramScoreWithModel(docs, idCol, textCol,
        outCf, outCvw, outCuvw, lambda3, lambda2)
      .select(col(idCol), col("logprob_micro").as("lp_out_micro"))
    a.join(b, Seq(idCol))
      .withColumn("ce_delta",
        (col("lp_out_micro") - col("lp_in_micro")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)))
  }

  /** DuckDB oracle replaying [[crossEntropySelect]] — the two
    * [[trigramScoreOracleSql]] stacks nested as subqueries (DuckDB
    * supports CTEs inside subqueries), joined on the id. */
  def crossEntropySelectOracleSql(inModelTable: String, outModelTable: String,
                                  scoreTable: String, idCol: String,
                                  textCol: String,
                                  lambda3: Double = 0.5,
                                  lambda2: Double = 0.3): String =
    s"""SELECT a.$idCol, a.n_tokens,
         a.logprob_micro AS lp_in_micro,
         b.logprob_micro AS lp_out_micro,
         CAST(b.logprob_micro - a.logprob_micro AS DOUBLE) /
           (CAST(a.n_tokens AS DOUBLE) * 1000000.0) AS ce_delta
       FROM (${trigramScoreOracleSql(inModelTable, scoreTable, idCol, textCol,
               lambda3, lambda2)}) a
       JOIN (${trigramScoreOracleSql(outModelTable, scoreTable, idCol, textCol,
               lambda3, lambda2)}) b USING ($idCol)
       ORDER BY a.$idCol"""

  /** [[crossEntropySelect]] specialized to the SELF-TRAINED shape the
    * Moore–Lewis query runs (in-model = docs WHERE `inDom`, out-model =
    * all docs, scored = all docs) — IDENTICAL output, restructured for
    * cost (optimization guide §1.2: fix the distributed algorithm first):
    *
    *   - the corpus tokenizes ONCE into a persisted token table that
    *     feeds the model counts and BOTH scoring ladders (the generic
    *     form tokenized it four times);
    *   - uni/bi/tri TYPE counts for both models come from ONE explode
    *     each, with the in-domain model as a conditional sum — counting
    *     `when(inDom, 1)` over the full explode is row-for-row the count
    *     over the filtered explode, so both models' tables carry the
    *     exact values the two [[trigramModelCounts]] calls produced;
    *   - the six model tables are EAGERLY checkpointed: they are
    *     type-level (vocab-sized) while each scoring ladder references
    *     its cf/cvw/cuvw several times (first/second/trigram branches,
    *     derived context sums, totals) — left lazy, every reference
    *     re-ran the whole corpus count pipeline, which is where the
    *     benched cost of q_moore_lewis_select actually lived.
    *
    * The ladders then consume identical count VALUES through the same
    * [[trigramScoreFromToks]] arithmetic, so every micro-quantized term
    * is bit-identical to the generic form — same oracle. */
  def crossEntropySelectSelf(docs: DataFrame, idCol: String, textCol: String,
                             inDom: Column,
                             lambda3: Double = 0.5,
                             lambda2: Double = 0.3): DataFrame = {
    val (out0, toks, modelCkpts) = crossEntropySelectSelfLazy(docs, idCol,
      textCol, inDom, lambda3, lambda2)
    val out = out0.localCheckpoint(true)
    toks.unpersist()
    // release the three dual-count checkpoints now that the result is
    // snapped (r15 ADVICE: they accumulated in block-manager storage
    // across repeated calls in a long-lived session)
    modelCkpts.foreach(graft.ops.ApproxDedup.freeCheckpoint)
    out
  }

  /** The lazy pipeline behind [[crossEntropySelectSelf]] (pre-checkpoint),
    * returning the persisted token table and the checkpointed dual model
    * tables — split out so the plan dump can show the fused shape (the
    * public entry's eager checkpoint hides it behind a LogicalRDD; the
    * repetitionMatrixLazy precedent) and so the caller can release every
    * block.
    *
    * r16: the two per-model scoring ladders are FUSED into one dual-model
    * pass (the r15 deferred item). Each model table carries BOTH counts
    * (`*_out` from count(*), `*_in` from the conditional sum) in one row,
    * and a single ladder computes both logprobs per position. Equivalence
    * to the two [[trigramScoreFromToks]] passes is per-row arithmetic
    * independence: a LEFT join against the filtered in-model table (miss ⇒
    * null count) reads the same values as the dual row's nullable in-count
    * (row absent ⇒ null, row present with no in-domain occurrences ⇒ null,
    * since sum(when(__in,1)) over zero matches is null, and the filtered
    * table kept exactly the __inc-non-null rows); every downstream double
    * is the same expression over the same values. Pinned against the
    * generic two-model composition in OptimizationEquivalenceSpec. */
  private[graft] def crossEntropySelectSelfLazy(
      docs: DataFrame, idCol: String, textCol: String, inDom: Column,
      lambda3: Double, lambda2: Double): (DataFrame, DataFrame, Seq[DataFrame]) = {
    require(lambda3 > 0.0 && lambda2 > 0.0 && lambda3 + lambda2 < 1.0,
      "need lambda3, lambda2 > 0 with lambda3 + lambda2 < 1")
    val lam23 = lambda3 + lambda2
    val lamU  = 1.0d - lambda3 - lambda2
    // NOT spread before the persist: spreading this table was measured
    // net-negative in r15 (~13 lazy subtrees each fanned its partitioning
    // into every stage) and re-tested in r16 against the fused dual
    // ladder, where it stayed net-negative: 4.90 s spread vs 4.41 s
    // unspread in an adjacent-window A/B (OPTIMIZATION_r16.md §4)
    val toks = docs
        .select(col(idCol), inDom.as("__in"),
          filter(TextFns.tokens(lower(col(textCol))),
            t => length(t) > 0).as("toks"))
        .where(size(col("toks")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dual count tables, eagerly checkpointed (type-level / vocab-sized;
    // the ladder references each several times — see the r15 scaladoc)
    def dual(df: DataFrame, keys: Seq[String], cnt: String): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(s"${cnt}_out"),
          sum(when(col("__in"), 1L)).as(s"${cnt}_in"))
        .localCheckpoint(true)
    val dcf = dual(
      toks.select(col("__in"), explode(col("toks")).as("token")),
      Seq("token"), "cf")
    val dcvw = dual(
      toks.select(col("__in"), explode(lmPairs).as("p"))
        .select(col("__in"), col("p.v").as("v"), col("p.w").as("w")),
      Seq("v", "w"), "vw")
    val dcuvw = dual(
      toks.select(col("__in"), explode(lmTriples).as("p"))
        .select(col("__in"), col("p.u").as("u"), col("p.v").as("v"),
          col("p.w").as("w")),
      Seq("u", "v", "w"), "uvw")
    // ONE scoring ladder for BOTH models (join count halved vs a+b):
    // context sums and totals derive per side; sum() skips nulls, so the
    // in-side context sums cover exactly the filtered in-table's rows
    val cv = dcvw.groupBy(col("v"))
      .agg(sum(col("vw_out")).as("cv_out"), sum(col("vw_in")).as("cv_in"))
    val cuv = dcuvw.groupBy(col("u"), col("v"))
      .agg(sum(col("uvw_out")).as("cuv_out"), sum(col("uvw_in")).as("cuv_in"))
    // in-side vocab = rows whose in-count is non-null (≡ the filtered
    // table's row count); count(col) counts non-nulls
    val totals = dcf.agg(
      sum(col("cf_out")).as("tot_t_out"), count(lit(1)).as("tot_v_out"),
      sum(col("cf_in")).as("tot_t_in"), count(col("cf_in")).as("tot_v_in"))
    val cfW = dcf.withColumnRenamed("token", "w")
    def floorTerm(s: String) = (coalesce(col(s"cf_$s"), lit(0L)) + lit(1.0d)) /
      (col(s"tot_t_$s") + col(s"tot_v_$s")).cast("double")
    def bgTerm(s: String) = coalesce(
      col(s"vw_$s").cast("double") / col(s"cv_$s").cast("double"), lit(0.0d))
    def triTerm(s: String) = coalesce(
      col(s"uvw_$s").cast("double") / col(s"cuv_$s").cast("double"), lit(0.0d))
    val scored = toks.select(col(idCol), col("toks"))
    val tf = scored.select(col(idCol), explode(col("toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nt = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("n_tokens"))
    def lw0(s: String) =
      round(log(floorTerm(s)) * lit(1e6)).cast("long").as(s"lw0_$s")
    val first = scored.select(col(idCol), element_at(col("toks"), 1).as("token"))
      .join(dcf, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), lw0("in"), lw0("out"))
    def lw2(s: String) =
      round(log(lit(lam23) * bgTerm(s) + lit(lamU) * floorTerm(s)) * lit(1e6))
        .cast("long").as(s"lw2_$s")
    val second = scored.where(size(col("toks")) >= 2)
      .select(col(idCol), element_at(col("toks"), 1).as("v"),
        element_at(col("toks"), 2).as("w"))
      .join(dcvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .join(cfW, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), lw2("in"), lw2("out"))
    val tg = scored.select(col(idCol), explode(lmTriples).as("p"))
      .select(col(idCol), col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .groupBy(col(idCol), col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("tf"))
    def cMicro(s: String) = (col("tf") *
      round(log(
        lit(lambda3) * triTerm(s) + lit(lambda2) * bgTerm(s) +
        lit(lamU) * floorTerm(s)) * lit(1e6)).cast("long")).as(s"c_$s")
    val tsum = tg
      .join(dcuvw, Seq("u", "v", "w"), "left")
      .join(cuv, Seq("u", "v"), "left")
      .join(dcvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .join(cfW, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), cMicro("in"), cMicro("out"))
      .groupBy(col(idCol))
      .agg(sum(col("c_in")).as("tri_in"), sum(col("c_out")).as("tri_out"))
    def lp(s: String) =
      (col(s"lw0_$s") + coalesce(col(s"lw2_$s"), lit(0L)) +
        coalesce(col(s"tri_$s"), lit(0L))).as(s"lp_${s}_micro")
    val out = nt.join(first, Seq(idCol))
      .join(second, Seq(idCol), "left")
      .join(tsum, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), lp("in"), lp("out"))
      .withColumn("ce_delta",
        (col("lp_out_micro") - col("lp_in_micro")).cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)))
    (out, toks, Seq(dcf, dcvw, dcuvw))
  }

  /** Token BURSTINESS (Church & Gale 1995): variance-to-mean ratio of a
    * token's per-document count across the corpus. A Poisson-scattered
    * token has VMR ≈ 1 (function words — the data-driven stopword list);
    * content words clump into few documents and score ≫ 1. The
    * complement of [[pmiPairs]]' within-doc view: burstiness is the
    * across-doc dispersion that frequency alone cannot see.
    *
    * Exact: VMR = ((n·Σtf² − (Σtf)²)) / (n·Σtf) over per-doc counts tf
    * (absent = 0 contributes nothing to either sum) — a pure integer
    * rational, reported floor-micro with DECIMAL(38,0) widening.
    *
    * Scale: one (doc, token) count collapse, one token-keyed rollup
    * restricted to the broadcast top-vocabK vocabulary, a 1-row doc
    * count broadcast — text never shuffles; output capped at top-k by
    * (vmr, token). */
  def tokenBurstiness(docs: DataFrame, idCol: String, textCol: String,
                      vocabK: Int, k: Int): DataFrame = {
    require(vocabK >= 1 && k >= 1, "bad burstiness parameters")
    val toks = lmToks(docs, idCol, textCol)
    val tf = toks.select(col(idCol), explode(col("toks")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
      .orderBy(col("cf").desc, col("token")).limit(vocabK)
      .select(col("token"))
    val nd = toks.agg(count(lit(1)).as("n"))
    tf.join(broadcast(vocab), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("s"),
        sum(col("tf") * col("tf")).as("q"))
      .crossJoin(broadcast(nd))
      .select(col("token"), col("df"), col("s").as("tf_total"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0))" +
          " * s) * 1000000 div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)")
          .as("vmr_micro"))
      .orderBy(col("vmr_micro").desc, col("token"))
      .limit(k)
  }

  /** DuckDB oracle replaying [[tokenBurstiness]]. */
  def tokenBurstinessOracleSql(table: String, idCol: String, textCol: String,
                               vocabK: Int, k: Int): String =
    s"""WITH toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tf AS (SELECT $idCol, token, CAST(count(*) AS BIGINT) AS tf FROM (
           SELECT $idCol, unnest(toks) AS token FROM t2) u GROUP BY 1, 2),
       vocab AS (SELECT token FROM (
           SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
           ORDER BY cf DESC, token LIMIT $vocabK)),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2),
       r AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS s, CAST(sum(tf * tf) AS BIGINT) AS q
             FROM tf WHERE token IN (SELECT token FROM vocab) GROUP BY 1)
       SELECT token, df, s AS tf_total,
         CAST((CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) * 1000000
           // (CAST(n AS HUGEINT) * s) AS BIGINT) AS vmr_micro
       FROM r, nd
       ORDER BY vmr_micro DESC, token LIMIT $k"""

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank over
    * the token co-occurrence graph: adjacent-token pairs (both endpoints
    * in the top-`vocabK` corpus vocabulary) form undirected edges, the
    * fixed-iteration integer-quantized [[graft.ops.Graph.pageRankMicro]]
    * ranks the vertices, and the top `k` tokens by rank are the corpus
    * keyword list — the unsupervised tagger a curation run uses to label
    * shards without a model.
    *
    * Scale: vocabulary prune FIRST — the edge list semi-joins both
    * endpoints against the broadcast ≤ vocabK-row vocab before the
    * distinct, so the graph is bounded by vocabK² regardless of corpus
    * size, and each PageRank pass is one bounded join + one hash
    * aggregate. Determinism: vocab ties break token-ascending; per-edge
    * rank contributions quantize to micro before the sum (the PageRank
    * discipline), so the oracle unrolls identical steps. */
  /** The adjacent-token co-occurrence edge list pruned to the top-`vocabK`
    * vocabulary — TextRank's graph, exposed for the graph-analytics
    * entries that want a DENSE deterministic token graph (triangle
    * probes) next to the sparse near-dup one. Tokens prune to the
    * broadcast vocab BEFORE the distinct, so the edge set is ≤ vocabK²/2
    * regardless of corpus size. */
  def tokenCoocEdges(docs: DataFrame, idCol: String, textCol: String,
                     vocabK: Int): DataFrame = {
    require(vocabK >= 2, "need at least two vocabulary entries")
    val toks = lmToks(docs, idCol, textCol)
    val vocab = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(vocabK)
      .select(col("token"))
    toks.select(explode(lmPairs).as("p"))
      .select(col("p.v").as("a"), col("p.w").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"))
      .join(broadcast(vocab.select(col("token").as("id1"))),
        Seq("id1"), "left_semi")
      .join(broadcast(vocab.select(col("token").as("id2"))),
        Seq("id2"), "left_semi")
      .distinct()
  }

  def textRankKeywords(docs: DataFrame, idCol: String, textCol: String,
                       vocabK: Int, iters: Int, k: Int,
                       damping: Double = 0.85): DataFrame = {
    require(vocabK >= 2 && k >= 1, "bad TextRank parameters")
    val pairs = tokenCoocEdges(docs, idCol, textCol, vocabK)
    Graph.pageRankMicro(pairs, "id1", "id2", iters, damping)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(k)
      .select(col("node").as("token"), col("rank_micro"))
  }

  /** The shared token-graph CTEs (→ `pr(id1, id2)`), the SQL twin of
    * [[tokenCoocEdges]]. */
  private def tokenCoocCtes(table: String, idCol: String, textCol: String,
                            vocabK: Int): String =
    s"""toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tokc AS (SELECT token, count(*) AS c FROM (
           SELECT unnest(toks) AS token FROM t2) u GROUP BY 1),
       vocab AS (SELECT token FROM (
           SELECT token, c FROM tokc ORDER BY c DESC, token LIMIT $vocabK)),
       bg AS (SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 1] AS b
              FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                    FROM t2 WHERE len(toks) >= 2) g),
       pr AS (SELECT DISTINCT least(a, b) AS id1, greatest(a, b) AS id2
              FROM bg WHERE a <> b
                AND least(a, b) IN (SELECT token FROM vocab)
                AND greatest(a, b) IN (SELECT token FROM vocab))"""

  /** DuckDB oracle replaying the STREAMING token-graph triangle probe:
    * edges split stored/arriving by md5-hash parity; arriving edges close
    * triangles against the stored adjacency only. */
  def streamingTriangleProbeOracleSql(table: String, idCol: String,
                                      textCol: String, vocabK: Int): String =
    s"""WITH ${tokenCoocCtes(table, idCol, textCol, vocabK)},
       hs AS (SELECT id1, id2,
           CAST('0x' || substring(md5(id1 || '#' || id2), 1, 15) AS BIGINT)
             % 2 AS par
         FROM pr),
       st AS (SELECT id1 AS a, id2 AS b FROM hs WHERE par = 0),
       arr AS (SELECT id1 AS a, id2 AS b FROM hs WHERE par = 1),
       ad AS (SELECT a AS x, b AS y FROM st UNION ALL SELECT b, a FROM st)
       SELECT r.a, r.b, d1.y AS c
       FROM arr r JOIN ad d1 ON d1.x = r.a
                  JOIN ad d2 ON d2.x = r.b AND d2.y = d1.y
       WHERE d1.y <> r.a AND d1.y <> r.b
       ORDER BY r.a, r.b, c"""

  /** DuckDB oracle replaying [[textRankKeywords]] — the same vocab prune,
    * edge construction, and `iters` unrolled PageRank steps with
    * identical integer quantization. */
  def textRankOracleSql(table: String, idCol: String, textCol: String,
                        vocabK: Int, iters: Int, k: Int,
                        damping: Double = 0.85): String = {
    val d = damping.toString
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT e.dst AS node,
             CAST(round((1.0 - $d) * 1000000.0 / nn.n) AS BIGINT)
               + CAST(sum(CAST(round($d * r.r / dg.deg) AS BIGINT)) AS BIGINT) AS r
           FROM ed e JOIN r${i - 1} r ON e.src = r.node
                     JOIN dg ON e.src = dg.src
                     CROSS JOIN nn
           GROUP BY e.dst, nn.n)"""
    }.mkString(",\n       ")
    s"""WITH toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tokc AS (SELECT token, count(*) AS c FROM (
           SELECT unnest(toks) AS token FROM t2) u GROUP BY 1),
       vocab AS (SELECT token FROM (
           SELECT token, c FROM tokc ORDER BY c DESC, token LIMIT $vocabK)),
       bg AS (SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 1] AS b
              FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                    FROM t2 WHERE len(toks) >= 2) g),
       pr AS (SELECT DISTINCT least(a, b) AS id1, greatest(a, b) AS id2
              FROM bg WHERE a <> b
                AND least(a, b) IN (SELECT token FROM vocab)
                AND greatest(a, b) IN (SELECT token FROM vocab)),
       ed AS (SELECT id1 AS src, id2 AS dst FROM pr
              UNION SELECT id2, id1 FROM pr),
       dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       nn AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM ed),
       r0 AS (SELECT s.src AS node, CAST(round(1000000.0 / nn.n) AS BIGINT) AS r
              FROM (SELECT DISTINCT src FROM ed) s CROSS JOIN nn),
       $iterCtes
       SELECT node AS token, r AS rank_micro FROM r$iters
       ORDER BY rank_micro DESC, token LIMIT $k"""
  }

  /** WEIGHTED TextRank — the paper's actual §2.2 form: edges carry the
    * adjacent-pair CO-OCCURRENCE COUNT and each neighbor contributes in
    * proportion to its weight share ([[graft.ops.Graph.pageRankWeightedMicro]]).
    * The unweighted [[textRankKeywords]] treats one collocation and a
    * hundred as the same edge; this one doesn't. Same vocabK² graph
    * bound, same quantize-before-sum determinism. */
  def textRankKeywordsWeighted(docs: DataFrame, idCol: String,
                               textCol: String, vocabK: Int, iters: Int,
                               k: Int, damping: Double = 0.85): DataFrame = {
    require(vocabK >= 2 && k >= 1, "bad TextRank parameters")
    val toks = lmToks(docs, idCol, textCol)
    val vocab = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(vocabK)
      .select(col("token"))
    val pairs = toks.select(explode(lmPairs).as("p"))
      .select(col("p.v").as("a"), col("p.w").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"))
      .join(broadcast(vocab.select(col("token").as("id1"))),
        Seq("id1"), "left_semi")
      .join(broadcast(vocab.select(col("token").as("id2"))),
        Seq("id2"), "left_semi")
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("w"))
    Graph.pageRankWeightedMicro(pairs, "id1", "id2", "w", iters, damping)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(k)
      .select(col("node").as("token"), col("rank_micro"))
  }

  /** DuckDB oracle replaying [[textRankKeywordsWeighted]]. */
  def textRankWeightedOracleSql(table: String, idCol: String,
                                textCol: String, vocabK: Int, iters: Int,
                                k: Int, damping: Double = 0.85): String = {
    val d = damping.toString
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT e.dst AS node,
             CAST(round((1.0 - $d) * 1000000.0 / nn.n) AS BIGINT)
               + CAST(sum(CAST(round($d * r.r * e.w / ws.wt) AS BIGINT)) AS BIGINT) AS r
           FROM e2 e JOIN r${i - 1} r ON e.src = r.node
                     JOIN ws ON e.src = ws.src
                     CROSS JOIN nn
           GROUP BY e.dst, nn.n)"""
    }.mkString(",\n       ")
    s"""WITH toks AS (
         SELECT $idCol,
           list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
             t -> length(t) > 0) AS toks
         FROM $table),
       t2 AS (SELECT $idCol, toks FROM toks WHERE len(toks) > 0),
       tokc AS (SELECT token, count(*) AS c FROM (
           SELECT unnest(toks) AS token FROM t2) u GROUP BY 1),
       vocab AS (SELECT token FROM (
           SELECT token, c FROM tokc ORDER BY c DESC, token LIMIT $vocabK)),
       bg AS (SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 1] AS b
              FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                    FROM t2 WHERE len(toks) >= 2) g),
       prw AS (SELECT least(a, b) AS id1, greatest(a, b) AS id2,
                 CAST(count(*) AS BIGINT) AS w
               FROM bg WHERE a <> b
                 AND least(a, b) IN (SELECT token FROM vocab)
                 AND greatest(a, b) IN (SELECT token FROM vocab)
               GROUP BY 1, 2),
       ed AS (SELECT id1 AS src, id2 AS dst, w FROM prw
              UNION ALL SELECT id2, id1, w FROM prw),
       e2 AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
              FROM ed GROUP BY 1, 2),
       ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wt FROM e2 GROUP BY 1),
       nn AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM e2),
       r0 AS (SELECT s.src AS node, CAST(round(1000000.0 / nn.n) AS BIGINT) AS r
              FROM (SELECT DISTINCT src FROM e2) s CROSS JOIN nn),
       $iterCtes
       SELECT node AS token, r AS rank_micro FROM r$iters
       ORDER BY rank_micro DESC, token LIMIT $k"""
  }

  /** DuckDB oracle replaying [[unigramLogProb]] bit-for-bit. */
  def unigramLogProbOracleSql(table: String, idCol: String,
                              textCol: String): String =
    s"""WITH tok AS (
         SELECT $idCol, tok FROM (
           SELECT $idCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS tok
           FROM $table) t
         WHERE length(tok) > 0),
       tf AS (SELECT $idCol, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
       cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t, count(*) AS v FROM cf),
       lw AS (SELECT tok,
           CAST(round(ln((cf + 1.0) / CAST(t + v AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS lw_micro
         FROM cf, tot),
       agg AS (SELECT tf.$idCol,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * lw_micro) AS BIGINT) AS logprob_micro
         FROM tf JOIN lw USING (tok) GROUP BY 1)
       SELECT $idCol, n_tokens, logprob_micro,
         CAST(-logprob_micro AS DOUBLE) /
           (CAST(n_tokens AS DOUBLE) * 1000000.0) AS xent
       FROM agg ORDER BY $idCol"""

  /** fastText-style hashed linear quality classifier — INFERENCE over a
    * frozen model (Joulin et al. 2016; the shape CCNet/RedPajama run to
    * score web documents against a reference corpus). Features are hashed
    * word unigrams + bigrams folded into `buckets` buckets; the per-bucket
    * weight table is what a trained model ships, here derived
    * deterministically from md5 so the DuckDB oracle replays inference
    * end-to-end (swap a real table in freely — the plan is identical).
    *
    * Plan shape at 100 TB: ONE explode → bucket projection over the scan,
    * a BROADCAST join against the B-row weight table (the corpus never
    * shuffles for the model), and one map-side-combined per-doc aggregate.
    * Weights are integer micro-units summed as LONG (order-independent,
    * oracle-exact — the [[unigramLogProb]] discipline); `score` is one
    * final division.
    */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    val spark = docs.sparkSession
    // tokenize ONCE into a staged column; unigrams and bigrams both read
    // the shared array instead of re-splitting the text
    val tok = docs.select(col(idCol),
      TextFns.tokens(lower(col(textCol))).as("__toks"))
    val bigrams = when(size(col("__toks")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("__toks")) - lit(1)),
        i => concat_ws(" ", slice(col("__toks"), i, lit(2)))))
    val feats = tok.select(col(idCol),
        explode(concat(col("__toks"), bigrams)).as("feat"))
      .where(length(col("feat")) > 0)
      .select(col(idCol),
        pmod(TextFns.md5Long60(col("feat")), lit(buckets.toLong)).as("bucket"))
    val weights = spark.range(buckets.toLong).select(col("id").as("bucket"),
      (pmod(TextFns.md5Long60(concat(lit("w"), col("id").cast("string"))),
          lit(2001L)) - lit(1000L)).as("w_micro"))
    feats.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
           sum(col("w_micro")).as("score_micro"))
      .withColumn("score",
        col("score_micro").cast("double") /
          (col("n_feats").cast("double") * lit(1000.0)))
      .withColumn("keep", col("score_micro") > lit(0L))
  }

  /** DuckDB oracle replaying [[hashedLinearScore]] bit-for-bit. */
  def hashedLinearScoreOracleSql(table: String, idCol: String,
                                 textCol: String, buckets: Int = 4096): String =
    s"""WITH toks AS (
         SELECT $idCol, string_split_regex(trim(lower($textCol)), '\\s+') AS t
         FROM $table),
       f AS (
         SELECT $idCol, f FROM (
           SELECT $idCol, unnest(list_concat(t,
             CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(generate_series(1, len(t)-1),
               i -> t[i] || ' ' || t[i+1]) END)) AS f
           FROM toks) q
         WHERE length(f) > 0),
       b AS (SELECT $idCol,
           CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % $buckets AS bucket
         FROM f),
       w AS (SELECT bk AS bucket,
           CAST(('0x' || substring(md5('w' || CAST(bk AS VARCHAR)), 1, 15)) AS BIGINT)
             % 2001 - 1000 AS w_micro
         FROM (SELECT unnest(generate_series(0, ${buckets - 1})) AS bk)),
       agg AS (SELECT $idCol, count(*) AS n_feats,
           CAST(sum(w_micro) AS BIGINT) AS score_micro
         FROM b JOIN w USING (bucket) GROUP BY 1)
       SELECT $idCol, n_feats, score_micro,
         CAST(score_micro AS DOUBLE) / (CAST(n_feats AS DOUBLE) * 1000.0) AS score,
         (score_micro > 0) AS keep
       FROM agg ORDER BY $idCol"""

  /** CCNet head/middle/tail buckets (Wenzek et al. 2020 §4): per-language
    * terciles of the [[unigramLogProb]] cross-entropy — the classic
    * quality gradation CCNet publishes its corpus in (head = lowest
    * perplexity). ONE ntile window per language partition over the fitted
    * scores; ties break on doc id, so the split is deterministic and the
    * oracle replays it exactly. Scale: the window shuffles (doc, xent)
    * pairs only — never text — keyed by language.
    */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String): DataFrame = {
    val lm = unigramLogProb(docs, idCol, textCol)
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("xent").asc, col(idCol).asc)
    docs.select(col(idCol), col(langCol))
      .join(lm.select(col(idCol), col("xent")), Seq(idCol))
      .withColumn("bucket", ntile(3).over(w))
      .withColumn("bucket_label",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail"))
      .select(col(idCol), col(langCol), col("xent"),
        col("bucket").cast("int").as("bucket"), col("bucket_label"))
  }

  /** DuckDB oracle replaying [[ccnetBuckets]] — the [[unigramLogProb]]
    * chain plus the same deterministic ntile. */
  def ccnetBucketsOracleSql(table: String, idCol: String, textCol: String,
                            langCol: String): String =
    s"""WITH tok AS (
         SELECT $idCol, tok FROM (
           SELECT $idCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS tok
           FROM $table) t
         WHERE length(tok) > 0),
       tf AS (SELECT $idCol, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
       cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t, count(*) AS v FROM cf),
       lw AS (SELECT tok,
           CAST(round(ln((cf + 1.0) / CAST(t + v AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS lw_micro
         FROM cf, tot),
       agg AS (SELECT tf.$idCol,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * lw_micro) AS BIGINT) AS logprob_micro
         FROM tf JOIN lw USING (tok) GROUP BY 1),
       x AS (SELECT $idCol,
           CAST(-logprob_micro AS DOUBLE) /
             (CAST(n_tokens AS DOUBLE) * 1000000.0) AS xent
         FROM agg),
       b AS (
         SELECT d.$idCol, d.$langCol, x.xent,
           CAST(ntile(3) OVER (PARTITION BY d.$langCol
             ORDER BY x.xent ASC, d.$idCol ASC) AS INT) AS bucket
         FROM $table d JOIN x USING ($idCol))
       SELECT $idCol, $langCol, xent, bucket,
         CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
           ELSE 'tail' END AS bucket_label
       FROM b ORDER BY $idCol"""

  /** Cross-source overlap matrix — corpus diagnostics: shingle-set Jaccard
    * between every pair of sources ("how much do my crawls/dumps overlap
    * before I mix them?"). Shingles hash to 60-bit longs and dedupe to
    * (source, h) rows, so the self-join on h fans out at most |sources| per
    * key and the output is |sources|² rows regardless of corpus size — a
    * corpus-scale input reduced to a cheap bounded join.
    */
  def sourceOverlap(docs: DataFrame, textCol: String, groupCol: String,
                    shingleSize: Int): DataFrame = {
    val sh = docs.select(col(groupCol).as("src"),
        explode(array_distinct(
          TextFns.wordShingles(col(textCol), shingleSize))).as("__s"))
      .select(col("src"), TextFns.md5Long60(col("__s")).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val common = sh.withColumnRenamed("src", "s1")
      .join(sh.withColumnRenamed("src", "s2"), Seq("h"))
      .where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("src").as("s1"), col("n").as("n1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("src").as("s2"), col("n").as("n2"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** DuckDB oracle replaying [[sourceOverlap]] exactly. */
  def sourceOverlapOracleSql(table: String, textCol: String, groupCol: String,
                             shingleSize: Int): String = {
    val n = shingleSize
    s"""WITH sh0 AS (
         SELECT $groupCol AS src,
           list_distinct(CASE WHEN len(t) < $n THEN CAST([] AS VARCHAR[])
             ELSE list_transform(generate_series(1, len(t)-${n - 1}),
               i -> array_to_string(t[i:i+${n - 1}], ' ')) END) AS shl
         FROM (SELECT $groupCol, string_split_regex(trim($textCol), '\\s+') AS t FROM $table)),
       sh AS (
         SELECT DISTINCT src,
           CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS h
         FROM (SELECT src, unnest(shl) AS s FROM sh0)),
       sz AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
       c AS (
         SELECT a.src AS s1, b.src AS s2, count(*) AS n_common
         FROM sh a JOIN sh b USING (h) WHERE a.src < b.src GROUP BY 1, 2)
       SELECT s1, s2, n_common,
         CAST(n_common AS DOUBLE) / CAST(z1.n + z2.n - n_common AS DOUBLE) AS jaccard
       FROM c JOIN sz z1 ON z1.src = c.s1 JOIN sz z2 ON z2.src = c.s2
       ORDER BY s1, s2"""
  }

  /** Document chunking — the doc → training-sequence step: sliding token
    * windows of `chunkTokens` advancing by `stride` (overlap = chunkTokens −
    * stride, the standard long-document treatment before packing). Emits
    * (doc, chunk_idx, chunk_text, n_chunk_tokens); the final window may be
    * short, and every document yields at least one chunk.
    *
    * Pure projection + posexplode over the scan — ZERO shuffles at any
    * corpus size; output rows ∝ tokens/stride. Composes with
    * [[packChunks]] downstream.
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      "need 1 <= stride <= chunkTokens")
    val tok = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    // ceil(n / stride) starts, at least one (integer math, oracle-exact)
    val nStarts = greatest(expr(s"(size(__toks) + ${stride - 1}) div $stride"),
      lit(1L))
    tok.select(col(idCol), n.as("__n"),
        posexplode(transform(sequence(lit(0L), nStarts - 1),
          i => concat_ws(" ",
            slice(col("__toks"), (i * stride + 1).cast("int"), lit(chunkTokens))))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col").as("chunk_text"),
        greatest(least(lit(chunkTokens.toLong),
            col("__n").cast("long") - col("pos") * stride), lit(0L))
          .as("n_chunk_tokens"))
  }

  /** DuckDB oracle replaying [[chunkDocs]] exactly. */
  def chunkDocsOracleSql(table: String, idCol: String, textCol: String,
                         chunkTokens: Int, stride: Int): String =
    s"""WITH t AS (
         SELECT $idCol, string_split_regex(trim($textCol), '\\s+') AS toks
         FROM $table),
       s AS (
         SELECT $idCol, toks,
           unnest(generate_series(0,
             CAST(greatest((len(toks) + ${stride - 1}) // $stride, 1) AS BIGINT) - 1)) AS ci
         FROM t)
       SELECT $idCol, CAST(ci AS INT) AS chunk_idx,
         array_to_string(toks[(ci*$stride+1):(ci*$stride+$chunkTokens)], ' ') AS chunk_text,
         CAST(greatest(least($chunkTokens, len(toks) - ci*$stride), 0) AS BIGINT) AS n_chunk_tokens
       FROM s ORDER BY $idCol, chunk_idx"""

  /** The 8-word stopword test set of the Gopher rules (Rae et al. 2021,
    * §A1.1): a document counts a stopword once per DISTINCT member present. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rule composite document quality filter (Rae et al. 2021 §A1.1;
    * the C4/RefinedWeb rule family): per-document structural signals plus a
    * keep decision and a deterministic comma-joined reject-reason string.
    *
    * Signals and default bounds (Gopher's):
    *   - word count ∈ [minWords, maxWords] (50 … 100,000)
    *   - mean word length ∈ [3, 10]
    *   - ('#' + '…'-as-'...') symbols per word < 0.1
    *   - lines starting with a bullet ('-'/'*') < 90 %
    *   - lines ending in '...' < 30 %
    *   - words containing an alphabetic character > 80 %
    *   - ≥ 2 distinct members of [[gopherStopwords]]
    *
    * Everything is a pure codegen'd scan expression — zero shuffle at any
    * scale — and every signal is integer counting plus ONE division, so
    * signals and the decision replay bit-for-bit in an ANSI-SQL oracle.
    * (The symbol ratio uses the integer-exact form (3·#hash + len∆)/3·words,
    * algebraically identical to (#hash + #ellipsis)/words.)
    */
  def gopherQualityFilter(docs: DataFrame, idCol: String, textCol: String,
                          minWords: Long = 50L,
                          maxWords: Long = 100000L,
                          minStopwords: Int = 2): DataFrame = {
    // the nine integer counters come from ONE generated kernel pass
    // (graft.expressions.GopherSignals — the composed HOF form paid
    // interpreted lambda dispatch per token × signal); ratios derive with
    // the same casts/divisions as before, so signals are value-identical
    // (GopherSignalsSpec asserts equality against the composed form)
    val sig = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.GopherSignals(
        org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)),
        gopherStopwords.toArray))
    val base = docs.withColumn("__g", sig).select(col(idCol),
      col("__g")(0).as("n_words"),
      (col("__g")(1).cast("double") / col("__g")(0).cast("double")).as("mean_word_len"),
      ((lit(3L) * col("__g")(2) + col("__g")(3)).cast("double") /
        (lit(3L) * col("__g")(0)).cast("double")).as("symbol_ratio"),
      (col("__g")(5).cast("double") / col("__g")(4).cast("double")).as("bullet_ratio"),
      (col("__g")(6).cast("double") / col("__g")(4).cast("double")).as("ellipsis_ratio"),
      (col("__g")(7).cast("double") / col("__g")(0).cast("double")).as("alpha_ratio"),
      col("__g")(8).as("n_stopwords"))
    val fails: Seq[(String, Column)] = Seq(
      "word_count"       -> (col("n_words") < minWords || col("n_words") > maxWords),
      "mean_word_length" -> (col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0),
      "symbol_ratio"     -> (col("symbol_ratio") >= 0.1),
      "bullet_lines"     -> (col("bullet_ratio") >= 0.9),
      "ellipsis_lines"   -> (col("ellipsis_ratio") >= 0.3),
      "alpha_words"      -> (col("alpha_ratio") <= 0.8),
      "stopwords"        -> (col("n_stopwords") < minStopwords))
    base
      .withColumn("keep", (!fails.map(_._2).reduce(_ || _)).cast("int"))
      .withColumn("reject_reasons",
        concat_ws(",", fails.map { case (n, c) => when(c, lit(n)) }: _*))
  }

  /** The signal CTEs of the Gopher oracle (t0 + sig), shared by the
    * standalone oracle and composed-pipeline oracles. */
  def gopherSignalsCte(table: String, idCol: String, textCol: String): String = {
    val stops = gopherStopwords.map(s => s"'$s'").mkString("[", ",", "]")
    s"""t0 AS (
         SELECT $idCol, $textCol AS text, trim($textCol) AS txt,
           string_split_regex(trim($textCol), '\\s+') AS toks,
           string_split($textCol, chr(10)) AS lines
         FROM $table),
       sig AS (
         SELECT $idCol,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_word_len,
           CAST(3 * (length(txt) - length(replace(txt, '#', '')))
             + (length(txt) - length(regexp_replace(txt, '\\.\\.\\.', '', 'g'))) AS DOUBLE)
             / CAST(3 * len(toks) AS DOUBLE) AS symbol_ratio,
           CAST(len(list_filter(lines, l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS DOUBLE)
             / CAST(len(lines) AS DOUBLE) AS bullet_ratio,
           CAST(len(list_filter(lines, l -> ends_with(trim(l), '...'))) AS DOUBLE)
             / CAST(len(lines) AS DOUBLE) AS ellipsis_ratio,
           CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS alpha_ratio,
           CAST(len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))), $stops)) AS BIGINT) AS n_stopwords
         FROM t0)"""
  }

  /** The reject condition over a `sig` row (composes with
    * [[gopherSignalsCte]]). */
  def gopherRejectSql(minWords: Long = 50L, maxWords: Long = 100000L,
                      minStopwords: Int = 2): String =
    s"""(n_words < $minWords OR n_words > $maxWords)
       OR (mean_word_len < 3.0 OR mean_word_len > 10.0)
       OR symbol_ratio >= 0.1 OR bullet_ratio >= 0.9
       OR ellipsis_ratio >= 0.3 OR alpha_ratio <= 0.8
       OR n_stopwords < $minStopwords"""

  /** DuckDB oracle replaying [[gopherQualityFilter]] signal-for-signal. */
  def gopherQualityFilterOracleSql(table: String, idCol: String,
                                   textCol: String, minWords: Long = 50L,
                                   maxWords: Long = 100000L): String =
    s"""WITH ${gopherSignalsCte(table, idCol, textCol)}
       SELECT $idCol, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         ellipsis_ratio, alpha_ratio, n_stopwords,
         CAST(CASE WHEN ${gopherRejectSql(minWords, maxWords)}
           THEN 0 ELSE 1 END AS INT) AS keep,
         concat_ws(',',
           CASE WHEN n_words < $minWords OR n_words > $maxWords THEN 'word_count' END,
           CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_length' END,
           CASE WHEN symbol_ratio >= 0.1 THEN 'symbol_ratio' END,
           CASE WHEN bullet_ratio >= 0.9 THEN 'bullet_lines' END,
           CASE WHEN ellipsis_ratio >= 0.3 THEN 'ellipsis_lines' END,
           CASE WHEN alpha_ratio <= 0.8 THEN 'alpha_words' END,
           CASE WHEN n_stopwords < 2 THEN 'stopwords' END) AS reject_reasons
       FROM sig ORDER BY $idCol"""

  /** The FULL Gopher in-document repetition matrix (Rae et al. 2021 §A1.1):
    * per document, the fraction of characters covered by the most frequent
    * word n-gram for n ∈ `topNs` (default 2–4) and by n-grams occurring
    * more than once for n ∈ `dupNs` (default 5–10) — the nine repetition
    * signals the paper filters on, beyond the single-bigram summary of
    * [[repetitionStats]].
    *
    * Character coverage is POSITION-EXACT and overlap-safe for both signal
    * families (the paper: "taking care not to count characters multiple
    * times where n-grams overlap"): an occurrence covers its n token
    * positions, distinct covered positions weight by token length.
    * Inter-token separators are excluded on both engine and oracle sides —
    * the documented divergence from counting raw bytes.
    *
    * Shape per n: one explode → per-(doc, gram) count (map-side combined)
    * → semi-join back to occurrences → distinct covered positions → one
    * per-doc sum. Grams travel as md5 hashes (narrow keys, oracle-
    * replayable); signals union into long format (doc_id, signal,
    * covered_chars, total_chars, frac). All shuffles key on (doc, hash) or
    * doc — nothing quadratic, nothing corpus-wide.
    */
  def repetitionMatrix(docs: DataFrame, idCol: String, textCol: String,
                       topNs: Seq[Int] = Seq(2, 3, 4),
                       dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    val (out, tok, allG) = repetitionMatrixLazy(docs, idCol, textCol, topNs, dupNs)
    // materialize the SMALL result (≤ 9 rows/doc — corpus-proportional,
    // orders of magnitude under the gram table) so the two big persisted
    // intermediates can be RELEASED here instead of pinning the session's
    // CacheManager until shutdown; checkpoint blocks are reclaimed by the
    // ContextCleaner once the returned frame is GC'd.
    val materialized = out.localCheckpoint(true)
    tok.unpersist()
    allG.unpersist()
    materialized
  }

  /** The lazy pipeline behind [[repetitionMatrix]], returning the big
    * persisted intermediates too — split out so the plan-audit spec can
    * assert the pre-checkpoint shape (single scan, cached branch reuse). */
  private[graft] def repetitionMatrixLazy(
      docs: DataFrame, idCol: String, textCol: String,
      topNs: Seq[Int], dupNs: Seq[Int]): (DataFrame, DataFrame, DataFrame) = {
    // ONE corpus pass for every signal: tokenize once (persisted — the
    // text is parsed a single time, then 9 gram branches read the token
    // arrays, not the parquet), hash every n's grams into ONE compact
    // signature table of longs (persisted — ~10× smaller than the
    // text), and run ONE count, ONE pick, ONE coverage join over it.
    // persist(MEMORY_AND_DISK) not localCheckpoint(true): the eager
    // checkpoint forced a blocking materialization of BOTH full tables
    // before any downstream stage ran, and pinned them deserialized in
    // memory; lazy spillable persist gets the same reuse without the
    // up-front wall and degrades to disk instead of OOM at scale.
    // 9 signals used to be 9 scan+shingle branches with ~4 shuffles each
    // (~36 shuffles, 18 corpus scans); this shape is 1 corpus scan and ~6
    // shuffles total. Shingles stay per-branch with LITERAL n — a
    // column-typed n in slice()/sequence() drops the whole projection out
    // of codegen and costs more than the branches save.
    val tok = graft.Tables.spread(docs)
      .select(col(idCol), TextFns.tokens(lower(col(textCol))).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lens = tok.select(col(idCol),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"), length(col("tok")).as("len"))
    val totals = lens.groupBy(col(idCol)).agg(sum(col("len")).as("total_chars"))

    val allNs = (topNs ++ dupNs).distinct.sorted
    val nCol = col("n")
    // TextFns.wordShingles construction, inlined over the shared arrays
    def shingles(n: Int): Column =
      when(size(col("toks")) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(col("toks")) - lit(n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
    // ONE pass over the token arrays for all 9 orders (was one
    // posexplode branch per n unioned — 9 reads of the cached token
    // table; the r15 pair-metric fusion move): the per-n shingle arrays
    // (each with its LITERAL n, staying codegen) stack into one array and
    // two chained generators emit (order-index, pos, gram); the order
    // index maps back to its n through a literal lookup. Row set
    // identical to the per-n union.
    val nArr = typedLit(allNs.toArray)
    val allG = tok
      .select(col(idCol),
        posexplode(array(allNs.map(shingles): _*)).as(Seq("__i", "__gs")))
      .select(col(idCol),
        element_at(nArr, col("__i") + lit(1)).as("n"),
        posexplode(col("__gs")).as(Seq("pos", "gram")))
      // 60-bit truncated-md5 keys: the counts shuffle carries 8-byte longs
      // instead of 32-char digests, and DuckDB replays the truncation
      // exactly (the winnowing-oracle pattern; 15 hex digits stay inside a
      // signed BIGINT)
      .select(col(idCol), nCol, col("pos"),
        TextFns.md5Long60(col("gram")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val counts = allG.groupBy(col(idCol), nCol, col("h"))
      .agg(count(lit(1)).as("c"))
    val dups = counts
      .where(nCol.isin(dupNs: _*) && col("c") > 1)
      .select(col(idCol), nCol, col("h"),
        format_string("dup_%02d_gram", nCol).as("signal"))
    // deterministic top gram: max count, ties to the min hash
    val tops = counts
      .where(nCol.isin(topNs: _*))
      .groupBy(col(idCol), nCol)
      .agg(min(struct((-col("c")).as("nc"), col("h"))).as("t"))
      .select(col(idCol), nCol, col("t.h").as("h"),
        format_string("top_%02d_gram", nCol).as("signal"))
    val picks = dups.unionByName(tops)

    val covered = allG.join(picks, Seq(idCol, "n", "h"))
      .select(col(idCol), col("signal"),
        explode(sequence(col("pos"), col("pos") + nCol - lit(1))).as("p"))
      .distinct()
      .join(lens.withColumnRenamed("pos", "p"), Seq(idCol, "p"))
      .groupBy(col(idCol), col("signal"))
      .agg(sum(col("len")).as("covered_chars"))

    val out = totals.join(covered, Seq(idCol))
      .select(col(idCol), col("signal"), col("covered_chars"), col("total_chars"))
      .withColumn("frac",
        col("covered_chars").cast("double") / col("total_chars").cast("double"))
    (out, tok, allG)
  }

  /** DuckDB oracle replaying [[repetitionMatrix]] — one CTE chain per n,
    * UNION ALL'd. */
  def repetitionMatrixOracleSql(table: String, idCol: String, textCol: String,
                                topNs: Seq[Int] = Seq(2, 3, 4),
                                dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): String = {
    def branch(n: Int, top: Boolean): String = {
      val signal = if (top) f"top_${n}%02d_gram" else f"dup_${n}%02d_gram"
      val pick =
        if (top)
          s"""SELECT $idCol, h FROM (
             SELECT $idCol, h, row_number() OVER (PARTITION BY $idCol
               ORDER BY c DESC, h) AS rn
             FROM (SELECT $idCol, h, count(*) AS c FROM g$n GROUP BY 1, 2))
             WHERE rn = 1"""
        else
          s"""SELECT $idCol, h FROM (SELECT $idCol, h, count(*) AS c FROM g$n GROUP BY 1, 2)
             WHERE c > 1"""
      s"""SELECT t.$idCol, '$signal' AS signal,
         cv.covered_chars, t.total_chars
         FROM totals t JOIN (
           SELECT cov.$idCol, CAST(sum(l.len) AS BIGINT) AS covered_chars FROM (
             SELECT DISTINCT o.$idCol, u.p FROM g$n o
             JOIN ($pick) k ON o.$idCol = k.$idCol AND o.h = k.h,
             unnest(generate_series(o.pos, o.pos + ${n - 1})) AS u(p)
           ) cov JOIN lens l ON cov.$idCol = l.$idCol AND cov.p = l.pos
           GROUP BY 1) cv ON t.$idCol = cv.$idCol"""
    }
    val gramCtes = (topNs ++ dupNs).distinct.map { n =>
      s"""g$n AS (
         SELECT $idCol, u.i - 1 AS pos,
           CAST(('0x' || substring(md5(array_to_string(toks[u.i:u.i+${n - 1}], ' ')), 1, 15)) AS BIGINT) AS h
         FROM tk, unnest(generate_series(1, greatest(len(toks) - ${n - 1}, 0))) AS u(i))"""
    }.mkString(",\n       ")
    val branches = (topNs.map(branch(_, top = true)) ++
      dupNs.map(branch(_, top = false))).mkString(" UNION ALL ")
    s"""WITH tk AS (
         SELECT $idCol, string_split_regex(trim(lower($textCol)), '\\s+') AS toks
         FROM $table),
       lens AS (
         SELECT $idCol, u.i - 1 AS pos, length(toks[u.i]) AS len
         FROM tk, unnest(generate_series(1, len(toks))) AS u(i)),
       totals AS (SELECT $idCol, CAST(sum(len) AS BIGINT) AS total_chars FROM lens GROUP BY 1),
       $gramCtes
       SELECT $idCol, signal, covered_chars, total_chars,
         CAST(covered_chars AS DOUBLE) / CAST(total_chars AS DOUBLE) AS frac
       FROM ($branches)
       ORDER BY $idCol, signal"""
  }

  /** Top-k characteristic terms per document by tf·idf with the rational
    * idf = 1/df: `score = tf / df` — exactly representable arithmetic, so
    * rankings replay bit-for-bit on any engine (a logarithmic idf is a
    * monotone transform of df and produces the same per-document ranking;
    * swap it in where calibrated scores matter). Two hash aggregates with
    * map-side combine + one equi-join on the term + one per-doc window rank
    * — per-token rows cross the shuffles, never document text.
    */
  /** Per-source data card: the one-scan corpus summary a dataset release
    * publishes per subset — document and token counts, token-length range,
    * quality mass, language share, and exact-unique document count (dup
    * rate = 1 − n_unique/n_docs). Every output column is integral (quality
    * is exact micro-units: the score is a k/4 quarter, so ×1e6 is exact),
    * so the card has zero float-parity risk across engines.
    *
    * One projection feeds one grouped aggregate; `countDistinct` adds the
    * expand-shuffle for the exact unique count — at 100 TB swap it for
    * `approx_count_distinct` (same plan minus the expand) when ±2% is
    * acceptable for the card.
    */
  def dataCard(docs: DataFrame, sourceCol: String, langCol: String,
               textCol: String): DataFrame =
    docs.select(col(sourceCol), col(langCol),
        TextFns.tokenCount(col(textCol)).cast("long").as("__toks"),
        (TextFns.qualityScore(col(textCol)) * lit(1e6)).cast("long").as("__qm"),
        TextFns.fingerprint(col(textCol)).as("__fp"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("total_tokens"),
        min(col("__toks")).as("min_tokens"),
        max(col("__toks")).as("max_tokens"),
        sum(col("__qm")).as("sum_quality_micro"),
        sum(when(col(langCol) === "en", 1L).otherwise(0L)).as("n_english"),
        countDistinct(col("__fp")).as("n_unique_docs"))

  /** Per-batch ADDITIVE data-card rows for the STORED card
    * ([[dataCardFold]]): everything in [[dataCard]] except the unique-doc
    * count folds with sums/min/max, so batches blind-append. The
    * non-additive piece — exact unique docs — lives in the companion
    * fingerprint pipe ([[dataCardFps]]). */
  def dataCardBatch(docs: DataFrame, sourceCol: String, langCol: String,
                    textCol: String, batch: Long): DataFrame =
    docs.select(col(sourceCol), col(langCol),
        TextFns.tokenCount(col(textCol)).cast("long").as("__toks"),
        (TextFns.qualityScore(col(textCol)) * lit(1e6)).cast("long").as("__qm"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("total_tokens"),
        min(col("__toks")).as("min_tokens"),
        max(col("__toks")).as("max_tokens"),
        sum(col("__qm")).as("sum_quality_micro"),
        sum(when(col(langCol) === "en", 1L).otherwise(0L)).as("n_english"))
      .withColumn("batch", lit(batch))

  /** Per-batch (bucket, source, fingerprint, cnt) rows — the additive
    * unique-doc side of the stored card. Counting is additive, so the
    * fold's distinct-fingerprint count over appended batches equals a full
    * rebuild; `buckets` clusters the pipe so fold reads stay parallel. */
  def dataCardFps(docs: DataFrame, sourceCol: String, textCol: String,
                  buckets: Int = 16): DataFrame =
    docs.select(col(sourceCol), TextFns.fingerprint(col(textCol)).as("fp"))
      .groupBy(col(sourceCol), col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bucket",
        pmod(conv(substring(col("fp"), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)))

  /** Fold stored [[dataCardBatch]] + [[dataCardFps]] pipes into the full
    * [[dataCard]] — sums/min/max over the card rows, distinct fingerprints
    * over the fp rows, one |sources|-row join. Fold ≡ rebuild, so the
    * oracle is the plain corpus data card. */
  def dataCardFold(cards: DataFrame, fps: DataFrame,
                   sourceCol: String): DataFrame = {
    val agg = cards.groupBy(col(sourceCol)).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("total_tokens")).as("total_tokens"),
      min(col("min_tokens")).as("min_tokens"),
      max(col("max_tokens")).as("max_tokens"),
      sum(col("sum_quality_micro")).as("sum_quality_micro"),
      sum(col("n_english")).as("n_english"))
    val uq = fps.select(col(sourceCol), col("fp")).distinct()
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n_unique_docs"))
    agg.join(uq, Seq(sourceCol))
  }

  /** BM25 top-k retrieval (Robertson/Sparck Jones; the Okapi BM25 scoring
    * function): rank documents against a bag-of-words query using
    * tf·idf with saturation (k1) and length normalization (b). The
    * retrieval primitive behind data-curation lookups — "which training
    * documents most resemble this eval prompt" — complementing the
    * shingle-containment decontaminator with a ranked, partial-match view.
    *
    * Scale shape: token rows are filtered to the query's terms BEFORE the
    * tf shuffle (the only corpus-wide shuffle carries ≤ |query| rows per
    * doc); document frequencies and the (N, avgdl) stats row are broadcast.
    * Per-term contributions are quantized to integer micro-units (round ×
    * 1e6) BEFORE summing — the order-independent-sum trick shared with the
    * char-entropy/unigram-LM kernels, which also lets an ANSI SQL oracle
    * replay the score bit-for-bit (ln/÷ agree to far better than 1e-6;
    * a raw double sum would be partition-order-dependent).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query terms must be non-empty")
    require(k > 0, "k must be positive")
    val qTerms = query.map(_.toLowerCase).distinct
    val base = docs.select(col(idCol),
        TextFns.tokens(lower(col(textCol))).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("double").as("dl"),
        col("__toks"))
    val stats = base.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl")) // dl integral ⇒ exact sum, order-free avg
    val tf = base
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .where(col("term").isin(qTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    bm25Rank(tf, dfreq, stats, idCol, k, k1, b)
  }

  /** FULL BPE tokenizer TRAINING — `nMerges` iterations of Sennrich et
    * al. 2016 Algorithm 1, not just the one-iteration pair-count kernel
    * ([[bpePairCounts]]): fit the word-frequency vocabulary once, then
    * repeatedly (count adjacent symbol pairs weighted by word frequency →
    * take the argmax pair, ties to the lexicographically smallest → merge
    * it everywhere). Returns the MERGE TABLE (step, pair, pair_freq) —
    * the artifact a BPE tokenizer ships.
    *
    * Words carry their segmentation as a SPACE-JOINED symbol string. A
    * merge must replace every non-overlapping occurrence of the pair
    * left-to-right (greedy BPE order), and a naive literal replace of
    * ` a b ` breaks on ADJACENT occurrences: the match consumes the
    * shared sentinel space, so `banana` under merge `a n` becomes
    * [b,an,a,n,a] instead of [b,an,an,a]. subword-nmt fixes this with
    * lookaround regex, but the oracle engine's RE2 has no lookarounds —
    * so both sides use an equivalent PURELY LITERAL scheme: double every
    * delimiter space (each symbol then owns a private space on each
    * side), replace ` a  b ` with ` ab `, and collapse doubled spaces
    * back. No match can consume a neighboring occurrence's delimiter,
    * which makes the literal replace EXACTLY greedy left-to-right merge
    * order — engine-portable by construction, no regex quoting of
    * arbitrary symbol bytes needed. Pair counting reuses the word-
    * shingle kernel over the symbol strings.
    *
    * Scale: the corpus is touched ONCE (the [[vocab]] fit, map-side
    * combined, persisted); every merge iteration runs on the |vocab|-row
    * table — corpus-size-INDEPENDENT, exactly why BPE training is
    * feasible at 100 TB. Driver state per iteration is the single argmax
    * row. The re-segmented vocabulary localCheckpoints each iteration
    * (flat plans — the iterative-DataFrame lineage trap).
    */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val (merges, v) = bpeTrainState(docs, textCol, nMerges)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    merges
  }

  /** The trainer loop, also returning the FINAL segmented vocabulary
    * (token, sym, freq) — the checkpointed word → subword-string map
    * [[bpeSegmentCounts]] applies; callers release it via the returned
    * frame when done. */
  private[graft] def bpeTrainState(docs: DataFrame, textCol: String,
                                   nMerges: Int): (DataFrame, DataFrame) =
    bpeTrainStateFromWords(vocab(docs, textCol), nMerges)

  /** [[bpeTrainState]] over a PRE-BUILT word-frequency table (token, freq)
    * — lets q_tokenizer_ab share ONE corpus vocab fit across its three
    * trainers (r15 verdict item 4; equivalence = identical word table). */
  private[graft] def bpeTrainStateFromWords(words: DataFrame,
                                            nMerges: Int): (DataFrame, DataFrame) = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = words.sparkSession
    import spark.implicits._
    var v = words
      .select(col("token"),
        trim(regexp_replace(col("token"), "(.)", "$1 ")).as("sym"),
        col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val best = v.select(
          explode(TextFns.wordShingles(col("sym"), 2)).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("f"))
        .orderBy(col("f").desc, col("pair")).limit(1)
        .as[(String, Long)].collect()
      if (best.isEmpty) done = true
      else {
        val (pair, f) = best.head
        merges += ((step, pair, f))
        val merged = pair.replace(" ", "")
        // Private-delimiter merge (see scaladoc): double spaces so each
        // symbol owns its delimiters, literal-replace, collapse back.
        val doubled = call_function("replace", col("sym"), lit(" "), lit("  "))
        val pairD = pair.replace(" ", "  ")
        val next = v.select(col("token"),
            trim(call_function("replace",
              call_function("replace",
                concat(lit(" "), doubled, lit(" ")),
                lit(s" $pairD "), lit(s" $merged ")),
              lit("  "), lit(" "))).as("sym"),
            col("freq"))
          .localCheckpoint(true)
        graft.ops.ApproxDedup.freeCheckpoint(v)
        v = next
        step += 1
      }
    }
    (merges.toSeq.toDF("step", "pair", "pair_freq"), v)
  }

  /** Skip-gram training pairs with negative sampling (Mikolov et al.
    * 2013) — the word2vec/StarSpace data-prep step: positive
    * (center, context) pairs from ±`window` offsets (pure array
    * projections, zero joins on the corpus side), plus `negK`
    * deterministic negatives per positive TYPE drawn ∝ freq^0.75 from the
    * top-`negVocab` noise table (production word2vec caps the table; the
    * rare tail's ¾-power mass is negligible). The draw is the md5 coin —
    * u = md5(center:context:j) mod Σw — so resamples are reproducible
    * across engines and reshards; ¾-power weights are milli-rounded
    * exp(0.75·ln f) (the ln-micro discipline).
    *
    * Scale: positives collapse to (center, context) TYPE counts before
    * negatives fan ×negK; the noise table is ≤ negVocab rows
    * (TakeOrdered'd, its cumsum window bounded by construction) and
    * broadcast-range-joined. Output: (center, context, label, n) with
    * n = pair count for positives, the draw index for negatives. */
  def skipgramPairs(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, negK: Int, negVocab: Int): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    require(window >= 1 && negK >= 1 && negVocab >= 2, "bad config")
    val toks = docs.select(col(idCol),
      TextFns.tokens(lower(trim(col(textCol)))).as("__t"))
    val pos = (1 to window).flatMap { o =>
      Seq(
        expr(s"transform(sequence(1, greatest(size(__t) - $o, 0)), " +
          s"i -> struct(element_at(__t, i) AS c, element_at(__t, i + $o) AS x))"),
        expr(s"transform(sequence(1, greatest(size(__t) - $o, 0)), " +
          s"i -> struct(element_at(__t, i + $o) AS c, element_at(__t, i) AS x))"))
    }.map(e => toks.select(explode(e).as("p"))
      .select(col("p.c").as("center"), col("p.x").as("context")))
      .reduce(_ unionByName _)
      .where(length(col("center")) > 0 && length(col("context")) > 0)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // read twice: as positives and as the neg fan
    // ¾-power noise table over the top-V vocabulary; cum windows run on
    // the ≤V-row TakeOrdered head (bounded by construction)
    val noise = vocabTopK(docs, textCol, negVocab)
      .withColumn("w",
        round(exp(lit(0.75) * log(col("freq").cast("double"))) * lit(1e3))
          .cast("long"))
      .withColumn("cum_hi", sum(col("w")).over(
        W.orderBy(col("freq").desc, col("token"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("cum_lo", col("cum_hi") - col("w"))
      .select(col("token").as("neg"), col("cum_lo"), col("cum_hi"))
      .localCheckpoint(true)
    val total = noise.agg(max(col("cum_hi"))).head().getLong(0)
    val negs = (1 to negK).map { j =>
      pos.select(col("center"), col("context"),
        pmod(TextFns.md5Long60(concat(col("center"), lit(":"),
          col("context"), lit(s":$j"))), lit(total)).as("u"),
        lit(j.toLong).as("n"))
    }.reduce(_ unionByName _)
      .join(broadcast(noise),
        col("u") >= col("cum_lo") && col("u") < col("cum_hi"))
      .select(col("center"), col("neg").as("context"),
        lit(0L).as("label"), col("n"))
    val out = pos.select(col("center"), col("context"),
        lit(1L).as("label"), col("n"))
      .unionByName(negs)
      .localCheckpoint(true)
    graft.ops.ApproxDedup.freeCheckpoint(pos)
    graft.ops.ApproxDedup.freeCheckpoint(noise)
    out
  }

  /** DuckDB oracle replaying [[skipgramPairs]]. */
  def skipgramOracleSql(table: String, textCol: String, window: Int,
                        negK: Int, negVocab: Int): String = {
    val posArms = (1 to window).flatMap { o =>
      Seq(
        s"""SELECT t[j] AS center, t[j + $o] AS context, 1 AS side
           FROM tk, unnest(CASE WHEN len(t) <= $o THEN CAST([] AS BIGINT[])
             ELSE generate_series(1, len(t) - $o) END) AS u(j)""",
        s"""SELECT t[j + $o] AS center, t[j] AS context, 1 AS side
           FROM tk, unnest(CASE WHEN len(t) <= $o THEN CAST([] AS BIGINT[])
             ELSE generate_series(1, len(t) - $o) END) AS u(j)""")
    }.mkString("\n         UNION ALL\n         ")
    val negArms = (1 to negK).map { j =>
      s"""SELECT center, context,
           CAST(('0x' || substring(md5(center || ':' || context || ':$j'), 1, 15))
             AS BIGINT) % (SELECT max(cum_hi) FROM noise) AS u,
           CAST($j AS BIGINT) AS n
         FROM pos"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH tk AS (SELECT string_split_regex(trim(lower($textCol)), '\\s+') AS t
                    FROM $table),
       rawp AS (
         $posArms),
       pos AS (SELECT center, context, CAST(count(*) AS BIGINT) AS n
               FROM rawp
               WHERE length(center) > 0 AND length(context) > 0
               GROUP BY 1, 2),
       vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1
         ORDER BY freq DESC, token LIMIT $negVocab),
       wt AS (SELECT token,
                CAST(round(exp(0.75 * ln(CAST(freq AS DOUBLE))) * 1000.0)
                  AS BIGINT) AS w,
                freq
              FROM vocab),
       noise AS (SELECT token AS neg,
                   sum(w) OVER (ORDER BY freq DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w
                     AS cum_lo,
                   sum(w) OVER (ORDER BY freq DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hi
                 FROM wt),
       draws AS (
         $negArms),
       negs AS (SELECT d.center, noise.neg AS context, CAST(0 AS BIGINT) AS label,
                  d.n
                FROM draws d JOIN noise
                  ON d.u >= noise.cum_lo AND d.u < noise.cum_hi)
       SELECT center, context, label, n FROM (
         SELECT center, context, CAST(1 AS BIGINT) AS label, n FROM pos
         UNION ALL SELECT * FROM negs) z
       ORDER BY center, context, label, n"""
  }

  /** WordPiece tokenizer TRAINING (Schuster & Nakajima 2012 — the
    * BERT-family tokenizer): the same greedy-merge loop as [[bpeTrain]]
    * but scored by LIKELIHOOD GAIN instead of raw pair frequency — the
    * pair maximizing freq(ab) / (freq(a)·freq(b)), i.e. the merge that
    * most increases the unigram-LM likelihood of the corpus. The score is
    * an EXACT integer rational: f·10¹⁸ div (fa·fb) in DECIMAL(38,0)
    * (fa·fb ≥ f², so the quotient ≤ 10¹⁸/f fits a long) — no float
    * comparison decides a merge, ties break lexicographically, identical
    * on both engines. Segmentation state and the private-delimiter
    * literal replace are [[bpeTrainState]]'s (see its scaladoc for the
    * adjacency proof).
    *
    * Scale: identical to BPE — ONE corpus pass (the vocab fit), then
    * every iteration runs two |vocab|-row aggregates (pair and symbol
    * frequencies) and one literal replace; corpus-size-independent.
    * Returns the merge table (step, pair, score). */
  def wordPieceTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val (merges, v) = wordPieceTrainStateFromWords(vocab(docs, textCol), nMerges)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    merges
  }

  /** The WordPiece trainer loop over a PRE-BUILT word table, also
    * returning the FINAL segmented vocabulary — the [[bpeTrainState]]
    * twins: q_tokenizer_ab derives its fertility numbers from the final
    * state directly instead of replaying the merges from scratch
    * ([[fertilityFromMerges]] applies the same deterministic literal
    * replaces to the same initial vocab, so the final `sym` strings are
    * identical by construction; pinned in OptimizationEquivalenceSpec). */
  private[graft] def wordPieceTrainStateFromWords(
      words: DataFrame, nMerges: Int): (DataFrame, DataFrame) = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = words.sparkSession
    import spark.implicits._
    var v = words
      .select(col("token"),
        trim(regexp_replace(col("token"), "(.)", "$1 ")).as("sym"),
        col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val pairF = v.select(
          explode(TextFns.wordShingles(col("sym"), 2)).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("f"))
      val symF = v.select(explode(split(col("sym"), " ")).as("s"), col("freq"))
        .groupBy(col("s")).agg(sum(col("freq")).as("sf"))
      val best = pairF
        .withColumn("l", element_at(split(col("pair"), " "), 1))
        .withColumn("r", element_at(split(col("pair"), " "), 2))
        .join(symF.select(col("s").as("l"), col("sf").as("fl")), Seq("l"))
        .join(symF.select(col("s").as("r"), col("sf").as("fr")), Seq("r"))
        .select(col("pair"),
          expr("CAST(CAST(f AS DECIMAL(38,0)) * 1000000000000000000 div " +
            "(CAST(fl AS DECIMAL(38,0)) * fr) AS BIGINT)").as("score"))
        .orderBy(col("score").desc, col("pair")).limit(1)
        .as[(String, Long)].collect()
      if (best.isEmpty) done = true
      else {
        val (pair, sc) = best.head
        merges += ((step, pair, sc))
        val merged = pair.replace(" ", "")
        val doubled = call_function("replace", col("sym"), lit(" "), lit("  "))
        val pairD = pair.replace(" ", "  ")
        val next = v.select(col("token"),
            trim(call_function("replace",
              call_function("replace",
                concat(lit(" "), doubled, lit(" ")),
                lit(s" $pairD "), lit(s" $merged ")),
              lit("  "), lit(" "))).as("sym"),
            col("freq"))
          .localCheckpoint(true)
        graft.ops.ApproxDedup.freeCheckpoint(v)
        v = next
        step += 1
      }
    }
    (merges.toSeq.toDF("step", "pair", "score"), v)
  }

  /** Constant-group fertility from the WORD-FREQUENCY side: when the group
    * column is one literal (the q_tokenizer_ab shape), every corpus
    * occurrence of `token` contributes the same (n_sub, n_ch), so the
    * per-occurrence corpus explode + join of [[fertilityReport]] equals
    * freq-weighted sums over the |vocab|-row table — the corpus is never
    * re-scanned. `v` (a trainer's final segmented vocabulary checkpoint)
    * is released after the result snaps. Row-identical to
    * `fertilityReport`/`fertilityFromMerges` with a literal group column
    * (pinned in OptimizationEquivalenceSpec); an empty corpus yields an
    * empty frame in both shapes (groupBy over zero rows). */
  private[graft] def fertilityFromTrainedState(v: DataFrame,
      fam: String, groupName: String): DataFrame = {
    // the trainer's final segmented vocabulary carries (token, sym, freq),
    // so the aggregate runs straight over the |vocab|-row checkpoint
    val out = v.select(col("freq"),
        size(split(col("sym"), " ")).cast("long").as("n_sub"),
        length(col("token")).cast("long").as("n_ch"))
      .groupBy(lit(fam).as(groupName))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_sub")).as("n_subwords"),
        sum(col("freq") * col("n_ch")).as("n_chars"))
      .withColumn("fertility_micro", expr("n_subwords * 1000000L div n_words"))
      .withColumn("chars_per_subword_micro",
        expr("n_chars * 1000000L div n_subwords"))
      .localCheckpoint(true)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    out
  }

  /** [[fertilityReport]] under a PRECOMPUTED merge list (WordPiece or any
    * stored merge artifact): same per-group integer micro ratios, the
    * segmentation loop from [[bpeSegmentCountsFromMerges]]. */
  def fertilityFromMerges(docs: DataFrame, textCol: String, groupCol: String,
                          merges: Seq[String]): DataFrame = {
    var v = vocab(docs, textCol)
      .select(col("token"),
        trim(regexp_replace(col("token"), "(.)", "$1 ")).as("sym"),
        col("freq"))
      .localCheckpoint(true)
    merges.foreach { pair =>
      val merged = pair.replace(" ", "")
      val doubled = call_function("replace", col("sym"), lit(" "), lit("  "))
      val pairD = pair.replace(" ", "  ")
      val next = v.select(col("token"),
          trim(call_function("replace",
            call_function("replace",
              concat(lit(" "), doubled, lit(" ")),
              lit(s" $pairD "), lit(s" $merged ")),
            lit("  "), lit(" "))).as("sym"),
          col("freq"))
        .localCheckpoint(true)
      graft.ops.ApproxDedup.freeCheckpoint(v)
      v = next
    }
    val segLen = v.select(col("token"),
      size(split(col("sym"), " ")).cast("long").as("n_sub"),
      length(col("token")).cast("long").as("n_ch"))
    val out = docs.select(col(groupCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .join(segLen, Seq("token"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"),
        sum(col("n_ch")).as("n_chars"))
      .withColumn("fertility_micro", expr("n_subwords * 1000000L div n_words"))
      .withColumn("chars_per_subword_micro",
        expr("n_chars * 1000000L div n_subwords"))
      .localCheckpoint(true)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    out
  }

  /** The WordPiece trainer's CTE chain (words → wv0 → wp/ws/wb/wv per
    * step) — shared by the train oracle and the fertility/apply replays. */
  private def wordPieceChainCtes(table: String, textCol: String,
                                 nMerges: Int): String = {
    val stages = (1 to nMerges).map { i =>
      s"""wp$i AS MATERIALIZED (
           SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM (
             SELECT array_to_string(t[j:j+1], ' ') AS pair, freq FROM (
               SELECT string_split(sym, ' ') AS t, freq FROM wv${i - 1}) w,
               unnest(generate_series(1, len(t) - 1)) AS u(j)
             WHERE len(t) >= 2) g
           GROUP BY 1),
         ws$i AS MATERIALIZED (
           SELECT s, CAST(sum(freq) AS BIGINT) AS sf FROM (
             SELECT unnest(string_split(sym, ' ')) AS s, freq FROM wv${i - 1}) g
           GROUP BY 1),
         wb$i AS MATERIALIZED (
           SELECT pair, score FROM (
             SELECT p.pair,
               CAST((CAST(p.f AS HUGEINT) * 1000000000000000000) //
                 (CAST(l.sf AS HUGEINT) * r.sf) AS BIGINT) AS score
             FROM wp$i p
             JOIN ws$i l ON l.s = string_split(p.pair, ' ')[1]
             JOIN ws$i r ON r.s = string_split(p.pair, ' ')[2]) q
           ORDER BY score DESC, pair LIMIT 1),
         wv$i AS MATERIALIZED (
           SELECT token, trim(replace(replace(
             ' ' || replace(sym, ' ', '  ') || ' ',
             ' ' || (SELECT replace(pair, ' ', '  ') FROM wb$i) || ' ',
             ' ' || (SELECT replace(pair, ' ', '') FROM wb$i) || ' '),
             '  ', ' ')) AS sym,
             freq
           FROM wv${i - 1})"""
    }.mkString(",\n       ")
    s"""words AS (
         SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1),
       wv0 AS MATERIALIZED (
         SELECT token, trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS sym, freq
         FROM words),
       $stages"""
  }

  /** DuckDB oracle replaying [[wordPieceTrain]] — the BPE chain with the
    * likelihood-gain argmax (HUGEINT exact rational) per step. */
  def wordPieceTrainOracleSql(table: String, textCol: String,
                              nMerges: Int): String = {
    val out = (1 to nMerges).map(i =>
      s"SELECT $i AS step, pair, score FROM wb$i").mkString("\n       UNION ALL ")
    s"""WITH ${wordPieceChainCtes(table, textCol, nMerges)}
       SELECT CAST(step AS INT) AS step, pair, score FROM (
       $out) z ORDER BY step"""
  }

  /** DuckDB oracle replaying [[fertilityFromMerges]] under the WordPiece
    * trainer's merges (self-trained): the chain's final wv table IS the
    * segmented vocabulary, joined back by token. */
  def wordPieceFertilityOracleSql(table: String, textCol: String,
                                  groupCol: String, nMerges: Int): String =
    s"""WITH ${wordPieceChainCtes(table, textCol, nMerges)},
       seg AS (SELECT token, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub,
                 CAST(length(token) AS BIGINT) AS n_ch
               FROM wv$nMerges),
       tok AS (SELECT $groupCol, token FROM (
           SELECT $groupCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0)
       SELECT tok.$groupCol,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(seg.n_sub) AS BIGINT) AS n_subwords,
         CAST(sum(seg.n_ch) AS BIGINT) AS n_chars,
         CAST(sum(seg.n_sub) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
           AS fertility_micro,
         CAST(sum(seg.n_ch) AS BIGINT) * 1000000 // CAST(sum(seg.n_sub) AS BIGINT)
           AS chars_per_subword_micro
       FROM tok JOIN seg USING (token)
       GROUP BY 1 ORDER BY tok.$groupCol"""

  /** Apply a STORED merge list (the trained-tokenizer artifact — e.g. the
    * merge table read back from a pipe) to a possibly DIFFERENT corpus:
    * per-document subword counts under the given merges, in training
    * order. This is the deployment shape [[bpeSegmentCounts]] cannot
    * cover — it retrains on its own input; here the tokenizer was fit
    * once (on yesterday's corpus, or a sample) and is replayed on new
    * data, including words the trainer never saw (they simply stop
    * merging where no rule applies — standard BPE OOV behavior).
    *
    * Scale: identical to the trainer's apply loop — each merge is one
    * literal private-delimiter replace over the |vocab|-row table
    * (corpus-size-INDEPENDENT, checkpointed per step), and the corpus is
    * touched once by the token equi-join. `merges` is the k-row driver
    * artifact (configuration, not data). */
  def bpeSegmentCountsFromMerges(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 merges: Seq[String]): DataFrame = {
    var v = vocab(docs, textCol)
      .select(col("token"),
        trim(regexp_replace(col("token"), "(.)", "$1 ")).as("sym"),
        col("freq"))
      .localCheckpoint(true)
    merges.foreach { pair =>
      val merged = pair.replace(" ", "")
      val doubled = call_function("replace", col("sym"), lit(" "), lit("  "))
      val pairD = pair.replace(" ", "  ")
      val next = v.select(col("token"),
          trim(call_function("replace",
            call_function("replace",
              concat(lit(" "), doubled, lit(" ")),
              lit(s" $pairD "), lit(s" $merged ")),
            lit("  "), lit(" "))).as("sym"),
          col("freq"))
        .localCheckpoint(true)
      graft.ops.ApproxDedup.freeCheckpoint(v)
      v = next
    }
    val segLen = v.select(col("token"),
      size(split(col("sym"), " ")).cast("long").as("n_sub"))
    val out = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .join(segLen, Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
      .localCheckpoint(true)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    out
  }

  /** DuckDB oracle for the stored-tokenizer CROSS application: the merge
    * table derives from the TRAIN table's argmax chain, and each step
    * then replays as the identical literal replace over the APPLY table's
    * vocabulary — two CTE tracks sharing the per-step best-pair rows. */
  def bpeCrossApplyOracleSql(trainTable: String, applyTable: String,
                             idCol: String, textCol: String,
                             nMerges: Int): String = {
    val applySteps = (1 to nMerges).map { i =>
      s"""av$i AS MATERIALIZED (
           SELECT token, trim(replace(replace(
             ' ' || replace(sym, ' ', '  ') || ' ',
             ' ' || (SELECT replace(pair, ' ', '  ') FROM b$i) || ' ',
             ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '),
             '  ', ' ')) AS sym,
             freq
           FROM av${i - 1})"""
    }.mkString(",\n         ")
    s"""WITH ${bpeChainCtes(trainTable, textCol, nMerges)},
       awords AS (
         SELECT token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $applyTable) t
         WHERE length(token) > 0 GROUP BY 1),
       av0 AS MATERIALIZED (
         SELECT token, trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS sym, freq
         FROM awords),
       $applySteps,
       aseg AS (SELECT token, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub
                FROM av$nMerges),
       atok AS (SELECT $idCol, token FROM (
           SELECT $idCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $applyTable) t
         WHERE length(token) > 0)
       SELECT atok.$idCol,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(aseg.n_sub) AS BIGINT) AS n_subwords
       FROM atok JOIN aseg USING (token)
       GROUP BY 1 ORDER BY atok.$idCol"""
  }

  /** APPLY a trained BPE tokenizer at corpus scale: per-document subword
    * counts under `nMerges` trained merges. The segmentation is computed
    * once per DISTINCT word (the trainer's vocab-sized loop, corpus-size-
    * independent) and stamped onto the corpus by ONE token equi-join —
    * the shape that tokenizes 100 TB without running the merge loop per
    * document. Output: (id, n_tokens, n_subwords). */
  def bpeSegmentCounts(docs: DataFrame, idCol: String, textCol: String,
                       nMerges: Int): DataFrame = {
    val (_, v) = bpeTrainState(docs, textCol, nMerges)
    val segLen = v.select(col("token"),
      size(split(col("sym"), " ")).cast("long").as("n_sub"))
    val out = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .join(segLen, Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
      .localCheckpoint(true)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    out
  }

  /** Tokenizer FERTILITY report — the standard multilingual-tokenizer
    * health check (Ács 2019; Rust et al. 2021 §3): per `groupCol` (usually
    * language or source), how many subwords the trained BPE produces per
    * word and how many characters each subword carries. A language whose
    * fertility is 2–3× the corpus mean is being byte-shredded by the vocab
    * — the signal that drives vocab-size / sampling decisions before a
    * 100 TB tokenization run.
    *
    * All ratios are exact integer micro-units (`·1e6 div`), so the report
    * replays bit-for-bit on any engine. Output: one row per group —
    * (group, n_words, n_subwords, n_chars, fertility_micro,
    * chars_per_subword_micro).
    *
    * Scale: shares [[bpeSegmentCounts]]'s shape — the merge loop runs on
    * the |vocab|-row table, the corpus is touched by ONE token equi-join
    * into a |groups|-row aggregate; the vocabulary side carries precomputed
    * per-token subword and char counts (two integers), never symbol
    * strings. */
  def fertilityReport(docs: DataFrame, textCol: String, groupCol: String,
                      nMerges: Int): DataFrame = {
    val (_, v) = bpeTrainState(docs, textCol, nMerges)
    val segLen = v.select(col("token"),
      size(split(col("sym"), " ")).cast("long").as("n_sub"),
      length(col("token")).cast("long").as("n_ch"))
    val out = docs.select(col(groupCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .join(segLen, Seq("token"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"),
        sum(col("n_ch")).as("n_chars"))
      .withColumn("fertility_micro",
        expr("n_subwords * 1000000L div n_words"))
      .withColumn("chars_per_subword_micro",
        expr("n_chars * 1000000L div n_subwords"))
      .localCheckpoint(true)
    graft.ops.ApproxDedup.freeCheckpoint(v)
    out
  }

  /** DuckDB oracle replaying [[fertilityReport]] — the trainer CTE chain
    * plus the token equi-join into per-group integer sums. */
  def fertilityReportOracleSql(table: String, textCol: String,
                               groupCol: String, nMerges: Int): String =
    s"""WITH ${bpeChainCtes(table, textCol, nMerges)},
       seg AS (SELECT token, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub,
                 CAST(length(token) AS BIGINT) AS n_ch
               FROM v$nMerges),
       tok AS (SELECT $groupCol, token FROM (
           SELECT $groupCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0)
       SELECT tok.$groupCol,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(seg.n_sub) AS BIGINT) AS n_subwords,
         CAST(sum(seg.n_ch) AS BIGINT) AS n_chars,
         CAST(sum(seg.n_sub) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
           AS fertility_micro,
         CAST(sum(seg.n_ch) AS BIGINT) * 1000000 // CAST(sum(seg.n_sub) AS BIGINT)
           AS chars_per_subword_micro
       FROM tok JOIN seg USING (token)
       GROUP BY 1 ORDER BY tok.$groupCol"""

  /** DuckDB oracle replaying [[bpeSegmentCounts]] — the trainer CTE chain
    * (token carried through) plus the token equi-join. */
  def bpeSegmentCountsOracleSql(table: String, idCol: String, textCol: String,
                                nMerges: Int): String =
    s"""WITH ${bpeChainCtes(table, textCol, nMerges)},
       seg AS (SELECT token, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub
               FROM v$nMerges),
       tok AS (SELECT $idCol, token FROM (
           SELECT $idCol,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0)
       SELECT tok.$idCol,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(seg.n_sub) AS BIGINT) AS n_subwords
       FROM tok JOIN seg USING (token)
       GROUP BY 1 ORDER BY tok.$idCol"""

  /** The trainer's CTE chain (words → v0 → p/b/v per merge), with the
    * original token carried through every stage so apply-side oracles can
    * join the final segmentation back. */
  private def bpeChainCtes(table: String, textCol: String, nMerges: Int): String = {
    val stages = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (
           SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM (
             SELECT array_to_string(t[j:j+1], ' ') AS pair, freq FROM (
               SELECT string_split(sym, ' ') AS t, freq FROM v${i - 1}) w,
               unnest(generate_series(1, len(t) - 1)) AS u(j)
             WHERE len(t) >= 2) g
           GROUP BY 1),
         b$i AS MATERIALIZED (SELECT pair, f FROM p$i ORDER BY f DESC, pair LIMIT 1),
         v$i AS MATERIALIZED (
           SELECT token, trim(replace(replace(
             ' ' || replace(sym, ' ', '  ') || ' ',
             ' ' || (SELECT replace(pair, ' ', '  ') FROM b$i) || ' ',
             ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '),
             '  ', ' ')) AS sym,
             freq
           FROM v${i - 1})"""
    }.mkString(",\n         ")
    s"""words AS (
         SELECT token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1),
       v0 AS MATERIALIZED (SELECT token, trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS sym, freq
              FROM words),
       $stages"""
  }

  /** DuckDB oracle replaying [[bpeTrain]] — one CTE stage per merge, the
    * argmax as a scalar subquery, the SAME literal left-to-right replace. */
  def bpeTrainOracleSql(table: String, textCol: String, nMerges: Int): String = {
    val union = (1 to nMerges).map(i =>
      s"SELECT $i AS step, pair, f AS pair_freq FROM b$i").mkString("\n         UNION ALL ")
    s"""WITH ${bpeChainCtes(table, textCol, nMerges)}
       SELECT CAST(step AS INT) AS step, pair, pair_freq FROM (
         $union) m
       ORDER BY step"""
  }

  /** Corpus snapshot diff — the dataset-versioning release report: per
    * document id, whether it was ADDED, REMOVED, CHANGED (content hash
    * differs), or SAME between two corpus versions. The sync engine's
    * diff answers this for pipes row-by-row; this is the corpus-level
    * summary a dataset changelog publishes (and the pre-flight check
    * before re-running downstream dedup/stats on a new drop).
    *
    * Scale: ONE full-outer join keyed on the id, with both sides reduced
    * to (id, md5) BEFORE the join — text never shuffles. Output ∝ ids.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    def hashed(df: DataFrame, h: String) =
      df.select(col(idCol), md5(col(textCol)).as(h))
    hashed(oldDocs, "h_old").join(hashed(newDocs, "h_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "same")
          .otherwise("changed").as("status"))
  }

  /** DuckDB oracle replaying [[corpusDiff]]. */
  def corpusDiffOracleSql(oldTable: String, newTable: String,
                          idCol: String, textCol: String): String =
    s"""WITH o AS (SELECT $idCol, md5($textCol) AS h_old FROM $oldTable),
       n AS (SELECT $idCol, md5($textCol) AS h_new FROM $newTable)
       SELECT coalesce(o.$idCol, n.$idCol) AS $idCol,
         CASE WHEN o.$idCol IS NULL THEN 'added'
              WHEN n.$idCol IS NULL THEN 'removed'
              WHEN o.h_old = n.h_new THEN 'same'
              ELSE 'changed' END AS status
       FROM o FULL OUTER JOIN n ON o.$idCol = n.$idCol
       ORDER BY $idCol"""

  /** Padding-waste report for length-bucketed batching — the training-
    * efficiency planning step behind picking sequence-length buckets:
    * each document lands in the smallest bucket boundary holding its
    * token count (documents past the largest boundary TRUNCATE to it);
    * per bucket, how many docs, how many real tokens, and how many pad
    * tokens the bucket shape wastes. Σ padded/Σ real is the padding
    * overhead the boundary set costs.
    *
    * Scale: one scan projection (the boundary ladder is a CASE chain) +
    * one |boundaries|-row aggregate, map-side combined.
    */
  def paddingWaste(docs: DataFrame, tokensCol: Column,
                   boundaries: Seq[Int]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.forall(_ > 0), "boundaries must be positive ascending")
    val n = tokensCol.cast("long")
    val bucket = boundaries.init.foldRight(
      lit(boundaries.last.toLong)) { (b, rest) =>
      when(n <= b, b.toLong).otherwise(rest)
    }
    val kept = least(n, lit(boundaries.last.toLong))
    docs.select(bucket.as("bucket"), kept.as("__kept"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__kept")).as("real_tokens"),
        sum(col("bucket") - col("__kept")).as("pad_tokens"))
      .withColumn("pad_fraction",
        col("pad_tokens").cast("double") /
          (col("pad_tokens") + col("real_tokens")).cast("double"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle replaying [[paddingWaste]]. */
  def paddingWasteOracleSql(table: String, tokensExpr: String,
                            boundaries: Seq[Int]): String = {
    val last = boundaries.last
    val ladder = boundaries.init.reverse.foldLeft(s"CAST($last AS BIGINT)") {
      (rest, b) => s"CASE WHEN n <= $b THEN CAST($b AS BIGINT) ELSE $rest END"
    }
    s"""WITH t AS (SELECT CAST($tokensExpr AS BIGINT) AS n FROM $table),
       b AS (SELECT $ladder AS bucket, least(n, $last) AS kept FROM t),
       g AS (SELECT bucket, count(*) AS n_docs,
               CAST(sum(kept) AS BIGINT) AS real_tokens,
               CAST(sum(bucket - kept) AS BIGINT) AS pad_tokens
             FROM b GROUP BY 1)
       SELECT bucket, n_docs, real_tokens, pad_tokens,
         CAST(pad_tokens AS DOUBLE) /
           CAST(pad_tokens + real_tokens AS DOUBLE) AS pad_fraction
       FROM g ORDER BY bucket"""
  }

  /** Blocklist (C4 "badwords") filter — Raffel et al. 2020 §2.2 drop any
    * page containing a word from a blocklist; the classic safety/boiler-
    * plate gate every production corpus pipeline runs in some form. Exact
    * token-boundary matching (no substring false positives), occurrence
    * COUNTS kept alongside the boolean so thresholded variants (`keep if
    * hits ≤ k`) and audit reports need no second pass.
    *
    * Scale: the blocklist rides inside the expression as one array
    * literal (production lists are hundreds of words — trivially
    * broadcast-free); the whole operator is a scan projection, zero
    * shuffles. */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      words: Seq[String], maxHits: Long = 0L): DataFrame = {
    require(words.nonEmpty, "blocklist must be non-empty")
    val list = typedLit(words.map(_.toLowerCase).distinct.sorted.toArray)
    val hits = size(filter(TextFns.tokens(lower(col(textCol))),
      t => array_contains(list, t))).cast("long")
    docs.select(col(idCol), hits.as("n_hits"))
      .withColumn("keep", col("n_hits") <= lit(maxHits))
  }

  /** DuckDB oracle replaying [[blocklistFilter]]. */
  def blocklistFilterOracleSql(table: String, idCol: String, textCol: String,
                               words: Seq[String], maxHits: Long = 0L): String = {
    // escape quotes when rendering the literals — a blocklist word with an
    // apostrophe must not break (or inject into) the generated oracle SQL
    val list = words.map(_.toLowerCase).distinct.sorted
      .map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")
    s"""SELECT $idCol,
         CAST(len(list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
           t -> list_contains($list, t))) AS BIGINT) AS n_hits,
         CAST(len(list_filter(string_split_regex(trim(lower($textCol)), '\\s+'),
           t -> list_contains($list, t))) AS BIGINT) <= $maxHits AS keep
       FROM $table ORDER BY $idCol"""
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022) — the data prep
    * behind infilling-capable code/text models: each document splits at
    * two DETERMINISTIC pseudo-random token positions (md5 of the doc id —
    * reproducible across engines and re-runs, the repo's standard
    * hash-randomness) into prefix/middle/suffix and re-serializes in PSM
    * order `<PRE> prefix <SUF> suffix <MID> middle`. Pure scan
    * projection — array slices over the token array, zero shuffles at
    * any corpus size; output feeds chunking/packing unchanged.
    * Documents with < 3 tokens pass through unsplit (i = j = L). */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextFns
    val toks = TextFns.tokens(trim(col(textCol)))
    val out = docs.select(col(idCol), toks.as("__t"))
      .select(col(idCol), col("__t"), size(col("__t")).as("__n"))
      .select(col(idCol), col("__t"), col("__n").cast("long").as("n_tokens"),
        // i in [1, L-2], j in [i, L-1] for L >= 3: both cut points interior
        when(col("__n") >= 3,
          lit(1) + pmod(TextFns.md5Long60(concat(col(idCol).cast("string"),
            lit("|p"))), (col("__n") - 2).cast("long")).cast("int"))
          .otherwise(col("__n")).as("__i"))
      .select(col(idCol), col("__t"), col("n_tokens"), col("__i"),
        when(col("n_tokens") >= 3,
          col("__i") + pmod(TextFns.md5Long60(concat(col(idCol).cast("string"),
            lit("|s"))), (col("n_tokens").cast("int") - col("__i")).cast("long"))
            .cast("int"))
          .otherwise(col("__i")).as("__j"))
    out.select(col(idCol), col("n_tokens"),
      col("__i").cast("long").as("cut_i"), col("__j").cast("long").as("cut_j"),
      concat(lit("<PRE> "),
        array_join(slice(col("__t"), lit(1), col("__i")), " "),
        lit(" <SUF> "),
        array_join(slice(col("__t"), col("__j") + 1,
          greatest(col("n_tokens").cast("int") - col("__j"), lit(0))), " "),
        lit(" <MID> "),
        array_join(slice(col("__t"), col("__i") + 1,
          col("__j") - col("__i")), " ")).as("fim_text"))
  }

  /** DuckDB oracle replaying [[fimTransform]]. */
  def fimTransformOracleSql(table: String, idCol: String,
                            textCol: String): String =
    s"""WITH t AS (SELECT $idCol AS id,
           string_split_regex(trim($textCol), '\\s+') AS tk FROM $table),
       n AS (SELECT id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
       ci AS (SELECT *, CASE WHEN n_tokens >= 3
               THEN 1 + CAST(('0x' || substring(md5(CAST(id AS VARCHAR) || '|p'), 1, 15)) AS BIGINT) % (n_tokens - 2)
               ELSE n_tokens END AS i FROM n),
       cj AS (SELECT *, CASE WHEN n_tokens >= 3
               THEN i + CAST(('0x' || substring(md5(CAST(id AS VARCHAR) || '|s'), 1, 15)) AS BIGINT) % (n_tokens - i)
               ELSE i END AS j FROM ci)
       SELECT id AS $idCol, n_tokens, i AS cut_i, j AS cut_j,
         '<PRE> ' || coalesce(array_to_string(tk[1:CAST(i AS INT)], ' '), '') ||
         ' <SUF> ' || coalesce(array_to_string(tk[CAST(j + 1 AS INT):CAST(n_tokens AS INT)], ' '), '') ||
         ' <MID> ' || coalesce(array_to_string(tk[CAST(i + 1 AS INT):CAST(j AS INT)], ' '), '')
           AS fim_text
       FROM cj ORDER BY id"""

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) — the
    * denoising-objective data prep: each token position masks with a
    * DETERMINISTIC pseudo-random rate (md5(id|pos) mod 100 < `pct`),
    * consecutive masked positions merge into one span, the input
    * replaces each span with a sentinel `<Xk>` and the target lists each
    * sentinel followed by its span's tokens. Deterministic ⇒ replayable
    * and redelivery-safe (the streaming-dedup property every transform
    * in this repo keeps).
    *
    * Scale: positions explode per token; the only window is PER-DOCUMENT
    * (partitioned by id, ordered by position — the running span count),
    * then one per-doc aggregate reassembles both strings with
    * order-pinned joins. Rows ∝ tokens, no global state. */
  def spanCorruption(docs: DataFrame, idCol: String, textCol: String,
                     pct: Int = 15): DataFrame = {
    import graft.functions.TextFns
    require(pct > 0 && pct < 100, "pct in (0, 100)")
    val pos = docs.select(col(idCol), posexplode(TextFns.tokens(trim(col(textCol))))
        .as(Seq("pos", "tok")))
      .withColumn("mask",
        pmod(TextFns.md5Long60(concat(col(idCol).cast("string"), lit("|"),
          col("pos").cast("string"))), lit(100L)) < pct)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = pos
      .withColumn("new_span",
        col("mask") && !coalesce(lag(col("mask"), 1).over(w), lit(false)))
      .withColumn("span_id",
        sum(col("new_span").cast("long")).over(w) - 1L)
      .select(col(idCol), col("pos"), col("tok"), col("mask"), col("new_span"),
        when(!col("mask"), col("tok"))
          .otherwise(when(col("new_span"),
            concat(lit("<X"), col("span_id"), lit(">")))).as("in_piece"),
        when(col("mask"),
          when(col("new_span"),
            concat(lit("<X"), col("span_id"), lit("> "), col("tok")))
            .otherwise(col("tok"))).as("tgt_piece"))
    def joined(piece: String) = array_join(transform(filter(
        array_sort(collect_list(struct(col("pos"), col(piece).as("p")))),
        x => x.getField("p").isNotNull), x => x.getField("p")), " ")
    spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("mask").cast("long")).as("n_masked"),
        sum(col("new_span").cast("long")).as("n_spans"),
        joined("in_piece").as("input"),
        joined("tgt_piece").as("target"))
  }

  /** DuckDB oracle replaying [[spanCorruption]]. */
  def spanCorruptionOracleSql(table: String, idCol: String, textCol: String,
                              pct: Int = 15): String =
    s"""WITH p AS (
         SELECT id, unnest(list_transform(generate_series(1, len(tk)),
             i -> {'pos': CAST(i - 1 AS BIGINT), 'tok': tk[i]}),
           recursive := true)
         FROM (SELECT $idCol AS id,
                 string_split_regex(trim($textCol), '\\s+') AS tk
               FROM $table)),
       m AS (SELECT *, (CAST(('0x' || substring(md5(CAST(id AS VARCHAR) || '|' || CAST(pos AS VARCHAR)), 1, 15)) AS BIGINT) % 100) < $pct AS mask
             FROM p),
       s AS (SELECT *,
               mask AND NOT coalesce(lag(mask) OVER (PARTITION BY id ORDER BY pos), false) AS new_span
             FROM m),
       sp AS (SELECT *,
               sum(CASE WHEN new_span THEN 1 ELSE 0 END)
                 OVER (PARTITION BY id ORDER BY pos) - 1 AS span_id
              FROM s),
       pieces AS (SELECT id, pos, mask, new_span,
               CASE WHEN NOT mask THEN tok
                 WHEN new_span THEN '<X' || CAST(span_id AS VARCHAR) || '>' END AS in_piece,
               CASE WHEN mask THEN
                 CASE WHEN new_span THEN '<X' || CAST(span_id AS VARCHAR) || '> ' || tok
                   ELSE tok END END AS tgt_piece
             FROM sp)
       SELECT id AS $idCol, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN mask THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         CAST(sum(CASE WHEN new_span THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         coalesce(string_agg(in_piece, ' ' ORDER BY pos), '') AS input,
         coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target
       FROM pieces GROUP BY id ORDER BY id"""

  /** UL2 mixture-of-denoisers prep (Tay et al. 2022): the same corpus
    * serialized under SEVERAL denoiser configs — each (tag, pct) runs
    * [[spanCorruption]] at its corruption rate with the tag prepended to
    * the input (the UL2 mode token, e.g. [R]/[X]) — and the union is the
    * training mixture. Per-config determinism is inherited; rows =
    * |configs| · |docs|. */
  def ul2Mixture(docs: DataFrame, idCol: String, textCol: String,
                 configs: Seq[(String, Int)]): DataFrame = {
    require(configs.nonEmpty, "at least one denoiser config")
    configs.map { case (tag, pct) =>
      spanCorruption(docs, idCol, textCol, pct)
        .select(col(idCol), lit(tag).as("denoiser"), col("n_tokens"),
          col("n_masked"), col("n_spans"),
          concat(lit(s"[$tag] "), col("input")).as("input"), col("target"))
    }.reduce(_ unionByName _)
  }

  /** DuckDB oracle replaying [[ul2Mixture]]. */
  def ul2MixtureOracleSql(table: String, idCol: String, textCol: String,
                          configs: Seq[(String, Int)]): String =
    configs.map { case (tag, pct) =>
      s"""SELECT $idCol, '$tag' AS denoiser, n_tokens, n_masked, n_spans,
           '[$tag] ' || input AS input, target
         FROM (${spanCorruptionOracleSql(table, idCol, textCol, pct)})"""
    }.mkString("", "\nUNION ALL\n", s"\nORDER BY $idCol, denoiser")

  /** Per-pattern overlapping occurrence counts under ONE Aho–Corasick
    * automaton pass ([[graft.expressions.AcAutomaton]]) — the scale path
    * for large blocklists: [[blocklistFilter]]'s array-literal scan is
    * O(len · patterns) per doc, the automaton is O(len + hits) no matter
    * whether the list has 40 entries or 100k. Raw-substring semantics
    * (every end position counts, overlaps and nested patterns included),
    * case-folded on both sides.
    *
    * Scale: automaton built once driver-side (O(Σ|pattern|)), shipped
    * inside the stage's task binary (broadcast once per executor); the
    * operator is a pure scan projection + explode of the per-doc sparse
    * hit array — zero shuffles, stays in whole-stage codegen via the
    * kernel reference object. */
  def acMatches(docs: DataFrame, idCol: String, textCol: String,
                patterns: Seq[String]): DataFrame = {
    val ac = graft.expressions.AcAutomaton.build(patterns.map(_.toLowerCase))
    val arr = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.AcMatchCounts(
        org.apache.spark.sql.GraftColumnBridge.expression(lower(col(textCol))), ac))
    val pats = typedLit(ac.patterns)
    docs.select(col(idCol), explode(arr).as("m"))
      .select(col(idCol),
        element_at(pats, col("m.pid") + 1).as("pattern"),
        col("m.cnt").as("cnt"))
  }

  /** Blocklist gate over [[acMatches]]' kernel: per doc, total overlapping
    * hits + distinct patterns hit + thresholded keep — every doc emits a
    * row (zero-hit docs keep), so the gate composes like
    * [[blocklistFilter]] while scaling to production-size lists. */
  def acBlocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                        patterns: Seq[String], maxHits: Long = 0L): DataFrame = {
    val ac = graft.expressions.AcAutomaton.build(patterns.map(_.toLowerCase))
    val arr = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.AcMatchCounts(
        org.apache.spark.sql.GraftColumnBridge.expression(lower(col(textCol))), ac))
    // staged projection: the automaton pass lands behind ONE alias that
    // the hits/patterns projections reference — CollapseProject keeps a
    // multiply-referenced non-cheap alias staged, so the text is scanned
    // once per row, not once per output column
    docs.select(col(idCol), arr.as("__m"))
      .select(col(idCol),
        aggregate(col("__m"), lit(0L),
          (acc, m) => acc + m.getField("cnt")).as("n_hits"),
        size(col("__m")).cast("long").as("n_patterns"))
      .withColumn("keep", col("n_hits") <= lit(maxHits))
  }

  /** Blocklist audit: which patterns fire, in how many docs, how often —
    * the report that tells a curation team which entries actually carry
    * the gate. One explode + one |patterns|-bounded hash aggregate. */
  def acPatternStats(docs: DataFrame, idCol: String, textCol: String,
                     patterns: Seq[String]): DataFrame =
    acMatches(docs, idCol, textCol, patterns)
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cnt")).as("n_hits"))

  /** Per-batch rows for the STORED blocklist-audit pipe: the batch's
    * [[acPatternStats]] rows, hash-bucketed for pipe clustering. Doc
    * batches are disjoint, so n_docs/n_hits are ADDITIVE — blind-append
    * per sync, fold by sum ≡ full-corpus rebuild. */
  def acPatternStatsBatch(docs: DataFrame, idCol: String, textCol: String,
                          patterns: Seq[String], buckets: Int = 8): DataFrame =
    acPatternStats(docs, idCol, textCol, patterns)
      .select(pmod(graft.functions.TextFns.md5Long60(col("pattern")),
        lit(buckets.toLong)).as("bucket"),
        col("pattern"), col("n_docs"), col("n_hits"))

  /** Fold stored [[acPatternStatsBatch]] rows — additive sums. */
  def acPatternStatsFold(rows: DataFrame): DataFrame =
    rows.groupBy(col("pattern"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_hits")).as("n_hits"))

  /** URL/prefix deny-list under the same automaton's pure TRIE walk
    * ([[graft.expressions.AcAutomaton.prefixMatches]] — failure links
    * unused): a row is blocked when ANY deny-prefix is a prefix of its
    * (case-folded) value. O(min(|value|, max prefix length)) per row at
    * ANY list size — the robots-rule / URL-blocklist scale path where a
    * `startsWith` OR-chain is O(value · prefixes). Matched prefixes are
    * reported in deterministic (lexicographic) order. */
  def prefixBlocklist(docs: DataFrame, idCol: String, valueCol: String,
                      prefixes: Seq[String]): DataFrame = {
    val ac = graft.expressions.AcAutomaton.build(prefixes.map(_.toLowerCase))
    val arr = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.AcPrefixMatches(
        org.apache.spark.sql.GraftColumnBridge.expression(lower(col(valueCol))), ac))
    val pats = typedLit(ac.patterns)
    // matched prefixes serialize to one comma-joined string (array columns
    // don't survive the driver's sort-rows-by-all-columns compare)
    docs.select(col(idCol), arr.as("__p"))
      .select(col(idCol),
        size(col("__p")).cast("long").as("n_matched"),
        array_join(transform(col("__p"), i => element_at(pats, i + 1)), ",")
          .as("matched"))
      .withColumn("keep", col("n_matched") === 0L)
  }

  /** DuckDB oracle replaying [[prefixBlocklist]] over `valueExpr`. */
  def prefixBlocklistOracleSql(table: String, idCol: String, valueExpr: String,
                               prefixes: Seq[String]): String = {
    val list = prefixes.map(_.toLowerCase).distinct.sorted
      .map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT $idCol AS id,
           list_filter($list, p -> starts_with(lower($valueExpr), p)) AS lf
         FROM $table)
       SELECT id AS $idCol, CAST(len(lf) AS BIGINT) AS n_matched,
         coalesce(array_to_string(lf, ','), '') AS matched, len(lf) = 0 AS keep
       FROM d ORDER BY id"""
  }

  private def acOracleCtes(table: String, idCol: String, textCol: String,
                           patterns: Seq[String]): String = {
    val list = patterns.map(_.toLowerCase).distinct.sorted
      .map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")
    s"""pats AS (SELECT unnest($list) AS pat),
       d AS (SELECT $idCol AS id, lower($textCol) AS t FROM $table),
       m AS (SELECT d.id, p.pat,
               CAST(len(list_filter(generate_series(1, len(d.t) - len(p.pat) + 1),
                 i -> substring(d.t, CAST(i AS INT), len(p.pat)) = p.pat)) AS BIGINT) AS cnt
             FROM d, pats p WHERE contains(d.t, p.pat))"""
  }

  /** DuckDB oracle replaying [[acBlocklistFilter]] — overlapping counts
    * via every-position slice equality (quadratic per doc·pattern, the
    * point: the oracle is the semantics, the automaton is the plan). */
  def acBlocklistFilterOracleSql(table: String, idCol: String, textCol: String,
                                 patterns: Seq[String], maxHits: Long = 0L): String =
    s"""WITH ${acOracleCtes(table, idCol, textCol, patterns)},
         g AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS n_hits,
                 CAST(count(*) AS BIGINT) AS n_patterns FROM m GROUP BY 1)
       SELECT d.id AS $idCol, coalesce(g.n_hits, 0) AS n_hits,
         coalesce(g.n_patterns, 0) AS n_patterns,
         coalesce(g.n_hits, 0) <= $maxHits AS keep
       FROM d LEFT JOIN g USING (id) ORDER BY $idCol"""

  /** DuckDB oracle replaying [[acPatternStats]]. */
  def acPatternStatsOracleSql(table: String, idCol: String, textCol: String,
                              patterns: Seq[String]): String =
    s"""WITH ${acOracleCtes(table, idCol, textCol, patterns)}
       SELECT pat AS pattern, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(cnt) AS BIGINT) AS n_hits
       FROM m GROUP BY 1 ORDER BY pattern"""

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: fuse N independent rankings
    * (BM25 lexical, embedding-cosine semantic, …) by summing
    * `1/(kRrf + rank)` per list, in exact micro-units so the fused order
    * is integer-deterministic and oracle-replayable. Items missing from a
    * list simply contribute nothing — no outer-join scaffolding.
    *
    * Scale: each ranking is already top-k-sized (the expensive retrieval
    * happened upstream); fusion is a union of tiny frames + one hash
    * aggregate + TakeOrdered. With per-query rankings, add the query id
    * to `idCol`'s frame and group by both — same shape, still tiny.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking required")
    require(k > 0 && kRrf >= 0, "k positive, kRrf non-negative")
    val contribs = rankings.map(df => df.select(col(idCol),
        round(lit(1e6) / (lit(kRrf) + col(rankCol))).cast("long").as("c")))
      .reduce(_.unionByName(_))
    contribs.groupBy(col(idCol))
      .agg(sum(col("c")).as("rrf_micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_micro").desc, col(idCol))
      .limit(k)
  }

  /** The shared BM25 scoring tail: tf rows × broadcast df × broadcast
    * (N, avgdl) stats, micro-unit quantization, order-free sum, TakeOrdered.
    * ONE implementation so the in-plan path ([[bm25TopK]]) and the
    * stored-index probe score with bit-identical association. */
  private def bm25Rank(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
                       idCol: String, k: Int, k1: Double, b: Double): DataFrame =
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score_micro",
        round(col("idf") * col("tf") * (lit(k1) + lit(1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))) *
          lit(1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("term_score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)

  /** The PERSISTABLE inverted index behind [[bm25ProbeStored]]: one row per
    * (document, distinct term) carrying tf, the document length, and an
    * md5-derived term BUCKET fit for use as the partition axis. All postings
    * of a term land in ONE bucket, so probing a q-term query reads ≤ q
    * bucket directories. Build cost: the (doc, term) tf aggregate — one
    * map-combined shuffle; incremental maintenance is a blind append (new
    * docs contribute only their own rows). */
  def bm25Postings(docs: DataFrame, idCol: String, textCol: String,
                   buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    docs.select(col(idCol), TextFns.tokens(lower(col(textCol))).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("bucket", Sampling.hashBucket(col("term"), buckets))
  }

  /** Per-batch corpus stats for the stored BM25 index: (n_docs, sum_dl)
    * rows are SUM-MERGEABLE, so incremental batches blind-append and the
    * probe folds them — N and avgdl over the union equal the full-corpus
    * values exactly (dl sums are integral). */
  def bm25BatchStats(docs: DataFrame, textCol: String, batch: Long): DataFrame =
    docs.select(TextFns.tokenCount(col(textCol)).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(lit(batch).as("batch"), col("n_docs"), col("sum_dl"))

  /** Score a query against a STORED postings slice (the ≤ q bucket
    * directories holding the query's terms, already read back — the corpus
    * is never re-tokenized). `statsRows` are the accumulated
    * [[bm25BatchStats]] rows. Equals [[bm25TopK]] over the full corpus by
    * construction: tf/dl/df/N/avgdl are the same numbers, and the scoring
    * tail is literally the same code. */
  def bm25ProbeStored(postings: DataFrame, statsRows: DataFrame,
                      idCol: String, query: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query terms must be non-empty")
    val qTerms = query.map(_.toLowerCase).distinct
    val tf = postings.where(col("term").isin(qTerms: _*))
      .select(col(idCol), col("dl").cast("double").as("dl"), col("term"),
        col("tf").cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = statsRows.agg(
        sum(col("n_docs")).as("__n"), sum(col("sum_dl")).as("__s"))
      .select(col("__n").cast("double").as("n_docs"),
        (col("__s").cast("double") / col("__n").cast("double")).as("avgdl"))
    bm25Rank(tf, dfreq, stats, idCol, k, k1, b)
  }

  /** DuckDB oracle replaying [[bm25TopK]] (and therefore the stored-index
    * probe, which equals it) — same tokenization, same association, same
    * micro-unit rounding. */
  def bm25OracleSql(table: String, idCol: String, textCol: String,
                    terms: Seq[String], k: Int): String = {
    val in = terms.map(_.toLowerCase).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
         SELECT $idCol, string_split_regex(trim(lower($textCol)), '\\s+') AS t FROM $table),
       base AS (SELECT $idCol, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
       tf AS (
         SELECT $idCol, dl, term, CAST(count(*) AS DOUBLE) AS tf
         FROM (SELECT $idCol, dl, unnest(t) AS term FROM base)
         WHERE term IN ($in)
         GROUP BY 1, 2, 3),
       dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       sc AS (
         SELECT tf.$idCol,
           CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
             * 1000000.0) AS BIGINT) AS term_score_micro
         FROM tf JOIN dfq d USING (term) CROSS JOIN stats s)
       SELECT $idCol, CAST(sum(term_score_micro) AS BIGINT) AS score_micro
       FROM sc GROUP BY $idCol
       ORDER BY score_micro DESC, $idCol LIMIT $k"""
  }

  /** Winnowing MATCH pairs (the MOSS composition, SIGMOD 2003 §5): document
    * pairs sharing at least `minShared` winnowing fingerprints — the
    * plagiarism/copy-candidate detector built on the same fingerprint rows
    * [[winnowFingerprints]] persists. Fingerprints shared by more than
    * `maxDocsPerFp` documents are boilerplate and drop BEFORE the
    * self-join (the hot-bucket cap of the minhash path — a ubiquitous
    * fingerprint cannot go quadratic); candidate fanout per surviving
    * fingerprint is then ≤ maxDocsPerFp². One fp-keyed equi-join + one
    * pair-keyed count — never an all-pairs comparison.
    */
  def winnowMatchPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int, minShared: Int,
                       maxDocsPerFp: Int): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    require(maxDocsPerFp >= 2, "maxDocsPerFp must allow at least a pair")
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxDocsPerFp).select(col("fp"))
    val pruned = fps.join(rare, Seq("fp"))
    pruned.select(col("fp"), col(idCol).as("id1"))
      .join(pruned.select(col("fp"), col(idCol).as("id2")), Seq("fp"))
      .where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** PMI collocation pairs (Church & Hanks 1990): the top-k within-document
    * co-occurring term pairs among the `vocabK` most frequent terms, scored
    * by pointwise mutual information over document co-occurrence —
    * pmi(a,b) = ln(n_ab·N / (n_a·n_b)) — the vocabulary-building
    * collocation detector ("new york" behaves as one token).
    *
    * Scale shape: token rows prune to the broadcast top-V vocabulary BEFORE
    * anything shuffles, the per-doc distinct projection bounds the self-join
    * fanout at V²/2 pairs per document (configuration, not data), and term/
    * doc counts are exact longs whose single double division + micro-unit
    * rounding the SQL oracle replays bit-for-bit.
    */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
               vocabK: Int, minPairCount: Long, k: Int): DataFrame = {
    require(vocabK > 1 && k > 0 && minPairCount >= 1, "bad pmi parameters")
    val vocabTop = vocabTopK(docs, textCol, vocabK).select(col("token"))
    val present = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .join(broadcast(vocabTop), "token")
      .select(col(idCol), col("token")).distinct()
    val nDocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val termCounts = present.groupBy(col("token"))
      .agg(count(lit(1)).as("n_t")) // ≤ V rows
    val pairs = present.as("x")
      .join(present.as("y"),
        col(s"x.$idCol") === col(s"y.$idCol") && col("x.token") < col("y.token"))
      .groupBy(col("x.token").as("t1"), col("y.token").as("t2"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairCount)
    pairs
      .join(broadcast(termCounts.select(col("token").as("t1"), col("n_t").as("n_1"))), "t1")
      .join(broadcast(termCounts.select(col("token").as("t2"), col("n_t").as("n_2"))), "t2")
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi_micro",
        round(log((col("n_pair") * col("n_docs")).cast("double") /
          (col("n_1") * col("n_2")).cast("double")) * lit(1e6)).cast("long"))
      .select(col("t1"), col("t2"), col("n_pair"), col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("t1"), col("t2"))
      .limit(k)
  }

  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"),
        col("score"))
  }

  /** 32-bit k-gram hash used by winnowing — md5-derived so an ANSI SQL
    * oracle reproduces it bit-for-bit (a production rolling Karp-Rabin hash
    * drops in here without changing the selection algorithm).
    */
  private def gramHash(gram: Column): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long")

  /** Winnowing fingerprints: hash every char k-gram, slide a window of
    * `w` consecutive hashes, keep each window's minimum, emit the distinct
    * selected hashes. Guarantees (SIGMOD 2003 §3): any match of length
    * ≥ w+k−1 shares a fingerprint; density ≈ 2/(w+1).
    *
    * Pure per-document projection (explode at the end) — zero shuffle; at
    * 100 TB this runs on the scan like the other text functions. Selection
    * runs as ONE generated kernel pass
    * ([[graft.expressions.WinnowFingerprints]], monotonic-deque window
    * minimum); the composed HOF form below is kept as the independent
    * cross-check its equivalence spec runs against.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    val fps = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(lower(col(textCol))),
        k, w))
    docs.select(col(idCol), explode(fps).as("fp"))
  }

  /** One iteration of byte-pair-encoding pair counting — the kernel of BPE
    * tokenizer training (Sennrich, Haddow & Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016): the corpus
    * frequency of every adjacent symbol pair inside words, weighted by word
    * frequency. The full trainer loop applies the argmax pair as a merge
    * and re-counts; every iteration IS this operator over a re-segmented
    * vocabulary, so the scale shape shown here is the trainer's scale
    * shape. (Beyond-reference §2.12: Meerschaum has no tokenizer surface.)
    *
    * Scale: the only corpus-sized pass is the token explode feeding the
    * word-frequency hash aggregate (map-side combined — each partition
    * emits its DISTINCT words, not its token stream). The pair explode then
    * runs over the |vocab|-row word table — corpus-size-INDEPENDENT — and
    * the final aggregate + TakeOrdered touch ≤ |vocab|·maxWordLen rows.
    * Single-char words contribute no pairs (guarded: Spark's
    * `sequence(1, 0)` is a DESCENDING [1, 0], not empty).
    */
  def bpePairCounts(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val word = col("token")
    val pairs = when(length(word) < 2, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(word) - lit(1)),
        i => word.substr(i, lit(2))))
    vocab(docs, textCol)
      .select(explode(pairs).as("pair"), col("freq"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("pair_freq"))
      .orderBy(col("pair_freq").desc, col("pair"))
      .limit(k)
  }

  /** DuckDB oracle replaying [[bpePairCounts]] exactly (1-based substring
    * over the same lower/trim/`\s+` tokenization; `generate_series(1, 0)`
    * is empty in DuckDB, so the length guard is a WHERE). */
  def bpePairCountsOracleSql(table: String, textCol: String, k: Int): String =
    s"""WITH words AS (
         SELECT token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1),
       pr AS (
         SELECT substring(token, CAST(i AS INT), 2) AS pair, freq FROM (
           SELECT token, freq,
             unnest(generate_series(1, length(token) - 1)) AS i
           FROM words WHERE length(token) >= 2) g)
       SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_freq
       FROM pr GROUP BY 1 ORDER BY pair_freq DESC, pair LIMIT $k"""

  /** Per-source KL divergence from the corpus-wide unigram distribution —
    * the data-mixing diagnostic ("how far is each source's token mix from
    * the blend we are actually training on"; the DoReMi/Pile-style weight
    * tuning loop reads exactly this quantity per domain). KL(P_s ‖ Q) =
    * Σ_t P_s(t)·ln(P_s(t)/Q(t)) over the source's token types; support of
    * P_s is a subset of Q's by construction so no smoothing is needed.
    *
    * Exactness: the ln ratio is quantized to micro-nats PER (source, type)
    * and the per-source total is `Σ c_st · term_micro` — an integer sum,
    * order-independent under any partitioning, so Spark and the oracle
    * agree bit-for-bit however the aggregation tree reassociates. The two
    * trailing divisions (µ→nats, /N_s) happen ONCE on the final row.
    *
    * Scale: one corpus-sized explode into the (source, type) hash
    * aggregate (map-side combined); everything downstream is
    * |sources|·|vocab| rows — the type-total re-aggregate, the token
    * equi-join back, and two broadcast-sized side tables (per-source totals
    * and the grand total). Document text never shuffles; Spark's
    * ReuseExchange shares the base (source, type) shuffle across the three
    * consumers.
    */
  def domainDivergence(docs: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    val (out, st) = domainDivergenceLazy(docs, groupCol, textCol)
    // the result is |sources| rows — materialize it and RELEASE the
    // persisted (source, type) table instead of pinning the CacheManager
    // (the repetitionMatrix pattern)
    val materialized = out.localCheckpoint(true)
    st.unpersist()
    materialized
  }

  /** The lazy pipeline behind [[domainDivergence]], returning the persisted
    * (source, type) intermediate — split out so the plan-audit spec can
    * assert the pre-checkpoint shape (ONE corpus scan; the three consumers
    * read the cached aggregate, which Catalyst does NOT share on its own:
    * the join branch gets an extra isnotnull pushed into its copy, so
    * ReuseExchange sees three distinct subtrees and would re-run the
    * corpus-sized explode per branch). */
  private[graft] def domainDivergenceLazy(
      docs: DataFrame, groupCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    // |sources|·|vocab| rows of (source, type, count) — the only
    // corpus-sized pass is the explode feeding this map-side-combined
    // aggregate; everything downstream reads the persisted table
    val st = docs.select(col(groupCol).as("source"),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ct = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val nt = ct.agg(sum(col("c_t")).as("n_total"))
    val out = st.join(ct, Seq("token"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nt))
      .withColumn("term_micro",
        round(log((col("c_st").cast("double") * col("n_total").cast("double")) /
                  (col("n_s").cast("double") * col("c_t").cast("double")))
          * lit(1e6)).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sum(col("c_st") * col("term_micro")).as("kl_micro_sum"))
      .withColumn("kl_nats",
        (col("kl_micro_sum").cast("double") / lit(1e6)) /
          col("n_tokens").cast("double"))
      .select(col("source"), col("n_tokens"), col("kl_micro_sum"),
        col("kl_nats"))
    (out, st)
  }

  /** DuckDB oracle replaying [[domainDivergence]] — same tokenization,
    * same float-op shapes (three IEEE steps inside the ln, one round, one
    * integer weighted sum, two final divisions). */
  def domainDivergenceOracleSql(table: String, groupCol: String,
                                textCol: String): String =
    s"""WITH st AS (
         SELECT source, token, count(*) AS c_st FROM (
           SELECT $groupCol AS source,
             unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS token
           FROM $table) t
         WHERE length(token) > 0 GROUP BY 1, 2),
       ct AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
       ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
       nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_total FROM ct),
       terms AS (
         SELECT st.source, st.c_st, ns.n_s,
           CAST(round(ln((CAST(st.c_st AS DOUBLE) * CAST(nt.n_total AS DOUBLE)) /
                         (CAST(ns.n_s AS DOUBLE) * CAST(ct.c_t AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS term_micro
         FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nt)
       SELECT source,
         CAST(max(n_s) AS BIGINT) AS n_tokens,
         CAST(sum(c_st * term_micro) AS BIGINT) AS kl_micro_sum,
         (CAST(sum(c_st * term_micro) AS DOUBLE) / 1000000.0) /
           CAST(max(n_s) AS DOUBLE) AS kl_nats
       FROM terms GROUP BY 1"""

  /** Composed Catalyst form of the same selection (interpreted HOF lambdas
    * — k·n md5 calls plus n·w slice/min work per document). Retained for
    * the kernel-equivalence spec; prefer [[winnowFingerprints]]. */
  private[graft] def winnowFingerprintsComposed(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val hashes = transform(
      TextFns.charNgrams(col(textCol), k),
      g => gramHash(g))
    val selected = element_at(
      transform(array(hashes), hs =>
        when(size(hs) < w, array_distinct(hs)).otherwise(
          array_distinct(transform(
            sequence(lit(1), size(hs) - lit(w - 1)),
            i => array_min(slice(hs, i, lit(w))))))), 1)
    docs.select(col(idCol), explode(selected).as("fp"))
  }
}
