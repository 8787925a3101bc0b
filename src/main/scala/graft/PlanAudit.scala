package graft

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for a set of flagship queries into PLANS.md —
  * the plan-shape evidence behind SCALE.md's claims (pushdown reaching the
  * scan, pruned ReadSchema, broadcast dims, no cross joins, shuffle-free
  * index builds). Run: `sbt "runMain graft.PlanAudit <sfDir>"`. Every
  * plan comes from [[PlanDump.explain]]; the last three entries are lazy
  * stages whose public frames end in an eager checkpoint.
  */
object PlanAudit {

  /** (name, what the plan is supposed to show). */
  private val audited: Seq[(String, String)] = Seq(
    "q_scan_project_filter" ->
      ("Filter + projection reach the parquet scan: `PushedFilters` carries both " +
       "predicates and `ReadSchema` holds only the 3 selected columns."),
    "q5_local_supplier_volume" ->
      ("Star join: region/nation broadcast (BroadcastHashJoin), the fact-side " +
       "lineitem scan prunes to join keys + aggregation inputs, aggregates are " +
       "partial (map-side) before the exchange."),
    "q_embedding_ann_ivf" ->
      ("IVF probe: the cell filter sits IN the scan (no join, no window " +
       "anywhere), ranking is TakeOrderedAndProject — the whole probe is one " +
       "narrow pass."),
    "q_embedding_ann_sq" ->
      ("Two-phase quantized probe, candidate phase: ReadSchema carries (id, " +
       "codes) only — the float vector column never loads during candidate " +
       "scoring."),
    "q_semantic_dedup" ->
      ("SemDeDup pair stage: the only join is an equi-join keyed on the k-means " +
       "cell id (+ id inequality as a post-join filter) — no cartesian product, " +
       "no cross join; cell assignment is a projection inside the scan stage."),
    "q_minhash_near_dups" ->
      ("Banded LSH: candidates come from an equi-join on (band, bucket); the " +
       "MinHash signature is a single generated expression inside " +
       "WholeStageCodegen."),
    "q_quality_filter" ->
      ("Gopher filter: the whole operator is one WholeStageCodegen projection " +
       "over the scan — zero Exchange operators."),
    "q_curation_pipeline" ->
      ("Composed pipeline: normalize + quality filter fuse into the scan " +
       "stage; the exact-dedup groupBy is the single full shuffle; the split " +
       "label is a projection on top."),
    "q_dsir_weights" ->
      ("DSIR: the fitted 256-row ratio table joins the corpus grams via " +
       "BroadcastHashJoin (corpus text never shuffles for the model); the " +
       "per-doc weight is a partial (map-side combined) LONG hash aggregate " +
       "keyed on doc_id."),
    "q_repetition_matrix" ->
      ("Gopher repetition matrix: ONE corpus scan — the token and hashed-gram " +
       "tables are persisted (InMemoryTableScan feeds every downstream " +
       "branch), grams shuffle as 8-byte longs keyed on (doc, n, hash), and " +
       "no branch re-reads the parquet."),
    "q_decontaminate" ->
      ("Benchmark decontamination: the bench-side shingles cross the join as " +
       "60-bit longs via BroadcastHashJoin — the corpus side never shuffles " +
       "shingle STRINGS, and the containment aggregate is map-side combined."),
    "q_embedding_ann_ivfpq" ->
      ("IVF+PQ probe (rerank phase): cell pruning and the ADC candidate scan " +
       "already ran as bounded driver jobs; the final plan is a narrow " +
       "isin-filtered scan + TakeOrderedAndProject — no join, no wide " +
       "shuffle, and centroids/codebooks ride as single typedLit literals, " +
       "not thousand-node expression trees."),
    "q_embedding_ann_ivfpq_batch" ->
      ("BATCHED IVF+PQ — the fully-distributed composition: probe cells and " +
       "per-query ADC tables are projections (no driver work per query), the " +
       "cell equi-join prunes the corpus with only (id, cell, codes) crossing " +
       "it, and two qid-keyed windows rank ADC candidates then exact-cosine " +
       "rerank. No cartesian product, no collect anywhere in the plan."),
    "q_hnsw_batch" ->
      ("BATCHED graph-ANN beam (final hop + rank): the frontier⋈adjacency " +
       "equi-join keys on the node id with the query side broadcast, hop " +
       "state is a localCheckpointed scan (earlier hops materialized once — " +
       "no lineage re-execution), and the per-query top-k is ONE qid-keyed " +
       "rank window. No cartesian product; per-hop work is bounded by " +
       "ef·(m+1) adjacency rows per query."),
    "q_bm25_topk" ->
      ("BM25 retrieval: the tf aggregate shuffles only rows already filtered " +
       "to the query's terms; document frequencies and the single (N, avgdl) " +
       "stats row arrive via BroadcastExchange; the top-k is " +
       "TakeOrderedAndProject — no global sort, no wide join."),
    "q_data_card" ->
      ("Per-source data card: ONE parquet scan feeds one grouped aggregate " +
       "(the exact-unique count adds the Expand); no join anywhere — the " +
       "whole corpus summary is a single pass."),
    "q_weighted_sample" ->
      ("Weighted sampling without replacement: the integer Gumbel-top-k key " +
       "is a pure scan projection and the top-k is TakeOrderedAndProject — " +
       "ZERO Exchange operators in the whole plan."),
    "q_hard_negatives" ->
      ("Hard-negative mining: per-query probe cells resolve in-plan " +
       "(projection over literal centroid scores), the corpus prunes via a " +
       "cell equi-join with the label-mismatch filter BEFORE the qid-keyed " +
       "ranking window — no nested loop, no cartesian product."),
    "q_epoch_materialize" ->
      ("Epoch materialization: the |domains|-row rate table arrives via " +
       "BroadcastExchange and the epoch explode is a projection — the " +
       "corpus side never shuffles."),
    "q_semantic_drift" ->
      ("Semantic drift: BOTH snapshots' cell assignments are argmax " +
       "projections over literal centroids inside the scan stage (no join, " +
       "no shuffle for the assignment); the only aggregates are k-row cell " +
       "counts, and the PSI tail is a window over the k-row grid."),
    "q_zipf_fit" ->
      ("Zipf fit: the corpus appears ONCE as the token-count hash aggregate " +
       "(map-side combined); the regression runs over the V-row head — " +
       "TakeOrdered, a bounded single-partition window, one final " +
       "single-row aggregate."),
    "q_simhash_near_dups" ->
      ("SimHash Hamming-ball join: the 63-bit signature is a native " +
       "generated per-row expression — a pure projection inside the scan, " +
       "NO signature shuffle at all; candidates come from an equi-join on " +
       "(band, bucket) over a 4-rows-per-doc band table — no cross join " +
       "anywhere; the Hamming verify is a codegen'd bit_count(xor) " +
       "projection on the joined rows."),
    "q_signal_auc" ->
      ("Exact AUC: the corpus collapses to |distinct score| rows via a " +
       "partial hash aggregate BEFORE the single bounded rank window; the " +
       "output is one row — nothing corpus-sized crosses an exchange " +
       "except the score-domain aggregate itself."),
    "q_dd_quantiles" ->
      ("Quantile sketch: the corpus collapses to the ≤ 1009-row (octave, " +
       "sub) histogram via ONE partial hash aggregate with pure-integer " +
       "bucket math inside the scan; the cumulative window and the rank " +
       "probe run on that bounded table only."),
    "q_fpr_threshold" ->
      ("Budget-first operating point: partial aggregate to the |distinct " +
       "score| domain, ONE descending cumulative window on that bounded " +
       "table, min-struct pick — output is a single row."),
    "q_burstiness" ->
      ("Token burstiness: (doc, token) partial-aggregate collapse, " +
       "left-semi against the BROADCAST top-vocabK vocabulary before the " +
       "token rollup, 1-row doc-count broadcast — text never shuffles."),
    "q_ac_blocklist" ->
      ("Aho–Corasick blocklist gate: the operator is a staged projection " +
       "over the scan — the automaton pass appears ONCE (aliased, then " +
       "referenced by the hits/patterns columns) inside WholeStageCodegen; " +
       "the only Exchange is the dump's final orderBy; per-doc cost " +
       "O(len + hits) at any pattern count."),
    "q_bleu_pairs" ->
      ("BLEU-4: grams shuffle keyed (id, n, gram) into partial hash " +
       "aggregates, ONE equi-join against the reference grams, |pairs|-row " +
       "rollups — no window, no cartesian product, no driver state."),
    "q_hll_by_source" ->
      ("Grouped HLL: one map-side-combined aggregate collapses the corpus " +
       "to |groups|·2^p register rows; the estimator is a |groups|-row " +
       "aggregate on top — the only corpus-sized exchange carries " +
       "(grp, register, rank) triples."),
    "q_heaps_law" ->
      ("Heaps'-law fit: the corpus explodes ONCE into the persisted " +
       "(token, id, cnt) table (InMemoryTableScan feeds every checkpoint " +
       "branch); checkpoints are conditional aggregates over that table; " +
       "the fit is a 1-row aggregate crossed back via broadcast — no " +
       "window anywhere."),
    "q_triangle_count" ->
      ("Degree-ordered triangle counting: TWO equi-joins (wedge build on " +
       "the shared source, closure on the (v, w) pair) — no cartesian " +
       "product, no window; the orientation join against the broadcastable " +
       "degree table caps per-node wedge fanout at O(√E) under any skew."),
    "q_rouge_l" ->
      ("ROUGE-L: one equi-join pairs the two sides, then the O(m·n) LCS " +
       "dynamic program is a SINGLE generated expression inside " +
       "WholeStageCodegen (one static kernel call per pair) — no per-cell " +
       "lambda dispatch, no shuffle beyond the pair join, and the " +
       "P/R/F1 rationals are pure integer projections."),
    "q_linear_probe_eval" ->
      ("Ridge-probe application: the shipped micro-weight model joins via " +
       "BroadcastExchange, scores are map-side-combined integer hash " +
       "aggregates keyed on doc, and the confusion rollup is one final " +
       "single-row aggregate — the corpus crosses exactly one exchange " +
       "as (doc, y, partial-score) triples."),
    "q_minhash_near_dups_fast_candidates" ->
      ("Production near-dup candidates: hot buckets drop via a " +
       "BroadcastHashJoin LeftAnti (no sort, no extra wide shuffle), the " +
       "band self-join is an equi-join on (band, bandHash), and the " +
       "estimate prefilter reads only the cached k-long signatures."),
    "q_domain_kl_lazy" ->
      ("Per-source KL: ONE corpus scan — the (source, type) aggregate is " +
       "persisted and all three consumers (join probe, type totals, " +
       "source totals) read the InMemoryTableScan; totals ride as " +
       "BroadcastExchange sides."),
    "q_bigram_logprob_lazy" ->
      ("Interpolated-bigram LM: ONE corpus scan — the token arrays are " +
       "persisted and BOTH the unigram and bigram explodes read the " +
       "InMemoryTableScan; model tables are type-level equi-joins, " +
       "document text never shuffles."))

  /** Section titles of the [[PlanDump.stages]] entries above. */
  private val titles = Map(
    "q_minhash_near_dups_fast_candidates" -> "q_minhash_near_dups_fast (candidate stage)",
    "q_domain_kl_lazy" -> "q_domain_kl (lazy stage)",
    "q_bigram_logprob_lazy" -> "q_bigram_logprob (lazy stage)")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out   = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.local()
    val sb = new StringBuilder
    sb ++= "# PLANS — flagship physical plans (`explain formatted`)\n\n"
    sb ++= s"Generated by `graft.PlanAudit` against `$sfDir`. Each plan is the\n"
    sb ++= "real output of the committed code — regenerate after structural\n"
    sb ++= "changes with `sbt \"runMain graft.PlanAudit\"`. The load-bearing\n"
    sb ++= "shapes are also asserted by unit tests (plan-audit specs), so they\n"
    sb ++= "cannot silently regress.\n"
    audited.foreach { case (name, why) =>
      val plan = PlanDump.explain(spark, sfDir, name)
      sb ++= s"\n## ${titles.getOrElse(name, name)}\n\n$why\n\n```\n${plan.trim}\n```\n"
    }
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
