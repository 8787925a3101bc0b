package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ops.{ApproxDedup, Corpus, SimilaritySearch}

/** `explain("formatted")` of named frames, one `<outDir>/<name>.txt` each.
  * Run: `sbt "runMain graft.PlanDump <sfDir> <outDir> <name,...>"`.
  *
  * A name is any [[SparkEntry.queries]] entry (a staged entry runs its
  * build, then explains its probe) or one of the lazy [[stages]]. */
object PlanDump {

  /** A frame to explain and what frees the caches and checkpoints under it. */
  final case class Frame(df: DataFrame, release: () => Unit = () => ())

  /** Inner stages of entries whose public frame hides its shape: behind an
    * eager checkpoint (a LogicalRDD leaf) or inside a driver-side step. */
  val stages: Map[String, (SparkSession, String) => Frame] = Map(
    // the near-dup fast path checkpoints its pair list: r=4 banding, the
    // hot-bucket broadcast anti-join cap and the signature-estimate
    // prefilter before any shingle set shuffles
    "q_minhash_near_dups_fast_candidates" -> ((s, d) => {
      val (sig, cands) = ApproxDedup.minhashFastCandidates(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.5,
        shingleSize = 3, k = 24, bands = 6, estSlack = 0.25, maxBucket = 200,
        md5Base = true)
      Frame(cands, () => { sig.unpersist(); () })
    }),
    "q_domain_kl_lazy" -> ((s, d) => {
      val (kl, st) = Corpus.domainDivergenceLazy(
        Tables.documents(s, d), "source", "text")
      Frame(kl, () => { st.unpersist(); () })
    }),
    "q_bigram_logprob_lazy" -> ((s, d) => {
      val (lm, toks) = Corpus.bigramLogProbLazy(
        Tables.documents(s, d), "doc_id", "text", lambda = 0.7)
      Frame(lm, () => { toks.unpersist(); () })
    }),
    "q_repetition_matrix_lazy" -> ((s, d) => {
      val (out, tok, allG) = Corpus.repetitionMatrixLazy(
        Tables.documents(s, d), "doc_id", "text",
        Seq(2, 3, 4), Seq(5, 6, 7, 8, 9, 10))
      Frame(out, () => { tok.unpersist(); allG.unpersist(); () })
    }),
    // the Moore–Lewis scorer: one dual-model ladder
    "q_moore_lewis_select_lazy" -> ((s, d) => {
      val (out, toks, ckpts) = Corpus.crossEntropySelectSelfLazy(
        Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en", 0.5, 0.3)
      Frame(out, () => { toks.unpersist(); ckpts.foreach(ApproxDedup.freeCheckpoint) })
    }),
    // chrF's fused one-scan/one-aggregate gram build, the same
    // Evaluation.fusedGramCounts the operators and the equivalence pin use
    "q_chrf_pairs_gramstage" -> ((s, d) => {
      val cands = Tables.documents(s, d)
        .where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      Frame(graft.ops.Evaluation.fusedGramCounts(
        cands, "doc_id", regexp_replace(trim(col("text")), "\\s+", ""),
        1 to 6, graft.functions.TextFns.charNgrams, "cc"))
    }),
    // the OPQ build's encode projection, with q_opq_index_sync's parameters
    "q_opq_index_sync_encode" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val rot = SimilaritySearch.opqRotation(emb, "vec_id", "embedding",
        m = 8, ks = 128, nSample = 256, iters = 10)
      val rcents = SimilaritySearch
        .sampleCentroids(emb, "vec_id", "embedding", 16)
        .map(v => SimilaritySearch.rotateQuery(v, rot))
      val rcbs = SimilaritySearch.opqCodebooks(emb, "vec_id", "embedding",
        rot, m = 8, ks = 128)
      Frame(SimilaritySearch.withPqCodes(
          SimilaritySearch.withIvfCell(
            SimilaritySearch.withRotation(Tables.spread(
              emb.where(col("vec_id") % 2 === 0)), "embedding", rot, "rvec"),
            "rvec", rcents), "rvec", rcbs)
        .select(col("vec_id"), col("rvec"), col("pq"),
          col("cell").cast("long").as("cell")))
    }),
    // the stored-LM unigram count table off lmTokens: tokenize above the
    // spread exchange, no empty-doc filter below it
    "q_lm_index_sync_unistage" -> ((s, d) => {
      val toks = Corpus.lmTokens(Tables.documents(s, d), "doc_id", "text")
      val (u, _, _) = Corpus.trigramModelCountsFromToks(toks, 16)
      Frame(u)
    }),
    // q_tokenizer_ab's BPE fertility: freq-weighted sums over the trainer's
    // final |vocab|-row state (fertilityFromTrainedState's body, which
    // checkpoints eagerly)
    "q_tokenizer_ab_fertstage" -> ((s, d) => {
      val words = Corpus.vocab(Tables.documents(s, d), "text").localCheckpoint(true)
      val (_, bpeV) = Corpus.bpeTrainStateFromWords(words, 8)
      Frame(bpeV.select(col("freq"),
          size(split(col("sym"), " ")).cast("long").as("n_sub"),
          length(col("token")).cast("long").as("n_ch"))
        .groupBy(lit("bpe").as("__fam"))
        .agg(sum(col("freq")).as("n_words"),
          sum(col("freq") * col("n_sub")).as("n_subwords"),
          sum(col("freq") * col("n_ch")).as("n_chars")),
        () => { ApproxDedup.freeCheckpoint(bpeV); ApproxDedup.freeCheckpoint(words) })
    }))

  /** The formatted plan of `name`; the frame's inputs are released after. */
  def explain(spark: SparkSession, sfDir: String, name: String): String = {
    val f = stages.get(name).map(_(spark, sfDir)).getOrElse(Frame(
      SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown plan name: $name"))(spark, sfDir)))
    try f.df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    finally f.release()
  }

  /** Write each plan to `<outDir>/<name>.txt`; every name is checked before
    * anything runs. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Seq[Path] = {
    val unknown = names.filterNot(stages.keySet ++ SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown plan names: ${unknown.mkString(", ")}")
    val dir = Files.createDirectories(Paths.get(outDir))
    names.map { n =>
      val p = Files.writeString(dir.resolve(s"$n.txt"), explain(spark, sfDir, n))
      println(s"[plandump] $n -> $p")
      p
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, list) = args
    val spark = Session.local()
    try dump(spark, sfDir, outDir, list.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    finally spark.stop()
  }
}
