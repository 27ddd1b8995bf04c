package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.GramWalk
import graft.expr.GramPayload.Tuple

/** DSIR — Data Selection via Importance Resampling (Xie, Santurkar, Ma &
  * Liang, NeurIPS 2023): pick raw-corpus documents whose hashed n-gram
  * distribution resembles a small TARGET corpus, by (1) fitting hashed
  * bag-of-n-grams models to both corpora, (2) scoring every raw document
  * with the summed log importance ratio of its grams, and (3) Gumbel-top-k
  * resampling on the log weights — the public recipe behind
  * quality-targeted pre-training subsets.
  *
  * Scale shape: the models are BUCKET tables (`buckets` rows — a model,
  * never data), trained with one gram-keyed partial aggregate per corpus.
  * Scoring explodes each doc into its 2n−1 gram rows (a map-only gram
  * walk — no window, no per-doc sort), joins the broadcast ratio table,
  * and aggregates back per doc with a map-side-combined doc_id groupBy,
  * so scoring costs one corpus shuffle total. Resampling is a global
  * (rank-exchange) sort-limit on the scored table.
  *
  * Determinism: gram hashing is Karp–Rabin modular arithmetic
  * ([[TextStats.rollingHash]]) and the Gumbel noise derives from
  * [[Sampling.epochShuffleRank]]'s replayable mixed hash, so the whole
  * pipeline — models, scores, AND the sampled subset — replays in SQL
  * (q_dsir_select_docs).
  */
object Dsir {

  /** Hashed (unigram + bigram) gram-bucket rows: (doc_id, bucket), one
    * row per gram occurrence. Each token is Karp–Rabin-folded ONCE into
    * the row's token-hash array, in its own projection — the bigram hash
    * combines the two token hashes arithmetically ((h1·1000003 + h2)
    * mod p, every intermediate < 2^63) instead of re-folding the
    * concatenated string, halving the per-character work (measured 2×
    * on the r8 driver query). One [[graft.expr.GramWalk]] `Tuple(2)` then
    * pairs every token hash with its successor (null at the doc tail),
    * map-only. Each input row is its own token stream: rows that share
    * an id are not merged into one stream. */
  private[graft] def gramBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val carry = carryCols.map(col)
    val (h1, h2) = (col("t")(0), col("t")(1))
    docs.select(col(idCol).as("doc_id") +: carry :+
        transform(Dedup.tokens(col(textCol)), TextStats.rollingHash(_)).as("hs"): _*)
      .select(col("doc_id") +: carry :+ explode(GramWalk.grams(col("hs"), Tuple(2))).as("t"): _*)
      .select(col("doc_id") +: carry :+ explode(concat(
        array(h1),
        when(h2.isNotNull,
          array(pmod(h1 * lit(1000003L) + h2, lit(1000000007L))))
          .otherwise(array().cast("array<bigint>")))).as("h"): _*)
      .select(col("doc_id") +: carry :+
        pmod(col("h"), lit(buckets.toLong)).as("bucket"): _*)
  }

  /** Fit both hashed-n-gram models and return the per-bucket log
    * importance ratio table (bucket, log_ratio) with add-`smoothing`
    * Laplace mass: log_ratio(b) = ln((c_t(b)+a)/(T_t+aB)) −
    * ln((c_r(b)+a)/(T_r+aB)). ALL `buckets` rows are materialized (a
    * bucket unseen in both corpora carries the constant prior ratio), so
    * the scoring join is a plain inner equijoin with full coverage. The
    * two totals are 1-row aggregates collected on the driver — model
    * bookkeeping, not data. */
  def trainImportanceRatios(
      target: DataFrame,
      raw: DataFrame,
      textCol: String = "text",
      buckets: Int = 1 << 16,
      smoothing: Double = 1.0,
      idCol: String = "doc_id"): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    // pin the bucket-count tables (≤ buckets rows — models): each has
    // THREE consumers (its total collect, the ratio join, and — through
    // the returned frame — every downstream score pass), which would
    // otherwise each replay the corpus-wide gram pass. The
    // trainBigramModel multi-consumer fix, same shape (measured r8:
    // unpinned, q_dsir_select_docs ran 6 gram passes / 4.4 s).
    def counts(corpus: DataFrame): DataFrame =
      graft.core.Ckpt.pin(gramBuckets(corpus, idCol, textCol, buckets)
        .groupBy("bucket").agg(count(lit(1)).as("c")))
    logRatios(counts(target), counts(raw), buckets, smoothing)
  }

  /** The (bucket, log_ratio) table of [[trainImportanceRatios]] from the
    * target and raw (bucket, c) count tables: every bucket row, each
    * corpus total collected as a 1-row aggregate. */
  private def logRatios(ct: DataFrame, cr: DataFrame, buckets: Int,
      smoothing: Double): DataFrame = {
    val tT = ct.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val tR = cr.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    ct.sparkSession.range(buckets).select(col("id").as("bucket"))
      .join(ct.withColumnRenamed("c", "ct"), Seq("bucket"), "left")
      .join(cr.withColumnRenamed("c", "cr"), Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + lit(smoothing)) /
          lit(tT + smoothing * buckets)) -
         log((coalesce(col("cr"), lit(0L)) + lit(smoothing)) /
          lit(tR + smoothing * buckets))).as("log_ratio"))
  }

  /** [[trainImportanceRatios]] + [[dsirScores]] in one gram pass, for the
    * common shape where the TARGET is a row filter of the raw corpus and
    * the raw corpus is what gets scored: `isTarget` marks the target
    * rows, and both models train on `raw` itself. Use it whenever the
    * target is a subset of the scored corpus; use the two-call form when
    * the target is a separate frame, or to score other frames (or
    * several) with one trained ratio table.
    *
    * The pair of calls runs the tokenize + Karp–Rabin + bigram gram
    * pipeline THREE times (target counts, raw counts, scoring —
    * ProbeStages r16: three single-task map stages of 130/203/280 ms at
    * sf0.1, 16 sequential jobs). Here the corpus explodes ONCE into a
    * pinned (doc_id, is_target, bucket) frame and the target counts, raw
    * counts and the scoring join all read the leaf. Float-exact against
    * the two-call path: the count longs, the totals and the log-ratio
    * expression tree are identical, and each doc's log ratios are summed
    * in its own gram order by the map-side partial aggregate of the task
    * that walked its row (one row per id — rows that share an id may
    * merge their partial sums in either order). DsirSpec pins the
    * equivalence. */
  def dsirScoresSelfTrained(
      raw: DataFrame,
      isTarget: Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 1 << 16,
      smoothing: Double = 1.0): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    val grams = graft.core.Ckpt.pin(
      gramBuckets(raw.withColumn("__tgt", isTarget), idCol, textCol, buckets,
        carryCols = Seq("__tgt")))
    def counts(g: DataFrame): DataFrame =
      graft.core.Ckpt.pin(g.groupBy("bucket").agg(count(lit(1)).as("c")))
    val ratios = logRatios(counts(grams.filter(col("__tgt"))), counts(grams),
      buckets, smoothing)
    grams
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("log_ratio").as("dsir_logw"))
  }

  /** Per-document importance score: (doc_id, n_grams, dsir_logw) with
    * dsir_logw = Σ over the doc's grams of log_ratio(bucket). Docs whose
    * text yields no tokens produce no row (no evidence — the resampler
    * never selects them). The ratio table is broadcast by contract
    * (`buckets` rows). */
  def dsirScores(
      docs: DataFrame,
      ratios: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 1 << 16): DataFrame =
    gramBuckets(docs, idCol, textCol, buckets)
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("log_ratio").as("dsir_logw"))

  /** Gumbel-top-k importance resampling (the Gumbel-max trick: adding
    * i.i.d. standard Gumbel noise to log weights and taking the top k
    * samples k docs WITHOUT replacement with probability ∝ w): noise
    * g = −ln(−ln(u)) with u from the replayable epoch-keyed mixed hash,
    * so the same (epoch, corpus) always draws the same subset and every
    * retry/executor sees identical selections. Returns the k selected
    * rows with their perturbed `gumbel_key`, highest first. */
  def dsirResample(
      scored: DataFrame,
      k: Int,
      epoch: Int = 0,
      idCol: String = "doc_id",
      logwCol: String = "dsir_logw"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (Sampling.epochShuffleRank(col(idCol), epoch).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    scored
      .withColumn("gumbel_key", col(logwCol) - log(-log(u)))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }
}
