package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Physical-plan lint over EVERY driver query (round 7): walks each
  * query's non-adaptive physical plan (AQE's AdaptiveSparkPlanExec hides
  * its subtree from children-walks, so lint plans with AQE off) and
  * fails on the three classic scale-killers — unless the occurrence is
  * on the documented whitelist below. The whitelist is intent, not
  * amnesty: a NEW cartesian product, a NEW large-side nested-loop join,
  * or a NEW unpartitioned window in any query fails this spec loudly.
  *
  * Whitelisted-by-design:
  *   - BNLJ: the query-vs-corpus scoring joins broadcast a model-sized
  *     side (≤3 query vectors / a bounded replay fixture); a broadcast
  *     nested-loop with a tiny build side IS the right plan at 100 TB.
  *   - GLOBAL_WINDOW in q_rrf_hybrid_docs: the rank window runs over
  *     bm25TopK's already-cut top-25 frame — k rows at any corpus size.
  */
class PlanLintSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  private val bnljOk = Set(
    "q_bm25_topk_docs", "q_embedding_neardup_docs", "q_hashed_topk_docs",
    "q_jaccard_pairs_docs", "q_multimodal_embedding", "q_multimodal_replay",
    "q_quantized_topk", "q_rrf_hybrid_docs", "q_simhash_replay_docs",
    "q_similarity_topk_brute", "q_similarity_topk_lsh", "q_sql_functions_embeddings",
    // matryoshka truncation: both legs (d'=16 and full-dim) are the
    // bruteForceTopK shape — corpus × broadcast(3 query rows)
    "q_mrl_topk_embeddings",
    // MMR re-rank: the scoring stage is the bruteForceTopK shape
    // (corpus × broadcast(3 query rows)); the greedy stage is an
    // m-capped aggregation, never a join
    "q_mmr_rerank_embeddings",
    // sketch queries: both join sides are ONE-row aggregates (the sketch
    // row + the exact-count row) — a broadcast loop over one row is the
    // model-sized case the whitelist exists for
    "q_kmv_distinct_lineitem", "q_hll_distinct_lineitem",
    // resemblance: 1-row bottom-k estimate × 1-row exact-Jaccard exhibit
    "q_vocab_resemblance_docs",
    // zipf fit: 1-row OLS aggregate × 1-row corpus totals
    "q_zipf_docs",
    // histogram binning: the 1-row min/max bounds aggregate broadcasts
    // into the binning projection — the globalOrdinal / q_zipf class
    "q_plot_histogram_events",
    // ROC AUC rides globalOrdinal's 1-row bounds broadcast
    "q_roc_auc_docs",
    // quantile read: the non-equi rank-vs-cumulative join broadcasts the
    // ≤16·60-row bucket table (and, in the exact exhibit leg, the
    // distinct-value cum table — value-cardinality-sized, bounded by max
    // doc length) against 5 quantile rows
    "q_hdr_quantiles_docs",
    // PQ ADC scoring: corpus × broadcast(3 query LUTs) — the
    // bruteForceTopK shape (round 8)
    "q_pq_replay_topk",
    // OPQ: the same ADC shape — queries rotate driver-side, the corpus
    // side scans codes
    "q_opq_replay_topk",
    // binary ANN stage 1: signature corpus × broadcast(3 query
    // signatures) — the bruteForceTopK shape at 1/32 the scan bytes;
    // stage 2 is an equijoin on the model-sized candidate set
    "q_binary_topk",
    // mixture weights: model-sized domain table × broadcast(1-row Σc^τ)
    "q_domain_mixture_docs",
    // TF-IDF: two keyless 1-row broadcasts — the corpus-count row into
    // the idf projection (tfidfPostings) and the query-norm row into the
    // score (tfidfTopKFromPostings) — the q_kmv/q_hll/q_zipf class
    // (round 9; the r8 commit landed without this entry and reddened
    // the suite — see ARCHITECTURE.md "end-of-round invariant")
    "q_tfidf_topk_docs",
    // hard-negative mining: the scoring stage is the bruteForceTopK
    // shape (corpus × broadcast(3 anchor rows)); pos_max rides a keyed
    // broadcast-HASH join, and the k-cap is TopKAgg, never a join
    "q_hard_negatives_embeddings", "q_semihard_negatives_embeddings",
    // triplet assembly: same scoring shape; the positive leg is a keyed
    // window argmax, the join back is a keyed broadcast-hash join
    "q_triplets_embeddings",
    // IR eval: the run side is the bruteForceTopK shape; the metric
    // joins are query-keyed against model-sized frames
    "q_ir_eval_embeddings",
    // collocations: the 1-row token-total aggregate broadcasts into the
    // vocabulary-sized scored frame — the q_kmv class
    "q_collocations_docs",
    // PRF: three 1-row corpus-stats broadcasts (one per scoring pass)
    // — the q_kmv class; every data-bearing join is term- or doc-keyed
    "q_prf_topk_docs",
    // nearest-centroid classification: corpus × broadcast(label-count
    // centroid table) — the bruteForceTopK shape; the argmax is a
    // vec-keyed aggregate that collapses the expansion map-side
    "q_nearest_centroid_embeddings", "q_centroid_confusion_embeddings",
    // bootstrap CI: the run side is the bruteForceTopK shape (corpus ×
    // broadcast(64 query rows)); the resample grid and CI bounds are
    // eval-set/B-sized crossJoins of 1-row or ≤B-row broadcasts
    "q_bootstrap_ci_embeddings",
    // global ordinal: the 1-row (min,max) bounds broadcast — the whole
    // point of the operator is AVOIDING the corpus-sized global window
    "q_global_ordinal_docs",
    // label propagation: the pair GENERATOR is the bounded exact-Jaccard
    // probe (the q_jaccard_pairs_docs shape, ≤250 rows a side); the LP
    // iterations themselves are keyed joins + aggregates
    "q_label_prop_docs",
    // exact quantiles: the globalOrdinal bounds broadcast (1 row) plus
    // the |qs|-row rank-table broadcast
    "q_exact_quantiles_docs",
    // corpus drift: the 1-row (Na, Nb, V) totals broadcast into the
    // vocabulary-sized joint frame — the q_kmv class
    "q_corpus_drift_docs",
    // streaming drift read-out: same shape over the persisted stores
    "q_drift_stream_docs",
    // kappa: three 1-row aggregates (po, pe, n) broadcast-combined —
    // the q_kmv class
    "q_kappa_docs",
    // epoch-batched mining: the scoring stage is the bruteForceTopK
    // shape (corpus × broadcast(16 batch anchors)); the batch cut rides
    // globalOrdinal's 1-row bounds broadcast (round 10)
    "q_epoch_negatives_embeddings",
    // postings-backed PRF: the 1-row corpus-stats broadcast feeds each
    // of the three scoring passes — the q_kmv class, exactly the
    // q_prf_topk_docs entry's shape over the standing index (round 10)
    "q_prf_postings_docs",
    // Fleiss' kappa: two 1-row broadcasts (the (n_items, n_votes, p_bar)
    // rollup into the label-count-sized share frame, and the 1-row P_e
    // into the final row) — the q_kappa_docs class (round 11)
    "q_fleiss_kappa_docs",
    // Krippendorff's alpha: the 1-row chance numerator broadcast-combined
    // into the 1-row totals frame — the q_kappa_docs class (round 12)
    "q_krippendorff_docs")
  private val globalWindowOk = Set("q_rrf_hybrid_docs",
    // cumulative walks over the model-sized bucket table / the
    // distinct-length table — never over data rows
    "q_hdr_quantiles_docs",
    // zipf rank window runs over the ≤ topN-row TakeOrdered cut
    "q_zipf_docs",
    // bootstrap CI: the query-index window runs over the 64-row eval
    // set, the order-statistic rank window over the 200 resample means
    "q_bootstrap_ci_embeddings",
    // global ordinal: the offset window runs over the ≤nBuckets-row
    // count table; the data window is bucket-partitioned
    "q_global_ordinal_docs",
    // exact quantiles ride the same globalOrdinal offset window
    "q_exact_quantiles_docs",
    // epoch-batched mining's batch cut rides the same globalOrdinal
    // offset window (≤nBuckets rows; the data window stays
    // bucket-partitioned) — round 10
    "q_epoch_negatives_embeddings",
    // ROC AUC ranks via globalOrdinal: same ≤nBuckets-row offset window
    "q_roc_auc_docs")

  test("no unlisted cartesian / nested-loop / unpartitioned-window in any driver query plan") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    // toggle AQE off on the SHARED suite session (a fresh builder's config
    // would be silently ignored by getOrCreate when another suite already
    // created the session); restore afterwards
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def walk(p: SparkPlan): Seq[SparkPlan] =
        p +: p.children.flatMap(walk) ++: p.subqueries.flatMap(walk)
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val nodes = walk(fn(spark, sfDir).queryExecution.executedPlan)
        // blindness guard: if AQE still wrapped the plan, the walk sees
        // nothing — that's a broken lint, not a clean bill
        val blind = nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
        (if (blind) Seq(s"$name: LINT_BLIND_AQE_PLAN") else Seq.empty) ++ nodes.flatMap {
          case w: WindowExec if w.partitionSpec.isEmpty && !globalWindowOk(name) =>
            Some(s"$name: GLOBAL_WINDOW")
          case _: CartesianProductExec => Some(s"$name: CARTESIAN")
          case _: BroadcastNestedLoopJoinExec if !bnljOk(name) => Some(s"$name: BNLJ")
          case _ => None
        }.distinct
      }
      assert(offenders.isEmpty, s"scale anti-patterns in driver plans:\n${offenders.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  // ---- expression-duplication lint (round 8) ------------------------------
  // Round 7 hit the weightedKeep 4×-recompute trap: Catalyst's
  // filter-through-project inlining duplicated an expensive scoring
  // expression once per reference, silently multiplying its cost. This
  // pass walks each driver query's OPTIMIZED logical plan and fails when
  // any single operator evaluates the same non-trivial expression
  // subtree (≥ 8 nodes) three or more times — codegen's common-
  // subexpression elimination does not reach across separate condition /
  // projection slots in all operators, so a ≥3× textual duplicate is a
  // real recompute risk. The whitelist is per (query, reason): entries
  // must name why the duplication is bounded or intended.

  /** (query name, substring of the flagged expression) pairs accepted as
    * bounded-by-design. Every entry must name why the duplication is
    * cheap; per-row O(len) duplicates (a split, a fold, a window
    * aggregate) are NEVER whitelisted — those get fixed (round 8 fixed
    * three: the simhash-replay 64× rolling hash, the langId 8× split,
    * the mutual-info 3× window min/max). */
  private val exprDupOk: Set[(String, String)] = Set(
    // mixHash's avalanche steps reference their input register several
    // times by construction (x ^ (x >>> 16) etc.) — O(1) integer
    // arithmetic per row, the textbook shape of a hash finalizer; the
    // expensive-input variant of this trap (duplicating the SUBTREE the
    // register is computed from) is exactly what the KMV input-column-
    // filter fix eliminated (ARCHITECTURE.md, round 7)
    ("q_epoch_shuffle_docs", "pmod(doc_id, 2147483648L)"),
    // epoch-batched mining: the same epoch-keyed mixHash chain on the
    // anchor id (globalOrdinal's pushed isnotnull + bucket arithmetic
    // restate it) — O(1) integer arithmetic on a read column; the
    // expensive work (cosine scoring) is downstream and not duplicated
    ("q_epoch_negatives_embeddings", "pmod(vec_id, 2147483648L)"),
    // DSIR's Gumbel key: the same epoch-keyed mixHash chain (sort key +
    // output column inline it) — O(1) integer arithmetic on the id, the
    // expensive per-gram work is aggregated before this projection
    ("q_dsir_select_docs", "pmod(doc_id, 2147483648L)"),
    // ES weighted-sample key: same epoch-keyed mixHash chain as DSIR
    // (the split-multiply avalanche references its own input twice per
    // step, so the chain self-duplicates structurally) — O(1) integer
    // arithmetic on the id; the expensive tokenizer projection sits in
    // its own upstream Project and is evaluated once
    ("q_weighted_sample_docs", "pmod(doc_id, 2147483648L)"),
    ("q_hll_distinct_lineitem", "pmod(l_partkey, 2147483648L)"),
    ("q_kmv_distinct_lineitem", "pmod(l_partkey, 2147483648L)"),
    // same mixHash-avalanche duplication over the STAGED gram surrogate
    // `gh` (unpacked once from the GramWalk KarpRabin(3) walk in its own
    // projection; only the O(1) integer mix is triplicated by
    // hllBucketRank's bucket + two rank reads)
    ("q_distinct_ngrams_approx_docs", "pmod(gh, 2147483648L)"),
    // bottom-k resemblance sort key: the same mixHash avalanche on the
    // raw groupBy key — O(1) integer arithmetic per DISTINCT key, applied
    // after the aggregate (the expensive side, per-occurrence text
    // hashing, is upstream and not duplicated)
    ("q_vocab_resemblance_docs", "pmod(id, 2147483648L)"),
    // zipf OLS: the variance/covariance terms appear in the guard AND the
    // ratio of both slope and r2 — a projection over a ONE-row aggregate,
    // O(1) arithmetic total
    ("q_zipf_docs", "(CAST(n AS DOUBLE) * sxx) - (sx * sx)"),
    // the long-form lag explode materializes one struct per (pair, lag)
    // combination; each entry re-states the O(1) null/NaN CASE guard on
    // an already-read double — the explode IS the rewrite that killed
    // the 144-aggregate compile cost (round 7), and the guard is scalar
    ("q_lagged_corr_lineitem", "CASE WHEN ((l_extendedprice IS NOT NULL)"),
    ("q_lagged_corr_lineitem", "CASE WHEN ((l_discount IS NOT NULL)"),
    ("q_rolling_corr_lineitem", "CASE WHEN ((l_quantity IS NOT NULL)"),
    // Spark's own sliding-window Expand: one projection per overlapping
    // window slice, each repeating the O(1) window-start arithmetic —
    // engine-internal and scalar
    ("q_sliding_events", "precisetimestampconversion(ts)"))

  test("no operator evaluates the same non-trivial expression subtree 3+ times") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    import org.apache.spark.sql.catalyst.expressions.{Expression, AttributeReference, Literal}
    def exprSize(e: Expression): Int = 1 + e.children.map(exprSize).sum
    val minSize = 8
    val minCount = 3
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      plan.collect { case node =>
        // all expression subtrees evaluated by this one operator
        val subtrees = node.expressions.flatMap(_.collect {
          case e: Expression if !e.isInstanceOf[AttributeReference] &&
            !e.isInstanceOf[Literal] => e
        })
        val dups = subtrees
          .filter(exprSize(_) >= minSize)
          .groupBy(_.canonicalized)
          .filter(_._2.length >= minCount)
        // keep only MAXIMAL duplicated subtrees: a big duplicate's own
        // children are duplicated too — reporting them adds noise
        val flaggedKeys = dups.keySet
        val maximal = dups.filter { case (_, exs) =>
          val rep = exs.head
          !flaggedKeys.exists(k => k != rep.canonicalized &&
            dups(k).head.collect { case c: Expression => c.canonicalized }
              .drop(1).contains(rep.canonicalized))
        }
        maximal.toSeq.map { case (_, exs) =>
          val desc = exs.head.sql.take(90)
          (name, node.nodeName, exs.length, desc)
        }
      }.flatten
    }.filterNot { case (q, _, _, desc) =>
      exprDupOk.exists { case (wq, frag) => wq == q && desc.contains(frag) }
    }
    val report = offenders.map { case (q, op, n, d) => s"$q [$op] ×$n: $d" }
    assert(offenders.isEmpty,
      s"duplicated expression subtrees (≥$minCount× in one operator, size ≥$minSize):\n${report.mkString("\n")}")
  }

  // ---- gram-building lint --------------------------------------------------
  // Grams are built by the native gram walk (graft.expr.GramWalk), never by
  // a posexplode → doc-keyed sort → `lead` window. The check reads EVERY
  // physical plan a query executes, its eager Ckpt.pin jobs included: a
  // pin cuts its subplan out of the final plan, where a final-plan walk
  // would never see it.

  /** The queries whose grams a `lead` window used to build. */
  private val gramQueries = Seq("q_dedup_minhash_docs", "q_dsir_select_docs",
    "q_textrank_docs", "q_phrase_blocklist_docs", "q_vocab_resemblance_docs")

  test("no gram-building query plans a Lead window function") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    import org.apache.spark.sql.catalyst.expressions.Lead
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val helper = new AdaptiveSparkPlanHelper {}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    // the listener bus is asynchronous: a sentinel action run after the
    // query marks the point by which every earlier plan has arrived
    def drain(name: String): Seq[SparkPlan] = {
      val tag = s"lint_sentinel_${name}"
      spark.range(1).selectExpr(s"id AS $tag").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def seen = plans.toArray(Array.empty[SparkPlan]).exists(_.output.exists(_.name == tag))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen, s"$name: the sentinel plan never reached the listener")
      plans.toArray(Array.empty[SparkPlan]).toSeq
    }
    spark.listenerManager.register(listener)
    try {
      val offenders = gramQueries.flatMap { name =>
        plans.clear()
        SparkEntry.queries(name)(spark, sfDir).collect()
        val captured = drain(name)
        assert(captured.size >= 2, s"$name: no query plan was captured")
        captured.flatMap(p => helper.collectWithSubqueries(p) {
          case w: WindowExec if w.windowExpression.exists(_.exists(_.isInstanceOf[Lead])) =>
            s"$name: ${w.windowExpression.map(_.sql).mkString(", ").take(120)}"
        })
      }
      assert(offenders.isEmpty, s"lead windows in gram-building plans:\n${offenders.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }
}
