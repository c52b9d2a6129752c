package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Benchmark harness — the reference's protocol (SURVEY §2.A A13/A14,
  * benchmark.py:34-124): n=3 repetitions per query, mean/std/median, a
  * pruned-partition-scan vs full-scan contrast (the repo's namesake
  * comparison, README.md:164-174), and a cross-mode probe-key equality
  * assert before any timing is trusted.
  *
  * Measurement-trust rules (hard-learned from the r6/r7 artifacts):
  *   - Every derived headline ratio (pruned_vs_full, scaling
  *     time_ratio) is computed from MEDIANS. A single loaded-machine
  *     rep moves a 3-rep mean by a third of the spike but the median
  *     not at all — BENCH_r07 printed a fake flagship 4.64× scaling
  *     from one contaminated mean that its own medians refuted. Means
  *     and stds stay in the raw dump for contention diagnosis.
  *   - A rep that throws is EXCLUDED from the timing stats and the
  *     query is flagged in a top-level "errors" object. Averaging a
  *     near-zero failed-rep wall time silently converts a broken
  *     query into a fast one.
  *   - Both sides of the scaling contrast run the same protocol: a
  *     global prewarm pass over the query set at that sf dir, then
  *     timed reps with no per-query warm rep. Mixing a
  *     globally-prewarmed big side with a per-query-warmed small side
  *     compares two different measurement protocols.
  *   - All compared scaling points are timed ADJACENT, inside the
  *     scaling phase, each with its own load-sentinel reading — the
  *     mid point is re-timed there rather than reusing the headline
  *     stats (r12's headline ran in a sentinel-3.78 window while the
  *     small point ran calm, and the asymmetry printed a fake 21×
  *     mid/small for x132 whose clean-session median is 3.6 s).
  *   - A fixed-work LOAD SENTINEL is timed at run start and end: when
  *     a round's numbers jump with no code change (the r10 cold-lake
  *     run), the sentinel says whether the machine, not the code,
  *     moved.
  *
  * Artifact-delivery rules (hard-learned from BENCH_r08..r10, all
  * three `rc 124 / parsed: null`):
  *   - The run CHECKPOINTS: after every phase the full record so far
  *     is rewritten to the artifact files and a COMPACT cumulative
  *     JSON line (< ~2 KB — driver log capture keeps only a short
  *     tail) is printed to stdout. A timeout kill at any point leaves
  *     the last phase's complete, parseable record on disk and in the
  *     tail — never a truncated single mega-line.
  *   - The big scale point is TRIMMED to the riskiest shapes at 2
  *     reps, and expensive phases are skipped (with the reason in the
  *     artifact) when the SPARK_GRAFT_BENCH_BUDGET_SEC budget is
  *     nearly spent, so the driver-visible run finishes with rc 0.
  *   - The FULL record (means/stds/medians/raw per-rep times/scaling
  *     detail) lives in bench/bench_latest.json (committed) and
  *     /tmp/graft-bench.json; the stdout line carries the headline
  *     numbers plus a pointer.
  */
object Bench {

  /** Per-query timing result. `err` carries the first failure message
    * when any rep (or the prewarm) threw; stats are over the
    * successful reps only (`raw` lists them in run order). A query
    * whose every rep failed has okReps == 0 and zeroed stats —
    * callers must treat it as broken, never as fast.
    */
  final case class QueryStats(name: String, mean: Double, std: Double,
      median: Double, okReps: Int, err: Option[String],
      raw: Seq[Double] = Nil)

  /** Bound a captured error message: newlines flattened (the artifact
    * is one line) and truncated to 200 chars of RAW text. No JSON
    * escaping here — `QueryStats.err` stores the raw message and
    * [[jsonEscape]] escapes exactly once at emission time. The old
    * scheme escaped in both places AND truncated after escaping, so the
    * cut could split a two-char escape pair and leave a lone trailing
    * backslash that ate the JSON closing quote — the exact
    * 'parsed: null' failure the artifact file exists to prevent.
    */
  private def clip(msg: String): String =
    Option(msg).getOrElse("null")
      .replace("\n", " ").replace("\r", " ").take(200)

  /** The single JSON-escape point for error text: backslash, quote,
    * and EVERY control char < 0x20 — a raw tab in a captured exception
    * message is invalid JSON to strict parsers and would null the
    * whole artifact parse.
    */
  private def jsonEscape(s: String): String = {
    val b = new StringBuilder
    clip(s).foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** One timed rep of `run`: wall seconds plus, when it threw, the
    * (clipped, class-prefixed) error. Spark-free so the failure
    * contract is unit-testable with a deliberately-throwing thunk
    * (BenchSpec).
    */
  def timeRep(name: String)(run: () => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { run(); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name: ${e.getMessage}")
        Some(s"${e.getClass.getSimpleName}: ${clip(e.getMessage)}")
      }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Stats over timed reps: failed reps are EXCLUDED and the first
    * error is kept; a query with no successful rep gets zeroed stats
    * and an err.
    */
  def repStats(name: String, reps: Seq[(Double, Option[String])]): QueryStats = {
    val ok = reps.collect { case (t, None) => t }
    val firstErr = reps.flatMap(_._2).headOption
    if (ok.isEmpty)
      QueryStats(name, 0.0, 0.0, 0.0, 0, firstErr.orElse(Some("all reps failed")))
    else {
      val mean = ok.sum / ok.size
      val std = math.sqrt(ok.map(t => (t - mean) * (t - mean)).sum / ok.size)
      val sorted = ok.sorted
      val median =
        if (ok.size % 2 == 1) sorted(ok.size / 2)
        else (sorted(ok.size / 2 - 1) + sorted(ok.size / 2)) / 2
      QueryStats(name, mean, std, median, ok.size, firstErr, ok)
    }
  }

  /** Untimed warm rep: its seconds are returned for display only and a
    * failure is logged, never recorded in the stats.
    */
  private def warmRep(name: String)(run: () => Unit): Double =
    timeRep(s"$name warm rep")(run)._1

  /** Time `run` for `reps` repetitions (see [[repStats]]).
    *
    * Per-query untimed warm rep (VERDICT r14 #2): heavy shapes whose
    * artifacts/caches decay between the GLOBAL prewarm pass and their
    * own timed reps (~70 queries later in the headline) recorded
    * monotonically-decaying triples (x132 [14.0, 11.2, 4.4] vs a
    * 4.4 s steady state). One warm run immediately before the timed
    * reps restores steady state. The reference's own protocol note
    * is weaker but pointing the same way: benchmark.py's docstring
    * advises re-running the script because the first (cold) run "may
    * be slower than the others" — it never times a cold rep as the
    * steady-state number. Either way the change is declared: every
    * query that takes the warm rep is stamped in the artifact's
    * heavy_warm field, so the JSON says exactly what was timed.
    */
  def measure(name: String, reps: Int, warmFirst: Boolean = false)(
      run: () => Unit): QueryStats = {
    if (warmFirst) warmRep(name)(run)
    repStats(name, Seq.fill(reps)(timeRep(name)(run)))
  }

  /** In-session A/B(/C…) timing: each arm is warmed once, then the arms
    * are timed INTERLEAVED for `rounds` rounds (A B A B …) — the only
    * protocol on this box that separates an arm's effect from window
    * drift (cross-session walls for sub-2 s queries vary up to ±2×;
    * see OPTIMIZATION_r18.md "Measurement protocol"). Returns each
    * arm's warm-rep seconds and its [[repStats]]; an arm that throws is
    * flagged in its own err without touching the others' stats.
    */
  def measureArms(name: String, rounds: Int)(
      arms: Seq[() => Unit]): Seq[(Double, QueryStats)] = {
    val warm = arms.map(warmRep(name))
    val timed = Seq.fill(rounds)(arms.map(timeRep(name)))
    arms.indices.map(i => (warm(i), repStats(name, timed.map(_(i)))))
  }

  /** One rep of registered query `name` at `dir` — the single place
    * that decides how a warm, prewarm or timed rep executes a query
    * (today `count()`). Returns the row count.
    */
  def runQuery(spark: SparkSession, name: String, dir: String): Long =
    SparkEntry.queries(name)(spark, dir).count()

  /** JSON object mapping each failed query to its first error — empty
    * when everything ran clean. Split out so BenchSpec can pin the
    * "a broken query surfaces in the artifact" contract.
    */
  def errorsJson(stats: Seq[QueryStats]): String =
    stats.collect { case QueryStats(n, _, _, _, _, Some(e), _) =>
      s""""$n":"${jsonEscape(e)}""""
    }.mkString("{", ",", "}")

  /** Files actually read by the plan's parquet scans, counted AFTER
    * partition pruning. `DataFrame.inputFiles` resolves the listing
    * before pruning (it reports the full table), so the real evidence
    * is the executed plan's `numFiles` metric, populated when the scan
    * runs. AQE wraps the plan in AdaptiveSparkPlanExec; unwrap to reach
    * the final physical scans.
    */
  def scanFileCount(df: DataFrame): Long = {
    // Execute THIS plan instance (df.count() would build and run a
    // separate QueryExecution whose metrics we couldn't read back).
    val plan = df.queryExecution.executedPlan
    plan.execute().count()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: FileSourceScanExec    => Seq(s)
        case other => other.children.flatMap(scans) ++
          other.subqueries.flatMap(scans)
      }
    scans(plan).map(_.metrics("numFiles").value).sum
  }

  /** Distinct join-operator node names in the AQE-FINAL physical plan
    * of `df`, sorted and '+'-joined (e.g.
    * "BroadcastHashJoin" / "SortMergeJoin"). Executes the plan (AQE
    * only finalizes strategies at runtime) — the scale artifact
    * records, per scale point, which side of the broadcast→SMJ cliff
    * a join actually ran on, instead of leaving it inferred.
    */
  def joinStrategy(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.execute().count()
    def joins(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p match {
        case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
        // materialized AQE stages report no children; descend into the
        // finalized stage plan explicitly
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          joins(q.plan)
        case other =>
          (if (other.nodeName.contains("Join")) Seq(other.nodeName) else Nil) ++
            other.children.flatMap(joins) ++ other.subqueries.flatMap(joins)
      }
    joins(plan).distinct.sorted.mkString("+")
  }

  /** Headline set: engine flagship, the pruned/full contrast pair, a
    * large join, a wide aggregate, a window, the temporal joins, the
    * iterative components operator, a streaming ingest, and the
    * LLM-pipeline representatives.
    *
    * Label note: p01 is an end-to-end ELT pipeline and s07 a streaming
    * ingest — each rep times write + re-read by design, not a read-only
    * query. x03/x18 reps read their lake-checkpointed artifacts (built
    * on the untimed prewarm pass) — the amortized repeat-invocation
    * path a warm engine serves.
    */
  private val headline = Seq(
    "flagship", "b02_glob_scan", "b03_pruned_scan", "b09_partial_final",
    "c02_join_large", "c07_agg_tpch_q1", "c12_window_rownum",
    "c31_asof_join", "c32_range_join", "c50_range_pairs",
    "c44_bucketed_join", "p01_pipeline_topk", "s07_stream_ingest_partitioned",
    "x03_dedup_minhash", "x07_cosine_topk", "x10_text_stats",
    "x12_token_count", "x14_multimodal_decode", "x15_tfidf",
    "x18_dedup_components", "x19_curation",
    "x25_contamination_screen", "x27_sequence_pack", "x31_passage_dedup",
    "x32_bloom_contamination", "x33_incremental_dedup",
    "x37_training_shuffle", "x39_embed_centroids",
    "x40_quality_survivor", "x43_source_overlap", "x45_snm_neardup",
    "x46_bigram_logprob", "x50_novelty", "x51_quality_tiles",
    "x52_vocab_coverage",
    // session-3 additions: the iterative graph shape and the
    // persisted-partial rollup (headline grows 35 → 37 queries here)
    "x69_pagerank", "x70_hist_rollup",
    // session-5 additions (37 → 43): the sliding-gram span join
    // (shift-invariant dedup — the new quadratic-risk shape), blocked
    // Levenshtein, the real-codec perceptual hash, the vocabulary
    // self-join affinity matrix, the one-pass DQ gate, and the
    // bounded-state heavy hitters
    "x92_span_dedup", "x91_edit_distance_dedup", "x94_phash_dedup",
    "x95_domain_affinity", "p12_dq_expectations", "x101_heavy_hitters",
    // session-6 additions (43 → 49): the two-leg hybrid retrieval
    // fusion (BM25 + cosine + RRF in one plan), the iterated
    // vocab-table BPE merge rounds, the two event-window shapes
    // (transition lag matrix, µs holding-interval aggregate), the
    // two-stage PRF retrieval loop, and the basket-bounded
    // association-rule self-join
    "x122_hybrid_rrf", "x121_bpe_train_steps", "c78_markov_paths",
    "c81_time_weighted_avg", "x125_prf_expansion",
    "x127_association_rules",
    // round-12 additions (49 → 52): the second link-analysis
    // iteration (HITS), the bounded-pass farthest-point coreset, and
    // the integer-exact privacy-distribution audit
    "x129_hits", "x130_kcenter_coreset", "x131_t_closeness",
    // round-12 session-7 additions (52 → 56): the hub-discounted
    // wedge join (x132 — the O(E^1.5) wedge stream is the scaling
    // risk), the all-pairs kNN graph off LSH collisions (x137 — the
    // candidate-volume shape for graphs), the survival estimator's
    // user-shuffle + bounded-window chain (c84), and the binned-ECDF
    // sup-distance monitor (x133)
    "x132_adamic_adar", "x137_knn_graph", "c84_kaplan_meier",
    "x133_ks_drift",
    // round-12 session-8 additions (56 → 60): the join-free
    // sum-vector isotropy pass (x147 — the algebraic elimination of
    // pairwise work, benched to prove the O(N) claim), the
    // personalized fixed-point iteration (x144), the KN model build
    // + one-shuffle doc scoring (x148), and the blocking+scoring
    // linkage chain over the x05 shingle artifact (x150)
    "x147_isotropy", "x144_personalized_pagerank", "x148_kneser_ney",
    "x150_record_linkage",
    // round-12 session-9 additions (60 → 64): PageRank composed over
    // the vocabulary-sized co-occurrence graph (x164 — model-sized
    // iteration where x69's is entity-sized), the cell-lattice
    // density clustering (x166 — the reduce-to-cells-then-iterate
    // shape), the days²-bounded pairwise-slope median (x160), and
    // the N×K broadcast silhouette scan (x162)
    "x164_textrank", "x166_grid_cluster", "x160_theil_sen",
    "x162_silhouette",
    // round-12 session-9 second wave (64 → 70): the vocabulary-spine
    // MI ranking (x174 — model-shaped fan-out over the tf artifact),
    // the user-shuffle Shapley window pass (c87), the stratum-frame
    // causal pair (c86 — quartile cuts + plurality window), the
    // distinct-score gain rollup (x169), the degree-MLE readout off
    // the persisted artifact (x172), and the 4-hop BFS ball (x173)
    "x174_token_mi", "c87_shapley_attribution", "c86_cem_matching",
    "x169_gain_curve", "x172_powerlaw_alpha", "x173_bfs_diameter",
    // round-13 additions (70 → 74): the cell-frame scorer-evaluation
    // suite (x186 — the fact table is touched exactly once), the
    // per-source-window + broadcast-interval normalization (x191),
    // the one-pass sufficient-statistic regression (x196), and the
    // inverted-index sparse-cosine pair join (x199 — the lexical
    // candidate-volume shape beside x03's banding)
    "x186_roc_auc", "x191_quantile_normalize", "x196_ols_normal_eq",
    "x199_sparse_cosine_pairs",
    // round-14 session-2 additions (74 → 77): the d²-cell Gram
    // self-join (x224 — the feature-pair fan-out shape), the
    // three-hop walk-count vector iteration (x220), and the
    // vocabulary-support divergence pass (x222)
    "x224_linear_cka", "x220_katz_centrality", "x222_js_divergence",
    // round-14 session-3 additions (77 → 79): the group×support ECDF
    // spine with three integral masses (x248 — the spine grows with
    // the value support, not the corpus), and the char-trigram
    // multiset pair join over the x05 candidates (x259 — the
    // char-grain volume class on the pair-bounded join)
    "x248_energy_distance", "x259_chrf_pairs",
    // round-15 additions (79 → 81): the ordered-pair gram join over
    // the bounded 200-doc sample (x288 — sample²-bounded BY DESIGN,
    // the control shape whose wall should stay FLAT as the corpus
    // grows), and the recall-side pair grading on the x239 candidate
    // set (x285 — candidate-bound, the same volume class as x259)
    "x288_self_bleu", "x285_rouge_pairs",
    // round-16 additions (81 → 94): the canonical TPC-H plan classes
    // — the decorrelated scalar-average threshold (c107 Q17), the
    // HAVING-subquery semi-join top-k (c108 Q18), the chained
    // existential semi/anti pair (c109 Q21), the lapsed-customer
    // anti-join + broadcast scalar threshold (c110 Q22), and the
    // second wave completing every partsupp-free published query:
    // the both-relation correlated EXISTS (c111 Q4), the pure
    // pushdown scan-agg (c112 Q6), the symmetric nation disjunction
    // (c113 Q7), the 7-relation conditional share (c114 Q8), the
    // exact-revenue top-20 (c115 Q10), the filter-in-ON outer
    // count-of-counts (c116 Q13), the promo share (c117 Q14), the
    // exact-equality argmax (c118 Q15), and the OR-residual hash
    // join (c119 Q19)
    "c107_tpch_q17", "c108_tpch_q18", "c109_tpch_q21", "c110_tpch_q22",
    "c111_tpch_q4", "c112_tpch_q6", "c113_tpch_q7", "c114_tpch_q8",
    "c115_tpch_q10", "c116_tpch_q13", "c117_tpch_q14", "c118_tpch_q15",
    "c119_tpch_q19",
    // round-16 session-2 additions (94 → 98): the two TPC-DS plan
    // classes — rank-per-grouping-level over a ROLLUP (c120, the
    // Expand→Agg→Window chain) and the full-outer cumulative
    // crossover (c121, stacked Windows around a FullOuter join) —
    // plus the r15 TPC-H pair c105/c106: they were in scalingAll/
    // scalingBig since r15 but the scaling sets intersect with the
    // HEADLINE set, so their decade entries were silently dead —
    // headline membership is what turns them on (no-silent-caps)
    "c120_rollup_window_topk", "c121_cumulative_crossover",
    "c105_tpch_q3", "c106_tpch_q5",
    // round-17 (VERDICT r16 #5): headline membership for the TPC-DS
    // rank-within-parent rollup so its scaling entries are live (the
    // c105/c106 dead-entry lesson — scaling sets intersect with the
    // headline set)
    "c122_rollup_lochierarchy")

  /** Scaling set: every risk shape where superlinearity would first
    * show — the range join (quadratic candidate volume), streaming
    * ingest, iterative components, the passage/shingle joins
    * (x31/x43/x50), and the percentile/top-k corpus stats (x51/x52).
    */
  private val scalingAll = Seq(
    "flagship", "c02_join_large", "c32_range_join",
    "s07_stream_ingest_partitioned", "x03_dedup_minhash",
    "x07_cosine_topk", "x18_dedup_components", "x27_sequence_pack",
    "x31_passage_dedup", "x33_incremental_dedup",
    "x37_training_shuffle", "x40_quality_survivor",
    "x43_source_overlap", "x46_bigram_logprob", "x50_novelty",
    "x51_quality_tiles", "x52_vocab_coverage", "x69_pagerank",
    // the sliding-gram join: stride-1 grams make candidate volume the
    // scaling question exactly as x03's banding is
    "x92_span_dedup",
    // round-14 additions (VERDICT r13 #5): the three now-heaviest
    // headline shapes without decade evidence — the seeded fixed-point
    // iteration, the 4-hop frontier BFS, and the blocking+scoring
    // linkage chain
    "x144_personalized_pagerank", "x173_bfs_diameter",
    "x150_record_linkage",
    // HITS: the second iterative graph shape — meaningful at the big
    // point now that the v2 scaled lake grows the edge set
    "x129_hits",
    // the wedge stream (O(E^1.5) rows against the edge probe) — the
    // graph-side candidate-volume question x03 answers for shingles
    "x132_adamic_adar",
    // the join-free isotropy identity: its ratio should read ≈ the
    // data ratio (pure linear scans) — the control group for the
    // candidate-volume shapes above
    "x147_isotropy",
    // KN shares x46's one-big-shuffle doc⋈model shape with a larger
    // (4-table) model build — x46's instrumented volume covers both
    "x148_kneser_ney",
    // TextRank: the co-occurrence EDGE SET is the scaling question —
    // it grows with distinct bigrams (vocabulary-shaped, sublinear)
    // while the corpus pass grows linearly; the ratio reads which
    // term dominates
    "x164_textrank",
    // the inverted-index pair join: candidate volume Σ df² under the
    // df cap — the lexical twin of x03's banding question, with its
    // own instrumentation field
    "x199_sparse_cosine_pairs",
    // round-15 additions (VERDICT r14 #5): the remaining non-trivial
    // headline shapes without decade evidence — the frequent-pair
    // lattice, the banded edit-distance join, the iterative BPE merge
    // loop, and the Katz fixed-point iteration
    "x127_association_rules", "x91_edit_distance_dedup",
    "x121_bpe_train_steps", "x220_katz_centrality",
    // round-15 session-2: the sample-bounded control (its ratio
    // should read ≈ 1 at ANY data ratio — the design claim made
    // measurable) and the candidate-bound recall grading
    "x288_self_bleu", "x285_rouge_pairs",
    // the ECDF-spine shape: its scaling question is whether the
    // support (not the corpus) stays the window grain — the ratio
    // should read ≈ the one fact-aggregation pass, near-linear
    "x248_energy_distance",
    // the char-trigram pair grading: gram volume is chars-linear and
    // the pair join is candidate-bounded — x259's ratio should track
    // x05's candidate curve, not corpus²
    "x259_chrf_pairs",
    // round-16 (VERDICT r15 #5): the two headline heavies that had
    // no scaling entries — the sample-bounded kNN graph (vec_id<300
    // cut: its ratio should read ≈ flat, a second control beside
    // x288) and the cell-lattice clustering (one corpus-linear
    // reduce to ≤256 cells; the ratio reads the scan term)
    "x137_knn_graph", "x166_grid_cluster",
    // round-16: decade evidence for the published TPC-H shapes that
    // stay inside the re-keyed fact set (lineitem/orders/customer
    // re-key in lockstep; part/supplier shapes can't scale — the
    // scaled lake's graph re-keying leaves those dims single-copy)
    "c105_tpch_q3", "c108_tpch_q18", "c110_tpch_q22",
    // round-16 session-2: the Expand→Agg→Window chain over the
    // scaled fact table — the Expand's 4× row fan-out is the term
    // the ratio reads; the window itself stays support-bounded
    // (≤ 3·2·12 leaf groups per gid)
    "c120_rollup_window_topk",
    // round-17 (VERDICT r16 #5): mid+big coverage for the remaining
    // heavy newcomers — Q5's 6-relation star (supplier/nation/region
    // stay single-copy in the scaled lake, so past 1× only copy-0
    // keys match: the big point reads the 100×-scan + join shape, not
    // 100× matched rows — documented, not hidden) and the TPC-DS
    // rank-per-rollup-level chain (lineitem-only: fully re-keyed)
    "c106_tpch_q5", "c122_rollup_lochierarchy")

  /** Big-point set, trimmed to the shapes whose scaling verdict is
    * still open (VERDICT r10: x31 4.12×, x03 3.40×, x46 3.44× at 10×
    * data; c02 one decade from the broadcast→SMJ cliff; c32 the
    * quadratic-risk decomposition; flagship as the anchor) — the full
    * set at the big point is what blew the driver's wall-clock window
    * three rounds running.
    */
  private val scalingBig = Seq(
    "flagship", "c02_join_large", "c32_range_join",
    "x03_dedup_minhash", "x31_passage_dedup", "x46_bigram_logprob",
    // the iterative-join shape: its per-iteration cost must track
    // edges linearly for the 100 TB verdict
    "x69_pagerank",
    // stride-1 gram join under the 10× dup-density stress — the same
    // open question the x03 candidate curve answers, for spans
    "x92_span_dedup",
    // HITS shares x69's per-iteration shape on the now-growing graph
    "x129_hits",
    // the edge-iterator triangle shape: the re-keyed scaled lake
    // grows the graph as disjoint copies, so wedge volume (and the
    // instrumentation field) should read exactly linear — the clean
    // big-point check that the intersect form stays volume-bound
    "x132_adamic_adar",
    // the join-free linear control: its big ratio should sit at ≈ the
    // data ratio with no candidate-volume term at all
    "x147_isotropy",
    // x46's doc⋈model shuffle with the 4-table KN model on top — if
    // the model build ever stops being vocab-bounded it shows here
    "x148_kneser_ney",
    // VERDICT r13 #3: the inverted-index pair join's Σ df·(df−1)/2
    // candidate volume is quadratic in df below the [2,100] gate —
    // the big point (with the instrumented candidate field) is the
    // evidence class that closed x03/x92 for this lexical twin
    "x199_sparse_cosine_pairs",
    // VERDICT r13 #5: decade evidence for the three heavy shapes that
    // joined the headline in r12/r13 without big-point coverage
    "x144_personalized_pagerank", "x173_bfs_diameter",
    "x150_record_linkage",
    // session-4 shapes, first probed at the big point via
    // graft.tools.Time (x248 3.6x — support-bound; x259 1.62x —
    // candidate-bound); carried here so every official run keeps the
    // decade evidence fresh
    "x248_energy_distance", "x259_chrf_pairs",
    // VERDICT r14 #1: x164's scaling-mid point owned the recorded
    // max_ratio with no big bound — the vocabulary-shaped edge set
    // (instrumented as x164_edges) is the term the big ratio reads
    "x164_textrank",
    // VERDICT r14 #5: the banded edit-distance join is the heaviest
    // of the four new scaling shapes — candidate-bounded like x03
    "x91_edit_distance_dedup",
    // VERDICT r15 #5: big-point coverage for the remaining heavies —
    // the recall-side pair grading (candidate-bounded, instrumented
    // as x285_verified_pairs), the frequent-pair lattice (basket-
    // bounded, instrumented as x127_basket_pairs), the sample-bounded
    // kNN graph (should read ≈ flat), and the cell-lattice
    // clustering (scan-bound, ≤256 cells after the reduce)
    "x285_rouge_pairs", "x127_association_rules",
    "x137_knn_graph", "x166_grid_cluster",
    // round-16: the two heaviest published join shapes that survive
    // the re-keyed scaled lake — Q3's 3-way join + exact top-k and
    // Q18's double-pass semi-join over the same fact table
    "c105_tpch_q3", "c108_tpch_q18",
    // round-17 (VERDICT r16 #5): big points for the heavy newcomers
    // that had mid entries only — the Q5 star, the two TPC-DS window
    // chains, and the 3-hop Katz walk-count iteration
    "c106_tpch_q5", "c120_rollup_window_topk",
    "c122_rollup_lochierarchy", "x220_katz_centrality")

  /** Heavy shapes that get ONE untimed per-query warm rep immediately
    * before their timed reps, in every timed phase (VERDICT r14 #2):
    * the global prewarm leaves their artifacts warm, but by the time
    * their own reps run (up to ~70 queries later) page-cache/JIT state
    * has decayed and the recorded median sits 1.5-3× above steady
    * state. The set is declared (and stamped in the artifact as
    * `heavy_warm`) so the protocol difference is auditable.
    */
  private val heavyWarm = Set(
    "x132_adamic_adar", "x144_personalized_pagerank",
    "x173_bfs_diameter", "x92_span_dedup", "x69_pagerank",
    "p01_pipeline_topk", "x129_hits", "x164_textrank",
    "x31_passage_dedup", "x03_dedup_minhash", "x148_kneser_ney",
    "x150_record_linkage", "x91_edit_distance_dedup",
    // r15 session-2: the three iterative shapes whose first timed
    // rep pays plan codegen visibly (x220 raw [3.02, 1.46, 1.16]
    // under an idle post-rep sentinel — decay, not load)
    "x220_katz_centrality", "x127_association_rules",
    "x121_bpe_train_steps",
    // r17: the two temporal joins show the same decay signature in
    // the r17 probe's gated headline (c31 raw [4.17, 1.62, 0.54],
    // c32 [4.59, 2.41, 1.32], post-rep sentinels 0.27/0.11 — idle,
    // so decay, not load)
    "c31_asof_join", "c32_range_join")

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9

    // Guarded env parses (a malformed value degrades to the default
    // with a stderr note — it must not crash the whole artifact).
    def envInt(key: String, default: Int): Int =
      sys.env.get(key).flatMap(v => v.trim.toIntOption.orElse {
        System.err.println(s"[bench] ignoring unparseable $key='$v'")
        None
      }).getOrElse(default)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = envInt("SPARK_GRAFT_REPS", 3)
    // 3 big reps by default: with 2, the recorded "median" is a mean
    // of two, and a single contended rep moves the official big/mid
    // ratio by half its spike (x31's r12 big_raw [4.51, 1.78] read as
    // 7.7× when its clean band is ~2×)
    val bigReps = envInt("SPARK_GRAFT_REPS_BIG", 3)
    val bigFactor = envInt("SPARK_GRAFT_SCALE_BIG", 10)
    val budgetSec = envInt("SPARK_GRAFT_BENCH_BUDGET_SEC", 1500)
    def remainingSec: Double = budgetSec - elapsedSec

    val spark = graft.engine.Tuning.session()

    def fmt(d: Double) = f"$d%.4f"

    // ---- checkpointed artifact state ---------------------------------
    // Ordered (key -> rendered JSON value) for the FULL record; the
    // record is rewritten to the artifact files after every phase, so
    // a kill at any point leaves the last complete phase parseable.
    val fields = scala.collection.mutable.LinkedHashMap[String, String](
      "metric" -> "\"total\"", "value" -> "0.0", "unit" -> "\"sec\"",
      "queries" -> "{}", "sf" -> s""""$sfDir"""", "reps" -> reps.toString)
    val phasesDone = scala.collection.mutable.ArrayBuffer[String]()
    // stdout keys: the driver contract fields plus small headline
    // extras — kept under ~2 KB so a tail-only log capture still holds
    // one complete line.
    val compactKeys = Seq("metric", "value", "unit", "queries",
      "queries_n", "sf",
      "reps", "probe_ok", "pruned_vs_full", "full_scan_files",
      "pruned_scan_files", "http", "scaling_summary", "load_sentinel",
      "errors_compact", "phases_complete", "elapsed_sec", "detail")
    // The compact stdout line substitutes the TRIMMED query map
    // (baseline-comparable shapes only): the full 49-entry map pushed
    // the cumulative line past the driver's tail-capture window, so
    // the r11 record had rc 0 but parsed:null (VERDICT r11 §2). The
    // full map lives only in the `detail` artifact.
    def render(keys: Iterable[String],
        overrides: Map[String, String] = Map.empty): String =
      keys.flatMap(k => overrides.get(k).orElse(fields.get(k))
        .map(v => s""""$k":$v"""))
        .mkString("{", ",", "}")
    val outs = Seq(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/bench_latest.json"),
      "/tmp/graft-bench.json")
    // Which derived-lake builds this process ran and their seconds
    // (VERDICT r17 #5): cumulative ordered map in the FULL artifact,
    // plus a phase -> ledger-length marker so "which phase paid which
    // build" is reconstructible (a build landing inside the big phase
    // — e.g. the x132 adjacency at first touch of the scaled lake —
    // is exactly the hypothesis the r17 big-point inflations left
    // open). Not on the compact stdout line (2 KB budget).
    val ledgerMarks = scala.collection.mutable.LinkedHashMap[String, Int]()
    def stampLedger(phase: String): Unit = {
      val led = graft.sources.Lake.buildLedgerSnapshot()
      ledgerMarks(phase) = led.size
      fields("derived_builds") = led.map { case (n, s) =>
        s""""${jsonEscape(n)}":${fmt(s)}""" }.mkString("{", ",", "}")
      fields("derived_builds_phase_marks") = ledgerMarks
        .map { case (p, n) => s""""$p":$n""" }.mkString("{", ",", "}")
    }
    def checkpoint(phase: String): Unit = {
      phasesDone += phase
      stampLedger(phase)
      fields("phases_complete") = "\"" + phasesDone.mkString(",") + "\""
      fields("elapsed_sec") = fmt(elapsedSec)
      fields("detail") = s""""${outs.head}""""
      val full = render(fields.keys)
      outs.foreach { out =>
        try {
          val p = java.nio.file.Paths.get(out)
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] file write $out: ${e.getMessage}") }
      }
      // cumulative compact line; the LAST printed line is always the
      // most complete record. Must stay well under the driver's
      // tail-capture window (~2 KB) — hence the trimmed query map.
      println(render(compactKeys,
        fields.get("queries_stdout").map("queries" -> _).toMap))
    }

    // ---- phase 0: sentinel, probe, structural pruning evidence -------
    // Fixed-work load sentinel: a deterministic CPU-bound job whose
    // wall time tracks machine load, not data or code.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      // max, not sum: summing 20M full-range hashes overflows a long
      // under ANSI mode; max keeps the same per-row hashing work
      spark.range(20000000L).select(max(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // One untimed warm-up before the recorded start reading: the
    // FIRST Spark job in a fresh JVM pays codegen/JIT (~3.3 s on an
    // idle machine, r14 measurement), so a raw first reading is
    // JIT-contaminated and reads as machine load when it isn't — the
    // r12/r13 "sentinel 3.4 at start" records mixed the two. After
    // the warm-up, `start` is a clean load reading comparable to the
    // per-phase ones.
    sentinel()
    val sentinelStart = sentinel()

    // Materialize the partitioned copy once so rep 1 of the pruned/full
    // pair times the query, not the one-off write (benchmark.py times
    // queries against a pre-built layout too).
    Lake.ensurePartitionedEvents(spark, sfDir)

    // A13 probe: the pruned-path count and the full-scan count of one
    // probe key must agree across modes (benchmark.py:41,:116). Also
    // serves as the session warm-up (codegen/JIT, file listing) so the
    // timed reps measure queries, not first-query initialization — the
    // reference benchmarks a warm Lambda the same way.
    val probeKey = "signup"
    val viaFull = Lake.table(spark, sfDir, "events")
      .filter(col("event_type") === probeKey).count()
    val viaPartitioned = Lake.partitionedEvents(spark, sfDir)
      .filter(col("event_type") === probeKey).count()
    val probeOk = viaFull == viaPartitioned && viaFull > 0

    // Structural pruning evidence, independent of wall-clock: the file
    // count a pruned scan touches vs the full glob (README.md:164-174
    // contrast; at 100 TB this ratio, not latency on 100k rows, is
    // what pruning buys).
    val fullFiles = scanFileCount(
      Lake.partitionedEvents(spark, sfDir).select(col("event_id")))
    val prunedFiles = scanFileCount(
      Lake.partitionedEvents(spark, sfDir)
        .filter(col("date") === lit("2024-01-05"))
        .select(col("event_id")))
    fields("probe_ok") = probeOk.toString
    fields("full_scan_files") = fullFiles.toString
    fields("pruned_scan_files") = prunedFiles.toString
    fields("load_sentinel") = s"""{"start":${fmt(sentinelStart)}}"""
    checkpoint("setup")

    // ---- phase 1: headline timings at sfDir --------------------------
    // One protocol for every timed number: global prewarm over the
    // query set at that dir (plan codegen, JIT, file listing,
    // lake-artifact builds — observed: the flagship timed first in a
    // fresh JVM records ~2× its steady state), then timed reps with no
    // per-query warm rep. The reference's published numbers are
    // warm-Lambda runs (its cold/warm flag exists to tell them apart).
    def prewarm(queryNames: Seq[String], dir: String): Unit =
      queryNames.foreach { n =>
        try runQuery(spark, n, dir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $n prewarm@$dir: ${e.getMessage}") }
      }
    // Post-hoc contention stamp (VERDICT r14 #1): the per-point
    // sentinel is read BEFORE the prewarm pass, so machine load during
    // a specific query's timed reps — minutes later — was unmeasured,
    // and an anomalous triple (x164-mid [29.7, 40.9, 15.6] under an
    // "idle" point sentinel) could not be attributed in-artifact. Any
    // non-trivial query whose rep spread exceeds 2.5× now gets a
    // sentinel read IMMEDIATELY after its reps, stamped per
    // query@point, so load during the anomalous window is recorded
    // rather than inferred.
    val spreadSentinels =
      scala.collection.mutable.LinkedHashMap[String, String]()
    def timeQuery(name: String, dir: String, n: Int): QueryStats = {
      val s = measure(name, n, warmFirst = heavyWarm(name))(
        () => { runQuery(spark, name, dir); () })
      if (s.okReps > 1 && s.raw.min > 0.5 &&
          s.raw.max / s.raw.min > 2.5) {
        val sent = sentinel()
        spreadSentinels(s"$name@${dir.split('/').last}") = fmt(sent)
        System.err.println(f"[bench] $name@$dir rep spread ${
          s.raw.max / s.raw.min}%.1fx (raw ${s.raw.map(fmt).mkString(",")
          }), post-rep sentinel $sent%.2f")
        fields("spread_sentinels") = spreadSentinels
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      }
      s
    }
    fields("heavy_warm") =
      heavyWarm.toSeq.sorted.mkString("[\"", "\",\"", "\"]")

    val names = headline.filter(SparkEntry.queries.contains)
    prewarm(names, sfDir)
    // Checkpoint warm-path evidence (VERDICT r8 #1, extended r15 to
    // x164 per VERDICT r14 #1): the prewarm pass must have left these
    // lake checkpoints built, so the timed reps below measure
    // checkpoint reads, not rebuilds — recorded per point as a JSON
    // object so a slow point with ckpt_warm=true DISPROVES the
    // rebuild-inside-timed-reps hypothesis in the artifact itself.
    def ckptWarm(dir: String): String =
      Seq("x31" -> "x31_passages", "x164" -> "textrank_edges_v1")
        .map { case (k, n) =>
          val b = try Lake.isBuilt(spark, dir, n)
            catch { case _: Throwable => false }
          s""""$k":$b"""
        }.mkString("{", ",", "}")
    def x31Warm(dir: String): String = ckptWarm(dir)

    // HEADLINE SENTINEL GATE (VERDICT r13 #1/#2): the headline phase
    // writes the driver's ≤2× contract number, and three rounds
    // running it started in the process's most load-contended window
    // (r13: sentinel 3.39 at headline time vs 0.33 idle → flagship
    // 2.72 s official vs 0.117 s re-timed in the same artifact).
    // Defer timing until the fixed-work sentinel reads near the idle
    // floor; bounded retries, then proceed anyway with the window's
    // own sentinel — and a contended flag — stamped in the artifact
    // so machine load can never again masquerade as a regression.
    // Ceiling tightened 0.9 → 0.45 in r17 (VERDICT r16 #4): the idle
    // band across the r14-r17 gated runs reads 0.18-0.30, and the r16
    // official close showed 0.28-0.38 windows inflating absolute
    // medians ~1.3× while still passing the 0.9 gate. 0.45 ≈ 1.5× the
    // band's top keeps genuinely-idle runs passing on the first read
    // and defers contended ones (bounded: 10 × 20 s, then proceed
    // with the contended flag stamped).
    val sentinelIdleMax = 0.45
    var headlineSent = sentinel()
    var gateAttempts = 0
    while (headlineSent > sentinelIdleMax && gateAttempts < 10 &&
        remainingSec > 420) {
      gateAttempts += 1
      System.err.println(f"[bench] headline gate: sentinel $headlineSent%.2f" +
        f" > $sentinelIdleMax%.2f idle max, deferring (attempt $gateAttempts)")
      Thread.sleep(20000L)
      headlineSent = sentinel()
    }
    val headlineContended = headlineSent > sentinelIdleMax
    def sentinelJson(extra: String = ""): String =
      s"""{"start":${fmt(sentinelStart)},"headline":${fmt(headlineSent)},""" +
        s""""headline_gate_attempts":$gateAttempts,""" +
        s""""headline_contended":$headlineContended$extra}"""
    fields("load_sentinel") = sentinelJson()

    val stats = names.map(timeQuery(_, sfDir, reps))

    val usable = stats.filter(_.okReps > 0)
    def statMap(f: QueryStats => Double): String =
      usable.map(s => s""""${s.name}":${fmt(f(s))}""").mkString("{", ",", "}")
    fields("queries") = statMap(_.mean)
    fields("queries_n") = usable.size.toString
    // stdout variant: only the shapes BASELINE.md compares directly
    // (full map → detail artifact; see compactKeys note)
    val stdoutSet = Set("flagship", "b02_glob_scan", "b03_pruned_scan",
      "b09_partial_final", "c02_join_large", "c07_agg_tpch_q1",
      "c32_range_join", "x03_dedup_minhash", "x31_passage_dedup",
      "x46_bigram_logprob", "x69_pagerank", "x92_span_dedup")
    fields("queries_stdout") = usable.filter(s => stdoutSet(s.name))
      .map(s => s""""${s.name}":${fmt(s.mean)}""").mkString("{", ",", "}")
    fields("std") = statMap(_.std)
    fields("median") = statMap(_.median)
    fields("raw") = usable.map(s =>
      s""""${s.name}":[${s.raw.map(fmt).mkString(",")}]""")
      .mkString("{", ",", "}")
    fields("errors") = errorsJson(stats)
    // compact-line variant: a mass-failure round would blow the ~2 KB
    // stdout budget if the full error map rode the compact line (the
    // on-disk artifact keeps it); count + first example suffice there
    val failed = stats.filter(_.err.isDefined)
    fields("errors_compact") =
      if (failed.isEmpty) "{}"
      else s"""{"n":${failed.size},"first":"${jsonEscape(
        s"${failed.head.name}: ${failed.head.err.get.take(120)}")}"}"""
    fields("value") = fmt(usable.map(_.mean).sum)
    // Median-based: one spiked rep must not move the artifact's
    // headline pruning ratio (see object scaladoc).
    fields("pruned_vs_full") = fmt((for {
      full <- usable.find(_.name == "b02_glob_scan")
      pruned <- usable.find(_.name == "b03_pruned_scan")
      if pruned.median > 0
    } yield full.median / pruned.median).getOrElse(0.0))
    checkpoint("headline")

    // ---- phase 2: HTTP serving latency -------------------------------
    // (the reference's actual product surface is the HTTP query
    // endpoint, app.py:27-58): 100 sequential POSTs of the flagship
    // SQL against an in-process HttpFront on an ephemeral loopback
    // port, after 5 warm requests. p50/p99 are client-side wall times
    // over the full round trip (serialize → engine.execute → JSON
    // envelope), so the serving path has a tracked number like every
    // query does.
    fields("http") =
      if (remainingSec < 60) """{"skipped":"budget"}"""
      else try {
        // the serving phase carries its own window's load reading too
        // (r13's http p50/p99 were headline-window contaminated and
        // unprovably so — every timed phase now stamps its sentinel)
        val httpSent = sentinel()
        val engine = new graft.engine.SparkEngine(() => spark)
        val server = graft.server.HttpFront.start(engine, spark, sfDir, port = 0)
        try {
          val port = server.getAddress.getPort
          val url = java.net.URI.create(s"http://127.0.0.1:$port/query").toURL
          val sqlEsc = graft.queries.Core.flagshipSql
            .replace("\\", "\\\\").replace("\"", "\\\"")
            .replace("\n", " ").replace("\r", " ")
          val body = s"""{"q":"$sqlEsc","limit":20}""".getBytes("UTF-8")
          def fire(): Double = {
            val t0 = System.nanoTime()
            val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
            c.setRequestMethod("POST"); c.setDoOutput(true)
            c.getOutputStream.write(body)
            val code = c.getResponseCode
            // non-2xx: getInputStream throws — read the error stream
            // instead so the artifact records the engine's envelope,
            // not Java's generic IOException text
            val stream =
              if (code >= 400) Option(c.getErrorStream)
              else Option(c.getInputStream)
            val resp = stream.map(s => new String(s.readAllBytes(), "UTF-8"))
              .getOrElse("")
            require(code == 200 && resp.contains("\"records\""),
              s"http $code: ${clip(resp)}")
            (System.nanoTime() - t0) / 1e9
          }
          (1 to 5).foreach(_ => fire())
          val times = (1 to 100).map(_ => fire()).sorted
          // concurrent line (VERDICT r9 #6): 4 parallel clients — the
          // server pool's width — so the number reflects the pool
          // actually multiplexing sessions, not one client's
          // round-trip; qps is completed requests over the window's
          // wall clock.
          val (clients, perClient) = (4, 25)
          val cTimes = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
          val cErrs = new java.util.concurrent.atomic.AtomicInteger(0)
          val cw0 = System.nanoTime()
          val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
          try {
            val futures = (1 to clients).map { _ =>
              pool.submit(new Runnable {
                def run(): Unit = (1 to perClient).foreach { _ =>
                  try cTimes.add(fire())
                  catch { case _: Throwable => cErrs.incrementAndGet() }
                }
              })
            }
            futures.foreach(_.get())
          } finally pool.shutdown()
          val cWall = (System.nanoTime() - cw0) / 1e9
          val cs = cTimes.toArray(Array.empty[java.lang.Double])
            .map(_.doubleValue).sorted
          val concurrent =
            if (cs.isEmpty) s"""{"err":"all $clients-client requests failed"}"""
            else s"""{"clients":$clients,"n":${cs.length},"errors":${cErrs.get()},"p50":${
              fmt(cs(cs.length / 2))},"p99":${fmt(cs(((cs.length - 1) * 99) / 100))},"qps":${
              fmt(cs.length / cWall)}}"""
          s"""{"n":100,"p50":${fmt(times(49))},"p99":${fmt(times(98))},"query":"flagship","sentinel":${fmt(httpSent)},"concurrent":$concurrent}"""
        } finally graft.server.HttpFront.stop(server)
      } catch { case e: Throwable =>
        s"""{"err":"${jsonEscape(String.valueOf(e.getMessage))}"}""" }
    checkpoint("http")

    // ---- phases 3+4: scaling curve -----------------------------------
    // Scaling-curve evidence: the same queries at THREE scale factors
    // in ONE run — sf0.01 ("small"), the driver's sfDir ("mid", the
    // already-timed headline stats), and a derived ~10×-sfDir lake
    // ("big", Lake.ensureScaledDir — re-keyed unions, never touching
    // the read-only testdata; trimmed to [[scalingBig]] at `bigReps`).
    // Two decades with the same sublinear slope is the direct "would
    // it survive 100×" evidence next to the structural file-count
    // metric, and the big point exercises constants that hide at 600k
    // rows. Per-query ratios at-or-below the data ratio are the pass
    // band; superlinear growth is a shuffle/skew/driver-bottleneck
    // smell. All compared numbers are medians; means/raw ride along
    // in the full record.
    //
    // Per-point instrumentation (VERDICT r9 #3 / r10 #3,#4):
    //   - x03 candidate-pair volume and x31 passage-duplication volume
    //     — the direct evidence that the hot-bucket cap bounds the
    //     banding join's output as duplicate density rises;
    //   - c02's executed join strategy — which side of the
    //     broadcast→SMJ cliff the fact/fact join actually ran on.
    val scalingNames = scalingAll.filter(names.contains)
    def sfOf(dir: String): Double =
      "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.0)

    def instrumentation(dir: String, forNames: Seq[String]): String = {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      if (forNames.contains("x03_dedup_minhash")) try {
        // identical artifact chain to x03 itself, so after its prewarm
        // these are cheap reads + the one candidate count
        val d = Lake.table(spark, dir, "documents")
        val nh = graft.ext.Dedup.MinhashNumHashes
        val nb = graft.ext.Dedup.MinhashBandCount
        val sigs = Lake.materialize(spark, dir, s"minhash_sigs_$nh")(
          graft.ext.Dedup.minhashSignatures(d, nh))
        val bands = Lake.materialize(spark, dir, s"minhash_bands_${nh}_$nb")(
          graft.ext.Dedup.minhashBands(sigs, nh, nb))
        parts += s""""x03_candidate_pairs":${graft.ext.Dedup.minhashCandidates(bands).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x03_candidate_pairs_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x92_span_dedup")) try {
        // the stride-1 gram join's pre-island hit volume — what the
        // hot-gram cap must bound as duplicate density rises
        val d = Lake.table(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        parts += s""""x92_candidate_hits":${graft.ext.Dedup.spanCandidatePairs(d, cap = 64L).count()}"""
        // the density-adaptive cap actually applied — rises with the
        // corpus's mean gram multiplicity (VERDICT r11 §3: the fixed
        // cap silenced the operator at 100× dup density)
        parts += s""""x92_cap_effective":${graft.ext.Dedup.spanCapEffective(d, cap = 64L)}"""
      } catch { case e: Throwable =>
        parts += s""""x92_candidate_hits_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x31_passage_dedup")) try {
        val d = Lake.table(spark, dir, "documents")
        val ps = Lake.materialize(spark, dir, "x31_passages")(
          graft.ext.Dedup.passageTable(d))
        val occ = ps.groupBy(col("passage")).agg(count(lit(1)).as("n"))
        parts += s""""x31_passages":${ps.count()}"""
        parts += s""""x31_dup_passages":${occ.filter(col("n") > 1).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x31_passages_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x46_bigram_logprob")) try {
        // the doc-grain bigram table: the one shuffled side of x46's
        // model join. Its row count is what the ratio should track —
        // a big-point wall ratio far above this volume ratio is run
        // noise, not a plan problem (the r11 run 17↔18 3.4×↔6.0×
        // spread prompted exactly this field).
        parts += s""""x46_bigram_rows":${
          graft.ext.TextAnalysis.bigramTable(spark, dir).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x46_bigram_rows_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x150_record_linkage")) try {
        // the canonical-grain Σ df·(df−1)/2 the capped shingle index
        // shuffles after the exact-text collapse — the volume the
        // r14 collapse fix bounds (pre-collapse, the cap ∝ corpus
        // size admitted k× the df at k× replication: 22× wall at
        // 10× data in the first r14 official run)
        val d = Lake.table(spark, dir, "documents")
        val sh = Lake.materialize(spark, dir, "x05_shingles")(
          graft.ext.Dedup.shingleTable(d))
        parts += s""""x150_candidate_pairs":${graft.ext.Dedup
          .jaccardCandidateVolume(d, sh, Lake.rowCount(spark, dir, "documents"))}"""
      } catch { case e: Throwable =>
        parts += s""""x150_candidate_pairs_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x199_sparse_cosine_pairs")) try {
        // the inverted-index join's candidate volume Σ df·(df−1)/2
        // over the [2,100]-gated shingles — the quantity the df cap
        // bounds, computed from the df aggregate alone (no join)
        val sh = Lake.materialize(spark, dir, "x05_shingles")(
          graft.ext.Dedup.shingleTable(Lake.table(spark, dir, "documents")))
        parts += s""""x199_candidate_pairs":${sh
          .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= 100)
          .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)))
          .head().getLong(0)}"""
      } catch { case e: Throwable =>
        parts += s""""x199_candidate_pairs_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x91_edit_distance_dedup")) try {
        // Σ C(block,2) over the capped (len, prefix) blocks AFTER the
        // exact-text collapse — replication-invariant (the r15 fix:
        // pre-collapse, k× replicated copies grew candidates ~k² and
        // the big point read 15.4× at 10× data)
        parts += s""""x91_candidate_pairs":${graft.ext.Dedup
          .editCandidateVolume(graft.ext.Dedup.editDistanceInput(spark, dir),
            maxBlock = 64L)}"""
      } catch { case e: Throwable =>
        parts += s""""x91_candidate_pairs_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x164_textrank")) try {
        // the symmetric content-word co-occurrence edge set x164's
        // fixed-point iteration is linear in — vocabulary-shaped
        // (distinct long-token bigrams), so its growth should flatten
        // as the corpus outgrows its vocabulary; the wall ratio reads
        // against THIS field, not the corpus ratio
        parts += s""""x164_edges":${Lake.materialize(spark, dir,
          "textrank_edges_v1")(graft.ext.TextAnalysis.textrankEdges(
            graft.ext.TextAnalysis.bigramTable(spark, dir))).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x164_edges_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x285_rouge_pairs")) try {
        // the VERIFIED pair count x285's grading joins are bounded by
        // (same x05 shingle artifact chain as the query — prewarmed)
        val d = Lake.table(spark, dir, "documents")
        parts += s""""x285_verified_pairs":${graft.ext.Dedup
          .ngramJaccardPairs(d, threshold = 0.5,
            checkpoint = graft.ext.Dedup.lakeCheckpoint(spark, dir),
            nDocs = Lake.rowCount(spark, dir, "documents")).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x285_verified_pairs_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x127_association_rules")) try {
        // Σ C(basket, 2) — the pair-expansion volume x127's lattice
        // join materializes before the ≥3 support prune; computed
        // from the basket-size aggregate alone (no join)
        parts += s""""x127_basket_pairs":${Lake.table(spark, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .groupBy(col("ok")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
          .head().getLong(0)}"""
      } catch { case e: Throwable =>
        parts += s""""x127_basket_pairs_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x137_knn_graph")) try {
        // LSH collision candidates within x137's vec_id<300 sample —
        // the quantity the sample cut bounds: FLAT across decades by
        // design (the control reading beside x288's)
        val e = Lake.table(spark, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .withColumn("vec", expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))"))
        val buckets = e.select(col("vec_id"),
          posexplode(array((0 until 2).map(t =>
            graft.ext.Similarity.intPlaneSignature("vec", 8, t)): _*))
            .as(Seq("tbl", "sig")))
        parts += s""""x137_candidates":${
          graft.ext.Similarity.candidatesFromBuckets(buckets).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x137_candidates_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x166_grid_cluster")) try {
        // occupied 16×16 cells — the frame every propagation round
        // joins on; bounded at 256 regardless of corpus size, so the
        // wall ratio must read the one reduce scan, nothing else
        val e = Lake.table(spark, dir, "embeddings")
        val b = e.agg(
          min(expr("array_min(transform(embedding, x -> CAST(x AS DOUBLE)))")).as("mn"),
          max(expr("array_max(transform(embedding, x -> CAST(x AS DOUBLE)))")).as("mx"))
        parts += s""""x166_cells":${e.crossJoin(broadcast(b))
          .select(
            round((expr("CAST(element_at(embedding, 1) AS DOUBLE)") - col("mn")) /
              (col("mx") - col("mn")) * 15, 0).cast("long").as("cx"),
            round((expr("CAST(element_at(embedding, 2) AS DOUBLE)") - col("mn")) /
              (col("mx") - col("mn")) * 15, 0).cast("long").as("cy"))
          .distinct().count()}"""
      } catch { case e: Throwable =>
        parts += s""""x166_cells_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("c02_join_large")) try {
        parts += s""""c02_join_strategy":"${joinStrategy(
          SparkEntry.queries("c02_join_large")(spark, dir))}""""
      } catch { case e: Throwable =>
        parts += s""""c02_join_strategy_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("c105_tpch_q3")) try {
        // which side of the broadcast→SMJ cliff the published 3-way
        // join runs on at this decade (the c02 evidence class for
        // the TPC-H shapes)
        parts += s""""c105_join_strategy":"${joinStrategy(
          SparkEntry.queries("c105_tpch_q3")(spark, dir))}""""
      } catch { case e: Throwable =>
        parts += s""""c105_join_strategy_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x69_pagerank")) try {
        // distinct directed edge count: the quantity x69's per-
        // iteration cost is linear in. Since the v2 scaled lake
        // re-keys l_partkey/l_suppkey per copy (VERDICT r11 §4 — the
        // v1 lake saturated this at the source's edge count, so graph
        // ratios were measured on a flat graph), the field should now
        // grow ~linearly with the factor, making the big-point ratio
        // a real edges-vs-wall reading.
        parts += s""""x69_edges":${Lake.materialize(spark, dir,
          "pr_adjacency_v2")(graft.ext.Graph.adjacencyFor(spark, dir)).count()}"""
      } catch { case e: Throwable =>
        parts += s""""x69_edges_err":"${jsonEscape(e.getMessage)}"""" }
      if (forNames.contains("x132_adamic_adar")) try {
        // the ORIENTED wedge volume Σ od·(od−1) — the stream the
        // triangle-based rewrite actually generates (the naive
        // all-arcs Σ deg² stream measured 147.8 M rows at sf0.1 and
        // 13.4 s median; the orientation bound is what retired it).
        // Computed from the degree aggregate alone — no join.
        // read the SAME adjacency artifact the query's form gate reads
        // (shared-constant discipline — the counted stats can never
        // silently diverge from the gated ones)
        val (maxOd, wedges) = graft.ext.Graph.adjWedgeStats(
          graft.ext.Graph.orientedAdjListFor(spark, dir))
        parts += s""""x132_wedges":$wedges"""
        // which enumeration form the r16 measured gate picks at this
        // decade (arrays = fast path; join = the memory-flat wedge
        // stream the 100x graph degrades to at the 32g default heap)
        parts += s""""x132_max_od":$maxOd"""
        parts += s""""x132_enum_form":"${
          if (maxOd <= graft.ext.Graph.TriangleMaxArrayDegree &&
            wedges <= graft.ext.Graph.TriangleMaxArrayWedges) "arrays"
          else "join"}""""
      } catch { case e: Throwable =>
        parts += s""""x132_wedges_err":"${jsonEscape(e.getMessage)}"""" }
      parts.mkString("{", ",", "}")
    }

    // One protocol per point: partitioned-events copy ensured, global
    // prewarm over the point's query set (builds every lake checkpoint
    // untimed), then timed reps. Identical to the headline protocol.
    def timePoint(dir: String, pointNames: Seq[String],
        repsFor: String => Int,
        perShapeSentinel: Boolean = false):
        (Map[String, QueryStats], String, String, Double, String) = {
      // per-point load sentinel: every compared point carries the
      // machine-load reading of ITS OWN measurement window, so a
      // cross-point ratio taken under asymmetric load is visible in
      // the artifact instead of masquerading as a scaling verdict
      val sent = sentinel()
      Lake.ensurePartitionedEvents(spark, dir)
      prewarm(pointNames, dir)
      val warm = x31Warm(dir)
      val inst = instrumentation(dir, pointNames)
      // per-SHAPE sentinels (VERDICT r17 #1): at the big point a
      // 30-shape phase can drift from idle to contended between its
      // single point sentinel and a given query's reps minutes later
      // — the x199/x132 big inflations were unattributable for
      // exactly this reason. One fixed-work reading immediately
      // before each shape's reps stamps the load of THAT window.
      val shapeSents = scala.collection.mutable.LinkedHashMap[String, Double]()
      val stats = pointNames.map { n =>
        if (perShapeSentinel) shapeSents(n) = sentinel()
        n -> timeQuery(n, dir, repsFor(n))
      }.toMap
      val shapeJson = shapeSents
        .map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
      (stats, warm, inst, sent, shapeJson)
    }

    def med(m: Map[String, QueryStats], n: String): Option[Double] =
      m.get(n).filter(s => s.okReps > 0 && s.median > 0).map(_.median)
    // per-rep raws for EVERY scaling point (VERDICT r13 #3: small/mid
    // recorded only medians, so a contended rep or cold-artifact
    // rebuild inside a timed rep — the x129 10.94 s mid anomaly —
    // could not be distinguished from a real regression)
    def rawJson(m: Map[String, QueryStats], n: String): String =
      m.get(n).map(_.raw.map(fmt).mkString("[", ",", "]")).getOrElse("[]")

    // Derive the comparison dir from the PARSED sf token (not a literal
    // string match on "sf0.1") so a run at any scale factor still
    // produces — or visibly skips — the scaling evidence.
    val smallDir = "sf[0-9.]+".r.replaceFirstIn(sfDir, "sf0.01")

    var scalingSkip: Option[String] = None
    if (sfOf(sfDir) == 0.0) scalingSkip = Some(s"no_sf_token_in:$sfDir")
    else if (smallDir == sfDir) scalingSkip = Some("already_at_smallest_sf")
    else if (!new java.io.File(smallDir).isDirectory)
      scalingSkip = Some(s"missing_small_dir:$smallDir")
    else if (remainingSec < 180) scalingSkip = Some("budget")

    val (smallStats, smallWarm, smallInst, smallSent, _) = scalingSkip match {
      case None => timePoint(smallDir, scalingNames, _ => reps)
      case Some(_) => (Map.empty[String, QueryStats], "{}", "{}", 0.0, "{}")
    }
    // The mid point is RE-TIMED here, adjacent to the small point,
    // instead of reusing the headline-phase stats: the headline pass
    // runs first in the process (and, per the r12 record, in the most
    // load-contended window — sentinel 3.78 at start vs 0.25 at end),
    // so a headline-mid / late-small ratio compared two different
    // machine states and read as fake superlinearity (x132's official
    // 21.4× vs a 3.6 s clean-session median). Adjacent same-protocol
    // points + the per-point sentinels make the compared windows
    // homogeneous and auditable.
    val (midStats, midWarm, midInst, midSent, _) = scalingSkip match {
      case None => timePoint(sfDir, scalingNames, _ => reps)
      case Some(_) => (Map.empty[String, QueryStats], "{}", "{}", 0.0, "{}")
    }
    if (scalingSkip.isEmpty) {
      // small+mid two-point record first; the big point extends it
      val entries = scalingNames.map { name =>
        (med(smallStats, name), med(midStats, name)) match {
          case (Some(s), Some(m)) =>
            s""""$name":{"small":${fmt(s)},"mid":${fmt(m)},"ratio_mid_over_small":${fmt(m / s)},""" +
              s""""small_raw":${rawJson(smallStats, name)},"mid_raw":${rawJson(midStats, name)}}"""
          case _ =>
            val why = Seq(smallStats.get(name), midStats.get(name))
              .flatten.flatMap(_.err).headOption.getOrElse("unmeasured")
            s""""$name":{"err":"${jsonEscape(why)}"}"""
        }
      }.mkString("{", ",", "}")
      val dataRatioMid =
        if (sfOf(smallDir) > 0) sfOf(sfDir) / sfOf(smallDir) else 0.0
      fields("scaling") =
        s"""{"data_ratio_mid_over_small":${fmt(dataRatioMid)},"small_sf":"$smallDir","mid_protocol":"retimed_in_phase","sentinel":{"small":${fmt(smallSent)},"mid":${fmt(midSent)}},"ckpt_warm":{"small":$smallWarm,"mid":$midWarm},"instrumentation":{"small":$smallInst,"mid":$midInst},"queries":$entries}"""
      val maxMid = scalingNames.flatMap(n =>
        for { s <- med(smallStats, n); m <- med(midStats, n) } yield m / s)
      fields("scaling_summary") = s"""{"n":${scalingNames.size},"max_ratio_mid_over_small":${
        fmt(if (maxMid.isEmpty) 0.0 else maxMid.max)}}"""
    } else {
      fields("scaling") = s"""{"skipped":"${jsonEscape(scalingSkip.get)}"}"""
      fields("scaling_summary") = fields("scaling")
    }
    checkpoint("scaling_small")

    if (scalingSkip.isEmpty && bigFactor > 1) {
      // big point: derived scaled lake, trimmed set, fewer reps; a
      // build/run failure (or an exhausted budget) degrades to the
      // two-point curve with the reason in the artifact — never a
      // crashed bench.
      val bigNames = scalingBig.filter(scalingNames.contains)
      // Volume-bound joins get >= 3 reps at the big point so the
      // recorded ratio is a real median — one contended rep defined
      // the whole r11 scaling verdict for x46 (official 12.77× vs a
      // 3.2-6.2× in-session band and exactly-linear instrumented join
      // volume; VERDICT r11 §1). Raw per-rep times ride in the
      // artifact so an outlier rep is visible rather than decisive.
      val volumeBound = Set("x46_bigram_logprob", "x03_dedup_minhash",
        "x92_span_dedup", "c02_join_large", "x148_kneser_ney",
        "x199_sparse_cosine_pairs")
      def bigRepsFor(n: String): Int =
        if (volumeBound(n)) math.max(bigReps, 3) else bigReps
      val (bigDirDesc, bigStats, bigWarm, bigInst, bigSent, bigShapeSents) =
        if (remainingSec < 420)
          ("skipped:budget", Map.empty[String, QueryStats], "{}", "{}", 0.0, "{}")
        else try {
          val d = Lake.ensureScaledDir(spark, sfDir, bigFactor)
          val (bs, bw, bi, bsent, bshape) =
            timePoint(d, bigNames, bigRepsFor, perShapeSentinel = true)
          (d, bs, bw, bi, bsent, bshape)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] scaled lake: ${e.getMessage}")
          (s"FAILED: ${clip(e.getMessage)}", Map.empty[String, QueryStats],
            "{}", "{}", 0.0, "{}")
        }
      val entries = scalingNames.map { name =>
        (med(smallStats, name), med(midStats, name), med(bigStats, name)) match {
          case (Some(s), Some(m), b) =>
            val base = s""""small":${fmt(s)},"mid":${fmt(m)},"ratio_mid_over_small":${fmt(m / s)},""" +
              s""""small_raw":${rawJson(smallStats, name)},"mid_raw":${rawJson(midStats, name)}"""
            val bigPart = b.map { t =>
              s""","big":${fmt(t)},"ratio_big_over_mid":${fmt(t / m)}""" +
                s""","big_raw":${rawJson(bigStats, name)}"""
            }.getOrElse("")
            s""""$name":{$base$bigPart}"""
          case _ =>
            val why = Seq(smallStats.get(name), midStats.get(name), bigStats.get(name))
              .flatten.flatMap(_.err).headOption.getOrElse("unmeasured")
            s""""$name":{"err":"${jsonEscape(why)}"}"""
        }
      }.mkString("{", ",", "}")
      val dataRatioMid =
        if (sfOf(smallDir) > 0) sfOf(sfDir) / sfOf(smallDir) else 0.0
      fields("scaling") =
        s"""{"data_ratio_mid_over_small":${fmt(dataRatioMid)},"small_sf":"$smallDir","mid_protocol":"retimed_in_phase","big_dir":"${jsonEscape(bigDirDesc)}","data_ratio_big_over_mid":$bigFactor,"big_reps":$bigReps,"big_queries":"${bigNames.mkString(",")}","sentinel":{"small":${fmt(smallSent)},"mid":${fmt(midSent)},"big":${fmt(bigSent)}},"shape_sentinels":{"big":$bigShapeSents},"ckpt_warm":{"small":$smallWarm,"mid":$midWarm,"big":$bigWarm},"instrumentation":{"small":$smallInst,"mid":$midInst,"big":$bigInst},"queries":$entries}"""
      val maxMid = scalingNames.flatMap(n =>
        for { s <- med(smallStats, n); m <- med(midStats, n) } yield m / s)
      val maxBig = bigNames.flatMap(n =>
        for { m <- med(midStats, n); b <- med(bigStats, n) } yield b / m)
      fields("scaling_summary") =
        s"""{"n":${scalingNames.size},"max_ratio_mid_over_small":${
          fmt(if (maxMid.isEmpty) 0.0 else maxMid.max)},"big_n":${bigNames.size},"max_ratio_big_over_mid":${
          fmt(if (maxBig.isEmpty) 0.0 else maxBig.max)}}"""
    }
    fields("load_sentinel") = sentinelJson(s""","end":${fmt(sentinel())}""")
    checkpoint("scaling_big")

    spark.stop()
  }
}
