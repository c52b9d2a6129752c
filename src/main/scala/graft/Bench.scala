package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.server.HttpFront
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
  *   - Every timed query, in every phase and at every scale point,
  *     runs the same protocol ([[measureArms]] with one arm): one
  *     untimed warm rep, then the timed reps. The warm rep pays plan
  *     codegen, JIT and file listing and builds the query's lake
  *     artifacts immediately before its own reps, so no artifact or
  *     cache decays between a distant warm-up and the reps it serves
  *     (a global warm-up pass ~70 queries earlier recorded decaying
  *     triples such as x132 [14.0, 11.2, 4.4] against a 4.4 s steady
  *     state). benchmark.py's own docstring warns that a first (cold)
  *     run "may be slower than the others".
  *   - Each timed query's record carries a `plan_shape`: scans and
  *     files read, exchanges, and every join with its output rows,
  *     read from the executed plan of its last timed rep ([[planShape]]).
  *     A candidate-pair volume is the output of the join that builds
  *     the pairs, so a wall ratio can be read against the volume the
  *     plan actually moved. The shape is that of the timed `count()`
  *     action, not of a full materialization.
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
  *   - The record holds values, not JSON text; one codec
  *     ([[HttpFront.mapper]]) writes both the artifact and the compact
  *     line, so no captured error message can break the JSON.
  *   - The big scale point is TRIMMED to the riskiest shapes, and
  *     expensive phases are skipped (with the reason in the artifact)
  *     when the SPARK_GRAFT_BENCH_BUDGET_SEC budget is nearly spent,
  *     so the driver-visible run finishes with rc 0.
  *   - The FULL record (means/stds/medians/raw per-rep times/plan
  *     shapes/scaling detail) lives in bench/bench_latest.json
  *     (committed) and /tmp/graft-bench.json; the stdout line carries
  *     the headline numbers plus a pointer.
  */
object Bench {

  /** Per-query timing result. `err` carries the first failure message
    * when any timed rep threw; stats are over the successful reps only
    * (`raw` lists them in run order). A query whose every rep failed
    * has okReps == 0 and zeroed stats — callers must treat it as
    * broken, never as fast.
    */
  final case class QueryStats(name: String, mean: Double, std: Double,
      median: Double, okReps: Int, err: Option[String],
      raw: Seq[Double] = Nil)

  /** One executed join operator and the rows it emitted. */
  final case class JoinNode(name: String, rows: Long)

  /** What an executed plan did: its source scans and the files they
    * read after partition pruning, its exchanges, and each join with
    * its output rows.
    */
  final case class PlanShape(scans: Int, files: Long, exchanges: Int,
      joins: Seq[JoinNode])

  /** Bound a captured error message: newlines flattened (the artifact
    * is one line) and truncated to 200 chars of raw text. Escaping is
    * the codec's job at write time.
    */
  private[graft] def clip(msg: String): String =
    Option(msg).getOrElse("null")
      .replace("\n", " ").replace("\r", " ").take(200)

  /** The bench's JSON writer: the artifact, the compact stdout line
    * and the HTTP phase's request body all go through it.
    */
  def json(value: Any): String = HttpFront.mapper.writeValueAsString(value)

  /** Round to the record's 4-decimal precision. */
  private def r4(d: Double): Double = math.round(d * 1e4) / 1e4

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

  /** The one timing loop: each arm is warmed once (untimed; a failure
    * is logged, never recorded in the stats), then the arms are timed
    * INTERLEAVED for `rounds` rounds (A B A B …). With several arms
    * this is the only protocol on this box that separates an arm's
    * effect from window drift (cross-session walls for sub-2 s queries
    * vary up to ±2×; see OPTIMIZATION_r18.md "Measurement protocol");
    * with one arm it is the bench's warm-rep-then-reps rule. Returns
    * each arm's warm-rep seconds and its [[repStats]]; an arm that
    * throws is flagged in its own err without touching the others'.
    */
  def measureArms(name: String, rounds: Int)(
      arms: Seq[() => Unit]): Seq[(Double, QueryStats)] = {
    val warm = arms.map(arm => timeRep(s"$name warm rep")(arm)._1)
    val timed = Seq.fill(rounds)(arms.map(timeRep(name)))
    arms.indices.map(i => (warm(i), repStats(name, timed.map(_(i)))))
  }

  /** Run `df` the way `Dataset.count()` does — the same
    * `groupBy().count()` plan, executed once — and return the count
    * with the [[planShape]] of that execution.
    */
  def countWithShape(df: DataFrame): (Long, PlanShape) = {
    val counted = df.groupBy().count()
    (counted.collect().head.getLong(0), planShape(counted.queryExecution))
  }

  /** One rep of registered query `name` at `dir` — the single place
    * that decides how a warm or timed rep executes a query (today
    * `count()`, see [[countWithShape]]).
    */
  def runQuery(spark: SparkSession, name: String, dir: String): (Long, PlanShape) =
    countWithShape(SparkEntry.queries(name)(spark, dir))

  /** The shape of an ALREADY EXECUTED plan, read from its operators'
    * metrics in one walk. AQE wraps the plan in AdaptiveSparkPlanExec
    * and finalized stages are leaves that hold their subtree in
    * `plan`, so both are unwrapped; subqueries are walked too. A
    * reused exchange is a leaf, so nothing is counted twice. Scans
    * report `numFiles` AFTER partition pruning (`DataFrame.inputFiles`
    * lists the whole table).
    */
  def planShape(qe: QueryExecution): PlanShape = {
    val nodes = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        nodes += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)
    val scans = nodes.filter {
      case _: DataSourceScanExec | _: BatchScanExec => true
      case _ => false
    }
    PlanShape(
      scans = scans.size,
      files = scans.map(metric(_, "numFiles")).sum,
      exchanges = nodes.count(_.isInstanceOf[Exchange]),
      joins = nodes.collect { case j: BaseJoinExec =>
        JoinNode(j.nodeName, metric(j, "numOutputRows")) }.toSeq)
  }

  /** Each failed query mapped to its first error (clipped) — empty
    * when everything ran clean.
    */
  def errors(stats: Seq[QueryStats]): ListMap[String, String] =
    ListMap.from(stats.collect { case QueryStats(n, _, _, _, _, Some(e), _) =>
      n -> clip(e) })

  /** Headline shapes the compact stdout line keeps in its `queries`
    * map: the ones BASELINE.md compares directly.
    */
  private val stdoutSet = Set("flagship", "b02_glob_scan", "b03_pruned_scan",
    "b09_partial_final", "c02_join_large", "c07_agg_tpch_q1",
    "c32_range_join", "x03_dedup_minhash", "x31_passage_dedup",
    "x46_bigram_logprob", "x69_pagerank", "x92_span_dedup")

  /** The headline phase's record fields, from its per-query stats. */
  def headlineFields(stats: Seq[QueryStats]): Seq[(String, Any)] = {
    val usable = stats.filter(_.okReps > 0)
    def byName[V](qs: Seq[QueryStats])(f: QueryStats => V) =
      ListMap.from(qs.map(s => s.name -> f(s)))
    val failed = stats.filter(_.err.isDefined)
    Seq(
      "queries" -> byName(usable)(s => r4(s.mean)),
      "queries_n" -> usable.size,
      "queries_stdout" -> byName(usable.filter(s => stdoutSet(s.name)))(s => r4(s.mean)),
      "std" -> byName(usable)(s => r4(s.std)),
      "median" -> byName(usable)(s => r4(s.median)),
      "raw" -> byName(usable)(_.raw.map(r4)),
      "errors" -> errors(stats),
      // a mass-failure round would blow the ~2 KB stdout budget if the
      // full error map rode the compact line (the artifact keeps it);
      // count + first example suffice there
      "errors_compact" -> failed.headOption.fold(ListMap.empty[String, Any])(f =>
        ListMap("n" -> failed.size, "first" -> clip(s"${f.name}: ${f.err.get.take(120)}"))),
      "value" -> r4(usable.map(_.mean).sum),
      // median-based: one spiked rep must not move the headline
      // pruning ratio (see object scaladoc)
      "pruned_vs_full" -> r4((for {
        full <- usable.find(_.name == "b02_glob_scan")
        pruned <- usable.find(_.name == "b03_pruned_scan")
        if pruned.median > 0
      } yield full.median / pruned.median).getOrElse(0.0)))
  }

  /** Keys of the compact stdout line: the driver contract fields plus
    * small headline extras — kept under ~2 KB so a tail-only log
    * capture still holds one complete line.
    */
  val compactKeys = Seq("metric", "value", "unit", "queries",
    "queries_n", "sf",
    "reps", "probe_ok", "pruned_vs_full", "full_scan_files",
    "pruned_scan_files", "http", "scaling_summary", "load_sentinel",
    "errors_compact", "phases_complete", "elapsed_sec", "detail")

  /** The compact stdout line: the [[compactKeys]] present in `record`,
    * with the trimmed `queries_stdout` map standing in for `queries`
    * (the full map pushed the line past the driver's tail-capture
    * window: the r11 record had rc 0 but parsed:null, VERDICT r11 §2).
    */
  def compactLine(record: collection.Map[String, Any]): String =
    json(ListMap.from(compactKeys.flatMap { k =>
      val v = if (k == "queries") record.get("queries_stdout").orElse(record.get(k))
        else record.get(k)
      v.map(k -> _)
    }))

  /** One scaling point's results: per-query stats and plan shapes, the
    * lake-checkpoint flags read after its reps, its load sentinel, and
    * (big point only) a sentinel read before each shape's reps.
    */
  private final case class Point(stats: Map[String, QueryStats],
      shapes: ListMap[String, PlanShape], ckptWarm: ListMap[String, Boolean],
      sentinel: Double, shapeSentinels: ListMap[String, Double])
  private val NoPoint = Point(Map.empty, ListMap.empty, ListMap.empty, 0.0, ListMap.empty)

  /** Headline set: engine flagship, the pruned/full contrast pair, a
    * large join, a wide aggregate, a window, the temporal joins, the
    * iterative components operator, a streaming ingest, and the
    * LLM-pipeline representatives.
    *
    * Label note: p01 is an end-to-end ELT pipeline and s07 a streaming
    * ingest — each rep times write + re-read by design, not a read-only
    * query. x03/x18 reps read their lake-checkpointed artifacts (built
    * on their untimed warm rep) — the amortized repeat-invocation
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
    // (4-table) model build on top
    "x148_kneser_ney",
    // TextRank: the co-occurrence EDGE SET is the scaling question —
    // it grows with distinct bigrams (vocabulary-shaped, sublinear)
    // while the corpus pass grows linearly; the ratio reads which
    // term dominates
    "x164_textrank",
    // the inverted-index pair join: candidate volume Σ df² under the
    // df cap — the lexical twin of x03's banding question
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
    // wedge join's plan_shape rows) should read exactly linear — the clean
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
    // the big point (with the pair join's plan_shape rows) is the
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
    // is the term the big ratio reads
    "x164_textrank",
    // VERDICT r14 #5: the banded edit-distance join is the heaviest
    // of the four new scaling shapes — candidate-bounded like x03
    "x91_edit_distance_dedup",
    // VERDICT r15 #5: big-point coverage for the remaining heavies —
    // the recall-side pair grading (candidate-bounded), the
    // frequent-pair lattice (basket-bounded), the sample-bounded
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
    // 3 reps at every point: with 2, the recorded "median" is a mean
    // of two, and a single contended rep moves a ratio by half its
    // spike (x31's r12 big_raw [4.51, 1.78] read as 7.7× when its
    // clean band is ~2×)
    val reps = envInt("SPARK_GRAFT_REPS", 3)
    val bigFactor = envInt("SPARK_GRAFT_SCALE_BIG", 10)
    val budgetSec = envInt("SPARK_GRAFT_BENCH_BUDGET_SEC", 1500)
    def remainingSec: Double = budgetSec - elapsedSec

    val spark = graft.engine.Tuning.session()

    // ---- checkpointed artifact state ---------------------------------
    // The FULL record, in key order; it is rewritten to the artifact
    // files after every phase, so a kill at any point leaves the last
    // complete phase parseable.
    val fields = mutable.LinkedHashMap[String, Any](
      "metric" -> "total", "value" -> 0.0, "unit" -> "sec",
      "queries" -> ListMap.empty, "sf" -> sfDir, "reps" -> reps)
    val phasesDone = mutable.ArrayBuffer[String]()
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
    val ledgerMarks = mutable.LinkedHashMap[String, Int]()
    def stampLedger(phase: String): Unit = {
      val led = Lake.buildLedgerSnapshot()
      ledgerMarks(phase) = led.size
      fields("derived_builds") = ListMap.from(led.map { case (n, s) => n -> r4(s) })
      fields("derived_builds_phase_marks") = ledgerMarks
    }
    def checkpoint(phase: String): Unit = {
      phasesDone += phase
      stampLedger(phase)
      fields("phases_complete") = phasesDone.mkString(",")
      fields("elapsed_sec") = r4(elapsedSec)
      fields("detail") = outs.head
      val full = json(fields)
      outs.foreach { out =>
        try {
          val p = java.nio.file.Paths.get(out)
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] file write $out: ${e.getMessage}") }
      }
      // cumulative compact line; the LAST printed line is always the
      // most complete record
      println(compactLine(fields))
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
    val sentinelStart = r4(sentinel())

    // Materialize the partitioned copy once so rep 1 of the pruned/full
    // pair times the query, not the one-off write (benchmark.py times
    // queries against a pre-built layout too).
    Lake.ensurePartitionedEvents(spark, sfDir)

    // A13 probe: the pruned-path count and the full-scan count of one
    // probe key must agree across modes (benchmark.py:41,:116).
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
    def filesRead(df: DataFrame): Long = countWithShape(df)._2.files
    fields("probe_ok") = probeOk
    fields("full_scan_files") = filesRead(
      Lake.partitionedEvents(spark, sfDir).select(col("event_id")))
    fields("pruned_scan_files") = filesRead(
      Lake.partitionedEvents(spark, sfDir)
        .filter(col("date") === lit("2024-01-05"))
        .select(col("event_id")))
    fields("load_sentinel") = ListMap("start" -> sentinelStart)
    checkpoint("setup")

    // ---- phase 1: headline timings at sfDir --------------------------
    // Post-hoc contention stamp (VERDICT r14 #1): a point's sentinel
    // says nothing about machine load during one query's timed reps
    // minutes later, so an anomalous triple (x164-mid [29.7, 40.9,
    // 15.6] under an "idle" point sentinel) could not be attributed
    // in-artifact. Any non-trivial query whose rep spread exceeds 2.5×
    // gets a sentinel read IMMEDIATELY after its reps, stamped per
    // query@point, so load during the anomalous window is recorded
    // rather than inferred.
    val spreadSentinels = mutable.LinkedHashMap[String, Double]()
    // The single timing rule (see object scaladoc): warm rep, then
    // `n` timed reps; the plan shape is the last successful rep's.
    def timeQuery(name: String, dir: String, n: Int): (QueryStats, Option[PlanShape]) = {
      var shape: Option[PlanShape] = None
      val s = measureArms(name, n)(Seq(() => shape = Some(runQuery(spark, name, dir)._2)))
        .head._2
      if (s.okReps > 1 && s.raw.min > 0.5 &&
          s.raw.max / s.raw.min > 2.5) {
        val sent = sentinel()
        spreadSentinels(s"$name@${dir.split('/').last}") = r4(sent)
        System.err.println(f"[bench] $name@$dir rep spread ${
          s.raw.max / s.raw.min}%.1fx (raw ${s.raw.map(t => f"$t%.4f").mkString(",")
          }), post-rep sentinel $sent%.2f")
        fields("spread_sentinels") = spreadSentinels
      }
      (s, shape)
    }
    // Checkpoint warm-path evidence (VERDICT r8 #1, extended r15 to
    // x164 per VERDICT r14 #1): read after a point's reps, these lake
    // checkpoints must be built, so the timed reps measured checkpoint
    // reads, not rebuilds — a slow point with ckpt_warm=true DISPROVES
    // the rebuild-inside-timed-reps hypothesis in the artifact itself.
    def ckptWarm(dir: String): ListMap[String, Boolean] =
      ListMap.from(Seq("x31" -> "x31_passages", "x164" -> "textrank_edges_v1")
        .map { case (k, n) =>
          k -> (try Lake.isBuilt(spark, dir, n) catch { case _: Throwable => false })
        })

    val names = headline.filter(SparkEntry.queries.contains)

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
    val loadSentinel = ListMap[String, Any]("start" -> sentinelStart,
      "headline" -> r4(headlineSent),
      "headline_gate_attempts" -> gateAttempts,
      "headline_contended" -> (headlineSent > sentinelIdleMax))
    fields("load_sentinel") = loadSentinel

    val timed = names.map(timeQuery(_, sfDir, reps))
    fields ++= headlineFields(timed.map(_._1))
    fields("plan_shape") = ListMap.from(
      timed.collect { case (s, Some(shape)) => s.name -> shape })
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
      if (remainingSec < 60) ListMap("skipped" -> "budget")
      else try {
        // the serving phase carries its own window's load reading too
        // (r13's http p50/p99 were headline-window contaminated and
        // unprovably so — every timed phase now stamps its sentinel)
        val httpSent = sentinel()
        val engine = new graft.engine.SparkEngine(() => spark)
        val server = HttpFront.start(engine, spark, sfDir, port = 0)
        try {
          val port = server.getAddress.getPort
          val url = java.net.URI.create(s"http://127.0.0.1:$port/query").toURL
          val body = json(ListMap("q" -> graft.queries.Core.flagshipSql, "limit" -> 20))
            .getBytes("UTF-8")
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
            if (cs.isEmpty) ListMap("err" -> s"all $clients-client requests failed")
            else ListMap("clients" -> clients, "n" -> cs.length,
              "errors" -> cErrs.get(), "p50" -> r4(cs(cs.length / 2)),
              "p99" -> r4(cs(((cs.length - 1) * 99) / 100)),
              "qps" -> r4(cs.length / cWall))
          ListMap("n" -> 100, "p50" -> r4(times(49)), "p99" -> r4(times(98)),
            "query" -> "flagship", "sentinel" -> r4(httpSent),
            "concurrent" -> concurrent)
        } finally HttpFront.stop(server)
      } catch { case e: Throwable =>
        ListMap("err" -> clip(String.valueOf(e.getMessage))) }
    checkpoint("http")

    // ---- phases 3+4: scaling curve -----------------------------------
    // Scaling-curve evidence: the same queries at THREE scale factors
    // in ONE run — sf0.01 ("small"), the driver's sfDir ("mid",
    // re-timed in this phase), and a derived ~10×-sfDir lake ("big",
    // Lake.ensureScaledDir — re-keyed unions, never touching the
    // read-only testdata; trimmed to [[scalingBig]]). Two decades with
    // the same sublinear slope is the direct "would it survive 100×"
    // evidence next to the structural file-count metric, and the big
    // point exercises constants that hide at 600k rows. Per-query
    // ratios at-or-below the data ratio are the pass band; superlinear
    // growth is a shuffle/skew/driver-bottleneck smell. All compared
    // numbers are medians; raw reps and each point's per-query
    // plan_shape (candidate volumes are join output rows; c02/c105
    // show which side of the broadcast→SMJ cliff they ran on) ride
    // along in the full record.
    val scalingNames = scalingAll.filter(names.contains)
    def sfOf(dir: String): Double =
      "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.0)

    def timePoint(dir: String, pointNames: Seq[String],
        perShapeSentinel: Boolean = false): Point = {
      // per-point load sentinel: every compared point carries the
      // machine-load reading of ITS OWN measurement window, so a
      // cross-point ratio taken under asymmetric load is visible in
      // the artifact instead of masquerading as a scaling verdict
      val sent = sentinel()
      Lake.ensurePartitionedEvents(spark, dir)
      // per-SHAPE sentinels (VERDICT r17 #1): at the big point a
      // 30-shape phase can drift from idle to contended between its
      // single point sentinel and a given query's reps minutes later
      // — the x199/x132 big inflations were unattributable for
      // exactly this reason. One fixed-work reading immediately
      // before each shape's reps stamps the load of THAT window.
      val shapeSents = mutable.LinkedHashMap[String, Double]()
      val timed = pointNames.map { n =>
        if (perShapeSentinel) shapeSents(n) = r4(sentinel())
        timeQuery(n, dir, reps)
      }
      Point(timed.map { case (s, _) => s.name -> s }.toMap,
        ListMap.from(timed.collect { case (s, Some(shape)) => s.name -> shape }),
        ckptWarm(dir), r4(sent), ListMap.from(shapeSents))
    }

    def med(p: Point, n: String): Option[Double] =
      p.stats.get(n).filter(s => s.okReps > 0 && s.median > 0).map(_.median)
    // per-rep raws for EVERY scaling point (VERDICT r13 #3: small/mid
    // recorded only medians, so a contended rep or cold-artifact
    // rebuild inside a timed rep — the x129 10.94 s mid anomaly —
    // could not be distinguished from a real regression)
    def raws(p: Point, n: String): Seq[Double] =
      p.stats.get(n).map(_.raw.map(r4)).getOrElse(Nil)
    def entries(small: Point, mid: Point, big: Point): ListMap[String, Any] =
      ListMap.from(scalingNames.map { name =>
        name -> ((med(small, name), med(mid, name)) match {
          case (Some(s), Some(m)) =>
            val base = ListMap[String, Any]("small" -> r4(s), "mid" -> r4(m),
              "ratio_mid_over_small" -> r4(m / s),
              "small_raw" -> raws(small, name), "mid_raw" -> raws(mid, name))
            med(big, name).fold(base)(b => base ++ ListMap(
              "big" -> r4(b), "ratio_big_over_mid" -> r4(b / m),
              "big_raw" -> raws(big, name)))
          case _ =>
            val why = Seq(small, mid, big).flatMap(_.stats.get(name))
              .flatMap(_.err).headOption.getOrElse("unmeasured")
            ListMap("err" -> clip(why))
        })
      })
    def maxRatio(lo: Point, hi: Point, ns: Seq[String]): Double = {
      val rs = for { n <- ns; l <- med(lo, n); h <- med(hi, n) } yield h / l
      r4(if (rs.isEmpty) 0.0 else rs.max)
    }

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

    scalingSkip.foreach { why =>
      fields("scaling") = ListMap("skipped" -> why)
      fields("scaling_summary") = fields("scaling")
    }
    val small = if (scalingSkip.isEmpty) timePoint(smallDir, scalingNames) else NoPoint
    // The mid point is RE-TIMED here, adjacent to the small point,
    // instead of reusing the headline-phase stats: the headline pass
    // runs first in the process (and, per the r12 record, in the most
    // load-contended window — sentinel 3.78 at start vs 0.25 at end),
    // so a headline-mid / late-small ratio compared two different
    // machine states and read as fake superlinearity (x132's official
    // 21.4× vs a 3.6 s clean-session median). Adjacent same-protocol
    // points + the per-point sentinels make the compared windows
    // homogeneous and auditable.
    val mid = if (scalingSkip.isEmpty) timePoint(sfDir, scalingNames) else NoPoint
    val dataRatioMid =
      if (sfOf(smallDir) > 0) sfOf(sfDir) / sfOf(smallDir) else 0.0
    // the scaling record and summary over small+mid, plus the big
    // point (its dir, query set and results) once it has run
    def recordScaling(big: Option[(String, Seq[String], Point)]): Unit = {
      val points = ListMap("small" -> small, "mid" -> mid) ++ big.map("big" -> _._3)
      def perPoint(f: Point => Any) = points.map { case (k, p) => k -> f(p) }
      val rec = mutable.LinkedHashMap[String, Any](
        "data_ratio_mid_over_small" -> r4(dataRatioMid),
        "small_sf" -> smallDir, "mid_protocol" -> "retimed_in_phase")
      big.foreach { case (dir, bigNames, _) =>
        rec ++= Seq("big_dir" -> dir, "data_ratio_big_over_mid" -> bigFactor,
          "big_reps" -> reps, "big_queries" -> bigNames.mkString(","))
      }
      rec("sentinel") = perPoint(_.sentinel)
      big.foreach(b => rec("shape_sentinels") = ListMap("big" -> b._3.shapeSentinels))
      rec ++= Seq("ckpt_warm" -> perPoint(_.ckptWarm),
        "plan_shape" -> perPoint(_.shapes),
        "queries" -> entries(small, mid, points.getOrElse("big", NoPoint)))
      fields("scaling") = rec
      val summary = mutable.LinkedHashMap[String, Any](
        "n" -> scalingNames.size,
        "max_ratio_mid_over_small" -> maxRatio(small, mid, scalingNames))
      big.foreach { case (_, bigNames, b) =>
        summary ++= Seq("big_n" -> bigNames.size,
          "max_ratio_big_over_mid" -> maxRatio(mid, b, bigNames))
      }
      fields("scaling_summary") = summary
    }
    // small+mid two-point record first; the big point extends it
    if (scalingSkip.isEmpty) recordScaling(None)
    checkpoint("scaling_small")

    if (scalingSkip.isEmpty && bigFactor > 1) {
      // big point: derived scaled lake, trimmed set; a build/run
      // failure (or an exhausted budget) degrades to an empty big
      // point with the reason in the artifact — never a crashed bench.
      val bigNames = scalingBig.filter(scalingNames.contains)
      val (bigDirDesc, big) =
        if (remainingSec < 420) ("skipped:budget", NoPoint)
        else try {
          val d = Lake.ensureScaledDir(spark, sfDir, bigFactor)
          (d, timePoint(d, bigNames, perShapeSentinel = true))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] scaled lake: ${e.getMessage}")
          (s"FAILED: ${clip(e.getMessage)}", NoPoint)
        }
      recordScaling(Some((bigDirDesc, bigNames, big)))
    }
    fields("load_sentinel") = loadSentinel + ("end" -> r4(sentinel()))
    checkpoint("scaling_big")

    spark.stop()
  }
}
