package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Lake
import graft.sources.Lake.Derived

/** Corpus-composition operators for a training-data pipeline, over
  * `documents`: deterministic stratified sampling (language
  * rebalancing), greedy token-budget fill (building a fixed-size
  * training mix per source), and sequence-packing accounting
  * (concat-and-chunk context-window assignment).
  *
  * Both are engine-reproducible by construction — the sampling hash is
  * plain modular arithmetic (a multiplicative Weyl step with Knuth's
  * golden-ratio multiplier: h = id·2654435761 mod 2³¹−1; the step
  * M mod P ≈ 0.236·P makes {h(id)} equidistributed over [0, P) from
  * id = 1 on, so each stratum's admitted fraction converges to its
  * rate; products stay < 2⁶³ for id < 3.4·10⁹ — ANSI-safe), not an
  * engine-specific RNG — so both take full DuckDB oracles, and a
  * re-run over the same corpus reproduces the sample exactly (the
  * property that makes training mixes auditable).
  */
object Sampling {

  private type Q = (SparkSession, String) => DataFrame

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Lake.table(spark, sfDir, "documents")

  /** Modulus (2³¹ − 1) and Knuth golden-ratio multiplier. */
  val HashMod = 2147483647L
  val HashMul = 2654435761L

  /** Deterministic per-row sampling hash in [0, HashMod). */
  def sampleHash(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (idCol * HashMul) % HashMod

  /** The canonical language-mix thresholds (en 50%, other 20%) —
    * shared by x20 and the x30 composition so the mix definition
    * lives in one place.
    */
  def langMixThreshold: org.apache.spark.sql.Column =
    when(col("lang") === "en", lit((HashMod * 0.5).toLong))
      .otherwise(lit((HashMod * 0.2).toLong))

  /** Context-window width (tokens) for packing accounting (x27/x30). */
  val PackChunkTokens = 512L

  /** The (day, bin, n) partial x70 persists per day — also maintained
    * incrementally by the streaming sibling s12, so the bin
    * definition lives in one place.
    */
  def histDaily(events: DataFrame): DataFrame =
    events.groupBy(to_date(col("ts")).as("day"),
      floor(col("value") / lit(25.0)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** The (day, bin, n) partial x70/x106 share. */
  val ValueHistDaily: Derived = Derived("value_hist_daily_v1")((spark, sfDir) =>
    histDaily(Lake.table(spark, sfDir, "events")))

  /** x70's rollup readout over a (day, bin, n) partial table: per-bin
    * totals, cumulative counts, and share — the window runs over the
    * rolled-up ≤ ~20-row frame, never the data. Shared with s12 so
    * the streamed maintenance is read out exactly like the batch
    * build (the IVM contract is then literal frame equality).
    */
  def histRollup(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rolled = daily.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n"))
    val byBin = Window.orderBy(col("bin"))
    rolled
      .withColumn("cum_n", sum(col("n")).over(
        byBin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n")).over(
        byBin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bin"), (col("bin") * 25.0).as("lo"),
        ((col("bin") + 1) * 25.0).as("hi"), col("n_days"), col("n"),
        col("cum_n"),
        round(col("cum_n").cast("double") / col("total"), 6).as("cum_share"))
      .orderBy(col("bin"))
  }

  /** x139's fold-excluded encoding cells with the DEFERRED division
    * carried as (enc_num, enc_den) — exact BIGINTs, so x139 can
    * publish the 4 dp encoding and x149 can re-grid the same rational
    * to its integer confidence without a double-rounding drift
    * between the two operators. One (type, fold) hash agg + broadcast
    * marginal joins; ≤ |types|·K rows out.
    */
  private[graft] def targetEncodingFrame(spark: SparkSession, sfDir: String): DataFrame =
    encodeCells(rawScoreCells(spark, sfDir))

  /** The raw (event_type, fold, n, n_pos) label-count cells — the one
    * fact-table aggregation under the whole x139/x149/x169/x186/x187/
    * x188 evaluation suite, and the ADDITIVE sufficient statistic the
    * streaming maintainer (s32) merges per microbatch.
    */
  private[graft] def rawScoreCells(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, ScoreCells)

  /** encodeCells fans the cells into FOUR plan branches, and an
    * unmaterialized build re-scans the fact table per branch (the r13
    * PlanSpec pin caught 4 events scans); as a lake table every branch
    * reads a ≤|types|·K-row parquet.
    */
  val ScoreCells: Derived = Derived("score_cells_v1")((spark, sfDir) =>
    rawScoreCellsOf(Lake.table(spark, sfDir, "events")))

  /** [[rawScoreCells]] over an explicit events frame — the per-batch
    * delta shape s32 aggregates before its additive merge.
    */
  private[graft] def rawScoreCellsOf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        (sampleHash(col("user_id")) % 4).as("fold"),
        when(col("value") > 90, 1L).otherwise(0L).as("pos"))
      .groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))

  /** The fold-excluded encoding over a prebuilt raw cell frame —
    * [[targetEncodingFrame]]'s math with the fact-table aggregation
    * factored out, so a maintained cell table (s32) scores through
    * the IDENTICAL expressions as the batch build.
    */
  private[graft] def encodeCells(cells: DataFrame): DataFrame = {
    val m = 100L
    val byType = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_t"), sum(col("n_pos")).as("pos_t"))
    // the prior excludes the WHOLE fold (all types), not just the
    // cell — fold-f rows of other types are still fold-f rows
    val byFold = cells.groupBy(col("fold"))
      .agg(sum(col("n")).as("n_f"), sum(col("n_pos")).as("pos_f"))
    val global = broadcast(cells.agg(sum(col("n")).as("n_g"),
      sum(col("n_pos")).as("pos_g")))
    cells.join(broadcast(byType), "event_type")
      .join(broadcast(byFold), "fold").crossJoin(global)
      .select(col("event_type"), col("fold"), col("n"), col("n_pos"),
        (col("n_t") - col("n")).as("n_excl"),
        (col("pos_t") - col("n_pos")).as("pos_excl"),
        ((col("pos_t") - col("n_pos")) * (col("n_g") - col("n_f")) +
          lit(m) * (col("pos_g") - col("pos_f"))).as("enc_num"),
        ((col("n_t") - col("n") + lit(m)) *
          (col("n_g") - col("n_f"))).as("enc_den"))
  }

  /** x186/x187/x188's SCORE CELLS: the fold-excluded encoding cells
    * carrying the 10⁴-grid out-of-fold score (x149's regrid) plus
    * each cell's exact (n, n_pos). Because the score is
    * CELL-CONSTANT, every threshold/ranking metric over the scorer —
    * ROC, PR, Brier — collapses algebraically from event grain onto
    * this ≤|types|·K frame: x149/x169's event⋈cells scoring join is
    * provably redundant for metrics that only need (score, n, n_pos),
    * so these operators never touch the fact table again after the
    * one aggregation that builds the cells (the x147
    * algebraic-elimination discipline — at 100 TB the scorer's whole
    * evaluation suite costs ONE fact-table pass shared via the cell
    * frame). Also the exact sufficient statistic s32 maintains
    * incrementally: cells merge additively per microbatch.
    */
  private[graft] def scoreCells(spark: SparkSession, sfDir: String): DataFrame =
    scoreCellsFrom(rawScoreCells(spark, sfDir))

  /** [[scoreCells]] over a prebuilt raw cell frame (s32's maintained
    * state reads out through this exact stage).
    */
  private[graft] def scoreCellsFrom(cells: DataFrame): DataFrame =
    encodeCells(cells)
      .select(
        round(col("enc_num").cast("double") /
          col("enc_den").cast("double") * 10000.0, 0)
          .cast("long").as("enc_fp"),
        col("n"), col("n_pos"))

  /** [[scoreCellsFrom]] KEEPING the fold key — x214's split-conformal
    * calibration needs to address fold 0's cells separately from the
    * evaluation folds, which the score-grain rollup erases.
    */
  private[graft] def foldScoreCellsFrom(cells: DataFrame): DataFrame =
    encodeCells(cells)
      .select(col("fold"),
        round(col("enc_num").cast("double") /
          col("enc_den").cast("double") * 10000.0, 0)
          .cast("long").as("enc_fp"),
        col("n"), col("n_pos"))

  /** x214's readout over a (fold, enc_fp, n, n_pos) cell frame —
    * split-conformal prediction at α = 0.1 (Vovk's inductive
    * conformal; Angelopoulos & Bates 2022 tutorial form). Fold 0 is
    * the calibration split: each calibration example's nonconformity
    * is 1 − p̂(true label), which on the 10⁴ score grid is the exact
    * integer 10000 − enc_fp for a positive and enc_fp for a negative
    * — so the conformal quantile q̂ (the ⌈(n_cal+1)(1−α)⌉-th smallest
    * nonconformity, the finite-sample-corrected rank) is pure BIGINT
    * rank arithmetic over a ≤2·|cells| value frame, and the
    * evaluation-fold readout (empirical coverage, which the
    * exchangeability theorem lower-bounds by 1−α in expectation, and
    * mean prediction-set size, the efficiency price) is one weighted
    * aggregate over the cells — the fact table contributes exactly
    * the one pass that built the cell artifact. k > n_cal degrades
    * to q̂ = 10001 (= +∞: every set is {0,1}), never a crash.
    */
  private[graft] def conformalFromFoldCells(fc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nc = fc.filter(col("fold") === 0)
      .select(explode(array(
        struct((lit(10000L) - col("enc_fp")).as("v"), col("n_pos").as("w")),
        struct(col("enc_fp").as("v"),
          (col("n") - col("n_pos")).as("w")))).as("e"))
      .select(col("e.v").as("v"), col("e.w").as("w"))
      .filter(col("w") > 0)
      .groupBy(col("v")).agg(sum(col("w")).as("w"))
    val nCal = broadcast(nc.agg(
      coalesce(sum(col("w")), lit(0L)).as("n_cal")))
    val asc = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = broadcast(
      nc.withColumn("cum", sum(col("w")).over(asc))
        .crossJoin(nCal)
        .agg(coalesce(min(when(
          col("cum") >= expr("(9 * (n_cal + 1) + 9) DIV 10"), col("v"))),
          lit(10001L)).as("q_fp")))
    fc.filter(col("fold") =!= 0).crossJoin(qhat)
      .select(col("n"),
        (when(lit(10000L) - col("enc_fp") <= col("q_fp"), col("n_pos"))
          .otherwise(0L) +
          when(col("enc_fp") <= col("q_fp"), col("n") - col("n_pos"))
            .otherwise(0L)).as("cov_w"),
        ((when(lit(10000L) - col("enc_fp") <= col("q_fp"), 1L).otherwise(0L) +
          when(col("enc_fp") <= col("q_fp"), 1L).otherwise(0L)) *
          col("n")).as("size_w"))
      // global agg (not groupBy) so an empty evaluation split still
      // yields the one readout row, with null-guarded ratios
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_eval"),
        sum(col("cov_w")).as("n_covered"),
        sum(col("size_w")).as("size_sum"))
      .crossJoin(qhat).crossJoin(nCal)
      .select(col("n_cal"), col("q_fp"), col("n_eval"),
        when(col("n_eval") > 0,
          round(col("n_covered").cast("double") /
            col("n_eval").cast("double"), 4)).as("coverage"),
        when(col("n_eval") > 0,
          round(col("size_sum").cast("double") /
            col("n_eval").cast("double"), 4)).as("avg_set_size"))
  }

  /** x186's readout over a (enc_fp, n, n_pos) cell frame — shared
    * with the streaming maintainer (s32) so streamed ≡ batch is
    * literal frame equality. Tie-aware exact AUC: collapsing to
    * score grain, the Mann–Whitney rank-sum with average ranks is
    * 2·R⁺ = Σ_g n_pos_g·(2·cum_before_g + n_g + 1) — all BIGINT, so
    * AUC = (2R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is one exact rational with a
    * single division at 6 dp. ROC curve points (FPR, TPR at each
    * distinct score, threshold = score-or-above) ride the same
    * ≤|distinct scores| frame; every window runs over that
    * model-sized frame, never the data.
    */
  def aucFromScoreCells(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = cells.groupBy(col("enc_fp"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
    val asc = Window.orderBy(col("enc_fp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dsc = Window.orderBy(desc("enc_fp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(lit(1))
    byScore
      .withColumn("cum_before", coalesce(sum(col("n")).over(asc), lit(0L)))
      .withColumn("cum_n_d", sum(col("n")).over(dsc))
      .withColumn("cum_pos_d", sum(col("n_pos")).over(dsc))
      .withColumn("tot", sum(col("n")).over(whole))
      .withColumn("tot_pos", sum(col("n_pos")).over(whole))
      .withColumn("r2_sum", sum(col("n_pos") *
        (lit(2L) * col("cum_before") + col("n") + lit(1L))).over(whole))
      .withColumn("u2",
        col("r2_sum") - col("tot_pos") * (col("tot_pos") + lit(1L)))
      .select(col("enc_fp").as("score_fp"), col("n"), col("n_pos"),
        // single-class degenerate frames: the undefined axis (and the
        // AUC) read NULL, never an ANSI DIVIDE_BY_ZERO crash
        when(col("tot") > col("tot_pos"),
          round((col("cum_n_d") - col("cum_pos_d")).cast("double") /
            (col("tot") - col("tot_pos")).cast("double"), 4)).as("fpr"),
        when(col("tot_pos") > 0,
          round(col("cum_pos_d").cast("double") /
            col("tot_pos").cast("double"), 4)).as("tpr"),
        when(col("tot_pos") > 0 && col("tot") > col("tot_pos"),
          round(col("u2").cast("double") /
            (lit(2.0) * col("tot_pos").cast("double") *
              (col("tot") - col("tot_pos")).cast("double")), 6))
          .as("auc"))
      .orderBy(desc("score_fp"))
  }

  /** x205's sufficient statistic: the JOINT (n_chars, n_toks) value-
    * pair frequency table of a documents frame — everything Spearman
    * needs (both marginal frequency tables, hence both tie-averaged
    * rank maps, and all five weighted rank sums) re-derives from it,
    * and it merges ADDITIVELY per microbatch (s36's maintained
    * state). Support-sized (distinct value pairs), never doc-sized.
    */
  private[graft] def spearmanJointOf(d: DataFrame): DataFrame =
    d.select(col("n_chars"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("n_chars"), col("n_toks"))
      .agg(count(lit(1)).as("f"))

  /** x205's readout over a prebuilt joint frequency table — shared
    * with s36 so streamed ≡ batch is literal frame equality. Doubled
    * tie-averaged ranks 2·cum_before + f + 1 per DISTINCT value from
    * the marginal cumulative bounds (exact BIGINTs, no row-grain
    * global sort), then Pearson over the f-weighted exact ranks: five
    * BIGINT sums, fixed double expressions, one sqrt.
    */
  def spearmanFromJoint(joint: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def r2ranks(v: String): DataFrame = {
      val byV = Window.orderBy(col(v))
      joint.groupBy(col(v)).agg(sum(col("f")).as("fm"))
        .withColumn("cb", coalesce(sum(col("fm")).over(
          byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(v),
          (lit(2L) * col("cb") + col("fm") + lit(1L)).as(s"r2_$v"))
    }
    def dd(c: String) = col(c).cast("double")
    joint
      .join(broadcast(r2ranks("n_chars")), "n_chars")
      .join(broadcast(r2ranks("n_toks")), "n_toks")
      .agg(sum(col("f")).as("n"),
        sum(col("f") * col("r2_n_chars")).as("sx"),
        sum(col("f") * col("r2_n_toks")).as("sy"),
        sum(col("f") * col("r2_n_chars") * col("r2_n_chars")).as("sxx"),
        sum(col("f") * col("r2_n_chars") * col("r2_n_toks")).as("sxy"),
        sum(col("f") * col("r2_n_toks") * col("r2_n_toks")).as("syy"))
      .select(col("n"),
        when((dd("n") * dd("sxx") - dd("sx") * dd("sx")) *
          (dd("n") * dd("syy") - dd("sy") * dd("sy")) > 0.0,
          round((dd("n") * dd("sxy") - dd("sx") * dd("sy")) /
            sqrt((dd("n") * dd("sxx") - dd("sx") * dd("sx")) *
              (dd("n") * dd("syy") - dd("sy") * dd("sy"))), 6))
          .as("rho"))
  }

  /** Bin count per axis for the x216 Kendall dominance grid — frozen
    * into both engines' plans (the τ_b below is the EXACT statistic of
    * the binned variables, the same grid discipline as x149's 10⁴
    * score grid).
    */
  val KendallBins = 64L

  /** x216's Kendall τ_b over a prebuilt joint (n_chars, n_toks, f)
    * value-pair frequency table — x205's Spearman sufficient statistic
    * reused verbatim, so s40 maintains NOTHING new (the streamed joint
    * s36 already merges additively feeds this readout unchanged).
    *
    * Spearman is linear in the rank maps, but Kendall genuinely needs
    * the 2-D DOMINANCE counts (pairs concordant on both axes), which
    * no marginal decomposition gives. The scale answer: bin both axes
    * to a [[KendallBins]]² dense grid — bin = v·B DIV (max+1), exact
    * integer arithmetic on both engines — and compute concordant/
    * discordant mass by 2-D prefix sums over the CONSTANT-size grid:
    * g(x,y) = Σ_{y'≤y} f, P(x,y) = Σ_{x'≤x} g (two windows over B²
    * rows), then per cell conc_w = P(x−1,y−1) and disc_w = cum_x(x−1)
    * − P(x−1,y), so C = Σ f·conc_w and D = Σ f·disc_w are one
    * broadcast join over the grid frame. Everything after the joint's
    * one fact-table aggregation is O(B²) regardless of corpus size.
    * Ties come off the binned marginals: T_x = Σ f_x(f_x−1)/2, and
    * τ_b = (C−D)/√((n₀−T_x)(n₀−T_y)) with n₀ = n(n−1)/2 — all BIGINT
    * (exact to n ≈ 4·10⁹; past that the pair counts move to
    * DECIMAL(38,0)) until the one double division + sqrt at 6 dp.
    * Degenerate single-bin axes read τ_b = NULL, never a crash.
    */
  def kendallFromJoint(joint: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    kendallGridStats(joint)
      .select(col("n"), col("n_conc"), col("n_disc"),
        col("tie_x_pairs"), col("tie_y_pairs"),
        when(col("n0") > col("tie_x_pairs") &&
            col("n0") > col("tie_y_pairs"),
          round((dd("n_conc") - dd("n_disc")) /
            sqrt((dd("n0") - dd("tie_x_pairs")) *
              (dd("n0") - dd("tie_y_pairs"))), 6)).as("tau_b"))
  }

  /** x233's Somers' D over the same dominance grid — the ASYMMETRIC
    * concordance statistic (Kendall's τ_b treats the two variables
    * symmetrically; Somers' D conditions on one: D_y|x = (C−D)/(n₀−T_x)
    * reads "of the pairs untied on x, what excess fraction order the
    * same way on y" — the Gini-like rank accuracy behind c98's
    * c-index, which equals (D_score|outcome + 1)/2). Both directions
    * from the ONE grid pass x216 already proved; the readout adds two
    * divisions. Shares [[kendallGridStats]] so the pair algebra can
    * never diverge between the two operators.
    */
  def somersDFromJoint(joint: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    kendallGridStats(joint)
      .select(col("n"), col("n_conc"), col("n_disc"),
        when(col("n0") > col("tie_x_pairs"),
          round((dd("n_conc") - dd("n_disc")) /
            (dd("n0") - dd("tie_x_pairs")), 6)).as("d_y_given_x"),
        when(col("n0") > col("tie_y_pairs"),
          round((dd("n_conc") - dd("n_disc")) /
            (dd("n0") - dd("tie_y_pairs")), 6)).as("d_x_given_y"))
  }

  /** x242's Goodman–Kruskal γ — the third readout of the ONE
    * dominance grid (τ_b penalizes ties on either axis; Somers' D on
    * one; γ ignores ties entirely: (C−D)/(C+D), the association
    * among the pairs that actually order — the natural statistic for
    * coarsely-binned ordinal scales where ties dominate). Shares
    * [[kendallGridStats]] with x216/x233.
    */
  def gammaFromJoint(joint: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    kendallGridStats(joint)
      .select(col("n"), col("n_conc"), col("n_disc"),
        when(col("n_conc") + col("n_disc") > 0L,
          round((dd("n_conc") - dd("n_disc")) /
            (dd("n_conc") + dd("n_disc")), 6)).as("gamma"))
  }

  /** The shared dominance-grid sufficient statistic under x216/x233/
    * x242: one row (n, n_conc, n_disc, tie_x_pairs, tie_y_pairs, n0)
    * — the grid algebra documented on [[kendallFromJoint]].
    */
  private def kendallGridStats(joint: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = joint.sparkSession
    val b = KendallBins
    val mx = broadcast(joint.agg(max(col("n_chars")).as("mc"),
      max(col("n_toks")).as("mt")))
    val cells = joint.crossJoin(mx)
      .select(expr(s"(n_chars * $b) DIV (mc + 1)").as("bx"),
        expr(s"(n_toks * $b) DIV (mt + 1)").as("by"), col("f"))
      .groupBy(col("bx"), col("by")).agg(sum(col("f")).as("f"))
    val grid = spark.range(0, b).select(col("id").as("bx"))
      .crossJoin(spark.range(0, b).select(col("id").as("by")))
      .join(cells, Seq("bx", "by"), "left")
      .select(col("bx"), col("by"), coalesce(col("f"), lit(0L)).as("f"))
    val byYinX = Window.partitionBy(col("bx")).orderBy(col("by"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byXinY = Window.partitionBy(col("by")).orderBy(col("bx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = grid
      .withColumn("gy", sum(col("f")).over(byYinX))
      .withColumn("p", sum(col("gy")).over(byXinY))
      .withColumn("pxm1y", coalesce(lag(col("p"), 1).over(
        Window.partitionBy(col("by")).orderBy(col("bx"))), lit(0L)))
      .withColumn("pxm1ym1", coalesce(lag(col("pxm1y"), 1).over(
        Window.partitionBy(col("bx")).orderBy(col("by"))), lit(0L)))
    val margx = grid.groupBy(col("bx")).agg(sum(col("f")).as("fx"))
      .withColumn("cumx", sum(col("fx")).over(Window.orderBy(col("bx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val margy = grid.groupBy(col("by")).agg(sum(col("f")).as("fy"))
    val cd = pref.join(broadcast(margx), "bx")
      .agg(coalesce(sum(col("f")), lit(0L)).as("n"),
        coalesce(sum(col("f") * col("pxm1ym1")), lit(0L)).as("n_conc"),
        coalesce(sum(col("f") *
          (col("cumx") - col("fx") - col("pxm1y"))), lit(0L)).as("n_disc"))
    val tx = broadcast(margx.agg(coalesce(
      sum(expr("(fx * (fx - 1)) DIV 2")), lit(0L)).as("tie_x_pairs")))
    val ty = broadcast(margy.agg(coalesce(
      sum(expr("(fy * (fy - 1)) DIV 2")), lit(0L)).as("tie_y_pairs")))
    cd.crossJoin(tx).crossJoin(ty)
      .withColumn("n0", expr("(n * (n - 1)) DIV 2"))
  }

  /** x217's Kruskal–Wallis H over a (grp, v, f) grouped value-
    * frequency table: the k-group generalization of x146's two-sample
    * rank test (MW asks "did THIS source shift vs THAT"; KW asks "do
    * the k sources share one location at all" — the screen you run
    * BEFORE k·(k−1)/2 pairwise MW tests). Global tie-averaged ranks
    * come off the value histogram exactly as x205's doubled ranks
    * (2·cum_before + f + 1 per DISTINCT value — no row-grain sort),
    * each group's rank sum is one BIGINT Σ f·r2 (exact to n ≈ 2·10⁹;
    * the square that would overflow is taken in DOUBLE per group),
    * and H = 3/(n(n+1))·Σ_g r2sum_g²/n_g − 3(n+1) in doubled-rank
    * units, with the tie correction 1 − Σ(f³−f)/(n³−n) accumulated as
    * DECIMAL(38,0) (x208's HUGEINT discipline — f³ leaves BIGINT near
    * f ≈ 2·10⁶). Scale shape: ONE fact-table aggregation builds the
    * cells; every window runs over the value-support / k-row frames.
    * Returns one row per group (n, rank mean) with the shared H,
    * tie-corrected H, and group count; a single-group or single-value
    * frame reads NULL H, never a crash.
    */
  def kruskalWallisFromCells(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Window.orderBy(col("v"))
    val ranks = cells.groupBy(col("v")).agg(sum(col("f")).as("fm"))
      .withColumn("cb", coalesce(sum(col("fm")).over(
        byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("v"), col("fm"),
        (lit(2L) * col("cb") + col("fm") + lit(1L)).as("r2"))
    val grps = cells.join(broadcast(ranks.select(col("v"), col("r2"))), "v")
      .groupBy(col("grp"))
      .agg(sum(col("f")).as("n_g"), sum(col("f") * col("r2")).as("r2sum"))
    val ties = broadcast(ranks.agg(
      coalesce(sum(col("fm").cast("decimal(38,0)") * col("fm") * col("fm") -
        col("fm")), lit(java.math.BigDecimal.ZERO)).as("tie_mass"),
      count(lit(1)).as("n_values")))
    def dd(c: String) = col(c).cast("double")
    val whole = Window.partitionBy(lit(1))
    grps.crossJoin(ties)
      .withColumn("n", sum(col("n_g")).over(whole))
      .withColumn("k_groups", count(lit(1)).over(whole))
      .withColumn("h_raw",
        when(col("n") > 1 && col("k_groups") > 1,
          sum(dd("r2sum") * dd("r2sum") / dd("n_g")).over(whole) *
            lit(3.0) / (dd("n") * (dd("n") + 1.0)) -
            lit(3.0) * (dd("n") + 1.0)))
      .withColumn("ct", lit(1.0) -
        col("tie_mass").cast("double") /
          (dd("n") * dd("n") * dd("n") - dd("n")))
      .select(col("grp"), col("n_g"),
        round(dd("r2sum") / (lit(2.0) * dd("n_g")), 4).as("mean_rank"),
        col("k_groups"),
        round(col("h_raw"), 6).as("h"),
        when(col("ct") > 0.0, round(col("h_raw") / col("ct"), 6))
          .as("h_tie_corrected"))
      .orderBy(col("grp"))
  }

  /** x232's Cliff's delta over a (grp ∈ {a, b}, v, f) two-group
    * value-frequency table — the ORDINAL effect size the rank tests
    * leave out (x146/x217 say WHETHER the groups differ; δ =
    * P(x>y) − P(x<y) says by HOW MUCH, insensitive to any monotone
    * transform of v — the robust complement of x235's Cohen's d):
    * #(x>y) = Σ_v f_a(v)·cum_b(<v) off one prefix window over the
    * shared value support, ties = Σ f_a·f_b, and #(x<y) falls out of
    * the exact identity lt = n_a·n_b − gt − ties — no second pass.
    * All BIGINT (n_a·n_b exact to n ≈ 3·10⁹ per group), one double
    * division at 6 dp. Support-sized after one fact aggregation.
    */
  def cliffsDeltaFromCells(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wide = cells.groupBy(col("v"))
      .agg(sum(when(col("grp") === "a", col("f")).otherwise(0L)).as("fa"),
        sum(when(col("grp") === "b", col("f")).otherwise(0L)).as("fb"))
    val byV = Window.orderBy(col("v"))
    def dd(c: String) = col(c).cast("double")
    wide
      .withColumn("cumb", coalesce(sum(col("fb")).over(
        byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum(col("fa")).as("n_a"), sum(col("fb")).as("n_b"),
        sum(col("fa") * col("cumb")).as("n_gt"),
        sum(col("fa") * col("fb")).as("n_ties"))
      .select(col("n_a"), col("n_b"), col("n_gt"),
        (col("n_a") * col("n_b") - col("n_gt") - col("n_ties"))
          .as("n_lt"), col("n_ties"))
      .select(col("n_a"), col("n_b"), col("n_gt"), col("n_lt"),
        col("n_ties"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          round((dd("n_gt") - dd("n_lt")) / (dd("n_a") * dd("n_b")), 6))
          .as("delta"))
  }

  /** x234's classic one-way ANOVA F across a (grp, n_g, s, ss) exact
    * per-group moment frame (n, Σv, Σv²) — the parametric complement
    * of x217 (location via ranks) and x229 (spread via robust
    * deviations): SB = Σ s_g²/n_g − S²/N between, SW = Σss − Σ s_g²/n_g
    * within, F = (SB/(k−1))/(SW/(N−k)), η² = SB/(SB+SW) as the effect
    * size. Same per-group-double-squares discipline as x229 (the
    * square leaves BIGINT near n_g·mean ≈ 3·10⁶); windows run over the
    * k-row group frame only. Degenerate frames read NULL, not a crash.
    */
  def anovaFFromMoments(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dd(c: String) = col(c).cast("double")
    val whole = Window.partitionBy(lit(1))
    g.withColumn("n", sum(col("n_g")).over(whole))
      .withColumn("k_groups", count(lit(1)).over(whole))
      .withColumn("sb_hit", sum(dd("s") * dd("s") / dd("n_g")).over(whole))
      .withColumn("s_tot", sum(col("s")).over(whole))
      .withColumn("ss_tot", sum(col("ss")).over(whole))
      .withColumn("between",
        col("sb_hit") - dd("s_tot") * dd("s_tot") / dd("n"))
      .withColumn("within", dd("ss_tot") - col("sb_hit"))
      .select(col("grp"), col("n_g"),
        round(dd("s") / dd("n_g"), 4).as("mean_v"), col("k_groups"),
        when(col("k_groups") > 1 && col("n") > col("k_groups") &&
            col("within") > 0.0,
          round((col("between") / (dd("k_groups") - 1.0)) /
            (col("within") / (dd("n") - dd("k_groups"))), 6)).as("f_stat"),
        when(col("between") + col("within") > 0.0,
          round(col("between") / (col("between") + col("within")), 6))
          .as("eta_sq"))
      .orderBy(col("grp"))
  }

  /** x246's Bartlett test across the same (grp, n_g, s, ss) exact
    * moment frame as x234 — the parametric k-group VARIANCE omnibus
    * (x229's Brown–Forsythe answers the same question robustly; the
    * Bartlett statistic is the likelihood-ratio classic that is also
    * far more sensitive to non-normality — running both is the
    * textbook practice): s_g² = (n_g·ss − s²)/(n_g(n_g−1)) exactly
    * from the moments, Sp² = Σ(n_g−1)s_g²/(N−k),
    * χ² = [(N−k)·ln Sp² − Σ(n_g−1)·ln s_g²] / C with the Bartlett
    * correction C = 1 + (Σ1/(n_g−1) − 1/(N−k))/(3(k−1)). One k-row
    * aggregate after the fact pass; frozen double expressions; any
    * degenerate group (n_g ≤ 1 or zero variance) reads NULL.
    */
  def bartlettFromMoments(g: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    g.withColumn("var_g",
        (dd("n_g") * dd("ss") - dd("s") * dd("s")) /
          (dd("n_g") * (dd("n_g") - 1.0)))
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k_groups"),
        min(col("n_g")).as("min_n"), min(col("var_g")).as("min_var"),
        sum((dd("n_g") - 1.0) * col("var_g")).as("pool_num"),
        sum(when(col("var_g") > 0.0,
          (dd("n_g") - 1.0) * log(col("var_g")))).as("sum_ln"),
        sum(lit(1.0) / (dd("n_g") - 1.0)).as("sum_inv"))
      .select(col("n"), col("k_groups"),
        when(col("n") > col("k_groups"),
          round(col("pool_num") / (dd("n") - dd("k_groups")), 4))
          .as("pooled_var"),
        when(col("k_groups") > 1L && col("min_n") > 1L &&
            col("min_var") > 0.0 && col("n") > col("k_groups"),
          round(((dd("n") - dd("k_groups")) *
            log(col("pool_num") / (dd("n") - dd("k_groups"))) -
            col("sum_ln")) /
            (lit(1.0) + (col("sum_inv") -
              lit(1.0) / (dd("n") - dd("k_groups"))) /
              (lit(3.0) * (dd("k_groups") - 1.0))), 6)).as("chi2"))
  }

  /** x263's two-sample Hodges–Lehmann shift estimator over two
    * (v, f) count-cell frames — x146's Mann–Whitney TESTS whether the
    * en/other length distributions differ; HL ESTIMATES the shift as
    * the weighted median of all n_a·n_b cross differences, computed
    * WITHOUT materializing pairs: the cell cross product (support_a ×
    * support_b rows, saturating as the corpus grows) grouped to
    * difference cells with exact BIGINT weights fa·fb, then the
    * discrete lower weighted median (x51's quantile convention) via
    * one prefix window. Robust, exactly reproducible, one number a
    * mixing policy can subtract.
    */
  def hlShiftFromCells(cellsA: DataFrame, cellsB: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val diffs = cellsA.select(col("v").as("va"), col("f").as("fa"))
      .crossJoin(cellsB.select(col("v").as("vb"), col("f").as("fb")))
      .groupBy((col("va") - col("vb")).as("d"))
      .agg(sum(col("fa") * col("fb")).as("w"))
    val byD = Window.orderBy(col("d"))
    val whole = Window.partitionBy(lit(1))
    diffs
      .withColumn("cum", sum(col("w")).over(
        byD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("w")).over(whole))
      .withColumn("n_cells", count(lit(1)).over(whole))
      .filter(col("cum") * 2L >= col("total"))
      .orderBy(col("d"))
      .limit(1)
      .select(col("total").as("n_pairs"), col("n_cells"),
        col("d").as("hl_shift"))
  }

  /** x264's discrete distribution-distance profile of each source's
    * length distribution against its complement — the three bounded
    * [0, 1] distances read together beside the unbounded transports
    * (x243 W₁, x248 energy): TVD = ½Σ|p−q| (the worst-case
    * event-probability gap), Bhattacharyya BC = Σ√(pq), and
    * Hellinger² = 1 − BC. The |p−q| mass is the exact integer
    * |f_g·n_c − f_c·n_g| (DECIMAL(38,0) against the n_g·n_c cross
    * scale) with ONE division; BC's per-cell √ runs at cell grain
    * over exact rationals. Same complement-from-totals derivation as
    * x248 — no second corpus pass.
    */
  def distProfileFromCells(cells: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val glob = cells.groupBy(col("v")).agg(sum(col("f")).as("fg"))
    val totals = cells.groupBy(col("grp")).agg(sum(col("f")).as("n_g"))
      .crossJoin(broadcast(cells.agg(sum(col("f")).as("n"))))
    cells.join(glob, "v")
      .join(broadcast(totals), "grp")
      .select(col("grp"), col("n_g"), (col("n") - col("n_g")).as("n_c"),
        col("f").as("f_g"), (col("fg") - col("f")).as("f_c"))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_g"), max(col("n_c")).as("n_c"),
        sum(abs(col("f_g") * col("n_c") - col("f_c") * col("n_g"))
          .cast("decimal(38,0)")).as("tv_mass"),
        // complement mass living OUTSIDE this source's support — its
        // |p−q| contribution is q alone, added in closed form
        sum(col("f_c")).as("fc_in"),
        sum(sqrt((dd(col("f_g")) * dd(col("f_c"))))).as("bc_raw"))
      .select(col("grp").as("source"), col("n_g"), col("n_c"),
        when(col("n_g") > 0L && col("n_c") > 0L,
          round((dd(col("tv_mass")) +
            dd(col("n_g")) * (dd(col("n_c")) - dd(col("fc_in")))) /
            (lit(2.0) * dd(col("n_g")) * dd(col("n_c"))), 6)).as("tvd"),
        when(col("n_g") > 0L && col("n_c") > 0L,
          round(col("bc_raw") / sqrt(dd(col("n_g")) * dd(col("n_c"))), 6))
          .as("bhattacharyya"),
        when(col("n_g") > 0L && col("n_c") > 0L,
          round(lit(1.0) - col("bc_raw") /
            sqrt(dd(col("n_g")) * dd(col("n_c"))), 6)).as("hellinger_sq"))
      .orderBy(col("source"))
  }

  /** x261's Mood's median test over a (grp, v) frame — the bluntest
    * k-group location omnibus (x217's Kruskal–Wallis uses the full
    * rank information; Mood's test only asks "what share of each
    * group sits above the GRAND median", which makes it the robust
    * screen for heavily censored or ordinal-ish values): m = the
    * discrete p50 (x172's percentile_disc convention), per-group
    * above-counts a_g exact, χ² = Σ_g[(a_g − E_hi)²/E_hi +
    * ((n_g − a_g) − E_lo)²/E_lo] over the k×2 expected table. One
    * fact pass + one k-row readout; degenerate splits (everything
    * on one side) read NULL.
    */
  def moodsMedian(d: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val med = broadcast(d.agg(expr(
      "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)")
      .as("m")))
    val g = d.crossJoin(med)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"),
        sum(when(col("v") > col("m"), 1L).otherwise(0L)).as("a_g"),
        max(col("m")).as("m"))
    val tot = g.agg(sum(col("n_g")).as("n"), sum(col("a_g")).as("a"),
      count(lit(1)).as("k_groups"), max(col("m")).as("median"))
    g.crossJoin(broadcast(tot))
      .withColumn("e_hi", dd(col("n_g")) * dd(col("a")) / dd(col("n")))
      .withColumn("e_lo", dd(col("n_g")) * (dd(col("n")) - dd(col("a"))) /
        dd(col("n")))
      .withColumn("term",
        (dd(col("a_g")) - col("e_hi")) * (dd(col("a_g")) - col("e_hi")) /
          col("e_hi") +
          ((dd(col("n_g")) - dd(col("a_g"))) - col("e_lo")) *
            ((dd(col("n_g")) - dd(col("a_g"))) - col("e_lo")) / col("e_lo"))
      .groupBy()
      .agg(max(col("n")).as("n"), max(col("k_groups")).as("k_groups"),
        max(col("median")).as("median"), max(col("a")).as("n_above"),
        sum(col("term")).as("chi2_raw"))
      .select(col("n"), col("k_groups"), col("median"), col("n_above"),
        when(col("n_above") > 0L && col("n_above") < col("n") &&
            col("k_groups") > 1L,
          round(col("chi2_raw"), 6)).as("chi2"))
  }

  /** x235's Welch two-sample t over the same (grp ∈ {a, b}, v)
    * split as x232 — the unequal-variance mean comparison (Student's
    * pooled t assumes one variance; Welch's t is the default that
    * doesn't), from six exact sums: v_g = (n_g·ss_g − s_g²)/(n_g·
    * (n_g−1)), t = (m_a−m_b)/√(v_a/n_a + v_b/n_b), the
    * Welch–Satterthwaite df, and Cohen's d on the pooled sd as the
    * parametric effect size x232's δ complements. One fact pass,
    * fixed double expressions, NULL on degenerate frames.
    */
  def welchTFromMoments(g: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    val a = g.filter(col("grp") === "a")
      .select(col("n_g").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
    val b = g.filter(col("grp") === "b")
      .select(col("n_g").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
    val va = (dd("n_a") * dd("ss_a") - dd("s_a") * dd("s_a")) /
      (dd("n_a") * (dd("n_a") - 1.0))
    val vb = (dd("n_b") * dd("ss_b") - dd("s_b") * dd("s_b")) /
      (dd("n_b") * (dd("n_b") - 1.0))
    val sea = va / dd("n_a")
    val seb = vb / dd("n_b")
    val md = dd("s_a") / dd("n_a") - dd("s_b") / dd("n_b")
    val pooled = ((dd("n_a") - 1.0) * va + (dd("n_b") - 1.0) * vb) /
      (dd("n_a") + dd("n_b") - 2.0)
    a.crossJoin(b)
      .select(col("n_a"), col("n_b"),
        round(dd("s_a") / dd("n_a"), 4).as("mean_a"),
        round(dd("s_b") / dd("n_b"), 4).as("mean_b"),
        when(col("n_a") > 1L && col("n_b") > 1L && sea + seb > 0.0,
          round(md / sqrt(sea + seb), 6)).as("t_stat"),
        when(col("n_a") > 1L && col("n_b") > 1L && sea + seb > 0.0,
          round((sea + seb) * (sea + seb) /
            (sea * sea / (dd("n_a") - 1.0) +
              seb * seb / (dd("n_b") - 1.0)), 2)).as("df"),
        when(col("n_a") > 1L && col("n_b") > 1L && pooled > 0.0,
          round(md / sqrt(pooled), 6)).as("cohens_d"))
  }

  /** The (grp ∈ {a, b}, v) en-vs-other doc-length split under x232/
    * x235 — one definition so the effect-size pair can never disagree
    * on the population.
    */
  private[graft] def enOtherSplit(d: DataFrame): DataFrame =
    d.select(when(col("lang") === "en", "a").otherwise("b").as("grp"),
      col("n_chars").as("v"))

  /** x243's per-source 1-Wasserstein (earth-mover) distance to the
    * corpus length distribution — the drift number with UNITS (KS
    * reads the worst single gap, PSI a binned log score; W₁ = ∫|F_g −
    * F| reads "how many characters would each document have to move",
    * which is the number a mixing policy can actually budget):
    * over the discrete shared support, W₁ = Σ_i |F_g(v_i) −
    * F(v_i)|·(v_{i+1} − v_i), carried as the exact integer mass
    * |cum_g·n − cum·n_g|·gap accumulated in DECIMAL(38,0) (the
    * x217 HUGEINT discipline — the numerator reaches ~10¹⁵ per term)
    * with ONE double division by n_g·n at the end. Work shape: one
    * fact aggregation to (source, v, f) cells; the spine is
    * |support|·|sources| rows, windows run there, never row grain.
    */
  /** The shared per-group ECDF spine under x243/x248: from (grp, v, f)
    * cells, the complete group×support grid carrying (grp, v, f, gap
    * to the next support value, global prefix mass `cum`, group
    * prefix mass `cum_g`, group total `n_g`, corpus total `n`) — all
    * exact BIGINTs. Work shape: the spine is |support|·|groups| rows;
    * every window runs there, never at row grain.
    */
  private def ecdfSpine(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val support = cells.select(col("v")).distinct()
    val sources = cells.select(col("grp")).distinct()
    val glob = cells.groupBy(col("v")).agg(sum(col("f")).as("fg"))
    val byV = Window.orderBy(col("v"))
    val bySrcV = Window.partitionBy(col("grp")).orderBy(col("v"))
    val totals = cells.groupBy(col("grp")).agg(sum(col("f")).as("n_g"))
      .crossJoin(broadcast(cells.agg(sum(col("f")).as("n"))))
    sources.crossJoin(support)
      .join(cells, Seq("grp", "v"), "left")
      .select(col("grp"), col("v"), coalesce(col("f"), lit(0L)).as("f"))
      .join(glob.withColumn("gap",
          coalesce(lead(col("v"), 1).over(byV) - col("v"), lit(0L)))
          .withColumn("cum", sum(col("fg")).over(
            byV.rowsBetween(Window.unboundedPreceding, Window.currentRow))),
        "v")
      .withColumn("cum_g", sum(col("f")).over(
        bySrcV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(totals), "grp")
  }

  /** x248's per-source ENERGY DISTANCE to its complement — the
    * whole-distribution two-sample statistic beside x243's W₁ (W₁
    * reads total transport; energy distance D² = 2E|X−Y| − E|X−X'| −
    * E|Y−Y'| is zero IFF the distributions are equal and powers the
    * modern energy two-sample test): over the discrete support, each
    * expectation is an exact integral of ECDF products — E|X−X'| =
    * 2∫F(1−F), E|X−Y| = ∫[F_X(1−F_Y) + F_Y(1−F_X)] — accumulated as
    * exact integer masses gap·cum·(n−cum) in DECIMAL(38,0) (the
    * x217/x243 HUGEINT discipline: cum² reaches ~10¹⁵ at the scaled
    * lake) with three double divisions at the end. Same
    * [[ecdfSpine]] as x243; the complement masses are derived, not
    * re-scanned (cum_c = cum − cum_g).
    */
  def energyDistanceFromCells(cells: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(38,0)")
    ecdfSpine(cells)
      .withColumn("cum_c", col("cum") - col("cum_g"))
      .withColumn("n_c", col("n") - col("n_g"))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_g"), max(col("n_c")).as("n_c"),
        sum(dec(col("gap")) * dec(col("cum_g") * (col("n_c") - col("cum_c")) +
          col("cum_c") * (col("n_g") - col("cum_g")))).as("m_xy"),
        sum(dec(col("gap")) * dec(col("cum_g") * (col("n_g") - col("cum_g"))))
          .as("m_xx"),
        sum(dec(col("gap")) * dec(col("cum_c") * (col("n_c") - col("cum_c"))))
          .as("m_yy"))
      .select(col("grp").as("source"), col("n_g"), col("n_c"),
        when(col("n_g") > 0L && col("n_c") > 0L,
          round(lit(2.0) * dd(col("m_xy")) / (dd(col("n_g")) * dd(col("n_c"))) -
            lit(2.0) * dd(col("m_xx")) / (dd(col("n_g")) * dd(col("n_g"))) -
            lit(2.0) * dd(col("m_yy")) / (dd(col("n_c")) * dd(col("n_c"))), 6))
          .as("energy_d2"))
      .orderBy(col("source"))
  }

  /** x247's inequality profile of the per-user event-count
    * distribution — the three classic indices a traffic-concentration
    * audit reads together (x159's Gini is the length-inequality
    * sibling): Theil T = Σ f·x·ln(x)/total − ln(μ) (the
    * decomposable entropy index), Atkinson(ε=1) = 1 − geomean/μ,
    * and the Hoover/Robin-Hood share = Σ f·|x·n − total| /
    * (2·n·total) — the fraction of events that would have to move to
    * equalize users. All three read off ONE (x, f) count-of-counts
    * cell frame (bounded by the distinct per-user counts, hundreds of
    * cells, never user grain), with the Hoover numerator exact
    * DECIMAL(38,0) — operands widened before the multiply, since
    * x·n_users alone can exceed Long at corpus scale — and the ln
    * sums at cell grain.
    */
  def inequalityFromCells(cells: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val tot = cells.agg(sum(col("f")).as("n_users"),
      sum(col("f") * col("x")).as("total"))
    cells.crossJoin(broadcast(tot))
      .agg(max(col("n_users")).as("n_users"), max(col("total")).as("total"),
        count(lit(1)).as("n_cells"),
        sum(dd(col("f")) * dd(col("x")) * log(dd(col("x")))).as("sxlx"),
        sum(dd(col("f")) * log(dd(col("x")))).as("slx"),
        // operands cast to decimal(38,0) BEFORE the multiply: x·n and
        // f·|…| can exceed Long range at corpus scale, and Spark
        // would wrap silently where DuckDB raises
        sum(col("f").cast("decimal(38,0)") *
          abs(col("x").cast("decimal(38,0)") * col("n_users") -
            col("total"))).as("hnum"))
      .withColumn("mu", dd(col("total")) / dd(col("n_users")))
      .select(col("n_users"), col("total"), col("n_cells"),
        round(col("mu"), 4).as("mu"),
        when(col("total") > 0L,
          round(col("sxlx") / dd(col("total")) - log(col("mu")), 6))
          .as("theil_t"),
        when(col("total") > 0L,
          round(lit(1.0) - exp(col("slx") / dd(col("n_users"))) / col("mu"), 6))
          .as("atkinson_1"),
        when(col("total") > 0L && col("n_users") > 0L,
          round(dd(col("hnum")) /
            (lit(2.0) * dd(col("n_users")) * dd(col("total"))), 6))
          .as("hoover"))
  }

  def wassersteinFromCells(cells: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    ecdfSpine(cells)
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_g"), max(col("n")).as("n"),
        sum(abs(col("cum_g") * col("n") - col("cum") * col("n_g"))
          .cast("decimal(38,0)") * col("gap")).as("mass"))
      .select(col("grp").as("source"), col("n_g"),
        when(col("n_g") > 0L && col("n") > 0L,
          round(col("mass").cast("double") / (dd("n_g") * dd("n")), 6))
          .as("w1_chars"))
      .orderBy(col("source"))
  }

  /** x218's Count-Min geometry: d hash rows × w slots, with FROZEN
    * universal-hash coefficients h_r(k) = ((a_r·(k mod P) + b_r)
    * mod P) mod w over the Mersenne prime P = 2³¹−1 — plain modular
    * arithmetic (the x20 discipline), so the sketch is bit-identical
    * on both engines and, uniquely among the repo's sketches, takes a
    * FULL cross-engine hash oracle (x68 HLL / x03 minhash hang off
    * engine-private xxhash64 and cannot). The k mod P pre-reduction
    * keeps a_r·k < 2⁶³ for any BIGINT key.
    */
  val CmsP = 2147483647L
  val CmsW = 256L
  val CmsHashes: Seq[(Long, Long)] =
    Seq((1103515245L, 12345L), (1588635695L, 98765L),
      (784588716L, 55555L), (999999937L, 7777L))

  /** x218's Count-Min readout over a (k: long ≥ 0, c: long) exact
    * key-count table: the d×w counter grid is Σ c per (row, slot) —
    * a 1,024-row ADDITIVE state (the point of CMS at 100 TB: the
    * sketch is mergeable partial-agg state of constant size, and
    * feeding it the pre-aggregated key counts is identical to
    * feeding the raw stream because the counters are linear).
    * Estimate = min over rows of the hit counter (Cormode–
    * Muthukrishnan; overestimate-only, bounded by ε = e/w of the
    * total mass w.h.p.), read back for the true top-20 keys via one
    * broadcast join of the constant-size grid, so the report shows
    * estimate vs truth vs overcount per heavy key.
    */
  def cmsHeavyFromCounts(counts: DataFrame): DataFrame =
    cmsReadout(cmsGridOf(counts), counts)

  /** The d×w hash expressions as (r, slot) struct columns over a `k`
    * key column — shared by the grid build and the point-query
    * readout so the two sides can never disagree on the hashing.
    */
  private def cmsSlots: Seq[Column] =
    CmsHashes.zipWithIndex.map { case ((a, b), r) =>
      struct(lit(r.toLong).as("r"),
        expr(s"(($a * (k % $CmsP) + $b) % $CmsP) % $CmsW").as("slot"))
    }

  /** The CMS counter grid of a (k, c) key-count frame: Σ c per
    * (row, slot) — d·w rows, and LINEAR in the input, so a streamed
    * per-batch delta grid merged by + equals the batch grid exactly
    * (s41's maintained state).
    */
  private[graft] def cmsGridOf(counts: DataFrame): DataFrame =
    counts.select(col("k"), col("c"), explode(array(cmsSlots: _*)).as("h"))
      .select(col("c"), col("h.r").as("r"), col("h.slot").as("slot"))
      .groupBy(col("r"), col("slot"))
      .agg(sum(col("c")).as("counter"))

  /** The x218 point-query readout over a prebuilt counter grid —
    * shared with s41 so streamed ≡ batch is literal frame equality:
    * estimate = min over rows of the hit counter, graded against the
    * exact counts for the true top-20 keys.
    */
  private[graft] def cmsReadout(grid: DataFrame, counts: DataFrame): DataFrame =
    counts.orderBy(desc("c"), col("k")).limit(20)
      .select(col("k"), col("c"), explode(array(cmsSlots: _*)).as("h"))
      .select(col("k"), col("c"), col("h.r").as("r"), col("h.slot").as("slot"))
      .join(broadcast(grid), Seq("r", "slot"))
      .groupBy(col("k"), col("c"))
      .agg(min(col("counter")).as("cms_est"))
      .select(col("k").as("user_id"), col("c").as("true_cnt"),
        col("cms_est"), (col("cms_est") - col("c")).as("overcount"))
      .orderBy(desc("true_cnt"), col("user_id"))

  /** x219's KMV slot count. */
  val KmvK = 64L

  /** x219's K-minimum-values distinct sketch over a (grp, k: long)
    * distinct-element frame, beside its own exact control: hash each
    * element onto [0, P) with the SAME frozen modular arithmetic as
    * x218 (first (a,b) pair), keep each group's K smallest hashes,
    * and estimate |distinct| = (K−1)·P / h_(K) (Bar-Yossef et al.'s
    * unbiased form). Production state is a K-slot min-set per group
    * (mergeable by min-union — constant size, the 100 TB shape); the
    * report computes the exact distinct count anyway (that's the
    * operator's point — grading the sketch), so the window rank over
    * the distinct-element frame costs the same class of work as the
    * control it grades. Groups with < K elements fall back to the
    * exact count (est = n, the sketch is lossless there).
    */
  def kmvDistinctFromElements(elems: DataFrame): DataFrame =
    kmvReadout(kmvMinHashesOf(elems),
      elems.distinct().groupBy(col("grp"))
        .agg(count(lit(1)).as("exact_distinct")))

  /** x219's per-group K-minimum state over a (grp, k) element frame:
    * the K smallest distinct hash values — s42's maintained artifact.
    * Merge semantics are MIN-UNION (union the slates, distinct,
    * re-rank, keep K): KMV(A ∪ B) = min-K(minK(A) ∪ minK(B)) exactly,
    * the third merge discipline in the maintainer suite beside
    * additive (s41's counters) and set (s13's edges).
    */
  private[graft] def kmvMinHashesOf(elems: DataFrame): DataFrame = {
    val (a, b) = CmsHashes.head
    kmvTrim(elems.distinct()
      .select(col("grp"),
        expr(s"($a * (k % $CmsP) + $b) % $CmsP").as("h")))
  }

  /** Keep each group's K smallest distinct hashes of a (grp, h)
    * frame — the min-union merge step shared by the batch build and
    * s42's per-batch maintenance.
    */
  private[graft] def kmvTrim(hashes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byH = Window.partitionBy(col("grp")).orderBy(col("h"))
    hashes.distinct()
      .withColumn("rk", row_number().over(byH))
      .filter(col("rk") <= KmvK)
      .select(col("grp"), col("h"))
  }

  /** The x219 readout over a prebuilt min-hash state and an exact
    * control frame — shared with s42 so streamed ≡ batch is literal
    * frame equality.
    */
  private[graft] def kmvReadout(minHashes: DataFrame,
      exact: DataFrame): DataFrame = {
    val mins = minHashes.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("h_k"))
    def dd(c: String) = col(c).cast("double")
    mins.join(exact, "grp")
      .select(col("grp"), col("exact_distinct"),
        // sub-K fallback reads the SKETCH's own state (n_seen), never
        // the exact control: a non-full slate means the sketch saw
        // every distinct hash, so n_seen IS its estimate. Equal to
        // exact_distinct under the injective frozen hash, but the
        // estimator column must never depend on the control path —
        // a future hash with collisions would silently hide them.
        when(col("n_seen") < KmvK, col("n_seen"))
          .otherwise(round((lit(KmvK) - 1.0) * lit(CmsP.toDouble) /
            dd("h_k"), 0).cast("long")).as("kmv_est"))
      .withColumn("rel_err",
        round(abs(col("kmv_est") - col("exact_distinct")).cast("double") /
          col("exact_distinct").cast("double"), 4))
      .orderBy(col("grp"))
  }

  /** x230's register count (m = 64) and Flajolet's published bias
    * constant α₆₄ ≈ 0.709 — both frozen into the Spark plan and the
    * DuckDB oracle, so the estimate is pure deterministic arithmetic.
    */
  val HllM = 64L
  val HllAlpha = 0.709

  /** x230's HyperLogLog over a (grp, k: long) element frame, beside
    * its exact control — the register-max distinct sketch x68 keeps
    * on engine-private xxhash64 (rows-only there), rebuilt on the
    * frozen modular hash so it takes a FULL cross-engine oracle, the
    * same promotion x218/x219 gave CMS/KMV. Hash h splits into a
    * register index j = h mod 64 and a 25-bit payload w = h div 64;
    * the register keeps the max rank (leading-zero count + 1 of w in
    * the 25-bit field, via the PORTABLE bit-length identity rank =
    * 26 − len(bin(w)), w = 0 ↦ 26 — Spark and DuckDB both define
    * bin() as the minimal binary string, verified identical), and
    * the estimate is α·m²/Σ2^(−M_j) with Flajolet's linear-counting
    * fallback m·ln(m/V) when E ≤ 2.5m and V registers are empty.
    * Σ2^(−M_j) is a ≤64-term sum of binary fractions ≥ 2⁻²⁶ — exact
    * in a double regardless of association order, so the division is
    * the only rounding site on either engine. Duplicate elements are
    * harmless by construction (max is idempotent), so the build skips
    * the distinct() the exact control needs. Production state is the
    * 64-register max table per group, mergeable by MAX-UNION — the
    * fourth merge discipline in the sketch suite (s41 +, s42
    * min-union, s13 set-union), exercised as a stream by s44.
    */
  def hllDistinctFromElements(elems: DataFrame): DataFrame =
    hllReadout(hllRegistersOf(elems),
      elems.distinct().groupBy(col("grp"))
        .agg(count(lit(1)).as("exact_distinct")))

  /** x230's per-group register maxima (grp, j, m_j) — s44's maintained
    * artifact. Merge semantics are MAX-UNION: HLL(A ∪ B) registers =
    * elementwise max of HLL(A) and HLL(B), exactly.
    *
    * The affine hash is strengthened by the frozen xor-shift-multiply
    * chain [[mixHash]] (x206's decorrelation discipline): a bare
    * 2-universal affine map of SEQUENTIAL keys — and corpus ids are
    * sequential — is an arithmetic progression mod P whose
    * leading-zero statistics are far from geometric (measured 92%
    * HLL overestimate on 1..500); the mix restores the ±13%
    * textbook band. Both engines apply the identical chain.
    */
  private[graft] def hllRegistersOf(elems: DataFrame): DataFrame = {
    val (a, b) = CmsHashes(1)
    mixHash(elems.select(col("grp"),
        expr(s"($a * (k % $CmsP) + $b) % $CmsP").as("h0")))
      .select(col("grp"), (col("hm") % HllM).as("j"),
        expr(s"hm DIV $HllM").as("w"))
      .select(col("grp"), col("j"),
        when(col("w") === 0L, lit(26L))
          .otherwise(lit(26L) - length(bin(col("w"))).cast("long"))
          .as("rank"))
      .groupBy(col("grp"), col("j"))
      .agg(max(col("rank")).as("m_j"))
  }

  /** The frozen xor-shift-multiply strengthening chain over an `h0`
    * affine-hash column, appending `hm` ∈ [0, 2³¹): h1 = h0·48271
    * mod P, h2 = h1 ⊕ (h1 div 2048), h3 = h2·69621 mod P, hm = h3 ⊕
    * (h3 div 1024) — the multiply-xor-shift alternation that breaks
    * the arithmetic-progression structure an affine map leaves on
    * sequential keys (x206's relabeling fix, hoisted here for x230/
    * x231). Every step is exact BIGINT (products < 2⁴⁸); the DuckDB
    * twin is [[mixHashSqlCtes]].
    */
  private def mixHash(withH0: DataFrame): DataFrame =
    withH0
      .withColumn("h1", col("h0") * lit(48271L) % lit(CmsP))
      .withColumn("h2", col("h1").bitwiseXOR(expr("h1 DIV 2048")))
      .withColumn("h3", col("h2") * lit(69621L) % lit(CmsP))
      .withColumn("hm", col("h3").bitwiseXOR(expr("h3 DIV 1024")))

  /** The DuckDB CTE chain equivalent to [[mixHash]]: given a CTE
    * `src` with an h0 column (plus carried columns `cols`), emits
    * `m1, m2, m3, mx` where `mx` carries the mixed hash as `hm`.
    */
  private def mixHashSqlCtes(src: String, cols: String): String =
    s"m1 AS (SELECT $cols, (h0 * 48271) % $CmsP AS h1 FROM $src), " +
      s"m2 AS (SELECT $cols, xor(h1, h1 // 2048) AS h2 FROM m1), " +
      s"m3 AS (SELECT $cols, (h2 * 69621) % $CmsP AS h3 FROM m2), " +
      s"mx AS (SELECT $cols, xor(h3, h3 // 1024) AS hm FROM m3)"

  /** The x230 readout over a prebuilt register table and an exact
    * control frame — shared with s44 so streamed ≡ batch is literal
    * frame equality. Empty registers contribute 2⁰ to the harmonic
    * sum (64 − n_regs hit registers appear nowhere in the table).
    */
  private[graft] def hllReadout(regs: DataFrame, exact: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    regs.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_regs"),
        sum(pow(lit(0.5), col("m_j"))).as("z_hit"))
      .select(col("grp"), (lit(HllM) - col("n_regs")).as("v_zero"),
        (col("z_hit") + (lit(HllM) - col("n_regs")).cast("double")).as("z"))
      .join(exact, "grp")
      .withColumn("est_raw",
        lit(HllAlpha) * lit((HllM * HllM).toDouble) / col("z"))
      .select(col("grp"), col("exact_distinct"), col("v_zero"),
        when(col("est_raw") <= lit(2.5 * HllM) && col("v_zero") > 0L,
          round(lit(HllM.toDouble) *
            log(lit(HllM.toDouble) / dd("v_zero")), 0))
          .otherwise(round(col("est_raw"), 0)).cast("long").as("hll_est"))
      .withColumn("rel_err",
        round(abs(col("hll_est") - col("exact_distinct")).cast("double") /
          dd("exact_distinct"), 4))
      .orderBy(col("grp"))
  }

  /** x231's replicate count and the four extra frozen (a, b) affine
    * pairs that extend [[CmsHashes]] to eight independent sign hashes
    * (2-universal like the CMS rows; the classical AMS bound assumes
    * 4-wise independence — the weaker family trades a looser variance
    * bound for the exact cross-engine determinism this suite is
    * built on).
    */
  val AmsReps = 8
  val AmsHashes: Seq[(Long, Long)] = CmsHashes ++ Seq(
    (1223106847L, 31337L), (1431655765L, 271828L),
    (1073807359L, 141421L), (1321528399L, 577215L))

  /** x231's AMS/Tug-of-War second-moment sketch over a (grp, k, c)
    * exact key-count frame, beside its exact control: each of the 8
    * replicates assigns every key a frozen ±1 sign (hash < P/2 ↦ +1)
    * and keeps the signed sum Z_r = Σ s_r(k)·c_k; E[Z_r²] = F₂ =
    * Σ c_k², so the estimate is the mean of the 8 squares. The
    * sketch state is 8 BIGINTs per group and LINEAR in the input —
    * the third additive merge in the sketch suite (counters, cells,
    * now signed sums), exercised as a stream by s45. |Z_r| ≤ Σ c_k =
    * the group's event count, so Z² stays in BIGINT to ~3·10⁹ events
    * per group; past that the squares move to DECIMAL(38,0). F₂ is
    * the self-join size / skew statistic (Σ over keys of pair count)
    * a 100 TB planner wants per join column without a shuffle: one
    * map pass, 8·|groups| longs of state.
    */
  def amsF2FromCounts(counts: DataFrame): DataFrame =
    amsReadout(amsSumsOf(counts),
      counts.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("f2_exact")))

  /** x231's per-group signed sums (grp, r, z) — s45's maintained
    * artifact; merges by + (the sums are linear in the counts). The
    * per-replicate sign reads the [[mixHash]]-strengthened hash, not
    * the bare affine map: sign runs of an affine progression on
    * sequential keys are thousands long (measured est/exact ≈ 24 on
    * 1..2000), while the mixed signs land the estimator inside its
    * theoretical √(2/8) ≈ 50% band.
    */
  private[graft] def amsSumsOf(counts: DataFrame): DataFrame = {
    val h0s = AmsHashes.zipWithIndex.map { case ((a, b), r) =>
      struct(lit(r.toLong).as("r"),
        expr(s"($a * (k % $CmsP) + $b) % $CmsP").as("h0"))
    }
    mixHash(counts
        .select(col("grp"), col("c"), explode(array(h0s: _*)).as("h"))
        .select(col("grp"), col("c"), col("h.r").as("r"),
          col("h.h0").as("h0")))
      .groupBy(col("grp"), col("r"))
      .agg(sum(when(col("hm") < lit(CmsP / 2), lit(1L))
        .otherwise(lit(-1L)) * col("c")).as("z"))
  }

  /** The x231 readout over prebuilt signed sums and an exact control
    * — shared with s45 so streamed ≡ batch is literal frame equality.
    */
  private[graft] def amsReadout(sums: DataFrame, exact: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    sums.groupBy(col("grp"))
      .agg((sum(col("z") * col("z")).cast("double") /
        lit(AmsReps.toDouble)).as("est_raw"))
      .join(exact, "grp")
      .select(col("grp"), col("n_keys"), col("f2_exact"),
        round(col("est_raw"), 0).cast("long").as("f2_est"))
      .withColumn("rel_err",
        round(abs(col("f2_est") - col("f2_exact")).cast("double") /
          dd("f2_exact"), 4))
      .orderBy(col("grp"))
  }

  /** x209's user-feature frame (user_id, f = event count, m = spend
    * cents) — both columns merge ADDITIVELY per microbatch, so s38
    * maintains this table incrementally (s19's user-grain merge
    * shape).
    */
  private[graft] def mahalanobisUsersOf(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("f"), sum(col("cents")).as("m"))

  /** x209's readout over a prebuilt user-feature frame — shared with
    * s38 so streamed ≡ batch is literal frame equality. Exact
    * centered integers Dx = n·x − Σx, the 2×2 covariance inverted in
    * closed form from six exact sums, one fixed double md²
    * expression per user, TakeOrdered top-20.
    */
  def mahalanobisFromUsers(u: DataFrame): DataFrame = {
    val s = broadcast(u.agg(count(lit(1)).as("n"),
      sum(col("f")).as("sx"), sum(col("m")).as("sy"),
      sum(col("f") * col("f")).as("sxx"),
      sum(col("f") * col("m")).as("sxy"),
      sum(col("m") * col("m")).as("syy")))
    def dd(c: String) = col(c).cast("double")
    val vxx = dd("n") * dd("sxx") - dd("sx") * dd("sx")
    val vxy = dd("n") * dd("sxy") - dd("sx") * dd("sy")
    val vyy = dd("n") * dd("syy") - dd("sy") * dd("sy")
    val det = vxx * vyy - vxy * vxy
    val dx = (col("n") * col("f") - col("sx")).cast("double")
    val dy = (col("n") * col("m") - col("sy")).cast("double")
    u.crossJoin(s)
      .select(col("user_id"), col("f").as("n_events"),
        col("m").as("spend_cents"),
        when(det > 0.0, round((dd("n") - 1.0) *
          (vyy * dx * dx - lit(2.0) * vxy * dx * dy + vxx * dy * dy) /
          (dd("n") * det), 4)).as("md2"))
      .orderBy(desc("md2"), col("user_id"))
      .limit(20)
  }

  /** Replicate count for the x189 Poisson bootstrap. */
  val BootReps = 8

  /** Permutation count for the x206 randomization test. */
  val PermReps = 32

  /** Poisson(1) cumulative-probability thresholds on the [0, HashMod)
    * integer grid: `PoisCum(k)` = ⌊HashMod · P(X ≤ k)⌋, so a uniform
    * hash h maps to multiplicity w = min{k : h < PoisCum(k)} (tail
    * capped at [[PoisTail]] — P(X > 6) ≈ 8·10⁻⁵, and capping bounds
    * the per-row work a replicate can owe). Evaluated once at class
    * init from exp(−1) partial sums; both the Spark CASE chain and
    * the DuckDB oracle interpolate the SAME frozen longs, so the
    * "random" draw is a pure integer comparison on both engines.
    */
  val PoisCum: IndexedSeq[Long] = {
    var term = math.exp(-1.0) // P(X = k), rolling: e⁻¹/k!
    var cum = 0.0
    (0 to 6).map { k =>
      if (k > 0) term /= k
      cum += term
      math.floor(cum * HashMod).toLong
    }
  }

  /** Tail multiplicity for hashes past the last threshold. */
  val PoisTail = 7L

  /** The CASE chain mapping a [0, HashMod) hash to its Poisson(1)
    * multiplicity via [[PoisCum]].
    */
  def poissonWeight(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PoisCum.zipWithIndex.foldRight(lit(PoisTail)) { case ((thr, k), rest) =>
      when(h < thr, lit(k.toLong)).otherwise(rest)
    }

  /** x196's sufficient statistic: the ten exact BIGINT sums of the
    * 2-feature OLS normal equations (y = spend cents, x1 = hour of
    * day, x2 = day index) — ONE partial-aggregatable fact pass, and
    * the ADDITIVE single-row statistic s34 merges per microbatch.
    * This is the "ML at scale = sufficient statistics" shape: the
    * model fit never touches the data again after this aggregation.
    */
  private[graft] def olsSumsOf(events: DataFrame): DataFrame =
    events.select(
        round(col("value") * 100, 0).cast("long").as("y"),
        hour(col("ts")).cast("long").as("x1"),
        expr("datediff(to_date(ts), date'2024-01-01')").cast("long").as("x2"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))

  /** x196's closed-form solve over the prebuilt sums row — Cramer's
    * rule on the 3×3 normal matrix, R² via the normal-equation SSE
    * identity; every expression is a fixed double tree over the ten
    * exact sums, so the fit is engine-reproducible. Shared with s34
    * so the streamed fit reads through the identical expressions.
    */
  def olsFromSums(s: DataFrame): DataFrame = {
    def d(c: String) = col(c).cast("double")
    val det = d("n") * (d("s11") * d("s22") - d("s12") * d("s12")) -
      d("s1") * (d("s1") * d("s22") - d("s12") * d("s2")) +
      d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
    val det0 = d("sy") * (d("s11") * d("s22") - d("s12") * d("s12")) -
      d("s1y") * (d("s1") * d("s22") - d("s2") * d("s12")) +
      d("s2y") * (d("s1") * d("s12") - d("s2") * d("s11"))
    val det1 = d("n") * (d("s1y") * d("s22") - d("s12") * d("s2y")) -
      d("sy") * (d("s1") * d("s22") - d("s12") * d("s2")) +
      d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
    val det2 = d("n") * (d("s11") * d("s2y") - d("s1y") * d("s12")) -
      d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2")) +
      d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
    val b0 = det0 / det
    val b1 = det1 / det
    val b2 = det2 / det
    val sse = d("syy") - (b0 * d("sy") + b1 * d("s1y") + b2 * d("s2y"))
    val sst = d("syy") - d("sy") * d("sy") / d("n")
    s.select(col("n"),
      when(det =!= 0.0, round(b0, 6)).as("b0_cents"),
      when(det =!= 0.0, round(b1, 6)).as("b1_per_hour"),
      when(det =!= 0.0, round(b2, 6)).as("b2_per_day"),
      when(det =!= 0.0 && sst > 0.0, round(lit(1.0) - sse / sst, 6))
        .as("r2"))
  }

  /** x157's Efraimidis–Spirakis A-ES keys over a (doc_id, n_chars)
    * frame: u = (2h+1)/(2·HashMod) on the odd grid (strictly inside
    * (0,1) — the ln singularity unreachable, x134's trick), key =
    * ln(u)/w gridded to 10⁻⁹ fixed point so the ranking compare is
    * an exact integer. Exposed for the in-process recompute test.
    */
  def weightedSampleKeys(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("n_chars"),
      round(log((lit(2.0) * sampleHash(col("doc_id")).cast("double") +
        lit(1.0)) / lit(2.0 * HashMod)) / col("n_chars").cast("double") *
        lit(1000000000.0), 0).cast("long").as("key_fp"))

  val queries: Map[String, Q] = Map(
    // EXACT ROC-AUC + CURVE — the ranking-quality companion x149/x169
    // were missing (ECE: "is the score a probability"; gains: "does
    // the top slice capture conversions"; AUC: "does the scorer rank
    // a random positive above a random negative"): the tie-aware
    // Mann–Whitney statistic computed EXACTLY at score granularity.
    // Scale shape: see [[scoreCells]] — one fact-table aggregation
    // builds the cells; the rank-sum, ROC points and AUC all live on
    // the ≤|types|·K cell frame with BIGINT arithmetic and exactly
    // one division each.
    "x186_roc_auc" -> ((spark, sfDir) =>
      aucFromScoreCells(scoreCells(spark, sfDir))),

    // PR-AUC / AVERAGE PRECISION — the class-imbalance-honest twin of
    // x186 (ROC flatters a scorer when negatives dominate; the
    // precision-recall curve does not): step-integrated AP =
    // Σ_g n_pos_g · precision(cut=g) / n⁺ over the same score-grain
    // frame. precision(cut) is an exact rational regridded once to
    // 10⁻⁶ (one double division per DISTINCT SCORE — never per row),
    // so AP is an exact integer dot product with one closing
    // division; same cell-frame scale shape as x186.
    "x187_pr_auc" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val byScore = scoreCells(spark, sfDir).groupBy(col("enc_fp"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
      val dsc = Window.orderBy(desc("enc_fp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(lit(1))
      byScore
        .withColumn("cum_n_d", sum(col("n")).over(dsc))
        .withColumn("cum_pos_d", sum(col("n_pos")).over(dsc))
        .withColumn("tot_pos", sum(col("n_pos")).over(whole))
        .withColumn("prec_fp",
          round(col("cum_pos_d").cast("double") * 1000000.0 /
            col("cum_n_d").cast("double"), 0).cast("long"))
        .withColumn("ap_num", sum(col("n_pos") * col("prec_fp")).over(whole))
        .select(col("enc_fp").as("score_fp"), col("n"), col("n_pos"),
          round(col("cum_pos_d").cast("double") /
            col("tot_pos").cast("double"), 4).as("recall"),
          round(col("prec_fp").cast("double") / 1000000.0, 4)
            .as("precision"),
          round(col("ap_num").cast("double") /
            (lit(1000000.0) * col("tot_pos").cast("double")), 6)
            .as("pr_auc"))
        .orderBy(desc("score_fp"))
    }),

    // BRIER SCORE + MURPHY DECOMPOSITION — the proper-scoring-rule
    // view beside x149's ECE (ECE reports |gap| per bin; the Murphy
    // split says WHERE the score loses: reliability = miscalibration
    // you could recalibrate away, resolution = discrimination the
    // scorer actually has, uncertainty = the label's own entropy
    // floor; Brier ≈ REL − RES + UNC). The event-grain Brier sum
    // collapses exactly onto the cells — Σ(conf−y)² =
    // Σ_cells [n·s² − 2·10⁴·s·n_pos + 10⁸·n_pos] on the 10⁻⁸ integer
    // grid (s = the cell's 10⁴-grid score) — and the per-bin REL/RES
    // terms are exact rationals regridded once to 10⁻⁹ (one double
    // expression per BIN). Same one-fact-pass scale shape as x186.
    "x188_brier_decomp" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = scoreCells(spark, sfDir)
      val whole = Window.partitionBy(lit(1))
      val binned = cells
        .select(expr("LEAST(enc_fp DIV 1000, 9)").as("bin"),
          col("enc_fp"), col("n"), col("n_pos"),
          // exact per-cell Brier numerator on the 10^-8 grid
          (col("n") * col("enc_fp") * col("enc_fp") -
            lit(20000L) * col("enc_fp") * col("n_pos") +
            lit(100000000L) * col("n_pos")).as("brier_num"))
        .groupBy(col("bin"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
          sum(col("enc_fp") * col("n")).as("conf_fp"),
          sum(col("brier_num")).as("brier_num"))
      binned
        .withColumn("tot", sum(col("n")).over(whole))
        .withColumn("tot_pos", sum(col("n_pos")).over(whole))
        // REL_k·N = Δ²/(10⁸·n_k) with Δ = conf_fp − 10⁴·n_pos; RES_k·N
        // = Δr²/(n_k·N²) with Δr = n_pos_k·N − n⁺·n_k — each regridded
        // to 10⁻⁹ with one double expression per bin
        .withColumn("rel_fp", round(
          (col("conf_fp") - lit(10000L) * col("n_pos")).cast("double") *
            (col("conf_fp") - lit(10000L) * col("n_pos")).cast("double") /
            (lit(100000000.0) * col("n").cast("double")) * 1000000000.0, 0)
          .cast("long"))
        .withColumn("res_fp", round(
          (col("n_pos") * col("tot") - col("tot_pos") * col("n")).cast("double") *
            (col("n_pos") * col("tot") - col("tot_pos") * col("n")).cast("double") /
            (col("n").cast("double") * col("tot").cast("double") *
              col("tot").cast("double")) * 1000000000.0, 0)
          .cast("long"))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("conf_fp").cast("double") /
            (col("n").cast("double") * 10000.0), 4).as("avg_conf"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 4)
            .as("acc"),
          round(sum(col("brier_num")).over(whole).cast("double") /
            (lit(100000000.0) * sum(col("n")).over(whole).cast("double")), 6)
            .as("brier"),
          round(sum(col("rel_fp")).over(whole).cast("double") /
            (lit(1000000000.0) * col("tot").cast("double")), 6)
            .as("reliability"),
          round(sum(col("res_fp")).over(whole).cast("double") /
            (lit(1000000000.0) * col("tot").cast("double")), 6)
            .as("resolution"),
          round(col("tot_pos").cast("double") *
            (col("tot") - col("tot_pos")).cast("double") /
            (col("tot").cast("double") * col("tot").cast("double")), 6)
            .as("uncertainty"))
        .orderBy(col("bin"))
    }),

    // DeLONG AUC STANDARD ERROR — x186's point estimate made
    // decision-grade (an AUC without its SE can't be compared across
    // models or gated in CI): DeLong's estimator from PLACEMENT
    // values, which collapse exactly onto the score-grain frame — a
    // positive at score s has placement (negatives below + ½ ties),
    // carried as the exact BIGINT pl2 = 2·cum_neg_before + neg_at_s;
    // S10/S01 are weighted variances of the placements, so SE² =
    // S10/n₁ + S01/n₀ is a fixed double expression over exact integer
    // sums (BIGINT counts; DECIMAL(38,0) placement moments — see the
    // agg below for the overflow bound). Same one-fact-pass shape as
    // x186; z tests AUC against the 0.5 coin-flip null.
    "x208_delong_auc_se" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val byScore = scoreCells(spark, sfDir).groupBy(col("enc_fp"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
        .withColumn("n_neg", col("n") - col("n_pos"))
      val asc = Window.orderBy(col("enc_fp"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val whole = Window.partitionBy(lit(1))
      val g = byScore
        .withColumn("cnb", coalesce(sum(col("n_neg")).over(asc), lit(0L)))
        .withColumn("cpb", coalesce(sum(col("n_pos")).over(asc), lit(0L)))
        // doubled placements: positives against negatives and the
        // transpose (for a negative, positives ABOVE it count)
        .withColumn("pl2p", lit(2L) * col("cnb") + col("n_neg"))
        .withColumn("pl2n", lit(2L) * col("cpb") + col("n_pos"))
        .agg(sum(col("n")).as("nt"), sum(col("n_pos")).as("n1"),
          sum(col("n_neg")).as("n0"),
          // the placement moments grow ~n² (sp/sn) and ~n³ (spp/snn) —
          // BIGINT would overflow near 2.6 M events (spp ≈ 4n³), so
          // they accumulate as exact DECIMAL(38,0) (DuckDB twin:
          // HUGEINT), good to n ≈ 2.9e12 events; they only ever feed
          // the double variance expressions below
          sum(col("n_pos").cast("decimal(38,0)") * col("pl2p")).as("sp"),
          sum(col("n_pos").cast("decimal(38,0)") * col("pl2p") * col("pl2p"))
            .as("spp"),
          sum(col("n_neg").cast("decimal(38,0)") * col("pl2n")).as("sn"),
          sum(col("n_neg").cast("decimal(38,0)") * col("pl2n") * col("pl2n"))
            .as("snn"))
      def dd(c: String) = col(c).cast("double")
      // AUC from the positive placements: A = sp/(2·n1·n0)
      val a = dd("sp") / (lit(2.0) * dd("n1") * dd("n0"))
      // S10 = (Σ w·pl² /(4n0²) − n1·A²)/(n1−1); S01 mirrored with the
      // complement placements (negatives' placements among positives,
      // whose mean is 1−A)
      val s10 = (dd("spp") / (lit(4.0) * dd("n0") * dd("n0")) -
        dd("n1") * a * a) / (dd("n1") - 1.0)
      val aN = lit(1.0) - (dd("sn") / (lit(2.0) * dd("n1") * dd("n0")))
      val s01 = (dd("snn") / (lit(4.0) * dd("n1") * dd("n1")) -
        dd("n0") * (lit(1.0) - aN) * (lit(1.0) - aN)) / (dd("n0") - 1.0)
      val se2 = s10 / dd("n1") + s01 / dd("n0")
      g.select(col("nt").as("n"), col("n1").as("n_pos"),
        when(col("n1") > 1 && col("n0") > 1, round(a, 6)).as("auc"),
        when(col("n1") > 1 && col("n0") > 1 && se2 > 0.0,
          round(sqrt(se2), 6)).as("se"),
        when(col("n1") > 1 && col("n0") > 1 && se2 > 0.0,
          round((a - 0.5) / sqrt(se2), 4)).as("z_vs_coin"))
    }),

    // SPLIT-CONFORMAL PREDICTION — the distribution-free uncertainty
    // layer over the scorer (x186 says how well it RANKS; conformal
    // says what you may CLAIM per prediction with finite-sample
    // coverage ≥ 1−α under exchangeability — the deployment gate a
    // selective-prediction pipeline actually ships): fold 0
    // calibrates the nonconformity quantile, folds 1-3 audit
    // coverage and prediction-set size. Everything runs on the
    // score-cells artifact — the fact table contributes exactly the
    // ONE pass that built the cells; the quantile is BIGINT rank
    // arithmetic on a ≤2·|cells| value frame (see
    // [[conformalFromFoldCells]]).
    "x214_conformal_split" -> ((spark, sfDir) =>
      conformalFromFoldCells(foldScoreCellsFrom(rawScoreCells(spark, sfDir)))),

    // MAHALANOBIS OUTLIERS — the MULTIVARIATE outlier screen beside
    // x84's per-column MAD (a user can be unremarkable on every
    // marginal and still be a joint outlier — huge spend on few
    // events): md² over the (event count, spend cents) user frame
    // with the 2×2 covariance inverted in CLOSED FORM from exact
    // BIGINT sums — centered coordinates carried as the exact
    // integers Dx = n·x − Σx, so md² = (n−1)·(v_yy·Dx² −
    // 2·v_xy·Dx·Dy + v_xx·Dy²)/(n·detV) is one fixed double
    // expression per user over broadcast scalars. One fact pass, one
    // user-grain agg, TakeOrdered top-20 by (md² desc, user).
    "x209_mahalanobis_outliers" -> ((spark, sfDir) =>
      mahalanobisFromUsers(mahalanobisUsersOf(
        Lake.table(spark, sfDir, "events")))),


    // PERMUTATION TEST — the assumption-free significance readout for
    // c80's A/B lift (the z-test assumes normality; the randomization
    // test just asks "how often does a RANDOM relabeling beat the
    // observed split?"): 32 deterministic-hash relabelings of the
    // user arms, each replicate's conversion-rate difference compared
    // to the observed one by exact integer CROSS-MULTIPLICATION
    // (|X_b|·D_obs ≥ |X_obs|·D_b with X = c_A·n_B − c_B·n_A and
    // D = n_A·n_B — no float ever enters the decision), so the
    // p-value is engine-reproducible to the bit. Scale shape: one
    // user-grain frame, explode ×32, one partial-aggregatable
    // groupBy(replicate) — the permutation test as a single pass. A
    // replicate with an empty arm (D_b = 0) counts as not-extreme;
    // add-one p-value convention.
    "x206_permutation_test" -> ((spark, sfDir) => {
      val ev = Lake.table(spark, sfDir, "events")
      val conv = ev.filter(col("event_type") === "purchase" &&
          col("value") >= 95.0)
        .select(col("user_id")).distinct().withColumn("cv", lit(1L))
      val u = ev.select(col("user_id")).distinct()
        .join(conv, Seq("user_id"), "left")
        .select(col("user_id"), coalesce(col("cv"), lit(0L)).as("cv"))
      val obs = broadcast(u.select(
          when(sampleHash(col("user_id")) < lit(HashMod / 2), 1L)
            .otherwise(0L).as("a"), col("cv"))
        .agg(sum(col("a")).as("na_o"), sum(col("a") * col("cv")).as("ca_o"),
          count(lit(1)).as("nu"), sum(col("cv")).as("c_tot")))
      u.select(col("user_id"), col("cv"),
          explode(array((0 until PermReps).map(b => lit(b.toLong)): _*))
            .as("b"))
        // replicate-seeded mix: two multiply–xorshift rounds
        // (splitmix-style) so the 32 relabelings are pairwise
        // decorrelated — a single affine scramble (h + b·c)·m % M
        // makes every replicate an affine image of one base hash,
        // weakening the permutation null (ADVICE r13). Every
        // intermediate stays < 2⁴⁸, so the identical integer chain
        // freezes into the DuckDB oracle with no overflow risk.
        .withColumn("m1",
          (sampleHash(col("user_id")) + col("b") * lit(1300997L)) %
            lit(HashMod))
        .withColumn("m2", col("m1") * lit(69621L) % lit(HashMod))
        .withColumn("m3", col("m2").bitwiseXOR(expr("m2 DIV 2048")))
        .withColumn("m4", col("m3") * lit(48271L) % lit(HashMod))
        .withColumn("m5", col("m4").bitwiseXOR(expr("m4 DIV 1024")))
        .withColumn("h", col("m5") % lit(HashMod))
        .withColumn("a", when(col("h") < lit(HashMod / 2), 1L).otherwise(0L))
        .groupBy(col("b"))
        .agg(sum(col("a")).as("na"), sum(col("a") * col("cv")).as("ca"),
          count(lit(1)).as("nu_b"), sum(col("cv")).as("c_b"))
        .crossJoin(obs)
        .withColumn("x_b", col("ca") * (col("nu_b") - col("na")) -
          (col("c_b") - col("ca")) * col("na"))
        .withColumn("d_b", col("na") * (col("nu_b") - col("na")))
        .withColumn("x_o", col("ca_o") * (col("nu") - col("na_o")) -
          (col("c_tot") - col("ca_o")) * col("na_o"))
        .withColumn("d_o", col("na_o") * (col("nu") - col("na_o")))
        .withColumn("extreme",
          when(col("d_b") > 0 &&
            abs(col("x_b")) * col("d_o") >= abs(col("x_o")) * col("d_b"),
            1L).otherwise(0L))
        .agg(max(col("nu")).as("n_users"),
          count(lit(1)).as("n_perms"),
          sum(col("extreme")).as("n_extreme"),
          round(max(col("x_o").cast("double") / col("d_o").cast("double")),
            6).as("obs_diff"),
          round((sum(col("extreme")) + lit(1L)).cast("double") /
            (count(lit(1)) + lit(1L)).cast("double"), 4).as("p_value"))
    }),

    // SLICED AUC — the scorer's ranking quality PER DAY (the
    // fairness/monitoring readout: one global AUC hides a slice where
    // the scorer is broken; the sliced curve is what an eval
    // dashboard actually tracks): the GLOBAL out-of-fold scorer
    // evaluated within each day slice, via the same tie-aware BIGINT
    // rank-sum as x186 with every window PARTITIONED by the slice.
    // Scale shape: one fact pass to (day, type, fold) cells, a
    // broadcast join to the scorer's cell frame, windows over the
    // (day × score)-sized frame only.
    "x201_auc_by_slice" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val sc = encodeCells(rawScoreCells(spark, sfDir))
        .select(col("event_type"), col("fold"),
          round(col("enc_num").cast("double") /
            col("enc_den").cast("double") * 10000.0, 0)
            .cast("long").as("enc_fp"))
      val dcells = Lake.table(spark, sfDir, "events")
        .select(expr("datediff(to_date(ts), date'2024-01-01')")
          .cast("long").as("d"),
          col("event_type"), (sampleHash(col("user_id")) % 4).as("fold"),
          when(col("value") > 90, 1L).otherwise(0L).as("pos"))
        .join(broadcast(sc), Seq("event_type", "fold"))
        .groupBy(col("d"), col("enc_fp"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val asc = Window.partitionBy(col("d")).orderBy(col("enc_fp"))
        .rowsBetween(Window.unboundedPreceding, -1)
      dcells
        .withColumn("cb", coalesce(sum(col("n")).over(asc), lit(0L)))
        .groupBy(col("d"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
          sum(col("n_pos") * (lit(2L) * col("cb") + col("n") + lit(1L)))
            .as("r2sum"))
        .select(col("d"), col("n"), col("n_pos"),
          when(col("n_pos") > 0 && col("n") > col("n_pos"),
            round((col("r2sum") - col("n_pos") * (col("n_pos") + lit(1L)))
              .cast("double") /
              (lit(2.0) * col("n_pos").cast("double") *
                (col("n") - col("n_pos")).cast("double")), 6)).as("auc"))
        .orderBy(col("d"))
    }),

    // SPEARMAN RANK CORRELATION — monotone association between two
    // doc measures (length in chars vs length in tokens here), the
    // outlier-robust complement of a Pearson r: ties get average
    // ranks, computed WITHOUT any row-grain global sort — the
    // value-frequency table's cumulative bounds give every distinct
    // value its doubled average rank 2·cum_before + f + 1 as an exact
    // BIGINT (x191's trick), docs join the model-sized rank tables by
    // value, and ρ is Pearson over the exact doubled ranks: five
    // BIGINT sums, fixed double expressions, one sqrt.
    "x205_spearman" -> ((spark, sfDir) =>
      spearmanFromJoint(spearmanJointOf(docs(spark, sfDir)))),

    // KENDALL τ_b — the pairwise-concordance complement of x205's
    // Spearman (ρ correlates the rank VALUES; τ_b reads the
    // probability a random doc pair orders the same way on both
    // measures — the statistic behind "agreement of two rankers" and
    // robust to ρ's sensitivity to rank distance): exact τ_b of the
    // 64-binned (n_chars, n_toks) via 2-D prefix sums over a
    // constant-size dominance grid. Reads the SAME joint frequency
    // table as x205/s36 — see [[kendallFromJoint]] for the grid
    // algebra and the n ≈ 4·10⁹ BIGINT bound.
    "x216_kendall_tau_b" -> ((spark, sfDir) =>
      kendallFromJoint(spearmanJointOf(docs(spark, sfDir)))),

    // KRUSKAL–WALLIS — do the k sources share one doc-length
    // location at all? The omnibus screen before pairwise rank tests
    // (x146 is the 2-sample member; running it k²/2 times without
    // this gate is the multiple-comparison mistake x176/x207
    // correct). Groups = source, values = n_chars, over the
    // (source, n_chars) cell table's exact doubled ranks — see
    // [[kruskalWallisFromCells]].
    "x217_kruskal_wallis" -> ((spark, sfDir) =>
      kruskalWallisFromCells(
        docs(spark, sfDir)
          .select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("f")))),

    // BROWN–FORSYTHE VARIANCE HOMOGENEITY — do the k sources share
    // one doc-length SPREAD? The scale complement of x217's location
    // test (KW reads the medians apart; Brown–Forsythe reads the
    // dispersions apart — the robust Levene variant, one-way ANOVA F
    // on |x − median_g|, median-centered so heavy tails don't fake a
    // variance difference): per-group medians are discrete
    // percentile_disc data values (x51's convention), the absolute
    // deviations are exact BIGINTs, the three per-group moment sums
    // are exact, and F = [(N−k)/(k−1)]·(SB − SZ²/N)/(SZZ − SB) with
    // SB = Σ sz_g²/n_g taken as one double term per group (the
    // square leaves BIGINT near n ≈ 3·10⁶·group-mean — x217's
    // documented bound). One docs pass + one broadcast median join;
    // windows over the k-row group frame; degenerate single-group /
    // zero-within frames read NULL.
    "x229_brown_forsythe" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, sfDir).select(col("source"), col("n_chars"))
      // percentile_disc picks an actual data value but Spark types it
      // DOUBLE — pin it back to BIGINT so the deviations stay exact
      val meds = d.groupBy(col("source"))
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("med"))
      val g = d.join(broadcast(meds), "source")
        .select(col("source"), col("med"),
          abs(col("n_chars") - col("med")).as("z"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_g"), max(col("med")).as("med_chars"),
          sum(col("z")).as("sz"), sum(col("z") * col("z")).as("szz"))
      def dd(c: String) = col(c).cast("double")
      val whole = Window.partitionBy(lit(1))
      g.withColumn("n", sum(col("n_g")).over(whole))
        .withColumn("k_groups", count(lit(1)).over(whole))
        .withColumn("sb", sum(dd("sz") * dd("sz") / dd("n_g")).over(whole))
        .withColumn("sz_tot", sum(col("sz")).over(whole))
        .withColumn("szz_tot", sum(col("szz")).over(whole))
        .withColumn("between",
          col("sb") - dd("sz_tot") * dd("sz_tot") / dd("n"))
        .withColumn("within", dd("szz_tot") - col("sb"))
        .select(col("source"), col("n_g"), col("med_chars"),
          round(dd("sz") / dd("n_g"), 4).as("mean_abs_dev"),
          col("k_groups"),
          when(col("k_groups") > 1 && col("n") > col("k_groups") &&
              col("within") > 0.0,
            round((col("between") / (dd("k_groups") - 1.0)) /
              (col("within") / (dd("n") - dd("k_groups"))), 6))
            .as("f_stat"))
        .orderBy(col("source"))
    }),

    // COUNT-MIN HEAVY KEYS — x101's Misra–Gries answers "which keys
    // are heavy"; CMS answers "how heavy is ANY key" from 1,024
    // additive counters (the point-query sketch a 100 TB pipeline
    // keeps per shard and merges by +). Frozen modular hashes make
    // it the repo's first FULLY-ORACLED sketch — see
    // [[cmsHeavyFromCounts]]. Keys = event user_ids.
    "x218_cms_heavy" -> ((spark, sfDir) =>
      cmsHeavyFromCounts(
        Lake.table(spark, sfDir, "events")
          .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("c")))),

    // KMV DISTINCT — the mergeable distinct-count sketch beside its
    // exact control (x68's HLL rollup is engine-hash-bound and
    // rows-only; KMV on the frozen modular hash is fully oracled):
    // per event_type, estimate the distinct user count from the 64
    // smallest hash values and report the relative error against the
    // exact count — see [[kmvDistinctFromElements]].
    "x219_kmv_distinct" -> ((spark, sfDir) =>
      kmvDistinctFromElements(
        Lake.table(spark, sfDir, "events")
          .select(col("event_type").as("grp"), col("user_id").as("k")))),

    // KMV SET OPERATIONS — the mergeability payoff x219 only
    // implies: two groups' K-minimum states answer |A ∪ B| (min-union
    // of the slates, then the same (K−1)·P/h_K estimator) and |A ∩ B|
    // (ρ = the share of the union's min-K lying in BOTH groups'
    // slates — correct because any union-top-K hash from A
    // necessarily sits in A's own top K — times the union estimate:
    // Beyer et al.'s KMV intersection). Every event-type pair is
    // graded against its exact control; per-pair state is 2K hashes,
    // the ONLY corpus-grain work is the exact control's distinct
    // aggregation, and the frozen modular hash keeps the whole
    // readout DuckDB-exact.
    "x292_kmv_setops" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      def dd(c: Column) = c.cast("double")
      val elems = Lake.table(spark, sfDir, "events")
        .select(col("event_type").as("grp"), col("user_id").as("k"))
        .distinct()
      val mh = kmvMinHashesOf(elems)
      val types = mh.select(col("grp")).distinct()
      val pairs = types.as("a").join(types.as("b"),
          col("a.grp") < col("b.grp"))
        .select(col("a.grp").as("ga"), col("b.grp").as("gb"))
      val ua = pairs.join(mh.select(col("grp").as("ga"), col("h")), "ga")
      val ub = pairs.join(mh.select(col("grp").as("gb"), col("h")), "gb")
      val byH = Window.partitionBy(col("ga"), col("gb")).orderBy(col("h"))
      val uTop = ua.select(col("ga"), col("gb"), col("h"))
        .unionByName(ub.select(col("ga"), col("gb"), col("h")))
        .distinct()
        .withColumn("rk", row_number().over(byH))
        .filter(col("rk") <= KmvK)
      val inA = mh.select(col("grp").as("ga"), col("h"),
        lit(1L).as("in_a"))
      val inB = mh.select(col("grp").as("gb"), col("h"),
        lit(1L).as("in_b"))
      val marked = uTop
        .join(inA, Seq("ga", "h"), "left")
        .join(inB, Seq("gb", "h"), "left")
      val est = marked.groupBy(col("ga"), col("gb"))
        .agg(count(lit(1)).as("n_seen"), max(col("h")).as("h_k"),
          sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L)
            .otherwise(0L)).as("n_both"))
      val exactA = elems.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      val exactI = elems.select(col("grp").as("ga"), col("k"))
        .join(elems.select(col("grp").as("gb"), col("k")), "k")
        .filter(col("ga") < col("gb"))
        .groupBy(col("ga"), col("gb"))
        .agg(count(lit(1)).as("exact_inter"))
      est
        .join(exactA.select(col("grp").as("ga"), col("n").as("n_a")), "ga")
        .join(exactA.select(col("grp").as("gb"), col("n").as("n_b")), "gb")
        .join(exactI, Seq("ga", "gb"), "left")
        .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
        .withColumn("exact_union",
          col("n_a") + col("n_b") - col("exact_inter"))
        .withColumn("union_est",
          // x219's provenance rule: the sub-K fallback is the
          // sketch's own n_seen, never the exact_union control
          when(col("n_seen") < KmvK, col("n_seen"))
            .otherwise(round((lit(KmvK) - 1.0) * lit(CmsP.toDouble) /
              dd(col("h_k")), 0).cast("long")))
        .withColumn("inter_est",
          round(dd(col("n_both")) * dd(col("union_est")) /
            dd(col("n_seen")), 0).cast("long"))
        .select(col("ga"), col("gb"), col("exact_union"),
          col("exact_inter"), col("union_est"), col("inter_est"),
          round(dd(col("n_both")) / dd(col("n_seen")), 4)
            .as("jaccard_est"))
        .orderBy(col("ga"), col("gb"))
    }),

    // CLIFF'S DELTA — ordinal effect size of the en-vs-other doc
    // length gap: the "how much" beside the rank tests' "whether",
    // invariant to any monotone transform — see
    // [[cliffsDeltaFromCells]]. One fact aggregation; support-sized
    // after.
    "x232_cliffs_delta" -> ((spark, sfDir) =>
      cliffsDeltaFromCells(
        enOtherSplit(docs(spark, sfDir))
          .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("f")))),

    // SOMERS' D — the asymmetric concordance statistic off the SAME
    // dominance grid as x216 (D_y|x conditions on the untied-on-x
    // pairs — the rank accuracy behind c98's c-index); shares
    // [[kendallGridStats]], so the grid algebra is pinned identical.
    "x233_somers_d" -> ((spark, sfDir) =>
      somersDFromJoint(spearmanJointOf(docs(spark, sfDir)))),

    // GOODMAN–KRUSKAL GAMMA — the tie-ignoring third reading of the
    // ONE dominance grid (τ_b, D, γ now all served by
    // [[kendallGridStats]] — three statistics, one grid pass) — see
    // [[gammaFromJoint]].
    "x242_gk_gamma" -> ((spark, sfDir) =>
      gammaFromJoint(spearmanJointOf(docs(spark, sfDir)))),

    // 1-WASSERSTEIN SOURCE DRIFT — how many characters would each
    // source's length distribution have to MOVE to match the corpus
    // (the drift number with units, beside KS's sup-gap and PSI's
    // log score) — see [[wassersteinFromCells]].
    "x243_wasserstein" -> ((spark, sfDir) =>
      wassersteinFromCells(
        docs(spark, sfDir)
          .select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("f")))),

    // INEQUALITY PROFILE — Theil T, Atkinson(1), and the Hoover
    // share of the per-user event-count distribution, read together
    // off ONE count-of-counts cell frame (x159's Gini is the
    // doc-length sibling) — see [[inequalityFromCells]].
    "x247_theil_inequality" -> ((spark, sfDir) =>
      inequalityFromCells(
        Lake.table(spark, sfDir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("f")))),

    // ENERGY DISTANCE — each source's whole-distribution D² against
    // its complement over doc length, the zero-iff-equal two-sample
    // statistic beside x243's W₁ transport — see
    // [[energyDistanceFromCells]].
    "x248_energy_distance" -> ((spark, sfDir) =>
      energyDistanceFromCells(
        docs(spark, sfDir)
          .select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("f")))),

    // ONE-WAY ANOVA F — the classic parametric location omnibus
    // beside x217's rank version and x229's spread version: do the
    // k sources share one MEAN doc length? Raw exact moments per
    // group, per-group double squares, η² effect size — see
    // [[anovaFFromMoments]].
    "x234_anova_f" -> ((spark, sfDir) =>
      anovaFFromMoments(
        docs(spark, sfDir)
          .select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s"),
            sum(col("v") * col("v")).as("ss")))),

    // HODGES–LEHMANN SHIFT — the robust estimate of HOW MUCH longer
    // en docs run than the rest (x146 tests the difference; x235
    // reads the mean gap; HL is the median-of-differences the
    // outliers can't move), off cross-difference cells — see
    // [[hlShiftFromCells]].
    "x263_hl_shift" -> ((spark, sfDir) => {
      val split = enOtherSplit(docs(spark, sfDir))
      def cellsOf(g: String) = split.filter(col("grp") === g)
        .groupBy(col("v")).agg(count(lit(1)).as("f"))
      hlShiftFromCells(cellsOf("a"), cellsOf("b"))
    }),

    // DISTRIBUTION-DISTANCE PROFILE — TVD, Bhattacharyya, and
    // squared Hellinger of each source's length distribution vs its
    // complement, the bounded [0,1] trio beside x243/x248's
    // transports — see [[distProfileFromCells]].
    "x264_dist_profile" -> ((spark, sfDir) =>
      distProfileFromCells(
        docs(spark, sfDir)
          .select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("f")))),

    // MOOD'S MEDIAN TEST — the above-the-grand-median k-group
    // screen beside x217's full-rank KW and x234's parametric F —
    // see [[moodsMedian]].
    "x261_moods_median" -> ((spark, sfDir) =>
      moodsMedian(docs(spark, sfDir)
        .select(col("source").as("grp"), col("n_chars").as("v")))),

    // BARTLETT'S TEST — the likelihood-ratio k-group variance
    // omnibus on the SAME moment frame as x234 (x229 answers it
    // robustly; Bartlett is the sensitive parametric classic) —
    // see [[bartlettFromMoments]].
    "x246_bartlett" -> ((spark, sfDir) =>
      bartlettFromMoments(
        docs(spark, sfDir)
          .select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s"),
            sum(col("v") * col("v")).as("ss")))),

    // WELCH'S T — the unequal-variance two-sample mean test on the
    // same en-vs-other split as x232, with Welch–Satterthwaite df
    // and Cohen's d — the parametric effect size beside x232's
    // ordinal δ — see [[welchTFromMoments]].
    "x235_welch_t" -> ((spark, sfDir) =>
      welchTFromMoments(
        enOtherSplit(docs(spark, sfDir))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s"),
            sum(col("v") * col("v")).as("ss")))),

    // HYPERLOGLOG DISTINCT (frozen-hash twin) — the register-max
    // distinct sketch itself, fully oracled: x68's HLL rollup grades
    // Spark's native approx_count_distinct merge (engine-hash-bound,
    // rows-only); this one rebuilds HLL on the frozen modular hash so
    // DuckDB reproduces every register and the estimate bit-for-bit.
    // Same (event_type, user_id) frame as x219, so the report reads
    // KMV and HLL side by side on identical groups — see
    // [[hllDistinctFromElements]] for the register/rank arithmetic.
    "x230_hll_frozen" -> ((spark, sfDir) =>
      hllDistinctFromElements(
        Lake.table(spark, sfDir, "events")
          .select(col("event_type").as("grp"), col("user_id").as("k")))),

    // AMS F2 SKETCH — the second-frequency-moment estimator (self-join
    // size / skew mass Σ c_k² per join column) from 8 frozen ±1 signed
    // sums — the one-pass answer to "how skewed is this key" that a
    // 100 TB planner wants before choosing a join strategy, graded
    // against its exact control — see [[amsF2FromCounts]]. Keys =
    // per-type user event counts.
    "x231_ams_f2" -> ((spark, sfDir) =>
      amsF2FromCounts(
        Lake.table(spark, sfDir, "events")
          .groupBy(col("event_type").as("grp"), col("user_id").as("k"))
          .agg(count(lit(1)).as("c")))),

    // ISOTONIC CALIBRATION (PAV fit) — the nonparametric recalibration
    // map beside x149's diagnosis (ECE says the score is miscalibrated;
    // isotonic regression produces the monotone score→probability map
    // that FIXES it without assuming a functional form): the
    // pool-adjacent-violators solution computed in closed form via the
    // minimax identity iso(i) = max_{j≤i} min_{k≥j} mean(y over
    // pooled groups j..k) — pooled means from exact BIGINT prefix
    // sums, ONE double division per (j,k) pair, min/max exact over the
    // resulting doubles. Scale shape: the pair expansion is
    // |distinct scores|² on the CELL frame — score-support-bounded
    // (≤|types|·K here; a wide-support scorer pre-buckets to a fixed
    // grid first), never corpus-sized; the fact table is touched once,
    // by the cell build.
    "x192_isotonic_calibration" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val asc = Window.orderBy(col("enc_fp"))
      val cumw = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val idx = scoreCells(spark, sfDir).groupBy(col("enc_fp"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
        .withColumn("i", row_number().over(asc).cast("long"))
        .withColumn("cn", sum(col("n")).over(cumw))
        .withColumn("cp", sum(col("n_pos")).over(cumw))
      val pre = idx.select(col("i").as("j"),
        (col("cn") - col("n")).as("cn0"), (col("cp") - col("n_pos")).as("cp0"))
      val pairs = pre.join(
        idx.select(col("i").as("k"), col("cn").as("cnk"), col("cp").as("cpk")),
        col("j") <= col("k"))
        .select(col("j"),
          ((col("cpk") - col("cp0")).cast("double") /
            (col("cnk") - col("cn0")).cast("double")).as("mean_jk"))
      val runMax = pairs.groupBy(col("j")).agg(min(col("mean_jk")).as("min_from_j"))
        .withColumn("iso_raw", max(col("min_from_j")).over(
          Window.orderBy(col("j"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      idx.join(runMax.select(col("j").as("i"), col("iso_raw")), "i")
        .select(col("enc_fp").as("score_fp"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 4)
            .as("raw_rate"),
          round(col("iso_raw"), 4).as("iso_rate"))
        .orderBy(col("score_fp"))
    }),

    // POISSON BOOTSTRAP CI — THE distributed bootstrap (resampling n
    // rows WITH replacement needs global coordination; giving each
    // row an independent Poisson(1) multiplicity per replicate needs
    // NONE — the approximation that makes bootstrap a one-pass
    // map-side operation at any scale): B=8 replicate means of doc
    // length, each row's replicate weight drawn by inverse-CDF over
    // the deterministic (doc, replicate) hash, so the "random"
    // resample is engine-reproducible and fully oracle-checkable.
    // Scale shape: explode ×8 at doc grain, one partial-aggregatable
    // groupBy(replicate) — 8 running sums; the CI readout windows
    // over the 8-row replicate frame.
    "x189_bootstrap_ci" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy(lit(1))
      docs(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          explode(array((0 until BootReps).map(b => lit(b.toLong)): _*))
            .as("b"))
        .withColumn("h",
          (sampleHash(col("doc_id")) + col("b") * lit(1300997L)) *
            lit(48271L) % lit(HashMod))
        .withColumn("w", poissonWeight(col("h")))
        .groupBy(col("b"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_chars")).as("sum_chars"))
        .withColumn("mean_chars",
          when(col("n_eff") > 0,
            round(col("sum_chars").cast("double") /
              col("n_eff").cast("double"), 4)))
        .select(col("b").as("replicate"), col("n_eff"), col("mean_chars"),
          min(col("mean_chars")).over(whole).as("ci_lo"),
          max(col("mean_chars")).over(whole).as("ci_hi"))
        .orderBy(col("replicate"))
    }),

    // QUANTILE NORMALIZATION — map every source's length distribution
    // onto the GLOBAL one (the cross-source comparability transform:
    // after it, "long for its source" means the same thing
    // everywhere — microarray normalization's trick applied to corpus
    // stats): doc at within-source rank r of n_s maps to the global
    // value at rank ⌈r·N/n_s⌉, all exact integer arithmetic. Scale
    // shape: the within-source rank is a per-source window (parallel
    // across sources); the global distribution is NEVER ranked at row
    // grain — it collapses to the value-frequency table (distinct
    // lengths, model-sized) whose cumulative bounds broadcast, and
    // the lookup is a doc⋈interval broadcast join. No global
    // single-partition pass anywhere.
    "x191_quantile_normalize" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val n = broadcast(d.agg(count(lit(1)).as("n_tot")))
      val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val bySrc = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val byLen = Window.orderBy(col("n_chars"))
      val cumFreq = d.groupBy(col("n_chars")).agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(
          byLen.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_before", coalesce(sum(col("f")).over(
          byLen.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("n_chars").as("norm_chars"), col("cum"),
          col("cum_before"))
      d.join(broadcast(srcN), "source").crossJoin(n)
        .withColumn("r", row_number().over(bySrc).cast("long"))
        .withColumn("g_idx",
          expr("(r * n_tot + n_s - 1) DIV n_s"))
        .join(broadcast(cumFreq),
          col("g_idx") > col("cum_before") && col("g_idx") <= col("cum"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("norm_chars"))
        .orderBy(col("doc_id"))
    }),

    // DISTRIBUTED OLS VIA NORMAL EQUATIONS — linear regression as a
    // lake operator (spend cents on hour-of-day and day index): the
    // 100 TB shape for closed-form ML is "aggregate the sufficient
    // statistic, solve off-frame" — X'X and X'y are ten exact BIGINT
    // sums from ONE partial-aggregatable fact pass ([[olsSumsOf]]),
    // and the 3×3 Cramer solve + the SSE/SST R² identity are fixed
    // double expressions over that single row ([[olsFromSums]]).
    // Gradient descent shuffles the data per step; the normal-
    // equation statistic shuffles it never.
    "x196_ols_normal_eq" -> ((spark, sfDir) =>
      olsFromSums(olsSumsOf(Lake.table(spark, sfDir, "events")))),

    // COVARIATE BALANCE (standardized mean differences) — the
    // diagnostic a causal pipeline owes BEFORE trusting c80/c95/c86's
    // contrasts ("was the split actually balanced on pre-treatment
    // covariates?" — |SMD| ≲ 0.1 is the standard bar): per covariate
    // (event count, active days, spend cents — all exact user-grain
    // integers), SMD = (x̄_T − x̄_C) / √((s²_T + s²_C)/2) with sample
    // variances from exact BIGINT (n, Σx, Σx²) — the final
    // mean/variance/SMD arithmetic is a fixed double expression over
    // six exact sums. Scale shape: one fact pass to the user frame,
    // one user-grain agg to TWO arm rows, then everything is scalar;
    // the 3-row covariate stack is a union over the 1-row cross of
    // the arm rows.
    "x195_smd_balance" -> ((spark, sfDir) => {
      val ev = Lake.table(spark, sfDir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val users = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("f"), countDistinct(col("day")).as("a"),
          sum(col("cents")).as("m"))
        .select(
          when((col("user_id") * HashMul) % HashMod < HashMod / 2,
            "treat").otherwise("control").as("arm"),
          col("f"), col("a"), col("m"))
      val g = users.groupBy(col("arm")).agg(
        count(lit(1)).as("nu"),
        sum(col("f")).as("sf"), sum(col("f") * col("f")).as("sff"),
        sum(col("a")).as("sa"), sum(col("a") * col("a")).as("saa"),
        sum(col("m")).as("sm"), sum(col("m") * col("m")).as("smm"))
      val tArm = g.filter(col("arm") === "treat")
        .select(col("nu").as("n_t"), col("sf").as("sf_t"),
          col("sff").as("sff_t"), col("sa").as("sa_t"),
          col("saa").as("saa_t"), col("sm").as("sm_t"),
          col("smm").as("smm_t"))
      val cArm = g.filter(col("arm") === "control")
        .select(col("nu").as("n_c"), col("sf").as("sf_c"),
          col("sff").as("sff_c"), col("sa").as("sa_c"),
          col("saa").as("saa_c"), col("sm").as("sm_c"),
          col("smm").as("smm_c"))
      val one = tArm.crossJoin(broadcast(cArm))
      def covRow(name: String, s: String, ss: String) =
        one.select(lit(name).as("covariate"),
          col("n_t"), col("n_c"),
          col(s"${s}_t").as("sx_t"), col(s"${ss}_t").as("sxx_t"),
          col(s"${s}_c").as("sx_c"), col(s"${ss}_c").as("sxx_c"))
      val stacked = covRow("active_days", "sa", "saa")
        .unionAll(covRow("events", "sf", "sff"))
        .unionAll(covRow("spend_cents", "sm", "smm"))
      def varD(n: String, sx: String, sxx: String) =
        (col(n).cast("double") * col(sxx).cast("double") -
          col(sx).cast("double") * col(sx).cast("double")) /
          (col(n).cast("double") * (col(n) - 1).cast("double"))
      val pooled = (varD("n_t", "sx_t", "sxx_t") +
        varD("n_c", "sx_c", "sxx_c")) / 2.0
      stacked.select(col("covariate"), col("n_t"), col("n_c"),
        round(col("sx_t").cast("double") / col("n_t").cast("double"), 4)
          .as("mean_t"),
        round(col("sx_c").cast("double") / col("n_c").cast("double"), 4)
          .as("mean_c"),
        when(pooled > 0.0, round(
          (col("sx_t").cast("double") / col("n_t").cast("double") -
            col("sx_c").cast("double") / col("n_c").cast("double")) /
            sqrt(pooled), 4)).as("smd"))
        .orderBy(col("covariate"))
    }),

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (A-ES) — the Efraimidis–
    // Spirakis exponential-key trick, THE one-pass distributed
    // primitive for "sample k docs ∝ token count" (x20/x37 sample by
    // RATE; training mixes need ∝-size picks without replacement):
    // each row computes key = u^(1/w) once (here as ln(u)/w — the
    // same order), and the top-k by key IS a without-replacement
    // weighted sample. No sequential reservoir state, no second
    // pass, TakeOrderedAndProject at any corpus size. u derives from
    // the hash on the odd grid so the sample is deterministic and
    // reproducible across engines/runs (x53's auditability), and the
    // 10⁻⁹ fixed-point key makes the selection boundary an integer
    // compare, not a float tie.
    "x157_weighted_sample" -> ((spark, sfDir) =>
      weightedSampleKeys(docs(spark, sfDir)
        .select(col("doc_id"), col("n_chars")))
        .orderBy(desc("key_fp"), col("doc_id")).limit(20)),

    // MIX KL-DIVERGENCE — the one-number imbalance score of the
    // achieved source mix (x28 prescribes a mix, x59 temperature-
    // adjusts one, x136 reads within-source diversity; this reads
    // the BETWEEN-source skew): KL(p ‖ uniform) = log S − H(p) ≥ 0,
    // 0 iff perfectly balanced — the dataset-card number a training
    // run quotes for "how concentrated is my corpus". Per-source
    // log-ratio terms ln(n_s·S/N) are each ONE ln of an exact BIGINT
    // rational onto the 10⁶ grid, the divergence is the exact
    // integer Σ n_s·term_fp over the |sources|-row frame with one
    // division at readout — no float accumulation anywhere (x156's
    // order-free discipline). One partial-agg'able count at corpus
    // scale.
    "x158_mix_kl" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy(lit(1))
      docs(spark, sfDir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n_total", sum(col("n_docs")).over(whole))
        .withColumn("n_sources", count(lit(1)).over(whole))
        .withColumn("term_fp", round(log(
          (col("n_docs") * col("n_sources")).cast("double") /
            col("n_total").cast("double")) * lit(1000000.0), 0)
          .cast("long"))
        .select(col("source"), col("n_docs"),
          round(col("n_docs").cast("double") /
            col("n_total").cast("double"), 4).as("share"),
          round(col("term_fp").cast("double") / lit(1000000.0), 4)
            .as("log_ratio"),
          round(sum(col("n_docs") * col("term_fp")).over(whole)
            .cast("double") /
            (col("n_total").cast("double") * lit(1000000.0)), 4)
            .as("kl_vs_uniform"))
        .orderBy(col("source"))
    }),

    // Stratified (per-language) downsampling: keep en at 50%, every
    // other language at 20% — the rebalancing step of a multilingual
    // training mix. Scale shape: stateless map work, no shuffle, no
    // RNG state to coordinate across executors; the decision is a pure
    // function of doc_id, so adding data never changes which existing
    // rows are sampled (stable under incremental ingest).
    "x20_stratified_sample" -> ((spark, sfDir) => {
      docs(spark, sfDir)
        .filter(sampleHash(col("doc_id")) < langMixThreshold)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Greedy token-budget fill: per source, take documents in doc_id
    // order until the running token count passes the per-source budget
    // — "give me ~20k tokens from each source". The running sum is the
    // distributed two-pass scan (operators/Prefix), NOT a
    // Window.partitionBy(source) — the window form materializes each
    // source in ONE task, which at 100 TB makes a big source a
    // straggler; the scan bounds per-task data by the range
    // partitioning regardless of group sizes.
    "x21_token_budget" -> ((spark, sfDir) => {
      import spark.implicits._
      val budget = 20000L
      val rows = docs(spark, sfDir)
        .select(col("doc_id").as("id"), col("source").as("group"),
          size(split(col("text"), " ")).cast("long").as("value"))
        .as[graft.operators.Prefix.ScanRow]
      graft.operators.Prefix
        .runningSum(rows, spark.sessionState.conf.numShufflePartitions)
        .filter(col("running") <= budget)
        .select(col("id").as("doc_id"), col("group").as("source"),
          col("value").cast("int").as("n_tokens"),
          col("running").as("running_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing — concat-and-chunk accounting: per source, the
    // documents are (conceptually) concatenated in doc_id order and
    // cut into fixed 512-token context windows; each document reports
    // the chunk range it lands in. This is the packing bookkeeping a
    // training pipeline runs before writing examples: exclusive token
    // offset = running sum − own tokens, first/last chunk = offset
    // arithmetic. Same distributed two-pass scan as x21 (NOT a
    // per-source window) — a 10 TB source never concentrates in one
    // task, and the chunk assignment is a pure function of the
    // offsets, so the packing is reproducible across runs and engines.
    "x27_sequence_pack" -> ((spark, sfDir) => {
      import spark.implicits._
      val chunk = PackChunkTokens
      val rows = docs(spark, sfDir)
        .select(col("doc_id").as("id"), col("source").as("group"),
          size(split(col("text"), " ")).cast("long").as("value"))
        .as[graft.operators.Prefix.ScanRow]
      graft.operators.Prefix
        .runningSum(rows, spark.sessionState.conf.numShufflePartitions)
        .select(col("id").as("doc_id"), col("group").as("source"),
          col("value").as("n_tokens"),
          // DIV: integer division (Spark's `/` on longs is double)
          expr(s"(running - value) DIV $chunk").as("first_chunk"),
          expr(s"(running - 1) DIV $chunk").as("last_chunk"))
        .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
        .orderBy(col("doc_id"))
    }),

    // TRAINING-ORDER GLOBAL SHUFFLE: give every document a
    // reproducible pseudo-random global position and cut that order
    // into fixed-size shards — the "shuffle the corpus, then write
    // training shard files" step. Order key = the Weyl hash
    // (multiplier coprime to the prime modulus, so it is injective
    // for id < HashMod: the order is total and deterministic, no RNG
    // state); position = the distributed prefix scan counting rows in
    // hash order (NOT a global window — no single-task sort at
    // scale); shard = position DIV shardSize, making shards
    // contiguous slices of the shuffled order, exactly the files a
    // shard writer emits. Payload re-attach is one equi-join on the
    // unique hash — the same shuffle that would carry the payloads to
    // the shard writers anyway.
    "x37_training_shuffle" -> ((spark, sfDir) => {
      import spark.implicits._
      val shardSize = 100L
      val rows = docs(spark, sfDir)
        .select(sampleHash(col("doc_id")).as("id"), lit("all").as("group"),
          lit(1L).as("value"))
        .as[graft.operators.Prefix.ScanRow]
      graft.operators.Prefix
        .runningSum(rows, spark.sessionState.conf.numShufflePartitions)
        .select(col("id").as("h"), (col("running") - 1).as("pos"))
        .join(docs(spark, sfDir).select(col("doc_id"),
          sampleHash(col("doc_id")).as("h")), "h")
        .select(col("doc_id"), expr(s"pos DIV $shardSize").as("shard"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // CURRICULUM INTERLEAVE — deterministic easy-first training order
    // with domain balance baked into every prefix: docs rank within
    // their source by (n_chars, doc_id) ascending (the
    // short-docs-first curriculum), and sources interleave
    // round-robin, pos = (rank−1)·S + source_index — so the first k·S
    // curriculum positions hold exactly k docs of each (non-exhausted)
    // source. x37 is the opposite end of the ordering spectrum
    // (hash-random); this is the schedule a curriculum trainer
    // actually replays. Scale shape: the per-source rank comes from
    // the Prefix two-pass scan over a PACKED order key
    // (n_chars·2³² + doc_id — rank by the packed long ≡ rank by
    // (n_chars, doc_id)), NOT a per-source window (one 5 TB source =
    // one straggler task); the only window runs over the
    // distinct-source dimension, bounded by the source alphabet, and
    // S is a broadcast 1-row scalar.
    "x93_curriculum_interleave" -> ((spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val rows = d.select(
          (shiftleft(col("n_chars").cast("long"), 32) + col("doc_id")).as("id"),
          col("source").as("group"), lit(1L).as("value"))
        .as[graft.operators.Prefix.ScanRow]
      val ranked = graft.operators.Prefix
        .runningSum(rows, spark.sessionState.conf.numShufflePartitions)
        .select(col("id").bitwiseAND(lit(0xffffffffL)).as("doc_id"),
          col("group").as("source"), col("running").as("src_rank"))
      val sIdx = d.select(col("source")).distinct()
        .select(col("source"),
          (row_number().over(Window.orderBy(col("source"))) - 1L).as("s_idx"))
      val withS = broadcast(sIdx.crossJoin(
        broadcast(sIdx.agg(count(lit(1)).as("n_src")))))
      ranked.join(withS, "source")
        .select(col("doc_id"), col("source"), col("src_rank"),
          ((col("src_rank") - 1) * col("n_src") + col("s_idx")).as("pos"))
        .orderBy(col("pos"))
    }),

    // DATA-RECIPE SOLVER — the token-budget allocation a pretraining
    // run is configured from: give each language an equal share of
    // an 80%-of-corpus token budget, CAP any language at what it
    // actually has, and water-fill the freed budget into the
    // languages with headroom, proportional to that headroom. Two
    // unrolled rounds = a static job graph (x69's discipline); all
    // arithmetic is exact integer (DIV), so the recipe is
    // reproducible to the token. On the provisioned corpus the
    // budget binds: the four minority languages cap and their excess
    // water-fills into en — the report must show both regimes.
    // Scale shape: everything after the one per-lang aggregate runs
    // on an alphabet-sized frame with broadcast 1-row scalars.
    "x99_data_recipe" -> ((spark, sfDir) => {
      val avail = docs(spark, sfDir)
        .select(col("lang"), size(split(col("text"), " ")).as("t"))
        .groupBy(col("lang")).agg(sum(col("t").cast("long")).as("avail"))
      val tot = avail.agg(sum(col("avail")).as("total"),
        count(lit(1)).as("s"))
      val base = avail.crossJoin(broadcast(tot))
        .withColumn("budget", expr("total * 4 DIV 5"))
        .withColumn("share1", expr("budget DIV s"))
        .withColumn("alloc1", least(col("avail"), col("share1")))
      val agg2 = base.agg(sum(col("alloc1")).as("sum1"),
        sum(col("avail") - col("alloc1")).as("headsum"))
      base.crossJoin(broadcast(agg2))
        .withColumn("deficit", col("budget") - col("sum1"))
        .withColumn("extra", when(col("headsum") > 0,
          expr("deficit * (avail - alloc1) DIV headsum")).otherwise(lit(0L)))
        .select(col("lang"), col("avail").as("avail_tokens"),
          (col("alloc1") + col("extra")).as("alloc_tokens"),
          (col("avail") <= col("share1")).as("capped"),
          round((col("alloc1") + col("extra")).cast("double") / col("avail"), 4)
            .as("fill_ratio"))
        .orderBy(col("lang"))
    }),

    // Domain mixing with DATA-DERIVED rates: downsample every language
    // to (approximately) the rarest language's document count — the
    // "equalize the mixture" step, where x20's rates are constants and
    // these come from corpus statistics. Thresholds are integer
    // arithmetic ((HashMod·min_cnt) DIV cnt), so both engines compute
    // bit-identical cutoffs — no float rates. Scale shape: one
    // partial-aggregated count per language (a tiny table), broadcast
    // back onto the scan; the filter itself is stateless map work.
    "x28_domain_mix" -> ((spark, sfDir) => {
      val c = docs(spark, sfDir).groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val thr = c.crossJoin(broadcast(c.agg(min(col("cnt")).as("min_cnt"))))
        .select(col("lang"), expr(s"($HashMod * min_cnt) DIV cnt").as("thr"))
      docs(spark, sfDir)
        .join(broadcast(thr), "lang")
        .filter(sampleHash(col("doc_id")) < col("thr"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // TEMPERATURE-SCALED DOMAIN MIX (α = 0.5) — the multilingual-LM
    // sampling rule (mBERT/XLM-R/mT5 exponentiated-count sampling):
    // admit domain d at rate (min_cnt/cnt_d)^α, flattening the domain
    // distribution only PARTWAY toward uniform (α = 1 is x28's
    // equalize-to-min; α = 0 keeps the natural mix). Same stateless
    // broadcast-threshold shape as x28. Cross-engine exact despite
    // the fractional power: α = 0.5 makes the rate sqrt(min/cnt), and
    // double division, sqrt and the HashMod multiply are all
    // correctly-rounded IEEE-754 ops — both engines compute the
    // bit-identical threshold before the integer floor.
    "x59_temperature_mix" -> ((spark, sfDir) => {
      val c = docs(spark, sfDir).groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val thr = c.crossJoin(broadcast(c.agg(min(col("cnt")).as("min_cnt"))))
        .select(col("lang"),
          floor(lit(HashMod.toDouble) *
            sqrt(col("min_cnt").cast("double") / col("cnt"))).as("thr"))
      docs(spark, sfDir)
        .join(broadcast(thr), "lang")
        .filter(sampleHash(col("doc_id")) < col("thr"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // LENGTH-BUCKETED BATCHING REPORT — the padding-waste accounting a
    // pipeline runs when batches pad to a bucket cap instead of
    // packing (the complement of x27: padding wastes FLOPs, packing
    // costs cross-doc attention): bucket = token length rounded UP to
    // the next multiple of 16 (the classic bucketed-batching grid);
    // per bucket the doc/token volumes, the padded volume n_docs·cap,
    // and the waste share. Scale shape: one partial-aggregatable hash
    // agg over map-computed keys; output is grid-sized. The waste
    // fraction is one division of two exact integer aggregates (x42's
    // reproducibility discipline — never a mean of per-doc doubles).
    "x61_length_buckets" -> ((spark, sfDir) => {
      docs(spark, sfDir)
        .select(
          expr("CAST(((size(split(text, ' ')) + 15) DIV 16) * 16 AS BIGINT)")
            .as("bucket_cap"),
          size(split(col("text"), " ")).cast("long").as("_nt"))
        .groupBy(col("bucket_cap"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
        .withColumn("padded_tokens", col("n_docs") * col("bucket_cap"))
        .select(col("bucket_cap"), col("n_docs"), col("n_tokens"),
          col("padded_tokens"),
          round(lit(1.0) -
            col("n_tokens").cast("double") / col("padded_tokens"), 4)
            .as("waste_frac"))
        .orderBy(col("bucket_cap"))
    }),

    // EPOCH ALLOCATION UNDER A TOKEN BUDGET — the data-budgeting table
    // (source, tokens, allocation, epochs) a pretraining run publishes
    // next to its mix: a fixed token budget split uniformly across
    // sources, each source capped at 4 passes over its data (the
    // repeat-cap from the data-constrained-scaling literature), so
    // small sources cap out and large ones train sub-epoch. Exactness:
    // allocation is pure integer arithmetic (LEAST of exact products
    // and an integer division), epochs is the single double division
    // over it — bit-identical on both engines before the 4 dp round.
    // Scale shape: sources-sized aggregate plus a 1-row broadcast
    // scalar for the source count; trivially broadcastable.
    "x62_epoch_allocation" -> ((spark, sfDir) => {
      val budget = 2000000L
      val perSource = docs(spark, sfDir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("_nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      perSource
        .crossJoin(broadcast(perSource.agg(count(lit(1)).as("_s"))))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr(s"LEAST(4 * n_tokens, ${budget}L DIV _s)").as("alloc_tokens"))
        .withColumn("epochs",
          round(col("alloc_tokens").cast("double") / col("n_tokens"), 4))
        .orderBy(col("source"))
    }),

    // TRAIN/VAL/TEST SPLIT — the standard 98/1/1 holdout assignment,
    // deterministic and reshuffle-free: the same Weyl hash x20/x37
    // use, cut at exact INTEGER thresholds (no float rates), so any
    // engine reproduces the assignment and re-runs never move a
    // document between splits (the property that keeps eval sets
    // uncontaminated across pipeline versions). Stateless map work;
    // at 100 TB this is a projection on the scan.
    // LEAKAGE-FREE TARGET ENCODING — the categorical-feature staple
    // (encode event_type by its high-value rate) done with the K-fold
    // exclusion discipline: each fold's encoding derives from the
    // OTHER folds only, and folds key on the Weyl hash of USER_ID —
    // not the event — so none of a user's own events can inform the
    // encoding their fold receives (x123's point-in-time argument,
    // applied across folds instead of time). Smoothing is add-m to
    // the fold-excluded global prior with the division DEFERRED:
    // enc = (pos_ex·n_gex + m·pos_gex) / ((n_ex + m)·n_gex) — exact
    // BIGINT numerator/denominator, ONE correctly-rounded division at
    // 4 dp, so the smoothed encoder is hash-oracle-able. Scale shape:
    // one (type, fold) hash agg (≤ |types|·K cells), broadcast-sized
    // marginal joins, no per-event work past the first aggregate.
    "x139_target_encoding" -> ((spark, sfDir) =>
      targetEncodingFrame(spark, sfDir)
        .select(col("event_type"), col("fold"), col("n"),
          col("n_excl"), col("pos_excl"),
          round(col("enc_num").cast("double") /
            col("enc_den").cast("double"), 4).as("encoding"))
        .orderBy(col("event_type"), col("fold"))),

    // ECE / RELIABILITY DIAGRAM — "is the score a probability?", the
    // calibration audit every scored-filter pipeline owes its
    // downstream thresholds (a quality score used as a keep-
    // probability is only as good as its calibration): x139's
    // fold-excluded encoding is the model under audit, each event
    // scores through its OWN (type, fold) cell — the honest
    // out-of-fold prediction — against the same value > 90 label.
    // Confidence lands on an exact 10⁻⁴ integer grid via the carried
    // (enc_num, enc_den) rational (ONE rounded division shared with
    // x139's published 4 dp value — no double-rounding drift), bins
    // are width-0.1 with 1.0 folded into the top bin, and per-bin
    // gap numerators n_pos·10⁴ − Σconf_fp stay BIGINT; ECE = the
    // |gap|-sum over the ≤10-row bin frame (bounded window), ONE
    // division at 4 dp. Scale: event-grain work is a broadcast join
    // against |types|·K cells + one partial-agg'able groupBy(bin).
    // CLASS-BALANCING UPSAMPLER — the oversampling step of an
    // imbalanced training mix (x20 DOWNsamples the majority; when
    // the minority is precious you replicate it instead — the
    // "repeat the low-resource language k times per epoch" recipe):
    // per language, integer replication factor max_n DIV n_lang
    // clamped to [1, 4] (the standard cap — unbounded replication
    // just memorizes the minority), each doc exploded into rep
    // copies with a copy index (sequence() — map-local fan-out, no
    // shuffle), report = per-lang before/after counts and achieved
    // shares. All exact integers; the readout's two divisions land
    // on the 4 dp grid. The broadcast factor table is
    // |langs|-sized; corpus work is the one count + the bounded
    // explode.
    "x180_class_upsample" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy(lit(1))
      val byLang = docs(spark, sfDir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_before"))
      val factors = broadcast(byLang
        .withColumn("max_n", max(col("n_before")).over(whole))
        .withColumn("rep",
          greatest(least(expr("max_n DIV n_before"), lit(4L)), lit(1L)))
        .select(col("lang"), col("n_before"), col("rep")))
      docs(spark, sfDir).select(col("doc_id"), col("lang"))
        .join(factors, "lang")
        .select(col("lang"), col("n_before"), col("rep"),
          explode(expr("sequence(1, rep)")).as("copy_idx"))
        .groupBy(col("lang"))
        .agg(min(col("n_before")).as("n_before"), min(col("rep")).as("rep"),
          count(lit(1)).as("n_after"))
        .withColumn("_tb", sum(col("n_before")).over(whole))
        .withColumn("_ta", sum(col("n_after")).over(whole))
        .select(col("lang"), col("n_before"), col("rep"), col("n_after"),
          round(col("n_before").cast("double") / col("_tb").cast("double"), 4)
            .as("share_before"),
          round(col("n_after").cast("double") / col("_ta").cast("double"), 4)
            .as("share_after"))
        .orderBy(col("lang"))
    }),

    // MULTINOMIAL DRAWS (sampling WITH replacement) + GOF self-check
    // — the bootstrap/upsampling primitive x157's without-replacement
    // keys can't express: 1024 deterministic hash draws land on the
    // integer cumulative-count intervals of the source mix (u ∈
    // [0, N) picks the source whose [cum_prev, cum) contains it —
    // EXACT integer containment on a broadcast |sources|-row interval
    // table, never a float inverse-CDF), and the readout chi-squares
    // the achieved counts against the expected mix so the sampler
    // audits itself (x156's gridded-term discipline; E is the exact
    // rational M·n_s/N cross-multiplied away). Draw spine is a range,
    // so the operator is corpus-scan-free apart from the one mix
    // aggregate.
    "x179_multinomial_draws" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val draws = 1024L
      val whole = Window.partitionBy(lit(1))
      val cum = Window.partitionBy(lit(1)).orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mix = docs(spark, sfDir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_s"))
        .withColumn("n", sum(col("n_s")).over(whole))
        .withColumn("hi", sum(col("n_s")).over(cum))
        .withColumn("lo", col("hi") - col("n_s"))
      val u = docs(spark, sfDir).sparkSession.range(draws)
        .select(col("id"), (sampleHash(col("id")) % lit(2000L)).as("u"))
      // cross-multiplied interval containment: u/2000 ∈ [lo/n, hi/n)
      // ⟺ u·n ∈ [lo·2000, hi·2000) — exact integers, and the
      // intervals partition the space so each draw picks EXACTLY one
      val picked = u.join(broadcast(mix),
          col("u") * col("n") >= col("lo") * lit(2000L) &&
            col("u") * col("n") < col("hi") * lit(2000L))
        .groupBy(col("source")).agg(count(lit(1)).as("n_drawn"))
      // left join back: a thin source drawn ZERO times still owes its
      // (0 − E)²/E term — dropping it understates the GOF
      mix.join(picked, Seq("source"), "left")
        .withColumn("n_drawn", coalesce(col("n_drawn"), lit(0L)))
        .withColumn("_chi_fp", round(
          (col("n_drawn") * col("n") - lit(draws) * col("n_s"))
            .cast("double") *
            (col("n_drawn") * col("n") - lit(draws) * col("n_s"))
              .cast("double") /
            (lit(draws.toDouble) * col("n_s").cast("double") *
              col("n").cast("double")), 6).cast("decimal(18,6)"))
        .select(col("source"), col("n_s"), col("n_drawn"),
          round(col("n_drawn").cast("double") / lit(draws.toDouble), 4)
            .as("drawn_share"),
          round(col("n_s").cast("double") / col("n").cast("double"), 4)
            .as("expected_share"),
          round(sum(col("_chi_fp")).over(whole).cast("double"), 4)
            .as("gof_chi2"))
        .orderBy(col("source"))
    }),

    // CUMULATIVE GAINS / LIFT CURVE — the ranking-quality readout of
    // x139's out-of-fold scores beside x149's calibration (ECE asks
    // "is the score a probability"; the gain curve asks "does
    // ranking by it concentrate the positives" — the campaign-
    // targeting readout: "the top-x% of traffic by score captures
    // y% of conversions at z× lift"). The scorer is |types|·|folds|-
    // discrete, so the curve is exact at SCORE granularity — no
    // decile NTILE (c79's global-window objection) and no arbitrary
    // bin boundary: one groupBy onto the ≤20-row distinct-score
    // frame, cumulative BIGINT windows ordered by score desc, and
    // per-row capture/share/lift as exact rationals with one
    // division each at 4 dp. Event-grain work = x149's broadcast
    // join + one partial-agg'able groupBy.
    "x169_gain_curve" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = targetEncodingFrame(spark, sfDir)
        .select(col("event_type"), col("fold"),
          round(col("enc_num").cast("double") /
            col("enc_den").cast("double") * 10000.0, 0)
            .cast("long").as("enc_fp"))
      val ev = Lake.table(spark, sfDir, "events")
        .select(col("event_type"),
          (sampleHash(col("user_id")) % 4).as("fold"),
          when(col("value") > 90, 1L).otherwise(0L).as("pos"))
      val cum = Window.partitionBy(lit(1)).orderBy(desc("enc_fp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(lit(1))
      ev.join(broadcast(cells), Seq("event_type", "fold"))
        .groupBy(col("enc_fp"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        .withColumn("cum_n", sum(col("n")).over(cum))
        .withColumn("cum_pos", sum(col("n_pos")).over(cum))
        .withColumn("tot_n", sum(col("n")).over(whole))
        .withColumn("tot_pos", sum(col("n_pos")).over(whole))
        .select(col("enc_fp").as("score_fp"), col("n"), col("n_pos"),
          round(col("cum_n").cast("double") / col("tot_n").cast("double"), 4)
            .as("share"),
          round(col("cum_pos").cast("double") /
            col("tot_pos").cast("double"), 4).as("capture"),
          round((col("cum_pos") * col("tot_n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double"), 4).as("lift"))
        .orderBy(desc("score_fp"))
    }),

    // HOSMER–LEMESHOW — the calibration hypothesis TEST beside
    // x149's ECE effect size (ECE reports the average |gap|; HL asks
    // whether the observed/expected gaps across the ten probability
    // bins are jointly consistent with binomial noise — the
    // goodness-of-fit number a model-risk review quotes, χ²_{g−2}
    // under the null): over the SAME x149 cell/bin chain, each bin's
    // term is the exact-integer rational
    // (O·10⁴ − conf)²·n / (conf·(n·10⁴ − conf)) landed on the 10⁻⁶
    // fp grid per bin (order-free integer sum — the c97 discipline),
    // degenerate bins (E = 0 or E = n) excluded and counted. One
    // division per bin plus the final rescale.
    "x283_hosmer_lemeshow" -> ((spark, sfDir) => {
      val cells = targetEncodingFrame(spark, sfDir)
        .select(col("event_type"), col("fold"),
          round(col("enc_num").cast("double") /
            col("enc_den").cast("double") * 10000.0, 0)
            .cast("long").as("enc_fp"))
      val ev = Lake.table(spark, sfDir, "events")
        .select(col("event_type"),
          (sampleHash(col("user_id")) % 4).as("fold"),
          when(col("value") > 90, 1L).otherwise(0L).as("pos"))
      val bins = ev.join(broadcast(cells), Seq("event_type", "fold"))
        .select(expr("LEAST(enc_fp DIV 1000, 9)").as("bin"),
          col("enc_fp"), col("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("enc_fp")).as("conf_fp"),
          sum(col("pos")).as("n_pos"))
        .withColumn("usable",
          col("conf_fp") > 0L && col("n") * 10000L > col("conf_fp"))
        .withColumn("term_fp", when(col("usable"),
          round(expr("CAST(n_pos * 10000 - conf_fp AS DECIMAL(38,0)) * " +
            "(n_pos * 10000 - conf_fp) * n").cast("double") /
            expr("CAST(conf_fp AS DECIMAL(38,0)) * " +
              "(n * 10000 - conf_fp)").cast("double") * 1000000.0, 0)
            .cast("long")).otherwise(0L))
      bins.agg(count(lit(1)).as("n_bins"),
          sum(when(col("usable"), 1L).otherwise(0L)).as("n_used"),
          sum(col("term_fp")).as("hl_fp"))
        .select(col("n_bins"), col("n_used"),
          (col("n_used") - 2L).as("df"),
          when(col("n_used") > 2L,
            round(col("hl_fp").cast("double") / 1000000.0, 4)).as("hl_chi2"))
    }),

    "x149_ece_calibration" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = targetEncodingFrame(spark, sfDir)
        .select(col("event_type"), col("fold"),
          round(col("enc_num").cast("double") /
            col("enc_den").cast("double") * 10000.0, 0)
            .cast("long").as("enc_fp"))
      val ev = Lake.table(spark, sfDir, "events")
        .select(col("event_type"),
          (sampleHash(col("user_id")) % 4).as("fold"),
          when(col("value") > 90, 1L).otherwise(0L).as("pos"))
      val whole = Window.partitionBy(lit(1))
      ev.join(broadcast(cells), Seq("event_type", "fold"))
        .select(expr("LEAST(enc_fp DIV 1000, 9)").as("bin"),
          col("enc_fp"), col("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("enc_fp")).as("conf_fp"),
          sum(col("pos")).as("n_pos"))
        .withColumn("_gap_num", col("n_pos") * lit(10000L) - col("conf_fp"))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("conf_fp").cast("double") /
            (col("n").cast("double") * lit(10000.0)), 4).as("avg_conf"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 4)
            .as("acc"),
          round(col("_gap_num").cast("double") /
            (col("n").cast("double") * lit(10000.0)), 4).as("gap"),
          round(sum(abs(col("_gap_num"))).over(whole).cast("double") /
            (sum(col("n")).over(whole).cast("double") * lit(10000.0)), 4)
            .as("ece"))
        .orderBy(col("bin"))
    }),

    "x53_train_split" -> ((spark, sfDir) => {
      val t1 = HashMod * 98L / 100L
      val t2 = HashMod * 99L / 100L
      docs(spark, sfDir)
        .select(col("doc_id"), col("lang"),
          when(sampleHash(col("doc_id")) < t1, "train")
            .when(sampleHash(col("doc_id")) < t2, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),

    // HOT-KEY DIAGNOSTIC — the data-profiling step that DECIDES the
    // skew strategy (operators/Skew.scala's scaladoc: salt when one
    // key dominates, trust AQE otherwise): per-key row counts on a
    // prospective join key, ranked, with each key's ratio to the mean
    // key load. One partial-aggregatable count, a 1-row broadcast for
    // the mean (two exact integer sums, ONE double division — order-
    // independent), TakeOrderedAndProject for the top slice. At 100 TB
    // this is the cheap pre-join scan that tells you whether the big
    // join needs c43's salting before you burn the shuffle.
    "x48_hot_keys" -> ((spark, sfDir) => {
      val counts = Lake.table(spark, sfDir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val mean = broadcast(counts.agg(
        (sum(col("n")).cast("double") / count(lit(1))).as("_mean")))
      counts.crossJoin(mean)
        .select(col("o_custkey"), col("n"),
          round(col("n") / col("_mean"), 4).as("skew_ratio"))
        .orderBy(desc("n"), col("o_custkey"))
        .limit(20)
    }),

    // MERGEABLE-SKETCH DISTINCT ROLLUP — the 100 TB distinct-count
    // architecture as a verified pipeline: per-day HLL sketches of
    // user_id (the partial a lake would PERSIST next to each
    // partition), then the total per event_type by UNION-MERGING the
    // day sketches — no rescan of raw data at rollup time, and the
    // same partials serve any grain (week, month, all-time) later.
    // countDistinct re-derives the exact truth in-frame so the report
    // carries its own error bound; the estimate is engine-specific
    // (DataSketches HLL_4, lgK 12) hence no SQL oracle — the unit
    // test pins the ≤2% relative error and run-to-run determinism.
    "x68_hll_rollup" -> ((spark, sfDir) => {
      val e = Lake.table(spark, sfDir, "events")
      val daily = e
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val rolled = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      val exact = e.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      rolled.join(exact, "event_type")
        .select(col("event_type"), col("n_days"), col("est_users"),
          col("exact_users"),
          round(abs(col("est_users") - col("exact_users")).cast("double") /
            col("exact_users"), 4).as("rel_err"))
        .orderBy(col("event_type"))
    }),

    // FIXED-SIZE STRATIFIED SAMPLE — exactly min(50, |stratum|) docs
    // per language, selected as the 50 smallest sampling hashes (so
    // re-runs and engines agree bit-for-bit; x20 is the RATE-based
    // sibling, this is the COUNT-based one a fixed eval-set build
    // needs). Scale shape: NOT a corpus-wide per-group window — that
    // materializes each language in one task (x21's straggler
    // anti-pattern). Instead a threshold prefilter: per-stratum counts
    // (model-sized) set an oversampled hash cutoff admitting ~4n
    // expected rows per group (everything, for groups ≤ 4n), the
    // window then ranks only the bounded candidate set, and an
    // in-plan assert_true fails loudly if a stratum under-admitted
    // (shortfall probability e^(-Θ(n)) by Chernoff — but loud beats
    // silent). The prefilter is a broadcast threshold join, so the
    // corpus pass is one scan + filter.
    "x66_fixed_stratified" -> ((spark, sfDir) => {
      val n = 50
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, sfDir)
        .select(col("doc_id"), col("lang"),
          sampleHash(col("doc_id")).as("h"))
      val thr = broadcast(d.groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("thr",
          least(lit(HashMod), lit(HashMod) * lit(4L * n) / col("cnt") + lit(1L))))
      val cand = d.join(thr, "lang").filter(col("h") < col("thr"))
      val byLang = Window.partitionBy(col("lang"))
      cand
        .withColumn("admitted", count(lit(1)).over(byLang))
        .withColumn("_guard", assert_true(
          col("admitted") >= least(lit(n.toLong), col("cnt")),
          lit("stratum under-admitted: raise the oversampling factor")))
        .withColumn("rk", row_number().over(
          byLang.orderBy(col("h"), col("doc_id"))))
        .filter(col("rk") <= n && col("_guard").isNull)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // BURSTINESS PROFILE — the bot/machine-traffic signal an
    // event-stream curation pass filters on: per-user inter-arrival
    // statistics with the Goh-Barabási burstiness coefficient
    // B = (σ−μ)/(σ+μ) (≈ −1 metronome/cron, ≈ 0 Poisson, → 1 bursty
    // human). Exactness: gaps are integer microseconds (lag over the
    // per-user time order), Σd and Σd² accumulate as exact decimals
    // (d² overflows bigint at day-scale gaps), variance is the
    // closed-form integer expression, and only the final sqrt/divide
    // are float — correctly-rounded IEEE ops on identical inputs.
    // One window + one partial-aggregatable agg, both on the user_id
    // distribution.
    "x78_burstiness" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Lake.table(spark, sfDir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("d", col("us") - lag(col("us"), 1).over(byUser))
        .filter(col("d").isNotNull)
      val dec = "decimal(38,0)"
      val s = gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("d").cast(dec)).as("s1"),
          sum((col("d").cast(dec) * col("d").cast(dec)).cast(dec)).as("s2"))
        .filter(col("n") >= 5)
      s.withColumn("mu", col("s1").cast("double") / col("n"))
        .withColumn("sigma", sqrt(
          (col("n").cast(dec) * col("s2") - col("s1") * col("s1"))
            .cast("double") / (col("n") * col("n"))))
        .select(col("user_id"), col("n").as("n_gaps"),
          round(col("mu") / 1e6, 4).as("mean_gap_s"),
          round((col("sigma") - col("mu")) / (col("sigma") + col("mu")), 4)
            .as("burstiness"))
        .orderBy(col("user_id"))
    }),

    // MERGEABLE-HISTOGRAM ROLLUP — x68's persist-the-partial
    // architecture with an EXACT sketch: per-day fixed-bin counts of
    // events.value (the partial a lake stores next to each day
    // partition), rolled up to a corpus histogram by summing bin
    // counts — no raw rescan, and the same partials serve any later
    // grain or quantile readout. Bins are floor(value / 25): integer
    // everywhere, so unlike HLL the rollup takes a full hash oracle.
    // The cumulative window is over the ROLLED-UP frame (≤ ~20 rows =
    // one bin per 25 units of range — model-sized by construction),
    // not the raw data, so the unpartitioned window is a non-issue at
    // any corpus size. cum_share's one double division is
    // order-independent; its first bin ≥ 0.5 is the p50 estimate.
    // IMPORTANCE RESAMPLING — per-DOC continuous admission weight
    // (x59 is the per-DOMAIN rate sibling; this is the DSIR shape —
    // Xie et al. 2023 — with an engine-exact proxy weight): admit doc
    // i iff h(i) < floor(HashMod · wᵢ), wᵢ = lexical diversity
    // (distinct/total tokens) ∈ (0, 1], so diverse docs are kept at
    // proportionally higher rates. The weight is exact integer counts
    // through ONE double division and ONE multiply (both correctly
    // rounded IEEE) before the integer floor — both engines cut the
    // same hash. Stateless map over the corpus: no shuffle, no model
    // table, embarrassingly parallel at any scale.
    // EFFECTIVE SAMPLE SIZE — the health gauge every weighted
    // estimator owes (x72 admits docs ∝ lexical diversity; x59/x157
    // weight by source/size: if a few huge weights dominate, the
    // weighted estimate rides a handful of documents no matter how
    // many rows survived): Kish's ESS = (Σw)²/Σw² per source over
    // x72's diversity weights. Each weight regrids once to the 10⁻⁶
    // integer grid (the grid CANCELS in the ratio, so ESS is the
    // exact statistic of the gridded weights), both sums are exact
    // BIGINTs, and ESS/ratio are fixed double expressions per source
    // row. One doc pass, one hash agg.
    "x211_ess_weights" -> ((spark, sfDir) => {
      val toks = split(col("text"), " ")
      docs(spark, sfDir)
        .select(col("source"),
          round(size(array_distinct(toks)).cast("double") * 1000000.0 /
            size(toks).cast("double"), 0).cast("long").as("w_fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w_fp")).as("sw"),
          sum(col("w_fp") * col("w_fp")).as("sww"))
        .select(col("source"), col("n_docs"),
          when(col("sww") > 0, round(
            col("sw").cast("double") * col("sw").cast("double") /
              col("sww").cast("double"), 4)).as("ess"),
          when(col("sww") > 0, round(
            col("sw").cast("double") * col("sw").cast("double") /
              (col("sww").cast("double") * col("n_docs").cast("double")), 4))
            .as("ess_ratio"))
        .orderBy(col("source"))
    }),

    "x72_importance_resample" -> ((spark, sfDir) => {
      val toks = split(col("text"), " ")
      val w = size(array_distinct(toks)).cast("double") / size(toks)
      docs(spark, sfDir)
        .select(col("doc_id"), round(w, 4).as("weight"),
          sampleHash(col("doc_id")).as("_h"),
          floor(lit(HashMod.toDouble) * w).cast("long").as("_thr"))
        .filter(col("_h") < col("_thr"))
        .select(col("doc_id"), col("weight"))
        .orderBy(col("doc_id"))
    }),

    "x70_hist_rollup" -> ((spark, sfDir) => {
      histRollup(Lake.materialize(spark, sfDir, ValueHistDaily))
    }),

    // HISTOGRAM QUANTILES — per-day p50/p90/p99 read from x70's
    // mergeable (day, bin, n) partial by in-bucket linear
    // interpolation: the bounded-error quantile at 100 TB, where a
    // true percentile would global-sort each day and
    // approx_percentile's sketch is engine-specific (c11's
    // no-oracle fate). Every window runs over a ≤20-row per-day
    // frame, never events; the interpolation q = lo + w·(t −
    // cum_prev)/n is one short identical float chain on exact
    // integer counts, so it hash-oracles at 4 dp. Shares the lake
    // artifact with x70/s12 — three consumers, one build.
    "x106_hist_quantiles" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Lake.materialize(spark, sfDir, ValueHistDaily)
      val byDay = Window.partitionBy(col("day")).orderBy(col("bin"))
      val c = daily
        .withColumn("cum", sum(col("n")).over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("n")).over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("cum_prev", col("cum") - col("n"))
      Seq(0.5, 0.9, 0.99).map { p =>
        val t = col("total") * p
        c.filter(col("cum") >= t)
          .withColumn("rk", row_number().over(byDay))
          .filter(col("rk") === 1)
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            lit(p).as("q"),
            round(col("bin") * 25.0 +
              lit(25.0) * (t - col("cum_prev")) / col("n"), 4).as("value"))
      }.reduce(_ unionByName _)
        .orderBy(col("day"), col("q"))
    }),

    // LEAKAGE-FREE CHURN TRAINING SET — the point-in-time discipline
    // every supervised pipeline over event data needs and a naive
    // join silently violates: FEATURES see only days ≤ 17, the LABEL
    // ("no purchase in the next 7 days") sees only days 18-24, and a
    // user born after the cutoff doesn't exist — so no feature can
    // encode its own label (the temporal leak that inflates offline
    // AUC and dies in production). c76 computes this feature block at
    // the full horizon; here the same partial-aggregated pass runs
    // against the cutoff snapshot, making the builder reproducible
    // to the row (x20's auditability argument). The label is
    // purchase-specific because this corpus's users all RETURN every
    // week — total-activity churn would be vacuously 0 — while
    // next-week purchase abstention splits the population. All
    // integer features, one user-shuffle, a distinct-buyer anti-ish
    // left join for the label.
    "x123_churn_training_set" -> ((spark, sfDir) =>
      churnTrainingSet(
        Lake.table(spark, sfDir, "events")
          .select(col("user_id"),
            expr("datediff(to_date(ts), date'2024-01-01')").as("d"),
            col("event_type")),
        cutoff = 17, labelDays = 7)
        .orderBy(col("user_id")))
  )

  /** x123's builder over an explicit (user_id, d, event_type) frame —
    * exposed so tests can prove the point-in-time property: the
    * feature columns must be bit-identical whether or not any
    * post-cutoff events exist in the input.
    */
  def churnTrainingSet(ev: DataFrame, cutoff: Int, labelDays: Int): DataFrame = {
    val pre = ev.filter(col("d") <= cutoff)
    val days = pre.select(col("user_id"), col("d")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("active_days"))
    val feat = pre.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("d")).as("first_day"), max(col("d")).as("last_day"),
        sum(when(col("d") >= cutoff - 6, 1L).otherwise(0L)).as("events_last7"))
      .join(days, "user_id")
    val buyers = ev.filter(col("event_type") === "purchase" &&
        col("d") > cutoff && col("d") <= cutoff + labelDays)
      .select(col("user_id")).distinct()
      .withColumn("bought", lit(1))
    feat.join(buyers, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("active_days"),
        col("first_day"), col("last_day"),
        (lit(cutoff) - col("last_day")).as("days_idle"),
        col("events_last7"),
        when(col("bought").isNull, 1).otherwise(0).as("churned"))
  }

  /** Shared oracle CTE: the fold-excluded encoding cells carrying
    * (n, n_pos) plus the score-grain rollup `sc` — the SQL twin of
    * [[scoreCells]] (x149's cells CTE extended with the per-cell
    * counts x186-x188 aggregate).
    */
  private def scoreCellsCte: String =
    s"WITH c AS (SELECT event_type, " +
      s"((user_id * $HashMul) % $HashMod) % 4 AS fold, " +
      "CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
      "FROM events GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t, " +
      "CAST(SUM(n_pos) AS BIGINT) AS pos_t FROM c GROUP BY 1), " +
      "f AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f, " +
      "CAST(SUM(n_pos) AS BIGINT) AS pos_f FROM c GROUP BY 1), " +
      "g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_g, " +
      "CAST(SUM(n_pos) AS BIGINT) AS pos_g FROM c), " +
      "cells AS (SELECT c.event_type, c.fold, c.n, c.n_pos, " +
      "CAST(ROUND(CAST((pos_t - c.n_pos) * (n_g - n_f) + 100 * (pos_g - pos_f) AS DOUBLE) / " +
      "CAST((n_t - c.n + 100) * (n_g - n_f) AS DOUBLE) * 10000.0) AS BIGINT) AS enc_fp " +
      "FROM c JOIN t USING (event_type) JOIN f USING (fold), g), " +
      "sc AS (SELECT enc_fp, CAST(SUM(n) AS BIGINT) AS n, " +
      "CAST(SUM(n_pos) AS BIGINT) AS n_pos FROM cells GROUP BY 1)"

  /** The shared x216/x233 dominance-grid CTE chain (the DuckDB twin
    * of [[kendallGridStats]]): ends at `cd, tx, ty` so each oracle
    * appends only its final readout SELECT — one pair algebra, two
    * statistics, pinned identical on both engines.
    */
  private val kendallGridCte: String =
    "WITH j AS (SELECT n_chars, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents), " +
      "mx AS (SELECT MAX(n_chars) AS mc, MAX(n_toks) AS mt FROM j), " +
      s"cells AS (SELECT (n_chars * $KendallBins) // (mc + 1) AS bx, " +
      s"(n_toks * $KendallBins) // (mt + 1) AS by, " +
      "CAST(COUNT(*) AS BIGINT) AS f FROM j, mx GROUP BY 1, 2), " +
      s"grid AS (SELECT gx.range AS bx, gy.range AS by " +
      s"FROM range(0, $KendallBins) gx, range(0, $KendallBins) gy), " +
      "g0 AS (SELECT grid.bx, grid.by, COALESCE(f, 0) AS f " +
      "FROM grid LEFT JOIN cells ON grid.bx = cells.bx AND grid.by = cells.by), " +
      "g1 AS (SELECT bx, by, f, CAST(SUM(f) OVER (PARTITION BY bx ORDER BY by " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gy FROM g0), " +
      "g2 AS (SELECT bx, by, f, CAST(SUM(gy) OVER (PARTITION BY by ORDER BY bx " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p FROM g1), " +
      "g3 AS (SELECT bx, by, f, COALESCE(LAG(p) OVER (PARTITION BY by ORDER BY bx), 0) AS pxm1y FROM g2), " +
      "g4 AS (SELECT bx, by, f, pxm1y, " +
      "COALESCE(LAG(pxm1y) OVER (PARTITION BY bx ORDER BY by), 0) AS pxm1ym1 FROM g3), " +
      "margx AS (SELECT bx, CAST(SUM(f) AS BIGINT) AS fx FROM g0 GROUP BY 1), " +
      "mcum AS (SELECT bx, fx, CAST(SUM(fx) OVER (ORDER BY bx " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumx FROM margx), " +
      "margy AS (SELECT by, CAST(SUM(f) AS BIGINT) AS fy FROM g0 GROUP BY 1), " +
      "cd AS (SELECT CAST(SUM(g4.f) AS BIGINT) AS n, " +
      "CAST(SUM(g4.f * g4.pxm1ym1) AS BIGINT) AS n_conc, " +
      "CAST(SUM(g4.f * (mcum.cumx - mcum.fx - g4.pxm1y)) AS BIGINT) AS n_disc " +
      "FROM g4 JOIN mcum USING (bx)), " +
      "tx AS (SELECT CAST(SUM((fx * (fx - 1)) // 2) AS BIGINT) AS tie_x_pairs FROM margx), " +
      "ty AS (SELECT CAST(SUM((fy * (fy - 1)) // 2) AS BIGINT) AS tie_y_pairs FROM margy)"

  val oracles: Map[String, String] = Map(
    // same tie-aware BIGINT rank-sum at score grain, one division
    "x186_roc_auc" ->
      (scoreCellsCte + ", " +
        "w AS (SELECT enc_fp, n, n_pos, " +
        "COALESCE(CAST(SUM(n) OVER (ORDER BY enc_fp ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before, " +
        "CAST(SUM(n) OVER (ORDER BY enc_fp DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n_d, " +
        "CAST(SUM(n_pos) OVER (ORDER BY enc_fp DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos_d, " +
        "CAST(SUM(n) OVER () AS BIGINT) AS tot, " +
        "CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos FROM sc), " +
        "u AS (SELECT *, CAST(SUM(n_pos * (2 * cum_before + n + 1)) OVER () AS BIGINT) " +
        "- tot_pos * (tot_pos + 1) AS u2 FROM w) " +
        "SELECT enc_fp AS score_fp, n, n_pos, " +
        "CASE WHEN tot > tot_pos THEN " +
        "ROUND(CAST(cum_n_d - cum_pos_d AS DOUBLE) / CAST(tot - tot_pos AS DOUBLE), 4) END AS fpr, " +
        "CASE WHEN tot_pos > 0 THEN " +
        "ROUND(CAST(cum_pos_d AS DOUBLE) / CAST(tot_pos AS DOUBLE), 4) END AS tpr, " +
        "CASE WHEN tot_pos > 0 AND tot > tot_pos THEN " +
        "ROUND(CAST(u2 AS DOUBLE) / (2.0 * CAST(tot_pos AS DOUBLE) * " +
        "CAST(tot - tot_pos AS DOUBLE)), 6) END AS auc " +
        "FROM u ORDER BY score_fp DESC"),
    // precision regridded once per distinct score; AP = exact integer
    // dot product / (10⁶ · n⁺)
    "x187_pr_auc" ->
      (scoreCellsCte + ", " +
        "w AS (SELECT enc_fp, n, n_pos, " +
        "CAST(SUM(n) OVER (ORDER BY enc_fp DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n_d, " +
        "CAST(SUM(n_pos) OVER (ORDER BY enc_fp DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos_d, " +
        "CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos FROM sc), " +
        "p AS (SELECT *, CAST(ROUND(CAST(cum_pos_d AS DOUBLE) * 1000000.0 / " +
        "CAST(cum_n_d AS DOUBLE)) AS BIGINT) AS prec_fp FROM w) " +
        "SELECT enc_fp AS score_fp, n, n_pos, " +
        "ROUND(CAST(cum_pos_d AS DOUBLE) / CAST(tot_pos AS DOUBLE), 4) AS recall, " +
        "ROUND(CAST(prec_fp AS DOUBLE) / 1000000.0, 4) AS precision, " +
        "ROUND(CAST(SUM(n_pos * prec_fp) OVER () AS DOUBLE) / " +
        "(1000000.0 * CAST(tot_pos AS DOUBLE)), 6) AS pr_auc " +
        "FROM p ORDER BY score_fp DESC"),
    // the same 10⁻⁸-grid Brier numerator and 10⁻⁹-grid per-bin
    // REL/RES terms, each with one double expression per bin
    "x188_brier_decomp" ->
      (scoreCellsCte + ", " +
        "bb AS (SELECT LEAST(enc_fp // 1000, 9) AS bin, " +
        "CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(n_pos) AS BIGINT) AS n_pos, " +
        "CAST(SUM(enc_fp * n) AS BIGINT) AS conf_fp, " +
        "CAST(SUM(n * enc_fp * enc_fp - 20000 * enc_fp * n_pos + 100000000 * n_pos) AS BIGINT) AS brier_num " +
        "FROM cells GROUP BY 1), " +
        "w AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS tot, " +
        "CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos FROM bb), " +
        "r AS (SELECT *, " +
        "CAST(ROUND(CAST(conf_fp - 10000 * n_pos AS DOUBLE) * " +
        "CAST(conf_fp - 10000 * n_pos AS DOUBLE) / " +
        "(100000000.0 * CAST(n AS DOUBLE)) * 1000000000.0) AS BIGINT) AS rel_fp, " +
        "CAST(ROUND(CAST(n_pos * tot - tot_pos * n AS DOUBLE) * " +
        "CAST(n_pos * tot - tot_pos * n AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) * " +
        "1000000000.0) AS BIGINT) AS res_fp FROM w) " +
        "SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, " +
        "ROUND(CAST(conf_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 4) AS avg_conf, " +
        "ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 4) AS acc, " +
        "ROUND(CAST(SUM(brier_num) OVER () AS DOUBLE) / " +
        "(100000000.0 * CAST(SUM(n) OVER () AS DOUBLE)), 6) AS brier, " +
        "ROUND(CAST(SUM(rel_fp) OVER () AS DOUBLE) / " +
        "(1000000000.0 * CAST(tot AS DOUBLE)), 6) AS reliability, " +
        "ROUND(CAST(SUM(res_fp) OVER () AS DOUBLE) / " +
        "(1000000000.0 * CAST(tot AS DOUBLE)), 6) AS resolution, " +
        "ROUND(CAST(tot_pos AS DOUBLE) * CAST(tot - tot_pos AS DOUBLE) / " +
        "(CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS uncertainty " +
        "FROM r ORDER BY bin"),
    // same 10^-6 weight regrid, exact sums, grid-cancelling ratio
    "x211_ess_weights" ->
      ("WITH t AS (SELECT source, " +
        "CAST(ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) * 1000000.0 / " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE)) AS BIGINT) AS w_fp FROM documents), " +
        "s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(w_fp) AS BIGINT) AS sw, CAST(SUM(w_fp * w_fp) AS BIGINT) AS sww " +
        "FROM t GROUP BY 1) " +
        "SELECT source, n_docs, " +
        "CASE WHEN sww > 0 THEN ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / " +
        "CAST(sww AS DOUBLE), 4) END AS ess, " +
        "CASE WHEN sww > 0 THEN ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / " +
        "(CAST(sww AS DOUBLE) * CAST(n_docs AS DOUBLE)), 4) END AS ess_ratio " +
        "FROM s ORDER BY source"),
    // same exact centered integers and closed-form 2x2 inverse
    "x209_mahalanobis_outliers" ->
      ("WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f, " +
        "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS m " +
        "FROM events GROUP BY 1), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(f) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sy, " +
        "CAST(SUM(f * f) AS BIGINT) AS sxx, CAST(SUM(f * m) AS BIGINT) AS sxy, " +
        "CAST(SUM(m * m) AS BIGINT) AS syy FROM u), " +
        "v AS (SELECT *, " +
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vxx, " +
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS vxy, " +
        "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vyy FROM s), " +
        "d AS (SELECT *, vxx * vyy - vxy * vxy AS det FROM v) " +
        "SELECT user_id, f AS n_events, m AS spend_cents, " +
        "CASE WHEN det > 0.0 THEN ROUND((CAST(n AS DOUBLE) - 1.0) * " +
        "(vyy * CAST(n * f - sx AS DOUBLE) * CAST(n * f - sx AS DOUBLE) - " +
        "2.0 * vxy * CAST(n * f - sx AS DOUBLE) * CAST(n * m - sy AS DOUBLE) + " +
        "vxx * CAST(n * m - sy AS DOUBLE) * CAST(n * m - sy AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * det), 4) END AS md2 " +
        "FROM u, d ORDER BY md2 DESC, user_id LIMIT 20"),
    // same doubled placements at score grain, same five sums and
    // fixed double variance expressions
    "x208_delong_auc_se" ->
      (scoreCellsCte + ", " +
        "b AS (SELECT enc_fp, n, n_pos, n - n_pos AS n_neg FROM sc), " +
        "w AS (SELECT *, " +
        "COALESCE(CAST(SUM(n_neg) OVER (ORDER BY enc_fp " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cnb, " +
        "COALESCE(CAST(SUM(n_pos) OVER (ORDER BY enc_fp " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cpb FROM b), " +
        "p AS (SELECT *, 2 * cnb + n_neg AS pl2p, 2 * cpb + n_pos AS pl2n FROM w), " +
        "s AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, " +
        "CAST(SUM(n_pos) AS BIGINT) AS n1, CAST(SUM(n_neg) AS BIGINT) AS n0, " +
        "SUM(CAST(n_pos AS HUGEINT) * pl2p) AS sp, " +
        "SUM(CAST(n_pos AS HUGEINT) * pl2p * pl2p) AS spp, " +
        "SUM(CAST(n_neg AS HUGEINT) * pl2n) AS sn, " +
        "SUM(CAST(n_neg AS HUGEINT) * pl2n * pl2n) AS snn FROM p), " +
        "fd AS (SELECT *, CAST(sp AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS a, " +
        "1.0 - (CAST(sn AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) AS an FROM s), " +
        "v AS (SELECT *, " +
        "(CAST(spp AS DOUBLE) / (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)) - " +
        "CAST(n1 AS DOUBLE) * a * a) / (CAST(n1 AS DOUBLE) - 1.0) AS s10, " +
        "(CAST(snn AS DOUBLE) / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) - " +
        "CAST(n0 AS DOUBLE) * (1.0 - an) * (1.0 - an)) / (CAST(n0 AS DOUBLE) - 1.0) AS s01 FROM fd), " +
        "z AS (SELECT *, s10 / CAST(n1 AS DOUBLE) + s01 / CAST(n0 AS DOUBLE) AS se2 FROM v) " +
        "SELECT nt AS n, n1 AS n_pos, " +
        "CASE WHEN n1 > 1 AND n0 > 1 THEN ROUND(a, 6) END AS auc, " +
        "CASE WHEN n1 > 1 AND n0 > 1 AND se2 > 0.0 THEN ROUND(SQRT(se2), 6) END AS se, " +
        "CASE WHEN n1 > 1 AND n0 > 1 AND se2 > 0.0 THEN ROUND((a - 0.5) / SQRT(se2), 4) END AS z_vs_coin " +
        "FROM z"),
    // same calibration/eval split over the shared cells CTE, same
    // integer nonconformity grid, same finite-sample rank k
    "x214_conformal_split" ->
      (scoreCellsCte + ", " +
        "cal AS (SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM (" +
        "SELECT 10000 - enc_fp AS v, n_pos AS w FROM cells WHERE fold = 0 " +
        "UNION ALL " +
        "SELECT enc_fp AS v, n - n_pos AS w FROM cells WHERE fold = 0) u " +
        "WHERE w > 0 GROUP BY 1), " +
        "ncal AS (SELECT COALESCE(CAST(SUM(w) AS BIGINT), 0) AS n_cal FROM cal), " +
        "cm AS (SELECT v, SUM(w) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cal), " +
        "q AS (SELECT COALESCE(MIN(CASE WHEN cum >= " +
        "(9 * (n_cal + 1) + 9) // 10 THEN v END), 10001) AS q_fp " +
        "FROM cm, ncal), " +
        "ev AS (SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n_eval, " +
        "CAST(SUM(CASE WHEN 10000 - enc_fp <= q_fp THEN n_pos ELSE 0 END + " +
        "CASE WHEN enc_fp <= q_fp THEN n - n_pos ELSE 0 END) AS BIGINT) AS n_covered, " +
        "CAST(SUM((CASE WHEN 10000 - enc_fp <= q_fp THEN 1 ELSE 0 END + " +
        "CASE WHEN enc_fp <= q_fp THEN 1 ELSE 0 END) * n) AS BIGINT) AS size_sum " +
        "FROM cells, q WHERE fold <> 0) " +
        "SELECT n_cal, q_fp, n_eval, " +
        "CASE WHEN n_eval > 0 THEN " +
        "ROUND(CAST(n_covered AS DOUBLE) / CAST(n_eval AS DOUBLE), 4) END AS coverage, " +
        "CASE WHEN n_eval > 0 THEN " +
        "ROUND(CAST(size_sum AS DOUBLE) / CAST(n_eval AS DOUBLE), 4) END AS avg_set_size " +
        "FROM ev, q, ncal"),
    // same hash relabelings, same exact cross-multiplied decision
    "x206_permutation_test" ->
      (s"WITH conv AS (SELECT DISTINCT user_id FROM events " +
        "WHERE event_type = 'purchase' AND value >= 95.0), " +
        "u AS (SELECT e.user_id, CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS cv " +
        "FROM (SELECT DISTINCT user_id FROM events) e LEFT JOIN conv c USING (user_id)), " +
        "obs AS (SELECT CAST(SUM(a) AS BIGINT) AS na_o, CAST(SUM(a * cv) AS BIGINT) AS ca_o, " +
        "CAST(COUNT(*) AS BIGINT) AS nu, CAST(SUM(cv) AS BIGINT) AS c_tot FROM " +
        s"(SELECT CASE WHEN ((user_id * $HashMul) % $HashMod) < ${HashMod / 2} " +
        "THEN 1 ELSE 0 END AS a, cv FROM u) t), " +
        s"reps AS (SELECT * FROM (VALUES ${(0 until PermReps)
          .map(b => s"($b)").mkString(",")}) v(b)), " +
        "r0 AS (SELECT CAST(reps.b AS BIGINT) AS b, u.cv, " +
        s"(((u.user_id * $HashMul) % $HashMod) + " +
        s"CAST(reps.b AS BIGINT) * 1300997) % $HashMod AS m1 " +
        "FROM u CROSS JOIN reps), " +
        s"r1 AS (SELECT b, cv, (m1 * 69621) % $HashMod AS m2 FROM r0), " +
        "r2 AS (SELECT b, cv, xor(m2, m2 // 2048) AS m3 FROM r1), " +
        s"r3 AS (SELECT b, cv, (m3 * 48271) % $HashMod AS m4 FROM r2), " +
        s"r AS (SELECT b, cv, CASE WHEN (xor(m4, m4 // 1024) % $HashMod) " +
        s"< ${HashMod / 2} THEN 1 ELSE 0 END AS a FROM r3), " +
        "g2 AS (SELECT b, CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(a * cv) AS BIGINT) AS ca, " +
        "CAST(COUNT(*) AS BIGINT) AS nu_b, CAST(SUM(cv) AS BIGINT) AS c_b FROM r GROUP BY 1), " +
        "x AS (SELECT g2.*, obs.*, ca * (nu_b - na) - (c_b - ca) * na AS x_b, " +
        "na * (nu_b - na) AS d_b, " +
        "ca_o * (nu - na_o) - (c_tot - ca_o) * na_o AS x_o, " +
        "na_o * (nu - na_o) AS d_o FROM g2, obs), " +
        "e AS (SELECT *, CASE WHEN d_b > 0 AND ABS(x_b) * d_o >= ABS(x_o) * d_b " +
        "THEN 1 ELSE 0 END AS extreme FROM x) " +
        "SELECT MAX(nu) AS n_users, CAST(COUNT(*) AS BIGINT) AS n_perms, " +
        "CAST(SUM(extreme) AS BIGINT) AS n_extreme, " +
        "ROUND(MAX(CAST(x_o AS DOUBLE) / CAST(d_o AS DOUBLE)), 6) AS obs_diff, " +
        "ROUND(CAST(SUM(extreme) + 1 AS DOUBLE) / CAST(COUNT(*) + 1 AS DOUBLE), 4) AS p_value " +
        "FROM e"),
    // the same day-extended cells and per-slice partitioned rank-sum
    "x201_auc_by_slice" ->
      (scoreCellsCte + ", " +
        "ev2 AS (SELECT DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d, " +
        s"event_type, ((user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CASE WHEN value > 90 THEN 1 ELSE 0 END AS pos FROM events), " +
        "dcells AS (SELECT d, enc_fp, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(pos) AS BIGINT) AS n_pos " +
        "FROM ev2 JOIN cells USING (event_type, fold) GROUP BY 1, 2), " +
        "w AS (SELECT d, enc_fp, n, n_pos, " +
        "COALESCE(CAST(SUM(n) OVER (PARTITION BY d ORDER BY enc_fp " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM dcells), " +
        "gd AS (SELECT d, CAST(SUM(n) AS BIGINT) AS n, " +
        "CAST(SUM(n_pos) AS BIGINT) AS n_pos, " +
        "CAST(SUM(n_pos * (2 * cb + n + 1)) AS BIGINT) AS r2sum FROM w GROUP BY 1) " +
        "SELECT CAST(d AS BIGINT) AS d, n, n_pos, " +
        "CASE WHEN n_pos > 0 AND n > n_pos THEN " +
        "ROUND(CAST(r2sum - n_pos * (n_pos + 1) AS DOUBLE) / " +
        "(2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)), 6) END AS auc " +
        "FROM gd ORDER BY d"),
    // same value-frequency doubled average ranks, same five sums
    "x205_spearman" ->
      ("WITH d0 AS (SELECT doc_id, n_chars, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents), " +
        "fx AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS f FROM d0 GROUP BY 1), " +
        "rx AS (SELECT n_chars, 2 * COALESCE(CAST(SUM(f) OVER (ORDER BY n_chars " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + f + 1 AS r2x FROM fx), " +
        "fy AS (SELECT n_toks, CAST(COUNT(*) AS BIGINT) AS f FROM d0 GROUP BY 1), " +
        "ry AS (SELECT n_toks, 2 * COALESCE(CAST(SUM(f) OVER (ORDER BY n_toks " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + f + 1 AS r2y FROM fy), " +
        "j AS (SELECT r2x, r2y FROM d0 JOIN rx USING (n_chars) JOIN ry USING (n_toks)), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy, " +
        "CAST(SUM(r2x * r2x) AS BIGINT) AS sxx, CAST(SUM(r2x * r2y) AS BIGINT) AS sxy, " +
        "CAST(SUM(r2y * r2y) AS BIGINT) AS syy FROM j) " +
        "SELECT n, CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0 THEN " +
        "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
        "SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS rho FROM s"),
    // same discrete per-group medians, same exact deviation moments,
    // same per-group double squares and F expression
    "x229_brown_forsythe" ->
      ("WITH d AS (SELECT source, n_chars FROM documents), " +
        "meds AS (SELECT source, percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS med " +
        "FROM d GROUP BY 1), " +
        "z AS (SELECT d.source, med, ABS(n_chars - med) AS z FROM d JOIN meds USING (source)), " +
        "g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g, MAX(med) AS med_chars, " +
        "CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(z * z) AS BIGINT) AS szz FROM z GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k_groups, " +
        "SUM(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE)) AS sb, " +
        "CAST(SUM(sz) AS BIGINT) AS sz_tot, CAST(SUM(szz) AS BIGINT) AS szz_tot FROM g), " +
        "f AS (SELECT n, k_groups, sb - CAST(sz_tot AS DOUBLE) * CAST(sz_tot AS DOUBLE) / " +
        "CAST(n AS DOUBLE) AS between_ss, CAST(szz_tot AS DOUBLE) - sb AS within_ss FROM tot) " +
        "SELECT source, n_g, med_chars, " +
        "ROUND(CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE), 4) AS mean_abs_dev, k_groups, " +
        "CASE WHEN k_groups > 1 AND n > k_groups AND within_ss > 0.0 THEN " +
        "ROUND((between_ss / (CAST(k_groups AS DOUBLE) - 1.0)) / " +
        "(within_ss / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6) END AS f_stat " +
        "FROM g, f ORDER BY source"),
    // same frozen (a_r, b_r) modular hash grid, same additive
    // counters, same min-over-rows point estimate for the true top-20
    "x218_cms_heavy" -> {
      val rows = CmsHashes.zipWithIndex.map { case ((a, b), r) =>
        s"SELECT k, c, $r AS r, (($a * (k % $CmsP) + $b) % $CmsP) % $CmsW AS slot FROM counts"
      }.mkString(" UNION ALL ")
      "WITH counts AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM events GROUP BY 1), " +
        s"hashed AS ($rows), " +
        "grid AS (SELECT r, slot, CAST(SUM(c) AS BIGINT) AS counter FROM hashed GROUP BY 1, 2), " +
        "top AS (SELECT k, c FROM counts ORDER BY c DESC, k LIMIT 20), " +
        "th AS (SELECT h.k, h.c, h.r, h.slot FROM hashed h JOIN top USING (k, c)), " +
        "est AS (SELECT th.k, th.c, CAST(MIN(counter) AS BIGINT) AS cms_est " +
        "FROM th JOIN grid USING (r, slot) GROUP BY 1, 2) " +
        "SELECT k AS user_id, c AS true_cnt, cms_est, cms_est - c AS overcount " +
        "FROM est ORDER BY true_cnt DESC, user_id"
    },
    // same frozen first-pair hash, same K smallest per group, same
    // (K-1)*P/h_K estimator with the exact-count fallback
    // x219's frozen hash and slates; min-union top-K per pair, the
    // membership-share intersection, exact controls via one user-
    // grain equi-join
    "x292_kmv_setops" -> {
      val (a, b) = CmsHashes.head
      "WITH el AS (SELECT DISTINCT event_type AS grp, user_id AS k FROM events), " +
        s"hashed AS (SELECT DISTINCT grp, ($a * (k % $CmsP) + $b) % $CmsP AS h FROM el), " +
        "rk AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rk FROM hashed), " +
        s"mh AS (SELECT grp, h FROM rk WHERE rk <= $KmvK), " +
        "tp AS (SELECT DISTINCT grp FROM mh), " +
        "pairs AS (SELECT a.grp AS ga, b.grp AS gb FROM tp a JOIN tp b ON a.grp < b.grp), " +
        "uh AS (SELECT ga, gb, h FROM pairs JOIN mh ON mh.grp = pairs.ga " +
        "UNION SELECT ga, gb, h FROM pairs JOIN mh ON mh.grp = pairs.gb), " +
        "urk AS (SELECT ga, gb, h, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rk FROM uh), " +
        s"ut AS (SELECT ga, gb, h FROM urk WHERE rk <= $KmvK), " +
        "mk AS (SELECT ut.ga, ut.gb, ut.h, " +
        "CASE WHEN ia.h IS NOT NULL THEN 1 ELSE 0 END AS in_a, " +
        "CASE WHEN ib.h IS NOT NULL THEN 1 ELSE 0 END AS in_b " +
        "FROM ut LEFT JOIN mh ia ON ia.grp = ut.ga AND ia.h = ut.h " +
        "LEFT JOIN mh ib ON ib.grp = ut.gb AND ib.h = ut.h), " +
        "est AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS h_k, " +
        "CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both " +
        "FROM mk GROUP BY 1, 2), " +
        "ea AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM el GROUP BY 1), " +
        "ei AS (SELECT x.grp AS ga, y.grp AS gb, CAST(COUNT(*) AS BIGINT) AS exact_inter " +
        "FROM el x JOIN el y ON y.k = x.k AND x.grp < y.grp GROUP BY 1, 2), " +
        "f AS (SELECT est.ga, est.gb, n_seen, h_k, n_both, na.n AS n_a, nb.n AS n_b, " +
        "COALESCE(ei.exact_inter, 0) AS exact_inter " +
        "FROM est JOIN ea na ON na.grp = est.ga JOIN ea nb ON nb.grp = est.gb " +
        "LEFT JOIN ei ON ei.ga = est.ga AND ei.gb = est.gb), " +
        "g AS (SELECT ga, gb, n_a + n_b - exact_inter AS exact_union, exact_inter, " +
        s"n_seen, n_both, CASE WHEN n_seen < $KmvK THEN n_seen " +
        s"ELSE CAST(ROUND(($KmvK - 1.0) * ${CmsP.toDouble} / CAST(h_k AS DOUBLE), 0) AS BIGINT) END AS union_est " +
        "FROM f) " +
        "SELECT ga, gb, CAST(exact_union AS BIGINT) AS exact_union, exact_inter, union_est, " +
        "CAST(ROUND(CAST(n_both AS DOUBLE) * CAST(union_est AS DOUBLE) / CAST(n_seen AS DOUBLE), 0) AS BIGINT) AS inter_est, " +
        "ROUND(CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE), 4) AS jaccard_est " +
        "FROM g ORDER BY ga, gb"
    },
    "x219_kmv_distinct" -> {
      val (a, b) = CmsHashes.head
      "WITH el AS (SELECT DISTINCT event_type AS grp, user_id AS k FROM events), " +
        s"hashed AS (SELECT grp, ($a * (k % $CmsP) + $b) % $CmsP AS h FROM el), " +
        "rk AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rk FROM hashed), " +
        s"mins AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS h_k " +
        s"FROM rk WHERE rk <= $KmvK GROUP BY 1), " +
        "exact AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM el GROUP BY 1), " +
        s"est AS (SELECT grp, exact_distinct, CASE WHEN n_seen < $KmvK THEN n_seen " +
        s"ELSE CAST(ROUND(($KmvK - 1.0) * ${CmsP.toDouble} / CAST(h_k AS DOUBLE), 0) AS BIGINT) END AS kmv_est " +
        "FROM mins JOIN exact USING (grp)) " +
        "SELECT grp, exact_distinct, kmv_est, " +
        "ROUND(CAST(ABS(kmv_est - exact_distinct) AS DOUBLE) / CAST(exact_distinct AS DOUBLE), 4) AS rel_err " +
        "FROM est ORDER BY grp"
    },
    // same frozen second-pair hash, same j/w register split, same
    // bin()-length rank, same harmonic sum with the empty-register
    // mass and the linear-counting fallback
    "x230_hll_frozen" -> {
      val (a, b) = CmsHashes(1)
      "WITH el AS (SELECT DISTINCT event_type AS grp, user_id AS k FROM events), " +
        s"hashed0 AS (SELECT grp, ($a * (k % $CmsP) + $b) % $CmsP AS h0 FROM el), " +
        mixHashSqlCtes("hashed0", "grp") + ", " +
        s"rw AS (SELECT grp, hm % $HllM AS j, hm // $HllM AS w FROM mx), " +
        "rk AS (SELECT grp, j, CASE WHEN w = 0 THEN 26 " +
        "ELSE 26 - length(bin(w)) END AS rank FROM rw), " +
        "regs AS (SELECT grp, j, CAST(MAX(rank) AS BIGINT) AS m_j FROM rk GROUP BY 1, 2), " +
        "z AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_regs, " +
        "SUM(POWER(0.5, m_j)) AS z_hit FROM regs GROUP BY 1), " +
        "ex AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM el GROUP BY 1), " +
        s"e AS (SELECT z.grp, exact_distinct, $HllM - n_regs AS v_zero, " +
        s"z_hit + CAST($HllM - n_regs AS DOUBLE) AS zz FROM z JOIN ex USING (grp)), " +
        s"est AS (SELECT grp, exact_distinct, v_zero, " +
        s"$HllAlpha * ${(HllM * HllM).toDouble} / zz AS est_raw FROM e), " +
        s"fin AS (SELECT grp, exact_distinct, v_zero, " +
        s"CAST(CASE WHEN est_raw <= ${2.5 * HllM} AND v_zero > 0 " +
        s"THEN ROUND(${HllM.toDouble} * LN(${HllM.toDouble} / CAST(v_zero AS DOUBLE)), 0) " +
        "ELSE ROUND(est_raw, 0) END AS BIGINT) AS hll_est FROM est) " +
        "SELECT grp, exact_distinct, v_zero, hll_est, " +
        "ROUND(CAST(ABS(hll_est - exact_distinct) AS DOUBLE) / " +
        "CAST(exact_distinct AS DOUBLE), 4) AS rel_err FROM fin ORDER BY grp"
    },
    // same eight frozen sign hashes, same signed sums, same
    // mean-of-squares estimate beside the exact F2
    "x231_ams_f2" -> {
      val rows = AmsHashes.zipWithIndex.map { case ((a, b), r) =>
        s"SELECT grp, c, $r AS r, ($a * (k % $CmsP) + $b) % $CmsP AS h0 FROM counts"
      }.mkString(" UNION ALL ")
      "WITH counts AS (SELECT event_type AS grp, user_id AS k, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        s"signed0 AS ($rows), " +
        mixHashSqlCtes("signed0", "grp, c, r") + ", " +
        s"sums AS (SELECT grp, r, CAST(SUM(CASE WHEN hm < ${CmsP / 2} " +
        "THEN 1 ELSE -1 END * c) AS BIGINT) AS z FROM mx GROUP BY 1, 2), " +
        s"est AS (SELECT grp, CAST(SUM(z * z) AS DOUBLE) / ${AmsReps.toDouble} AS est_raw " +
        "FROM sums GROUP BY 1), " +
        "ex AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_keys, " +
        "CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM counts GROUP BY 1), " +
        "fin AS (SELECT est.grp, n_keys, f2_exact, " +
        "CAST(ROUND(est_raw, 0) AS BIGINT) AS f2_est FROM est JOIN ex USING (grp)) " +
        "SELECT grp, n_keys, f2_exact, f2_est, " +
        "ROUND(CAST(ABS(f2_est - f2_exact) AS DOUBLE) / CAST(f2_exact AS DOUBLE), 4) AS rel_err " +
        "FROM fin ORDER BY grp"
    },
    // same doubled-rank histogram, same per-group BIGINT rank sums,
    // same double H expression and HUGEINT tie mass
    "x217_kruskal_wallis" ->
      ("WITH cells AS (SELECT source AS grp, n_chars AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS f FROM documents GROUP BY 1, 2), " +
        "hist AS (SELECT v, CAST(SUM(f) AS BIGINT) AS fm FROM cells GROUP BY 1), " +
        "ranks AS (SELECT v, fm, 2 * COALESCE(CAST(SUM(fm) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + fm + 1 AS r2 FROM hist), " +
        "grps AS (SELECT grp, CAST(SUM(f) AS BIGINT) AS n_g, " +
        "CAST(SUM(f * r2) AS BIGINT) AS r2sum FROM cells JOIN ranks USING (v) GROUP BY 1), " +
        "ties AS (SELECT COALESCE(CAST(SUM(CAST(fm AS HUGEINT) * fm * fm - fm) AS HUGEINT), 0) AS tie_mass FROM hist), " +
        "tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, " +
        "CAST(COUNT(*) AS BIGINT) AS k_groups, " +
        "SUM(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / CAST(n_g AS DOUBLE)) AS ssq FROM grps), " +
        "h AS (SELECT n, k_groups, CASE WHEN n > 1 AND k_groups > 1 THEN " +
        "ssq * 3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) - " +
        "3.0 * (CAST(n AS DOUBLE) + 1.0) END AS h_raw, " +
        "1.0 - CAST(tie_mass AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS ct FROM tot, ties) " +
        "SELECT grp, n_g, ROUND(CAST(r2sum AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE)), 4) AS mean_rank, " +
        "k_groups, ROUND(h_raw, 6) AS h, " +
        "CASE WHEN ct > 0.0 THEN ROUND(h_raw / ct, 6) END AS h_tie_corrected " +
        "FROM grps, h ORDER BY grp"),
    // same 64-bin grid, same two 2-D prefix windows over the dense
    // grid, same exact pair algebra and one double division + sqrt
    "x216_kendall_tau_b" ->
      (kendallGridCte +
        " SELECT n, n_conc, n_disc, tie_x_pairs, tie_y_pairs, " +
        "CASE WHEN (n * (n - 1)) // 2 > tie_x_pairs AND (n * (n - 1)) // 2 > tie_y_pairs THEN " +
        "ROUND((CAST(n_conc AS DOUBLE) - CAST(n_disc AS DOUBLE)) / " +
        "SQRT((CAST((n * (n - 1)) // 2 AS DOUBLE) - CAST(tie_x_pairs AS DOUBLE)) * " +
        "(CAST((n * (n - 1)) // 2 AS DOUBLE) - CAST(tie_y_pairs AS DOUBLE))), 6) END AS tau_b " +
        "FROM cd, tx, ty"),
    // the same shared dominance-grid CTE, the tie-free division
    "x242_gk_gamma" ->
      (kendallGridCte +
        " SELECT n, n_conc, n_disc, " +
        "CASE WHEN n_conc + n_disc > 0 THEN " +
        "ROUND((CAST(n_conc AS DOUBLE) - CAST(n_disc AS DOUBLE)) / " +
        "(CAST(n_conc AS DOUBLE) + CAST(n_disc AS DOUBLE)), 6) END AS gamma " +
        "FROM cd, tx, ty"),
    // same shared support spine, same exact HUGEINT mass, one double
    // division per source
    "x243_wasserstein" ->
      ("WITH cells AS (SELECT source AS grp, n_chars AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS f FROM documents GROUP BY 1, 2), " +
        "sup AS (SELECT DISTINCT v FROM cells), " +
        "srcs AS (SELECT DISTINCT grp FROM cells), " +
        "gtot AS (SELECT v, CAST(SUM(f) AS BIGINT) AS fg FROM cells GROUP BY 1), " +
        "gg AS (SELECT v, fg, COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS gap, " +
        "CAST(SUM(fg) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM gtot), " +
        "spine AS (SELECT srcs.grp, sup.v, COALESCE(cells.f, 0) AS f " +
        "FROM srcs CROSS JOIN sup LEFT JOIN cells " +
        "ON cells.grp = srcs.grp AND cells.v = sup.v), " +
        "sc AS (SELECT spine.grp, spine.v, gg.gap, gg.cum, " +
        "CAST(SUM(f) OVER (PARTITION BY spine.grp ORDER BY spine.v " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g FROM spine JOIN gg USING (v)), " +
        "tot AS (SELECT grp, CAST(SUM(f) AS BIGINT) AS n_g, " +
        "(SELECT CAST(SUM(f) AS BIGINT) FROM cells) AS n FROM cells GROUP BY 1), " +
        "m AS (SELECT sc.grp, MAX(n_g) AS n_g, MAX(n) AS n, " +
        "SUM(CAST(ABS(cum_g * n - cum * n_g) AS HUGEINT) * gap) AS mass " +
        "FROM sc JOIN tot ON tot.grp = sc.grp GROUP BY 1) " +
        "SELECT grp AS source, n_g, " +
        "CASE WHEN n_g > 0 AND n > 0 THEN " +
        "ROUND(CAST(mass AS DOUBLE) / (CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE)), 6) END AS w1_chars " +
        "FROM m ORDER BY source"),
    // the same shared dominance-grid CTE, two asymmetric divisions
    "x233_somers_d" ->
      (kendallGridCte +
        " SELECT n, n_conc, n_disc, " +
        "CASE WHEN (n * (n - 1)) // 2 > tie_x_pairs THEN " +
        "ROUND((CAST(n_conc AS DOUBLE) - CAST(n_disc AS DOUBLE)) / " +
        "(CAST((n * (n - 1)) // 2 AS DOUBLE) - CAST(tie_x_pairs AS DOUBLE)), 6) END AS d_y_given_x, " +
        "CASE WHEN (n * (n - 1)) // 2 > tie_y_pairs THEN " +
        "ROUND((CAST(n_conc AS DOUBLE) - CAST(n_disc AS DOUBLE)) / " +
        "(CAST((n * (n - 1)) // 2 AS DOUBLE) - CAST(tie_y_pairs AS DOUBLE)), 6) END AS d_x_given_y " +
        "FROM cd, tx, ty"),
    // same wide value-frequency frame, same one prefix window, same
    // lt identity and one double division
    "x232_cliffs_delta" ->
      ("WITH d AS (SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS grp, " +
        "n_chars AS v FROM documents), " +
        "cells AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS f FROM d GROUP BY 1, 2), " +
        "wide AS (SELECT v, CAST(SUM(CASE WHEN grp = 'a' THEN f ELSE 0 END) AS BIGINT) AS fa, " +
        "CAST(SUM(CASE WHEN grp = 'b' THEN f ELSE 0 END) AS BIGINT) AS fb FROM cells GROUP BY 1), " +
        "pre AS (SELECT v, fa, fb, COALESCE(CAST(SUM(fb) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb FROM wide), " +
        "s AS (SELECT CAST(SUM(fa) AS BIGINT) AS n_a, CAST(SUM(fb) AS BIGINT) AS n_b, " +
        "CAST(SUM(fa * cumb) AS BIGINT) AS n_gt, CAST(SUM(fa * fb) AS BIGINT) AS n_ties FROM pre), " +
        "e AS (SELECT n_a, n_b, n_gt, n_a * n_b - n_gt - n_ties AS n_lt, n_ties FROM s) " +
        "SELECT n_a, n_b, n_gt, n_lt, n_ties, " +
        "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
        "ROUND((CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE)) / " +
        "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS delta FROM e"),
    // same exact per-group moments, same per-group double squares,
    // same F and eta-squared expressions
    "x234_anova_f" ->
      ("WITH g AS (SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_g, " +
        "CAST(SUM(n_chars) AS BIGINT) AS s, " +
        "CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss FROM documents GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k_groups, " +
        "SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE)) AS sb_hit, " +
        "CAST(SUM(s) AS BIGINT) AS s_tot, CAST(SUM(ss) AS BIGINT) AS ss_tot FROM g), " +
        "f AS (SELECT n, k_groups, " +
        "sb_hit - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n AS DOUBLE) AS between_ss, " +
        "CAST(ss_tot AS DOUBLE) - sb_hit AS within_ss FROM tot) " +
        "SELECT grp, n_g, ROUND(CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE), 4) AS mean_v, k_groups, " +
        "CASE WHEN k_groups > 1 AND n > k_groups AND within_ss > 0.0 THEN " +
        "ROUND((between_ss / (CAST(k_groups AS DOUBLE) - 1.0)) / " +
        "(within_ss / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6) END AS f_stat, " +
        "CASE WHEN between_ss + within_ss > 0.0 THEN " +
        "ROUND(between_ss / (between_ss + within_ss), 6) END AS eta_sq " +
        "FROM g, f ORDER BY grp"),
    // same count-of-counts cells, same cell-grain ln sums, same exact
    // Hoover numerator
    "x247_theil_inequality" ->
      ("WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1), " +
        "cells AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM u GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n_users, " +
        "CAST(SUM(f * x) AS BIGINT) AS total FROM cells), " +
        "a AS (SELECT MAX(n_users) AS n_users, MAX(total) AS total, " +
        "CAST(COUNT(*) AS BIGINT) AS n_cells, " +
        "SUM(CAST(f AS DOUBLE) * CAST(x AS DOUBLE) * LN(CAST(x AS DOUBLE))) AS sxlx, " +
        "SUM(CAST(f AS DOUBLE) * LN(CAST(x AS DOUBLE))) AS slx, " +
        "SUM(CAST(f AS HUGEINT) * ABS(CAST(x AS HUGEINT) * n_users - total)) AS hnum " +
        "FROM cells, tot), " +
        "m AS (SELECT a.*, CAST(total AS DOUBLE) / CAST(n_users AS DOUBLE) AS mu FROM a) " +
        "SELECT n_users, total, n_cells, ROUND(mu, 4) AS mu, " +
        "CASE WHEN total > 0 THEN ROUND(sxlx / CAST(total AS DOUBLE) - LN(mu), 6) END AS theil_t, " +
        "CASE WHEN total > 0 THEN " +
        "ROUND(1.0 - EXP(slx / CAST(n_users AS DOUBLE)) / mu, 6) END AS atkinson_1, " +
        "CASE WHEN total > 0 AND n_users > 0 THEN " +
        "ROUND(CAST(hnum AS DOUBLE) / (2.0 * CAST(n_users AS DOUBLE) * CAST(total AS DOUBLE)), 6) " +
        "END AS hoover FROM m"),
    // same ECDF spine as x243, same exact integer masses, same three
    // divisions
    "x248_energy_distance" ->
      ("WITH cells AS (SELECT source AS grp, n_chars AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS f FROM documents GROUP BY 1, 2), " +
        "sup AS (SELECT DISTINCT v FROM cells), " +
        "srcs AS (SELECT DISTINCT grp FROM cells), " +
        "gtot AS (SELECT v, CAST(SUM(f) AS BIGINT) AS fg FROM cells GROUP BY 1), " +
        "gg AS (SELECT v, fg, COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS gap, " +
        "CAST(SUM(fg) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM gtot), " +
        "spine AS (SELECT srcs.grp, sup.v, COALESCE(cells.f, 0) AS f " +
        "FROM srcs CROSS JOIN sup LEFT JOIN cells " +
        "ON cells.grp = srcs.grp AND cells.v = sup.v), " +
        "sc AS (SELECT spine.grp, spine.v, gg.gap, gg.cum, " +
        "CAST(SUM(f) OVER (PARTITION BY spine.grp ORDER BY spine.v " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g FROM spine JOIN gg USING (v)), " +
        "tt AS (SELECT grp, CAST(SUM(f) AS BIGINT) AS n_g, " +
        "(SELECT CAST(SUM(f) AS BIGINT) FROM cells) AS n FROM cells GROUP BY 1), " +
        "cc AS (SELECT sc.grp, gap, cum_g, cum - cum_g AS cum_c, n_g, n - n_g AS n_c " +
        "FROM sc JOIN tt ON tt.grp = sc.grp), " +
        "m AS (SELECT grp, MAX(n_g) AS n_g, MAX(n_c) AS n_c, " +
        "SUM(CAST(gap AS HUGEINT) * CAST(cum_g * (n_c - cum_c) + cum_c * (n_g - cum_g) AS HUGEINT)) AS m_xy, " +
        "SUM(CAST(gap AS HUGEINT) * CAST(cum_g * (n_g - cum_g) AS HUGEINT)) AS m_xx, " +
        "SUM(CAST(gap AS HUGEINT) * CAST(cum_c * (n_c - cum_c) AS HUGEINT)) AS m_yy " +
        "FROM cc GROUP BY 1) " +
        "SELECT grp AS source, n_g, n_c, " +
        "CASE WHEN n_g > 0 AND n_c > 0 THEN " +
        "ROUND(2.0 * CAST(m_xy AS DOUBLE) / (CAST(n_g AS DOUBLE) * CAST(n_c AS DOUBLE)) - " +
        "2.0 * CAST(m_xx AS DOUBLE) / (CAST(n_g AS DOUBLE) * CAST(n_g AS DOUBLE)) - " +
        "2.0 * CAST(m_yy AS DOUBLE) / (CAST(n_c AS DOUBLE) * CAST(n_c AS DOUBLE)), 6) " +
        "END AS energy_d2 " +
        "FROM m ORDER BY source"),
    // same cross-difference cells, same exact weights, same discrete
    // lower weighted median
    "x263_hl_shift" ->
      ("WITH d AS (SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS grp, " +
        "n_chars AS v FROM documents), " +
        "ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS f FROM d WHERE grp = 'a' GROUP BY 1), " +
        "cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS f FROM d WHERE grp = 'b' GROUP BY 1), " +
        "df AS (SELECT ca.v - cb.v AS dd, CAST(SUM(ca.f * cb.f) AS BIGINT) AS w " +
        "FROM ca CROSS JOIN cb GROUP BY 1), " +
        "q AS (SELECT dd, CAST(SUM(w) OVER (ORDER BY dd ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
        "CAST(SUM(w) OVER () AS BIGINT) AS total, " +
        "CAST(COUNT(*) OVER () AS BIGINT) AS n_cells FROM df) " +
        "SELECT total AS n_pairs, n_cells, dd AS hl_shift FROM q " +
        "WHERE cum * 2 >= total ORDER BY dd LIMIT 1"),
    // same in-support exact TV mass + closed-form outside term, same
    // cell-grain BC roots
    "x264_dist_profile" ->
      ("WITH cells AS (SELECT source AS grp, n_chars AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS f FROM documents GROUP BY 1, 2), " +
        "gtot AS (SELECT v, CAST(SUM(f) AS BIGINT) AS fg FROM cells GROUP BY 1), " +
        "tt AS (SELECT grp, CAST(SUM(f) AS BIGINT) AS n_g, " +
        "(SELECT CAST(SUM(f) AS BIGINT) FROM cells) AS n FROM cells GROUP BY 1), " +
        "j AS (SELECT cells.grp, tt.n_g, tt.n - tt.n_g AS n_c, " +
        "cells.f AS f_g, gtot.fg - cells.f AS f_c " +
        "FROM cells JOIN gtot USING (v) JOIN tt ON tt.grp = cells.grp), " +
        "g AS (SELECT grp, MAX(n_g) AS n_g, MAX(n_c) AS n_c, " +
        "SUM(CAST(ABS(f_g * n_c - f_c * n_g) AS HUGEINT)) AS tv_mass, " +
        "CAST(SUM(f_c) AS BIGINT) AS fc_in, " +
        "SUM(SQRT(CAST(f_g AS DOUBLE) * CAST(f_c AS DOUBLE))) AS bc_raw " +
        "FROM j GROUP BY 1) " +
        "SELECT grp AS source, n_g, n_c, " +
        "CASE WHEN n_g > 0 AND n_c > 0 THEN " +
        "ROUND((CAST(tv_mass AS DOUBLE) + CAST(n_g AS DOUBLE) * " +
        "(CAST(n_c AS DOUBLE) - CAST(fc_in AS DOUBLE))) / " +
        "(2.0 * CAST(n_g AS DOUBLE) * CAST(n_c AS DOUBLE)), 6) END AS tvd, " +
        "CASE WHEN n_g > 0 AND n_c > 0 THEN " +
        "ROUND(bc_raw / SQRT(CAST(n_g AS DOUBLE) * CAST(n_c AS DOUBLE)), 6) END AS bhattacharyya, " +
        "CASE WHEN n_g > 0 AND n_c > 0 THEN " +
        "ROUND(1.0 - bc_raw / SQRT(CAST(n_g AS DOUBLE) * CAST(n_c AS DOUBLE)), 6) " +
        "END AS hellinger_sq " +
        "FROM g ORDER BY source"),
    // same discrete grand median, same exact above-counts, same k×2
    // chi-square
    "x261_moods_median" ->
      ("WITH d AS (SELECT source AS grp, n_chars AS v FROM documents), " +
        "md AS (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT) AS m FROM d), " +
        "g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g, " +
        "CAST(SUM(CASE WHEN v > m THEN 1 ELSE 0 END) AS BIGINT) AS a_g " +
        "FROM d, md GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(a_g) AS BIGINT) AS a, " +
        "CAST(COUNT(*) AS BIGINT) AS k_groups FROM g), " +
        "t AS (SELECT g.grp, " +
        "(CAST(a_g AS DOUBLE) - CAST(n_g AS DOUBLE) * CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(a_g AS DOUBLE) - CAST(n_g AS DOUBLE) * CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "(CAST(n_g AS DOUBLE) * CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) + " +
        "((CAST(n_g AS DOUBLE) - CAST(a_g AS DOUBLE)) - " +
        "CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n AS DOUBLE)) * " +
        "((CAST(n_g AS DOUBLE) - CAST(a_g AS DOUBLE)) - " +
        "CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n AS DOUBLE)) / " +
        "(CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n AS DOUBLE)) AS term " +
        "FROM g, tot) " +
        "SELECT n, k_groups, m AS median, a AS n_above, " +
        "CASE WHEN a > 0 AND a < n AND k_groups > 1 THEN " +
        "ROUND(SUM(term), 6) END AS chi2 " +
        "FROM t, tot, md GROUP BY n, k_groups, m, a"),
    // same exact per-group moment variances, same pooled/ln/correction
    // expressions
    "x246_bartlett" ->
      ("WITH g AS (SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_g, " +
        "CAST(SUM(n_chars) AS BIGINT) AS s, " +
        "CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss FROM documents GROUP BY 1), " +
        "v AS (SELECT n_g, (CAST(n_g AS DOUBLE) * CAST(ss AS DOUBLE) - " +
        "CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / " +
        "(CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) - 1.0)) AS var_g FROM g), " +
        "t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k_groups, " +
        "CAST(MIN(n_g) AS BIGINT) AS min_n, MIN(var_g) AS min_var, " +
        "SUM((CAST(n_g AS DOUBLE) - 1.0) * var_g) AS pool_num, " +
        "SUM(CASE WHEN var_g > 0.0 THEN (CAST(n_g AS DOUBLE) - 1.0) * LN(var_g) END) AS sum_ln, " +
        "SUM(1.0 / (CAST(n_g AS DOUBLE) - 1.0)) AS sum_inv FROM v) " +
        "SELECT n, k_groups, " +
        "CASE WHEN n > k_groups THEN " +
        "ROUND(pool_num / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE)), 4) END AS pooled_var, " +
        "CASE WHEN k_groups > 1 AND min_n > 1 AND min_var > 0.0 AND n > k_groups THEN " +
        "ROUND(((CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE)) * " +
        "LN(pool_num / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))) - sum_ln) / " +
        "(1.0 + (sum_inv - 1.0 / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))) / " +
        "(3.0 * (CAST(k_groups AS DOUBLE) - 1.0))), 6) END AS chi2 " +
        "FROM t"),
    // same six exact sums, same Welch variance/df/Cohen's-d doubles
    "x235_welch_t" ->
      ("WITH d AS (SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS grp, " +
        "n_chars AS v FROM documents), " +
        "g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g, CAST(SUM(v) AS BIGINT) AS s, " +
        "CAST(SUM(v * v) AS BIGINT) AS ss FROM d GROUP BY 1), " +
        "a AS (SELECT n_g AS n_a, s AS s_a, ss AS ss_a FROM g WHERE grp = 'a'), " +
        "b AS (SELECT n_g AS n_b, s AS s_b, ss AS ss_b FROM g WHERE grp = 'b'), " +
        "v AS (SELECT *, " +
        "(CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) / " +
        "(CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS va, " +
        "(CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) / " +
        "(CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vb, " +
        "CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS md " +
        "FROM a, b), " +
        "e AS (SELECT *, va / CAST(n_a AS DOUBLE) AS sea, vb / CAST(n_b AS DOUBLE) AS seb, " +
        "((CAST(n_a AS DOUBLE) - 1.0) * va + (CAST(n_b AS DOUBLE) - 1.0) * vb) / " +
        "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0) AS pooled FROM v) " +
        "SELECT n_a, n_b, " +
        "ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 4) AS mean_a, " +
        "ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 4) AS mean_b, " +
        "CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0.0 THEN " +
        "ROUND(md / SQRT(sea + seb), 6) END AS t_stat, " +
        "CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0.0 THEN " +
        "ROUND((sea + seb) * (sea + seb) / " +
        "(sea * sea / (CAST(n_a AS DOUBLE) - 1.0) + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 2) END AS df, " +
        "CASE WHEN n_a > 1 AND n_b > 1 AND pooled > 0.0 THEN " +
        "ROUND(md / SQRT(pooled), 6) END AS cohens_d FROM e"),
    // same ten exact sums, same Cramer/R² double expression trees
    "x196_ols_normal_eq" ->
      ("WITH e AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS y, " +
        "CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x1, " +
        "CAST(DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x2 " +
        "FROM events), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2, " +
        "CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1 * x1) AS BIGINT) AS s11, " +
        "CAST(SUM(x1 * x2) AS BIGINT) AS s12, CAST(SUM(x2 * x2) AS BIGINT) AS s22, " +
        "CAST(SUM(x1 * y) AS BIGINT) AS s1y, CAST(SUM(x2 * y) AS BIGINT) AS s2y, " +
        "CAST(SUM(y * y) AS BIGINT) AS syy FROM e), " +
        "d AS (SELECT *, " +
        "CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) " +
        "- CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) " +
        "+ CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det, " +
        "CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) " +
        "- CAST(s1y AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s12 AS DOUBLE)) " +
        "+ CAST(s2y AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s11 AS DOUBLE)) AS det0, " +
        "CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE)) " +
        "- CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) " +
        "+ CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det1, " +
        "CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE)) " +
        "- CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) " +
        "+ CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det2 " +
        "FROM s), " +
        "b AS (SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM d) " +
        "SELECT n, " +
        "CASE WHEN det <> 0.0 THEN ROUND(b0, 6) END AS b0_cents, " +
        "CASE WHEN det <> 0.0 THEN ROUND(b1, 6) END AS b1_per_hour, " +
        "CASE WHEN det <> 0.0 THEN ROUND(b2, 6) END AS b2_per_day, " +
        "CASE WHEN det <> 0.0 AND CAST(syy AS DOUBLE) - " +
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN " +
        "ROUND(1.0 - (CAST(syy AS DOUBLE) - (b0 * CAST(sy AS DOUBLE) + " +
        "b1 * CAST(s1y AS DOUBLE) + b2 * CAST(s2y AS DOUBLE))) / " +
        "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / " +
        "CAST(n AS DOUBLE)), 6) END AS r2 FROM b"),
    // same six exact sums per arm, same fixed double SMD expression
    "x195_smd_balance" ->
      (s"WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events), " +
        "u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f, " +
        "CAST(COUNT(DISTINCT day) AS BIGINT) AS a, " +
        "CAST(SUM(cents) AS BIGINT) AS m FROM ev GROUP BY 1), " +
        s"ua AS (SELECT CASE WHEN ((user_id * $HashMul) % $HashMod) < ${HashMod / 2} " +
        "THEN 'treat' ELSE 'control' END AS arm, f, a, m FROM u), " +
        "g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS nu, " +
        "CAST(SUM(f) AS BIGINT) AS sf, CAST(SUM(f * f) AS BIGINT) AS sff, " +
        "CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(a * a) AS BIGINT) AS saa, " +
        "CAST(SUM(m) AS BIGINT) AS sm, CAST(SUM(m * m) AS BIGINT) AS smm " +
        "FROM ua GROUP BY 1), " +
        "t AS (SELECT * FROM g WHERE arm = 'treat'), " +
        "c AS (SELECT * FROM g WHERE arm = 'control'), " +
        "rows3 AS (" +
        "SELECT 'active_days' AS covariate, t.nu AS n_t, c.nu AS n_c, " +
        "t.sa AS sx_t, t.saa AS sxx_t, c.sa AS sx_c, c.saa AS sxx_c FROM t, c " +
        "UNION ALL SELECT 'events', t.nu, c.nu, t.sf, t.sff, c.sf, c.sff FROM t, c " +
        "UNION ALL SELECT 'spend_cents', t.nu, c.nu, t.sm, t.smm, c.sm, c.smm FROM t, c) " +
        "SELECT covariate, n_t, n_c, " +
        "ROUND(CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE), 4) AS mean_t, " +
        "ROUND(CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE), 4) AS mean_c, " +
        "CASE WHEN ((CAST(n_t AS DOUBLE) * CAST(sxx_t AS DOUBLE) - " +
        "CAST(sx_t AS DOUBLE) * CAST(sx_t AS DOUBLE)) / " +
        "(CAST(n_t AS DOUBLE) * CAST(n_t - 1 AS DOUBLE)) + " +
        "(CAST(n_c AS DOUBLE) * CAST(sxx_c AS DOUBLE) - " +
        "CAST(sx_c AS DOUBLE) * CAST(sx_c AS DOUBLE)) / " +
        "(CAST(n_c AS DOUBLE) * CAST(n_c - 1 AS DOUBLE))) / 2.0 > 0.0 THEN " +
        "ROUND((CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE) - " +
        "CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / " +
        "SQRT(((CAST(n_t AS DOUBLE) * CAST(sxx_t AS DOUBLE) - " +
        "CAST(sx_t AS DOUBLE) * CAST(sx_t AS DOUBLE)) / " +
        "(CAST(n_t AS DOUBLE) * CAST(n_t - 1 AS DOUBLE)) + " +
        "(CAST(n_c AS DOUBLE) * CAST(sxx_c AS DOUBLE) - " +
        "CAST(sx_c AS DOUBLE) * CAST(sx_c AS DOUBLE)) / " +
        "(CAST(n_c AS DOUBLE) * CAST(n_c - 1 AS DOUBLE))) / 2.0), 4) END AS smd " +
        "FROM rows3 ORDER BY covariate"),
    // the same minimax identity over the same indexed prefix sums
    "x192_isotonic_calibration" ->
      (scoreCellsCte + ", " +
        "idx AS (SELECT enc_fp, n, n_pos, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY enc_fp) AS BIGINT) AS i, " +
        "CAST(SUM(n) OVER (ORDER BY enc_fp ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn, " +
        "CAST(SUM(n_pos) OVER (ORDER BY enc_fp ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp FROM sc), " +
        "pre AS (SELECT i AS j, cn - n AS cn0, cp - n_pos AS cp0 FROM idx), " +
        "pairs AS (SELECT pre.j, " +
        "CAST(idx.cp - pre.cp0 AS DOUBLE) / CAST(idx.cn - pre.cn0 AS DOUBLE) AS mean_jk " +
        "FROM pre JOIN idx ON pre.j <= idx.i), " +
        "mins AS (SELECT j, MIN(mean_jk) AS min_from_j FROM pairs GROUP BY 1), " +
        "runm AS (SELECT j, MAX(min_from_j) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS iso_raw FROM mins) " +
        "SELECT idx.enc_fp AS score_fp, idx.n, idx.n_pos, " +
        "ROUND(CAST(idx.n_pos AS DOUBLE) / CAST(idx.n AS DOUBLE), 4) AS raw_rate, " +
        "ROUND(iso_raw, 4) AS iso_rate " +
        "FROM idx JOIN runm ON runm.j = idx.i ORDER BY score_fp"),
    // same within-source ranks, same ceil-index and interval lookup
    "x191_quantile_normalize" ->
      ("WITH d AS (SELECT doc_id, source, n_chars FROM documents), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM d), " +
        "sn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM d GROUP BY 1), " +
        "rk AS (SELECT doc_id, source, n_chars, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r FROM d), " +
        "fr AS (SELECT n_chars AS norm_chars, COUNT(*) AS f FROM d GROUP BY 1), " +
        "cf AS (SELECT norm_chars, " +
        "CAST(SUM(f) OVER (ORDER BY norm_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
        "COALESCE(CAST(SUM(f) OVER (ORDER BY norm_chars " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before FROM fr), " +
        "g AS (SELECT doc_id, source, n_chars, (r * n_tot + n_s - 1) // n_s AS g_idx " +
        "FROM rk JOIN sn USING (source), nn) " +
        "SELECT g.doc_id, g.source, g.n_chars, cf.norm_chars " +
        "FROM g JOIN cf ON g.g_idx > cf.cum_before AND g.g_idx <= cf.cum " +
        "ORDER BY g.doc_id"),
    // same frozen Poisson(1) thresholds, same (doc, replicate) hash
    "x189_bootstrap_ci" ->
      (s"WITH reps AS (SELECT * FROM (VALUES ${(0 until BootReps)
        .map(b => s"($b)").mkString(",")}) AS v(b)), " +
        "r AS (SELECT CAST(reps.b AS BIGINT) AS b, d.n_chars, " +
        s"(((d.doc_id * $HashMul) % $HashMod) + CAST(reps.b AS BIGINT) * 1300997) " +
        s"* 48271 % $HashMod AS h " +
        "FROM documents d CROSS JOIN reps), " +
        "w AS (SELECT b, n_chars, CASE " +
        PoisCum.zipWithIndex.map { case (thr, k) =>
          s"WHEN h < $thr THEN $k "
        }.mkString +
        s"ELSE $PoisTail END AS w FROM r), " +
        "m AS (SELECT b AS replicate, CAST(SUM(w) AS BIGINT) AS n_eff, " +
        "CAST(SUM(w * n_chars) AS BIGINT) AS sum_chars FROM w GROUP BY 1), " +
        "mm AS (SELECT replicate, n_eff, CASE WHEN n_eff > 0 THEN " +
        "ROUND(CAST(sum_chars AS DOUBLE) / CAST(n_eff AS DOUBLE), 4) END AS mean_chars FROM m) " +
        "SELECT replicate, n_eff, mean_chars, " +
        "MIN(mean_chars) OVER () AS ci_lo, MAX(mean_chars) OVER () AS ci_hi " +
        "FROM mm ORDER BY replicate"),
    // same cutoff snapshot for every feature, same purchase-window
    // distinct-buyer left join for the label; INTEGER/BIGINT casts
    // pin the c76 dtype convention
    "x123_churn_training_set" ->
      ("WITH e AS (SELECT user_id, " +
        "CAST(DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS d, " +
        "event_type FROM events), " +
        "pre AS (SELECT * FROM e WHERE d <= 17), " +
        "ad AS (SELECT user_id, COUNT(*) AS active_days FROM " +
        "(SELECT DISTINCT user_id, d FROM pre) GROUP BY 1), " +
        "f AS (SELECT user_id, COUNT(*) AS n_events, MIN(d) AS first_day, " +
        "MAX(d) AS last_day, " +
        "CAST(SUM(CASE WHEN d >= 11 THEN 1 ELSE 0 END) AS BIGINT) AS events_last7 " +
        "FROM pre GROUP BY 1), " +
        "b AS (SELECT DISTINCT user_id FROM e " +
        "WHERE event_type = 'purchase' AND d > 17 AND d <= 24) " +
        "SELECT f.user_id, f.n_events, CAST(ad.active_days AS BIGINT) AS active_days, " +
        "f.first_day, f.last_day, CAST(17 - f.last_day AS INTEGER) AS days_idle, " +
        "f.events_last7, " +
        "CAST(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS churned " +
        "FROM f JOIN ad USING (user_id) LEFT JOIN b ON f.user_id = b.user_id " +
        "ORDER BY user_id"),
    // integer-µs gaps under the same (ts, event_id) order; Σd/Σd² as
    // exact decimals, sqrt/divide are the only float ops
    "x78_burstiness" ->
      ("WITH g AS (SELECT user_id, epoch_us(ts) - LAG(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d FROM events), " +
        "s AS (SELECT user_id, COUNT(*) AS n, " +
        "SUM(CAST(d AS DECIMAL(38,0))) AS s1, " +
        "SUM(CAST(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)) " +
        "AS DECIMAL(38,0))) AS s2 " +
        "FROM g WHERE d IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 5), " +
        "f AS (SELECT user_id, n, CAST(s1 AS DOUBLE) / n AS mu, " +
        "sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE) / (n * n)) " +
        "AS sigma FROM s) " +
        "SELECT user_id, n AS n_gaps, ROUND(mu / 1e6, 4) AS mean_gap_s, " +
        "ROUND((sigma - mu) / (sigma + mu), 4) AS burstiness " +
        "FROM f ORDER BY user_id"),
    // weight from exact integer counts, one division + one multiply
    // before the floor — the x59 determinism argument verbatim
    "x72_importance_resample" ->
      ("WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS tott, " +
        "len(list_distinct(string_split(text, ' '))) AS dt FROM documents) " +
        "SELECT doc_id, ROUND(CAST(dt AS DOUBLE) / tott, 4) AS weight FROM t " +
        s"WHERE (doc_id * $HashMul) % $HashMod < " +
        s"CAST(FLOOR($HashMod * (CAST(dt AS DOUBLE) / tott)) AS BIGINT) " +
        "ORDER BY doc_id"),
    // same floor-division binning; counts and cum-sums are exact
    // integers, cum_share is the one double division (CASTs pin
    // DuckDB's HUGEINT sum widening back to BIGINT)
    "x70_hist_rollup" ->
      ("WITH d AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(FLOOR(value / 25.0) AS INT) AS bin, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT bin, COUNT(*) AS n_days, CAST(SUM(n) AS BIGINT) AS n " +
        "FROM d GROUP BY 1), " +
        "c AS (SELECT bin, n_days, n, " +
        "CAST(SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n, " +
        "CAST(SUM(n) OVER () AS BIGINT) AS total FROM r) " +
        "SELECT bin, bin * 25.0 AS lo, (bin + 1) * 25.0 AS hi, n_days, n, " +
        "cum_n, ROUND(CAST(cum_n AS DOUBLE) / total, 6) AS cum_share " +
        "FROM c ORDER BY bin"),
    "x20_stratified_sample" ->
      (s"SELECT doc_id, lang, source, n_chars FROM documents " +
        s"WHERE (doc_id * $HashMul) % $HashMod < " +
        s"CASE WHEN lang = 'en' THEN ${(HashMod * 0.5).toLong} " +
        s"ELSE ${(HashMod * 0.2).toLong} END ORDER BY doc_id"),
    "x21_token_budget" ->
      ("SELECT doc_id, source, n_tokens, running_tokens FROM (" +
        "SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
        // CAST: DuckDB widens SUM(BIGINT) to HUGEINT; Spark's window sum is BIGINT
        "CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_tokens FROM documents) t " +
        "WHERE running_tokens <= 20000 ORDER BY doc_id"),
    "x27_sequence_pack" ->
      (s"SELECT doc_id, source, n_tokens, " +
        s"(running_tokens - n_tokens) // $PackChunkTokens AS first_chunk, " +
        s"(running_tokens - 1) // $PackChunkTokens AS last_chunk, " +
        s"(running_tokens - 1) // $PackChunkTokens - (running_tokens - n_tokens) // $PackChunkTokens + 1 AS n_chunks " +
        "FROM (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_tokens FROM documents) t " +
        "ORDER BY doc_id"),
    // ROW_NUMBER over the injective hash = the same total order
    "x37_training_shuffle" ->
      (s"SELECT doc_id, CAST((rn - 1) // 100 AS BIGINT) AS shard, " +
        "CAST(rn - 1 AS BIGINT) AS pos FROM (" +
        s"SELECT doc_id, ROW_NUMBER() OVER (ORDER BY (doc_id * $HashMul) % $HashMod) AS rn " +
        "FROM documents) t ORDER BY doc_id"),
    // same bin partials, cumulative windows and interpolation chain;
    // CASTs pin the quantile literals to DOUBLE (DuckDB reads 0.5 as
    // DECIMAL) and the counts back from HUGEINT
    "x106_hist_quantiles" ->
      ("WITH d AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(FLOOR(value / 25.0) AS INTEGER) AS bin, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "c AS (SELECT day, bin, n, " +
        "SUM(n) OVER (PARTITION BY day ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum, " +
        "SUM(n) OVER (PARTITION BY day) AS total FROM d), " +
        "c2 AS (SELECT *, cum - n AS cum_prev FROM c), " +
        "u AS (SELECT *, CAST(0.5 AS DOUBLE) AS q FROM c2 " +
        "UNION ALL SELECT *, CAST(0.9 AS DOUBLE) FROM c2 " +
        "UNION ALL SELECT *, CAST(0.99 AS DOUBLE) FROM c2), " +
        "f AS (SELECT day, bin, n, cum_prev, total, q, " +
        "ROW_NUMBER() OVER (PARTITION BY day, q ORDER BY bin) AS rk " +
        "FROM u WHERE cum >= total * q) " +
        "SELECT STRFTIME(day, '%Y-%m-%d') AS day, q, " +
        "ROUND(bin * 25.0 + 25.0 * (total * q - cum_prev) / n, 4) AS value " +
        "FROM f WHERE rk = 1 ORDER BY day, q"),
    // same two unrolled water-fill rounds; // is DuckDB's integral
    // division (operands positive, so it agrees with Spark's DIV)
    "x99_data_recipe" ->
      ("WITH a AS (SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(avail) AS BIGINT) AS total, COUNT(*) AS s FROM a), " +
        "b AS (SELECT lang, avail, total * 4 // 5 AS budget, " +
        "(total * 4 // 5) // s AS share1, " +
        "LEAST(avail, (total * 4 // 5) // s) AS alloc1 FROM a, t), " +
        "g AS (SELECT CAST(SUM(alloc1) AS BIGINT) AS sum1, " +
        "CAST(SUM(avail - alloc1) AS BIGINT) AS headsum FROM b) " +
        "SELECT lang, avail AS avail_tokens, " +
        "CAST(alloc1 + CASE WHEN headsum > 0 THEN " +
        "(budget - sum1) * (avail - alloc1) // headsum ELSE 0 END AS BIGINT) " +
        "AS alloc_tokens, avail <= share1 AS capped, " +
        "ROUND(CAST(alloc1 + CASE WHEN headsum > 0 THEN " +
        "(budget - sum1) * (avail - alloc1) // headsum ELSE 0 END AS DOUBLE) " +
        "/ avail, 4) AS fill_ratio " +
        "FROM b, g ORDER BY lang"),
    // the oracle ranks with a plain per-source window (fine at oracle
    // scale) — rank by (n_chars, doc_id) ≡ Spark's packed-long scan
    "x93_curriculum_interleave" ->
      ("WITH s AS (SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS s_idx " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "n AS (SELECT COUNT(*) AS n_src FROM s), " +
        "r AS (SELECT doc_id, source, ROW_NUMBER() OVER (" +
        "PARTITION BY source ORDER BY n_chars, doc_id) AS src_rank FROM documents) " +
        "SELECT r.doc_id, r.source, CAST(src_rank AS BIGINT) AS src_rank, " +
        "CAST((src_rank - 1) * n_src + s_idx AS BIGINT) AS pos " +
        "FROM r JOIN s USING (source), n ORDER BY pos"),
    "x28_domain_mix" ->
      (s"WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1), " +
        "m AS (SELECT MIN(cnt) AS min_cnt FROM c), " +
        s"r AS (SELECT lang, ($HashMod * min_cnt) // cnt AS thr FROM c, m) " +
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d " +
        s"JOIN r USING (lang) WHERE (d.doc_id * $HashMul) % $HashMod < r.thr " +
        "ORDER BY d.doc_id"),
    // the α = 0.5 rate is sqrt(min/cnt): division, sqrt and the
    // HashMod multiply are correctly-rounded IEEE doubles on both
    // engines, so the floored integer thresholds agree exactly
    "x59_temperature_mix" ->
      (s"WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1), " +
        "m AS (SELECT MIN(cnt) AS min_cnt FROM c), " +
        s"r AS (SELECT lang, CAST(FLOOR($HashMod * " +
        "SQRT(CAST(min_cnt AS DOUBLE) / cnt)) AS BIGINT) AS thr FROM c, m) " +
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d " +
        s"JOIN r USING (lang) WHERE (d.doc_id * $HashMul) % $HashMod < r.thr " +
        "ORDER BY d.doc_id"),
    // bucket caps and token sums are exact integers; the waste share
    // is the one double division
    "x61_length_buckets" ->
      ("WITH t AS (SELECT ((len(string_split(text, ' ')) + 15) // 16) * 16 AS bucket_cap, " +
        "len(string_split(text, ' ')) AS nt FROM documents) " +
        "SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap, COUNT(*) AS n_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(*) * bucket_cap AS BIGINT) AS padded_tokens, " +
        "ROUND(1.0 - CAST(SUM(nt) AS DOUBLE) / (COUNT(*) * bucket_cap), 4) AS waste_frac " +
        "FROM t GROUP BY bucket_cap ORDER BY bucket_cap"),
    // allocation is LEAST(exact product, integer division); epochs is
    // the single double division over exact integers
    "x62_epoch_allocation" ->
      ("WITH t AS (SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1), " +
        "s AS (SELECT COUNT(*) AS ns FROM t) " +
        "SELECT source, n_docs, n_tokens, " +
        "CAST(LEAST(4 * n_tokens, 2000000 // ns) AS BIGINT) AS alloc_tokens, " +
        "ROUND(CAST(LEAST(4 * n_tokens, 2000000 // ns) AS DOUBLE) / n_tokens, 4) AS epochs " +
        "FROM t, s ORDER BY source"),
    // exact integer thresholds — both engines cut the same hash
    // same user-keyed folds, the same deferred-division smoothing —
    // exact integer numerator/denominator, one division at 4 dp
    "x139_target_encoding" ->
      (s"WITH c AS (SELECT event_type, " +
        s"((user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_t FROM c GROUP BY 1), " +
        "f AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_f FROM c GROUP BY 1), " +
        "g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_g, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_g FROM c) " +
        "SELECT c.event_type, CAST(c.fold AS BIGINT) AS fold, c.n, " +
        "n_t - c.n AS n_excl, pos_t - c.n_pos AS pos_excl, " +
        "ROUND(CAST((pos_t - c.n_pos) * (n_g - n_f) + 100 * (pos_g - pos_f) AS DOUBLE) / " +
        "CAST((n_t - c.n + 100) * (n_g - n_f) AS DOUBLE), 4) AS encoding " +
        "FROM c JOIN t USING (event_type) JOIN f USING (fold), g " +
        "ORDER BY c.event_type, fold"),
    // x139's cell chain with the rational re-gridded to the integer
    // 10^-4 confidence; width-0.1 bins, BIGINT gap numerators, the
    // |gap|-sum ECE over the bounded bin frame
    // same clamped integer factors (// ≡ DIV non-negative), same
    // per-doc range explode and share divisions
    "x180_class_upsample" ->
      ("WITH b AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_before " +
        "FROM documents GROUP BY 1), " +
        "f AS (SELECT lang, n_before, " +
        "GREATEST(LEAST((SELECT MAX(n_before) FROM b) // n_before, 4), 1) " +
        "AS rep FROM b), " +
        "e AS (SELECT d.lang, f.n_before, f.rep, " +
        "unnest(range(1, f.rep + 1)) AS copy_idx " +
        "FROM documents d JOIN f ON d.lang = f.lang), " +
        "a AS (SELECT lang, CAST(MIN(n_before) AS BIGINT) AS n_before, " +
        "CAST(MIN(rep) AS BIGINT) AS rep, " +
        "CAST(COUNT(*) AS BIGINT) AS n_after FROM e GROUP BY 1), " +
        "w AS (SELECT lang, n_before, rep, n_after, " +
        "CAST(SUM(n_before) OVER () AS BIGINT) AS tb, " +
        "CAST(SUM(n_after) OVER () AS BIGINT) AS ta FROM a) " +
        "SELECT lang, n_before, rep, n_after, " +
        "ROUND(CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE), 4) " +
        "AS share_before, " +
        "ROUND(CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE), 4) " +
        "AS share_after " +
        "FROM w ORDER BY lang"),
    // same mix intervals, same cross-multiplied containment join on
    // the 1024-draw hash spine, same zero-draw left join and gridded
    // GOF terms
    "x179_multinomial_draws" ->
      (s"WITH m AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s " +
        "FROM documents GROUP BY 1), " +
        "w AS (SELECT source, n_s, CAST(SUM(n_s) OVER () AS BIGINT) AS n, " +
        "CAST(SUM(n_s) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS hi FROM m), " +
        "i AS (SELECT source, n_s, n, hi, hi - n_s AS lo FROM w), " +
        s"u AS (SELECT ((t.i * ${HashMul}) % ${HashMod}) % 2000 AS u " +
        "FROM range(1024) t(i)), " +
        "p AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_drawn " +
        "FROM u JOIN i ON u.u * i.n >= i.lo * 2000 " +
        "AND u.u * i.n < i.hi * 2000 GROUP BY 1), " +
        "f AS (SELECT i.source, i.n_s, i.n, " +
        "COALESCE(p.n_drawn, 0) AS n_drawn " +
        "FROM i LEFT JOIN p ON i.source = p.source), " +
        "g AS (SELECT source, n_s, n, n_drawn, " +
        "CAST(ROUND(CAST(n_drawn * n - 1024 * n_s AS DOUBLE) * " +
        "CAST(n_drawn * n - 1024 * n_s AS DOUBLE) / " +
        "(1024.0 * CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE)), 6) " +
        "AS DECIMAL(18,6)) AS chi_fp FROM f) " +
        "SELECT source, n_s, n_drawn, " +
        "ROUND(CAST(n_drawn AS DOUBLE) / 1024.0, 4) AS drawn_share, " +
        "ROUND(CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS expected_share, " +
        "ROUND(CAST(SUM(chi_fp) OVER () AS DOUBLE), 4) AS gof_chi2 " +
        "FROM g ORDER BY source"),
    // x149's cell/scoring CTEs verbatim, then the distinct-score
    // rollup with cumulative windows ordered by score desc
    "x169_gain_curve" ->
      (s"WITH c AS (SELECT event_type, " +
        s"((user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_t FROM c GROUP BY 1), " +
        "f AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_f FROM c GROUP BY 1), " +
        "g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_g, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_g FROM c), " +
        "cells AS (SELECT c.event_type, c.fold, " +
        "CAST(ROUND(CAST((pos_t - c.n_pos) * (n_g - n_f) + 100 * (pos_g - pos_f) AS DOUBLE) / " +
        "CAST((n_t - c.n + 100) * (n_g - n_f) AS DOUBLE) * 10000.0) AS BIGINT) AS enc_fp " +
        "FROM c JOIN t USING (event_type) JOIN f USING (fold), g), " +
        "ev AS (SELECT e.event_type, " +
        s"((e.user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CASE WHEN e.value > 90 THEN 1 ELSE 0 END AS pos FROM events e), " +
        "sc AS (SELECT enc_fp, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(pos) AS BIGINT) AS n_pos " +
        "FROM ev JOIN cells USING (event_type, fold) GROUP BY 1), " +
        "w AS (SELECT enc_fp, n, n_pos, " +
        "CAST(SUM(n) OVER (ORDER BY enc_fp DESC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n, " +
        "CAST(SUM(n_pos) OVER (ORDER BY enc_fp DESC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos, " +
        "CAST(SUM(n) OVER () AS BIGINT) AS tot_n, " +
        "CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos FROM sc) " +
        "SELECT enc_fp AS score_fp, n, n_pos, " +
        "ROUND(CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE), 4) AS share, " +
        "ROUND(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 4) AS capture, " +
        "ROUND(CAST(cum_pos * tot_n AS DOUBLE) / " +
        "CAST(cum_n * tot_pos AS DOUBLE), 4) AS lift " +
        "FROM w ORDER BY score_fp DESC"),
    // x149's cell/bin chain; per-bin exact-integer rational on the
    // 10^-6 fp grid, degenerate bins excluded and counted
    "x283_hosmer_lemeshow" ->
      (s"WITH c AS (SELECT event_type, " +
        s"((user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_t FROM c GROUP BY 1), " +
        "f AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_f FROM c GROUP BY 1), " +
        "g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_g, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_g FROM c), " +
        "cells AS (SELECT c.event_type, c.fold, " +
        "CAST(ROUND(CAST((pos_t - c.n_pos) * (n_g - n_f) + 100 * (pos_g - pos_f) AS DOUBLE) / " +
        "CAST((n_t - c.n + 100) * (n_g - n_f) AS DOUBLE) * 10000.0) AS BIGINT) AS enc_fp " +
        "FROM c JOIN t USING (event_type) JOIN f USING (fold), g), " +
        "ev AS (SELECT e.event_type, " +
        s"((e.user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CASE WHEN e.value > 90 THEN 1 ELSE 0 END AS pos FROM events e), " +
        "bb AS (SELECT LEAST(enc_fp // 1000, 9) AS bin, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(enc_fp) AS BIGINT) AS conf_fp, " +
        "CAST(SUM(pos) AS BIGINT) AS n_pos " +
        "FROM ev JOIN cells USING (event_type, fold) GROUP BY 1), " +
        "tm AS (SELECT bin, n, conf_fp, n_pos, " +
        "conf_fp > 0 AND n * 10000 > conf_fp AS usable, " +
        "CASE WHEN conf_fp > 0 AND n * 10000 > conf_fp THEN " +
        "CAST(ROUND(CAST(CAST(n_pos * 10000 - conf_fp AS HUGEINT) * " +
        "(n_pos * 10000 - conf_fp) * n AS DOUBLE) / " +
        "CAST(CAST(conf_fp AS HUGEINT) * (n * 10000 - conf_fp) AS DOUBLE) " +
        "* 1000000.0) AS BIGINT) ELSE 0 END AS term_fp FROM bb) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_bins, " +
        "CAST(SUM(CASE WHEN usable THEN 1 ELSE 0 END) AS BIGINT) AS n_used, " +
        "CAST(SUM(CASE WHEN usable THEN 1 ELSE 0 END) - 2 AS BIGINT) AS df, " +
        "CASE WHEN SUM(CASE WHEN usable THEN 1 ELSE 0 END) > 2 THEN " +
        "ROUND(CAST(SUM(term_fp) AS DOUBLE) / 1000000.0, 4) END AS hl_chi2 " +
        "FROM tm"),
    "x149_ece_calibration" ->
      (s"WITH c AS (SELECT event_type, " +
        s"((user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_t FROM c GROUP BY 1), " +
        "f AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_f FROM c GROUP BY 1), " +
        "g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_g, " +
        "CAST(SUM(n_pos) AS BIGINT) AS pos_g FROM c), " +
        "cells AS (SELECT c.event_type, c.fold, " +
        "CAST(ROUND(CAST((pos_t - c.n_pos) * (n_g - n_f) + 100 * (pos_g - pos_f) AS DOUBLE) / " +
        "CAST((n_t - c.n + 100) * (n_g - n_f) AS DOUBLE) * 10000.0) AS BIGINT) AS enc_fp " +
        "FROM c JOIN t USING (event_type) JOIN f USING (fold), g), " +
        "ev AS (SELECT e.event_type, " +
        s"((e.user_id * $HashMul) % $HashMod) % 4 AS fold, " +
        "CASE WHEN e.value > 90 THEN 1 ELSE 0 END AS pos FROM events e), " +
        "bb AS (SELECT LEAST(enc_fp // 1000, 9) AS bin, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(enc_fp) AS BIGINT) AS conf_fp, " +
        "CAST(SUM(pos) AS BIGINT) AS n_pos " +
        "FROM ev JOIN cells USING (event_type, fold) GROUP BY 1), " +
        "sb AS (SELECT bin, n, n_pos, n_pos * 10000 - conf_fp AS gap_num, " +
        "conf_fp FROM bb) " +
        "SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, " +
        "ROUND(CAST(conf_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 4) AS avg_conf, " +
        "ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 4) AS acc, " +
        "ROUND(CAST(gap_num AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 4) AS gap, " +
        "ROUND(CAST(SUM(ABS(gap_num)) OVER () AS DOUBLE) / " +
        "(CAST(SUM(n) OVER () AS DOUBLE) * 10000.0), 4) AS ece " +
        "FROM sb ORDER BY bin"),
    // same exact-rational log-ratio terms on the 10^6 grid and the
    // integer divergence numerator
    "x158_mix_kl" ->
      ("WITH d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT source, n_docs, " +
        "CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total, " +
        "CAST(COUNT(*) OVER () AS BIGINT) AS n_sources FROM d), " +
        "f AS (SELECT source, n_docs, n_total, " +
        "CAST(ROUND(LN(CAST(n_docs * n_sources AS DOUBLE) / " +
        "CAST(n_total AS DOUBLE)) * 1000000.0) AS BIGINT) AS term_fp FROM t) " +
        "SELECT source, n_docs, " +
        "ROUND(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS share, " +
        "ROUND(CAST(term_fp AS DOUBLE) / 1000000.0, 4) AS log_ratio, " +
        "ROUND(CAST(SUM(n_docs * term_fp) OVER () AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * 1000000.0), 4) AS kl_vs_uniform " +
        "FROM f ORDER BY source"),
    // same odd-grid u, the ln(u)/w key on the 10^-9 grid, integer
    // top-20
    "x157_weighted_sample" ->
      (s"SELECT doc_id, n_chars, " +
        s"CAST(ROUND(LN((2.0 * ((doc_id * $HashMul) % $HashMod) + 1.0) / " +
        s"${2.0 * HashMod}) / CAST(n_chars AS DOUBLE) * 1000000000.0) " +
        "AS BIGINT) AS key_fp " +
        "FROM documents ORDER BY key_fp DESC, doc_id LIMIT 20"),
    "x53_train_split" ->
      (s"SELECT doc_id, lang, CASE " +
        s"WHEN (doc_id * $HashMul) % $HashMod < ${HashMod * 98L / 100L} THEN 'train' " +
        s"WHEN (doc_id * $HashMul) % $HashMod < ${HashMod * 99L / 100L} THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    // mean = exact-integer SUM/COUNT in one double division; ties on n
    // break by key so the top-20 slice is deterministic
    "x48_hot_keys" ->
      ("WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1), " +
        "m AS (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n FROM c) " +
        "SELECT o_custkey, n, ROUND(n / mean_n, 4) AS skew_ratio " +
        "FROM c, m ORDER BY n DESC, o_custkey LIMIT 20"),
    // the oracle takes the DIRECT per-group top-n (tiny data); the
    // Spark side's threshold prefilter must be invisible in the result
    "x66_fixed_stratified" ->
      (s"WITH d AS (SELECT doc_id, lang, " +
        s"(doc_id * $HashMul) % $HashMod AS h FROM documents) " +
        "SELECT lang, doc_id FROM d " +
        "QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) <= 50 " +
        "ORDER BY lang, doc_id")
  )
}
