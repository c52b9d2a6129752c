package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** ELT view-materialization pipeline — the Spark-native re-expression
  * of the reference's two dbt models (SURVEY §2.A A18/B13):
  * an aggregate view (`trips_by_pickup_location.sql:1-6`) feeding a
  * top-k external parquet artifact (`top_pickup_locations.sql:1-9`)
  * that downstream queries re-read (`dashboard.py:37-52`).
  *
  * `events.user_id` stands in for `pickup_location_id`; the artifact
  * is a manual materialized view: compute → write.parquet → re-read.
  */
object Views {

  private type Q = (SparkSession, String) => DataFrame

  /** Model 1 (view): trips per key. */
  def tripsByUser(spark: SparkSession, sfDir: String): DataFrame =
    Lake.table(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("counts"))

  /** Model 2 (external): top-200 of model 1, materialized to parquet
    * and re-read — the artifact downstream dashboards query.
    * Deterministic tiebreak on user_id (SURVEY §7.4.4; the reference's
    * own `ORDER BY 2 DESC LIMIT 200` is tie-unstable — fixed, not
    * replicated).
    */
  def materializeTopUsers(spark: SparkSession, sfDir: String,
      targetRoot: String = "/tmp/graft-views"): String = {
    val hash = Integer.toHexString(sfDir.hashCode)
    val target = s"$targetRoot/top_users_$hash"
    tripsByUser(spark, sfDir)
      .orderBy(desc("counts"), col("user_id"))
      .limit(200)
      // ≤200 rows: a single-file artifact is the right layout.
      .coalesce(1)
      .write.mode("overwrite").parquet(target)
    target
  }

  val queries: Map[String, Q] = Map(
    // The full pipeline as a query: materialize, re-read the artifact,
    // serve the dashboard's projection off it (sink + re-read + view
    // reference in one verified path).
    "p01_pipeline_topk" -> ((spark, sfDir) => {
      val artifact = materializeTopUsers(spark, sfDir)
      spark.read.parquet(artifact)
        .select(col("user_id").as("pickup_location_id"), col("counts").as("trips"))
        .orderBy(desc("trips"), col("pickup_location_id"))
    }),

    // Incremental refresh with dynamic partition overwrite (SURVEY §4:
    // the idempotent pipeline-re-run semantics): a daily aggregate
    // view partitioned by date is fully built, then the "new data
    // arrived" step recomputes ONLY the latest day and overwrites just
    // that partition. Under dynamic mode the other partitions survive;
    // under static overwrite the table would be truncated to one day —
    // so the oracle (the full batch aggregate) directly proves the
    // overwrite semantics.
    "p02_incremental_refresh" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val target = s"/tmp/graft-views/daily_counts_$hash"
      val daily = Lake.table(spark, sfDir, "events")
        .groupBy(to_date(col("ts")).as("date"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      Lake.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        // full build
        daily.write.mode("overwrite").partitionBy("date").parquet(target)
        // incremental step: the latest day only (bounded 1-row collect)
        val lastDay = daily.agg(max(col("date"))).collect()(0).getDate(0)
        daily.filter(col("date") === lit(lastDay))
          .write.mode("overwrite").partitionBy("date").parquet(target)
      }
      spark.read.parquet(target)
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"),
          col("event_type"), col("n"))
        .orderBy(col("date"), col("event_type"))
    }),

    // MERGE-style upsert (incremental aggregate maintenance): a
    // per-user metrics table built from pre-cutoff history is merged
    // with the new slice's delta — WHEN MATCHED combine (sum counts,
    // greatest timestamp), WHEN NOT MATCHED insert — and written back.
    // Spark OSS parquet has no MERGE INTO statement; the full-outer
    // join IS its relational body, and the oracle states the exact
    // correctness contract of incremental view maintenance: the
    // merged table must equal the full-range batch recompute. Scale
    // shape: one sort-merge join on the key (zero-exchange with
    // bucketed layouts, c44's story); deletes would be one more
    // anti-join branch. Write+read per rep by design, like p01/p02.
    "p05_merge_upsert" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val base = s"/tmp/graft-views/user_metrics_$hash"
      val e = Lake.table(spark, sfDir, "events")
      val cutoff = lit("2024-01-25")
      def metrics(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
      // clear the whole lineage (incl. any pre-generation-layout files
      // from older runs of this query) so re-runs are deterministic
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      // base generation from history (the standing table)
      val gen0 = s"$base/gen_0"
      metrics(e.filter(col("ts") < cutoff))
        .write.mode("overwrite").parquet(gen0)
      // merge the delta into the NEXT generation — a merge never
      // overwrites the parquet it is reading (the same structural
      // guard as s10's foreachBatch upsert, at half the write volume
      // of a staged-write-then-copy)
      val standing = spark.read.parquet(gen0)
      val delta = metrics(e.filter(col("ts") >= cutoff))
        .select(col("user_id"), col("n").as("d_n"), col("last_ts").as("d_last_ts"))
      val gen1 = s"$base/gen_1"
      standing.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
          greatest(
            coalesce(col("last_ts"), col("d_last_ts")),
            coalesce(col("d_last_ts"), col("last_ts"))).as("last_ts"))
        .write.mode("overwrite").parquet(gen1)
      spark.read.parquet(gen1).orderBy(col("user_id"))
    }),

    // PIPELINE OBSERVABILITY — Spark's observe()/CollectMetrics API:
    // row counts, sums and guard-rail counters computed DURING a
    // pass the pipeline was already making (here: the p01 top-users
    // aggregation), at zero extra scans — the idiomatic replacement
    // for a separate metrics query over 100 TB. The CollectMetrics
    // node cannot be pruned by the optimizer, so the numbers cover
    // every row the pass consumed; the result relation is the metrics
    // row itself, which the driver would export to its monitoring.
    "p07_observe_metrics" -> ((spark, sfDir) => {
      val obs = new org.apache.spark.sql.Observation()
      // The sum accumulates through an exact decimal cast (x39's
      // order-independence pattern): a plain double sum depends on
      // Spark's partial/tree accumulation order vs DuckDB's sequential
      // one, and a 4 dp round can land exactly on the divergence. The
      // decimal(30,10) cast is a deterministic function of each double
      // (a tie at the scale-10 digit would need a dyadic fraction with
      // a factor of 5 in the denominator — impossible), the decimal SUM
      // is exact under any order, and one double conversion + round
      // happens at the end on both engines.
      val e = Lake.table(spark, sfDir, "events")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(30,10)")).as("sum_value"),
          count(when(col("value") > 90, 1)).as("n_high"),
          count(when(col("user_id").isNull, 1)).as("n_null_user"))
      // the pass the pipeline already runs (p01's aggregation); foreach
      // of the small aggregate result drives the full scan through the
      // CollectMetrics node without collecting event rows
      e.groupBy(col("user_id")).agg(count(lit(1))).foreach(_ => ())
      val m = obs.get
      import spark.implicits._
      // observed decimal comes back as java.math.BigDecimal; carry it
      // as its exact string and do the one double round in-plan
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_value").toString,
        m("n_high").asInstanceOf[Long],
        m("n_null_user").asInstanceOf[Long]))
        .toDF("n_rows", "_raw_sum", "n_high", "n_null_user")
        .select(col("n_rows"),
          round(col("_raw_sum").cast("decimal(38,10)").cast("double"), 4)
            .as("sum_value"),
          col("n_high"), col("n_null_user"))
    }),

    // SCD TYPE-2 HISTORY BUILD — the lakehouse dimension-versioning
    // op: collapse each user's event stream into runs of consecutive
    // identical event_type and emit one row per run with
    // [valid_from, valid_to) validity and an is_current flag — the
    // change-data-capture twin of p05's type-1 upsert. Single-shuffle
    // shape (c53's sessionize pattern): the change-flag lag, the
    // running run-id sum, the per-run aggregate (grouping keys are a
    // SUPERSET of the partition key, so HashPartitioning(user_id)
    // satisfies its distribution) and the valid_to lead all ride ONE
    // hash exchange on user_id — asserted in PlanSpec. Ordering is
    // total (ts, event_id), so run numbering is deterministic.
    "p08_scd2_history" -> ((spark, sfDir) =>
      scd2History(Lake.table(spark, sfDir, "events"))
        .orderBy(col("user_id"), col("valid_from"))),

    // DECLARATIVE DATA-QUALITY EXPECTATIONS (the Deequ-shaped gate a
    // pipeline runs before publishing a snapshot): a constraint
    // REPORT — one row per (table, check) with the violation count
    // and a pass flag — where every single-table check rides ONE
    // aggregate pass over its table (7 event checks = 1 scan, not 7)
    // and the cross-table referential checks are two anti-joins.
    // `value_le_400` is a deliberately drifting expectation on the
    // provisioned data (max value ≈ 490): the report must carry
    // failing rows, not just vacuous greens — a DQ gate that can only
    // say yes is not a gate. Scale shape: nothing here shuffles more
    // than the anti-join keys; the stack() unpivot runs on 1-row
    // aggregates.
    "p12_dq_expectations" -> ((spark, sfDir) => {
      val ev = Lake.table(spark, sfDir, "events")
      val dc = Lake.table(spark, sfDir, "documents")
      val em = Lake.table(spark, sfDir, "embeddings")
      val evRows = eventCheckCounters(ev).selectExpr(
        "stack(7, 'event_id_not_null', c1, 'event_id_unique', c2, " +
          "'ts_in_2024', c3, 'event_type_in_domain', c4, " +
          "'value_positive', c5, 'value_le_400', c6, " +
          "'props_has_k', c7) AS (check_name, violations)", "n_rows")
        .select(lit("events").as("table_name"), col("check_name"),
          col("violations"), col("n_rows"))
      val docAgg = dc.agg(count(lit(1)).as("n_rows"))
      val docRows = dc.select(col("doc_id"))
        .join(em.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .crossJoin(broadcast(docAgg))
        .select(lit("documents").as("table_name"),
          lit("doc_has_embedding").as("check_name"),
          col("violations"), col("n_rows"))
      val emAgg = em.agg(count(lit(1)).as("n_rows"),
        sum(when(size(col("embedding")) =!= 64, 1L).otherwise(0L)).as("d1"),
        sum(when(col("label").isNull, 1L).otherwise(0L)).as("d2"))
      val emRows = emAgg.selectExpr(
        "stack(2, 'dim_is_64', d1, 'label_not_null', d2) " +
          "AS (check_name, violations)", "n_rows")
        .select(lit("embeddings").as("table_name"), col("check_name"),
          col("violations"), col("n_rows"))
      val emOrphan = em.select(col("vec_id"))
        .join(dc.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .crossJoin(broadcast(emAgg.select(col("n_rows"))))
        .select(lit("embeddings").as("table_name"),
          lit("vec_has_document").as("check_name"),
          col("violations"), col("n_rows"))
      evRows.unionByName(docRows).unionByName(emRows).unionByName(emOrphan)
        .select(col("table_name"), col("check_name"), col("violations"),
          col("n_rows"), (col("violations") === 0L).as("passed"))
        .orderBy(col("table_name"), col("check_name"))
    }),

    // POPULATION-STABILITY-INDEX drift report — the distribution-level
    // monitor next to p12's row-level expectations: per event_type,
    // PSI = Σ_buckets (p_cur − p_ref)·ln(p_cur/p_ref) between the
    // first 12 days (reference window) and the rest (current), over
    // fixed width-10 value buckets with add-one smoothing on the FULL
    // 50-bucket spine (so empty buckets are defined and the spine is
    // engine-identical). PSI < 0.1 = stable, > 0.25 = retrain-grade
    // drift — the standard ML-ops banding. Scale shape: one
    // aggregate over (type, half, bucket) — ~type·100 rows — then
    // spine joins and a per-type rollup; nothing event-sized ever
    // shuffles twice. Float: 50 ln terms per type summed then
    // rounded at 4 dp (x34's tolerance argument).
    "x98_psi_drift" -> ((spark, sfDir) =>
      psiReport(spark, psiHalfCounts(Lake.table(spark, sfDir, "events")))
        .orderBy(col("event_type"))),

    // KOLMOGOROV–SMIRNOV DRIFT — x98's nonparametric sibling: PSI
    // needs a smoothing constant and a stability band chosen a
    // priori; the two-sample KS statistic D = sup|F_ref − F_cur|
    // comes with a distribution-free significance threshold
    // (c(0.05)=1.358 over √((n+m)/nm)). Same ref/cur halves as x98,
    // value binned to an integer grid (the binned-ECDF variant —
    // bounded state at any event count; sup over a step function is
    // attained at a step, so the observed-bucket frame is exact for
    // the binned statistic). Everything is exact integers until two
    // final divisions: cumulative counts are BIGINT window sums over
    // the ≤500-row per-type bucket frame (x106's bounded-frame rule),
    // and the sup maximizes the cross-multiplied |cumR·nc − cumC·nr|
    // — no float ECDF ever materializes, so the readout takes a full
    // hash oracle.
    "x133_ks_drift" -> ((spark, sfDir) =>
      ksReport(Lake.table(spark, sfDir, "events"))
        .orderBy(col("event_type"))),

    // CUSUM CHANGE-POINT DETECTION — the third drift monitor: x98/
    // x133 test WHETHER two windows differ; CUSUM localizes WHEN the
    // level shifted, accumulating small persistent deviations a
    // per-point threshold never sees. Per event_type over daily
    // counts: deviations are cross-multiplied to exact integers
    // (dᵢ = xᵢ·n_days − total — no float mean ever materializes),
    // S_t = prefix sum, and the one-sided statistics take the
    // drawup/drawdown form CUSUM⁺ = S_t − min_{i≤t} S_i / CUSUM⁻ =
    // max_{i≤t} S_i − S_t — running min/max windows replace the
    // sequential reset recurrence, which is what makes CUSUM
    // expressible as bounded window algebra instead of a fold. Alarm
    // = drawup above 2 days' mean mass (S_t − min > 2·total, integer
    // compare); readout divides by n_days once per row at 2 dp. All
    // windows run on the ≤31-row per-type day frame.
    "x138_cusum_anomaly" -> ((spark, sfDir) =>
      cusumReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"), col("day"))),

    // BINARY-SEGMENTATION CHANGEPOINT — where did each type's daily
    // level SHIFT? The localizer beside x138's CUSUM alarm; argmax
    // decided on an exact integer key, never a double — see
    // [[binsegReport]].
    "x225_binseg_changepoint" -> ((spark, sfDir) =>
      binsegReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // MANN–WHITNEY / AUC DRIFT — the rank-sum member of the drift
    // family (x98 PSI bins shares, x133 KS takes the sup gap, x138
    // CUSUM localizes in time; this one reads the LOCATION shift as a
    // probability): AUC = P(cur draw > ref draw) off the same binned
    // frame x133 uses, exact-integer 2U through the shared cumulative
    // windows, z via the conservative untied σ, and the drift flag as
    // a cross-multiplied 128-bit integer compare — no float ever
    // decides it (see mwReportFromCounts). ≤500-row per-type frames
    // after one partial-agg'able count: the 100 TB cost is the one
    // events scan, same as x133.
    "x146_mannwhitney_drift" -> ((spark, sfDir) =>
      mwReportFromCounts(ksHalfCounts(Lake.table(spark, sfDir, "events")))
        .orderBy(col("event_type"))),

    // CRAMÉR–VON MISES DRIFT — the squared-integrated ECDF gap on
    // the same half/bucket frame: sees any distributional change,
    // crossing or not — see [[cvmReportFromCounts]].
    "x281_cvm_drift" -> ((spark, sfDir) =>
      cvmReportFromCounts(ksHalfCounts(Lake.table(spark, sfDir, "events")))),

    // ANDERSON–DARLING 2-SAMPLE — the tail-weighted EDF member
    // completing the KS/CvM/Kuiper quartet — see
    // [[adDriftReportFromCounts]].
    "x293_ad_drift" -> ((spark, sfDir) =>
      adDriftReportFromCounts(
        ksHalfCounts(Lake.table(spark, sfDir, "events")))),

    // CUCCONI — the one-statistic joint location–scale test beside
    // x282's Lepage combination — see [[cucconiReportFromCounts]].
    "x294_cucconi" -> ((spark, sfDir) =>
      cucconiReportFromCounts(
        ksHalfCounts(Lake.table(spark, sfDir, "events")))),

    // ANSARI–BRADLEY — the linear folded-rank scale test beside
    // Mood's squared ranks — see [[ansariReportFromCounts]].
    "x295_ansari_bradley" -> ((spark, sfDir) =>
      ansariReportFromCounts(
        ksHalfCounts(Lake.table(spark, sfDir, "events")))),

    // k-SAMPLE ANDERSON–DARLING — the omnibus EDF screen across all
    // event types at once — see [[adKsampleReport]].
    "x298_ad_ksample" -> ((spark, sfDir) =>
      adKsampleReport(ksHalfCounts(Lake.table(spark, sfDir, "events")))),

    // MOOD SCALE + LEPAGE COMBO — the tail-weighted squared-rank
    // scale test x146's location AUC is blind to, plus the combined
    // location–scale χ²₂ — see [[moodScaleReportFromCounts]].
    "x282_mood_scale" -> ((spark, sfDir) =>
      moodScaleReportFromCounts(
        ksHalfCounts(Lake.table(spark, sfDir, "events")))),

    // AUTOCORRELATION — the memory/seasonality fingerprint of the
    // event stream beside the drift monitors (x98/x133/x146 compare
    // windows, x138 localizes a shift; ACF asks whether the series
    // REPEATS itself): r₁ near 1 = momentum, negative r₁ = daily
    // overcorrection, a weekly bump at higher lags = seasonality a
    // forecast job must model. Exact-integer centered products over
    // the per-type day frame (see acfReport); at 100 TB the only
    // corpus-scale work is x138's one events aggregate.
    "x152_acf" -> ((spark, sfDir) =>
      acfReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // LJUNG–BOX WHITENESS — are the first three daily-count
    // autocorrelations JOINTLY zero? The aggregate screen over
    // x152's per-lag report, against the frozen χ²₃ critical value
    // — see [[ljungBoxReport]].
    "x236_ljung_box" -> ((spark, sfDir) =>
      ljungBoxReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // WALD–WOLFOWITZ RUNS — is the daily series RANDOM around its
    // median, or does it cluster into regimes / oscillate? The
    // randomness complement of x167's trend test — see
    // [[runsTestReport]].
    "x237_runs_test" -> ((spark, sfDir) =>
      runsTestReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // COX–STUART TREND — the n/2-comparison sign screen beside
    // x167's all-pairs Mann–Kendall: is the second half of each
    // type's daily series systematically above its first half? —
    // see [[coxStuartReport]].
    "x244_cox_stuart" -> ((spark, sfDir) =>
      coxStuartReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // FRIEDMAN TEST + KENDALL'S W — the repeated-measures rank
    // omnibus over the day×type grid (x234's ANOVA compares GROUP
    // MEANS pooling days; Friedman blocks BY day and asks whether
    // the event types keep one rank order across blocks — the
    // within-block design that removes day-level traffic shifts),
    // with Kendall's W = χ²/(n(k−1)) as its concordance effect
    // size — see [[friedmanReport]].
    "x245_friedman" -> ((spark, sfDir) =>
      friedmanReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // DURBIN–WATSON — residual autocorrelation AFTER the per-type
    // trend line is removed (x236 reads the raw series; DW is the
    // regression diagnostic) — see [[durbinWatsonReport]].
    "x253_durbin_watson" -> ((spark, sfDir) =>
      durbinWatsonReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // CHOW STRUCTURAL BREAK — two-regression F at the series
    // midpoint (x225 finds the best split; Chow tests THE split) —
    // see [[chowReport]].
    "x254_chow_break" -> ((spark, sfDir) =>
      chowReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // PETTITT CHANGEPOINT — the rank-based distribution-free
    // changepoint locator with its closed-form significance —
    // see [[pettittReport]].
    "x255_pettitt" -> ((spark, sfDir) =>
      pettittReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // KUIPER DOW UNIFORMITY — the rotation-invariant weekly-cycle
    // test beside x168's seasonal indices — see [[kuiperDowReport]].
    "x256_kuiper_dow" -> ((spark, sfDir) =>
      kuiperDowReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // SEASONAL MANN–KENDALL — the trend test that nets the weekly
    // cycle out by comparing within dow strata only (Hirsch–Slack)
    // — see [[seasonalMannKendallReport]].
    "x275_seasonal_mk" -> ((spark, sfDir) =>
      seasonalMannKendallReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // TURNING-POINT TEST — local-extrema randomness screen over the
    // daily series — see [[turningPointReport]].
    "x276_turning_points" -> ((spark, sfDir) =>
      turningPointReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // BARTELS RANK VON NEUMANN — the distribution-free serial-
    // randomness ratio beside x253's DW — see [[bartelsRankReport]].
    "x277_bartels_rvn" -> ((spark, sfDir) =>
      bartelsRankReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // JONCKHEERE–TERPSTRA — ordered-alternative shift across event
    // types with no blocking — see [[jonckheereReport]].
    "x278_jonckheere" -> ((spark, sfDir) =>
      jonckheereReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // COCHRAN–ARMITAGE — weekly conversion-rate trend as a
    // dose-response test — see [[cochranArmitageReport]].
    "x279_ca_trend" -> ((spark, sfDir) =>
      cochranArmitageReport(Lake.table(spark, sfDir, "events")
        .groupBy(expr(
          "datediff(to_date(ts), date'2024-01-01') DIV 7").as("s"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase" &&
            col("value") > 90, 1L).otherwise(0L)).as("x")))),

    // GRUBBS OUTLIER TEST — the max-studentized-deviate screen of
    // the daily series — see [[grubbsReport]].
    "x284_grubbs" -> ((spark, sfDir) =>
      grubbsReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // PAGE–HINKLEY — the running-mean sequential change detector
    // beside x138's fixed-reference CUSUM — see
    // [[pageHinkleyReport]].
    "x296_page_hinkley" -> ((spark, sfDir) =>
      pageHinkleyReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // VARIANCE RATIO — Lo–MacKinlay's random-walk diagnostic at the
    // weekly lag — see [[varianceRatioReport]].
    "x297_variance_ratio" -> ((spark, sfDir) =>
      varianceRatioReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // WILCOXON SIGNED-RANK — the PAIRED location test over
    // day-paired type-pair differences (x218's Mann–Whitney treats
    // the types as independent; pairing by day cancels the shared
    // daily traffic shock) — see [[wilcoxonSignedRankReport]].
    "x299_wilcoxon_signed_rank" -> ((spark, sfDir) =>
      wilcoxonSignedRankReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // PAIRED SIGN TEST — the distribution-free floor under x299
    // (signs only; exact under asymmetric nulls) — see
    // [[signTestReport]].
    "x300_sign_test" -> ((spark, sfDir) =>
      signTestReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // DISTANCE CORRELATION — the nonlinear-dependence readout over
    // the same paired day cells (dCor = 0 iff independent; Spearman/
    // Kendall read only monotone coupling) — see
    // [[distanceCorrelationReport]].
    "x301_distance_correlation" -> ((spark, sfDir) =>
      distanceCorrelationReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // HURST R/S — the long-memory exponent of the daily series via
    // rescaled-range analysis at w ∈ {7, 14, 28} — see
    // [[hurstRsReport]].
    "x286_hurst_rs" -> ((spark, sfDir) =>
      hurstRsReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // INDEX OF DISPERSION — "is daily traffic Poisson?" with the
    // classical dispersion chi-square — see [[dispersionReport]].
    "x269_dispersion" -> ((spark, sfDir) =>
      dispersionReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // BREUSCH–PAGAN — residual-variance drift on the x253 fit: the
    // heteroskedasticity half of the regression diagnostics — see
    // [[breuschPaganReport]].
    "x270_breusch_pagan" -> ((spark, sfDir) =>
      breuschPaganReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // TREND/SEASONAL STRENGTH — the decomposition one-number readout
    // ("does this series need seasonal terms?") via classical MA-7
    // decomposition and Hyndman's strength measures — see
    // [[stlStrengthReport]].
    "x268_stl_strength" -> ((spark, sfDir) =>
      stlStrengthReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // QUADE TEST — the spread-weighted Friedman on the same
    // day×type grid (high-signal days count more) — see
    // [[quadeReport]].
    "x265_quade" -> ((spark, sfDir) =>
      quadeReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // PARTIAL AUTOCORRELATION — the AR-order readout beside x152's
    // ACF and x236's joint whiteness: lag-k association with the
    // shorter lags netted out, via the unrolled Durbin–Levinson
    // chain over exact integer moments — see [[pacfReport]].
    "x266_pacf" -> ((spark, sfDir) =>
      pacfReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // PAGE'S TREND TEST — the ordered-alternative Friedman over
    // weeks×dow: does traffic ramp monotonically across the week? —
    // see [[pageTrendReport]].
    "x260_page_trend" -> ((spark, sfDir) =>
      pageTrendReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))),

    // BENFORD FIRST-DIGIT AUDIT — the classic synthetic-data /
    // fraud / logging-bug screen beside p12's rule gates:
    // organically-generated magnitudes follow p_d = log₁₀(1 + 1/d);
    // a uniform or hand-capped value distribution (like this
    // corpus's) fails loudly, and that verdict IS the operator's
    // point — the report says whether the value column looks
    // generated. Digit via the decimal string (no log/power edge
    // cases), chi-square terms integer-gridded before the 9-row sum
    // (see benfordReport). One partial-agg'able count at corpus
    // scale; everything after is a 9-row frame.
    "x156_benford" -> ((spark, sfDir) =>
      benfordReport(Lake.table(spark, sfDir, "events").select(col("value")))),

    // WINSORIZED MEAN — the robust level estimate beside x84's MAD
    // outlier FLAG: report each type's mean with the tails clamped to
    // the discrete p05/p95 (actual data values — x51's cross-engine
    // quantile convention, broadcast as a |type|-row frame), next to
    // the raw mean so the report shows what the tails were doing.
    // Both means accumulate as exact DECIMAL(30,10) sums (p07's
    // order-independence pattern — a double Σ would be association-
    // order-sensitive) with ONE division each at 4 dp. At 100 TB the
    // discrete quantile swaps to approx_percentile unchanged (x84's
    // note); everything after the broadcast is one map + one
    // partial-agg'able pass.
    "x141_winsorized_mean" -> ((spark, sfDir) =>
      winsorizedReport(Lake.table(spark, sfDir, "events")
        .select(col("event_type"), col("value")))
        .orderBy(col("event_type"))),

    // THEIL–SEN TREND — the robust slope estimate over the daily
    // series the level monitors read (x138 localizes a shift, x152
    // reads memory; this one answers "is volume trending, and how
    // fast" without OLS's outlier sensitivity — one spiked day drags
    // a least-squares fit but moves at most half the pairwise-slope
    // order). All C(n_days, 2) pairwise slopes land on a 10⁻⁶ FLOOR
    // grid — the quotient 10⁶·Δx/Δd is one IEEE division of
    // exact-integer-valued doubles (bit-identical across engines)
    // and floor of an identical double is identical, so the order
    // key is an exact BIGINT with no rounding-convention edge — and
    // the estimate is the lower median (element (n+1) DIV 2). Grid
    // ties cannot move the k-th VALUE, so row_number's arbitrary
    // tie order is engine-safe. Scale: the only corpus-sized work is
    // x138's one events aggregate; the pair frame is days²-bounded
    // (a decade of days ≈ 6.7M pairs per type) and the rank window
    // runs over that bounded frame, never over events.
    "x160_theil_sen" -> ((spark, sfDir) =>
      theilSenReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"))),

    // CHI-SQUARE HOMOGENEITY DRIFT — the categorical member of the
    // drift family (x98/x133/x146 monitor a VALUE distribution per
    // type; this asks whether the TYPE MIX itself shifted between
    // the x98 reference window and the rest — the "did my traffic
    // composition change" screen that value-level monitors cannot
    // see). The 2×k statistic uses the cross-multiplied identity
    // D_t = O_ref·N_cur − O_cur·N_ref, contribution
    // D_t²/(n_t·N_ref·N_cur): every input to the one double chain is
    // an exact BIGINT (D ≤ N²/4 needs N < 6·10⁹ — past that,
    // pre-scale to per-mille shares, x133's documented fallback),
    // the per-type term lands on x156's 10⁻⁶ integer grid, and the
    // total is the exact grid sum — no float accumulation, full hash
    // oracle. df = k−1 with the 0.05 critical value from the fixed
    // lookup. One partial-agg'able events pass; everything after is
    // a |types|-row frame.
    "x161_chisq_drift" -> ((spark, sfDir) =>
      chisqReport(ksHalfCounts(Lake.table(spark, sfDir, "events")))
        .orderBy(col("event_type"))),

    // COLUMN PROFILE — the Deequ-style table-profiling staple beside
    // p12's rule gates (p12 checks rules someone wrote; the profile
    // is what you read to WRITE them — null rates, cardinalities and
    // ranges per column): one aggregate pass over events emitting
    // (column, n_rows, n_null, n_distinct, min_fp, max_fp), with
    // BIGINT range surrogates chosen per type for cross-engine
    // exactness (ids raw, ts as epoch micros, value as floor-cents,
    // strings as lengths — never engine-formatted casts). The six
    // exact COUNT(DISTINCT)s expand the single pass six-fold
    // (Spark's Expand); at 100 TB each swaps to approx_count_
    // distinct unchanged — the profile is advisory, and that is the
    // documented trade.
    "x170_column_profile" -> ((spark, sfDir) => {
      val ev = Lake.table(spark, sfDir, "events")
      def nn(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
      val a = ev.agg(
        count(lit(1)).as("n"),
        nn(col("event_id")).as("nn1"),
        countDistinct(col("event_id")).as("nd1"),
        min(col("event_id")).as("mn1"), max(col("event_id")).as("mx1"),
        nn(col("ts")).as("nn2"), countDistinct(col("ts")).as("nd2"),
        min(unix_micros(col("ts"))).as("mn2"),
        max(unix_micros(col("ts"))).as("mx2"),
        nn(col("user_id")).as("nn3"),
        countDistinct(col("user_id")).as("nd3"),
        min(col("user_id")).as("mn3"), max(col("user_id")).as("mx3"),
        nn(col("event_type")).as("nn4"),
        countDistinct(col("event_type")).as("nd4"),
        min(length(col("event_type"))).cast("long").as("mn4"),
        max(length(col("event_type"))).cast("long").as("mx4"),
        nn(col("value")).as("nn5"), countDistinct(col("value")).as("nd5"),
        min(floor(col("value") * 100).cast("long")).as("mn5"),
        max(floor(col("value") * 100).cast("long")).as("mx5"),
        nn(col("props")).as("nn6"), countDistinct(col("props")).as("nd6"),
        min(length(col("props"))).cast("long").as("mn6"),
        max(length(col("props"))).cast("long").as("mx6"))
      a.select(expr("stack(6, " +
          "'event_id', n, nn1, nd1, mn1, mx1, " +
          "'ts', n, nn2, nd2, mn2, mx2, " +
          "'user_id', n, nn3, nd3, mn3, mx3, " +
          "'event_type', n, nn4, nd4, mn4, mx4, " +
          "'value', n, nn5, nd5, mn5, mx5, " +
          "'props', n, nn6, nd6, mn6, mx6) " +
          "AS (col_name, n_rows, n_null, n_distinct, min_fp, max_fp)"))
        .orderBy(col("col_name"))
    }),

    // MANN–KENDALL TREND TEST — x160's significance companion
    // (Theil–Sen says HOW FAST, MK says WHETHER the monotone trend
    // is real): the classic nonparametric S-statistic with tie-
    // corrected variance and continuity-corrected z over the same
    // per-type day frame; |z| > 1.96 decided by an exact integer
    // compare, never a float (see mannKendallReport). Corpus-scale
    // work = the one shared events aggregate.
    "x167_mann_kendall" -> ((spark, sfDir) =>
      mannKendallReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"))),

    // DAY-OF-WEEK SEASONALITY INDEX — the calendar decomposition
    // read beside x152's ACF (ACF detects that a weekly cycle
    // exists; the index says which days run hot and by how much):
    // idx = dow-mean over grand-mean as one exact rational per
    // (type, dow) cell. dow = day mod 7 off the shared integer day
    // frame — engine-identical arithmetic, no locale-dependent
    // DAYOFWEEK call on either side.
    "x168_dow_seasonality" -> ((spark, sfDir) =>
      dowSeasonalityReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"), col("dow"))),

    // INTER-EVENT GAP HISTOGRAM — the timing-texture readout the
    // day-grain family can't see (c53 cuts sessions at ONE gap
    // threshold; the log₂ histogram shows the whole bimodal
    // structure that justifies the threshold — burst gaps vs
    // between-session gaps): consecutive-gap µs per user off one
    // user-shuffle (ts, event_id) window (c78's shape), log₂ buckets
    // (floor(log₂) is exact at the power-of-two boundaries — integer
    // powers are exactly representable and log₂ of them is exact in
    // both engines; zero gaps take the −1 bucket), bucket lower
    // bound 2^b exact via pow-and-cast, shares/cumulative off the
    // ≤~40-row bucket frame.
    "x181_gap_histogram" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val whole = Window.partitionBy(lit(1))
      val cum = Window.partitionBy(lit(1)).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Lake.table(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("_prev").isNotNull)
        .withColumn("gap", unix_micros(col("ts")) - col("_prev"))
        .withColumn("bucket", when(col("gap") <= 0L, lit(-1L))
          .otherwise(floor(log2(col("gap").cast("double")))))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .withColumn("_t", sum(col("n")).over(whole))
        .select(col("bucket"),
          pow(lit(2.0), col("bucket").cast("double")).cast("long")
            .as("lo_us"),
          col("n"),
          round(col("n").cast("double") / col("_t").cast("double"), 4)
            .as("share"),
          round(sum(col("n")).over(cum).cast("double") /
            col("_t").cast("double"), 4).as("cum_share"))
        .orderBy(col("bucket"))
    }),

    // HOLM STEP-DOWN DRIFT SCREEN — the multiple-testing correction
    // the drift family needs once it tests EVERY type at once (k
    // simultaneous α=0.05 screens false-alarm far above 0.05; Holm
    // controls the family-wise rate with no independence assumption
    // and dominates plain Bonferroni): x161's per-type χ²₁ stats
    // ordered desc, tested against the α/(k−i+1) quantile ladder,
    // with the step-down stop as a prefix-min window (see
    // holmReport). Same additive ksHalfCounts frame ⇒ the s20-class
    // maintenance story carries over.
    "x176_holm_drift" -> ((spark, sfDir) =>
      holmReport(ksHalfCounts(Lake.table(spark, sfDir, "events")))
        .orderBy(col("rank"))),

    // BENJAMINI–HOCHBERG DRIFT SCREEN — the FDR twin of x176's Holm
    // FWER screen over the identical per-type statistics (see
    // [[bhReport]]: Holm asks "no false alarm at all", BH asks "few
    // false alarms among the flagged" — the triage dial). Same one
    // events aggregate; the step-up logic and the frozen inverse-χ²
    // critical table live on the ≤k-row frame.
    "x207_bh_drift" -> ((spark, sfDir) =>
      bhReport(ksHalfCounts(Lake.table(spark, sfDir, "events")))
        .orderBy(col("rank"))),

    // CONTROL CHART — the point-outlier monitor beside x138 (CUSUM
    // accumulates small persistent shifts; the Shewhart chart flags
    // the single anomalous day CUSUM deliberately smooths over —
    // together they're the standard SPC pair): per type/day, the
    // 3σ verdict by exact integer compare and a z readout (see
    // controlChartReport). Corpus-scale work = the shared events
    // aggregate.
    "x175_control_chart" -> ((spark, sfDir) =>
      controlChartReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"), col("day"))),

    // FORECAST BACKTEST — the accountability step behind x165 (a
    // smoother you never score is a chart, not a forecaster):
    // rolling-origin one-step-ahead evaluation of the EWMA against
    // the naive yesterday-baseline, per type, with MAE/MASE exact to
    // the constant weight-mass denominator and the verdict an exact
    // integer compare (see forecastBacktestReport). MASE < 1 = the
    // smoother earns its keep. Corpus-scale work = the one shared
    // events aggregate.
    "x171_forecast_backtest" -> ((spark, sfDir) =>
      forecastBacktestReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"))),

    // EXPONENTIAL SMOOTHING — the level-tracking forecast primitive
    // beside the detectors (x138 localizes a shift after the fact;
    // EWMA is what a serving dashboard plots and alerts against):
    // per type/day, the α = 1/4 exponentially-weighted mean of the
    // trailing 8 days. α chosen as an exact binary rational so every
    // weight is the exact integer 3ᵏ·4⁷⁻ᵏ (see EwmaWeights) —
    // numerator/denominator are exact BIGINT window sums with ONE
    // division at 4 dp, fully hash-oracled where a float recurrence
    // y_t = αx + (1−α)y_{t−1} would compound rounding differently
    // per engine. The truncated-window form is also what makes it
    // maintainable: day t needs 8 lags, not the whole history.
    "x165_ewma_smooth" -> ((spark, sfDir) =>
      ewmaReport(Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
        .agg(count(lit(1)).as("x")))
        .orderBy(col("event_type"), col("day")))
  )

  /** x141's winsorized-mean stage over a (event_type, value) frame —
    * exposed so tests can plant tails with known quantile cuts.
    */
  def winsorizedReport(ev: DataFrame): DataFrame = {
    val bounds = broadcast(ev.groupBy(col("event_type")).agg(
      expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").as("lo"),
      expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("hi")))
    ev.join(bounds, "event_type")
      .select(col("event_type"), col("value"), col("lo"), col("hi"),
        greatest(least(col("value"), col("hi")), col("lo")).as("w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("lo")), 2).as("lo"),
        round(min(col("hi")), 2).as("hi"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double") /
          count(lit(1)), 4).as("raw_mean"),
        round(sum(col("w").cast("decimal(30,10)")).cast("double") /
          count(lit(1)), 4).as("wins_mean"))
  }

  /** x165's exact EWMA weights: α = 1/4 over an 8-day window, scaled
    * by 4⁸ so every weight α(1−α)ᵏ = 3ᵏ/4ᵏ⁺¹ becomes the exact
    * integer 3ᵏ·4⁷⁻ᵏ — [16384, 12288, …, 2187], k = 0 (today) .. 7.
    * Shared with the DuckDB oracle via string interpolation so the
    * two engines can never disagree on a weight.
    */
  private[graft] val EwmaWeights: IndexedSeq[Long] =
    (0 to 7).map(k => (0 until k).foldLeft(1L)((a, _) => a * 3) *
      (0 until 7 - k).foldLeft(1L)((a, _) => a * 4))

  /** x165's EWMA stage over a (event_type, day, x) daily-count frame
    * (x138/x152/x160's input): per day, the exponentially-weighted
    * mean of the last ≤8 days with the weight mass renormalized to
    * the lags actually present (day 0 is its own x; day 7+ carries
    * the full window). Row-lag semantics — on the dense day spine
    * the daily aggregate produces, row-lag ≡ day-lag. Numerator and
    * denominator are exact BIGINT sums of [[EwmaWeights]] terms with
    * ONE division at 4 dp; windows run over the bounded per-type day
    * frame, corpus-scale work = x138's one events aggregate.
    */
  def ewmaReport(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = (1 to 7).map(k => lag(col("x"), k).over(w))
    val num = lagged.zipWithIndex.map { case (l, i) =>
      when(l.isNotNull, l * lit(EwmaWeights(i + 1))).otherwise(0L)
    }.foldLeft(col("x") * lit(EwmaWeights(0)))(_ + _)
    val den = lagged.zipWithIndex.map { case (l, i) =>
      when(l.isNotNull, lit(EwmaWeights(i + 1))).otherwise(0L)
    }.foldLeft(lit(EwmaWeights(0)).cast("long"))(_ + _)
    daily
      .withColumn("_num", num)
      .withColumn("_den", den)
      .select(col("event_type"), col("day"), col("x"),
        round(col("_num").cast("double") / col("_den").cast("double"), 4)
          .as("ewma"))
  }

  /** x167's Mann–Kendall stage over a (event_type, day, x) daily-
    * count frame — x160's significance twin (Theil–Sen reports the
    * slope SIZE; MK says whether a monotone trend exists at all):
    * S = Σ_{i<j} sign(x_j − x_i) is an exact integer off the same
    * days²-bounded pair frame, 18·Var(S) = n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5) is exact BIGINT off the tie-group counts, z
    * uses the standard continuity correction (S ∓ 1), and the trend
    * FLAG is the cross-multiplied DECIMAL(38,0) compare
    * 180000·(S∓1)² > 38416·18Var — x146's no-float-decides-it
    * discipline. Zero-variance series (all days tied) guard to NULL.
    */
  def mannKendallReport(daily: DataFrame): DataFrame = {
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum((col("b.x") - col("a.x")).cast("double")).cast("long"))
          .as("s"),
        count(lit(1)).as("n_pairs"))
    val nd = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    nd.join(ties, "event_type").join(pairs, "event_type")
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .withColumn("_num", col("s") - signum(col("s").cast("double"))
        .cast("long"))
      .select(col("event_type"), col("n_days"), col("n_pairs"), col("s"),
        when(col("var18") > 0L,
          round(col("_num").cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)), 4)).as("z"),
        when(col("var18") > 0L,
          lit(180000L).cast("decimal(38,0)") *
            col("_num").cast("decimal(38,0)") *
            col("_num").cast("decimal(38,0)") >
            lit(38416L).cast("decimal(38,0)") *
              col("var18").cast("decimal(38,0)")).as("trending"))
  }

  /** x275's seasonal Mann–Kendall (Hirsch–Slack) over the same daily
    * frame — the trend test a weekly-cyclic series actually needs:
    * plain MK (x167) compares Mondays against Sundays and reads the
    * cycle as noise (or worse, as trend); the seasonal form compares
    * days only WITHIN their dow stratum and sums the per-stratum
    * statistics: S = Σ_dow S_dow (exact integer off the
    * stratum-keyed pair join), 18·Var = Σ_dow [n_s(n_s−1)(2n_s+5) −
    * tie terms], z with the x167 continuity correction. The pair
    * frame shrinks 7× versus x167's (only within-stratum pairs
    * exist) — cheaper AND more powerful on cyclic data.
    */
  def seasonalMannKendallReport(daily: DataFrame): DataFrame = {
    val d = daily.withColumn("dow", pmod(col("day"), lit(7)))
    val pairs = d.as("a").join(d.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.dow") === col("b.dow") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum((col("b.x") - col("a.x")).cast("double")).cast("long"))
          .as("s"),
        count(lit(1)).as("n_pairs"))
    val nd = d.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_s"))
    val ties = d.groupBy(col("event_type"), col("dow"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    val varsum = nd.join(ties, Seq("event_type", "dow"))
      .withColumn("v18",
        expr("n_s * (n_s - 1) * (2 * n_s + 5) - tie_term"))
      .groupBy(col("event_type"))
      .agg(sum(col("v18")).as("var18"), count(lit(1)).as("n_strata"))
    varsum.join(pairs, "event_type")
      .withColumn("_num", col("s") - signum(col("s").cast("double"))
        .cast("long"))
      .select(col("event_type"), col("n_strata"), col("n_pairs"), col("s"),
        when(col("var18") > 0L,
          round(col("_num").cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)), 4)).as("z"))
      .orderBy(col("event_type"))
  }

  /** x276's turning-point randomness test over the same daily frame —
    * the cheapest classical "is this series random?" screen (x237's
    * runs test reads signs vs the median; turning points read LOCAL
    * extrema, catching oscillation/smoothness departures the runs
    * test misses): an interior day is a turning point when it is a
    * strict local max or min among its two neighbors; under
    * randomness E[T] = 2(n−2)/3 and Var(T) = (16n−29)/90, so
    * z = (T − E)/√Var in one closed form over exact integer counts.
    * Ties break the strictness and simply don't count — the
    * conservative convention. Two bounded lag/lead windows at day
    * grain, one aggregate.
    */
  def turningPointReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("xp", lag(col("x"), 1).over(byDay))
      .withColumn("xn", lead(col("x"), 1).over(byDay))
      .withColumn("tp", when(col("xp").isNotNull && col("xn").isNotNull &&
        ((col("x") > col("xp") && col("x") > col("xn")) ||
          (col("x") < col("xp") && col("x") < col("xn"))), 1L)
        .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("tp")).as("t_points"))
      .select(col("event_type"), col("n_days"), col("t_points"),
        when(col("n_days") >= 3L,
          round((dd(col("t_points")) -
            lit(2.0) * dd(col("n_days") - 2L) / 3.0) /
            sqrt((lit(16.0) * dd(col("n_days")) - 29.0) / 90.0), 6))
          .as("z"))
      .orderBy(col("event_type"))
  }

  /** x277's Bartels rank von Neumann ratio over the same daily frame
    * — the rank-based serial-randomness test (x253's DW reads
    * residual autocorrelation in VALUE space under a fitted line;
    * Bartels is its distribution-free twin on ranks, valid with no
    * model at all): with doubled midranks r2 (exact under ties,
    * Σr2 = n(n+1) so mean(r2) = n+1 exactly), RVN =
    * Σ(r2_i − r2_{i+1})² / Σ(r2_i − (n+1))² — both sums exact
    * integers, the doubling cancels, ONE division. RVN ≈ 2 under
    * randomness; z_approx uses the large-sample Var ≈ 4/n. Rank +
    * one lead window at day grain.
    */
  def bartelsRankReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val byVal = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val tieGrp = Window.partitionBy(col("event_type"), col("x"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val whole = Window.partitionBy(col("event_type"))
    daily
      .withColumn("r2", lit(2L) * rank().over(byVal) +
        count(lit(1)).over(tieGrp) - lit(1L))
      .withColumn("rn", lead(col("r2"), 1).over(byDay))
      .withColumn("n_days", count(lit(1)).over(whole))
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        sum(when(col("rn").isNotNull,
          (col("r2") - col("rn")) * (col("r2") - col("rn"))))
          .as("num2"),
        sum((col("r2") - (col("n_days") + 1L)) *
          (col("r2") - (col("n_days") + 1L))).as("den2"))
      .select(col("event_type"), col("n_days"), col("num2"), col("den2"),
        when(col("den2") > 0L,
          round(dd(col("num2")) / dd(col("den2")), 6)).as("rvn"),
        when(col("den2") > 0L && col("n_days") >= 10L,
          round((dd(col("num2")) / dd(col("den2")) - 2.0) /
            sqrt(lit(4.0) / dd(col("n_days"))), 6)).as("z_approx"))
      .orderBy(col("event_type"))
  }

  /** x296's Page–Hinkley sequential change detector over the daily
    * frame — the classical online mean-shift monitor beside x138's
    * CUSUM (CUSUM cumulates deviations from the FIXED reference
    * mean; PH cumulates deviations from the RUNNING mean, so it
    * needs no reference window at all — the "detect the shift with
    * zero configuration" member): m_t = Σ_{i≤t}(x_i − x̄_i),
    * PH = max_t (m_t − min_{s≤t} m_s), alarm at the argmax day.
    * The running mean lands on a 10⁻⁶ floor grid (DECIMAL(38,0) —
    * S_i·10⁶ outgrows BIGINT at ~9×10¹² cumulated events), making
    * every m_t an exact grid integer: the cumulative/min/max chain
    * is then pure integer arithmetic, engine-identical. Windows are
    * per-type over day grain — bounded by the calendar.
    */
  def pageHinkleyReport(daily: DataFrame): DataFrame = {
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("i", row_number().over(byDay))
      .withColumn("s", sum(col("x")).over(cum))
      .withColumn("mean_fp", expr(
        "CAST((CAST(s AS DECIMAL(38,0)) * 1000000 - " +
          "CAST(s AS DECIMAL(38,0)) * 1000000 % i) / i AS DECIMAL(38,0))"))
      .withColumn("term", expr(
        "CAST(x AS DECIMAL(38,0)) * 1000000 - mean_fp"))
      .withColumn("m", sum(col("term")).over(cum))
      .withColumn("runmin", least(min(col("m")).over(cum),
        lit(0).cast("decimal(38,0)")))
      .withColumn("ph_t", col("m") - col("runmin"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("ph_t"), (-col("day")).as("nd"))).as("pk"))
      .select(col("event_type"), col("n_days"),
        round(col("pk.ph_t").cast("double") / 1000000.0, 4).as("ph"),
        (-col("pk.nd")).cast("long").as("alarm_day"))
      .orderBy(col("event_type"))
  }

  /** x297's Lo–MacKinlay variance-ratio test over the daily frame —
    * the random-walk/mean-reversion diagnostic the forecasting
    * family lacked (x152/x266 read individual autocorrelations; VR
    * aggregates them: VR(q) ≈ 1 + 2Σ(1−k/q)ρ_k, so VR < 1 reads
    * mean reversion and VR > 1 trending, the single-number "is this
    * series a random walk" answer): VR = Var(x_t − x_{t−q}) /
    * (q·Var(x_t − x_{t−1})) over CALENDAR-CONTIGUOUS lags only
    * (day − lag(day) must equal the lag — x268's gap lesson: row
    * adjacency is not calendar adjacency), both variance numerators
    * exact n·Σd² − (Σd)² DECIMAL(38,0) (operands widened before the
    * multiply), two divisions at readout, and the homoskedastic
    * z = (VR−1)/√(2(2q−1)(q−1)/(3q(T−1))). q = 7: the weekly lag.
    */
  def varianceRatioReport(daily: DataFrame, q: Int = 7): DataFrame = {
    require(q >= 2, s"variance ratio needs lag q >= 2, got $q")
    def dd(c: Column) = c.cast("double")
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = daily
      .withColumn("x1", lag(col("x"), 1).over(byDay))
      .withColumn("d1", lag(col("day"), 1).over(byDay))
      .withColumn("xq", lag(col("x"), q).over(byDay))
      .withColumn("dq", lag(col("day"), q).over(byDay))
      .withColumn("inc1", when(col("day") - col("d1") === 1,
        col("x") - col("x1")))
      .withColumn("incq", when(col("day") - col("dq") === q,
        col("x") - col("xq")))
    val g = lagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        count(col("inc1")).as("n1"),
        sum(col("inc1")).as("s1"),
        sum(col("inc1").cast("decimal(38,0)") * col("inc1")).as("ss1"),
        count(col("incq")).as("nq"),
        sum(col("incq")).as("sq"),
        sum(col("incq").cast("decimal(38,0)") * col("incq")).as("ssq"))
      .withColumn("v1", expr(
        "CAST(n1 AS DECIMAL(38,0)) * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("vq", expr(
        "CAST(nq AS DECIMAL(38,0)) * ssq - CAST(sq AS DECIMAL(38,0)) * sq"))
    // divisors guarded with GREATEST (mirrored in the oracle): the
    // published value is NULL outside `ok` anyway, but subexpression
    // elimination can hoist the shared division OUT of the CASE —
    // an unguarded zero then raises under ANSI on degenerate frames
    val nqG = dd(greatest(col("nq"), lit(1L)))
    val n1G = dd(greatest(col("n1"), lit(1L)))
    val v1G = dd(greatest(col("v1"), lit(1).cast("decimal(38,0)")))
    val vr = (dd(col("vq")) / (nqG * nqG)) /
      (lit(q.toDouble) * v1G / (n1G * n1G))
    val ok = col("n1") > 1L && col("nq") > 1L && col("v1") > 0 &&
      col("n_days") > 1L
    g.select(col("event_type"), col("n_days"), col("n1"), col("nq"),
        when(ok, round(vr, 6)).as("vr"),
        when(ok, round((vr - 1.0) /
          sqrt(lit(2.0) * (2.0 * q - 1.0) * (q - 1.0) /
            (lit(3.0) * q * (dd(col("n_days")) - 1.0))), 4)).as("z"))
      .orderBy(col("event_type"))
  }

  /** The paired-sample family's shared cell builder (x299/x300):
    * day-paired daily-count differences d = x_a − x_b for every
    * unordered event-type pair (a < b lexically), over the COMPLETE
    * pair×day grid — a day with events for only one type pairs
    * against an implicit 0 (dropping it would silently bias the
    * test toward days where both types fired). The grid is
    * |types|²·|days| — support grain on both axes, so the two
    * crossJoins are bounded fan-outs (≤ 10 pairs × day count here),
    * never corpus-scale.
    */
  private def pairedDayCells(daily: DataFrame): DataFrame = {
    val types = daily.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val days = daily.select(col("day")).distinct()
    val xa = daily.select(col("event_type").as("type_a"), col("day"),
      col("x").as("xa_raw"))
    val xb = daily.select(col("event_type").as("type_b"), col("day"),
      col("x").as("xb_raw"))
    pairs.crossJoin(days)
      .join(xa, Seq("type_a", "day"), "left")
      .join(xb, Seq("type_b", "day"), "left")
      .select(col("type_a"), col("type_b"), col("day"),
        coalesce(col("xa_raw"), lit(0L)).as("xa"),
        coalesce(col("xb_raw"), lit(0L)).as("xb"))
  }

  private def pairedDayDiffs(daily: DataFrame): DataFrame =
    pairedDayCells(daily)
      .select(col("type_a"), col("type_b"), col("day"),
        (col("xa") - col("xb")).as("d"))

  /** x299's Wilcoxon signed-rank test over the day-paired daily
    * counts of every event-type pair — the PAIRED location test the
    * drift family lacked (x218's Mann–Whitney compares two types as
    * INDEPENDENT samples, discarding that both series share each
    * day's common traffic shocks; pairing by day differences that
    * common term out, which is exactly why the signed-rank test has
    * more power on day-coupled series). Zeros are dropped
    * (Wilcoxon's original convention, reported as n_zero); |d| is
    * ranked with midranks over each pair's nonzero days, and the
    * whole statistic is EXACT INTEGER arithmetic on doubled ranks:
    * per |d|-tie-group, the doubled midrank m2 = 2·cnt_less + t + 1
    * is an odd/even integer, W2⁺ = Σ_{d>0} m2 is an exact BIGINT,
    * E[W2⁺] = n(n+1)/2 likewise, and the tie-corrected null variance
    * scales to V48 = 48·Var(W⁺) = 2n(n+1)(2n+1) − Σ_j (t_j³ − t_j)
    * — BOTH exact integers with no division anywhere (the /4, /24
    * and /48 denominators cancel into the single readout
    * z = (W2⁺ − n(n+1)/2)·√(12/V48)). No continuity correction
    * (documented; the large-sample form matches scipy's
    * correction=False mode). Everything after the day-cell
    * aggregation is support-grain: the rank window partitions by
    * pair over ≤ |days| rows.
    */
  def wilcoxonSignedRankReport(daily: DataFrame): DataFrame = {
    val nz = pairedDayDiffs(daily).filter(col("d") =!= 0L)
      .groupBy(col("type_a"), col("type_b"), abs(col("d")).as("absd"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("pos"))
    val byAbs = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("absd"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the zeros frame aggregates over the COMPLETE pair grid (a
    // conditional sum, not a filter-then-count), so it doubles as
    // the pair universe: a fully-tied pair (all differences zero)
    // still emits a row here and must not vanish from the report —
    // it reads n_pairs=0, its n_zero count, W2⁺=0 and a NULL z,
    // mirroring x300's handling of the same pair
    val zeros = pairedDayDiffs(daily)
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(when(col("d") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val ranked = nz
      .withColumn("cum", sum(col("t")).over(byAbs) - col("t"))
      .withColumn("m2", lit(2L) * col("cum") + col("t") + lit(1L))
    val g = ranked.groupBy(col("type_a"), col("type_b"))
      .agg(sum(col("t")).as("n"),
        sum(col("pos") * col("m2")).as("w2_plus"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
      .withColumn("mean2", expr("n * (n + 1) DIV 2"))
      .withColumn("v48",
        lit(2L) * col("n") * (col("n") + 1L) * (lit(2L) * col("n") + 1L)
          - col("tie3"))
    zeros.join(g, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n"), lit(0L)).as("n_pairs"), col("n_zero"),
        coalesce(col("w2_plus"), lit(0L)).as("w2_plus"),
        when(col("v48") > 0L, round(
          (col("w2_plus") - col("mean2")).cast("double") *
            sqrt(lit(12.0) / col("v48").cast("double")), 4)).as("z"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** x300's paired sign test over the same day-paired cells — the
    * distribution-free floor under x299 (it reads ONLY the sign of
    * each day's difference, so it is exact under any asymmetric
    * null; the signed-rank test additionally assumes the difference
    * distribution is symmetric): pos/neg/zero day counts per pair
    * (zeros dropped from n, the standard convention), and the
    * continuity-corrected large-sample statistic
    * z = sign(pos − neg)·max(|2·pos − n| − 1, 0)/√n — the numerator
    * an exact integer, ONE sqrt and one division at readout. The
    * exact-binomial tail is the textbook small-n readout but its
    * 2ⁿ denominator outgrows any fixed-width integer as the day
    * support grows, so the published statistic is the z form
    * (n ≥ 25 is comfortably normal; the exact counts are published
    * beside it for anyone re-deriving the binomial at small n).
    */
  def signTestReport(daily: DataFrame): DataFrame =
    pairedDayDiffs(daily)
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(when(col("d") > 0L, 1L).otherwise(0L)).as("pos"),
        sum(when(col("d") < 0L, 1L).otherwise(0L)).as("neg"),
        sum(when(col("d") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .withColumn("n", col("pos") + col("neg"))
      // the signed numerator stays an exact integer (sign folded in
      // BEFORE the cast) so a pos≈neg pair reads 0.0, never -0.0
      .withColumn("num",
        (when(col("pos") > col("neg"), 1L)
          .when(col("pos") < col("neg"), -1L).otherwise(0L)) *
          greatest(abs(lit(2L) * col("pos") - col("n")) - lit(1L),
            lit(0L)))
      .select(col("type_a"), col("type_b"), col("pos"), col("neg"),
        col("n_zero"),
        when(col("n") > 0L, round(
          col("num").cast("double") /
            sqrt(col("n").cast("double")), 4)).as("z"))
      .orderBy(col("type_a"), col("type_b"))

  /** x301's distance correlation (Székely–Rizzo–Bakirov 2007) over
    * the same paired day cells — the NONLINEAR dependence readout
    * the association family lacked (x205 Spearman and x216 Kendall
    * read monotone association; dCor = 0 iff the two series are
    * INDEPENDENT, so a U-shaped or threshold coupling that zeroes
    * the rank statistics still lights up here). The biased
    * V-statistic form on pairwise distances a_ij = |xa_i − xa_j|,
    * b_ij = |xb_i − xb_j|:
    *   n⁴·dCov²  = n²·Σab + (Σa)(Σb) − 2n·Σ_i ra_i·rb_i
    * (ra_i the i-th row sum), same shape for the two dVars; the n⁴
    * scales cancel in dCor² = dCov²/√(dVarX·dVarY), so EVERYTHING up
    * to the final two sqrt/divide is exact integer arithmetic —
    * operands widened to DECIMAL(38,0)/HUGEINT before every multiply
    * (a_ij is count-sized; n²·Σab ~ n⁴·C² needs ~10²⁸ at a
    * 365-day × 10⁹-count lake — far past BIGINT, comfortably inside
    * 38 digits). The day×day self-join is |days|²·|pairs| — support
    * grain squared, bounded at any corpus size (the corpus only
    * changes the cell VALUES). dCov²_n ≥ 0 by construction (it is a
    * squared empirical-characteristic-function norm), so the sqrt
    * needs no clamp; a constant series reads dVar = 0 → NULL.
    */
  def distanceCorrelationReport(daily: DataFrame): DataFrame = {
    val c = pairedDayCells(daily)
    val c2 = c.select(col("type_a"), col("type_b"),
      col("day").as("day2"), col("xa").as("xa2"), col("xb").as("xb2"))
    val p = c.join(c2, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("day"),
        abs(col("xa") - col("xa2")).cast("decimal(38,0)").as("a"),
        abs(col("xb") - col("xb2")).cast("decimal(38,0)").as("b"))
    val rows = p.groupBy(col("type_a"), col("type_b"), col("day"))
      .agg(sum(col("a")).as("ra"), sum(col("b")).as("rb"),
        sum(col("a") * col("b")).as("sab_i"),
        sum(col("a") * col("a")).as("saa_i"),
        sum(col("b") * col("b")).as("sbb_i"))
    val g = rows.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ra")).as("sa"), sum(col("rb")).as("sb"),
        sum(col("sab_i")).as("sab"), sum(col("saa_i")).as("saa"),
        sum(col("sbb_i")).as("sbb"),
        sum(col("ra") * col("rb")).as("s3"),
        sum(col("ra") * col("ra")).as("s3a"),
        sum(col("rb") * col("rb")).as("s3b"))
      .withColumn("nd", col("n_days").cast("decimal(38,0)"))
      .withColumn("num",
        col("nd") * col("nd") * col("sab") + col("sa") * col("sb")
          - lit(2) * col("nd") * col("s3"))
      .withColumn("dvx",
        col("nd") * col("nd") * col("saa") + col("sa") * col("sa")
          - lit(2) * col("nd") * col("s3a"))
      .withColumn("dvy",
        col("nd") * col("nd") * col("sbb") + col("sb") * col("sb")
          - lit(2) * col("nd") * col("s3b"))
    g.select(col("type_a"), col("type_b"), col("n_days"),
        when(col("dvx") > 0 && col("dvy") > 0, round(
          sqrt(col("num").cast("double") /
            sqrt(col("dvx").cast("double") * col("dvy").cast("double"))),
          6)).as("dcor"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** x278's Jonckheere–Terpstra ordered-alternative test across the
    * event types (ordered lexically as the exposure order) — the
    * independent-groups complement of x260's Page test (Page needs
    * the day×type BLOCK design; JT asks whether the per-day volume
    * distributions shift monotonically across ordered groups with no
    * blocking): 2U = Σ_{a<b} Σ f_a·f_b·(2·[x_a<x_b] + [x_a=x_b])
    * over the per-group count-of-counts cells (exact integer, ties
    * at half weight), E[2U] = Σ_{a<b} n_a·n_b, and the TIE-CORRECTED
    * null variance (Hollander & Wolfe 1999 §6.2 — the form clinfun
    * and PMCMRplus implement; the per-day count data is tied by
    * construction, so the classical no-tie form mis-scales z):
    * Var(U) = [N(N−1)(2N+5) − Σ_g n_g(n_g−1)(2n_g+5)
    *           − Σ_j t_j(t_j−1)(2t_j+5)]/72
    *        + [Σ n_g(n_g−1)(n_g−2)]·[Σ t_j(t_j−1)(t_j−2)]
    *           / (36·N(N−1)(N−2))
    *        + [Σ n_g(n_g−1)]·[Σ t_j(t_j−1)] / (8·N(N−1))
    * with t_j the pooled tie-group sizes; when every t_j = 1 the tie
    * sums vanish and the expression reduces algebraically to the
    * classical (N²(2N+3) − Σ n_g²(2n_g+3))/72. All six correction
    * sums are exact BIGINTs at day grain (cubic in day counts —
    * Long-safe past a million days, i.e. forever for a daily frame);
    * z uses doubled-statistic scaling. The cell-pair join is bounded
    * by (Σ_g cells_g)² — support grain, never day grain.
    */
  def jonckheereReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val cells = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("f"))
    val u2 = cells.as("a").join(cells.as("b"),
        col("a.event_type") < col("b.event_type"))
      .agg(coalesce(sum(col("a.f") * col("b.f") *
        (lit(2L) * when(col("a.x") < col("b.x"), 1L).otherwise(0L) +
          when(col("a.x") === col("b.x"), 1L).otherwise(0L))), lit(0L))
        .as("u2"))
    val sizes = cells.groupBy(col("event_type"))
      .agg(sum(col("f")).as("n_g"))
    val tot = sizes.agg(count(lit(1)).as("k_groups"),
      sum(col("n_g")).as("n_total"),
      sum(col("n_g") * (col("n_g") - 1L)).as("sn1"),
      sum(col("n_g") * (col("n_g") - 1L) * (col("n_g") - 2L)).as("sn2"),
      sum(col("n_g") * (col("n_g") - 1L) * (lit(2L) * col("n_g") + 5L))
        .as("sn3"),
      // E[2U] = Σ_{a<b} n_a·n_b = (N² − Σn_g²)/2 — N²−Σn² counts
      // ordered pairs, i.e. each unordered group pair twice; integer
      // DIV (the difference is always even), not double division
      expr("(SUM(n_g) * SUM(n_g) - SUM(n_g * n_g)) DIV 2").as("e2"))
    // pooled tie-group sizes t_j: the same value observed anywhere in
    // the pooled sample ties; the three correction sums are exact
    val ties = cells.groupBy(col("x")).agg(sum(col("f")).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1L)), lit(0L)).as("st1"),
        coalesce(sum(col("t") * (col("t") - 1L) * (col("t") - 2L)),
          lit(0L)).as("st2"),
        coalesce(sum(col("t") * (col("t") - 1L) *
          (lit(2L) * col("t") + 5L)), lit(0L)).as("st3"))
    val n = dd(col("n_total"))
    val varJ =
      (n * (n - 1.0) * (lit(2.0) * n + 5.0) -
        dd(col("sn3")) - dd(col("st3"))) / 72.0 +
        dd(col("sn2")) * dd(col("st2")) /
          (lit(36.0) * n * (n - 1.0) * (n - 2.0)) +
        dd(col("sn1")) * dd(col("st1")) / (lit(8.0) * n * (n - 1.0))
    u2.crossJoin(tot).crossJoin(ties)
      .select(col("k_groups"), col("n_total"), col("u2"), col("e2"),
        when(col("n_total") > 2L && varJ > 0.0,
          round((dd(col("u2")) - dd(col("e2"))) /
            sqrt(lit(4.0) * varJ), 6)).as("z"))
  }

  /** x279's Cochran–Armitage trend test of the weekly conversion
    * rate — "is the purchase-conversion share trending across weeks?"
    * as a dose-response test with week index as the score (x167
    * tests the VOLUME series for trend; CA tests a PROPORTION with
    * binomial variance, the clinical/AB standard for ordered
    * exposure): per week i, trials n_i (events) and successes x_i
    * (purchase & value > 90); T = Σ s_i·(x_i·N − n_i·X) is an exact
    * integer in DECIMAL(38,0) (operands widened before the multiply
    * — x247's overflow lesson), and χ² = T²·N / (X·(N−X)·(N·Σn_i s_i²
    * − (Σn_i s_i)²)) lands in ONE division. Week-grain cells only.
    */
  def cochranArmitageReport(weekly: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val tot = weekly.agg(count(lit(1)).as("n_weeks"),
      sum(col("n")).as("n_total"), sum(col("x")).as("x_total"),
      sum(col("n") * col("s")).as("ns"),
      sum(col("n") * col("s") * col("s")).as("nss"))
    weekly.crossJoin(broadcast(tot))
      .agg(max(col("n_weeks")).as("n_weeks"),
        max(col("n_total")).as("n_total"),
        max(col("x_total")).as("x_total"),
        sum(dec(col("s")) * (dec(col("x")) * col("n_total") -
          dec(col("n")) * col("x_total"))).as("t_num"),
        max(dec(col("n_total")) * col("nss") -
          dec(col("ns")) * col("ns")).as("s_var"))
      .select(col("n_weeks"), col("n_total"), col("x_total"),
        col("t_num").cast("long").as("t_num"),
        when(col("x_total") > 0L && col("x_total") < col("n_total") &&
            col("s_var") > 0L,
          round((dec(col("t_num")) * dec(col("t_num")) *
            col("n_total")).cast("double") /
            (dec(col("x_total")) * (dec(col("n_total")) - col("x_total")) *
              col("s_var")).cast("double"), 6)).as("chi2"))
  }

  /** x284's Grubbs statistic over the same daily frame — the
    * single-outlier screen for the day series (x141 winsorizes, x84
    * flags by MAD; Grubbs is the classical max-studentized-deviate
    * test an anomaly review quotes): G = max|x − x̄|/s with the
    * sample sd, carried as the exact integer deviation
    * max|x·n − Σx| and ONE closed-form sqrt:
    * G = dev·√((n−1)/(n·(n·Σx² − (Σx)²))). Peak day tie-breaks
    * earliest. Two bounded aggregates at day grain.
    */
  def grubbsReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    daily.join(m, "event_type")
      .withColumn("dev", abs(col("x") * col("n") - col("sx")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"), max(col("sx")).as("sx"),
        max(col("sxx")).as("sxx"),
        max(struct(col("dev"), (-col("day")).as("nd"))).as("m"))
      .select(col("event_type"), col("n_days"),
        col("m.dev").as("dev_num"), (-col("m.nd")).as("peak_day"),
        when(col("n_days") > 2L &&
            col("n_days") * col("sxx") - col("sx") * col("sx") > 0L,
          round(dd(col("m.dev")) *
            sqrt((dd(col("n_days")) - 1.0) /
              (dd(col("n_days")) *
                (dd(col("n_days")) * dd(col("sxx")) -
                  dd(col("sx")) * dd(col("sx"))))), 6)).as("g_stat"))
      .orderBy(col("event_type"))
  }

  /** x286's Hurst exponent by rescaled-range analysis over the same
    * daily frame — the long-memory readout beside x152's ACF and
    * x269's dispersion (H ≈ 0.5 = no memory, H > 0.5 = persistent
    * trends, H < 0.5 = mean-reverting — the number that says whether
    * daily traffic "remembers"): the series splits into consecutive
    * full blocks of w ∈ {7, 14, 28} days (row-indexed, so gaps don't
    * stretch blocks), each block's range of cumulative deviations is
    * the exact integer (max − min) of w·cum − j·Σx, S is the
    * population sd, and R/S = range_num/√(w·Σx² − (Σx)²) — exact
    * integers to one sqrt per block. H = the 3-point least-squares
    * slope of mean ln(R/S) against ln w (NULL unless all three
    * sizes produce ≥1 valid block). Everything at day grain.
    */
  def hurstRsReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.withColumn("t", row_number().over(byDay) - 1L)
    def rsOf(w: Int): DataFrame = {
      val blkW = Window.partitionBy(col("event_type"), col("blk"))
      val rows = idx.withColumn("blk", expr(s"t DIV $w"))
        .withColumn("j", expr(s"t % $w") + 1L)
        .withColumn("bn", count(lit(1)).over(blkW))
        .filter(col("bn") === w.toLong)
        .withColumn("cum", sum(col("x")).over(Window
          .partitionBy(col("event_type"), col("blk")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sx", sum(col("x")).over(blkW))
        .withColumn("sxx", sum(col("x") * col("x")).over(blkW))
        .withColumn("z", lit(w.toLong) * col("cum") - col("j") * col("sx"))
      rows.groupBy(col("event_type"), col("blk"))
        .agg(max(col("z")).as("zmax"), min(col("z")).as("zmin"),
          max(col("sx")).as("sx"), max(col("sxx")).as("sxx"))
        .withColumn("svar", lit(w.toLong) * col("sxx") - col("sx") * col("sx"))
        .filter(col("svar") > 0L && col("zmax") > col("zmin"))
        // per-block ln(R/S) lands on the 10⁻⁶ fp grid BEFORE the
        // mean: the integer sum is order-free where a double sum
        // across partials is not (the c97 fixed-point discipline)
        .select(col("event_type"),
          round((log((col("zmax") - col("zmin")).cast("double")) -
            log(sqrt(col("svar").cast("double")))) * 1000000.0, 0)
            .cast("long").as("ln_rs_fp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"nb$w"),
          (sum(col("ln_rs_fp")).cast("double") /
            (count(lit(1)).cast("double") * 1000000.0)).as(s"rs$w"))
    }
    rsOf(7).join(rsOf(14), Seq("event_type"), "full_outer")
      .join(rsOf(28), Seq("event_type"), "full_outer")
      .withColumn("h_est",
        when(col("rs7").isNotNull && col("rs14").isNotNull &&
            col("rs28").isNotNull,
          // the sizes are geometric (ln-equally spaced by ln 2), so
          // the 3-point least-squares slope collapses exactly to
          // (rs28 − rs7)/(2 ln 2) — frozen constant, engine-identical
          round((col("rs28") - col("rs7")) / lit(1.3862943611198906), 6)))
      .select(col("event_type"),
        coalesce(col("nb7"), lit(0L)).as("nb7"),
        coalesce(col("nb14"), lit(0L)).as("nb14"),
        coalesce(col("nb28"), lit(0L)).as("nb28"),
        round(col("rs7"), 6).as("ln_rs7"),
        round(col("rs14"), 6).as("ln_rs14"),
        round(col("rs28"), 6).as("ln_rs28"),
        col("h_est"))
      .orderBy(col("event_type"))
  }

  /** x168's day-of-week seasonality stage over the same daily frame:
    * idx(dow) = mean(x | dow) / mean(x) as the exact rational
    * (sum_dow·n_days)/(n_dow·total) with ONE division at 4 dp — the
    * multiplicative seasonal index a forecast job divides out before
    * trend fitting (and the companion x152's ACF bump only hints
    * at). Bounded 7-row-per-type output off two aggregates.
    */
  def dowSeasonalityReport(daily: DataFrame): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    daily
      .withColumn("dow", pmod(col("day"), lit(7)))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_dow"), sum(col("x")).as("x_sum"))
      .withColumn("n_days", sum(col("n_dow")).over(whole))
      .withColumn("total", sum(col("x_sum")).over(whole))
      .select(col("event_type"), col("dow"), col("n_dow"), col("x_sum"),
        round((col("x_sum") * col("n_days")).cast("double") /
          (col("n_dow") * col("total")).cast("double"), 4).as("idx"))
  }

  /** x171's backtest stage over the (event_type, day, x) frame:
    * one-step-ahead EWMA forecast ŷ_t from lags 1..8 (x165's weights
    * shifted one day — the forecaster never sees the day it
    * predicts), scored only on full-window days (8 lags present) so
    * the weight mass D = Σ [[EwmaWeights]] is CONSTANT and the MAE
    * numerator Σ|x_t·D − N_t| stays a single exact BIGINT — one
    * division per readout, and the model-vs-naive verdict is the
    * exact integer compare err_num < D·naive_num (no float decides
    * it). MASE = err_num/(D·naive_num), the standard scale-free
    * forecast score (< 1 = beats the naive yesterday-baseline).
    */
  def forecastBacktestReport(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val D = EwmaWeights.sum
    val num = EwmaWeights.zipWithIndex.map { case (wk, j) =>
      lag(col("x"), j + 1).over(w) * lit(wk)
    }.reduce(_ + _)
    daily
      .withColumn("_n", num)
      .withColumn("_prev", lag(col("x"), 1).over(w))
      .filter(col("_n").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("x") * lit(D) - col("_n"))).as("_err_num"),
        sum(abs(col("x") - col("_prev"))).as("_naive_num"))
      .select(col("event_type"), col("n_scored"),
        round(col("_err_num").cast("double") /
          (col("n_scored") * lit(D)).cast("double"), 4).as("mae_model"),
        round(col("_naive_num").cast("double") /
          col("n_scored").cast("double"), 4).as("mae_naive"),
        when(col("_naive_num") > 0L,
          round(col("_err_num").cast("double") /
            (lit(D) * col("_naive_num")).cast("double"), 4)).as("mase"),
        (col("_err_num") < lit(D) * col("_naive_num")).as("model_wins"))
  }

  /** x176's Holm step-down screen over a (event_type, half, c) count
    * frame: each type's rate-shift statistic is x161's per-type
    * D²/(n_t·N_ref·N_cur) — a χ²₁ stat under H₀ — and Holm-
    * Bonferroni turns k simultaneous screens into a family-wise-
    * error-controlled procedure: order stats desc, test stat_i
    * against the χ²₁ quantile at α/(k−i+1), and reject only while
    * every EARLIER test rejected (the step-down stop, expressed as a
    * prefix-min window over the k-row frame — no sequential fold).
    * The quantile ladder is a fixed 12-entry literal (χ²₁ at
    * 0.05/m); stats ride x161's 10⁻⁶ integer grid.
    */
  /** The per-type half-vs-half chi-square frame under x176/x207: the
    * 10⁻⁶-regridded one-df statistic per event_type plus the family
    * size k — the shared stage both multiple-testing screens rank.
    */
  private def halfChiFrame(cnt: DataFrame): DataFrame = {
    val whole = Window.partitionBy(lit(1))
    cnt.groupBy(col("event_type"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L))
          .as("o_ref"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("o_cur"))
      .withColumn("n_ref", sum(col("o_ref")).over(whole))
      .withColumn("n_cur", sum(col("o_cur")).over(whole))
      .withColumn("k", count(lit(1)).over(whole))
      .withColumn("_d",
        (col("o_ref") * col("n_cur") - col("o_cur") * col("n_ref"))
          .cast("double"))
      .withColumn("_chi_fp",
        round(col("_d") * col("_d") /
          ((col("o_ref") + col("o_cur")).cast("double") *
            col("n_ref").cast("double") * col("n_cur").cast("double")) *
          lit(1000000.0), 0).cast("long"))
  }

  def holmReport(cnt: DataFrame): DataFrame = {
    val order = Window.partitionBy(lit(1))
      .orderBy(desc("_chi_fp"), col("event_type"))
    val prefix = Window.partitionBy(lit(1))
      .orderBy(desc("_chi_fp"), col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = halfChiFrame(cnt)
    t.withColumn("rank", row_number().over(order))
      .withColumn("m", col("k") - col("rank") + 1)
      .withColumn("crit", expr("CASE m WHEN 1 THEN 3.841 WHEN 2 THEN 5.024 " +
        "WHEN 3 THEN 5.731 WHEN 4 THEN 6.239 WHEN 5 THEN 6.635 " +
        "WHEN 6 THEN 6.96 WHEN 7 THEN 7.237 WHEN 8 THEN 7.477 " +
        "WHEN 9 THEN 7.689 WHEN 10 THEN 7.879 WHEN 11 THEN 8.048 " +
        "WHEN 12 THEN 8.2 ELSE CAST(NULL AS DOUBLE) END"))
      .withColumn("_pass", when(
        col("_chi_fp").cast("double") > col("crit") * lit(1000000.0), 1L)
        .otherwise(0L))
      .withColumn("rejected", min(col("_pass")).over(prefix) === 1L)
      .select(col("event_type"), col("rank"),
        round(col("_chi_fp").cast("double") / lit(1000000.0), 4)
          .as("chi1"),
        col("crit"), col("rejected"))
  }

  /** Φ⁻¹ by Acklam's rational approximation (relative error < 1.15e-9
    * — far inside the 3 dp the frozen critical table carries). Used
    * ONCE, at class init, to freeze the BH critical values; the same
    * frozen doubles interpolate into the oracle SQL, so both engines
    * compare against literally identical constants.
    */
  private def invNorm(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    }
  }

  /** χ²₁ upper-α critical value: (Φ⁻¹(1 − α/2))², frozen to 4 dp so
    * the table literal is short and identical on both engines.
    */
  private def chi1Crit(alpha: Double): Double = {
    val z = invNorm(1.0 - alpha / 2.0)
    math.rint(z * z * 10000.0) / 10000.0
  }

  /** The frozen BH critical table as a SQL CASE over (k, rank):
    * crit(k, i) = χ²₁ at level α·i/k with α = 0.05 — the chi-scale
    * form of "p₍ᵢ₎ ≤ α·i/m", usable by both the Column plan and the
    * DuckDB oracle without any CDF in either engine. Families up to
    * k = 12 (Holm's table bound); larger families read NULL and the
    * screen abstains loudly rather than mis-thresholding.
    */
  private[graft] lazy val bhCritCaseSql: String = {
    val cases = for { m <- 1 to 12; i <- 1 to m } yield
      s"WHEN k = $m AND rank = $i THEN ${chi1Crit(0.05 * i / m)}"
    "CASE " + cases.mkString(" ") + " ELSE CAST(NULL AS DOUBLE) END"
  }

  /** x207's Benjamini–Hochberg step-up over the same per-type
    * half-vs-half chi-squares as x176's Holm step-down (Holm controls
    * FWER — "no false alarm at all"; BH controls FDR — "few false
    * alarms among the flagged", the right dial when a drift screen
    * feeds triage rather than a circuit breaker): ranks by statistic
    * descending (= p ascending), i* = max{i : χ²₍ᵢ₎ ≥ crit(k, i)},
    * reject ranks ≤ i*. The suffix/threshold logic is two windows
    * over the ≤k-row frame; the critical values are the frozen
    * [[bhCritCaseSql]] table.
    */
  def bhReport(cnt: DataFrame): DataFrame = {
    val order = Window.partitionBy(lit(1))
      .orderBy(desc("_chi_fp"), col("event_type"))
    val whole = Window.partitionBy(lit(1))
    halfChiFrame(cnt)
      .withColumn("rank", row_number().over(order))
      .withColumn("crit", expr(bhCritCaseSql))
      .withColumn("_pass", when(
        col("_chi_fp").cast("double") >= col("crit") * lit(1000000.0), 1L)
        .otherwise(0L))
      .withColumn("_istar",
        max(col("_pass") * col("rank")).over(whole))
      .select(col("event_type"), col("rank"),
        round(col("_chi_fp").cast("double") / lit(1000000.0), 4)
          .as("chi1"),
        col("crit"), (col("rank") <= col("_istar")).as("rejected"))
  }

  /** x175's Shewhart individuals chart over the (event_type, day, x)
    * frame: day t is an outlier iff |x − μ| > 3σ, decided by the
    * cross-multiplied exact integer compare (x·n − T)² > 9·(n·Σx² −
    * T²) — no float mean or variance ever materializes (x138's
    * discipline applied to the POINT-outlier question CUSUM's
    * accumulation deliberately smooths over). z = (x·n − T)/√(n·Σx²
    * − T²) for the readout, one division+sqrt per row at 4 dp,
    * zero-variance guard to NULL; windows over the bounded per-type
    * day frame.
    */
  def controlChartReport(daily: DataFrame): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    daily
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("t", sum(col("x")).over(whole))
      .withColumn("sxx", sum(col("x") * col("x")).over(whole))
      .withColumn("_d", col("x") * col("n") - col("t"))
      .withColumn("_v", col("n") * col("sxx") - col("t") * col("t"))
      .select(col("event_type"), col("day"), col("x"),
        when(col("_v") > 0L, round(col("_d").cast("double") /
          sqrt(col("_v").cast("double")), 4)).as("z"),
        (col("_d") * col("_d") > lit(9L) * col("_v")).as("outlier"))
  }

  /** x160's Theil–Sen stage over a (event_type, day, x) daily-count
    * frame (x138/x152's input) — exposed so tests can plant series
    * with known slopes. See the registry entry for the floor-grid
    * determinism argument; the lower-median convention (element
    * (n+1) DIV 2 of the slope order) matches DuckDB's
    * quantile_disc(0.5) on the same grid.
    */
  def theilSenReport(daily: DataFrame): DataFrame = {
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        floor((col("b.x") - col("a.x")).cast("double") * lit(1000000.0) /
          (col("b.day") - col("a.day")).cast("double")).as("slope_fp"))
    val order = Window.partitionBy(col("event_type")).orderBy(col("slope_fp"))
    val whole = Window.partitionBy(col("event_type"))
    pairs.withColumn("rn", row_number().over(order))
      .withColumn("n_pairs", count(lit(1)).over(whole))
      .filter(col("rn") === expr("(n_pairs + 1) DIV 2"))
      .join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_fp").as("sen_slope_fp"),
        (col("slope_fp") > 0L).as("rising"))
  }

  /** x161's chi-square homogeneity stage over a (event_type, half, c)
    * count frame — [[ksHalfCounts]]'s grain with the value buckets
    * summed away (the `when` sums collapse them), so the s20-style
    * additive-count maintenance story carries over unchanged.
    * Exposed so tests can plant identical/shifted mixes. See the
    * registry entry for the exact-integer D chain and grid sum.
    */
  def chisqReport(cnt: DataFrame): DataFrame = {
    val whole = Window.partitionBy(lit(1))
    val t = cnt.groupBy(col("event_type"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L))
          .as("o_ref"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("o_cur"))
      .withColumn("n_ref", sum(col("o_ref")).over(whole))
      .withColumn("n_cur", sum(col("o_cur")).over(whole))
      .withColumn("df", count(lit(1)).over(whole) - 1)
      .withColumn("_d",
        (col("o_ref") * col("n_cur") - col("o_cur") * col("n_ref"))
          .cast("double"))
      .withColumn("_den",
        (col("o_ref") + col("o_cur")).cast("double") *
          col("n_ref").cast("double") * col("n_cur").cast("double"))
      .withColumn("_chi_fp",
        round(col("_d") * col("_d") / col("_den") * lit(1000000.0), 0)
          .cast("long"))
    t.select(col("event_type"), col("o_ref"), col("o_cur"),
        round(col("_chi_fp").cast("double") / lit(1000000.0), 4)
          .as("contrib"),
        round(sum(col("_chi_fp")).over(whole).cast("double") /
          lit(1000000.0), 4).as("chi2"),
        col("df"),
        expr("CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 " +
          "WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 WHEN 5 THEN 11.07 " +
          "WHEN 6 THEN 12.592 WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 " +
          "WHEN 9 THEN 16.919 ELSE CAST(NULL AS DOUBLE) END").as("crit"))
      .withColumn("drifted", col("chi2") > col("crit"))
  }

  /** x138's CUSUM stage over a (event_type, day, x) daily-count
    * frame — exposed so tests can plant level shifts. See the
    * registry entry for the drawup/drawdown window form.
    */
  def cusumReport(daily: DataFrame): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("total", sum(col("x")).over(whole))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("s", sum(col("x") * col("n_days") - col("total")).over(cum))
      .withColumn("s_min", min(col("s")).over(cum))
      .withColumn("s_max", max(col("s")).over(cum))
      .select(col("event_type"), col("day"), col("x"),
        round((col("s") - col("s_min")).cast("double") /
          col("n_days").cast("double"), 2).as("cusum_up"),
        round((col("s_max") - col("s")).cast("double") /
          col("n_days").cast("double"), 2).as("cusum_dn"),
        (col("s") - col("s_min") > col("total") * 2).as("alarm"))
  }

  /** x225's one-split binary segmentation over a (event_type, day, x)
    * daily-count frame — the changepoint LOCALIZER beside x138's
    * CUSUM alarm (CUSUM says "a persistent shift happened"; binseg
    * says WHERE, as the split maximizing the between-segment variance
    * reduction — the first step of the classic recursive
    * segmentation). For a split after day t the reduction is
    * gain(t) = (n_r·Σx_l − n_l·Σx_r)² / (n·n_l·n_r): prefix sums give
    * every candidate in one window pass, the numerator a = n_r·Σx_l −
    * n_l·Σx_r is an exact BIGINT, and the ARGMAX is decided on the
    * exact integer key ⌊a²/(n_l·n_r)⌋ (a² as DECIMAL(38,0); the
    * subtract-remainder form makes the decimal division an exact
    * integer, matching DuckDB's HUGEINT floor division bit for bit)
    * with day-ascending tiebreak — no double ever picks the split.
    * All windows run on the ≤31-row per-type day frame; the one
    * corpus-scale pass is the daily aggregation the caller feeds in.
    */
  def binsegReport(daily: DataFrame): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = daily
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("sx", sum(col("x")).over(whole))
      .withColumn("n_l", count(lit(1)).over(cum))
      .withColumn("sx_l", sum(col("x")).over(cum))
      .filter(col("n_l") < col("n"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("sx_r", col("sx") - col("sx_l"))
      .withColumn("ad", col("n_r") * col("sx_l") - col("n_l") * col("sx_r"))
      .withColumn("num", expr("CAST(ad AS DECIMAL(38,0)) * ad"))
      .withColumn("key",
        expr("CAST((num - num % (n_l * n_r)) / (n_l * n_r) AS DECIMAL(38,0))"))
    val best = Window.partitionBy(col("event_type"))
      .orderBy(desc("key"), col("day"))
    def dd(c: String) = col(c).cast("double")
    cand.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("split_after_day"),
        col("n_l"), col("n_r"),
        round(dd("sx_l") / dd("n_l"), 4).as("mean_l"),
        round(dd("sx_r") / dd("n_r"), 4).as("mean_r"),
        round(dd("ad") * dd("ad") /
          (dd("n") * dd("n_l") * dd("n_r")), 4).as("gain"))
      .orderBy(col("event_type"))
  }

  /** x133's binned two-sample KS report: per event_type, the sup
    * ECDF distance between the x98 ref window (first 12 days) and the
    * rest, on a width-1 integer value grid clamped to [0, 499].
    * Counts → per-type cumulative BIGINT window sums (bucket order is
    * a total order, so the running sum is engine-exact) → the sup of
    * the cross-multiplied integer numerator → ONE division to the
    * 4 dp grid, plus the same-shaped critical-value chain
    * (division → sqrt → multiply — c80's IEEE-deterministic ops).
    * Overflow bound: cum·n ≤ N² needs N < 3·10⁹ per type; past that,
    * pre-aggregate to per-mille cumulative shares (the same grid
    * trick x69 uses for rank mass).
    */
  def ksReport(events: DataFrame): DataFrame =
    ksReportFromCounts(ksHalfCounts(events))

  /** x133's bucketing stage, shaped like [[psiHalfCounts]] so the s20
    * streaming monitor can maintain the cur side incrementally: the
    * per-(type, half, bucket) counts are ADDITIVE across microbatches.
    * Width-1 grid (finer than PSI's width-10 — KS wants resolution),
    * same ref/cur cutover.
    */
  def ksHalfCounts(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        when(col("ts") < lit("2024-01-13").cast("timestamp"), lit("ref"))
          .otherwise(lit("cur")).as("half"),
        greatest(least(floor(col("value")).cast("long"), lit(499L)),
          lit(0L)).as("bucket"))
      .groupBy(col("event_type"), col("half"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** x133's report stage over a (event_type, half, bucket, c) count
    * frame (shared with s20): pivot to per-bucket ref/cur counts,
    * cumulative BIGINT window sums, cross-multiplied sup, two final
    * IEEE chains.
    */
  def ksReportFromCounts(cnt: DataFrame): DataFrame = {
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    b.select(col("event_type"),
        sum(col("cr")).over(cum).as("cum_r"),
        sum(col("cc")).over(cum).as("cum_c"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        max(abs(col("cum_r") * col("nc") - col("cum_c") * col("nr")))
          .as("d_num"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        round(col("d_num").cast("double") /
          (col("n_ref") * col("n_cur")).cast("double"), 4).as("ks"),
        round(lit(1.358) * sqrt((col("n_ref") + col("n_cur")).cast("double") /
          (col("n_ref") * col("n_cur")).cast("double")), 4).as("d_crit"))
      .withColumn("drifted", col("ks") > col("d_crit"))
  }

  /** x152's autocorrelation report over a (event_type, day, x)
    * daily-count frame (x138's input, shared with s22's maintained
    * state): r_k = Σ c_t·c_{t+k} / Σ c_t² for lags 1..maxLag, with
    * the centered term cross-multiplied to the exact integer
    * c_t = x_t·n − T (no float mean — x138's discipline), so both
    * the lag products and the variance are exact BIGINT sums and the
    * single division lands on the 4 dp grid. Zero variance (constant
    * series) guards to NULL. Each lag is one lead() pass over the
    * ≤31-row per-type day frame; nothing touches event grain after
    * the first aggregate. Overflow: c² ≤ (x_max·n)² holds to ~10⁹
    * events/day/type, then DECIMAL(38,0) accumulation unchanged.
    */
  def acfReport(daily: DataFrame, maxLag: Int = 3): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val c = daily
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("total", sum(col("x")).over(whole))
      .withColumn("c", col("x") * col("n_days") - col("total"))
    val den = c.groupBy(col("event_type"))
      .agg(min(col("n_days")).as("n_days"),
        sum(col("c") * col("c")).as("den"))
    val lags = (1 to maxLag).map { k =>
      c.withColumn("cl", lead(col("c"), k).over(byDay))
        .filter(col("cl").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum(col("c") * col("cl")).as("num"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    lags.join(den, "event_type")
      .select(col("event_type"), col("lag"), col("n_days"),
        when(col("den") =!= 0,
          round(col("num").cast("double") / col("den").cast("double"), 4))
          .as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** x236's Ljung–Box portmanteau Q over the same centered-integer
    * day frame as x152 — the AGGREGATE whiteness test (x152 reports
    * each ρ_k; Ljung–Box asks whether the first K of them are JOINTLY
    * zero — the standard "is there any autocorrelation left"
    * screen): Q = n(n+2)·Σ_{k≤K} ρ_k²/(n−k) with each ρ_k = num_k/den
    * carried as its exact BIGINT numerator/denominator pair and the
    * K = 3 terms summed in ONE FIXED double expression (num1²/... +
    * num2²/... + num3²/...), never a float aggregation whose
    * association order could differ across engines. The verdict
    * column compares Q against the frozen χ²₃ 95% critical value
    * 7.814728. Work shape: one fact aggregation to the day frame;
    * everything after is |types|·K-sized.
    */
  def ljungBoxReport(daily: DataFrame): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val c = daily
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("total", sum(col("x")).over(whole))
      .withColumn("c", col("x") * col("n_days") - col("total"))
    val den = c.groupBy(col("event_type"))
      .agg(min(col("n_days")).as("n_days"),
        sum(col("c") * col("c")).as("den"))
    val nums = (1 to 3).map { k =>
      c.withColumn("cl", lead(col("c"), k).over(byDay))
        .filter(col("cl").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum(col("c") * col("cl")).as("num"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    val wide = nums.groupBy(col("event_type"))
      .agg(sum(when(col("lag") === 1, col("num")).otherwise(0L)).as("n1"),
        sum(when(col("lag") === 2, col("num")).otherwise(0L)).as("n2"),
        sum(when(col("lag") === 3, col("num")).otherwise(0L)).as("n3"))
    def dd(c: String) = col(c).cast("double")
    val dn = dd("n_days")
    val d2 = dd("den") * dd("den")
    val q = dn * (dn + 2.0) *
      (dd("n1") * dd("n1") / (d2 * (dn - 1.0)) +
        dd("n2") * dd("n2") / (d2 * (dn - 2.0)) +
        dd("n3") * dd("n3") / (d2 * (dn - 3.0)))
    wide.join(den, "event_type")
      .select(col("event_type"), col("n_days"),
        when(col("den") =!= 0L && col("n_days") > 3L, round(q, 6))
          .as("q_lb"),
        when(col("den") =!= 0L && col("n_days") > 3L, q > 7.814728)
          .as("autocorrelated"))
      .orderBy(col("event_type"))
  }

  /** x266's partial autocorrelations at lags 1-3 over the same
    * centered-integer day frame as x152/x236 — PACF is what an AR
    * ORDER decision actually reads (ACF at lag 3 can be large purely
    * through lag-1 propagation; φ33 nets the shorter lags out): the
    * exact BIGINT num_k/den pairs feed the Durbin–Levinson recursion
    * unrolled to the FIXED three-level expression chain (φ11 = ρ1,
    * φ22 = (ρ2−ρ1²)/(1−ρ1²), a21 = ρ1(1−φ22), φ33 = (ρ3 − a21ρ2 −
    * φ22ρ1)/(1 − a21ρ1 − φ22ρ2)) — never an iterative float solve.
    * Zero variance or a singular level-k denominator reads NULL from
    * that level on.
    */
  def pacfReport(daily: DataFrame): DataFrame = {
    val whole = Window.partitionBy(col("event_type"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val c = daily
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("total", sum(col("x")).over(whole))
      .withColumn("c", col("x") * col("n_days") - col("total"))
    val den = c.groupBy(col("event_type"))
      .agg(min(col("n_days")).as("n_days"),
        sum(col("c") * col("c")).as("den"))
    val nums = (1 to 3).map { k =>
      c.withColumn("cl", lead(col("c"), k).over(byDay))
        .filter(col("cl").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum(col("c") * col("cl")).as("num"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    val wide = nums.groupBy(col("event_type"))
      .agg(sum(when(col("lag") === 1, col("num")).otherwise(0L)).as("n1"),
        sum(when(col("lag") === 2, col("num")).otherwise(0L)).as("n2"),
        sum(when(col("lag") === 3, col("num")).otherwise(0L)).as("n3"))
    def dd(c: String) = col(c).cast("double")
    // NaN-propagating safe denominator: a zero-variance series turns
    // every downstream ratio NaN, every guard false, every output
    // NULL — without tripping the ANSI divide-by-zero inside the
    // guard expressions themselves
    val sden = when(col("den") =!= 0L, dd("den"))
      .otherwise(lit(Double.NaN))
    val r1 = dd("n1") / sden
    val r2 = dd("n2") / sden
    val r3 = dd("n3") / sden
    val p22denRaw = lit(1.0) - r1 * r1
    val p22den = when(abs(p22denRaw) > 0.0, p22denRaw)
      .otherwise(lit(Double.NaN))
    val p22 = (r2 - r1 * r1) / p22den
    val a21 = r1 * (lit(1.0) - p22)
    val p33denRaw = lit(1.0) - a21 * r1 - p22 * r2
    val p33den = when(abs(p33denRaw) > 0.0, p33denRaw)
      .otherwise(lit(Double.NaN))
    val p33 = (r3 - a21 * r2 - p22 * r1) / p33den
    wide.join(den, "event_type")
      .select(col("event_type"), col("n_days"),
        when(col("den") =!= 0L, round(r1, 6)).as("pacf1"),
        when(col("den") =!= 0L && abs(p22denRaw) > 0.0, round(p22, 6))
          .as("pacf2"),
        when(col("den") =!= 0L && abs(p22denRaw) > 0.0 &&
          abs(p33denRaw) > 0.0, round(p33, 6)).as("pacf3"))
      .orderBy(col("event_type"))
  }

  /** x237's Wald–Wolfowitz runs test over the per-type day frame —
    * the nonparametric randomness screen the drift family lacks
    * (x167's Mann–Kendall reads a TREND; the runs test reads
    * CLUSTERING of any kind: too few runs = regime persistence, too
    * many = oscillation): days at exactly the discrete median are
    * dropped (the standard dichotomization), signs are x > median,
    * R = 1 + Σ[sign flips] off one lag window, and z = (R − μ)/σ
    * with the classical moments μ = 2n₁n₂/(n₁+n₂) + 1. Exact
    * integers until the one fixed double expression; degenerate
    * one-sided frames read NULL. Same scale shape as x236.
    */
  def runsTestReport(daily: DataFrame): DataFrame = {
    val meds = daily.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
        .cast("long").as("med"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signed = daily.join(broadcast(meds), "event_type")
      .filter(col("x") =!= col("med"))
      .select(col("event_type"), col("day"),
        when(col("x") > col("med"), 1L).otherwise(0L).as("s"))
      .withColumn("flip",
        when(lag(col("s"), 1).over(byDay).isNull, 0L)
          .when(lag(col("s"), 1).over(byDay) =!= col("s"), 1L)
          .otherwise(0L))
    def dd(c: String) = col(c).cast("double")
    val mu = lit(2.0) * dd("n_pos") * dd("n_neg") /
      (dd("n_pos") + dd("n_neg")) + lit(1.0)
    val sig2 = lit(2.0) * dd("n_pos") * dd("n_neg") *
      (lit(2.0) * dd("n_pos") * dd("n_neg") - dd("n_pos") - dd("n_neg")) /
      ((dd("n_pos") + dd("n_neg")) * (dd("n_pos") + dd("n_neg")) *
        (dd("n_pos") + dd("n_neg") - 1.0))
    signed.groupBy(col("event_type"))
      .agg(sum(col("s")).as("n_pos"),
        sum(lit(1L) - col("s")).as("n_neg"),
        (sum(col("flip")) + lit(1L)).as("n_runs"))
      .select(col("event_type"), col("n_pos"), col("n_neg"),
        col("n_runs"),
        when(col("n_pos") > 0L && col("n_neg") > 0L &&
            col("n_pos") + col("n_neg") > 1L && sig2 > 0.0,
          round((dd("n_runs") - mu) / sqrt(sig2), 6)).as("z"))
      .orderBy(col("event_type"))
  }

  /** x244's Cox–Stuart trend test over the per-type day frame — the
    * sign-test complement of x167's Mann–Kendall (MK reads all n²/2
    * pair orderings; Cox–Stuart pairs each first-half day with its
    * second-half partner x_i vs x_{i+⌈n/2⌉} — n/2 comparisons, the
    * cheap screen you run per slice before the heavier trend fit):
    * middle day dropped when n is odd, zero differences dropped (the
    * standard conditioning), z = (pos − neg)/√(pos + neg). One rank
    * window + one self-join at day grain; exact integers to the one
    * double expression.
    */
  def coxStuartReport(daily: DataFrame): DataFrame = {
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val whole = Window.partitionBy(col("event_type"))
    val rk = daily
      .withColumn("rk", row_number().over(byDay))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("c", expr("(n_days + 1) DIV 2"))
    val pairs = rk.filter(col("rk") <= col("n_days") - col("c"))
      .select(col("event_type"), col("rk"), col("x").as("x1"),
        col("n_days"), col("c"))
      .join(rk.select(col("event_type"), (col("rk") - col("c")).as("rk"),
        col("x").as("x2")), Seq("event_type", "rk"))
      .filter(col("x1") =!= col("x2"))
    def dd(c: String) = col(c).cast("double")
    pairs.groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        sum(when(col("x2") > col("x1"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("x2") < col("x1"), 1L).otherwise(0L)).as("n_neg"))
      .select(col("event_type"), col("n_days"), col("n_pos"), col("n_neg"),
        when(col("n_pos") + col("n_neg") > 0L,
          round((dd("n_pos") - dd("n_neg")) /
            sqrt(dd("n_pos") + dd("n_neg")), 6)).as("z"))
      .orderBy(col("event_type"))
  }

  /** x245's Friedman test over the (event_type, day, x) daily-count
    * cells — blocks are DAYS, treatments are EVENT TYPES, so the
    * statistic reads rank-order consistency net of day-level traffic
    * (the within-block design; x234's between-group ANOVA pools the
    * day effect into its error term). Missing (type, day) cells are
    * true zero counts, so the complete day×type spine is built
    * first (x243's spine discipline). Ranks are within-block
    * midranks carried as the exact INTEGER doubled rank r2 =
    * 2·rank + t − 1 (midrank·2; ties make midranks half-integral),
    * under which Conover's tie-robust statistic is division-free
    * until the end: T = (k−1)·Σ_j(R2_j − n(k+1))² / (A2 − nk(k+1)²)
    * with A2 = Σ r2² — exactly 4×/4× the textbook rank sums.
    * Kendall's W = T/(n(k−1)) is the readout's concordance effect
    * size. Work shape: one fact aggregation to day×type cells; the
    * spine (days·k rows) is where every window runs. Fully-tied
    * grids (A2 = nk(k+1)²) read NULL, not a crash.
    */
  def friedmanReport(daily: DataFrame): DataFrame = {
    val days = daily.select(col("day")).distinct()
    val types = daily.select(col("event_type")).distinct()
    val spine = types.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val byDay = Window.partitionBy(col("day")).orderBy(col("x"))
    val tieGrp = Window.partitionBy(col("day"), col("x"))
    val ranked = spine.withColumn("r2",
      lit(2L) * rank().over(byDay) + count(lit(1)).over(tieGrp) - lit(1L))
    val byType = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("r2")).as("r2_sum"),
        sum(col("r2") * col("r2")).as("r2_sq"))
    def dd(c: Column) = c.cast("double")
    val whole = Window.partitionBy(lit(1))
    byType
      .withColumn("k", count(lit(1)).over(whole))
      .withColumn("dev", col("r2_sum") - col("n") * (col("k") + 1L))
      .agg(max(col("n")).as("n_days"), max(col("k")).as("k_types"),
        sum(col("r2_sq")).as("a2"),
        sum(col("dev") * col("dev")).as("num"))
      .select(col("n_days"), col("k_types"),
        when(col("a2") > col("n_days") * col("k_types") *
            (col("k_types") + 1L) * (col("k_types") + 1L),
          round(dd(col("k_types") - 1L) * dd(col("num")) /
            dd(col("a2") - col("n_days") * col("k_types") *
              (col("k_types") + 1L) * (col("k_types") + 1L)), 6))
          .as("chi2_f"))
      .withColumn("kendall_w",
        when(col("chi2_f").isNotNull && col("n_days") > 0L &&
            col("k_types") > 1L,
          round(col("chi2_f") /
            (dd(col("n_days")) * dd(col("k_types") - 1L)), 6)))
  }

  /** x253's Durbin–Watson statistic over each type's daily series —
    * the residual-autocorrelation readout of the x196-style OLS fit
    * (x236's Ljung–Box asks "is the raw series white"; DW asks "after
    * the trend line is removed, do errors still drag" — the classic
    * regression-diagnostic pairing): slope/intercept from five exact
    * BIGINT sums, residuals e_t at day grain, DW = Σ(e_t −
    * e_{t−1})²/Σe_t² via one lag window over the bounded day frame.
    * DW ≈ 2 is white; → 0 positive drag; → 4 alternation.
    */
  def durbinWatsonReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("x")).as("sy"), sum(col("day") * col("day")).as("sxx"),
        sum(col("day") * col("x")).as("sxy"))
      .withColumn("den", dd(col("n")) * dd(col("sxx")) -
        dd(col("sx")) * dd(col("sx")))
      .filter(col("den") > 0.0)
      .withColumn("b", (dd(col("n")) * dd(col("sxy")) -
        dd(col("sx")) * dd(col("sy"))) / col("den"))
      .withColumn("a", (dd(col("sy")) - col("b") * dd(col("sx"))) /
        dd(col("n")))
      .select(col("event_type"), col("n"), col("a"), col("b"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.join(m, "event_type")
      .withColumn("e", dd(col("x")) - col("a") - col("b") * dd(col("day")))
      .withColumn("e_lag", lag(col("e"), 1).over(byDay))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum(col("e") * col("e")).as("sse"),
        sum(when(col("e_lag").isNotNull,
          (col("e") - col("e_lag")) * (col("e") - col("e_lag"))))
          .as("ssd"))
      .select(col("event_type"), col("n_days"),
        round(col("sse"), 4).as("sse"),
        when(col("sse") > 0.0, round(col("ssd") / col("sse"), 6)).as("dw"))
      .orderBy(col("event_type"))
  }

  /** x254's Chow structural-break F at each type's series midpoint —
    * "did the data-generating line CHANGE halfway through the
    * window?" (x225's binseg finds the best split; Chow tests a
    * FIXED split with the classic two-regression F): segments by
    * within-type day rank (first ⌈n/2⌉ days vs the rest), each
    * segment's SSR from its five exact sums via SSR = Syy_c −
    * Sxy_c²/Sxx_c, F = ((SSR_p − SSR₁ − SSR₂)/2)/((SSR₁+SSR₂)/(n−4)).
    * One rank window + three k-row moment aggregations, doubles only
    * in the final expressions.
    */
  def chowReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val whole = Window.partitionBy(col("event_type"))
    val rk = daily
      .withColumn("rk", row_number().over(byDay))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("seg", when(col("rk") <= (col("n_days") + 1L) / 2L,
        lit(1)).otherwise(lit(2)))
    def mom(df: DataFrame, grp: Seq[Column]): DataFrame =
      df.groupBy(grp: _*)
        .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
          sum(col("x")).as("sy"), sum(col("day") * col("day")).as("sxx"),
          sum(col("day") * col("x")).as("sxy"),
          sum(col("x") * col("x")).as("syy"))
    def ssr(p: String) = {
      val (n, sx, sy, sxx, sxy, syy) =
        (dd(col(s"${p}n")), dd(col(s"${p}sx")), dd(col(s"${p}sy")),
          dd(col(s"${p}sxx")), dd(col(s"${p}sxy")), dd(col(s"${p}syy")))
      val sxxc = sxx - sx * sx / n
      val sxyc = sxy - sx * sy / n
      val syyc = syy - sy * sy / n
      when(sxxc > 0.0, syyc - sxyc * sxyc / sxxc).otherwise(syyc)
    }
    val pooled = mom(rk, Seq(col("event_type")))
    val segs = mom(rk, Seq(col("event_type"), col("seg")))
      .groupBy(col("event_type"))
      .agg(sum(when(col("seg") === 1, col("n"))).as("n1"),
        sum(when(col("seg") === 1, col("sx"))).as("s1sx"),
        sum(when(col("seg") === 1, col("sy"))).as("s1sy"),
        sum(when(col("seg") === 1, col("sxx"))).as("s1sxx"),
        sum(when(col("seg") === 1, col("sxy"))).as("s1sxy"),
        sum(when(col("seg") === 1, col("syy"))).as("s1syy"),
        sum(when(col("seg") === 2, col("n"))).as("n2"),
        sum(when(col("seg") === 2, col("sx"))).as("s2sx"),
        sum(when(col("seg") === 2, col("sy"))).as("s2sy"),
        sum(when(col("seg") === 2, col("sxx"))).as("s2sxx"),
        sum(when(col("seg") === 2, col("sxy"))).as("s2sxy"),
        sum(when(col("seg") === 2, col("syy"))).as("s2syy"))
    pooled
      .withColumnRenamed("n", "pn").withColumnRenamed("sx", "psx")
      .withColumnRenamed("sy", "psy").withColumnRenamed("sxx", "psxx")
      .withColumnRenamed("sxy", "psxy").withColumnRenamed("syy", "psyy")
      .join(segs.withColumnRenamed("n1", "s1n")
        .withColumnRenamed("n2", "s2n"), "event_type")
      .withColumn("ssr_p", ssr("p"))
      .withColumn("ssr_1", ssr("s1"))
      .withColumn("ssr_2", ssr("s2"))
      .select(col("event_type"), col("pn").as("n_days"),
        round(col("ssr_p"), 4).as("ssr_pooled"),
        round(col("ssr_1") + col("ssr_2"), 4).as("ssr_split"),
        when(col("pn") > 4L && col("ssr_1") + col("ssr_2") > 0.0 &&
            col("s1n") > 2L && col("s2n") > 2L,
          round(((col("ssr_p") - col("ssr_1") - col("ssr_2")) / 2.0) /
            ((col("ssr_1") + col("ssr_2")) / (dd(col("pn")) - 4.0)), 6))
          .as("f_chow"))
      .orderBy(col("event_type"))
  }

  /** x255's Pettitt changepoint over the same daily frame — the
    * rank-based single-changepoint locator (x225's binseg splits on
    * mean shift in value space; Pettitt is its distribution-free
    * twin, the standard hydrology/monitoring pick): with doubled
    * midranks r2 = 2·rank (exact integers under ties), U_t =
    * Σ_{i≤t} r2_i − t(n+1) = 2Σr_i − t(n+1), which is exactly the
    * CLASSIC Pettitt U_t (no residual doubling — the 2× lives
    * inside the identity, not on top of it). K = max_t |U_t|
    * (t < n), changepoint = its earliest day, and the approximate
    * significance p ≈ 2exp(−6K²/(n³+n²)) with K used directly —
    * one exp over exact integers. Rank + prefix windows at day
    * grain only.
    */
  def pettittReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val byVal = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val tieGrp = Window.partitionBy(col("event_type"), col("x"))
    val whole = Window.partitionBy(col("event_type"))
    val u = daily
      .withColumn("r2", lit(2L) * rank().over(byVal) +
        count(lit(1)).over(tieGrp) - lit(1L))
      .withColumn("t", row_number().over(byDay))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("u_t", sum(col("r2")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
        col("t") * (col("n_days") + 1L))
      .filter(col("t") < col("n_days"))
    u.withColumn("k_abs", abs(col("u_t")))
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        max(struct(col("k_abs"), (-col("day")).as("nd"))).as("m"))
      .select(col("event_type"), col("n_days"),
        col("m.k_abs").as("k_stat"), (-col("m.nd")).as("cp_day"),
        // k_abs is already the classic K; p = 2 exp(-6 K² / (n³+n²))
        round(lit(2.0) * exp(lit(-6.0) *
          dd(col("m.k_abs")) * dd(col("m.k_abs")) /
          (dd(col("n_days")) * dd(col("n_days")) * dd(col("n_days")) +
            dd(col("n_days")) * dd(col("n_days")))), 6).as("p_approx"))
      .orderBy(col("event_type"))
  }

  /** x256's Kuiper uniformity test of each type's day-of-week mix —
    * the cyclic-statistic complement of x168's seasonal indices (KS
    * on a circle is origin-dependent; Kuiper's V = D⁺ + D⁻ is
    * rotation-invariant, the right test for weekly cycles): over the
    * zero-filled 7-cell dow frame, D⁺/D⁻ numerators are exact
    * integers max(±(7·cum_i − (i+1)·n)) and V = (D⁺ + D⁻)/(7n) with
    * ONE division. Bounded 7-row-per-type frame off one aggregation.
    */
  def kuiperDowReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val types = daily.select(col("event_type")).distinct()
    val dows = types.sparkSession.range(0, 7)
      .select(col("id").cast("int").as("dow"))
    val cells = daily
      .withColumn("dow", pmod(col("day"), lit(7)).cast("int"))
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(col("x")).as("c"))
    val byDow = Window.partitionBy(col("event_type")).orderBy(col("dow"))
    val whole = Window.partitionBy(col("event_type"))
    types.crossJoin(dows)
      .join(cells, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("dow"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        byDow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(whole))
      .withColumn("dev", lit(7L) * col("cum") - (col("dow") + 1L) * col("n"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("dev")).as("dp_num"),
        max(-col("dev")).as("dm_num"))
      .select(col("event_type"), col("n"),
        when(col("n") > 0L,
          round((dd(col("dp_num")) + dd(col("dm_num"))) /
            (lit(7.0) * dd(col("n"))), 6)).as("v_stat"))
      .orderBy(col("event_type"))
  }

  /** x260's Page trend test — the ORDERED-alternative companion of
    * x245 (Friedman asks "do treatments differ at all"; Page asks
    * "do they increase in a KNOWN order"), with the natural ordering
    * this corpus actually has: treatments = day-of-week 0..6, blocks
    * = calendar weeks, so the statistic reads a monotone
    * within-week traffic ramp. L = Σ_j j·R_j off the same doubled
    * midranks as x245 (L2 = Σ(dow+1)·r2 = 2L exact), z from the
    * classic moments E = n·k(k+1)²/4, Var = n·k²(k+1)(k²−1)/144.
    * Zero-filled week×dow spine; windows at spine grain only.
    */
  def pageTrendReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val cells = daily
      .withColumn("week", expr("day DIV 7"))
      .withColumn("dow", pmod(col("day"), lit(7)).cast("int"))
      .groupBy(col("event_type"), col("week"), col("dow"))
      .agg(sum(col("x")).as("v"))
    val keys = cells.select(col("event_type"), col("week")).distinct()
    val dows = keys.sparkSession.range(0, 7)
      .select(col("id").cast("int").as("dow"))
    val spine = keys.crossJoin(dows)
      .join(cells, Seq("event_type", "week", "dow"), "left")
      .select(col("event_type"), col("week"), col("dow"),
        coalesce(col("v"), lit(0L)).as("v"))
    val byBlock = Window.partitionBy(col("event_type"), col("week"))
      .orderBy(col("v"))
    val tieGrp = Window.partitionBy(col("event_type"), col("week"), col("v"))
    spine
      .withColumn("r2", lit(2L) * rank().over(byBlock) +
        count(lit(1)).over(tieGrp) - lit(1L))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("week")).as("n_weeks"),
        sum((col("dow") + 1L) * col("r2")).as("l2_stat"))
      .select(col("event_type"), col("n_weeks"), col("l2_stat"),
        when(col("n_weeks") > 0L,
          round((dd(col("l2_stat")) / 2.0 -
            dd(col("n_weeks")) * lit(112.0)) /
            sqrt(dd(col("n_weeks")) * lit(49.0 * 8.0 * 48.0 / 144.0)), 6))
          .as("z"))
      .orderBy(col("event_type"))
  }

  /** x265's Quade test over the same day×type grid as x245 — the
    * weighted Friedman (Friedman throws away block MAGNITUDE; Quade
    * weights each day by the rank of its within-day spread, so
    * high-signal days count more — the more powerful choice at small
    * k): with doubled midranks r2 and doubled range-rank weights q2,
    * S4_ij = q2·(r2 − (k+1)) = 4·S_ij exactly, and the statistic is
    * division-free integers to the end: F = (n−1)·ΣT_j² /
    * (n·ΣS4² − ΣT_j²) with T_j = Σ_i S4_ij. Zero-spread grids (every
    * day internally tied) read NULL.
    */
  def quadeReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val days = daily.select(col("day")).distinct()
    val types = daily.select(col("event_type")).distinct()
    val spine = types.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val byDay = Window.partitionBy(col("day")).orderBy(col("x"))
    val tieG = Window.partitionBy(col("day"), col("x"))
    val ranked = spine
      .withColumn("r2", lit(2L) * rank().over(byDay) +
        count(lit(1)).over(tieG) - lit(1L))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("day"))))
    val ranges = spine.groupBy(col("day"))
      .agg((max(col("x")) - min(col("x"))).as("rng"))
    val byRng = Window.orderBy(col("rng"))
    val tieR = Window.partitionBy(col("rng"))
    val weights = ranges.withColumn("q2",
      lit(2L) * rank().over(byRng) + count(lit(1)).over(tieR) - lit(1L))
    val s4 = ranked.join(weights.select(col("day"), col("q2")), "day")
      .withColumn("s4", col("q2") * (col("r2") - (col("k") + 1L)))
    val byType = s4.groupBy(col("event_type"))
      .agg(max(col("k")).as("k"), count(lit(1)).as("n"),
        sum(col("s4")).as("t4"), sum(col("s4") * col("s4")).as("a4"))
    byType
      .agg(max(col("n")).as("n_days"), max(col("k")).as("k_types"),
        sum(col("a4")).as("a4"), sum(col("t4") * col("t4")).as("b4num"))
      .select(col("n_days"), col("k_types"),
        when(col("n_days") > 1L &&
            col("n_days") * col("a4") - col("b4num") > 0L,
          round(dd(col("n_days") - 1L) * dd(col("b4num")) /
            dd(col("n_days") * col("a4") - col("b4num")), 6)).as("f_quade"))
  }

  /** x268's trend/seasonal strength over the per-type daily series —
    * Hyndman's decomposition-strength readout (the one-number answer
    * to "is this series mostly trend, mostly weekly cycle, or mostly
    * noise", which decides whether a forecast job needs seasonal
    * terms at all): classical additive decomposition with a centered
    * 7-day moving average as trend (only days with the full ±3
    * window AND a contiguous ±3-day calendar span participate — the
    * standard edge trim, plus a span guard so a gap in the daily
    * series can't silently widen the "7-day" window beyond 7
    * calendar days while w7 still reads 7), dow means of the
    * detrended series as the seasonal component, and
    * F_T = max(0, 1 − Var(R)/Var(S+R)), F_S = max(0, 1 −
    * Var(R)/Var(D)) where D = detrended, R = D − seasonal. Exact
    * integer counts feed the moving average as the rational Σ/7;
    * variances are double sums over the bounded day frame.
    */
  def stlStrengthReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val t = daily
      .withColumn("w7", count(lit(1)).over(byDay))
      .withColumn("span", max(col("day")).over(byDay) -
        min(col("day")).over(byDay))
      .withColumn("trend", sum(col("x")).over(byDay).cast("double") / 7.0)
      .filter(col("w7") === 7L && col("span") === 6L)
      .withColumn("detr", dd(col("x")) - col("trend"))
      .withColumn("dow", pmod(col("day"), lit(7)))
    val seas = t.groupBy(col("event_type"), col("dow"))
      .agg((sum(col("detr")) / count(lit(1))).as("s_dow"))
    def varExpr(n: Column, s: Column, ss: Column): Column =
      (ss - s * s / n) / n
    t.join(seas, Seq("event_type", "dow"))
      .withColumn("resid", col("detr") - col("s_dow"))
      // deseasonalized = x − S = trend + resid: the series F_T reads
      .withColumn("deseas", dd(col("x")) - col("s_dow"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("detr")).as("sd"), sum(col("detr") * col("detr")).as("sdd"),
        sum(col("resid")).as("sr"), sum(col("resid") * col("resid")).as("srr"),
        sum(col("deseas")).as("ssr"),
        sum(col("deseas") * col("deseas")).as("ssrr"))
      .withColumn("n", dd(col("n_days")))
      .withColumn("var_d", varExpr(col("n"), col("sd"), col("sdd")))
      .withColumn("var_r", varExpr(col("n"), col("sr"), col("srr")))
      .withColumn("var_sr", varExpr(col("n"), col("ssr"), col("ssrr")))
      .select(col("event_type"), col("n_days"),
        when(col("var_sr") > 0.0,
          round(greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_sr")),
            6)).as("trend_strength"),
        when(col("var_d") > 0.0,
          round(greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_d")),
            6)).as("seasonal_strength"))
      .orderBy(col("event_type"))
  }

  /** x269's index-of-dispersion report per type — "is daily traffic
    * Poisson?" (the first question a capacity or anomaly model asks:
    * Poisson arrivals ⇒ Var = Mean; overdispersion ⇒ burst/clumping,
    * the negative-binomial regime every alerting threshold must be
    * widened for): D = s²/x̄ off exact integer moments, and the
    * Poisson dispersion statistic Σ(x−x̄)²/x̄ = (n−1)·D, χ²_{n−1}
    * under the null — carried as the exact cross-multiplied rational
    * (n·Σx² − (Σx)²)/(Σx) with one division.
    */
  def dispersionReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        round(dd(col("sx")) / dd(col("n_days")), 4).as("mean_x"),
        when(col("sx") > 0L && col("n_days") > 1L,
          round((dd(col("n_days")) * dd(col("sxx")) -
            dd(col("sx")) * dd(col("sx"))) /
            ((dd(col("n_days")) - 1.0) * dd(col("sx"))), 6)).as("dispersion"),
        when(col("sx") > 0L && col("n_days") > 1L,
          round((dd(col("n_days")) * dd(col("sxx")) -
            dd(col("sx")) * dd(col("sx"))) / dd(col("sx")), 6))
          .as("chi2_poisson"))
      .orderBy(col("event_type"))
  }

  /** x270's Breusch–Pagan LM test over the same per-type OLS fit as
    * x253 — the heteroskedasticity half of the regression-diagnostic
    * pair (x253's DW reads residual AUTOCORRELATION; BP asks whether
    * residual VARIANCE drifts with the regressor — the signature of
    * a level-dependent noise process that invalidates the fit's
    * standard errors): LM = n·R² of e² regressed on day, with R²
    * from five exact-expression sums over the bounded day frame and
    * e from the x253 closed-form fit. χ²₁ under the null.
    */
  def breuschPaganReport(daily: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("x")).as("sy"), sum(col("day") * col("day")).as("sxx"),
        sum(col("day") * col("x")).as("sxy"))
      .withColumn("den", dd(col("n")) * dd(col("sxx")) -
        dd(col("sx")) * dd(col("sx")))
      .filter(col("den") > 0.0)
      .withColumn("b", (dd(col("n")) * dd(col("sxy")) -
        dd(col("sx")) * dd(col("sy"))) / col("den"))
      .withColumn("a", (dd(col("sy")) - col("b") * dd(col("sx"))) /
        dd(col("n")))
      .select(col("event_type"), col("n"), col("a"), col("b"))
    daily.join(m, "event_type")
      .withColumn("e2",
        (dd(col("x")) - col("a") - col("b") * dd(col("day"))) *
          (dd(col("x")) - col("a") - col("b") * dd(col("day"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum(dd(col("day"))).as("gx"), sum(col("e2")).as("gy"),
        sum(dd(col("day")) * dd(col("day"))).as("gxx"),
        sum(dd(col("day")) * col("e2")).as("gxy"),
        sum(col("e2") * col("e2")).as("gyy"))
      .withColumn("nn", col("n_days").cast("double"))
      .withColumn("cov_n", col("nn") * col("gxy") - col("gx") * col("gy"))
      .withColumn("vx_n", col("nn") * col("gxx") - col("gx") * col("gx"))
      .withColumn("vy_n", col("nn") * col("gyy") - col("gy") * col("gy"))
      .select(col("event_type"), col("n_days"),
        when(col("vx_n") > 0.0 && col("vy_n") > 0.0,
          round(col("nn") * col("cov_n") * col("cov_n") /
            (col("vx_n") * col("vy_n")), 6)).as("lm_bp"),
        when(col("vx_n") > 0.0 && col("vy_n") > 0.0,
          round(col("nn") * col("cov_n") * col("cov_n") /
            (col("vx_n") * col("vy_n")), 6) > 3.841459).as("heteroskedastic"))
      .orderBy(col("event_type"))
  }

  /** x156's Benford first-digit audit over a value column: observed
    * leading-digit shares vs the Benford expectation
    * p_d = ln(1 + 1/d)/ln(10), with the chi-square statistic's
    * per-digit terms rounded onto a 10⁶ integer grid BEFORE the
    * 9-row sum — a float Σ over an unordered window frame would be
    * association-order-sensitive across engines; the grid makes the
    * statistic exact-integer and associative (x132's discipline
    * applied to a test statistic). The leading digit derives through
    * the value's decimal string (substring of the integer part) —
    * identical semantics in both engines, no log10/power boundary
    * cases at exact powers of ten.
    */
  def benfordReport(values: DataFrame): DataFrame = {
    val whole = Window.partitionBy(lit(1))
    val digits = values
      .filter(col("value") >= 1.0)
      .select(substring(floor(col("value")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("n_total", sum(col("n")).over(whole))
    val p = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    digits
      .withColumn("_exp", col("n_total").cast("double") * p)
      .withColumn("_chi_fp",
        round((col("n").cast("double") - col("_exp")) *
          (col("n").cast("double") - col("_exp")) / col("_exp") *
          lit(1000000.0), 0).cast("long"))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("n_total").cast("double"), 4)
          .as("obs_share"),
        round(p, 4).as("benford_p"),
        round(col("_chi_fp").cast("double") / lit(1000000.0), 4)
          .as("chi_term"),
        round(sum(col("_chi_fp")).over(whole).cast("double") /
          lit(1000000.0), 4).as("chi2"))
      .orderBy(col("digit"))
  }

  /** x146's Mann–Whitney/AUC drift report over the SAME
    * (event_type, half, bucket, c) frame x133 bins ([[ksHalfCounts]]
    * is shared verbatim): where KS takes the sup of the ECDF gap,
    * rank-sum asks "if I draw one ref and one cur value, how often is
    * cur larger?" — AUC = U/(n_ref·n_cur), the location-shift
    * detector that integrates over the whole distribution instead of
    * peaking at one crossing. On binned data the tie-heavy U doubles
    * cleanly to the integer 2U = Σ_b cc_b·(2·cumR(<b) + cr_b)
    * (each ref strictly below a cur counts 2, each tied ref counts
    * 1), so the statistic is an exact BIGINT off the same cumulative
    * windows.
    * The z readout uses the untied normal σ (the conservative
    * published bound; the tie correction only shrinks σ) in a
    * division/sqrt-only IEEE chain, and the drift FLAG never touches
    * a float: 30000·(2U − nm)² > 38416·n·m·(n+m+1) is the
    * |z| > 1.96 test cross-multiplied into exact 128-bit integers
    * (DECIMAL(38,0) here, HUGEINT in the oracle).
    */
  def mwReportFromCounts(cnt: DataFrame): DataFrame = {
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    b.select(col("event_type"), col("cr"), col("cc"),
        sum(col("cr")).over(cum).as("cum_r"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        sum(col("cc") * (lit(2L) * (col("cum_r") - col("cr")) + col("cr")))
          .as("u2"))
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("u2"),
        round(col("u2").cast("double") /
          (lit(2.0) * col("n_ref") * col("n_cur")), 4).as("auc"),
        round((col("u2") - col("n_ref") * col("n_cur")).cast("double") /
          (lit(2.0) * sqrt((col("n_ref") * col("n_cur") *
            (col("n_ref") + col("n_cur") + lit(1L))).cast("double") /
            lit(12.0))), 4).as("z"),
        (lit(30000L).cast("decimal(38,0)") *
          (col("u2") - col("n_ref") * col("n_cur")).cast("decimal(38,0)") *
          (col("u2") - col("n_ref") * col("n_cur")).cast("decimal(38,0)") >
          lit(38416L).cast("decimal(38,0)") *
            (col("n_ref") * col("n_cur") *
              (col("n_ref") + col("n_cur") + lit(1L))).cast("decimal(38,0)"))
          .as("drifted"))
  }

  /** x281's Cramér–von Mises drift report over the SAME
    * (event_type, half, bucket, c) frame as x133/x146: KS reads the
    * sup of the ECDF gap (one crossing decides it), MW integrates
    * the SIGNED gap (a symmetric scale change cancels to zero); CvM
    * integrates the SQUARED gap over every pooled observation, so it
    * sees any distributional difference, crossing or not —
    * T = n_r·n_c/N² · Σ_b f_b·(F_r(b) − F_c(b))². Per bucket the gap
    * is the exact integer cross-multiple d_b = cumR·n_c − cumC·n_r,
    * each term lands as the exact DECIMAL(38,0) floor division
    * f_b·d_b²/(n_r·n_c) (subtract-remainder form, ≡ HUGEINT // —
    * floor error ≤ 1 per bucket against ~10²⁶-scale terms), and ONE
    * final division by N² produces T. Same cumulative windows, same
    * ≤500-row frames.
    */
  def cvmReportFromCounts(cnt: DataFrame): DataFrame = {
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    b.select(col("event_type"), col("cr"), col("cc"),
        sum(col("cr")).over(cum).as("cum_r"),
        sum(col("cc")).over(cum).as("cum_c"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .withColumn("d", expr(
        "CAST(cum_r AS DECIMAL(38,0)) * nc - CAST(cum_c AS DECIMAL(38,0)) * nr"))
      // d²/(n_r·n_c) floored FIRST (bounded by n_r·n_c), THEN × f —
      // keeps every intermediate under ~10²⁶ where f·d² would blow
      // past DECIMAL(38,0) at ~10⁹ rows per side
      .withColumn("t_num", expr(
        "(cr + cc) * CAST((d * d - (d * d) % " +
          "(CAST(nr AS DECIMAL(38,0)) * nc)) / " +
          "(CAST(nr AS DECIMAL(38,0)) * nc) AS DECIMAL(38,0))"))
      .groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        sum(col("t_num")).as("t_sum"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(col("t_sum").cast("double") /
            ((col("n_ref") + col("n_cur")).cast("double") *
              (col("n_ref") + col("n_cur")).cast("double")), 6))
          .as("cvm_t"))
      .orderBy(col("event_type"))
  }

  /** x293's two-sample Anderson–Darling over the same half/bucket
    * frame — the tail-sensitive member that completes the EDF quartet
    * (x133 KS reads the sup; x281 CvM the mean square; x256 Kuiper
    * the two one-sided sups; AD weights the square by 1/(F(1−F)), so
    * tail divergence KS/CvM underweight dominates — the "new crawl
    * differs in the extremes" reading). Scholz–Stephens' discrete
    * form collapses at k = 2 to A² = Σ_j l_j·D_j²/(B_j(N−B_j))
    * / (n_r·n_c) over the pooled cells, with D the SAME cross
    * statistic as CvM's (cum_r·n_c − cum_c·n_r, exact DECIMAL(38,0))
    * — one more readout off the identical cumulative chain. Each
    * cell's quotient lands on a 10⁻⁶ grid via CvM's two-step floor
    * (exact integer quotient, then the remainder refined onto the
    * grid — every intermediate ≤ ~5×10³² at 10⁹ rows/side), so the
    * order-free sum is exact and the grid loss is ≤ 10⁻⁶ per cell,
    * mirrored verbatim in the oracle. The B = N tail cell is
    * excluded (its numerator is identically 0; the denominator is
    * the only thing that isn't).
    */
  def adDriftReportFromCounts(cnt: DataFrame): DataFrame = {
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    b.select(col("event_type"), col("cr"), col("cc"),
        sum(col("cr")).over(cum).as("cum_r"),
        sum(col("cc")).over(cum).as("cum_c"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .withColumn("bb", col("cum_r") + col("cum_c"))
      .withColumn("nn", col("nr") + col("nc"))
      .filter(col("bb") < col("nn"))
      .withColumn("d", expr(
        "CAST(cum_r AS DECIMAL(38,0)) * nc - CAST(cum_c AS DECIMAL(38,0)) * nr"))
      .withColumn("den", expr("CAST(bb AS DECIMAL(38,0)) * (nn - bb)"))
      .withColumn("q_fp", expr(
        "CAST((d * d - (d * d) % den) / den AS DECIMAL(38,0)) * 1000000 + " +
          "CAST(((d * d) % den * 1000000 - " +
          "(d * d) % den * 1000000 % den) / den AS DECIMAL(38,0))"))
      .withColumn("t_fp", expr("(cr + cc) * q_fp"))
      .groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        sum(col("t_fp")).as("s_fp"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0L && col("n_cur") > 0L,
          round(col("s_fp").cast("double") /
            (col("n_ref").cast("double") * col("n_cur").cast("double") *
              1000000.0), 6)).as("ad_a2"))
      .orderBy(col("event_type"))
  }

  /** x294's Cucconi joint location–scale test over the same cells —
    * the ONE-statistic alternative to x282's Lepage combination
    * (Lepage adds two separate z²; Cucconi scores Σrank² and
    * Σcontra-rank² jointly with their exact correlation ρ, and
    * simulation literature has it at-or-above Lepage's power on
    * skewed shifts): U standardizes Σ R², V standardizes Σ (N+1−R)²
    * over the CUR sample, C = (U² + V² − 2ρUV)/(2(1−ρ²)) with
    * ρ = 2(N²−4)/((2N+1)(8N+11)) − 1. Ties take the standard
    * MIDRANK convention, and quadrupled midranks make every block
    * contribution an exact integer with NO division at all:
    * 2m = lo+hi per tie block, so 4ΣR²_cur = Σ cc·(lo+hi)² and the
    * contra side is Σ cc·(2(N+1)−lo−hi)² — DECIMAL(38,0) products
    * (≤ 4N³ per cell), summed order-free, one sqrt-chain readout.
    */
  def cucconiReportFromCounts(cnt: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
      .withColumn("f", col("cr") + col("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    val scored = b.select(col("event_type"), col("cc"), col("f"),
        sum(col("f")).over(cum).as("hi"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .withColumn("lo", col("hi") - col("f") + 1L)
      .withColumn("nn", col("nr") + col("nc"))
      .withColumn("r4", expr(
        "cc * (CAST(lo + hi AS DECIMAL(38,0)) * (lo + hi))"))
      .withColumn("s4", expr(
        "cc * (CAST(2 * (nn + 1) - lo - hi AS DECIMAL(38,0)) * " +
          "(2 * (nn + 1) - lo - hi))"))
    val g = scored.groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        min(col("nn")).as("nn"), sum(col("r4")).as("qr"),
        sum(col("s4")).as("qs"))
    def nD = dd(col("nn"))
    val sd = sqrt(dd(col("n_ref")) * dd(col("n_cur")) * (nD + 1.0) *
      (lit(2.0) * nD + 1.0) * (lit(8.0) * nD + 11.0) / 5.0)
    val u = (lit(6.0) * dd(col("qr")) / 4.0 -
      dd(col("n_cur")) * (nD + 1.0) * (lit(2.0) * nD + 1.0)) / sd
    val v = (lit(6.0) * dd(col("qs")) / 4.0 -
      dd(col("n_cur")) * (nD + 1.0) * (lit(2.0) * nD + 1.0)) / sd
    val rho = lit(2.0) * (nD * nD - 4.0) /
      ((lit(2.0) * nD + 1.0) * (lit(8.0) * nD + 11.0)) - 1.0
    val ok = col("n_ref") > 0L && col("n_cur") > 0L && col("nn") > 2L
    g.select(col("event_type"), col("n_ref"), col("n_cur"),
        when(ok, round(u, 4)).as("u"),
        when(ok, round(v, 4)).as("v"),
        when(ok, round((u * u + v * v - lit(2.0) * rho * u * v) /
          (lit(2.0) * (lit(1.0) - rho * rho)), 4)).as("cucconi_c"))
      .orderBy(col("event_type"))
  }

  /** x295's Ansari–Bradley scale test over the same cells — the
    * LINEAR-score scale member beside x282's squared-rank Mood (AB
    * scores min(r, N+1−r): center-folded ranks, the classical
    * dispersion test whose null distribution is tabulated everywhere;
    * Mood's squares weight tails harder, AB is the robust default).
    * Ties take the standard AVERAGE-SCORE convention, computed
    * exactly: doubled scores 2·a(r) = (N+1) − |2r − (N+1)| sum over
    * a tie block [lo, hi] in closed triangular form (split at the
    * fold (N+1) DIV 2, GREATEST/LEAST guards — all integers), and
    * the cur arm takes cc/f of each block's doubled sum by
    * DECIMAL(38,0) floor division (x282's m4_t pattern). The doubled
    * statistic publishes as a STRING (the m4 lesson: ~n_c·N/2
    * outgrows BIGINT at ~6×10⁹ pooled events — loud, not wrapped);
    * z uses the classical parity-split moments.
    */
  def ansariReportFromCounts(cnt: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
      .withColumn("f", col("cr") + col("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    val scored = b.select(col("event_type"), col("cc"), col("f"),
        sum(col("f")).over(cum).as("hi"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .withColumn("lo", col("hi") - col("f") + 1L)
      .withColumn("nn", col("nr") + col("nc"))
      // Σ|2r−(N+1)| over [lo,hi]: below-the-fold leg + above leg,
      // each a triangular closed form; the fold is (N+1) DIV 2
      .withColumn("b_end", least(col("hi"), expr("(nn + 1) DIV 2")))
      .withColumn("a_start", greatest(col("lo"), expr("(nn + 1) DIV 2 + 1")))
      // position products widened to DECIMAL(38,0) BEFORE the
      // multiply (hi·(hi+1) wraps a BIGINT at pooled N ≈ 3×10⁹)
      .withColumn("abs2", expr(
        "COALESCE(CASE WHEN b_end >= lo THEN " +
          "(b_end - lo + 1) * CAST(nn + 1 AS DECIMAL(38,0)) - " +
          "(CAST(b_end AS DECIMAL(38,0)) * (b_end + 1) - " +
          "CAST(lo - 1 AS DECIMAL(38,0)) * lo) END, 0) + " +
          "COALESCE(CASE WHEN hi >= a_start THEN " +
          "(CAST(hi AS DECIMAL(38,0)) * (hi + 1) - " +
          "CAST(a_start - 1 AS DECIMAL(38,0)) * a_start) - " +
          "(hi - a_start + 1) * CAST(nn + 1 AS DECIMAL(38,0)) END, 0)"))
      .withColumn("blk2", expr(
        "CAST(f AS DECIMAL(38,0)) * (nn + 1) - abs2"))
      .withColumn("ab2_t", when(col("f") > 0L, expr(
        "CAST((cc * blk2 - cc * blk2 % CAST(f AS DECIMAL(38,0))) / " +
          "CAST(f AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
        .otherwise(lit(0).cast("decimal(38,0)")))
    val g = scored.groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        min(col("nn")).as("nn"), sum(col("ab2_t")).as("ab2"))
    // doubled moments: E[2A] and Var[2A] = 4·Var[A], parity-split
    def nD = dd(col("nn"))
    val even = col("nn") % 2L === 0L
    val e2 = when(even, dd(col("n_cur")) * (nD + 2.0) / 2.0)
      .otherwise(dd(col("n_cur")) * (nD + 1.0) * (nD + 1.0) / (lit(2.0) * nD))
    val v4 = when(even, dd(col("n_ref")) * dd(col("n_cur")) * (nD + 2.0) *
        (nD - 2.0) / (lit(12.0) * (nD - 1.0)))
      .otherwise(dd(col("n_ref")) * dd(col("n_cur")) * (nD + 1.0) *
        (lit(3.0) + nD * nD) / (lit(12.0) * nD * nD))
    g.select(col("event_type"), col("n_ref"), col("n_cur"),
        col("ab2").cast("string").as("ab2"),
        when(col("n_ref") > 0L && col("n_cur") > 0L && col("nn") > 2L,
          round((dd(col("ab2")) - e2) / sqrt(v4), 4)).as("z"))
      .orderBy(col("event_type"))
  }

  /** x298's k-SAMPLE Anderson–Darling across the event types — the
    * omnibus "do ALL the types share one value distribution" test
    * beside the per-pair drift family (x217 KW asks it for location,
    * x246 Bartlett / x229 BF for scale; the k-sample AD asks it for
    * the whole EDF, tails included — the screen that says WHETHER to
    * bother with pairwise drill-downs). Scholz–Stephens eq. (3), the
    * right-continuous (non-midrank) version, over a zero-filled
    * bucket×type spine (types·buckets ≤ a few thousand cells —
    * support grain): A² = Σ_i (1/n_i) Σ_{j:B_j<N} l_j·D_ij² /
    * (N·B_j(N−B_j)) with D_ij = N·M_ij − n_i·B_j exact
    * DECIMAL(38,0). Per-cell quotients on x293's two-step 10⁻⁶
    * floor grid; the per-type 1/n_i divisions are integer floors on
    * the SAME grid, so the final k-term sum is order-free exact.
    * D² ≤ (N²/4)² keeps every intermediate inside 38 digits to
    * N ≈ 6×10⁹ pooled events — past that, overflow is loud (NULL /
    * raise), never a silent wrap. The standardization's harmonic
    * sums are corpus-sized (Σ1/i to N) and deliberately omitted:
    * the published statistic is A² beside its null expectation k−1.
    * Takes the (event_type, half, bucket, c) frame and collapses
    * halves, so the s66 twin rides the SAME maintained state as the
    * rest of the drift family.
    */
  def adKsampleReport(cnt: DataFrame): DataFrame = {
    val cells = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    val types = cells.select(col("event_type")).distinct()
    val buckets = cells.select(col("bucket")).distinct()
    val spine = types.crossJoin(buckets)
      .join(cells, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("c"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pooled per-bucket mass and its cumulative ride the bucket
    // spine (support-bounded global window, the x243 ECDF pattern)
    val perBucket = cells.groupBy(col("bucket")).agg(sum(col("c")).as("l"))
      .withColumn("bb", sum(col("l")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perType = cells.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_i"))
    val tot = cells.agg(sum(col("c")).as("nn"))
    val j = spine
      .withColumn("m", sum(col("c")).over(byType))
      .select(col("event_type"), col("bucket"), col("m"))
      .join(broadcast(perBucket), "bucket")
      .join(broadcast(perType), "event_type")
      .crossJoin(broadcast(tot))
      .filter(col("bb") < col("nn"))
      .withColumn("d", expr(
        "CAST(nn AS DECIMAL(38,0)) * m - CAST(n_i AS DECIMAL(38,0)) * bb"))
      .withColumn("den", expr(
        "CAST(nn AS DECIMAL(38,0)) * bb * (nn - bb)"))
      .withColumn("q_fp", expr(
        "CAST((d * d - (d * d) % den) / den AS DECIMAL(38,0)) * 1000000 + " +
          "CAST(((d * d) % den * 1000000 - " +
          "(d * d) % den * 1000000 % den) / den AS DECIMAL(38,0))"))
      .withColumn("t_fp", expr("l * q_fp"))
    val typeSums = j.groupBy(col("event_type"))
      .agg(min(col("n_i")).as("n_i"), min(col("nn")).as("nn"),
        sum(col("t_fp")).as("s_fp"))
      .withColumn("u_fp", expr(
        "CAST((s_fp - s_fp % n_i) / n_i AS DECIMAL(38,0))"))
    typeSums.agg(count(lit(1)).as("k_samples"),
        min(col("nn")).cast("long").as("n_total"),
        sum(col("u_fp")).as("a_fp"))
      .select(col("k_samples"), col("n_total"),
        round(col("a_fp").cast("double") / 1000000.0, 6).as("a2"),
        (col("k_samples") - 1L).as("e_a2"))
  }

  /** x282's Mood scale test (+ the Lepage-type combined readout)
    * over the SAME half/bucket frame: x146 detects a LOCATION shift
    * — a variance change with the same center slips right past it
    * (AUC stays ½); Mood's squared-rank scores a_i = (i − (N+1)/2)²
    * weight the tails, catching exactly that. Quadrupled scores
    * (2i − (N+1))² make every block sum an exact integer: a tie
    * block occupying pooled positions [lo, hi] contributes
    * S4 = 4(P(hi)−P(lo−1)) − 4c(T(hi)−T(lo−1)) + f·c² with
    * c = N+1, T(k) = k(k+1)/2, P(k) = k(k+1)(2k+1)/6 — no per-
    * observation branching, no midrank approximation (the naive
    * midrank-squared shortcut is WRONG for blocks straddling the
    * center; the block sum is exact for every block). The cur arm
    * takes cc/f of each block's sum via DECIMAL(38,0) floor
    * division, z uses the classical moments E[M4] = n_c(N²−1)/3,
    * Var[M4] = 4·n_r·n_c(N+1)(N²−4)/45 (untied σ — conservative,
    * x146's convention), and the combined location–scale readout is
    * the Lepage-type χ²₂ = z_MW² + z_scale² off x146's published z.
    */
  def moodScaleReportFromCounts(cnt: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val b = cnt.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === "ref", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("half") === "cur", col("c")).otherwise(0L)).as("cc"))
      .withColumn("f", col("cr") + col("cc"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    val scored = b.select(col("event_type"), col("cr"), col("cc"), col("f"),
        sum(col("f")).over(cum).as("hi"),
        sum(col("cr")).over(whole).as("nr"),
        sum(col("cc")).over(whole).as("nc"))
      .withColumn("lo", col("hi") - col("f") + 1L)
      .withColumn("nn", col("nr") + col("nc"))
      // S4 over the block [lo, hi] with c = N+1: the pyramidal
      // difference is divisible by 6 (the /6 is exact, re-cast to
      // scale 0), the triangular difference fits a BIGINT and its /2
      // is exact integer DIV
      .withColumn("s4", expr(
        "CAST(4 AS DECIMAL(38,0)) * " +
          "CAST((CAST(hi AS DECIMAL(38,0)) * (hi + 1) * (2 * hi + 1) - " +
          "CAST(lo - 1 AS DECIMAL(38,0)) * lo * (2 * lo - 1)) / 6 " +
          "AS DECIMAL(38,0)) - " +
          "CAST(nn + 1 AS DECIMAL(38,0)) * " +
          "(4 * ((hi * (hi + 1) - (lo - 1) * lo) DIV 2)) + " +
          "CAST(f AS DECIMAL(38,0)) * (nn + 1) * (nn + 1)"))
      .withColumn("m4_t", when(col("f") > 0L, expr(
        "CAST((cc * s4 - (cc * s4) % CAST(f AS DECIMAL(38,0))) / " +
          "CAST(f AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
        .otherwise(lit(0).cast("decimal(38,0)")))
    val mood = scored.groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        min(col("nn")).as("nn"), sum(col("m4_t")).as("m4"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        // published as STRING, not BIGINT: M4 ~ N³/6 for N pooled
        // events per type exceeds Long at roughly 4×10⁶ events —
        // about one decade above the gated sf0.1 scale — and a
        // BIGINT readout would wrap silently on Spark where DuckDB's
        // CAST raises. The internal DECIMAL(38,0) sum stays exact;
        // stringifying it is the one readout both engines carry
        // losslessly at any lake size (HUGEINT/DECIMAL degrade to
        // float64 through the oracle's pandas bridge).
        col("m4").cast("string").as("m4"),
        when(col("n_ref") > 0L && col("n_cur") > 0L && col("nn") > 2L,
          round((col("m4").cast("double") -
            dd(col("n_cur")) * (dd(col("nn")) * dd(col("nn")) - 1.0) / 3.0) /
            sqrt(lit(4.0) * dd(col("n_ref")) * dd(col("n_cur")) *
              (dd(col("nn")) + 1.0) *
              (dd(col("nn")) * dd(col("nn")) - 4.0) / 45.0), 4))
          .as("z_scale"))
    mood.join(mwReportFromCounts(cnt)
        .select(col("event_type"), col("z")), "event_type")
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("m4"),
        col("z_scale"),
        when(col("z_scale").isNotNull,
          round(col("z") * col("z") + col("z_scale") * col("z_scale"), 4))
          .as("lepage_chi2"))
      .orderBy(col("event_type"))
  }

  /** The (event_type, half, bucket) bucketing x98 and the s15
    * streaming monitor share: ref = the first 12 days, cur = the
    * rest, fixed width-10 value buckets clamped to the 50-bucket
    * spine. Per-(type, half, bucket) counts are ADDITIVE, which is
    * what lets s15 maintain the cur side incrementally.
    */
  def psiHalfCounts(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        when(col("ts") < lit("2024-01-13").cast("timestamp"), lit("ref"))
          .otherwise(lit("cur")).as("half"),
        least(floor(col("value") / 10).cast("long"), lit(49L)).as("bucket"))
      .groupBy(col("event_type"), col("half"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** x98's report stage (shared with s15): PSI per event_type from a
    * (event_type, half, bucket, c) count frame, add-one smoothed on
    * the full 50-bucket spine so empty buckets are defined and the
    * spine is engine-identical.
    */
  def psiReport(spark: SparkSession, cnt: DataFrame): DataFrame = {
    val spine = cnt.select(col("event_type")).distinct()
      .crossJoin(spark.range(0, 50).select(col("id").as("bucket")))
    val wide = spine
      .join(cnt.filter(col("half") === "ref")
        .select(col("event_type"), col("bucket"), col("c").as("cr")),
        Seq("event_type", "bucket"), "left")
      .join(cnt.filter(col("half") === "cur")
        .select(col("event_type"), col("bucket"), col("c").as("cc")),
        Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("cr", "cc"))
    val tot = wide.groupBy(col("event_type"))
      .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    val pc = (col("cc") + 1).cast("double") / (col("nc") + 50).cast("double")
    val pr = (col("cr") + 1).cast("double") / (col("nr") + 50).cast("double")
    wide.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("nr")).as("n_ref"), min(col("nc")).as("n_cur"),
        round(sum((pc - pr) * log(pc / pr)), 4).as("psi"))
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("psi"),
        (col("psi") < 0.1).as("stable"))
  }

  /** p12's one-pass event-check aggregate (shared with the s14
    * streaming maintainer): ONE row with the event row count and the
    * violation count of every event expectation. c1/c3..c7 are
    * per-row predicates, so they sum ADDITIVELY across any batch
    * decomposition — the property s14's incremental merge relies on.
    * c2 (uniqueness) is count−countDistinct: correct on a full frame
    * (p12), NOT additive — s14 replaces it with its maintained
    * id-set novelty count.
    */
  def eventCheckCounters(df: DataFrame): DataFrame = df.agg(
    count(lit(1)).as("n_rows"),
    sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("c1"),
    (count(lit(1)) - countDistinct(col("event_id"))).as("c2"),
    sum(when(col("ts") < lit("2024-01-01").cast("timestamp") ||
      col("ts") >= lit("2025-01-01").cast("timestamp"), 1L)
      .otherwise(0L)).as("c3"),
    sum(when(col("event_type").isNull ||
      !col("event_type").isin("click", "error", "purchase", "signup", "view"),
      1L).otherwise(0L)).as("c4"),
    sum(when(col("value").isNull || col("value") <= 0, 1L)
      .otherwise(0L)).as("c5"),
    sum(when(col("value") > 400, 1L).otherwise(0L)).as("c6"),
    sum(when(get_json_object(col("props"), "$.k").isNull, 1L)
      .otherwise(0L)).as("c7"))

  /** p08's body (shared with the s11 streaming maintainer): collapse
    * an event frame into SCD2 runs. Input needs (user_id, event_id,
    * ts, event_type); (ts, event_id) totally orders each key, so run
    * numbering is a pure function of the key's event SET — which is
    * what lets s11 recompute a key from any batch decomposition and
    * land on identical rows.
    */
  def scd2History(events: DataFrame): DataFrame = {
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byRun = Window.partitionBy(col("user_id")).orderBy(col("run"))
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTs).isNull ||
          lag(col("event_type"), 1).over(byTs) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg")).over(byTs))
      .groupBy(col("user_id"), col("run"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byRun))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("is_current"), col("n_events"))
  }

  val oracles: Map[String, String] = Map(
    "p01_pipeline_topk" ->
      ("SELECT user_id AS pickup_location_id, counts AS trips FROM (" +
        "SELECT user_id, COUNT(*) AS counts FROM events GROUP BY user_id " +
        "ORDER BY counts DESC, user_id LIMIT 200) t " +
        "ORDER BY trips DESC, pickup_location_id"),
    "p02_incremental_refresh" ->
      ("SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS date, event_type, " +
        "COUNT(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // incremental maintenance correctness: merged(base, delta) must
    // equal the full-range batch aggregate
    "p05_merge_upsert" ->
      ("SELECT user_id, COUNT(*) AS n, MAX(ts) AS last_ts FROM events " +
        "GROUP BY user_id ORDER BY user_id"),
    // one aggregate row per table expanded by UNION ALL (DuckDB's
    // stack()); anti-joins as NOT EXISTS; json_extract_string mirrors
    // get_json_object's missing-key NULL
    "p12_dq_expectations" ->
      ("WITH ev AS (SELECT COUNT(*) AS n_rows, " +
        "COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS c1, " +
        "COUNT(*) - COUNT(DISTINCT event_id) AS c2, " +
        "COUNT(CASE WHEN ts < TIMESTAMP '2024-01-01' OR ts >= TIMESTAMP '2025-01-01' THEN 1 END) AS c3, " +
        "COUNT(CASE WHEN event_type IS NULL OR event_type NOT IN " +
        "('click','error','purchase','signup','view') THEN 1 END) AS c4, " +
        "COUNT(CASE WHEN value IS NULL OR value <= 0 THEN 1 END) AS c5, " +
        "COUNT(CASE WHEN value > 400 THEN 1 END) AS c6, " +
        "COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS c7 " +
        "FROM events), " +
        "dn AS (SELECT COUNT(*) AS n_rows FROM documents), " +
        "en AS (SELECT COUNT(*) AS n_rows FROM embeddings), " +
        "r AS (" +
        "SELECT 'events' AS table_name, 'event_id_not_null' AS check_name, c1 AS violations, n_rows FROM ev " +
        "UNION ALL SELECT 'events', 'event_id_unique', c2, n_rows FROM ev " +
        "UNION ALL SELECT 'events', 'ts_in_2024', c3, n_rows FROM ev " +
        "UNION ALL SELECT 'events', 'event_type_in_domain', c4, n_rows FROM ev " +
        "UNION ALL SELECT 'events', 'value_positive', c5, n_rows FROM ev " +
        "UNION ALL SELECT 'events', 'value_le_400', c6, n_rows FROM ev " +
        "UNION ALL SELECT 'events', 'props_has_k', c7, n_rows FROM ev " +
        "UNION ALL SELECT 'documents', 'doc_has_embedding', " +
        "(SELECT COUNT(*) FROM documents d WHERE NOT EXISTS " +
        "(SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)), n_rows FROM dn " +
        "UNION ALL SELECT 'embeddings', 'dim_is_64', " +
        "(SELECT COUNT(*) FROM embeddings WHERE len(embedding) <> 64), n_rows FROM en " +
        "UNION ALL SELECT 'embeddings', 'label_not_null', " +
        "(SELECT COUNT(*) FROM embeddings WHERE label IS NULL), n_rows FROM en " +
        "UNION ALL SELECT 'embeddings', 'vec_has_document', " +
        "(SELECT COUNT(*) FROM embeddings e WHERE NOT EXISTS " +
        "(SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)), n_rows FROM en) " +
        "SELECT table_name, check_name, CAST(violations AS BIGINT) AS violations, " +
        "CAST(n_rows AS BIGINT) AS n_rows, violations = 0 AS passed " +
        "FROM r ORDER BY table_name, check_name"),
    // same fixed 50-bucket spine, add-one smoothing and per-type
    // rollup; COALESCE mirrors na.fill, CASTs pin the double division
    "x98_psi_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 'ref' ELSE 'cur' END AS half, " +
        "LEAST(CAST(FLOOR(value / 10) AS BIGINT), 49) AS bucket FROM events), " +
        "cnt AS (SELECT event_type, half, bucket, COUNT(*) AS c FROM ev GROUP BY 1, 2, 3), " +
        "spine AS (SELECT DISTINCT event_type, b AS bucket FROM ev, " +
        "(SELECT unnest(range(50)) AS b)), " +
        "w AS (SELECT s.event_type, s.bucket, " +
        "COALESCE(r.c, 0) AS cr, COALESCE(u.c, 0) AS cc FROM spine s " +
        "LEFT JOIN cnt r ON r.event_type = s.event_type AND r.bucket = s.bucket AND r.half = 'ref' " +
        "LEFT JOIN cnt u ON u.event_type = s.event_type AND u.bucket = s.bucket AND u.half = 'cur'), " +
        "tot AS (SELECT event_type, CAST(SUM(cr) AS BIGINT) AS nr, " +
        "CAST(SUM(cc) AS BIGINT) AS nc FROM w GROUP BY 1), " +
        "f AS (SELECT w.event_type, nr, nc, " +
        "(cc + 1) / CAST(nc + 50 AS DOUBLE) AS pc, " +
        "(cr + 1) / CAST(nr + 50 AS DOUBLE) AS pr " +
        "FROM w JOIN tot USING (event_type)) " +
        "SELECT event_type, nr AS n_ref, nc AS n_cur, " +
        "ROUND(SUM((pc - pr) * LN(pc / pr)), 4) AS psi, " +
        "ROUND(SUM((pc - pr) * LN(pc / pr)), 4) < 0.1 AS stable " +
        "FROM f GROUP BY event_type, nr, nc ORDER BY event_type"),
    // same discrete quantile bounds, clamp, and exact decimal
    // accumulation with one division per mean
    "x141_winsorized_mean" ->
      ("WITH b AS (SELECT event_type, quantile_disc(value, 0.05) AS lo, " +
        "quantile_disc(value, 0.95) AS hi FROM events GROUP BY 1), " +
        "w AS (SELECT e.event_type, e.value, b.lo, b.hi, " +
        "GREATEST(LEAST(e.value, b.hi), b.lo) AS w " +
        "FROM events e JOIN b USING (event_type)) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "ROUND(MIN(lo), 2) AS lo, ROUND(MIN(hi), 2) AS hi, " +
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 4) AS raw_mean, " +
        "ROUND(CAST(SUM(CAST(w AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 4) AS wins_mean " +
        "FROM w GROUP BY 1 ORDER BY 1"),
    // same cross-multiplied deviations, prefix sum and running
    // min/max drawup form, same integer alarm compare
    "x138_cusum_anomaly" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, x, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days FROM d), " +
        "s AS (SELECT event_type, day, x, total, n_days, " +
        "CAST(SUM(x * n_days - total) OVER (PARTITION BY event_type " +
        "ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s FROM w), " +
        "m AS (SELECT event_type, day, x, total, n_days, s, " +
        "MIN(s) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS s_min, " +
        "MAX(s) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS s_max FROM s) " +
        "SELECT event_type, CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x, " +
        "ROUND(CAST(s - s_min AS DOUBLE) / CAST(n_days AS DOUBLE), 2) AS cusum_up, " +
        "ROUND(CAST(s_max - s AS DOUBLE) / CAST(n_days AS DOUBLE), 2) AS cusum_dn, " +
        "s - s_min > total * 2 AS alarm " +
        "FROM m ORDER BY event_type, day"),
    // same grid, same integer cumulative window sums, same
    // cross-multiplied sup numerator and two final division chains
    "x133_ks_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "c AS (SELECT event_type, " +
        "SUM(cr) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_r, " +
        "SUM(cc) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_c, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b), " +
        "a AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, " +
        "CAST(MAX(ABS(cum_r * nc - cum_c * nr)) AS BIGINT) AS d_num " +
        "FROM c GROUP BY 1) " +
        "SELECT event_type, n_ref, n_cur, " +
        "ROUND(CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE), 4) AS ks, " +
        "ROUND(1.358 * SQRT(CAST(n_ref + n_cur AS DOUBLE) / " +
        "CAST(n_ref * n_cur AS DOUBLE)), 4) AS d_crit, " +
        "ROUND(CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE), 4) > " +
        "ROUND(1.358 * SQRT(CAST(n_ref + n_cur AS DOUBLE) / " +
        "CAST(n_ref * n_cur AS DOUBLE)), 4) AS drifted " +
        "FROM a ORDER BY event_type"),
    // same prefix-sum candidates, same HUGEINT floor-division argmax
    // key with day-ascending tiebreak, same double readout
    "x225_binseg_changepoint" ->
      ("WITH daily AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, x, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS sx, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_l, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sx_l FROM daily), " +
        "cand AS (SELECT event_type, day, n, n_l, n - n_l AS n_r, sx_l, " +
        "sx - sx_l AS sx_r, (n - n_l) * sx_l - n_l * (sx - sx_l) AS ad " +
        "FROM w WHERE n_l < n), " +
        "k AS (SELECT *, (CAST(ad AS HUGEINT) * ad) // (n_l * n_r) AS key FROM cand), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type " +
        "ORDER BY key DESC, day) AS rk FROM k) " +
        "SELECT event_type, CAST(day AS BIGINT) AS split_after_day, n_l, n_r, " +
        "ROUND(CAST(sx_l AS DOUBLE) / CAST(n_l AS DOUBLE), 4) AS mean_l, " +
        "ROUND(CAST(sx_r AS DOUBLE) / CAST(n_r AS DOUBLE), 4) AS mean_r, " +
        "ROUND(CAST(ad AS DOUBLE) * CAST(ad AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n_l AS DOUBLE) * CAST(n_r AS DOUBLE)), 4) AS gain " +
        "FROM r WHERE rk = 1 ORDER BY event_type"),
    // x133's bins and cumulative windows re-used; 2U as an exact
    // integer sum, the untied-σ z chain, and the |z| > 1.96 flag
    // cross-multiplied into HUGEINT (the Spark side's DECIMAL(38,0))
    "x146_mannwhitney_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "c AS (SELECT event_type, cr, cc, " +
        "SUM(cr) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_r, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b), " +
        "a AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, " +
        "CAST(SUM(cc * (2 * (cum_r - cr) + cr)) AS BIGINT) AS u2 " +
        "FROM c GROUP BY 1) " +
        "SELECT event_type, n_ref, n_cur, u2, " +
        "ROUND(CAST(u2 AS DOUBLE) / (2.0 * n_ref * n_cur), 4) AS auc, " +
        "ROUND(CAST(u2 - n_ref * n_cur AS DOUBLE) / " +
        "(2.0 * SQRT(CAST(n_ref * n_cur * (n_ref + n_cur + 1) AS DOUBLE) " +
        "/ 12.0)), 4) AS z, " +
        "30000 * CAST(u2 - n_ref * n_cur AS HUGEINT) * " +
        "CAST(u2 - n_ref * n_cur AS HUGEINT) > " +
        "38416 * CAST(n_ref AS HUGEINT) * n_cur * (n_ref + n_cur + 1) " +
        "AS drifted " +
        "FROM a ORDER BY event_type"),
    // x146's half/bucket chain; d²/(n_r·n_c) floored first (HUGEINT
    // // ≡ the subtract-remainder form on nonnegative d²), one final
    // division by N²
    "x281_cvm_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "c AS (SELECT event_type, cr, cc, " +
        "SUM(cr) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_r, " +
        "SUM(cc) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_c, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b), " +
        "q AS (SELECT event_type, nr, nc, (cr + cc) * " +
        "((CAST(cum_r AS HUGEINT) * nc - CAST(cum_c AS HUGEINT) * nr) * " +
        "(CAST(cum_r AS HUGEINT) * nc - CAST(cum_c AS HUGEINT) * nr) // " +
        "(CAST(nr AS HUGEINT) * nc)) AS t_num FROM c), " +
        "a AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, SUM(t_num) AS t_sum FROM q GROUP BY 1) " +
        "SELECT event_type, n_ref, n_cur, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 THEN " +
        "ROUND(CAST(t_sum AS DOUBLE) / " +
        "(CAST(n_ref + n_cur AS DOUBLE) * (n_ref + n_cur)), 6) END AS cvm_t " +
        "FROM a ORDER BY event_type"),
    // same half/bucket chain and cross statistic D as x281; the
    // per-cell quotient on the same two-step 10^-6 floor grid, the
    // B = N tail cell excluded (numerator identically 0)
    "x293_ad_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "c AS (SELECT event_type, cr, cc, " +
        "SUM(cr) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_r, " +
        "SUM(cc) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_c, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b), " +
        "q AS (SELECT event_type, cr, cc, nr, nc, " +
        "cum_r + cum_c AS bb, nr + nc AS nn, " +
        "CAST(cum_r AS HUGEINT) * nc - CAST(cum_c AS HUGEINT) * nr AS d, " +
        "CAST(cum_r + cum_c AS HUGEINT) * (nr + nc - cum_r - cum_c) AS den " +
        "FROM c), " +
        "t AS (SELECT event_type, nr, nc, (cr + cc) * " +
        "((d * d) // den * 1000000 + (d * d) % den * 1000000 // den) AS t_fp " +
        "FROM q WHERE bb < nn), " +
        "a AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, SUM(t_fp) AS s_fp FROM t GROUP BY 1) " +
        "SELECT event_type, n_ref, n_cur, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 THEN " +
        "ROUND(CAST(s_fp AS DOUBLE) / (CAST(n_ref AS DOUBLE) * " +
        "CAST(n_cur AS DOUBLE) * 1000000.0), 6) END AS ad_a2 " +
        "FROM a ORDER BY event_type"),
    // same cells; quadrupled MIDRANKS (2m = lo+hi — exact integers,
    // no division), same classical U/V moments and exact rho
    "x294_cucconi" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "b2 AS (SELECT *, cr + cc AS f FROM b), " +
        "c AS (SELECT event_type, cc, f, " +
        "SUM(f) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS hi, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b2), " +
        "s AS (SELECT event_type, cc, hi, hi - f + 1 AS lo, nr, nc, " +
        "nr + nc AS nn FROM c), " +
        "k AS (SELECT event_type, nr, nc, nn, " +
        "cc * (CAST(lo + hi AS HUGEINT) * (lo + hi)) AS r4, " +
        "cc * (CAST(2 * (nn + 1) - lo - hi AS HUGEINT) * " +
        "(2 * (nn + 1) - lo - hi)) AS s4 FROM s), " +
        "g AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, CAST(MIN(nn) AS BIGINT) AS nn, " +
        "SUM(r4) AS qr, SUM(s4) AS qs FROM k GROUP BY 1), " +
        "z AS (SELECT event_type, n_ref, n_cur, nn, " +
        "(6.0 * CAST(qr AS DOUBLE) / 4.0 - CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) + 1.0) * (2.0 * CAST(nn AS DOUBLE) + 1.0)) / " +
        "SQRT(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) + 1.0) * (2.0 * CAST(nn AS DOUBLE) + 1.0) * " +
        "(8.0 * CAST(nn AS DOUBLE) + 11.0) / 5.0) AS u, " +
        "(6.0 * CAST(qs AS DOUBLE) / 4.0 - CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) + 1.0) * (2.0 * CAST(nn AS DOUBLE) + 1.0)) / " +
        "SQRT(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) + 1.0) * (2.0 * CAST(nn AS DOUBLE) + 1.0) * " +
        "(8.0 * CAST(nn AS DOUBLE) + 11.0) / 5.0) AS v, " +
        "2.0 * (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - 4.0) / " +
        "((2.0 * CAST(nn AS DOUBLE) + 1.0) * " +
        "(8.0 * CAST(nn AS DOUBLE) + 11.0)) - 1.0 AS rho FROM g) " +
        "SELECT event_type, n_ref, n_cur, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 AND nn > 2 THEN ROUND(u, 4) END AS u, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 AND nn > 2 THEN ROUND(v, 4) END AS v, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 AND nn > 2 THEN " +
        "ROUND((u * u + v * v - 2.0 * rho * u * v) / " +
        "(2.0 * (1.0 - rho * rho)), 4) END AS cucconi_c " +
        "FROM z ORDER BY event_type"),
    // same cells; doubled folded scores in exact triangular closed
    // forms (HUGEINT operands), the m4_t floor-divided cur share,
    // parity-split classical moments, string readout
    "x295_ansari_bradley" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "b2 AS (SELECT *, cr + cc AS f FROM b), " +
        "c AS (SELECT event_type, cc, f, " +
        "SUM(f) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS hi, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b2), " +
        "s AS (SELECT event_type, cc, f, hi, hi - f + 1 AS lo, nr, nc, " +
        "nr + nc AS nn FROM c), " +
        "k AS (SELECT *, LEAST(hi, (nn + 1) // 2) AS b_end, " +
        "GREATEST(lo, (nn + 1) // 2 + 1) AS a_start FROM s), " +
        "m AS (SELECT event_type, cc, f, nr, nc, nn, " +
        "COALESCE(CASE WHEN b_end >= lo THEN " +
        "(b_end - lo + 1) * CAST(nn + 1 AS HUGEINT) - " +
        "(CAST(b_end AS HUGEINT) * (b_end + 1) - " +
        "CAST(lo - 1 AS HUGEINT) * lo) END, 0) + " +
        "COALESCE(CASE WHEN hi >= a_start THEN " +
        "(CAST(hi AS HUGEINT) * (hi + 1) - " +
        "CAST(a_start - 1 AS HUGEINT) * a_start) - " +
        "(hi - a_start + 1) * CAST(nn + 1 AS HUGEINT) END, 0) AS abs2 FROM k), " +
        "t AS (SELECT event_type, nr, nc, nn, " +
        "CASE WHEN f > 0 THEN (cc * (CAST(f AS HUGEINT) * (nn + 1) - abs2)) " +
        "// CAST(f AS HUGEINT) ELSE 0 END AS ab2_t FROM m), " +
        "g AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, CAST(MIN(nn) AS BIGINT) AS nn, " +
        "SUM(ab2_t) AS ab2 FROM t GROUP BY 1) " +
        "SELECT event_type, n_ref, n_cur, CAST(ab2 AS VARCHAR) AS ab2, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 AND nn > 2 THEN " +
        "ROUND((CAST(ab2 AS DOUBLE) - CASE WHEN nn % 2 = 0 THEN " +
        "CAST(n_cur AS DOUBLE) * (CAST(nn AS DOUBLE) + 2.0) / 2.0 ELSE " +
        "CAST(n_cur AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) * " +
        "(CAST(nn AS DOUBLE) + 1.0) / (2.0 * CAST(nn AS DOUBLE)) END) / " +
        "SQRT(CASE WHEN nn % 2 = 0 THEN CAST(n_ref AS DOUBLE) * " +
        "CAST(n_cur AS DOUBLE) * (CAST(nn AS DOUBLE) + 2.0) * " +
        "(CAST(nn AS DOUBLE) - 2.0) / (12.0 * (CAST(nn AS DOUBLE) - 1.0)) " +
        "ELSE CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) + 1.0) * (3.0 + CAST(nn AS DOUBLE) * " +
        "CAST(nn AS DOUBLE)) / (12.0 * CAST(nn AS DOUBLE) * " +
        "CAST(nn AS DOUBLE)) END), 4) END AS z " +
        "FROM g ORDER BY event_type"),
    // same bucket cells pooled across types, same zero-filled
    // type×bucket spine, same two-step 10^-6 grid per cell and the
    // integer-floored per-type 1/n_i shares
    "x298_ad_ksample" ->
      ("WITH ev AS (SELECT event_type, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "cells AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM ev GROUP BY 1, 2), " +
        "types AS (SELECT DISTINCT event_type FROM cells), " +
        "bks AS (SELECT DISTINCT bucket FROM cells), " +
        "spine AS (SELECT t.event_type, b.bucket, COALESCE(c.c, 0) AS c " +
        "FROM types t CROSS JOIN bks b LEFT JOIN cells c " +
        "ON c.event_type = t.event_type AND c.bucket = b.bucket), " +
        "mm AS (SELECT event_type, bucket, " +
        "SUM(c) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS m FROM spine), " +
        "pb AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS l " +
        "FROM cells GROUP BY 1), " +
        "pb2 AS (SELECT bucket, l, SUM(l) OVER (ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS bb FROM pb), " +
        "pt AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_i " +
        "FROM cells GROUP BY 1), " +
        "tt AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells), " +
        "j AS (SELECT mm.event_type, mm.m, pb2.l, pb2.bb, pt.n_i, tt.nn " +
        "FROM mm JOIN pb2 USING (bucket) JOIN pt USING (event_type) " +
        "CROSS JOIN tt), " +
        "q AS (SELECT event_type, n_i, nn, l, " +
        "CAST(nn AS HUGEINT) * m - CAST(n_i AS HUGEINT) * bb AS d, " +
        "CAST(nn AS HUGEINT) * bb * (nn - bb) AS den FROM j WHERE bb < nn), " +
        "t AS (SELECT event_type, n_i, nn, l * ((d * d) // den * 1000000 + " +
        "(d * d) % den * 1000000 // den) AS t_fp FROM q), " +
        "g AS (SELECT event_type, MIN(n_i) AS n_i, MIN(nn) AS nn, " +
        "SUM(t_fp) AS s_fp FROM t GROUP BY 1), " +
        "u AS (SELECT event_type, nn, s_fp // CAST(n_i AS HUGEINT) AS u_fp " +
        "FROM g) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS k_samples, " +
        "CAST(MIN(nn) AS BIGINT) AS n_total, " +
        "ROUND(CAST(SUM(u_fp) AS DOUBLE) / 1000000.0, 6) AS a2, " +
        "CAST(COUNT(*) - 1 AS BIGINT) AS e_a2 FROM u"),
    // same half/bucket chain; exact block score sums (// 6 and // 2
    // are exact — the differences are divisible), same floor-divided
    // cur share, same classical moments, x146's z squared in
    "x282_mood_scale" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref, " +
        "GREATEST(LEAST(CAST(FLOOR(value) AS BIGINT), 499), 0) AS bucket " +
        "FROM events), " +
        "b AS (SELECT event_type, bucket, CAST(SUM(is_ref) AS BIGINT) AS cr, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS cc FROM ev GROUP BY 1, 2), " +
        "b2 AS (SELECT *, cr + cc AS f FROM b), " +
        "c AS (SELECT event_type, bucket, cr, cc, f, " +
        "SUM(f) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS hi, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b2), " +
        "s AS (SELECT event_type, cr, cc, f, hi, hi - f + 1 AS lo, " +
        "nr, nc, nr + nc AS nn FROM c), " +
        "k AS (SELECT event_type, nr, nc, nn, " +
        "(cc * (4 * ((CAST(hi AS HUGEINT) * (hi + 1) * (2 * hi + 1) - " +
        "CAST(lo - 1 AS HUGEINT) * lo * (2 * lo - 1)) // 6) - " +
        "CAST(nn + 1 AS HUGEINT) * (4 * ((hi * (hi + 1) - (lo - 1) * lo) // 2)) + " +
        "CAST(f AS HUGEINT) * (nn + 1) * (nn + 1))) // CAST(f AS HUGEINT) AS m4_t " +
        "FROM s), " +
        "a AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, CAST(MIN(nn) AS BIGINT) AS nn, " +
        "SUM(m4_t) AS m4 FROM k GROUP BY 1), " +
        "zz AS (SELECT event_type, n_ref, n_cur, CAST(m4 AS VARCHAR) AS m4, " +
        "CASE WHEN n_ref > 0 AND n_cur > 0 AND nn > 2 THEN " +
        "ROUND((CAST(m4 AS DOUBLE) - CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - 1.0) / 3.0) / " +
        "SQRT(4.0 * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) + 1.0) * " +
        "(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - 4.0) / 45.0), 4) END AS z_scale " +
        "FROM a), " +
        "m0 AS (SELECT event_type, cr, cc, " +
        "SUM(cr) OVER (PARTITION BY event_type ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_r, " +
        "SUM(cr) OVER (PARTITION BY event_type) AS nr, " +
        "SUM(cc) OVER (PARTITION BY event_type) AS nc FROM b2), " +
        "m1 AS (SELECT event_type, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, " +
        "CAST(SUM(cc * (2 * (cum_r - cr) + cr)) AS BIGINT) AS u2 FROM m0 GROUP BY 1), " +
        "m AS (SELECT event_type, ROUND(CAST(u2 - n_ref * n_cur AS DOUBLE) / " +
        "(2.0 * SQRT(CAST(n_ref * n_cur * (n_ref + n_cur + 1) AS DOUBLE) " +
        "/ 12.0)), 4) AS z FROM m1) " +
        "SELECT zz.event_type, n_ref, n_cur, m4, z_scale, " +
        "CASE WHEN z_scale IS NOT NULL THEN " +
        "ROUND(m.z * m.z + z_scale * z_scale, 4) END AS lepage_chi2 " +
        "FROM zz JOIN m ON m.event_type = zz.event_type ORDER BY zz.event_type"),
    // x138's centered-integer day frame; one LEAD pass per lag, exact
    // numerator/denominator, the zero-variance NULL guard
    "x152_acf" -> {
      def lagCte(k: Int): String =
        s"l$k AS (SELECT event_type, CAST(SUM(c * cl) AS BIGINT) AS num, " +
          s"$k AS lag FROM (SELECT event_type, c, LEAD(c, $k) OVER " +
          "(PARTITION BY event_type ORDER BY day) AS cl FROM c) " +
          "WHERE cl IS NOT NULL GROUP BY 1)"
      "WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, x, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total FROM d), " +
        "c AS (SELECT event_type, day, n_days, x * n_days - total AS c FROM w), " +
        "den AS (SELECT event_type, CAST(MIN(n_days) AS BIGINT) AS n_days, " +
        "CAST(SUM(c * c) AS BIGINT) AS den FROM c GROUP BY 1), " +
        lagCte(1) + ", " + lagCte(2) + ", " + lagCte(3) + ", " +
        "ll AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2 " +
        "UNION ALL SELECT * FROM l3) " +
        "SELECT ll.event_type, CAST(lag AS INTEGER) AS lag, den.n_days, " +
        "CASE WHEN den <> 0 THEN " +
        "ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) END AS acf " +
        "FROM ll JOIN den USING (event_type) ORDER BY ll.event_type, lag"
    },
    // x152's centered day frame, the three exact num/den pairs
    // pivoted wide, ONE fixed double Q expression, frozen critical
    // value
    // same stratum-keyed pair join, same per-stratum tie algebra,
    // same continuity-corrected z
    "x275_seasonal_mk" ->
      ("WITH d0 AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "d AS (SELECT event_type, day, day % 7 AS dow, x FROM d0), " +
        "p AS (SELECT a.event_type, " +
        "CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM d a JOIN d b ON b.event_type = a.event_type " +
        "AND b.dow = a.dow AND a.day < b.day GROUP BY 1), " +
        "nd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_s " +
        "FROM d GROUP BY 1, 2), " +
        "tt AS (SELECT event_type, dow, " +
        "CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term FROM (" +
        "SELECT event_type, dow, x, CAST(COUNT(*) AS BIGINT) AS t " +
        "FROM d GROUP BY 1, 2, 3) q GROUP BY 1, 2), " +
        "v AS (SELECT nd.event_type, " +
        "CAST(SUM(n_s * (n_s - 1) * (2 * n_s + 5) - tie_term) AS BIGINT) AS var18, " +
        "CAST(COUNT(*) AS BIGINT) AS n_strata " +
        "FROM nd JOIN tt ON tt.event_type = nd.event_type AND tt.dow = nd.dow " +
        "GROUP BY 1), " +
        "f AS (SELECT v.event_type, n_strata, n_pairs, s, var18, " +
        "s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END AS num " +
        "FROM v JOIN p ON p.event_type = v.event_type) " +
        "SELECT event_type, n_strata, n_pairs, s, " +
        "CASE WHEN var18 > 0 THEN " +
        "ROUND(CAST(num AS DOUBLE) / SQRT(CAST(var18 AS DOUBLE) / 18.0), 4) END AS z " +
        "FROM f ORDER BY event_type"),
    // same lag/lead neighbor windows, same closed-form moments
    "x276_turning_points" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, day, x, " +
        "LAG(x) OVER (PARTITION BY event_type ORDER BY day) AS xp, " +
        "LEAD(x) OVER (PARTITION BY event_type ORDER BY day) AS xn FROM d), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(CASE WHEN xp IS NOT NULL AND xn IS NOT NULL AND " +
        "((x > xp AND x > xn) OR (x < xp AND x < xn)) THEN 1 ELSE 0 END) AS BIGINT) AS t_points " +
        "FROM t GROUP BY 1) " +
        "SELECT event_type, n_days, t_points, " +
        "CASE WHEN n_days >= 3 THEN " +
        "ROUND((CAST(t_points AS DOUBLE) - 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0) / " +
        "SQRT((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0), 6) END AS z " +
        "FROM g ORDER BY event_type"),
    // same doubled midranks (mean r2 = n+1 exactly), same one-division
    // exact-integer ratio
    "x277_bartels_rvn" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, day, " +
        "2 * RANK() OVER (PARTITION BY event_type ORDER BY x) + " +
        "COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days FROM d), " +
        "l AS (SELECT event_type, n_days, r2, " +
        "LEAD(r2) OVER (PARTITION BY event_type ORDER BY day) AS rn FROM r), " +
        "g AS (SELECT event_type, MAX(n_days) AS n_days, " +
        "CAST(SUM(CASE WHEN rn IS NOT NULL THEN (r2 - rn) * (r2 - rn) END) AS BIGINT) AS num2, " +
        "CAST(SUM((r2 - (n_days + 1)) * (r2 - (n_days + 1))) AS BIGINT) AS den2 " +
        "FROM l GROUP BY 1) " +
        "SELECT event_type, n_days, num2, den2, " +
        "CASE WHEN den2 > 0 THEN ROUND(CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE), 6) END AS rvn, " +
        "CASE WHEN den2 > 0 AND n_days >= 10 THEN " +
        "ROUND((CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE) - 2.0) / " +
        "SQRT(4.0 / CAST(n_days AS DOUBLE)), 6) END AS z_approx " +
        "FROM g ORDER BY event_type"),
    // same count-of-counts cells, same half-weighted ties, same
    // classical variance
    "x278_jonckheere" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "cells AS (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS f FROM d GROUP BY 1, 2), " +
        "u AS (SELECT CAST(COALESCE(SUM(a.f * b.f * " +
        "(2 * (CASE WHEN a.x < b.x THEN 1 ELSE 0 END) + " +
        "(CASE WHEN a.x = b.x THEN 1 ELSE 0 END))), 0) AS BIGINT) AS u2 " +
        "FROM cells a JOIN cells b ON a.event_type < b.event_type), " +
        "sz AS (SELECT event_type, CAST(SUM(f) AS BIGINT) AS n_g FROM cells GROUP BY 1), " +
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups, " +
        "CAST(SUM(n_g) AS BIGINT) AS n_total, " +
        "CAST(SUM(n_g * (n_g - 1)) AS BIGINT) AS sn1, " +
        "CAST(SUM(n_g * (n_g - 1) * (n_g - 2)) AS BIGINT) AS sn2, " +
        "CAST(SUM(n_g * (n_g - 1) * (2 * n_g + 5)) AS BIGINT) AS sn3, " +
        "CAST((SUM(n_g) * SUM(n_g) - SUM(n_g * n_g)) // 2 AS BIGINT) AS e2 FROM sz), " +
        "tg AS (SELECT x, CAST(SUM(f) AS BIGINT) AS tt FROM cells GROUP BY 1), " +
        "ts AS (SELECT CAST(COALESCE(SUM(tt * (tt - 1)), 0) AS BIGINT) AS st1, " +
        "CAST(COALESCE(SUM(tt * (tt - 1) * (tt - 2)), 0) AS BIGINT) AS st2, " +
        "CAST(COALESCE(SUM(tt * (tt - 1) * (2 * tt + 5)), 0) AS BIGINT) AS st3 FROM tg), " +
        "v AS (SELECT k_groups, n_total, u2, e2, " +
        "(CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0) * " +
        "(2.0 * CAST(n_total AS DOUBLE) + 5.0) - " +
        "CAST(sn3 AS DOUBLE) - CAST(st3 AS DOUBLE)) / 72.0 + " +
        "CAST(sn2 AS DOUBLE) * CAST(st2 AS DOUBLE) / " +
        "(36.0 * CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0) * " +
        "(CAST(n_total AS DOUBLE) - 2.0)) + " +
        "CAST(sn1 AS DOUBLE) * CAST(st1 AS DOUBLE) / " +
        "(8.0 * CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)) AS var_j " +
        "FROM u CROSS JOIN t CROSS JOIN ts) " +
        "SELECT k_groups, n_total, u2, e2, " +
        "CASE WHEN n_total > 2 AND var_j > 0.0 THEN " +
        "ROUND((CAST(u2 AS DOUBLE) - CAST(e2 AS DOUBLE)) / " +
        "SQRT(4.0 * var_j), 6) END AS z " +
        "FROM v"),
    // same week cells, HUGEINT operands widened before the multiply,
    // one division
    "x279_ca_trend" ->
      ("WITH w AS (SELECT " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS s, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END) AS BIGINT) AS x " +
        "FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks, " +
        "CAST(SUM(n) AS BIGINT) AS n_total, CAST(SUM(x) AS BIGINT) AS x_total, " +
        "CAST(SUM(n * s) AS BIGINT) AS ns, CAST(SUM(n * s * s) AS BIGINT) AS nss FROM w), " +
        "g AS (SELECT MAX(n_weeks) AS n_weeks, MAX(n_total) AS n_total, MAX(x_total) AS x_total, " +
        "SUM(CAST(s AS HUGEINT) * (CAST(x AS HUGEINT) * n_total - CAST(n AS HUGEINT) * x_total)) AS t_num, " +
        "MAX(CAST(n_total AS HUGEINT) * nss - CAST(ns AS HUGEINT) * ns) AS s_var " +
        "FROM w CROSS JOIN t) " +
        "SELECT n_weeks, n_total, x_total, CAST(t_num AS BIGINT) AS t_num, " +
        "CASE WHEN x_total > 0 AND x_total < n_total AND s_var > 0 THEN " +
        "ROUND(CAST(CAST(t_num AS HUGEINT) * t_num * n_total AS DOUBLE) / " +
        "CAST(CAST(x_total AS HUGEINT) * (n_total - x_total) * s_var AS DOUBLE), 6) END AS chi2 " +
        "FROM g"),
    // same two-aggregate chain, same exact integer deviation and
    // single closed-form sqrt
    "x284_grubbs" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx " +
        "FROM d GROUP BY 1), " +
        "j AS (SELECT d.event_type, d.day, ABS(d.x * m.n - m.sx) AS dev, " +
        "m.n, m.sx, m.sxx FROM d JOIN m USING (event_type)), " +
        "g AS (SELECT event_type, MAX(n) AS n_days, MAX(sx) AS sx, " +
        "MAX(sxx) AS sxx, MAX(dev) AS dev_num FROM j GROUP BY 1), " +
        "cp AS (SELECT j.event_type, MIN(j.day) AS peak_day FROM j JOIN g " +
        "ON g.event_type = j.event_type AND j.dev = g.dev_num GROUP BY 1) " +
        "SELECT g.event_type, n_days, dev_num, peak_day, " +
        "CASE WHEN n_days > 2 AND n_days * sxx - sx * sx > 0 THEN " +
        "ROUND(CAST(dev_num AS DOUBLE) * SQRT((CAST(n_days AS DOUBLE) - 1.0) / " +
        "(CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))), 6) END AS g_stat " +
        "FROM g JOIN cp ON cp.event_type = g.event_type ORDER BY g.event_type"),
    // same running-mean 10^-6 floor grid, same cumulative/min chain,
    // same earliest-day argmax idiom as x284
    "x296_page_hinkley" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, x, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i, " +
        "SUM(x) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS s FROM d), " +
        "t AS (SELECT event_type, day, CAST(x AS HUGEINT) * 1000000 - " +
        "(CAST(s AS HUGEINT) * 1000000) // i AS term FROM w), " +
        "m AS (SELECT event_type, day, " +
        "SUM(term) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS m FROM t), " +
        "p AS (SELECT event_type, day, m - LEAST(" +
        "MIN(m) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING), 0) AS ph_t FROM m), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "MAX(ph_t) AS mx FROM p GROUP BY 1), " +
        "cp AS (SELECT p.event_type, CAST(MIN(p.day) AS BIGINT) AS alarm_day " +
        "FROM p JOIN g ON g.event_type = p.event_type AND p.ph_t = g.mx " +
        "GROUP BY 1) " +
        "SELECT g.event_type, n_days, " +
        "ROUND(CAST(mx AS DOUBLE) / 1000000.0, 4) AS ph, alarm_day " +
        "FROM g JOIN cp ON cp.event_type = g.event_type ORDER BY g.event_type"),
    // same calendar-contiguous lags, same exact variance numerators
    // (HUGEINT operands widened before the multiply), same two
    // divisions and homoskedastic z
    "x297_variance_ratio" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, day, x, " +
        "LAG(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1, " +
        "LAG(day, 1) OVER (PARTITION BY event_type ORDER BY day) AS d1, " +
        "LAG(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS xq, " +
        "LAG(day, 7) OVER (PARTITION BY event_type ORDER BY day) AS dq FROM d), " +
        "i AS (SELECT event_type, " +
        "CASE WHEN day - d1 = 1 THEN x - x1 END AS inc1, " +
        "CASE WHEN day - dq = 7 THEN x - xq END AS incq FROM l), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(COUNT(inc1) AS BIGINT) AS n1, " +
        "CAST(SUM(inc1) AS BIGINT) AS s1, " +
        "SUM(CAST(inc1 AS HUGEINT) * inc1) AS ss1, " +
        "CAST(COUNT(incq) AS BIGINT) AS nq, " +
        "CAST(SUM(incq) AS BIGINT) AS sq, " +
        "SUM(CAST(incq AS HUGEINT) * incq) AS ssq FROM i GROUP BY 1), " +
        "v AS (SELECT event_type, n_days, n1, nq, " +
        "CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1 AS v1, " +
        "CAST(nq AS HUGEINT) * ssq - CAST(sq AS HUGEINT) * sq AS vq " +
        "FROM g), " +
        "r AS (SELECT event_type, n_days, n1, nq, v1, " +
        "(CAST(vq AS DOUBLE) / (CAST(GREATEST(nq, 1) AS DOUBLE) * " +
        "CAST(GREATEST(nq, 1) AS DOUBLE))) / " +
        "(7.0 * CAST(GREATEST(v1, 1) AS DOUBLE) / " +
        "(CAST(GREATEST(n1, 1) AS DOUBLE) * " +
        "CAST(GREATEST(n1, 1) AS DOUBLE))) AS vr FROM v) " +
        "SELECT event_type, n_days, n1, nq, " +
        "CASE WHEN n1 > 1 AND nq > 1 AND v1 > 0 AND n_days > 1 THEN " +
        "ROUND(vr, 6) END AS vr, " +
        "CASE WHEN n1 > 1 AND nq > 1 AND v1 > 0 AND n_days > 1 THEN " +
        "ROUND((vr - 1.0) / SQRT(2.0 * 13.0 * 6.0 / " +
        "(21.0 * (CAST(n_days AS DOUBLE) - 1.0))), 4) END AS z " +
        "FROM r ORDER BY event_type"),
    // same complete pair×day grid (implicit-0 days), same doubled
    // midranks, same exact W2+/mean2/V48 integers, same √(12/V48)
    // readout with no continuity correction
    "x299_wilcoxon_signed_rank" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "ty AS (SELECT DISTINCT event_type FROM d), " +
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b " +
        "FROM ty a, ty b WHERE a.event_type < b.event_type), " +
        "dy AS (SELECT DISTINCT day FROM d), " +
        "c AS (SELECT type_a, type_b, dy.day, " +
        "COALESCE(xa.x, 0) - COALESCE(xb.x, 0) AS dd " +
        "FROM pr CROSS JOIN dy " +
        "LEFT JOIN d xa ON xa.event_type = type_a AND xa.day = dy.day " +
        "LEFT JOIN d xb ON xb.event_type = type_b AND xb.day = dy.day), " +
        "ze AS (SELECT type_a, type_b, " +
        "CAST(SUM(CASE WHEN dd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero " +
        "FROM c GROUP BY 1, 2), " +
        "nz AS (SELECT type_a, type_b, ABS(dd) AS absd, " +
        "CAST(COUNT(*) AS BIGINT) AS t, " +
        "CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos " +
        "FROM c WHERE dd <> 0 GROUP BY 1, 2, 3), " +
        "r AS (SELECT type_a, type_b, t, pos, 2 * (SUM(t) OVER " +
        "(PARTITION BY type_a, type_b ORDER BY absd " +
        "ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS m2 FROM nz), " +
        "g AS (SELECT type_a, type_b, CAST(SUM(t) AS BIGINT) AS n, " +
        "CAST(SUM(pos * m2) AS BIGINT) AS w2_plus, " +
        "CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM r GROUP BY 1, 2), " +
        "v AS (SELECT type_a, type_b, n, w2_plus, " +
        "n * (n + 1) // 2 AS mean2, " +
        "2 * n * (n + 1) * (2 * n + 1) - tie3 AS v48 FROM g) " +
        "SELECT ze.type_a, ze.type_b, " +
        "CAST(COALESCE(n, 0) AS BIGINT) AS n_pairs, ze.n_zero, " +
        "CAST(COALESCE(w2_plus, 0) AS BIGINT) AS w2_plus, " +
        "CASE WHEN v48 > 0 THEN ROUND(CAST(w2_plus - mean2 AS DOUBLE) * " +
        "SQRT(12.0 / CAST(v48 AS DOUBLE)), 4) END AS z " +
        "FROM ze LEFT JOIN v ON v.type_a = ze.type_a AND v.type_b = ze.type_b " +
        "ORDER BY ze.type_a, ze.type_b"),
    // same grid, same integer signed numerator (sign folded before
    // the cast), same continuity-corrected z
    "x300_sign_test" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "ty AS (SELECT DISTINCT event_type FROM d), " +
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b " +
        "FROM ty a, ty b WHERE a.event_type < b.event_type), " +
        "dy AS (SELECT DISTINCT day FROM d), " +
        "c AS (SELECT type_a, type_b, dy.day, " +
        "COALESCE(xa.x, 0) - COALESCE(xb.x, 0) AS dd " +
        "FROM pr CROSS JOIN dy " +
        "LEFT JOIN d xa ON xa.event_type = type_a AND xa.day = dy.day " +
        "LEFT JOIN d xb ON xb.event_type = type_b AND xb.day = dy.day), " +
        "g AS (SELECT type_a, type_b, " +
        "CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos, " +
        "CAST(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg, " +
        "CAST(SUM(CASE WHEN dd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero " +
        "FROM c GROUP BY 1, 2), " +
        "v AS (SELECT type_a, type_b, pos, neg, n_zero, pos + neg AS n, " +
        "(CASE WHEN pos > neg THEN 1 WHEN pos < neg THEN -1 ELSE 0 END) * " +
        "GREATEST(ABS(2 * pos - (pos + neg)) - 1, 0) AS num FROM g) " +
        "SELECT type_a, type_b, pos, neg, n_zero, " +
        "CASE WHEN n > 0 THEN ROUND(CAST(num AS DOUBLE) / " +
        "SQRT(CAST(n AS DOUBLE)), 4) END AS z " +
        "FROM v ORDER BY type_a, type_b"),
    // same pair×day grid and day×day self-join, same exact HUGEINT
    // V-statistic integers, same two sqrt/divide readout
    "x301_distance_correlation" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "ty AS (SELECT DISTINCT event_type FROM d), " +
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b " +
        "FROM ty a, ty b WHERE a.event_type < b.event_type), " +
        "dy AS (SELECT DISTINCT day FROM d), " +
        "c AS (SELECT type_a, type_b, dy.day, " +
        "CAST(COALESCE(xa.x, 0) AS HUGEINT) AS xa, " +
        "CAST(COALESCE(xb.x, 0) AS HUGEINT) AS xb " +
        "FROM pr CROSS JOIN dy " +
        "LEFT JOIN d xa ON xa.event_type = type_a AND xa.day = dy.day " +
        "LEFT JOIN d xb ON xb.event_type = type_b AND xb.day = dy.day), " +
        "p AS (SELECT c.type_a, c.type_b, c.day, " +
        "ABS(c.xa - c2.xa) AS a, ABS(c.xb - c2.xb) AS b " +
        "FROM c JOIN c c2 ON c2.type_a = c.type_a AND c2.type_b = c.type_b), " +
        "rs AS (SELECT type_a, type_b, day, SUM(a) AS ra, SUM(b) AS rb, " +
        "SUM(a * b) AS sab_i, SUM(a * a) AS saa_i, SUM(b * b) AS sbb_i " +
        "FROM p GROUP BY 1, 2, 3), " +
        "g AS (SELECT type_a, type_b, " +
        "CAST(COUNT(*) AS HUGEINT) AS nd, " +
        "SUM(ra) AS sa, SUM(rb) AS sb, SUM(sab_i) AS sab, " +
        "SUM(saa_i) AS saa, SUM(sbb_i) AS sbb, SUM(ra * rb) AS s3, " +
        "SUM(ra * ra) AS s3a, SUM(rb * rb) AS s3b " +
        "FROM rs GROUP BY 1, 2), " +
        "v AS (SELECT type_a, type_b, CAST(nd AS BIGINT) AS n_days, " +
        "nd * nd * sab + sa * sb - 2 * nd * s3 AS num, " +
        "nd * nd * saa + sa * sa - 2 * nd * s3a AS dvx, " +
        "nd * nd * sbb + sb * sb - 2 * nd * s3b AS dvy FROM g) " +
        "SELECT type_a, type_b, n_days, " +
        "CASE WHEN dvx > 0 AND dvy > 0 THEN ROUND(SQRT(" +
        "CAST(num AS DOUBLE) / SQRT(CAST(dvx AS DOUBLE) * " +
        "CAST(dvy AS DOUBLE))), 6) END AS dcor " +
        "FROM v ORDER BY type_a, type_b"),
    // same row-indexed full blocks, same exact integer ranges and
    // per-block 10^-6 fp grid, same frozen 2·ln2 slope constant
    "x286_hurst_rs" -> {
      def wCtes(w: Int): String =
        s"b$w AS (SELECT event_type, t // $w AS blk, day, x, " +
          s"t % $w + 1 AS j FROM idx), " +
          s"f$w AS (SELECT event_type, blk FROM b$w GROUP BY 1, 2 " +
          s"HAVING COUNT(*) = $w), " +
          s"r$w AS (SELECT b.event_type, b.blk, b.j, " +
          "SUM(x) OVER (PARTITION BY b.event_type, b.blk ORDER BY day " +
          "ROWS UNBOUNDED PRECEDING) AS cum, " +
          "SUM(x) OVER (PARTITION BY b.event_type, b.blk) AS sx, " +
          "SUM(x * x) OVER (PARTITION BY b.event_type, b.blk) AS sxx " +
          s"FROM b$w b JOIN f$w USING (event_type, blk)), " +
          s"z$w AS (SELECT event_type, blk, " +
          s"MAX($w * cum - j * sx) AS zmax, MIN($w * cum - j * sx) AS zmin, " +
          s"MAX(sx) AS sx, MAX(sxx) AS sxx FROM r$w GROUP BY 1, 2), " +
          s"s$w AS (SELECT event_type, " +
          "CAST(ROUND((LN(CAST(zmax - zmin AS DOUBLE)) - " +
          s"LN(SQRT(CAST($w * sxx - sx * sx AS DOUBLE)))) * 1000000.0) AS BIGINT) AS fp " +
          s"FROM z$w WHERE $w * sxx - sx * sx > 0 AND zmax > zmin), " +
          s"g$w AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nb$w, " +
          s"CAST(SUM(fp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS rs$w " +
          s"FROM s$w GROUP BY 1)"
      "WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "idx AS (SELECT event_type, day, x, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t FROM d), " +
        wCtes(7) + ", " + wCtes(14) + ", " + wCtes(28) + " " +
        "SELECT COALESCE(g7.event_type, g14.event_type, g28.event_type) AS event_type, " +
        "COALESCE(nb7, 0) AS nb7, COALESCE(nb14, 0) AS nb14, COALESCE(nb28, 0) AS nb28, " +
        "ROUND(rs7, 6) AS ln_rs7, ROUND(rs14, 6) AS ln_rs14, ROUND(rs28, 6) AS ln_rs28, " +
        "CASE WHEN rs7 IS NOT NULL AND rs14 IS NOT NULL AND rs28 IS NOT NULL THEN " +
        "ROUND((rs28 - rs7) / 1.3862943611198906, 6) END AS h_est " +
        "FROM g7 FULL OUTER JOIN g14 ON g14.event_type = g7.event_type " +
        "FULL OUTER JOIN g28 ON g28.event_type = COALESCE(g7.event_type, g14.event_type) " +
        "ORDER BY event_type"
    },
    // same exact integer moments, same cross-multiplied rational
    "x269_dispersion" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx " +
        "FROM d GROUP BY 1) " +
        "SELECT event_type, n_days, " +
        "ROUND(CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS mean_x, " +
        "CASE WHEN sx > 0 AND n_days > 1 THEN " +
        "ROUND((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
        "((CAST(n_days AS DOUBLE) - 1.0) * CAST(sx AS DOUBLE)), 6) END AS dispersion, " +
        "CASE WHEN sx > 0 AND n_days > 1 THEN " +
        "ROUND((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(sx AS DOUBLE), 6) " +
        "END AS chi2_poisson FROM g ORDER BY event_type"),
    // same closed-form fit, same e2-on-day auxiliary R2 and LM
    "x270_breusch_pagan" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(x) AS BIGINT) AS sy, " +
        "CAST(SUM(day * day) AS BIGINT) AS sxx, " +
        "CAST(SUM(day * x) AS BIGINT) AS sxy FROM d GROUP BY 1), " +
        "f AS (SELECT event_type, n, sx, sy, sxy, " +
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den FROM m), " +
        "h AS (SELECT event_type, n, " +
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den AS b, sx, sy " +
        "FROM f WHERE den > 0.0), " +
        "hh AS (SELECT event_type, n, b, " +
        "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a FROM h), " +
        "e AS (SELECT d.event_type, hh.n, CAST(d.day AS DOUBLE) AS gx0, " +
        "(CAST(d.x AS DOUBLE) - hh.a - hh.b * CAST(d.day AS DOUBLE)) * " +
        "(CAST(d.x AS DOUBLE) - hh.a - hh.b * CAST(d.day AS DOUBLE)) AS e2 " +
        "FROM d JOIN hh ON hh.event_type = d.event_type), " +
        "g AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days, " +
        "SUM(gx0) AS gx, SUM(e2) AS gy, SUM(gx0 * gx0) AS gxx, " +
        "SUM(gx0 * e2) AS gxy, SUM(e2 * e2) AS gyy FROM e GROUP BY 1), " +
        "v AS (SELECT event_type, n_days, CAST(n_days AS DOUBLE) AS nn, " +
        "CAST(n_days AS DOUBLE) * gxy - gx * gy AS cov_n, " +
        "CAST(n_days AS DOUBLE) * gxx - gx * gx AS vx_n, " +
        "CAST(n_days AS DOUBLE) * gyy - gy * gy AS vy_n FROM g) " +
        "SELECT event_type, n_days, " +
        "CASE WHEN vx_n > 0.0 AND vy_n > 0.0 THEN " +
        "ROUND(nn * cov_n * cov_n / (vx_n * vy_n), 6) END AS lm_bp, " +
        "CASE WHEN vx_n > 0.0 AND vy_n > 0.0 THEN " +
        "ROUND(nn * cov_n * cov_n / (vx_n * vy_n), 6) > 3.841459 " +
        "END AS heteroskedastic FROM v ORDER BY event_type"),
    // same centered MA-7 trim, same dow seasonal means, same
    // strength variance ratios
    "x268_stl_strength" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, day, x, " +
        "COUNT(*) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7, " +
        "MAX(day) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) - " +
        "MIN(day) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS span, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7.0 AS trend " +
        "FROM d), " +
        "tt AS (SELECT event_type, day, x, " +
        "CAST(x AS DOUBLE) - trend AS detr, day % 7 AS dow " +
        "FROM t WHERE w7 = 7 AND span = 6), " +
        "seas AS (SELECT event_type, dow, SUM(detr) / COUNT(*) AS s_dow " +
        "FROM tt GROUP BY 1, 2), " +
        "j AS (SELECT tt.event_type, tt.detr, tt.detr - seas.s_dow AS resid, " +
        "CAST(tt.x AS DOUBLE) - seas.s_dow AS deseas " +
        "FROM tt JOIN seas ON seas.event_type = tt.event_type AND seas.dow = tt.dow), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "SUM(detr) AS sd, SUM(detr * detr) AS sdd, " +
        "SUM(resid) AS sr, SUM(resid * resid) AS srr, " +
        "SUM(deseas) AS ssr, SUM(deseas * deseas) AS ssrr FROM j GROUP BY 1), " +
        "v AS (SELECT event_type, n_days, " +
        "(sdd - sd * sd / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE) AS var_d, " +
        "(srr - sr * sr / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE) AS var_r, " +
        "(ssrr - ssr * ssr / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE) AS var_sr " +
        "FROM g) " +
        "SELECT event_type, n_days, " +
        "CASE WHEN var_sr > 0.0 THEN " +
        "ROUND(GREATEST(0.0, 1.0 - var_r / var_sr), 6) END AS trend_strength, " +
        "CASE WHEN var_d > 0.0 THEN " +
        "ROUND(GREATEST(0.0, 1.0 - var_r / var_d), 6) END AS seasonal_strength " +
        "FROM v ORDER BY event_type"),
    // same zero-filled grid, same doubled midranks and range-rank
    // weights, same division-free integer statistic
    "x265_quade" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "days AS (SELECT DISTINCT day FROM d), " +
        "tps AS (SELECT DISTINCT event_type FROM d), " +
        "spine AS (SELECT tps.event_type, days.day, COALESCE(d.x, 0) AS x " +
        "FROM tps CROSS JOIN days LEFT JOIN d " +
        "ON d.event_type = tps.event_type AND d.day = days.day), " +
        "r AS (SELECT event_type, day, " +
        "2 * RANK() OVER (PARTITION BY day ORDER BY x) + " +
        "COUNT(*) OVER (PARTITION BY day, x) - 1 AS r2, " +
        "CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT) AS k FROM spine), " +
        "rg AS (SELECT day, MAX(x) - MIN(x) AS rng FROM spine GROUP BY 1), " +
        "wt AS (SELECT day, 2 * RANK() OVER (ORDER BY rng) + " +
        "COUNT(*) OVER (PARTITION BY rng) - 1 AS q2 FROM rg), " +
        "s4 AS (SELECT r.event_type, wt.q2 * (r.r2 - (r.k + 1)) AS s4, r.k " +
        "FROM r JOIN wt USING (day)), " +
        "bt AS (SELECT event_type, CAST(MAX(k) AS BIGINT) AS k, " +
        "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s4) AS BIGINT) AS t4, " +
        "CAST(SUM(s4 * s4) AS BIGINT) AS a4 FROM s4 GROUP BY 1), " +
        "g AS (SELECT CAST(MAX(n) AS BIGINT) AS n_days, " +
        "CAST(MAX(k) AS BIGINT) AS k_types, CAST(SUM(a4) AS BIGINT) AS a4, " +
        "CAST(SUM(t4 * t4) AS BIGINT) AS b4num FROM bt) " +
        "SELECT n_days, k_types, " +
        "CASE WHEN n_days > 1 AND n_days * a4 - b4num > 0 THEN " +
        "ROUND(CAST(n_days - 1 AS DOUBLE) * CAST(b4num AS DOUBLE) / " +
        "CAST(n_days * a4 - b4num AS DOUBLE), 6) END AS f_quade FROM g"),
    // same centered-integer lag moments, same unrolled three-level
    // Durbin–Levinson chain
    "x266_pacf" -> {
      def lagCte(k: Int): String =
        s"l$k AS (SELECT event_type, CAST(SUM(c * cl) AS BIGINT) AS num, " +
          s"$k AS lag FROM (SELECT event_type, c, LEAD(c, $k) OVER " +
          "(PARTITION BY event_type ORDER BY day) AS cl FROM c) " +
          "WHERE cl IS NOT NULL GROUP BY 1)"
      "WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, x, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total FROM d), " +
        "c AS (SELECT event_type, day, n_days, x * n_days - total AS c FROM w), " +
        "den AS (SELECT event_type, CAST(MIN(n_days) AS BIGINT) AS n_days, " +
        "CAST(SUM(c * c) AS BIGINT) AS den FROM c GROUP BY 1), " +
        lagCte(1) + ", " + lagCte(2) + ", " + lagCte(3) + ", " +
        "ll AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3), " +
        "wide AS (SELECT event_type, " +
        "CAST(SUM(CASE WHEN lag = 1 THEN num ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN lag = 2 THEN num ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(SUM(CASE WHEN lag = 3 THEN num ELSE 0 END) AS BIGINT) AS n3 " +
        "FROM ll GROUP BY 1), " +
        "r AS (SELECT wide.event_type, den.n_days, den.den, " +
        "CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1, " +
        "CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2, " +
        "CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3 " +
        "FROM wide JOIN den USING (event_type)), " +
        "p2 AS (SELECT *, 1.0 - r1 * r1 AS p22den, " +
        "(r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM r), " +
        "p3 AS (SELECT *, r1 * (1.0 - p22) AS a21, " +
        "1.0 - r1 * (1.0 - p22) * r1 - p22 * r2 AS p33den FROM p2) " +
        "SELECT event_type, n_days, " +
        "CASE WHEN den <> 0 THEN ROUND(r1, 6) END AS pacf1, " +
        "CASE WHEN den <> 0 AND ABS(p22den) > 0.0 THEN ROUND(p22, 6) END AS pacf2, " +
        "CASE WHEN den <> 0 AND ABS(p22den) > 0.0 AND ABS(p33den) > 0.0 THEN " +
        "ROUND((r3 - a21 * r2 - p22 * r1) / p33den, 6) END AS pacf3 " +
        "FROM p3 ORDER BY event_type"
    },
    "x236_ljung_box" -> {
      def lagCte(k: Int): String =
        s"l$k AS (SELECT event_type, CAST(SUM(c * cl) AS BIGINT) AS num, " +
          s"$k AS lag FROM (SELECT event_type, c, LEAD(c, $k) OVER " +
          "(PARTITION BY event_type ORDER BY day) AS cl FROM c) " +
          "WHERE cl IS NOT NULL GROUP BY 1)"
      "WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, x, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total FROM d), " +
        "c AS (SELECT event_type, day, n_days, x * n_days - total AS c FROM w), " +
        "den AS (SELECT event_type, CAST(MIN(n_days) AS BIGINT) AS n_days, " +
        "CAST(SUM(c * c) AS BIGINT) AS den FROM c GROUP BY 1), " +
        lagCte(1) + ", " + lagCte(2) + ", " + lagCte(3) + ", " +
        "ll AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3), " +
        "wide AS (SELECT event_type, " +
        "CAST(SUM(CASE WHEN lag = 1 THEN num ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN lag = 2 THEN num ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(SUM(CASE WHEN lag = 3 THEN num ELSE 0 END) AS BIGINT) AS n3 " +
        "FROM ll GROUP BY 1), " +
        "q AS (SELECT wide.event_type, den.n_days, den.den, " +
        "CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0) * " +
        "(CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) / " +
        "(CAST(den AS DOUBLE) * CAST(den AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)) + " +
        "CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) / " +
        "(CAST(den AS DOUBLE) * CAST(den AS DOUBLE) * (CAST(n_days AS DOUBLE) - 2.0)) + " +
        "CAST(n3 AS DOUBLE) * CAST(n3 AS DOUBLE) / " +
        "(CAST(den AS DOUBLE) * CAST(den AS DOUBLE) * (CAST(n_days AS DOUBLE) - 3.0))) AS qv " +
        "FROM wide JOIN den USING (event_type)) " +
        "SELECT event_type, n_days, " +
        "CASE WHEN den <> 0 AND n_days > 3 THEN ROUND(qv, 6) END AS q_lb, " +
        "CASE WHEN den <> 0 AND n_days > 3 THEN qv > 7.814728 END AS autocorrelated " +
        "FROM q ORDER BY event_type"
    },
    // same rank pairing with the middle day dropped, same zero-diff
    // conditioning and sign z
    "x244_cox_stuart" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "rk AS (SELECT event_type, x, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rk, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days FROM d), " +
        "p AS (SELECT a.event_type, a.n_days, a.x AS x1, b.x AS x2 " +
        "FROM rk a JOIN rk b ON b.event_type = a.event_type " +
        "AND b.rk = a.rk + (a.n_days + 1) // 2 " +
        "WHERE a.rk <= a.n_days - (a.n_days + 1) // 2 AND a.x <> b.x), " +
        "g AS (SELECT event_type, CAST(MAX(n_days) AS BIGINT) AS n_days, " +
        "CAST(SUM(CASE WHEN x2 > x1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(SUM(CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg FROM p GROUP BY 1) " +
        "SELECT event_type, n_days, n_pos, n_neg, " +
        "CASE WHEN n_pos + n_neg > 0 THEN " +
        "ROUND((CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE)) / " +
        "SQRT(CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)), 6) END AS z " +
        "FROM g ORDER BY event_type"),
    // same zero-filled week×dow spine, same doubled midranks, same
    // classic L moments
    "x260_page_trend" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "cells AS (SELECT event_type, day // 7 AS week, day % 7 AS dow, " +
        "CAST(SUM(x) AS BIGINT) AS v FROM d GROUP BY 1, 2, 3), " +
        "keys AS (SELECT DISTINCT event_type, week FROM cells), " +
        "dws AS (SELECT UNNEST(range(0, 7)) AS dow), " +
        "spine AS (SELECT keys.event_type, keys.week, dws.dow, " +
        "COALESCE(cells.v, 0) AS v FROM keys CROSS JOIN dws " +
        "LEFT JOIN cells ON cells.event_type = keys.event_type " +
        "AND cells.week = keys.week AND cells.dow = dws.dow), " +
        "r AS (SELECT event_type, week, dow, " +
        "2 * RANK() OVER (PARTITION BY event_type, week ORDER BY v) + " +
        "COUNT(*) OVER (PARTITION BY event_type, week, v) - 1 AS r2 FROM spine), " +
        "g AS (SELECT event_type, CAST(COUNT(DISTINCT week) AS BIGINT) AS n_weeks, " +
        "CAST(SUM((dow + 1) * r2) AS BIGINT) AS l2_stat FROM r GROUP BY 1) " +
        "SELECT event_type, n_weeks, l2_stat, " +
        "CASE WHEN n_weeks > 0 THEN " +
        "ROUND((CAST(l2_stat AS DOUBLE) / 2.0 - CAST(n_weeks AS DOUBLE) * 112.0) / " +
        "SQRT(CAST(n_weeks AS DOUBLE) * (49.0 * 8.0 * 48.0 / 144.0)), 6) END AS z " +
        "FROM g ORDER BY event_type"),
    // same zero-filled day×type spine, same doubled midranks, same
    // division-free Conover statistic and W readout
    "x245_friedman" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "days AS (SELECT DISTINCT day FROM d), " +
        "tps AS (SELECT DISTINCT event_type FROM d), " +
        "spine AS (SELECT tps.event_type, days.day, COALESCE(d.x, 0) AS x " +
        "FROM tps CROSS JOIN days LEFT JOIN d " +
        "ON d.event_type = tps.event_type AND d.day = days.day), " +
        "r AS (SELECT event_type, " +
        "2 * RANK() OVER (PARTITION BY day ORDER BY x) + " +
        "COUNT(*) OVER (PARTITION BY day, x) - 1 AS r2 FROM spine), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(r2) AS BIGINT) AS r2_sum, " +
        "CAST(SUM(r2 * r2) AS BIGINT) AS r2_sq FROM r GROUP BY 1), " +
        "w AS (SELECT n, r2_sum, r2_sq, " +
        "CAST(COUNT(*) OVER () AS BIGINT) AS k FROM g), " +
        "t AS (SELECT MAX(n) AS n_days, MAX(k) AS k_types, " +
        "CAST(SUM(r2_sq) AS BIGINT) AS a2, " +
        "CAST(SUM((r2_sum - n * (k + 1)) * (r2_sum - n * (k + 1))) AS BIGINT) AS num FROM w), " +
        "f AS (SELECT n_days, k_types, " +
        "CASE WHEN a2 > n_days * k_types * (k_types + 1) * (k_types + 1) THEN " +
        "ROUND(CAST(k_types - 1 AS DOUBLE) * CAST(num AS DOUBLE) / " +
        "CAST(a2 - n_days * k_types * (k_types + 1) * (k_types + 1) AS DOUBLE), 6) " +
        "END AS chi2_f FROM t) " +
        "SELECT n_days, k_types, chi2_f, " +
        "CASE WHEN chi2_f IS NOT NULL AND n_days > 0 AND k_types > 1 THEN " +
        "ROUND(chi2_f / (CAST(n_days AS DOUBLE) * CAST(k_types - 1 AS DOUBLE)), 6) " +
        "END AS kendall_w FROM f"),
    // same exact OLS moments, same residual lag window
    "x253_durbin_watson" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(x) AS BIGINT) AS sy, " +
        "CAST(SUM(day * day) AS BIGINT) AS sxx, " +
        "CAST(SUM(day * x) AS BIGINT) AS sxy FROM d GROUP BY 1), " +
        "f AS (SELECT event_type, n, sx, sy, sxy, " +
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den FROM m), " +
        "g AS (SELECT event_type, n, sx, sy, " +
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den AS b FROM f WHERE den > 0.0), " +
        "h AS (SELECT event_type, n, b, " +
        "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a FROM g), " +
        "e AS (SELECT d.event_type, d.day, h.n, " +
        "CAST(d.x AS DOUBLE) - h.a - h.b * CAST(d.day AS DOUBLE) AS e " +
        "FROM d JOIN h USING (event_type)), " +
        "l AS (SELECT event_type, n, e, " +
        "LAG(e) OVER (PARTITION BY event_type ORDER BY day) AS e_lag FROM e), " +
        "q AS (SELECT event_type, MAX(n) AS n_days, SUM(e * e) AS sse, " +
        "SUM(CASE WHEN e_lag IS NOT NULL THEN (e - e_lag) * (e - e_lag) END) AS ssd " +
        "FROM l GROUP BY 1) " +
        "SELECT event_type, n_days, ROUND(sse, 4) AS sse, " +
        "CASE WHEN sse > 0.0 THEN ROUND(ssd / sse, 6) END AS dw " +
        "FROM q ORDER BY event_type"),
    // same rank-midpoint split, same centered-moment SSRs, same F
    "x254_chow_break" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "rk AS (SELECT event_type, day, x, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rk, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days FROM d), " +
        "s AS (SELECT event_type, day, x, " +
        "CASE WHEN rk <= (n_days + 1) // 2 THEN 1 ELSE 2 END AS seg FROM rk), " +
        "pm AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(x) AS BIGINT) AS sy, " +
        "CAST(SUM(day * day) AS BIGINT) AS sxx, CAST(SUM(day * x) AS BIGINT) AS sxy, " +
        "CAST(SUM(x * x) AS BIGINT) AS syy FROM s GROUP BY 1), " +
        "sm AS (SELECT event_type, seg, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(x) AS BIGINT) AS sy, " +
        "CAST(SUM(day * day) AS BIGINT) AS sxx, CAST(SUM(day * x) AS BIGINT) AS sxy, " +
        "CAST(SUM(x * x) AS BIGINT) AS syy FROM s GROUP BY 1, 2), " +
        "smr AS (SELECT event_type, n, " +
        "CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0 " +
        "THEN (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "ELSE (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) END AS ssr " +
        "FROM sm), " +
        "ag AS (SELECT event_type, SUM(ssr) AS ssr_split, CAST(MIN(n) AS BIGINT) AS min_n " +
        "FROM smr GROUP BY 1), " +
        "pr AS (SELECT event_type, n AS pn, " +
        "CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0 " +
        "THEN (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "ELSE (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) END AS ssr_p " +
        "FROM pm) " +
        "SELECT pr.event_type, pn AS n_days, ROUND(ssr_p, 4) AS ssr_pooled, " +
        "ROUND(ssr_split, 4) AS ssr_split, " +
        "CASE WHEN pn > 4 AND ssr_split > 0.0 AND min_n > 2 THEN " +
        "ROUND(((ssr_p - ssr_split) / 2.0) / (ssr_split / (CAST(pn AS DOUBLE) - 4.0)), 6) " +
        "END AS f_chow FROM pr JOIN ag ON ag.event_type = pr.event_type " +
        "ORDER BY pr.event_type"),
    // same doubled midranks, same prefix-sum U_t, same earliest-day
    // argmax and closed-form p
    "x255_pettitt" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, day, " +
        "2 * RANK() OVER (PARTITION BY event_type ORDER BY x) + " +
        "COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days FROM d), " +
        "u AS (SELECT event_type, day, n_days, t, " +
        "CAST(SUM(r2) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) - t * (n_days + 1) AS BIGINT) AS u_t FROM r), " +
        "w AS (SELECT event_type, n_days, ABS(u_t) AS k_abs, day FROM u WHERE t < n_days), " +
        "g AS (SELECT event_type, MAX(n_days) AS n_days, MAX(k_abs) AS k2 FROM w GROUP BY 1), " +
        "cp AS (SELECT w.event_type, MIN(w.day) AS cp_day FROM w JOIN g " +
        "ON g.event_type = w.event_type AND w.k_abs = g.k2 GROUP BY 1) " +
        "SELECT g.event_type, n_days, k2 AS k_stat, cp_day, " +
        "ROUND(2.0 * EXP(-6.0 * CAST(k2 AS DOUBLE) * CAST(k2 AS DOUBLE) / " +
        "(CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE) + " +
        "CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))), 6) AS p_approx " +
        "FROM g JOIN cp ON cp.event_type = g.event_type ORDER BY g.event_type"),
    // same zero-filled 7-cell dow spine, same exact deviation
    // numerators, one division
    "x256_kuiper_dow" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "tp AS (SELECT DISTINCT event_type FROM d), " +
        "dws AS (SELECT UNNEST(range(0, 7)) AS dow), " +
        "cells AS (SELECT event_type, day % 7 AS dow, CAST(SUM(x) AS BIGINT) AS c " +
        "FROM d GROUP BY 1, 2), " +
        "sp AS (SELECT tp.event_type, dws.dow, COALESCE(cells.c, 0) AS c " +
        "FROM tp CROSS JOIN dws LEFT JOIN cells " +
        "ON cells.event_type = tp.event_type AND cells.dow = dws.dow), " +
        "q AS (SELECT event_type, dow, " +
        "CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dow " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
        "CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM sp), " +
        "v AS (SELECT event_type, n, 7 * cum - (dow + 1) * n AS dev FROM q), " +
        "g AS (SELECT event_type, MAX(n) AS n, MAX(dev) AS dp_num, " +
        "MAX(-dev) AS dm_num FROM v GROUP BY 1) " +
        "SELECT event_type, n, CASE WHEN n > 0 THEN " +
        "ROUND((CAST(dp_num AS DOUBLE) + CAST(dm_num AS DOUBLE)) / " +
        "(7.0 * CAST(n AS DOUBLE)), 6) END AS v_stat FROM g ORDER BY event_type"),
    // same discrete median dichotomization, same flip-count runs,
    // same classical moment expression
    "x237_runs_test" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
        "meds AS (SELECT event_type, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT) AS med " +
        "FROM d GROUP BY 1), " +
        "s AS (SELECT d.event_type, day, CASE WHEN x > med THEN 1 ELSE 0 END AS s " +
        "FROM d JOIN meds USING (event_type) WHERE x <> med), " +
        "f AS (SELECT event_type, s, CASE WHEN LAG(s) OVER " +
        "(PARTITION BY event_type ORDER BY day) IS NULL THEN 0 " +
        "WHEN LAG(s) OVER (PARTITION BY event_type ORDER BY day) <> s THEN 1 " +
        "ELSE 0 END AS flip FROM s), " +
        "g AS (SELECT event_type, CAST(SUM(s) AS BIGINT) AS n_pos, " +
        "CAST(SUM(1 - s) AS BIGINT) AS n_neg, " +
        "CAST(SUM(flip) + 1 AS BIGINT) AS n_runs FROM f GROUP BY 1), " +
        "m AS (SELECT *, 2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / " +
        "(CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) + 1.0 AS mu, " +
        "2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * " +
        "(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) - " +
        "CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE)) / " +
        "((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) * " +
        "(CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) * " +
        "(CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE) - 1.0)) AS sig2 FROM g) " +
        "SELECT event_type, n_pos, n_neg, n_runs, " +
        "CASE WHEN n_pos > 0 AND n_neg > 0 AND n_pos + n_neg > 1 AND sig2 > 0.0 THEN " +
        "ROUND((CAST(n_runs AS DOUBLE) - mu) / SQRT(sig2), 6) END AS z " +
        "FROM m ORDER BY event_type"),
    // same string-derived digit, Benford expectation and the
    // integer-gridded chi-square terms summed exactly
    "x156_benford" ->
      ("WITH v AS (SELECT CAST(SUBSTR(CAST(CAST(FLOOR(value) AS BIGINT) " +
        "AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM events WHERE value >= 1.0), " +
        "d AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1), " +
        "t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS n_total FROM d), " +
        "e AS (SELECT digit, n, n_total, LN(1.0 + 1.0 / digit) / LN(10.0) AS p, " +
        "CAST(n_total AS DOUBLE) * (LN(1.0 + 1.0 / digit) / LN(10.0)) AS ex FROM t), " +
        "f AS (SELECT digit, n, n_total, p, " +
        "CAST(ROUND((CAST(n AS DOUBLE) - ex) * (CAST(n AS DOUBLE) - ex) " +
        "/ ex * 1000000.0) AS BIGINT) AS chi_fp FROM e) " +
        "SELECT digit, n, " +
        "ROUND(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS obs_share, " +
        "ROUND(p, 4) AS benford_p, " +
        "ROUND(CAST(chi_fp AS DOUBLE) / 1000000.0, 4) AS chi_term, " +
        "ROUND(CAST(SUM(chi_fp) OVER () AS DOUBLE) / 1000000.0, 4) AS chi2 " +
        "FROM f ORDER BY digit"),
    // same day frame, same 10^-6 FLOOR grid on the pairwise-slope
    // quotient (one IEEE division of exact-integer doubles — bit
    // identical across engines), same lower-median pick; // ≡ DIV on
    // the non-negative (n_pairs + 1)
    "x160_theil_sen" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days " +
        "FROM d GROUP BY 1), " +
        "p AS (SELECT a.event_type, " +
        "CAST(FLOOR(CAST(b.x - a.x AS DOUBLE) * 1000000.0 / " +
        "(b.day - a.day)) AS BIGINT) AS slope_fp " +
        "FROM d a JOIN d b ON a.event_type = b.event_type " +
        "AND a.day < b.day), " +
        "r AS (SELECT event_type, slope_fp, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope_fp) AS rn, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs " +
        "FROM p) " +
        "SELECT r.event_type, nd.n_days, r.n_pairs, " +
        "r.slope_fp AS sen_slope_fp, r.slope_fp > 0 AS rising " +
        "FROM r JOIN nd ON r.event_type = nd.event_type " +
        "WHERE rn = (n_pairs + 1) // 2 ORDER BY r.event_type"),
    // same one-pass aggregate and BIGINT surrogates (epoch_us ≡
    // unix_micros, floor-cents, lengths), unpivoted via UNION ALL
    "x170_column_profile" ->
      ("WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS BIGINT) AS nn1, " +
        "CAST(COUNT(DISTINCT event_id) AS BIGINT) AS nd1, " +
        "MIN(event_id) AS mn1, MAX(event_id) AS mx1, " +
        "CAST(COUNT(CASE WHEN ts IS NULL THEN 1 END) AS BIGINT) AS nn2, " +
        "CAST(COUNT(DISTINCT ts) AS BIGINT) AS nd2, " +
        "CAST(MIN(epoch_us(ts)) AS BIGINT) AS mn2, " +
        "CAST(MAX(epoch_us(ts)) AS BIGINT) AS mx2, " +
        "CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT) AS nn3, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd3, " +
        "MIN(user_id) AS mn3, MAX(user_id) AS mx3, " +
        "CAST(COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS BIGINT) AS nn4, " +
        "CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nd4, " +
        "CAST(MIN(LENGTH(event_type)) AS BIGINT) AS mn4, " +
        "CAST(MAX(LENGTH(event_type)) AS BIGINT) AS mx4, " +
        "CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT) AS nn5, " +
        "CAST(COUNT(DISTINCT value) AS BIGINT) AS nd5, " +
        "CAST(MIN(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS mn5, " +
        "CAST(MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS mx5, " +
        "CAST(COUNT(CASE WHEN props IS NULL THEN 1 END) AS BIGINT) AS nn6, " +
        "CAST(COUNT(DISTINCT props) AS BIGINT) AS nd6, " +
        "CAST(MIN(LENGTH(props)) AS BIGINT) AS mn6, " +
        "CAST(MAX(LENGTH(props)) AS BIGINT) AS mx6 FROM events) " +
        "SELECT 'event_id' AS col_name, n AS n_rows, nn1 AS n_null, " +
        "nd1 AS n_distinct, mn1 AS min_fp, mx1 AS max_fp FROM a " +
        "UNION ALL SELECT 'ts', n, nn2, nd2, mn2, mx2 FROM a " +
        "UNION ALL SELECT 'user_id', n, nn3, nd3, mn3, mx3 FROM a " +
        "UNION ALL SELECT 'event_type', n, nn4, nd4, mn4, mx4 FROM a " +
        "UNION ALL SELECT 'value', n, nn5, nd5, mn5, mx5 FROM a " +
        "UNION ALL SELECT 'props', n, nn6, nd6, mn6, mx6 FROM a " +
        "ORDER BY col_name"),
    // same pair frame and tie-group algebra; SIGN sums stay integer,
    // the flag compares in HUGEINT vs Spark's DECIMAL(38,0), and the
    // zero-variance guard NULLs both readouts identically
    "x167_mann_kendall" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "p AS (SELECT a.event_type, CAST(SUM(SIGN(b.x - a.x)) AS BIGINT) AS s, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs FROM d a JOIN d b " +
        "ON a.event_type = b.event_type AND a.day < b.day GROUP BY 1), " +
        "nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days " +
        "FROM d GROUP BY 1), " +
        "ti AS (SELECT event_type, " +
        "CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term FROM " +
        "(SELECT event_type, x, COUNT(*) AS t FROM d GROUP BY 1, 2) " +
        "GROUP BY 1), " +
        "f AS (SELECT nd.event_type, n_days, n_pairs, s, " +
        "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18, " +
        "s - SIGN(s) AS num FROM nd JOIN ti USING (event_type) " +
        "JOIN p USING (event_type)) " +
        "SELECT event_type, n_days, n_pairs, s, " +
        "CASE WHEN var18 > 0 THEN ROUND(CAST(num AS DOUBLE) / " +
        "SQRT(CAST(var18 AS DOUBLE) / 18.0), 4) END AS z, " +
        "CASE WHEN var18 > 0 THEN " +
        "180000 * CAST(num AS HUGEINT) * CAST(num AS HUGEINT) > " +
        "38416 * CAST(var18 AS HUGEINT) END AS trending " +
        "FROM f ORDER BY event_type"),
    // same integer day % 7 grain (no locale-dependent DAYOFWEEK on
    // either engine), same rational index with one 4 dp division
    "x168_dow_seasonality" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "c AS (SELECT event_type, day % 7 AS dow, " +
        "CAST(COUNT(*) AS BIGINT) AS n_dow, " +
        "CAST(SUM(x) AS BIGINT) AS x_sum FROM d GROUP BY 1, 2), " +
        "w AS (SELECT event_type, dow, n_dow, x_sum, " +
        "CAST(SUM(n_dow) OVER (PARTITION BY event_type) AS BIGINT) AS n_days, " +
        "CAST(SUM(x_sum) OVER (PARTITION BY event_type) AS BIGINT) AS total " +
        "FROM c) " +
        "SELECT event_type, dow, n_dow, x_sum, " +
        "ROUND(CAST(x_sum * n_days AS DOUBLE) / " +
        "CAST(n_dow * total AS DOUBLE), 4) AS idx " +
        "FROM w ORDER BY event_type, dow"),
    // same (ts, event_id) window, the same floor-log2 buckets (exact
    // at power-of-two boundaries) and pow-cast lower bounds
    "x181_gap_histogram" ->
      ("WITH g AS (SELECT epoch_us(ts) - LAG(epoch_us(ts), 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM events), " +
        "b AS (SELECT CASE WHEN gap <= 0 THEN -1 " +
        "ELSE CAST(FLOOR(LOG2(CAST(gap AS DOUBLE))) AS BIGINT) END AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM g WHERE gap IS NOT NULL " +
        "GROUP BY 1), " +
        "w AS (SELECT bucket, n, CAST(SUM(n) OVER () AS BIGINT) AS t, " +
        "CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum FROM b) " +
        "SELECT bucket, CAST(POW(2.0, bucket) AS BIGINT) AS lo_us, n, " +
        "ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 4) AS share, " +
        "ROUND(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 4) AS cum_share " +
        "FROM w ORDER BY bucket"),
    // x161's per-type chi CTEs, the same quantile ladder and the
    // prefix-min step-down; ties ordered by (chi desc, type) on both
    // engines
    "x176_holm_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref " +
        "FROM events), " +
        "t AS (SELECT event_type, CAST(SUM(is_ref) AS BIGINT) AS o_ref, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS o_cur FROM ev GROUP BY 1), " +
        "w AS (SELECT event_type, o_ref, o_cur, " +
        "CAST(SUM(o_ref) OVER () AS BIGINT) AS n_ref, " +
        "CAST(SUM(o_cur) OVER () AS BIGINT) AS n_cur, " +
        "CAST(COUNT(*) OVER () AS BIGINT) AS k FROM t), " +
        "f AS (SELECT event_type, k, " +
        "CAST(ROUND(CAST(o_ref * n_cur - o_cur * n_ref AS DOUBLE) * " +
        "CAST(o_ref * n_cur - o_cur * n_ref AS DOUBLE) / " +
        "(CAST(o_ref + o_cur AS DOUBLE) * CAST(n_ref AS DOUBLE) * " +
        "CAST(n_cur AS DOUBLE)) * 1000000.0) AS BIGINT) AS chi_fp FROM w), " +
        "r AS (SELECT event_type, k, chi_fp, " +
        "ROW_NUMBER() OVER (ORDER BY chi_fp DESC, event_type) AS rank FROM f), " +
        "m AS (SELECT event_type, chi_fp, rank, k - rank + 1 AS m FROM r), " +
        "c AS (SELECT event_type, chi_fp, rank, " +
        "CASE m WHEN 1 THEN 3.841 WHEN 2 THEN 5.024 WHEN 3 THEN 5.731 " +
        "WHEN 4 THEN 6.239 WHEN 5 THEN 6.635 WHEN 6 THEN 6.96 " +
        "WHEN 7 THEN 7.237 WHEN 8 THEN 7.477 WHEN 9 THEN 7.689 " +
        "WHEN 10 THEN 7.879 WHEN 11 THEN 8.048 WHEN 12 THEN 8.2 " +
        "ELSE CAST(NULL AS DOUBLE) END AS crit FROM m), " +
        "p AS (SELECT event_type, chi_fp, rank, crit, " +
        "CASE WHEN CAST(chi_fp AS DOUBLE) > crit * 1000000.0 " +
        "THEN 1 ELSE 0 END AS pass FROM c), " +
        "q AS (SELECT event_type, chi_fp, rank, crit, " +
        "MIN(pass) OVER (ORDER BY chi_fp DESC, event_type " +
        "ROWS UNBOUNDED PRECEDING) AS allpass FROM p) " +
        "SELECT event_type, CAST(rank AS INTEGER) AS rank, " +
        "ROUND(CAST(chi_fp AS DOUBLE) / 1000000.0, 4) AS chi1, " +
        "crit, allpass = 1 AS rejected FROM q ORDER BY rank"),
    // x176's chi CTEs + the frozen BH table and the step-up suffix max
    "x207_bh_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref " +
        "FROM events), " +
        "t AS (SELECT event_type, CAST(SUM(is_ref) AS BIGINT) AS o_ref, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS o_cur FROM ev GROUP BY 1), " +
        "w AS (SELECT event_type, o_ref, o_cur, " +
        "CAST(SUM(o_ref) OVER () AS BIGINT) AS n_ref, " +
        "CAST(SUM(o_cur) OVER () AS BIGINT) AS n_cur, " +
        "CAST(COUNT(*) OVER () AS BIGINT) AS k FROM t), " +
        "f AS (SELECT event_type, k, " +
        "CAST(ROUND(CAST(o_ref * n_cur - o_cur * n_ref AS DOUBLE) * " +
        "CAST(o_ref * n_cur - o_cur * n_ref AS DOUBLE) / " +
        "(CAST(o_ref + o_cur AS DOUBLE) * CAST(n_ref AS DOUBLE) * " +
        "CAST(n_cur AS DOUBLE)) * 1000000.0) AS BIGINT) AS chi_fp FROM w), " +
        "r AS (SELECT event_type, k, chi_fp, " +
        "ROW_NUMBER() OVER (ORDER BY chi_fp DESC, event_type) AS rank FROM f), " +
        "c AS (SELECT event_type, chi_fp, rank, " +
        bhCritCaseSql + " AS crit FROM r), " +
        "p AS (SELECT event_type, chi_fp, rank, crit, " +
        "CASE WHEN CAST(chi_fp AS DOUBLE) >= crit * 1000000.0 " +
        "THEN 1 ELSE 0 END AS pass FROM c), " +
        "q AS (SELECT event_type, chi_fp, rank, crit, " +
        "MAX(pass * rank) OVER () AS istar FROM p) " +
        "SELECT event_type, CAST(rank AS INTEGER) AS rank, " +
        "ROUND(CAST(chi_fp AS DOUBLE) / 1000000.0, 4) AS chi1, " +
        "crit, rank <= istar AS rejected FROM q ORDER BY rank"),
    // same cross-multiplied variance identity; the flag is the same
    // exact integer compare, CASTs pin HUGEINT widenings
    "x175_control_chart" ->
      ("WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, CAST(x AS BIGINT) AS x, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, " +
        "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS t, " +
        "CAST(SUM(x * x) OVER (PARTITION BY event_type) AS BIGINT) AS sxx " +
        "FROM d), " +
        "f AS (SELECT event_type, day, x, x * n - t AS dd, " +
        "n * sxx - t * t AS v FROM w) " +
        "SELECT event_type, CAST(day AS BIGINT) AS day, x, " +
        "CASE WHEN v > 0 THEN ROUND(CAST(dd AS DOUBLE) / " +
        "SQRT(CAST(v AS DOUBLE)), 4) END AS z, " +
        "dd * dd > 9 * v AS outlier " +
        "FROM f ORDER BY event_type, day"),
    // same shifted-lag weights, same full-window filter (a NULL lag
    // nulls the whole numerator on both engines), same exact-integer
    // MAE numerators and the D-scaled MASE division
    "x171_forecast_backtest" -> {
      val w = EwmaWeights
      val d = w.sum
      val lags = (1 to 8).map(k =>
        s"LAG(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k")
        .mkString(", ")
      val num = (1 to 8).map(k => s"l$k * ${w(k - 1)}").mkString(" + ")
      "WITH dd AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        s"t AS (SELECT event_type, day, x, $lags FROM dd), " +
        s"f AS (SELECT event_type, x, l1, ($num) AS n FROM t " +
        "WHERE l8 IS NOT NULL AND l7 IS NOT NULL AND l6 IS NOT NULL " +
        "AND l5 IS NOT NULL AND l4 IS NOT NULL AND l3 IS NOT NULL " +
        "AND l2 IS NOT NULL AND l1 IS NOT NULL), " +
        "a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored, " +
        s"CAST(SUM(ABS(x * $d - n)) AS BIGINT) AS err_num, " +
        "CAST(SUM(ABS(x - l1)) AS BIGINT) AS naive_num FROM f GROUP BY 1) " +
        "SELECT event_type, n_scored, " +
        s"ROUND(CAST(err_num AS DOUBLE) / CAST(n_scored * $d AS DOUBLE), 4) " +
        "AS mae_model, " +
        "ROUND(CAST(naive_num AS DOUBLE) / CAST(n_scored AS DOUBLE), 4) " +
        "AS mae_naive, " +
        s"CASE WHEN naive_num > 0 THEN ROUND(CAST(err_num AS DOUBLE) / " +
        s"CAST($d * naive_num AS DOUBLE), 4) END AS mase, " +
        s"err_num < $d * naive_num AS model_wins " +
        "FROM a ORDER BY event_type"
    },
    // same day frame, same interpolated EwmaWeights integers, same
    // present-lag renormalization and one 4 dp division
    "x165_ewma_smooth" -> {
      val w = EwmaWeights
      val lags = (1 to 7).map(k =>
        s"LAG(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k")
        .mkString(", ")
      val num = (1 to 7).map(k => s"COALESCE(l$k * ${w(k)}, 0)")
        .mkString(" + ")
      val den = (1 to 7).map(k =>
        s"CASE WHEN l$k IS NULL THEN 0 ELSE ${w(k)} END").mkString(" + ")
      "WITH d AS (SELECT event_type, " +
        "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, " +
        "COUNT(*) AS x FROM events GROUP BY 1, 2), " +
        s"t AS (SELECT event_type, day, x, $lags FROM d) " +
        "SELECT event_type, CAST(day AS BIGINT) AS day, " +
        "CAST(x AS BIGINT) AS x, " +
        s"ROUND(CAST(x * ${w(0)} + $num AS DOUBLE) / " +
        s"CAST(${w(0)} + $den AS DOUBLE), 4) AS ewma " +
        "FROM t ORDER BY event_type, day"
    },
    // same ref/cur cutover as x133, same cross-multiplied D and
    // 10^-6 term grid as x156; CASTs pin HUGEINT widenings back and
    // the denominator multiplies left-to-right in double exactly as
    // the Spark chain does
    "x161_chisq_drift" ->
      ("WITH ev AS (SELECT event_type, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-13' THEN 1 ELSE 0 END AS is_ref " +
        "FROM events), " +
        "t AS (SELECT event_type, CAST(SUM(is_ref) AS BIGINT) AS o_ref, " +
        "CAST(SUM(1 - is_ref) AS BIGINT) AS o_cur FROM ev GROUP BY 1), " +
        "w AS (SELECT event_type, o_ref, o_cur, " +
        "CAST(SUM(o_ref) OVER () AS BIGINT) AS n_ref, " +
        "CAST(SUM(o_cur) OVER () AS BIGINT) AS n_cur, " +
        "CAST(COUNT(*) OVER () - 1 AS BIGINT) AS df FROM t), " +
        "f AS (SELECT event_type, o_ref, o_cur, df, " +
        "CAST(ROUND(CAST(o_ref * n_cur - o_cur * n_ref AS DOUBLE) * " +
        "CAST(o_ref * n_cur - o_cur * n_ref AS DOUBLE) / " +
        "(CAST(o_ref + o_cur AS DOUBLE) * CAST(n_ref AS DOUBLE) * " +
        "CAST(n_cur AS DOUBLE)) * 1000000.0) AS BIGINT) AS chi_fp FROM w), " +
        "g AS (SELECT event_type, o_ref, o_cur, df, " +
        "ROUND(CAST(chi_fp AS DOUBLE) / 1000000.0, 4) AS contrib, " +
        "ROUND(CAST(SUM(chi_fp) OVER () AS DOUBLE) / 1000000.0, 4) AS chi2, " +
        "CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815 " +
        "WHEN 4 THEN 9.488 WHEN 5 THEN 11.07 WHEN 6 THEN 12.592 " +
        "WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919 " +
        "ELSE CAST(NULL AS DOUBLE) END AS crit FROM f) " +
        "SELECT event_type, o_ref, o_cur, contrib, chi2, df, crit, " +
        "chi2 > crit AS drifted FROM g ORDER BY event_type"),
    // the observed metrics must equal the plain aggregates over the
    // same relation (CollectMetrics sees every consumed row); the sum
    // goes through the same exact decimal accumulation as the Spark
    // side so neither engine's accumulation order can shift the 4 dp
    // rounding (x39's order-independence pattern)
    "p07_observe_metrics" ->
      ("SELECT COUNT(*) AS n_rows, " +
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_value, " +
        "COUNT(CASE WHEN value > 90 THEN 1 END) AS n_high, " +
        "COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS n_null_user " +
        "FROM events"),
    // identical run decomposition: change flag → running sum → per-run
    // aggregate → lead; (ts, event_id) is a total order so both
    // engines number runs identically
    "p08_scd2_history" ->
      ("WITH o AS (SELECT user_id, event_id, ts, event_type, " +
        "CASE WHEN lag(event_type) OVER w IS NULL " +
        "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "r AS (SELECT user_id, ts, event_type, " +
        "SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM o), " +
        "h AS (SELECT user_id, run, event_type, MIN(ts) AS valid_from, " +
        "COUNT(*) AS n_events FROM r GROUP BY 1, 2, 3) " +
        "SELECT user_id, event_type, valid_from, " +
        "lead(valid_from) OVER v AS valid_to, " +
        "lead(valid_from) OVER v IS NULL AS is_current, n_events " +
        "FROM h WINDOW v AS (PARTITION BY user_id ORDER BY run) " +
        "ORDER BY user_id, valid_from")
  )
}
