package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Lake
import graft.sources.Lake.Derived

/** Structured Streaming surface (SURVEY §2.C streaming row; the
  * reference only wishes for streaming ingestion, README.md:192).
  *
  * The canonical shape: file-source readStream → event-time transform
  * with watermark → stateful operator → sink. For the correctness gate
  * every query drives the stream to completion over the static events
  * table, so results are deterministic and oracle-checkable against
  * the equivalent batch query — the semantics Structured Streaming
  * guarantees. The windowed and stateful-operator queries (s01-s06,
  * s08, s09) run through ONE sink harness,
  * [[runToParquetSink]]: append mode into a checkpointed parquet file
  * sink with Trigger.AvailableNow — the production shape (exactly-once,
  * resumable, no driver-side state); AvailableNow processes everything
  * and then runs the trailing no-data batch that lets the watermark
  * flush completed state. Append mode can only emit state the
  * watermark has closed, so each query reports a fixed event-time
  * range fully inside watermark reach (events span Jan 1-30 at every
  * provisioned scale factor; final watermark ≈ max ts − delay) and its
  * oracle states the same range. The foreachBatch maintainers
  * (s10-s69) instead fold each microbatch into generation dirs of
  * parquet state through [[Streams.foldBatches]] and read the last
  * generation out.
  */
/** Open-session accumulator for s08's custom state: epoch-millis
  * bounds + event count. Top-level so Spark can derive an Encoder.
  */
case class SessionAcc(startMs: Long, lastMs: Long, n: Long)

/** Watermark-closed session emitted by s08 (end = last event + gap). */
case class ClosedSession(user_id: Long, session_start_ts: java.sql.Timestamp,
    session_end_ts: java.sql.Timestamp, n_events: Long)

object Streams {

  private type Q = (SparkSession, String) => DataFrame

  /** The windowed queries below and their oracles BOTH hardcode the
    * watermark-flushed event-time range (days 2024-01-01..01-25; window
    * ends through 01-26). If the provisioned corpus ever stopped
    * covering that range, both sides would filter identically and the
    * oracle would pass vacuously on a silently truncated (possibly
    * empty) result — so the assumption is asserted here, once per
    * (process, sfDir), at query build time: the corpus must start by
    * 01-01 and reach 01-27 (max ts − 1-day watermark ≥ 01-26, the
    * largest flush bound any registered query needs). Day strings are
    * computed in the session time zone, matching how the windows
    * themselves are assigned.
    */
  private val spanChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def assertCorpusSpan(spark: SparkSession, sfDir: String): Unit =
    if (!spanChecked.contains(sfDir)) {
      val row = spark.read.parquet(Lake.ensureMicrosEvents(spark, sfDir))
        .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("lo"),
          date_format(max(col("ts")), "yyyy-MM-dd").as("hi"))
        .head()
      val (lo, hi) = (row.getString(0), row.getString(1))
      require(lo <= "2024-01-01" && hi >= "2024-01-27",
        s"events corpus at $sfDir spans [$lo, $hi] but the registered " +
          "streaming queries and their oracles hardcode the " +
          "watermark-flushed range [2024-01-01, 2024-01-25] (requires " +
          "max ts >= 2024-01-27 for a 1-day watermark to flush it); " +
          "update the ranges in Streams to match the new corpus")
      spanChecked.add(sfDir)
    }

  /** Every maintainer invocation starts by wiping its state dir —
    * the RUN-FROM-SCRATCH contract: a registered query must be a pure
    * function of the source dataset (the oracle compare depends on
    * it), so cross-invocation resume is deliberately not supported.
    * The two FILE-sink paths (the s07 partitioned ingest and
    * [[runToParquetSink]]) keep explicit checkpoints — the parquet
    * sink requires one — and wipe both sink and checkpoint per
    * invocation under the same contract; the foreachBatch maintainers
    * fold through [[foldBatches]], whose [[Generations]] is the one
    * owner of their state layout and replay guard.
    */
  private def rmDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def write(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** The generation-commit protocol of the foreachBatch maintainers.
    * Batch `b` writes its state as one generation — the dir
    * `$base/<table>_b` for each table name, written in the order
    * named — so a merge never overwrites the parquet it reads. The
    * LAST-named table's `_SUCCESS` marker commits the generation.
    * foreachBatch is at-least-once: it can redeliver a batch id after
    * a write whose checkpoint commit failed. A redelivered batch whose
    * generation is committed reuses it instead of merging again (which
    * would double-count the delta); a torn generation (marker missing)
    * is recomputed over the previous committed one. Within a run this
    * is the whole recovery story: [[foldBatches]] wipes `base` first
    * and sets no checkpointLocation (Spark gives the foreach sink a
    * temp one), because the in-memory `latest` pointer restarts empty
    * and so could never honour a resume.
    */
  private[graft] final class Generations(spark: SparkSession, id: String,
      base: String, tables: Seq[String]) {
    @volatile private var latest: Option[Seq[String]] = None

    /** Commit batch `batchId`: unless its generation is already
      * committed, run `step(batch, previous generation's tables, this
      * generation's dirs)`, which writes every dir in order.
      */
    def commit(batch: DataFrame, batchId: Long)(
        step: (DataFrame, Option[Seq[DataFrame]], Seq[String]) => Unit): Unit = {
      val next = tables.map(t => s"$base/${t}_$batchId")
      val marker = new org.apache.hadoop.fs.Path(s"${next.last}/_SUCCESS")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker))
        step(batch, latest.map(_.map(spark.read.parquet(_))), next)
      latest = Some(next)
    }

    /** The latest committed generation's tables, in the order named. */
    def read(): Seq[DataFrame] =
      latest.getOrElse(sys.error(s"$id: stream produced no batches"))
        .map(spark.read.parquet(_))
  }

  private def stateDir(id: String, sfDir: String): String =
    s"/tmp/graft-stream/${id}_${tag(sfDir)}"

  /** Run maintainer `id` over `sfDir`: wipe its [[stateDir]], build
    * `source` (after the wipe, so a source may stage files under the
    * state dir), drive it to completion with Trigger.AvailableNow,
    * commit every microbatch through [[Generations]], and return the
    * latest generation's tables.
    */
  private[graft] def foldBatches(spark: SparkSession, id: String,
      sfDir: String, source: => DataFrame, tables: String*)(
      step: (DataFrame, Option[Seq[DataFrame]], Seq[String]) => Unit): Seq[DataFrame] = {
    val base = stateDir(id, sfDir)
    rmDir(spark, base)
    val gens = new Generations(spark, id, base, tables)
    source.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        gens.commit(batch, batchId)(step)
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    gens.read()
  }

  /** [[foldBatches]] for a maintainer whose state is one table:
    * `merge` maps (batch, previous state) to the next state.
    */
  private def foldTable(spark: SparkSession, id: String, sfDir: String,
      source: => DataFrame, table: String)(
      merge: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame =
    foldBatches(spark, id, sfDir, source, table) { (batch, prev, next) =>
      write(merge(batch, prev.map(_.head)), next.head)
    }.head

  /** The additive merge: full-outer join `delta` into the previous
    * state on `keys` and coalesce-sum each measure (state and delta
    * name their columns alike); with no previous state the delta is
    * the state.
    */
  private def sumMerge(prev: Option[DataFrame], delta: DataFrame,
      keys: Seq[String], measures: String*): DataFrame = {
    val state = delta.select((keys ++ measures).map(col): _*)
    prev match {
      case None => state
      case Some(p) =>
        p.join(state.select(keys.map(col) ++
            measures.map(m => col(m).as(s"d_$m")): _*), keys, "full_outer")
          .select(keys.map(col) ++ measures.map(m =>
            (coalesce(col(m), lit(0L)) +
              coalesce(col(s"d_$m"), lit(0L))).as(m)): _*)
    }
  }

  /** Microbatch source over a parquet dir, one file per trigger, so a
    * run decomposes into several batches and the merge path really
    * runs (the micros events copy and the documents splits are ≥4
    * files at every provisioned sf).
    */
  private def batchesOf(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)

  private def eventBatches(spark: SparkSession, sfDir: String): DataFrame =
    batchesOf(spark, Lake.ensureMicrosEvents(spark, sfDir))

  /** A 4-file copy of `documents` keyed by its column list, so one
    * column list is one table whichever maintainer reads it.
    */
  val DocsSplit: Seq[String] => Derived =
    Derived.keyed("docs_split_", (cols: Seq[String]) => cols.mkString("", "_", "_v1"))(
      (cols, spark, sfDir) =>
        Lake.table(spark, sfDir, "documents").select(cols.map(col): _*).repartition(4))

  /** [[DocsSplit]] of `cols`, streamed through [[batchesOf]]; retires
    * the splits' names from before the column list keyed them.
    */
  private def docBatches(spark: SparkSession, sfDir: String,
      cols: String*): DataFrame = {
    Seq("docs_split_v1", "docs_split_text_v1", "docs_split_lentext_v1",
      "docs_split_len_v1", "docs_split_meta_v1")
      .foreach(Lake.retireDerived(spark, sfDir, _))
    val split = DocsSplit(cols)
    Lake.materialize(spark, sfDir, split)
    batchesOf(spark, Lake.materializedPath(spark, sfDir, split))
  }

  /** Raw-file event stream: explicit on-disk schema (ts as stored —
    * nanos-as-long, TIMESTAMP_NTZ, or TimestampType depending on the
    * dataset generation), normalized after read by the SAME choke
    * point as the batch path (Lake.normalizeTs) so the two can never
    * drift; pathGlobFilter selects the events file out of the sf
    * directory. A nanos-encoded raw stream scans TIMESTAMP(NANOS)
    * parquet at execution time, so callers run the whole query with
    * nanos-as-long scoped around [[runToParquetSink]]: the query
    * clones the session's conf at start(), and the sink run awaits its
    * termination, so the scope ends after the last microbatch.
    */
  private def rawEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = Lake.rawSchema(spark, sfDir, "events")
    Lake.normalizeTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Event stream over the micros-normalized copy (real TimestampType
    * schema on disk).
    */
  private def microsEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val micros = Lake.ensureMicrosEvents(spark, sfDir)
    spark.readStream.schema(spark.read.parquet(micros).schema).parquet(micros)
  }

  /** Drive an append-mode streaming DataFrame through a checkpointed
    * parquet file sink with Trigger.AvailableNow; returns a batch read
    * of the sink. Fresh sink + checkpoint per invocation so re-runs
    * are deterministic.
    */
  private def runToParquetSink(spark: SparkSession, agg: DataFrame,
      id: String): DataFrame = {
    val outDir = s"/tmp/graft-stream/${id}_out"
    val ckDir = s"/tmp/graft-stream/${id}_ck"
    rmDir(spark, outDir); rmDir(spark, ckDir)
    val q = agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  private def tag(sfDir: String): String = Integer.toHexString(sfDir.hashCode)

  /** s01: tumbling 1-day windowed count per event_type with a 1-day
    * watermark over the RAW nanos-schema stream (s02 is the same shape
    * over the micros-normalized copy), append mode into the
    * checkpointed file sink. Reported day range [01-01, 01-25] —
    * fully watermark-flushed at every provisioned scale factor — and
    * the oracle states the same range.
    */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    assertCorpusSpan(spark, sfDir)
    Lake.withConf(spark, Lake.NanosKey -> "true")(runToParquetSink(spark,
        rawEventStream(spark, sfDir)
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n")),
        s"s01_${tag(sfDir)}"))
      .filter(col("day") >= "2024-01-01" && col("day") <= "2024-01-25")
      .orderBy(col("day"), col("event_type"))
  }

  /** s02: append-mode watermarked aggregation into the checkpointed
    * file sink. Append mode can only ever emit windows the watermark
    * has passed, so the query reports the fixed day range
    * [01-01, 01-25] — fully inside watermark reach for every
    * provisioned scale factor (events span Jan 1-30) — and the oracle
    * states the same range.
    */
  def appendFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    assertCorpusSpan(spark, sfDir)
    runToParquetSink(spark,
      microsEventStream(spark, sfDir)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n")),
      s"s02_${tag(sfDir)}")
      .filter(col("day") >= "2024-01-01" && col("day") <= "2024-01-25")
      .orderBy(col("day"), col("event_type"))
  }

  /** s03: sliding windows (2-day window, 1-day slide) — each event
    * lands in two overlapping windows; append mode into the
    * checkpointed file sink. A sliding window flushes when the
    * watermark passes its END (= wstart + 2 days), so the reported
    * range bounds wstart ≤ 01-24 (window end ≤ 01-26, inside watermark
    * reach at every provisioned scale factor); the oracle states the
    * same bound.
    */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    assertCorpusSpan(spark, sfDir)
    Lake.withConf(spark, Lake.NanosKey -> "true")(runToParquetSink(spark,
        rawEventStream(spark, sfDir)
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("wstart"),
            col("event_type"), col("n")),
        s"s03_${tag(sfDir)}"))
      .filter(col("wstart") >= "2023-12-31" && col("wstart") <= "2024-01-24")
      .orderBy(col("wstart"), col("event_type"))
  }

  /** s04: per-user session windows with a 30-minute inactivity gap
    * (session_window — Spark's built-in merging-state aggregation),
    * append mode so only watermark-closed sessions are emitted. The
    * reported set is bounded on BOTH session endpoints — start ≥ 01-01
    * and end < 01-26 — and the oracle states the same bounds: a
    * session that STARTS inside the range but whose event chain
    * extends to within a watermark of max event time would never be
    * flushed in append mode, so bounding only the start is a latent
    * divergence at denser scale factors. Every session with
    * end < 01-26 is watermark-flushed at all provisioned SFs (final
    * watermark ≈ max ts − 1 day ≈ 01-29).
    */
  def sessionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    assertCorpusSpan(spark, sfDir)
    runToParquetSink(spark,
      microsEventStream(spark, sfDir)
        .withWatermark("ts", "1 day")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start_ts"),
          col("session_window.end").as("session_end_ts"),
          col("n_events")),
      s"s04_${tag(sfDir)}")
      .filter(col("session_start_ts") >= "2024-01-01" &&
        col("session_end_ts") < "2024-01-26")
      .select(col("user_id"),
        date_format(col("session_start_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** s05: streaming deduplication with BOUNDED state —
    * `dropDuplicatesWithinWatermark` keeps a key only until the
    * watermark passes its event time plus the delay, so the state
    * store is evictable on an unbounded stream. (Global-state
    * `dropDuplicates` — the round-3 shape — retains every key ever
    * seen: a guaranteed OOM on a 100 TB ingest stream, so it is
    * deliberately NOT on the ingest path anymore.)
    *
    * Determinism: which duplicate is emitted first is arrival-order
    * dependent, and a key could in principle re-emit after eviction,
    * so the oracle-checked output aggregates the deduplicated sink
    * with COUNT(DISTINCT user_id) per type — identical to the batch
    * distinct count regardless of batch splits or re-emission.
    */
  def streamDedupCounts(spark: SparkSession, sfDir: String): DataFrame =
    runToParquetSink(spark,
      microsEventStream(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type"),
      s"s05_${tag(sfDir)}")
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("distinct_users"))
      .orderBy(col("event_type"))

  /** s06: stream-stream interval join — each purchase joins the same
    * user's clicks from the preceding hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state on either side is evictable — the scalable shape for stream
    * joins. Inner joins emit eagerly on match, so the finite-input
    * output set is exactly the batch join's (the oracle), independent
    * of arrival order once aggregated per purchase day.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = microsEventStream(spark, sfDir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 day")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 day")
    runToParquetSink(spark,
      purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts")),
      s"s06_${tag(sfDir)}")
      .groupBy(date_format(col("p_ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("day"))
  }

  /** s09: stream-static join — the enrich-on-ingest shape: each
    * microbatch of the event stream joins the STATIC customer
    * dimension (re-read per batch, broadcast — no state store at all,
    * the scalable way to attach dimensions during ingest). Inner join
    * is stateless and emits eagerly, so the finite-input result equals
    * the batch join regardless of batch boundaries; the oracle is the
    * straight batch aggregation.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = microsEventStream(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val dim = Lake.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    runToParquetSink(spark,
      events.join(broadcast(dim), col("user_id") === col("c_custkey")),
      s"s09_${tag(sfDir)}")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("segment"))
  }

  /** s08: custom-state sessionization via flatMapGroupsWithState — the
    * hand-rolled analog of s04's built-in session_window, for session
    * semantics the built-in can't express (here it reproduces the same
    * 30-minute-gap contract so the s04 gaps-and-islands SQL can oracle
    * it). State per user is the list of sessions not yet watermark-
    * closed; an event-time timeout flushes a session once the watermark
    * passes its end, so state is bounded by the gap + watermark delay —
    * never by stream length. Same dual endpoint bounds as s04.
    */
  /** The s08 core, reusable over any watermarked (key, event-time)
    * stream (unit tests drive it through a MemoryStream batch by
    * batch): custom-state sessionization with a fixed inactivity gap.
    */
  def sessionize(events: Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[SessionAcc], ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[List[SessionAcc]]) =>
          val open = state.getOption.getOrElse(Nil)
          // Merge this batch's (unordered) events into the open-session
          // list. An event chains into a session when it is strictly
          // within the gap of either endpoint (an event at exactly
          // start+gap opens a NEW session — session_window semantics,
          // mirrored in the oracle); an event within the gap of TWO
          // sessions bridges and merges them.
          def insert(sessions: List[SessionAcc], t: Long): List[SessionAcc] = {
            val (near, far) = sessions.partition(s =>
              s.startMs - t < gapMs && t - s.lastMs < gapMs)
            val merged =
              if (near.isEmpty) SessionAcc(t, t, 1)
              else SessionAcc(
                math.min(near.map(_.startMs).min, t),
                math.max(near.map(_.lastMs).max, t),
                near.map(_.n).sum + 1)
            merged :: far
          }
          val ts = batch.map(_._2.getTime).toArray.sorted
          val merged = ts.foldLeft(open)(insert)
          // flush every session the watermark has closed (end = last+gap)
          val wm = state.getCurrentWatermarkMs()
          val (closed, stillOpen) = merged.partition(_.lastMs + gapMs <= wm)
          if (stillOpen.isEmpty) state.remove()
          else {
            state.update(stillOpen)
            // wake up when the earliest open session becomes flushable
            // (must be strictly beyond the current watermark)
            val next = stillOpen.map(_.lastMs + gapMs).min
            state.setTimeoutTimestamp(math.max(next, wm + 1))
          }
          closed.map(s => ClosedSession(user,
            new java.sql.Timestamp(s.startMs),
            new java.sql.Timestamp(s.lastMs + gapMs), s.n)).iterator
      }
  }

  def statefulSessions(spark: SparkSession, sfDir: String): DataFrame = {
    assertCorpusSpan(spark, sfDir)
    import spark.implicits._
    val sessions = sessionize(
      microsEventStream(spark, sfDir)
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "1 day")
        .as[(Long, java.sql.Timestamp)],
      gapMs = 30L * 60 * 1000)
    runToParquetSink(spark, sessions.toDF(), s"s08_${tag(sfDir)}")
      .filter(col("session_start_ts") >= "2024-01-01" &&
        col("session_end_ts") < "2024-01-26")
      .select(col("user_id"),
        date_format(col("session_start_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** s10: foreachBatch incremental UPSERT — the streaming twin of
    * p05's MERGE: each microbatch's per-user purchase aggregate is
    * merged into a durable parquet state table (matched rows combine,
    * unmatched insert). A generation directory per batch keeps the
    * merge atomic — a batch never overwrites the parquet it is
    * reading (p05's staged-write guard, made structural). Guarantee
    * scope: ONE invocation (state is wiped at entry; a restarted
    * invocation recomputes from scratch, it does not resume). WITHIN
    * an invocation the merge is retry-idempotent through
    * [[Generations]]' replay guard. The merged metrics are a count
    * and a max, both exact under ANY batch decomposition, so the
    * final state must equal the batch-global aggregate — which is
    * exactly what the oracle states.
    * Scale shape: per batch, one delta-sized aggregation plus one
    * full-outer join against the state table on its key — the same
    * plan MERGE INTO executes under a table format.
    */
  def foreachBatchUpsert(spark: SparkSession, sfDir: String): DataFrame =
    foldTable(spark, "s10", sfDir,
        eventBatches(spark, sfDir).filter(col("event_type") === "purchase"),
        "gen") { (batch, prev) =>
      val agg = batch.groupBy(col("user_id"))
        .agg(count(lit(1)).as("d_n"), max(col("ts")).as("d_last_ts"))
      prev match {
        case None => agg.select(col("user_id"),
          col("d_n").as("n_purchases"), col("d_last_ts").as("last_ts"))
        case Some(p) =>
          p.join(agg, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("n_purchases"), lit(0L)) +
                coalesce(col("d_n"), lit(0L))).as("n_purchases"),
              greatest(
                coalesce(col("last_ts"), col("d_last_ts")),
                coalesce(col("d_last_ts"), col("last_ts"))).as("last_ts"))
      }
    }.orderBy(col("user_id"))

  /** s12: streaming maintenance of x70's mergeable-histogram partials
    * — the persist-the-partial architecture kept fresh incrementally.
    * Each microbatch's (day, bin) delta counts sum-merge into the
    * maintained partial table; counts are ADDITIVE, so the merge is a
    * full-outer coalesce-sum over the model-sized state — no
    * key-scoped recompute needed (s11's SCD2 is the non-additive
    * sibling that does need one). The readout rolls the maintained
    * partials up through the SAME [[graft.ext.Sampling.histRollup]]
    * the batch build uses, so the oracle (x70's own SQL) asserts
    * literal streamed-state ≡ batch-rollup equality — the IVM
    * contract.
    */
  def foreachBatchHistogram(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.histRollup(
      foldTable(spark, "s12", sfDir, eventBatches(spark, sfDir), "gen") {
        (batch, prev) =>
          sumMerge(prev, graft.ext.Sampling.histDaily(batch),
            Seq("day", "bin"), "n")
      })

  /** s32: x186's exact ROC-AUC with the (event_type, fold) label-count
    * cells maintained incrementally — IVM for a RANK metric beside
    * s27's Gini (the rank-sum is unmaintainable at row grain, but the
    * scorer is cell-constant, so the ≤|types|·K cell table IS the
    * sufficient statistic and merges ADDITIVELY per microbatch); the
    * readout re-derives the out-of-fold scores and the tie-aware
    * Mann–Whitney statistic through the SAME stages as batch x186
    * ([[graft.ext.Sampling.scoreCellsFrom]] →
    * [[graft.ext.Sampling.aucFromScoreCells]]), so streamed ≡ batch by
    * construction — the scorer's ranking quality tracked live as
    * events arrive, with state that never grows with the corpus.
    */
  def foreachBatchAuc(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.aucFromScoreCells(
      graft.ext.Sampling.scoreCellsFrom(
        maintainedScoreCells(spark, sfDir, "s32")))

  /** s39: x214's split-conformal readout over s32's SAME maintained
    * (event_type, fold) label-count cell state — conformal coverage
    * tracked LIVE as events arrive (the deployment monitor a
    * selective-prediction service actually watches: does the shipped
    * q̂ still cover at 1−α as the distribution moves?). The cell
    * table is the one additive sufficient statistic; the readout
    * re-derives calibration quantile + evaluation coverage through
    * the IDENTICAL stages as batch x214
    * ([[graft.ext.Sampling.foldScoreCellsFrom]] →
    * [[graft.ext.Sampling.conformalFromFoldCells]]), so streamed ≡
    * batch by construction, with state that never grows with the
    * corpus.
    */
  def foreachBatchConformal(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.conformalFromFoldCells(
      graft.ext.Sampling.foldScoreCellsFrom(
        maintainedScoreCells(spark, sfDir, "s39")))

  /** The s32/s39 shared maintainer: the (event_type, fold, n, n_pos)
    * label-count cells, merged additively per microbatch.
    */
  private def maintainedScoreCells(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    foldTable(spark, name, sfDir, eventBatches(spark, sfDir), "cells") {
      (batch, prev) =>
        sumMerge(prev, graft.ext.Sampling.rawScoreCellsOf(batch),
          Seq("event_type", "fold"), "n", "n_pos")
    }

  /** s33: c95's diff-in-differences with the 2×2 (grp, period) cells
    * maintained incrementally — the textbook additive IVM (four
    * counts + four sums), worth pinning as a streaming op because a
    * LIVE DiD is how an experimentation dashboard actually serves the
    * estimator; readout through the shared
    * [[graft.queries.Surface.didFromCells]] stage, so streamed ≡
    * batch c95 by construction. State is 4 rows forever.
    */
  def foreachBatchDid(spark: SparkSession, sfDir: String): DataFrame =
    graft.queries.Surface.didFromCells(
      foldTable(spark, "s33", sfDir, eventBatches(spark, sfDir), "cells") {
        (batch, prev) =>
          sumMerge(prev, graft.queries.Surface.didCellsOf(batch),
            Seq("grp", "period"), "n", "sum_cents")
      })

  /** s34: x196's OLS fit with the ten normal-equation sums maintained
    * incrementally — the purest IVM in the registry: the sufficient
    * statistic is ONE row of BIGINTs that merges by plain addition
    * per microbatch, and the Cramer solve reads through the shared
    * [[graft.ext.Sampling.olsFromSums]] stage, so the streamed
    * regression ≡ batch x196 by construction. A model retrained
    * "from scratch" on every arriving batch for the cost of ten
    * additions.
    */
  def foreachBatchOls(spark: SparkSession, sfDir: String): DataFrame = {
    val sumCols = Seq("n", "s1", "s2", "sy", "s11", "s12", "s22",
      "s1y", "s2y", "syy")
    graft.ext.Sampling.olsFromSums(
      foldTable(spark, "s34", sfDir, eventBatches(spark, sfDir), "sums") {
        (batch, prev) =>
          val delta = graft.ext.Sampling.olsSumsOf(batch)
          prev match {
            case None => delta
            case Some(p) =>
              p.crossJoin(delta.select(
                sumCols.map(c => col(c).as(s"d_$c")): _*))
                .select(sumCols.map(c =>
                  (col(c) + col(s"d_$c")).as(c)): _*)
          }
      })
  }

  /** s35: x197's G² collocation ranking with the bigram-count model
    * maintained incrementally — the LM-model IVM beside s18's BM25
    * index: the full (w1, w2, cnt) table is the sufficient statistic
    * for the whole 2×2 contingency (marginals and N re-derive from it
    * by hash aggs), it merges additively per microbatch of documents,
    * and the ranking reads out through the shared
    * [[graft.ext.TextAnalysis.g2FromBigramCounts]] stage — streamed ≡
    * batch x197 by construction. State is distinct-bigram-sized
    * (vocabulary-shaped, sublinear in the corpus).
    */
  def foreachBatchG2(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.g2FromBigramCounts(
      foldTable(spark, "s35", sfDir,
          docBatches(spark, sfDir, "doc_id", "text"),
          "cbg") { (batch, prev) =>
        sumMerge(prev, graft.ext.TextAnalysis.bigramCountsOf(batch),
          Seq("w1", "w2"), "cnt")
      })

  /** s36: x205's Spearman ρ with the joint (n_chars, n_toks) value-
    * pair frequency table maintained incrementally — rank-statistic
    * IVM beside s27's Gini: per-doc ranks are unmaintainable, but the
    * joint frequency table re-derives both marginals, both
    * tie-averaged rank maps, and all five weighted sums, and it
    * merges additively per microbatch; readout through the shared
    * [[graft.ext.Sampling.spearmanFromJoint]] stage, so streamed ≡
    * batch x205 by construction. State is value-pair-support-sized.
    */
  def foreachBatchSpearman(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.spearmanFromJoint(maintainDocJoint(spark, sfDir, "s36"))

  /** s40: x216's Kendall τ_b over the SAME maintained joint frequency
    * table as s36 — the readout-sharing face of the IVM contract: one
    * maintained artifact (the additive (n_chars, n_toks, f) table)
    * serves BOTH rank statistics, because each is a pure function of
    * the joint. No new state, no new merge: only
    * [[graft.ext.Sampling.kendallFromJoint]]'s constant-size dominance
    * grid runs over the maintained table, so streamed ≡ batch x216 by
    * construction and the marginal cost of the second statistic is
    * the O(B²) readout.
    */
  def foreachBatchKendall(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.kendallFromJoint(maintainDocJoint(spark, sfDir, "s40"))

  /** The s36/s40 shared maintenance loop: stream the split documents
    * lake, aggregate each microbatch to its joint (n_chars, n_toks)
    * delta, and full-outer-merge into the running value-pair frequency
    * table (additive — the one sufficient statistic both rank
    * statistics re-derive from). Run-from-scratch per invocation (the
    * state dir is wiped — the explicit contract; resuming across JVMs
    * would re-read generation files from disk instead).
    */
  private def maintainDocJoint(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    foldTable(spark, name, sfDir,
        docBatches(spark, sfDir, "n_chars", "text"),
        "joint") { (batch, prev) =>
      sumMerge(prev, graft.ext.Sampling.spearmanJointOf(batch),
        Seq("n_chars", "n_toks"), "f")
    }

  /** s37: c84's Kaplan–Meier curve with the SUBJECT TABLE maintained
    * incrementally — survival-analysis IVM: the per-user sufficient
    * statistic is (first day, last day, first conversion day), which
    * merges by min/max/min-of-non-null per microbatch (s19's
    * user-grain merge discipline); the readout rebuilds the
    * (t_day, died) subjects and runs the shared
    * [[graft.queries.Surface.kaplanMeier]] estimator, so streamed ≡
    * batch c84 by construction. State is user-sized; censoring
    * updates are automatic (a user's last-active day simply advances
    * until a conversion arrives).
    */
  def foreachBatchSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val subj = foldTable(spark, "s37", sfDir, eventBatches(spark, sfDir),
        "subj") { (batch, prev) =>
      val b = batch
        .select(col("user_id"), col("event_type"), col("value"),
          expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
      val delta = b.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("dl"),
          min(when(col("event_type") === "purchase" &&
            col("value") > 90, col("d"))).as("dp"))
      prev match {
        case None => delta
        case Some(prevState) =>
          val p = prevState
            .withColumnRenamed("d0", "p_d0")
            .withColumnRenamed("dl", "p_dl")
            .withColumnRenamed("dp", "p_dp")
          p.join(delta, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              least(coalesce(col("p_d0"), col("d0")),
                coalesce(col("d0"), col("p_d0"))).as("d0"),
              greatest(coalesce(col("p_dl"), col("dl")),
                coalesce(col("dl"), col("p_dl"))).as("dl"),
              least(coalesce(col("p_dp"), col("dp")),
                coalesce(col("dp"), col("p_dp"))).as("dp"))
      }
    }.select(
        when(col("dp").isNotNull, col("dp") - col("d0"))
          .otherwise(col("dl") - col("d0")).as("t_day"),
        col("dp").isNotNull.as("died"))
    graft.queries.Surface.kaplanMeier(subj).orderBy(col("t_day"))
  }

  /** s38: x209's multivariate outlier screen with the user-feature
    * table maintained incrementally — both features (event count,
    * spend cents) merge by plain addition per microbatch, and the
    * readout re-derives the covariance scalars and top-20 distances
    * through the shared
    * [[graft.ext.Sampling.mahalanobisFromUsers]] stage, so streamed ≡
    * batch x209 by construction. The covariance itself re-fits on
    * every batch from the maintained sums — the screen's definition
    * of "outlier" tracks the corpus as it grows.
    */
  def foreachBatchMahalanobis(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.mahalanobisFromUsers(
      foldTable(spark, "s38", sfDir, eventBatches(spark, sfDir), "users") {
        (batch, prev) =>
          sumMerge(prev, graft.ext.Sampling.mahalanobisUsersOf(batch),
            Seq("user_id"), "f", "m")
      })

  /** s41: x218's Count-Min counter grid maintained incrementally —
    * sketch-state IVM: the d×w grid is LINEAR in its input (Σ c per
    * hashed slot), so the per-microbatch delta grid merged by + IS
    * the batch grid, bit for bit — the mergeability that makes CMS
    * the per-shard sketch at 100 TB, exercised as an actual stream.
    * State is the constant 1,024-row counter table (the smallest
    * maintained artifact in the suite); the readout grades the
    * maintained sketch against the exact key counts through the
    * shared [[graft.ext.Sampling.cmsReadout]] stage, so streamed ≡
    * batch x218 by construction and the oracle is reused verbatim.
    */
  def foreachBatchCms(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.cmsReadout(
      foldTable(spark, "s41", sfDir, eventBatches(spark, sfDir), "grid") {
        (batch, prev) =>
          sumMerge(prev,
            graft.ext.Sampling.cmsGridOf(
              batch.groupBy(col("user_id").as("k"))
                .agg(count(lit(1)).as("c"))),
            Seq("r", "slot"), "counter")
      },
      Lake.table(spark, sfDir, "events")
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("c")))

  /** s42: x219's KMV min-hash slates maintained incrementally — the
    * MIN-UNION merge discipline (the third in the suite: s41 merges
    * counters by +, s13 merges edges by set-union; KMV merges by
    * "union the K-smallest slates, keep the K smallest"), which is
    * exactly why KMV is the cross-shard distinct sketch: minK(A∪B) =
    * minK(minK(A) ∪ minK(B)), so per-shard slates of constant size
    * compose to the global answer with no rescan. State is ≤ K rows
    * per group; the readout grades the maintained slate against the
    * exact distinct count through the shared
    * [[graft.ext.Sampling.kmvReadout]] stage, so streamed ≡ batch
    * x219 by construction and the oracle is reused verbatim.
    */
  def foreachBatchKmv(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.kmvReadout(
      foldTable(spark, "s42", sfDir, eventBatches(spark, sfDir), "slate") {
        (batch, prev) =>
          val delta = graft.ext.Sampling.kmvMinHashesOf(
            batch.select(col("event_type").as("grp"),
              col("user_id").as("k")))
          prev match {
            case None => delta
            case Some(p) => graft.ext.Sampling.kmvTrim(p.unionAll(delta))
          }
      },
      Lake.table(spark, sfDir, "events")
        .select(col("event_type").as("grp"), col("user_id").as("k"))
        .distinct().groupBy(col("grp"))
        .agg(count(lit(1)).as("exact_distinct")))

  /** s44: x230's HyperLogLog registers maintained incrementally — the
    * MAX-UNION merge discipline, the fourth in the suite (s41 merges
    * counters by +, s42 slates by min-union, s13 edges by set-union;
    * HLL merges by elementwise register max): HLL(A ∪ B) =
    * max(HLL(A), HLL(B)) per register, exactly — which is why HLL is
    * THE cross-shard distinct sketch at 100 TB: 64 bytes per group
    * per shard, composed with no rescan. State is ≤ 64 rows per
    * group; the readout grades the maintained registers against the
    * exact distinct count through the shared
    * [[graft.ext.Sampling.hllReadout]] stage, so streamed ≡ batch
    * x230 by construction and the oracle is reused verbatim.
    */
  def foreachBatchHll(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.hllReadout(
      foldTable(spark, "s44", sfDir, eventBatches(spark, sfDir), "regs") {
        (batch, prev) =>
          val delta = graft.ext.Sampling.hllRegistersOf(
            batch.select(col("event_type").as("grp"),
              col("user_id").as("k")))
            .withColumnRenamed("m_j", "d_m_j")
          prev match {
            case None => delta.select(col("grp"), col("j"),
              col("d_m_j").as("m_j"))
            case Some(p) =>
              p.join(delta, Seq("grp", "j"), "full_outer")
                .select(col("grp"), col("j"),
                  greatest(coalesce(col("m_j"), lit(0L)),
                    coalesce(col("d_m_j"), lit(0L))).as("m_j"))
          }
      },
      Lake.table(spark, sfDir, "events")
        .select(col("event_type").as("grp"), col("user_id").as("k"))
        .distinct().groupBy(col("grp"))
        .agg(count(lit(1)).as("exact_distinct")))

  /** s45: x231's AMS signed sums maintained incrementally — additive
    * sketch-state IVM like s41's counters, but the linearity is
    * subtler and worth exercising: the per-batch delta is the signed
    * sum of the batch's OWN key counts, and because each key's sign
    * is a frozen function of the key, Σ_batches s(k)·c_batch(k) =
    * s(k)·Σ_batches c_batch(k) — the sums commute with the merge, so
    * + IS the correct composition. State is 8 rows per group; the
    * readout grades the maintained sums against the exact F₂ through
    * the shared [[graft.ext.Sampling.amsReadout]] stage, so streamed
    * ≡ batch x231 by construction and the oracle is reused verbatim.
    */
  def foreachBatchAms(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.amsReadout(
      foldTable(spark, "s45", sfDir, eventBatches(spark, sfDir), "sums") {
        (batch, prev) =>
          sumMerge(prev,
            graft.ext.Sampling.amsSumsOf(
              batch
                .groupBy(col("event_type").as("grp"), col("user_id").as("k"))
                .agg(count(lit(1)).as("c"))),
            Seq("grp", "r"), "z")
      },
      Lake.table(spark, sfDir, "events")
        .groupBy(col("event_type").as("grp"), col("user_id").as("k"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("f2_exact")))

  /** s46: x234's per-group ANOVA moments (n_g, Σv, Σv²) maintained
    * incrementally — the textbook sufficient-statistic IVM (the
    * whole one-way ANOVA lives in 3 numbers per group, all additive),
    * read out through the shared
    * [[graft.ext.Sampling.anovaFFromMoments]] stage so streamed ≡
    * batch x234 by construction and the oracle is reused verbatim.
    * State is k rows of 3 BIGINTs — the smallest per-group artifact
    * in the suite.
    */
  def foreachBatchAnova(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.anovaFFromMoments(
      maintainedGroupMoments(spark, sfDir, "s46"))

  /** s50: x246's Bartlett variance test off the same maintained
    * per-group (n, Σv, Σv²) moments as s46 — one additive state, two
    * classical readouts (the mean omnibus and the variance omnibus),
    * each equal to its batch twin by construction.
    */
  def foreachBatchBartlett(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.bartlettFromMoments(
      maintainedGroupMoments(spark, sfDir, "s50"))

  /** The shared per-group moment maintainer under s46/s50 — k rows of
    * 3 BIGINTs, the smallest per-group artifact in the suite.
    */
  private def maintainedGroupMoments(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    foldTable(spark, name, sfDir,
        docBatches(spark, sfDir, "source", "n_chars"),
        "moments") { (batch, prev) =>
      sumMerge(prev,
        batch.select(col("source").as("grp"), col("n_chars").as("v"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s"),
            sum(col("v") * col("v")).as("ss")),
        Seq("grp"), "n_g", "s", "ss")
    }

  /** s43: x228's Theil U with the (source, lang) contingency cell
    * table maintained incrementally — s21 already streams the same
    * metadata split for Simpson diversity; this maintainer keeps the
    * full R×C cell table (additive per microbatch) and reads the
    * asymmetric association through the shared
    * [[graft.ext.TextAnalysis.theilUFromCells]] stage: both
    * marginals and the grand total re-derive from the cells, so
    * streamed ≡ batch x228 by construction and the oracle is reused
    * verbatim. State is R×C-sized.
    */
  def foreachBatchTheilU(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.theilUFromCells(
      foldTable(spark, "s43", sfDir,
          docBatches(spark, sfDir, "source", "lang"),
          "cells") { (batch, prev) =>
        sumMerge(prev,
          batch.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c")),
          Seq("source", "lang"), "c")
      })

  /** s13: streaming maintenance of a distinct-edge interaction graph
    * — SET-semantics IVM next to s12's additive partials: each
    * microbatch's (user, event_type) edges anti-join the maintained
    * edge set, so only NOVEL edges append and only their degree
    * deltas merge into the degree table (an edge seen twice must
    * count once — s12's purely additive merge would overcount here,
    * which is exactly the semantic distinction this query pins). The
    * readout is the maintained degree table itself — never a raw
    * rescan — oracled ≡ batch COUNT(DISTINCT): the graph family's
    * adjacency/degree artifacts (x69/x81's inputs) kept fresh
    * incrementally. Per batch at scale: one anti-join of the batch's
    * distinct edges against the (key-bucketed) edge set, a delta
    * sized by novelty only, one full-outer merge over the user-sized
    * degree table. Idempotent under retry through [[Generations]].
    */
  def foreachBatchDegrees(spark: SparkSession, sfDir: String): DataFrame = {
    // degrees are written LAST, so their marker commits both tables
    val Seq(_, deg) = foldBatches(spark, "s13", sfDir,
        eventBatches(spark, sfDir), "edges", "deg") { (batch, prev, next) =>
      val edges = batch.select(col("user_id"), col("event_type")).distinct()
      val novel = prev.map(_(0)).fold(edges)(seen =>
        edges.join(seen,
          edges("user_id") <=> seen("user_id") &&
            edges("event_type") <=> seen("event_type"), "left_anti"))
      write(prev.fold(novel)(_.head.unionByName(novel)), next(0))
      write(sumMerge(prev.map(_(1)),
        novel.groupBy(col("user_id")).agg(count(lit(1)).as("deg")),
        Seq("user_id"), "deg"), next(1))
    }
    deg.select(col("user_id"), col("deg")).orderBy(col("user_id"))
  }

  /** s18: incrementally-maintained BM25 search index — the streaming
    * side of x119, and the IVM case the s12-s17 family hasn't shown:
    * FOUR co-maintained artifacts that must stay mutually consistent
    * (postings, document frequencies, document lengths, the (n, l)
    * corpus counters). Documents are immutable and batch at file
    * grain, so no doc straddles batches and every part maintains by
    * the cheapest possible rule: postings and lengths APPEND (each
    * doc's rows are complete within its batch), df merges ADDITIVELY
    * per term, and the counters are a 1-row add. The readout serves
    * BM25 through the SHARED scoring stage
    * ([[graft.ext.TextAnalysis.bm25FromParts]]) from the MAINTAINED
    * parts — query-term postings + the maintained stats, never a
    * corpus re-scan — and must hash-match batch x119 exactly (the
    * oracle IS x119's SQL). Per batch at scale: tokenize the batch,
    * one vocab-bound df merge, two appends, a 1-row counter add —
    * work ∝ batch size, independent of index size except the df
    * merge's vocab-bound full-outer join.
    */
  def foreachBatchBm25(spark: SparkSession, sfDir: String): DataFrame = {
    // counters are written LAST, so their marker commits all four
    val Seq(t, l, d, g) = foldBatches(spark, "s18", sfDir,
        docBatches(spark, sfDir, "doc_id", "text"),
        "tf", "len", "df", "g") { (batch, prev, next) =>
      val tfB = batch
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      tfB.cache()
      val lenB = tfB.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
      val dfB = tfB.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val gB = lenB.agg(count(lit(1)).as("n"), sum(col("len")).as("l"))
      val (tfNext, lenNext, gNext) = prev match {
        case None => (tfB, lenB, gB)
        case Some(p) =>
          (p(0).unionByName(tfB), p(1).unionByName(lenB),
            p(3).withColumnRenamed("n", "n0").withColumnRenamed("l", "l0")
              .crossJoin(gB)
              .select((col("n0") + col("n")).as("n"),
                (col("l0") + col("l")).as("l")))
      }
      write(tfNext, next(0))
      write(lenNext, next(1))
      write(sumMerge(prev.map(_(2)), dfB, Seq("term"), "df"), next(2))
      write(gNext, next(3))
      tfB.unpersist()
    }
    graft.ext.TextAnalysis.bm25FromParts(t, d, l, g,
        Seq("join", "filter", "vector"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(10)
  }

  /** s19: incrementally-maintained RFM segmentation — the IVM case
    * where the REPORT is not mergeable but its SUFFICIENT STATISTIC
    * is: quartile boundaries can't merge across batches, so the
    * maintained artifact is the user-grain frame (f, last_d,
    * m_cents), whose merges are the three cheapest in the algebra —
    * count-add, max, sum-add — and the segmentation runs at READOUT
    * over that user-sized frame through the SHARED
    * [[graft.queries.Surface.rfmSegments]] stage (c79's exact code
    * path, so streaming ≡ batch by construction of the stage). The
    * general lesson this pairing adds to s11-s18: maintain the
    * smallest mergeable state, not the report. Per batch at scale:
    * one user-grain aggregate of the batch + a user-frame full-outer
    * merge; the percentile pass only ever sees users, not events.
    */
  def foreachBatchRfm(spark: SparkSession, sfDir: String): DataFrame =
    graft.queries.Surface.rfmSegments(
      foldTable(spark, "s19", sfDir, eventBatches(spark, sfDir), "users") {
        (batch, prev) =>
          val ev = batch
            .select(col("user_id"),
              expr("datediff(to_date(ts), date'2024-01-01')").as("d"),
              col("event_type"), col("value"))
          val delta = ev.groupBy(col("user_id"))
            .agg(count(lit(1)).as("f"), max(col("d")).as("last_d"),
              sum(when(col("event_type") === "purchase",
                floor(col("value") * 100).cast("long")).otherwise(0L))
                .as("m_cents"))
          prev match {
            case None => delta
            case Some(p) =>
              p.withColumnRenamed("f", "f0")
                .withColumnRenamed("last_d", "d0")
                .withColumnRenamed("m_cents", "m0")
                .join(delta, Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  (coalesce(col("f0"), lit(0L)) +
                    coalesce(col("f"), lit(0L))).as("f"),
                  greatest(coalesce(col("d0"), lit(Int.MinValue)),
                    coalesce(col("last_d"), lit(Int.MinValue))).as("last_d"),
                  (coalesce(col("m0"), lit(0L)) +
                    coalesce(col("m_cents"), lit(0L))).as("m_cents"))
          }
      }).orderBy(col("segment"))

  /** s14: streaming maintenance of the p12 data-quality report — the
    * DQ gate run CONTINUOUSLY at ingest instead of before publish.
    * Additive checks (not-null, ts range, type domain, positivity,
    * drift bound, JSON key) are per-row predicates, so each
    * microbatch's one-pass counters (the SHARED
    * [[graft.pipeline.Views.eventCheckCounters]] aggregate) merge by
    * plain addition into a 7-row maintained counter table — s12's
    * additive IVM on the smallest possible state. Uniqueness is NOT
    * additive (count−countDistinct): it runs on s13's set-semantics
    * machinery instead — the batch's distinct NON-NULL ids anti-join
    * the maintained id set (NULLs never enter the set, matching
    * COUNT(DISTINCT)'s null-ignoring semantics), and the batch's
    * duplicate contribution is batch_rows − novel_ids, which
    * telescopes to exactly n_total − distinct_total across any batch
    * decomposition. Readout
    * is the maintained counter table ≡ the events section of batch
    * p12 — the IVM contract as frame equality, oracled against the
    * same SQL. Per batch at scale: one aggregate scan of the batch,
    * one anti-join against the (key-bucketed) id set, a 7-row merge.
    */
  def foreachBatchDq(spark: SparkSession, sfDir: String): DataFrame = {
    // counters are written LAST, so their marker commits both tables
    val Seq(_, ctr) = foldBatches(spark, "s14", sfDir,
        eventBatches(spark, sfDir), "ids", "ctr") { (b, prev, next) =>
      // NULL ids stay OUT of the novelty set: SQL's
      // COUNT(*) − COUNT(DISTINCT event_id) counts every NULL row
      // in n but never in the distinct, so a NULL id is always a
      // uniqueness violation — keeping NULL as one set member
      // would under-count by exactly 1 the moment one exists
      // (c1's not-null check is where NULLs are reported).
      val ids = b.select(col("event_id"))
        .filter(col("event_id").isNotNull).distinct()
      val novel = prev.map(_(0)).fold(ids)(seen =>
        ids.join(seen, ids("event_id") === seen("event_id"), "left_anti"))
      write(prev.fold(novel)(_.head.unionByName(novel)), next(0))
      // one aggregate pass over the batch; uniqueness delta =
      // batch rows − novel ids (telescopes to n − countDistinct)
      val delta = graft.pipeline.Views.eventCheckCounters(b)
        .crossJoin(broadcast(novel.agg(count(lit(1)).as("novel"))))
        .selectExpr(
          "stack(7, 'event_id_not_null', c1, " +
            "'event_id_unique', n_rows - novel, 'ts_in_2024', c3, " +
            "'event_type_in_domain', c4, 'value_positive', c5, " +
            "'value_le_400', c6, 'props_has_k', c7) " +
            "AS (check_name, v)", "n_rows")
      val ctrNext = prev match {
        case None =>
          delta.select(col("check_name"),
            coalesce(col("v"), lit(0L)).as("violations"),
            col("n_rows"))
        case Some(g) =>
          val p = g(1)
          p.join(delta, Seq("check_name"), "full_outer")
            .select(col("check_name"),
              (coalesce(col("violations"), lit(0L)) +
                coalesce(col("v"), lit(0L))).as("violations"),
              (coalesce(p("n_rows"), lit(0L)) +
                coalesce(delta("n_rows"), lit(0L))).as("n_rows"))
      }
      write(ctrNext, next(1))
    }
    ctr.select(lit("events").as("table_name"), col("check_name"),
        col("violations"), col("n_rows"),
        (col("violations") === 0L).as("passed"))
      .orderBy(col("check_name"))
  }

  /** s15: streaming drift monitoring — x98's PSI report with its
    * CURRENT window maintained incrementally: each microbatch's
    * current-period events bucket into (event_type, bucket) counts
    * that merge ADDITIVELY into the maintained histogram (s12's IVM
    * case on the x98 state — per-(type,bucket) counts are additive
    * by construction, see [[graft.pipeline.Views.psiHalfCounts]]);
    * the readout feeds that maintained state plus the static
    * reference histogram (the s09 stream-static pattern — the
    * 12-day reference is a frozen batch artifact, not stream state)
    * through the SHARED [[graft.pipeline.Views.psiReport]] stage.
    * Oracled ≡ batch x98 — the IVM contract as frame equality: the
    * drift monitor a pipeline leaves running gives exactly the
    * report the batch job would compute. Per batch at scale: one
    * bucket-aggregate of the batch (≤ type·50 rows out), one
    * full-outer merge over the histogram-sized state.
    */
  def foreachBatchPsi(spark: SparkSession, sfDir: String): DataFrame = {
    val cur = foldTable(spark, "s15", sfDir, eventBatches(spark, sfDir),
        "hist") { (batch, prev) =>
      sumMerge(prev,
        graft.pipeline.Views.psiHalfCounts(batch).filter(col("half") === "cur"),
        Seq("event_type", "bucket"), "c")
    }.withColumn("half", lit("cur"))
    val ref = graft.pipeline.Views
      .psiHalfCounts(Lake.table(spark, sfDir, "events"))
      .filter(col("half") === "ref")
    graft.pipeline.Views.psiReport(spark,
        cur.select(col("event_type"), col("half"), col("bucket"), col("c"))
          .unionByName(ref))
      .orderBy(col("event_type"))
  }

  /** s20: x133's KS drift monitor with the CURRENT window maintained
    * incrementally — s15's pattern on the new statistic: each
    * microbatch's (type, bucket) counts merge additively into the
    * maintained cur histogram (s12's IVM case), the ref histogram is
    * a frozen batch artifact (s09's stream-static shape), and the
    * readout runs through the SHARED
    * [[graft.pipeline.Views.ksReportFromCounts]] stage — so the
    * streamed sup-distance is oracled ≡ batch x133 by construction.
    * State is ≤ |type|·500 rows at any event volume (the binned-ECDF
    * bound is exactly what makes KS maintainable; the unbinned
    * statistic would need every distinct value).
    */
  def foreachBatchKs(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.ksReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s20"))
      .orderBy(col("event_type"))

  /** The drift family's shared maintenance loop (s20/s23/s24): stream
    * the events, maintain the CURRENT window's (event_type, bucket)
    * counts additively per microbatch (a replayed batch reuses its
    * committed generation, see [[Generations]]),
    * and return the maintained cur frame unioned with the frozen
    * batch-derived ref half — the (event_type, half, bucket, c)
    * input every family readout stage consumes. One maintained
    * artifact shape serves KS, Mann–Whitney AND the chi-square mix
    * monitor; state is ≤ |type|·500 rows at any event volume.
    */
  private def maintainedHalfCounts(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val cur = foldTable(spark, name, sfDir, eventBatches(spark, sfDir),
        "hist") { (batch, prev) =>
      sumMerge(prev,
        graft.pipeline.Views.ksHalfCounts(batch).filter(col("half") === "cur"),
        Seq("event_type", "bucket"), "c")
    }.withColumn("half", lit("cur"))
    val ref = graft.pipeline.Views
      .ksHalfCounts(Lake.table(spark, sfDir, "events"))
      .filter(col("half") === "ref")
    cur.select(col("event_type"), col("half"), col("bucket"), col("c"))
      .unionByName(ref)
  }

  /** s24: x161's chi-square mix-drift report off the SAME maintained
    * bin table s20/s23 keep (the bucket grain sums away inside the
    * shared [[graft.pipeline.Views.chisqReport]] stage), so streamed
    * ≡ batch x161 by construction — the third statistic served by
    * one maintained artifact.
    */
  def foreachBatchChisq(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.chisqReport(
        maintainedHalfCounts(spark, sfDir, "s24"))
      .orderBy(col("event_type"))

  /** s29: x176's Holm step-down screen off the same maintained bin
    * table — the family-wise-error-controlled verdict stays current
    * as events ingest; the whole correction (ordering, quantile
    * ladder, prefix stop) re-derives from the bounded maintained
    * state via the shared [[graft.pipeline.Views.holmReport]] stage.
    */
  def foreachBatchHolm(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.holmReport(
        maintainedHalfCounts(spark, sfDir, "s29"))
      .orderBy(col("rank"))

  /** s23: x146's Mann–Whitney/AUC drift report with the current
    * window's (event_type, bucket) counts maintained incrementally —
    * the SAME maintained state as s20 (both statistics are functions
    * of the shared binned-count frame, which is the point: one
    * maintained artifact serves the whole drift family), read out
    * through [[graft.pipeline.Views.mwReportFromCounts]] so streamed
    * ≡ batch x146 by construction.
    */
  def foreachBatchMw(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.mwReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s23"))
      .orderBy(col("event_type"))

  /** s55: x281's Cramér–von Mises drift monitor off the same
    * maintained half/bucket state as s20/s23 — the squared-
    * integrated ECDF gap re-read after every merge; one maintained
    * binned-count artifact now serves KS, MW, χ², PSI, CvM and the
    * Mood/Lepage scale readout.
    */
  def foreachBatchCvm(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.cvmReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s55"))
      .orderBy(col("event_type"))

  /** s56: x282's Mood scale + Lepage combo off the same maintained
    * half/bucket state — the scale half of the drift family as IVM:
    * block score sums and both z's recompute from the bounded
    * maintained counts, never the event history.
    */
  def foreachBatchMoodScale(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.moodScaleReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s56"))
      .orderBy(col("event_type"))

  /** s61: x293's Anderson–Darling tail-weighted EDF monitor off the
    * same maintained half/bucket state — the fourth EDF readout
    * (KS/CvM/Kuiper/AD) on one maintained binned-count artifact.
    */
  def foreachBatchAdDrift(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.adDriftReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s61"))
      .orderBy(col("event_type"))

  /** s62: x294's Cucconi joint location–scale statistic off the same
    * maintained counts — the one-statistic alternative to s56's
    * Lepage combination as IVM.
    */
  def foreachBatchCucconi(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.cucconiReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s62"))
      .orderBy(col("event_type"))

  /** s63: x295's Ansari–Bradley folded-rank scale test off the same
    * maintained counts — the linear-score scale member beside s56's
    * squared-rank Mood.
    */
  def foreachBatchAnsari(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.ansariReportFromCounts(
        maintainedHalfCounts(spark, sfDir, "s63"))
      .orderBy(col("event_type"))

  /** s66: x298's k-sample Anderson–Darling omnibus off the same
    * maintained half/bucket state (halves collapse inside the
    * report) — the "did ANY type drift from the others" screen as
    * IVM, one more readout on the family's one maintained artifact.
    */
  def foreachBatchAdKsample(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.adKsampleReport(
      maintainedHalfCounts(spark, sfDir, "s66"))

  /** s64: x296's Page–Hinkley running-mean change detector off the
    * maintained day cells — the zero-configuration sequential
    * monitor beside s22's fixed-reference CUSUM as IVM.
    */
  def foreachBatchPageHinkley(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.pageHinkleyReport(
        maintainedDayCounts(spark, sfDir, "s64"))
      .orderBy(col("event_type"))

  /** s65: x297's variance-ratio random-walk diagnostic off the same
    * maintained day cells — the aggregated-autocorrelation readout
    * beside s26's Mann–Kendall trend as IVM.
    */
  def foreachBatchVarianceRatio(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.varianceRatioReport(
        maintainedDayCounts(spark, sfDir, "s65"))
      .orderBy(col("event_type"))

  /** s67: x299's Wilcoxon signed-rank paired test off the maintained
    * day cells — the paired-location monitor as IVM (the day-paired
    * differences, doubled midranks and exact W2⁺/V48 integers all
    * derive from the |types|·|days|-bounded maintained frame, so
    * streamed ≡ batch by construction).
    */
  def foreachBatchSignedRank(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.wilcoxonSignedRankReport(
        maintainedDayCounts(spark, sfDir, "s67"))
      .orderBy(col("type_a"), col("type_b"))

  /** s68: x300's paired sign test off the same maintained day cells
    * — the distribution-free floor under s67 as IVM.
    */
  def foreachBatchSignTest(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.signTestReport(
        maintainedDayCounts(spark, sfDir, "s68"))
      .orderBy(col("type_a"), col("type_b"))

  /** s69: x301's distance correlation off the same maintained day
    * cells — the nonlinear-dependence monitor as IVM (the day×day
    * distance self-join and the exact V-statistic integers all
    * derive from the |types|·|days|-bounded maintained frame).
    */
  def foreachBatchDistanceCorr(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.distanceCorrelationReport(
        maintainedDayCounts(spark, sfDir, "s69"))
      .orderBy(col("type_a"), col("type_b"))

  /** s22: x138's CUSUM change-point report with the (event_type,
    * day) daily-count table maintained incrementally — the IVM
    * pattern on the SEQUENTIAL drift monitor (s15 maintains PSI's
    * bins, s20 KS's; CUSUM's sufficient statistic is just as
    * additive): per-microbatch day-count deltas merge by +, state is
    * |types|·|days|-bounded at any event volume, and the readout runs
    * through the shared [[graft.pipeline.Views.cusumReport]] stage —
    * prefix sums, drawup/drawdown windows and the alarm all derive
    * from the maintained counts, so streamed ≡ batch x138 by
    * construction and the alarm stays current as events ingest
    * without re-scanning history.
    */
  def foreachBatchCusum(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.cusumReport(
        maintainedDayCounts(spark, sfDir, "s22"))
      .orderBy(col("event_type"), col("day"))

  /** The time-series family's shared maintenance loop (s22/s25/s26):
    * stream the events and maintain the (event_type, day) daily-count
    * table additively per microbatch (replay-idempotent through
    * [[Generations]]). One |types|·|days|-
    * bounded maintained artifact serves CUSUM, the EWMA smoother AND
    * the Mann–Kendall trend test — every readout is a pure function
    * of the day frame, so streamed ≡ batch by construction for all
    * three.
    */
  private def maintainedDayCounts(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    foldTable(spark, name, sfDir, eventBatches(spark, sfDir), "days") {
      (batch, prev) =>
        sumMerge(prev,
          batch.groupBy(col("event_type"),
              expr("datediff(to_date(ts), date'2024-01-01')").as("day"))
            .agg(count(lit(1)).as("x")),
          Seq("event_type", "day"), "x")
    }

  /** s25: x165's EWMA smoother off the maintained day frame — the
    * truncated 8-lag window is exactly what makes EWMA maintainable
    * (the recurrence form would need the whole history replayed).
    */
  def foreachBatchEwma(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.ewmaReport(
        maintainedDayCounts(spark, sfDir, "s25"))
      .orderBy(col("event_type"), col("day"))

  /** s26: x167's Mann–Kendall trend test off the same maintained day
    * frame — the pair expansion and tie algebra run over the bounded
    * maintained state, never the event history.
    */
  def foreachBatchMannKendall(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.mannKendallReport(
        maintainedDayCounts(spark, sfDir, "s26"))
      .orderBy(col("event_type"))

  /** s28: x175's Shewhart chart off the same maintained day frame —
    * the fourth readout served by one maintained artifact; every
    * per-day 3σ verdict re-derives from the bounded day table as
    * counts accrue.
    */
  def foreachBatchControlChart(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.controlChartReport(
        maintainedDayCounts(spark, sfDir, "s28"))
      .orderBy(col("event_type"), col("day"))

  /** s47: x245's Friedman omnibus off the same maintained day frame —
    * the within-block rank test is a pure readout of the additive
    * (type, day) cell state: the zero-filled spine, midranks, and
    * the division-free Conover statistic all run over the bounded
    * maintained table, never the event history.
    */
  def foreachBatchFriedman(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.friedmanReport(
      maintainedDayCounts(spark, sfDir, "s47"))

  /** s48: x255's Pettitt changepoint off the same maintained day
    * frame — rank-based changepoint location as IVM: the doubled
    * midranks and prefix-sum U_t recompute per refresh over the
    * day-grain state (the only scale the statistic ever needs).
    */
  def foreachBatchPettitt(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.pettittReport(
        maintainedDayCounts(spark, sfDir, "s48"))
      .orderBy(col("event_type"))

  /** s49: x256's Kuiper day-of-week uniformity off the same
    * maintained day frame — the cyclic drift monitor a streaming
    * traffic pipeline re-reads after every merge; the 7-cell dow
    * rollup folds the maintained days, exact integers throughout.
    */
  def foreachBatchKuiper(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.kuiperDowReport(
        maintainedDayCounts(spark, sfDir, "s49"))
      .orderBy(col("event_type"))

  /** s52: x269's Poisson dispersion screen off the same maintained
    * day frame — the streaming burstiness monitor: D = s²/x̄
    * re-reads from the additive (type, day) counts after every
    * merge, so an overdispersion alarm fires as the cells accrue.
    */
  def foreachBatchDispersion(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.dispersionReport(
        maintainedDayCounts(spark, sfDir, "s52"))
      .orderBy(col("event_type"))

  /** s53: x276's turning-point randomness screen off the same
    * maintained day frame — local-extrema oscillation monitoring as
    * IVM: the lag/lead neighbor windows and closed-form moments
    * recompute per refresh over the bounded day-grain state.
    */
  def foreachBatchTurningPoints(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.turningPointReport(
        maintainedDayCounts(spark, sfDir, "s53"))
      .orderBy(col("event_type"))

  /** s54: x277's Bartels rank von Neumann ratio off the same
    * maintained day frame — the distribution-free serial-randomness
    * monitor as IVM: doubled midranks and the exact-integer ratio
    * re-read from the additive (type, day) cells after every merge.
    */
  def foreachBatchBartels(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.bartelsRankReport(
        maintainedDayCounts(spark, sfDir, "s54"))
      .orderBy(col("event_type"))

  /** s60: x278's Jonckheere–Terpstra ordered-alternative test off
    * the same maintained day frame — the count-of-counts cells,
    * half-weight ties, and classical variance all re-read from the
    * bounded (type, day) state after every merge.
    */
  def foreachBatchJonckheere(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.jonckheereReport(
      maintainedDayCounts(spark, sfDir, "s60"))

  /** s57: x284's Grubbs outlier screen off the same maintained day
    * frame — the spike monitor as IVM: exact integer deviations and
    * the closed-form G re-read from the additive (type, day) cells.
    */
  def foreachBatchGrubbs(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.grubbsReport(
        maintainedDayCounts(spark, sfDir, "s57"))
      .orderBy(col("event_type"))

  /** s58: x286's Hurst R/S long-memory readout off the same
    * maintained day frame — block ranges, fp-grid ln(R/S), and the
    * frozen-constant slope all recompute from the bounded day-grain
    * state after every merge.
    */
  def foreachBatchHurst(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Views.hurstRsReport(
        maintainedDayCounts(spark, sfDir, "s58"))
      .orderBy(col("event_type"))

  /** s21: x136's Simpson diversity with the (source, lang) cell table
    * maintained incrementally — the IVM pattern applied to a
    * DIVERSITY statistic: per-microbatch cell counts merge additively
    * (s12's case; the index is |source|·|lang|-bounded at any corpus
    * size), and the report reads out through the shared
    * [[graft.ext.TextAnalysis.simpsonFromCells]] stage, so streamed ≡
    * batch x136 by construction. The dataset-card diversity readout
    * stays current as a crawl ingests without ever re-scanning the
    * corpus.
    */
  def foreachBatchSimpson(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.simpsonFromCells(
      foldTable(spark, "s21", sfDir,
          docBatches(spark, sfDir, "source", "lang"),
          "cells") { (batch, prev) =>
        sumMerge(prev,
          batch.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n")),
          Seq("source", "lang"), "n")
      }).orderBy(col("source"))

  /** s27: x159's Gini length-concentration report with the
    * (source, v) VALUE-FREQUENCY table maintained incrementally —
    * IVM for a RANK statistic: Gini needs the full sorted
    * distribution, which is unmaintainable at row grain, but the
    * value-frequency compression IS the sufficient statistic and
    * merges additively per microbatch (s12's case at value grain);
    * readout through the shared
    * [[graft.ext.TextAnalysis.giniFromFreq]] stage, so streamed ≡
    * batch x159 by construction. State is length-support-sized at
    * any corpus size.
    */
  def foreachBatchGini(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.giniFromFreq(
      foldTable(spark, "s27", sfDir,
          docBatches(spark, sfDir, "source", "n_chars"),
          "freq") { (batch, prev) =>
        sumMerge(prev,
          batch.groupBy(col("source"), col("n_chars").as("v"))
            .agg(count(lit(1)).as("f")),
          Seq("source", "v"), "f")
      }).orderBy(col("source"))

  /** s30: x183's hapax-share report with the (source, w) WORD-
    * FREQUENCY table maintained incrementally — s27's rank-statistic
    * IVM argument applied to the frequency TAIL: "occurs exactly
    * once" is unmaintainable at row grain but is a pure function of
    * the additive frequency table, which merges by + per microbatch;
    * readout through the shared
    * [[graft.ext.TextAnalysis.hapaxFromFreq]] stage ⇒ streamed ≡
    * batch x183. State is vocabulary-sized.
    */
  def foreachBatchHapax(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.hapaxFromFreq(
        maintainedWordFreq(spark, sfDir, "s30"))
      .orderBy(col("source"))

  /** s51: x258's lexical-richness profile off the same maintained
    * word-frequency state as s30 — Herdan/Guiraud/Sichel/Honoré are
    * all pure functions of the additive (source, w, freq) table, so
    * the profile re-reads exactly per merge.
    */
  def foreachBatchRichness(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.lexicalRichnessFromFreq(
      maintainedWordFreq(spark, sfDir, "s51"))

  /** s59: x290's Good–Turing unseen-mass readout off the same
    * maintained word-frequency state as s30/s51 — Σ over sources of
    * the additive per-source counts IS the per-term total, so the
    * count-of-counts (and every adjusted count) re-reads exactly
    * after each merge; streamed ≡ batch by construction.
    */
  def foreachBatchGoodTuring(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextAnalysis.goodTuringFromTermCounts(
      maintainedWordFreq(spark, sfDir, "s59")
        .groupBy(col("w")).agg(sum(col("freq")).as("r")))

  /** The shared word-frequency maintainer under s30/s51: the
    * (source, w, freq) table merged additively per microbatch over a
    * 4-file documents split — the vocabulary-sized sufficient
    * statistic every frequency-tail readout shares.
    */
  private def maintainedWordFreq(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    foldTable(spark, name, sfDir,
        docBatches(spark, sfDir, "source", "text"),
        "freq") { (batch, prev) =>
      sumMerge(prev,
        batch.select(col("source"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("freq")),
        Seq("source", "w"), "freq")
    }

  /** s31: c92's type-affinity matrix with the DISTINCT (user_id,
    * event_type) set table maintained incrementally — s13's
    * set-semantics IVM case (counts don't merge by +; membership
    * merges by union-distinct, which is idempotent and so replay-
    * safe by construction); readout through the shared
    * [[graft.queries.Surface.typeAffinityFromPairs]] stage ⇒
    * streamed ≡ batch c92. State is (users × observed types)-sized —
    * the same bound the batch distinct pays.
    */
  def foreachBatchTypeAffinity(spark: SparkSession, sfDir: String): DataFrame =
    graft.queries.Surface.typeAffinityFromPairs(
      foldTable(spark, "s31", sfDir, eventBatches(spark, sfDir), "set") {
        (batch, prev) =>
          val delta = batch.select(col("user_id"), col("event_type")).distinct()
          prev.fold(delta)(_.unionByName(delta).distinct())
      }).orderBy(col("type_a"), col("type_b"))

  /** s16: streaming maintenance of a JOIN view — the IVM case s12
    * (additive agg) and s13 (set semantics) don't cover: BOTH join
    * sides grow over time. The classic degree-count factorization
    * makes it incremental without ever re-running the join: for the
    * per-key equi-join count view
    * |clicks ⋈ purchases| (user, day) = c_clicks · c_purchases,
    * each microbatch splits into its click and purchase deltas, each
    * side's per-(user, day) COUNT table merges additively (two s12
    * states), and the join view is the PRODUCT of the two maintained
    * degree tables — one model-sized multiply at readout, never a
    * replay of event-grain join work. This is the differential-
    * dataflow/DBSP join rule Δ(A⋈B) materialized through its
    * aggregate form. Oracled against the literal SQL JOIN (not the
    * product formula) — the equality IS the claim. Per batch at
    * scale: one bucket-aggregate of the batch per side + two
    * key-sized merges; readout one inner join of the degree tables.
    */
  def foreachBatchJoinView(spark: SparkSession, sfDir: String): DataFrame = {
    def sideDelta(b: DataFrame, t: String): DataFrame =
      b.filter(col("event_type") === t)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
    val Seq(clicks, purchases) = foldBatches(spark, "s16", sfDir,
        eventBatches(spark, sfDir), "clicks", "purch") { (b, prev, next) =>
      write(sumMerge(prev.map(_(0)), sideDelta(b, "click"),
        Seq("user_id", "d"), "c"), next(0))
      write(sumMerge(prev.map(_(1)), sideDelta(b, "purchase"),
        Seq("user_id", "d"), "c"), next(1))
    }
    val ca = clicks.select(col("user_id"), col("d"), col("c").as("nc"))
    val cb = purchases.select(col("user_id"), col("d"), col("c").as("np"))
    ca.join(cb, Seq("user_id", "d"))
      .select(col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        (col("nc") * col("np")).as("n_pairs"))
      .orderBy(col("user_id"), col("day"))
  }

  /** s17: streaming ingest into a CONTENT-ADDRESSED chunk store —
    * x116's dedup ratio maintained as documents arrive: each
    * microbatch chunks its documents (CDC boundaries are doc-local,
    * so every batch's chunk table is complete in isolation — the
    * embarrassingly-incremental case), batch chunk keys anti-join
    * the maintained distinct-chunk store so only NOVEL chunks append
    * (s13's set semantics — a re-ingested chunk stores once), and
    * the additive instance/token counters ride alongside (s12's
    * case). The readout recomputes x116's savings report from the
    * maintained state — oracled ≡ batch x116, the IVM contract. The
    * corpus streams from an 8-file staging copy so the run genuinely
    * decomposes into batches.
    */
  def foreachBatchCdc(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = s"${stateDir("s17", sfDir)}/docs_staged"
    // staged under the state dir, so built only after foldBatches
    // has wiped it
    def source: DataFrame = {
      write(Lake.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).repartition(8), staged)
      batchesOf(spark, staged)
    }
    val Seq(store, ctr) = foldBatches(spark, "s17", sfDir, source,
        "store", "ctr") { (batch, prev, next) =>
      val chunks = graft.ext.TextAnalysis.cdcChunkTable(batch)
      // within-batch dedup first, then novelty vs the store
      val batchDistinct = chunks.groupBy(col("ck"))
        .agg(min(col("n_tokens")).as("n_tokens"))
      val novel = prev.map(_(0)).fold(batchDistinct)(seen =>
        batchDistinct.join(seen,
          batchDistinct("ck") <=> seen("ck"), "left_anti"))
      write(prev.fold(novel)(_.head.unionByName(novel)), next(0))
      val delta = chunks.agg(
        count(lit(1)).as("d_inst"),
        sum(col("n_tokens")).as("d_tok"))
      val ctrNext = prev match {
        case None =>
          delta.select(col("d_inst").as("n_instances"),
            col("d_tok").as("tokens_total"))
        case Some(g) =>
          g(1).crossJoin(delta)
            .select((col("n_instances") + col("d_inst")).as("n_instances"),
              (col("tokens_total") + col("d_tok")).as("tokens_total"))
      }
      write(ctrNext, next(1))
    }
    val dist = store
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("n_tokens")).as("tokens_distinct"))
    ctr.crossJoin(dist)
      .select(col("n_instances"), col("n_distinct"),
        col("tokens_total"), col("tokens_distinct"),
        round(lit(100.0) * (lit(1.0) -
          col("tokens_distinct").cast("double") / col("tokens_total")), 4)
          .as("savings_pct"))
  }

  /** s07: streaming ingestion into the partitioned lake — the
    * reference's run_me_first.py ELT step (derive `date`, write
    * hive-partitioned) as a continuous pipeline: raw stream →
    * partitionBy(date) parquet sink with checkpointing. Verified by
    * re-reading the ingested lake and counting per partition against
    * the batch oracle.
    */
  def streamIngestPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"/tmp/graft-stream/s07_lake_${tag(sfDir)}_out"
    val ckDir = s"/tmp/graft-stream/s07_lake_${tag(sfDir)}_ck"
    rmDir(spark, outDir); rmDir(spark, ckDir)
    val q = microsEventStream(spark, sfDir)
      .withColumn("date", to_date(col("ts")))
      // Same bounded shuffle as the batch ingest (Lake
      // ensurePartitionedEvents): hash dates into a fixed task count so
      // each microbatch writes ~one file per date instead of every task
      // writing into every date directory — at scale the latter is a
      // small-files explosion (tasks × partitions files per batch).
      .repartition(32, col("date"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .partitionBy("date")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
      .groupBy(date_format(col("date"), "yyyy-MM-dd").as("date"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("date"))
  }

  /** s11: streaming SCD2 maintenance — p08's type-2 history kept
    * incrementally correct under batch-at-a-time arrival via
    * KEY-SCOPED RECOMPUTE: each microbatch (1) lands its raw slice in
    * an append-only bronze staging area (idempotent per-batch dirs,
    * the generation's first table), (2) rebuilds the FULL SCD2
    * history for ONLY the user_ids present in the batch — per-key
    * history is bounded, so the recompute is delta-keyed work, not a
    * table scan — and
    * (3) swaps those users' rows into the state table (anti-join the
    * previous generation + union the rebuilt keys, written to a fresh
    * generation dir so the merge never overwrites what it reads).
    *
    * Why recompute instead of patching runs across batch boundaries:
    * SCD2 rows are NOT mergeable partial aggregates — a batch can
    * split a run, extend the open run, or arrive out of order, and
    * patch logic for all three is exactly where IVM bugs live. The
    * run decomposition is a pure function of each key's event SET
    * ([[graft.pipeline.Views.scd2History]] scaladoc), so rebuilding a
    * key from bronze is correct under ANY batch decomposition — which
    * is precisely what the oracle states: final state ≡ batch p08.
    * Scale shape per batch: one semi-join of bronze against the
    * delta's keys (partition-prunable when bronze is key-bucketed),
    * p08's single-shuffle window/agg over the affected slice, one
    * anti-join against the state table.
    */
  def foreachBatchScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val bronzeDir = s"${stateDir("s11", sfDir)}/bronze"
    // the batch's bronze slice is the generation's first table
    // (bronze/b_<batchId>), the state table its last
    foldBatches(spark, "s11", sfDir, eventBatches(spark, sfDir),
        "bronze/b", "gen") { (batch, prev, next) =>
      write(batch.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type")), next(0))
      // bronze slices live in per-batch subdirs (idempotent
      // overwrite targets), not hive partitions — recurse
      val bronze = spark.read
        .option("recursiveFileLookup", "true")
        .parquet(bronzeDir)
      val affectedKeys = spark.read.parquet(next(0))
        .select(col("user_id").as("_ak")).distinct()
      // NULL-SAFE key joins (<=>): scd2History's window partitions
      // NULL user_id as a real group, so the rebuild/swap joins
      // must match it too — a plain equi-join drops NULL keys and
      // the streamed state would silently diverge from batch p08
      // the first time the source grows a NULL user_id
      val rebuilt = graft.pipeline.Views.scd2History(
        bronze.join(affectedKeys, col("user_id") <=> col("_ak"),
          "left_semi"))
      val merged = prev match {
        case None => rebuilt
        case Some(g) =>
          g(1).join(affectedKeys, col("user_id") <=> col("_ak"), "left_anti")
            .unionByName(rebuilt)
      }
      write(merged, next(1))
    }.last.orderBy(col("user_id"), col("valid_from"))
  }

  val queries: Map[String, Q] = Map(
    "s11_stream_scd2" -> ((spark, sfDir) => foreachBatchScd2(spark, sfDir)),
    "s12_stream_hist_maintain" ->
      ((spark, sfDir) => foreachBatchHistogram(spark, sfDir)),
    "s13_stream_degree_maintain" ->
      ((spark, sfDir) => foreachBatchDegrees(spark, sfDir)),
    "s14_stream_dq_maintain" ->
      ((spark, sfDir) => foreachBatchDq(spark, sfDir)),
    "s15_stream_psi_monitor" ->
      ((spark, sfDir) => foreachBatchPsi(spark, sfDir)),
    "s20_stream_ks_monitor" ->
      ((spark, sfDir) => foreachBatchKs(spark, sfDir)),
    "s21_stream_simpson" ->
      ((spark, sfDir) => foreachBatchSimpson(spark, sfDir)),
    "s22_stream_cusum" ->
      ((spark, sfDir) => foreachBatchCusum(spark, sfDir)),
    "s23_stream_mw_monitor" ->
      ((spark, sfDir) => foreachBatchMw(spark, sfDir)),
    "s24_stream_chisq_monitor" ->
      ((spark, sfDir) => foreachBatchChisq(spark, sfDir)),
    "s25_stream_ewma" ->
      ((spark, sfDir) => foreachBatchEwma(spark, sfDir)),
    "s26_stream_mann_kendall" ->
      ((spark, sfDir) => foreachBatchMannKendall(spark, sfDir)),
    "s27_stream_gini" ->
      ((spark, sfDir) => foreachBatchGini(spark, sfDir)),
    "s28_stream_control_chart" ->
      ((spark, sfDir) => foreachBatchControlChart(spark, sfDir)),
    "s29_stream_holm" ->
      ((spark, sfDir) => foreachBatchHolm(spark, sfDir)),
    "s30_stream_hapax" ->
      ((spark, sfDir) => foreachBatchHapax(spark, sfDir)),
    "s31_stream_type_affinity" ->
      ((spark, sfDir) => foreachBatchTypeAffinity(spark, sfDir)),
    "s32_stream_auc_maintain" ->
      ((spark, sfDir) => foreachBatchAuc(spark, sfDir)),
    "s33_stream_did_maintain" ->
      ((spark, sfDir) => foreachBatchDid(spark, sfDir)),
    "s34_stream_ols_maintain" ->
      ((spark, sfDir) => foreachBatchOls(spark, sfDir)),
    "s35_stream_g2_maintain" ->
      ((spark, sfDir) => foreachBatchG2(spark, sfDir)),
    "s36_stream_spearman_maintain" ->
      ((spark, sfDir) => foreachBatchSpearman(spark, sfDir)),
    "s37_stream_survival_maintain" ->
      ((spark, sfDir) => foreachBatchSurvival(spark, sfDir)),
    "s38_stream_mahalanobis_maintain" ->
      ((spark, sfDir) => foreachBatchMahalanobis(spark, sfDir)),
    "s39_stream_conformal_maintain" ->
      ((spark, sfDir) => foreachBatchConformal(spark, sfDir)),
    "s40_stream_kendall_maintain" ->
      ((spark, sfDir) => foreachBatchKendall(spark, sfDir)),
    "s41_stream_cms_maintain" ->
      ((spark, sfDir) => foreachBatchCms(spark, sfDir)),
    "s42_stream_kmv_maintain" ->
      ((spark, sfDir) => foreachBatchKmv(spark, sfDir)),
    "s43_stream_theil_u_maintain" ->
      ((spark, sfDir) => foreachBatchTheilU(spark, sfDir)),
    "s44_stream_hll_maintain" ->
      ((spark, sfDir) => foreachBatchHll(spark, sfDir)),
    "s45_stream_ams_maintain" ->
      ((spark, sfDir) => foreachBatchAms(spark, sfDir)),
    "s46_stream_anova_maintain" ->
      ((spark, sfDir) => foreachBatchAnova(spark, sfDir)),
    "s47_stream_friedman_maintain" ->
      ((spark, sfDir) => foreachBatchFriedman(spark, sfDir)),
    "s48_stream_pettitt_maintain" ->
      ((spark, sfDir) => foreachBatchPettitt(spark, sfDir)),
    "s49_stream_kuiper_maintain" ->
      ((spark, sfDir) => foreachBatchKuiper(spark, sfDir)),
    "s50_stream_bartlett_maintain" ->
      ((spark, sfDir) => foreachBatchBartlett(spark, sfDir)),
    "s51_stream_richness_maintain" ->
      ((spark, sfDir) => foreachBatchRichness(spark, sfDir)),
    "s52_stream_dispersion_maintain" ->
      ((spark, sfDir) => foreachBatchDispersion(spark, sfDir)),
    "s53_stream_turning_maintain" ->
      ((spark, sfDir) => foreachBatchTurningPoints(spark, sfDir)),
    "s54_stream_bartels_maintain" ->
      ((spark, sfDir) => foreachBatchBartels(spark, sfDir)),
    "s55_stream_cvm_monitor" ->
      ((spark, sfDir) => foreachBatchCvm(spark, sfDir)),
    "s56_stream_mood_scale_monitor" ->
      ((spark, sfDir) => foreachBatchMoodScale(spark, sfDir)),
    "s57_stream_grubbs_maintain" ->
      ((spark, sfDir) => foreachBatchGrubbs(spark, sfDir)),
    "s58_stream_hurst_maintain" ->
      ((spark, sfDir) => foreachBatchHurst(spark, sfDir)),
    "s59_stream_good_turing_maintain" ->
      ((spark, sfDir) => foreachBatchGoodTuring(spark, sfDir)),
    "s60_stream_jonckheere_maintain" ->
      ((spark, sfDir) => foreachBatchJonckheere(spark, sfDir)),
    "s61_stream_ad_monitor" ->
      ((spark, sfDir) => foreachBatchAdDrift(spark, sfDir)),
    "s62_stream_cucconi_monitor" ->
      ((spark, sfDir) => foreachBatchCucconi(spark, sfDir)),
    "s63_stream_ansari_monitor" ->
      ((spark, sfDir) => foreachBatchAnsari(spark, sfDir)),
    "s64_stream_page_hinkley_maintain" ->
      ((spark, sfDir) => foreachBatchPageHinkley(spark, sfDir)),
    "s65_stream_variance_ratio_maintain" ->
      ((spark, sfDir) => foreachBatchVarianceRatio(spark, sfDir)),
    "s66_stream_ad_ksample_monitor" ->
      ((spark, sfDir) => foreachBatchAdKsample(spark, sfDir)),
    "s67_stream_signed_rank_maintain" ->
      ((spark, sfDir) => foreachBatchSignedRank(spark, sfDir)),
    "s68_stream_sign_test_maintain" ->
      ((spark, sfDir) => foreachBatchSignTest(spark, sfDir)),
    "s69_stream_dcor_maintain" ->
      ((spark, sfDir) => foreachBatchDistanceCorr(spark, sfDir)),
    "s16_stream_join_maintain" ->
      ((spark, sfDir) => foreachBatchJoinView(spark, sfDir)),
    "s17_stream_cdc_maintain" ->
      ((spark, sfDir) => foreachBatchCdc(spark, sfDir)),
    "s18_stream_bm25_maintain" ->
      ((spark, sfDir) => foreachBatchBm25(spark, sfDir)),
    "s19_stream_rfm_maintain" ->
      ((spark, sfDir) => foreachBatchRfm(spark, sfDir)),
    "s01_stream_window" -> ((spark, sfDir) => windowedCounts(spark, sfDir)),
    "s07_stream_ingest_partitioned" ->
      ((spark, sfDir) => streamIngestPartitioned(spark, sfDir)),
    "s02_stream_append_sink" -> ((spark, sfDir) => appendFileSink(spark, sfDir)),
    "s03_stream_sliding" -> ((spark, sfDir) => slidingCounts(spark, sfDir)),
    "s04_stream_session" -> ((spark, sfDir) => sessionCounts(spark, sfDir)),
    "s05_stream_dedup" -> ((spark, sfDir) => streamDedupCounts(spark, sfDir)),
    "s06_stream_stream_join" -> ((spark, sfDir) => streamStreamJoin(spark, sfDir)),
    "s08_stream_stateful_session" ->
      ((spark, sfDir) => statefulSessions(spark, sfDir)),
    "s09_stream_static_join" ->
      ((spark, sfDir) => streamStaticJoin(spark, sfDir)),
    "s10_stream_upsert" ->
      ((spark, sfDir) => foreachBatchUpsert(spark, sfDir))
  )

  // gaps-and-islands: a session breaks where the inactivity gap is
  // >= 30 minutes (session_window semantics: an event at exactly
  // start+gap opens a new session). Both endpoints bounded, mirroring
  // the append-mode emission contract: start >= 01-01 AND
  // end (= last event + 30 min) < 01-26.
  private val sessionOracleSql: String =
    "WITH o AS (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev " +
      "FROM events), " +
      "f AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE " +
      "THEN 1 ELSE 0 END AS new_s FROM o), " +
      "g AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts " +
      "ROWS UNBOUNDED PRECEDING) AS sid FROM f), " +
      "s AS (SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts, " +
      "COUNT(*) AS n_events FROM g GROUP BY user_id, sid) " +
      "SELECT user_id, STRFTIME(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start, n_events " +
      "FROM s WHERE start_ts >= TIMESTAMP '2024-01-01' " +
      "AND end_ts + INTERVAL 30 MINUTE < TIMESTAMP '2024-01-26' " +
      "ORDER BY user_id, session_start"

  val oracles: Map[String, String] = Map(
    // the IVM contract verbatim: streamed SCD2 state ≡ batch p08
    "s11_stream_scd2" -> graft.pipeline.Views.oracles("p08_scd2_history"),
    // the IVM contract verbatim: streamed histogram state ≡ batch x70
    "s12_stream_hist_maintain" ->
      graft.ext.Sampling.oracles("x70_hist_rollup"),
    // the IVM contract verbatim: the AUC read from the maintained
    // label-count cells ≡ batch x186
    "s32_stream_auc_maintain" ->
      graft.ext.Sampling.oracles("x186_roc_auc"),
    // the IVM contract verbatim: the conformal readout from the same
    // maintained cells ≡ batch x214
    "s39_stream_conformal_maintain" ->
      graft.ext.Sampling.oracles("x214_conformal_split"),
    // the IVM contract verbatim: the DiD read from the maintained
    // 2×2 cells ≡ batch c95
    "s33_stream_did_maintain" ->
      graft.queries.Surface.oracles("c95_diff_in_diff"),
    // the IVM contract verbatim: the fit solved from the maintained
    // one-row statistic ≡ batch x196
    "s34_stream_ols_maintain" ->
      graft.ext.Sampling.oracles("x196_ols_normal_eq"),
    // the IVM contract verbatim: the ranking read from the maintained
    // bigram-count model ≡ batch x197
    "s35_stream_g2_maintain" ->
      graft.ext.TextAnalysis.oracles("x197_g2_collocations"),
    // the IVM contract verbatim: the rho read from the maintained
    // joint frequency table ≡ batch x205
    "s36_stream_spearman_maintain" ->
      graft.ext.Sampling.oracles("x205_spearman"),
    // the readout-sharing face of the same contract: tau_b read from
    // the SAME maintained joint ≡ batch x216
    "s40_stream_kendall_maintain" ->
      graft.ext.Sampling.oracles("x216_kendall_tau_b"),
    // the IVM contract verbatim: the point-query report served from
    // the additively-maintained counter grid ≡ batch x218
    "s41_stream_cms_maintain" ->
      graft.ext.Sampling.oracles("x218_cms_heavy"),
    // the IVM contract verbatim: the distinct estimate served from
    // the min-union-maintained K-smallest slates ≡ batch x219
    "s42_stream_kmv_maintain" ->
      graft.ext.Sampling.oracles("x219_kmv_distinct"),
    // the IVM contract verbatim: the entropy association read from
    // the additively-maintained contingency cells ≡ batch x228
    "s43_stream_theil_u_maintain" ->
      graft.ext.TextAnalysis.oracles("x228_theil_u"),
    // the IVM contract verbatim: the distinct estimate served from
    // the max-union-maintained register table ≡ batch x230
    "s44_stream_hll_maintain" ->
      graft.ext.Sampling.oracles("x230_hll_frozen"),
    // the IVM contract verbatim: the F2 estimate served from the
    // additively-maintained signed sums ≡ batch x231
    "s45_stream_ams_maintain" ->
      graft.ext.Sampling.oracles("x231_ams_f2"),
    // the IVM contract verbatim: the ANOVA F solved from the
    // additively-maintained per-group moments ≡ batch x234
    "s46_stream_anova_maintain" ->
      graft.ext.Sampling.oracles("x234_anova_f"),
    // the IVM contract verbatim: the Friedman/W readout of the
    // maintained day cells ≡ batch x245
    "s47_stream_friedman_maintain" ->
      graft.pipeline.Views.oracles("x245_friedman"),
    // the IVM contract verbatim: Pettitt over the maintained day
    // cells ≡ batch x255
    "s48_stream_pettitt_maintain" ->
      graft.pipeline.Views.oracles("x255_pettitt"),
    // the IVM contract verbatim: Kuiper dow over the maintained day
    // cells ≡ batch x256
    "s49_stream_kuiper_maintain" ->
      graft.pipeline.Views.oracles("x256_kuiper_dow"),
    // the IVM contract verbatim: Bartlett's chi2 solved from the
    // same maintained moments as s46 ≡ batch x246
    "s50_stream_bartlett_maintain" ->
      graft.ext.Sampling.oracles("x246_bartlett"),
    // the IVM contract verbatim: the richness constants off the
    // maintained word-frequency table ≡ batch x258
    "s51_stream_richness_maintain" ->
      graft.ext.TextAnalysis.oracles("x258_lexical_richness"),
    // the IVM contract verbatim: dispersion over the maintained day
    // cells ≡ batch x269
    "s52_stream_dispersion_maintain" ->
      graft.pipeline.Views.oracles("x269_dispersion"),
    // the IVM contract verbatim: turning points over the maintained
    // day cells ≡ batch x276
    "s53_stream_turning_maintain" ->
      graft.pipeline.Views.oracles("x276_turning_points"),
    // the IVM contract verbatim: Bartels RVN over the maintained day
    // cells ≡ batch x277
    "s54_stream_bartels_maintain" ->
      graft.pipeline.Views.oracles("x277_bartels_rvn"),
    // the IVM contract verbatim: CvM over the maintained half/bucket
    // counts ≡ batch x281
    "s55_stream_cvm_monitor" ->
      graft.pipeline.Views.oracles("x281_cvm_drift"),
    // the IVM contract verbatim: Mood scale + Lepage combo over the
    // same maintained counts ≡ batch x282
    "s56_stream_mood_scale_monitor" ->
      graft.pipeline.Views.oracles("x282_mood_scale"),
    // the IVM contract verbatim: Grubbs over the maintained day
    // cells ≡ batch x284
    "s57_stream_grubbs_maintain" ->
      graft.pipeline.Views.oracles("x284_grubbs"),
    // the IVM contract verbatim: Hurst R/S over the maintained day
    // cells ≡ batch x286
    "s58_stream_hurst_maintain" ->
      graft.pipeline.Views.oracles("x286_hurst_rs"),
    // the IVM contract verbatim: Good–Turing over the maintained
    // word-frequency totals ≡ batch x290
    "s59_stream_good_turing_maintain" ->
      graft.ext.TextAnalysis.oracles("x290_good_turing"),
    // the IVM contract verbatim: JT over the maintained day cells
    // ≡ batch x278
    "s60_stream_jonckheere_maintain" ->
      graft.pipeline.Views.oracles("x278_jonckheere"),
    // the IVM contract verbatim: AD over the maintained half/bucket
    // counts ≡ batch x293
    "s61_stream_ad_monitor" ->
      graft.pipeline.Views.oracles("x293_ad_drift"),
    // the IVM contract verbatim: Cucconi over the same maintained
    // counts ≡ batch x294
    "s62_stream_cucconi_monitor" ->
      graft.pipeline.Views.oracles("x294_cucconi"),
    // the IVM contract verbatim: Ansari–Bradley over the same
    // maintained counts ≡ batch x295
    "s63_stream_ansari_monitor" ->
      graft.pipeline.Views.oracles("x295_ansari_bradley"),
    // the IVM contract verbatim: Page–Hinkley over the maintained
    // day cells ≡ batch x296
    "s64_stream_page_hinkley_maintain" ->
      graft.pipeline.Views.oracles("x296_page_hinkley"),
    // the IVM contract verbatim: the variance ratio over the same
    // maintained day cells ≡ batch x297
    "s65_stream_variance_ratio_maintain" ->
      graft.pipeline.Views.oracles("x297_variance_ratio"),
    // the IVM contract verbatim: the k-sample AD omnibus over the
    // maintained half/bucket counts ≡ batch x298
    "s66_stream_ad_ksample_monitor" ->
      graft.pipeline.Views.oracles("x298_ad_ksample"),
    // the IVM contract verbatim: the paired signed-rank test over
    // the maintained day cells ≡ batch x299
    "s67_stream_signed_rank_maintain" ->
      graft.pipeline.Views.oracles("x299_wilcoxon_signed_rank"),
    // the IVM contract verbatim: the paired sign test over the same
    // maintained day cells ≡ batch x300
    "s68_stream_sign_test_maintain" ->
      graft.pipeline.Views.oracles("x300_sign_test"),
    // the IVM contract verbatim: the distance correlation over the
    // same maintained day cells ≡ batch x301
    "s69_stream_dcor_maintain" ->
      graft.pipeline.Views.oracles("x301_distance_correlation"),
    // the IVM contract verbatim: the KM curve rebuilt from the
    // maintained per-user (d0, dl, dp) statistic ≡ batch c84
    "s37_stream_survival_maintain" ->
      graft.queries.Surface.oracles("c84_kaplan_meier"),
    // the IVM contract verbatim: the outlier screen re-fit from the
    // maintained user sums ≡ batch x209
    "s38_stream_mahalanobis_maintain" ->
      graft.ext.Sampling.oracles("x209_mahalanobis_outliers"),
    // the IVM contract verbatim: the BM25 top-10 served from the four
    // incrementally-maintained index parts ≡ batch x119
    "s18_stream_bm25_maintain" ->
      graft.ext.TextAnalysis.oracles("x119_bm25_topk"),
    // the IVM contract verbatim: segments read from the maintained
    // user-grain sufficient statistic ≡ batch c79
    "s19_stream_rfm_maintain" ->
      graft.queries.Surface.oracles("c79_rfm_segments"),
    // set-semantics IVM: the maintained degree table ≡ the batch
    // distinct count — novelty anti-join, not additive merge
    "s13_stream_degree_maintain" ->
      ("SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS deg " +
        "FROM events GROUP BY 1 ORDER BY user_id"),
    // the IVM contract: maintained counters ≡ the events section of
    // batch p12 (same one-pass aggregate, uniqueness telescoped
    // through the maintained id set)
    "s14_stream_dq_maintain" ->
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
        "r AS (" +
        "SELECT 'event_id_not_null' AS check_name, c1 AS violations, n_rows FROM ev " +
        "UNION ALL SELECT 'event_id_unique', c2, n_rows FROM ev " +
        "UNION ALL SELECT 'ts_in_2024', c3, n_rows FROM ev " +
        "UNION ALL SELECT 'event_type_in_domain', c4, n_rows FROM ev " +
        "UNION ALL SELECT 'value_positive', c5, n_rows FROM ev " +
        "UNION ALL SELECT 'value_le_400', c6, n_rows FROM ev " +
        "UNION ALL SELECT 'props_has_k', c7, n_rows FROM ev) " +
        "SELECT 'events' AS table_name, check_name, " +
        "CAST(violations AS BIGINT) AS violations, " +
        "CAST(n_rows AS BIGINT) AS n_rows, violations = 0 AS passed " +
        "FROM r ORDER BY check_name"),
    // the IVM contract verbatim: maintained current histogram + static
    // reference through the shared report stage ≡ batch x98
    "s15_stream_psi_monitor" -> graft.pipeline.Views.oracles("x98_psi_drift"),
    // the IVM contract verbatim: maintained cur histogram + static
    // reference through the shared sup-distance stage ≡ batch x133
    "s20_stream_ks_monitor" -> graft.pipeline.Views.oracles("x133_ks_drift"),
    // the IVM contract verbatim: the CUSUM report off the maintained
    // (type, day) count table ≡ batch x138
    "s22_stream_cusum" -> graft.pipeline.Views.oracles("x138_cusum_anomaly"),
    // the IVM contract verbatim: the rank-sum report off the SAME
    // maintained bin table s20 keeps ≡ batch x146
    "s23_stream_mw_monitor" ->
      graft.pipeline.Views.oracles("x146_mannwhitney_drift"),
    // the IVM contract verbatim: the mix-drift report off the SAME
    // maintained bin table (buckets sum away in the stage) ≡ batch
    // x161
    "s24_stream_chisq_monitor" ->
      graft.pipeline.Views.oracles("x161_chisq_drift"),
    // the IVM contract verbatim: the EWMA smoother off the maintained
    // day table ≡ batch x165
    "s25_stream_ewma" ->
      graft.pipeline.Views.oracles("x165_ewma_smooth"),
    // the IVM contract verbatim: the Mann–Kendall test off the same
    // maintained day table ≡ batch x167
    "s26_stream_mann_kendall" ->
      graft.pipeline.Views.oracles("x167_mann_kendall"),
    // the IVM contract verbatim: the Gini report off the maintained
    // value-frequency table ≡ batch x159 — a RANK statistic served
    // incrementally through its additive sufficient statistic
    "s27_stream_gini" ->
      graft.ext.TextAnalysis.oracles("x159_gini_length"),
    // the IVM contract verbatim: the Shewhart chart off the same
    // maintained day table ≡ batch x175
    "s28_stream_control_chart" ->
      graft.pipeline.Views.oracles("x175_control_chart"),
    // the IVM contract verbatim: the Holm screen off the same
    // maintained bin table ≡ batch x176
    "s29_stream_holm" ->
      graft.pipeline.Views.oracles("x176_holm_drift"),
    // the IVM contract verbatim: the hapax report off the maintained
    // word-frequency table ≡ batch x183 — the frequency TAIL served
    // through its additive sufficient statistic
    "s30_stream_hapax" ->
      graft.ext.TextAnalysis.oracles("x183_hapax_share"),
    // the IVM contract verbatim: the affinity matrix off the
    // union-distinct-maintained membership set ≡ batch c92
    "s31_stream_type_affinity" ->
      graft.queries.Surface.oracles("c92_type_affinity"),
    // the IVM contract verbatim: maintained cell table through the
    // shared diversity stage ≡ batch x136
    "s21_stream_simpson" ->
      graft.ext.TextAnalysis.oracles("x136_simpson_diversity"),
    // the IVM contract verbatim: maintained chunk store + counters
    // ≡ batch x116's content-addressed dedup report
    "s17_stream_cdc_maintain" ->
      graft.ext.TextAnalysis.oracles("x116_cdc_savings"),
    // the oracle is the LITERAL event-grain join, not the degree
    // product — their equality is exactly the factorization claim
    "s16_stream_join_maintain" ->
      ("WITH c AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events " +
        "WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT c.user_id, STRFTIME(c.d, '%Y-%m-%d') AS day, " +
        "COUNT(*) AS n_pairs FROM c JOIN p ON c.user_id = p.user_id " +
        "AND c.d = p.d GROUP BY 1, 2 ORDER BY c.user_id, day"),
    "s07_stream_ingest_partitioned" ->
      ("SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS date, COUNT(*) AS n " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "s01_stream_window" ->
      ("SELECT STRFTIME(CAST(DATE_TRUNC('day', ts) AS DATE), '%Y-%m-%d') AS day, " +
        "event_type, COUNT(*) AS n FROM events " +
        "WHERE CAST(DATE_TRUNC('day', ts) AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-25' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "s02_stream_append_sink" ->
      ("SELECT STRFTIME(CAST(DATE_TRUNC('day', ts) AS DATE), '%Y-%m-%d') AS day, " +
        "event_type, COUNT(*) AS n FROM events " +
        "WHERE CAST(DATE_TRUNC('day', ts) AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-25' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    // every event is a member of exactly two 2-day sliding windows:
    // the one starting on its day and the one starting the day before
    "s03_stream_sliding" ->
      ("WITH ev AS (SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, event_type FROM events), " +
        "slides AS (SELECT d AS wstart, event_type FROM ev " +
        "UNION ALL SELECT d - 1 AS wstart, event_type FROM ev) " +
        "SELECT STRFTIME(wstart, '%Y-%m-%d') AS wstart, event_type, COUNT(*) AS n " +
        "FROM slides WHERE wstart BETWEEN DATE '2023-12-31' AND DATE '2024-01-24' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "s04_stream_session" -> sessionOracleSql,
    // s08 reproduces s04's session contract through custom state, so it
    // shares the gaps-and-islands oracle verbatim.
    "s08_stream_stateful_session" -> sessionOracleSql,
    "s05_stream_dedup" ->
      ("SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "s06_stream_stream_join" ->
      ("SELECT STRFTIME(CAST(p.ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS n_pairs " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id " +
        "AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts " +
        "GROUP BY 1 ORDER BY 1"),
    "s09_stream_static_join" ->
      ("SELECT c_mktsegment AS segment, COUNT(*) AS n " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1 ORDER BY 1"),
    // incremental maintenance correctness (p05's contract, streaming
    // form): the upserted state must equal the batch-global aggregate
    "s10_stream_upsert" ->
      ("SELECT user_id, COUNT(*) AS n_purchases, MAX(ts) AS last_ts " +
        "FROM events WHERE event_type = 'purchase' " +
        "GROUP BY user_id ORDER BY user_id")
  )
}
