package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Stateful Structured Streaming coverage (SURVEY §2.C streaming row):
  * custom per-key state with mapGroupsWithState, driven batch-by-batch
  * through a MemoryStream so the state transitions are observable and
  * deterministic.
  */
class StreamingStateSpec extends SparkSpec {

  test("mapGroupsWithState keeps running per-user counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, String)] // (user_id, event_type)
    val counted = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }

    val q = counted.writeStream
      .format("memory").queryName("graft_state_test").outputMode("update")
      .start()
    try {
      input.addData((1L, "click"), (1L, "view"), (2L, "click"))
      q.processAllAvailable()
      input.addData((1L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("graft_state_test")
      .as[(Long, Long)].collect().toSet
    // batch 1 emits (1,2),(2,1); batch 2 emits (1,3) — state carried over
    assert(out.contains((1L, 2L)))
    assert(out.contains((2L, 1L)))
    assert(out.contains((1L, 3L)))
  }

  test("s08 sessionize merges out-of-order batches, bridges sessions, flushes on watermark") {
    import org.apache.spark.sql.functions.{col, date_format}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = graft.streaming.Streams.sessionize(
      input.toDS().withWatermark("_2", "1 hour"), gapMs = 30L * 60 * 1000)
    val q = sessions.writeStream
      .format("memory").queryName("graft_s08_test").outputMode("append").start()
    try {
      // batch 1: user 1 opens TWO sessions (10:00, 10:50 — 50 min gap);
      // user 2 opens one at 10:05
      input.addData((1L, t("10:00:00")), (1L, t("10:50:00")), (2L, t("10:05:00")))
      q.processAllAvailable()
      // batch 2 (out of order): 10:25 lands BETWEEN user 1's open
      // sessions, within the 30-min gap of both -> bridges them into one
      // [10:00, 10:50] session of 3 events; user 2's 10:40 is 35 min
      // after 10:05 -> a second separate session
      input.addData((1L, t("10:25:00")), (2L, t("10:40:00")))
      q.processAllAvailable()
      // batches 3+4: a far-future key advances the watermark past the
      // older sessions' ends (end = last + gap), firing their timeouts
      input.addData((99L, t("23:00:00")))
      q.processAllAvailable()
      input.addData((99L, t("23:30:00")))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("graft_s08_test")
      .select(col("user_id"), date_format(col("session_start_ts"), "HH:mm").as("start"),
        col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "10:00", 3L),  // bridged: 10:00 + 10:25 + 10:50
      (2L, "10:05", 1L),
      (2L, "10:40", 1L)), s"got $out")
  }

  test("checkpointed parquet sink is exactly-once across re-runs") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Lake
    // the production property every registered streaming query relies
    // on: re-running the same pipeline against the SAME checkpoint and
    // sink emits nothing new when there is no new data — no duplicate
    // rows, resumable by construction
    val micros = Lake.ensureMicrosEvents(spark, SfDir)
    val outDir = "/tmp/graft-stream/test_exactly_once_out"
    val ckDir = "/tmp/graft-stream/test_exactly_once_ck"
    Seq(outDir, ckDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(micros).schema).parquet(micros)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(outDir).count()
    runOnce()
    val n2 = spark.read.parquet(outDir).count()
    val src = spark.read.parquet(micros).count()
    assert(n1 == src, s"first run wrote $n1 of $src rows")
    assert(n2 == n1, s"re-run duplicated rows: $n1 -> $n2")
  }

  test("kill mid-ingest, resume from checkpoint: exactly-once, no dupes or loss") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Lake
    // The production property the checkpointed sink harness exists for:
    // a stream STOPPED partway through its input and restarted from the
    // same checkpoint must end with exactly the batch result — the file
    // sink's _spark_metadata commit log discards uncommitted output and
    // the source log resumes at the first unprocessed file.
    val base = "/tmp/graft-stream/test_kill_resume"
    val (srcDir, outDir, ckDir) = (s"$base/src", s"$base/out", s"$base/ck")
    Seq(srcDir, outDir, ckDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    // 16 source files + maxFilesPerTrigger=1 → 16 microbatches
    val micros = Lake.ensureMicrosEvents(spark, SfDir)
    spark.read.parquet(micros).repartition(16).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def writer = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .withColumn("date", to_date(col("ts")))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .partitionBy("date").outputMode("append")
    // phase 1: slow trigger cadence; stop as soon as the first batch
    // commits — later files are guaranteed still unprocessed
    val q1 = writer.trigger(Trigger.ProcessingTime("1 second")).start()
    val deadline = System.currentTimeMillis() + 120000
    while (!q1.recentProgress.exists(_.numInputRows > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
    q1.stop()
    assert(q1.recentProgress.exists(_.numInputRows > 0),
      "stream never committed a batch before the kill")
    // phase 2: restart against the SAME checkpoint and drain
    val q2 = writer.trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows > 0,
      "restart processed nothing — phase 1 was not killed mid-ingest")
    // exactly-once: the sink equals the source as a multiset — same
    // row count AND every event_id present exactly once
    val out = spark.read.parquet(outDir)
    val srcN = spark.read.parquet(srcDir).count()
    assert(out.count() == srcN, s"sink has ${out.count()} of $srcN rows")
    assert(out.select(col("event_id")).distinct().count() == srcN,
      "duplicate event_ids after resume — sink is not exactly-once")
  }

  test("re-sunk streaming queries return parquet-sink-backed frames, not memory sinks") {
    // s01/s03/s05/s06 moved off driver-memory sinks in r5: the frame a
    // registered query returns must read from the checkpointed parquet
    // sink directory (production shape), which inputFiles exposes
    Seq("s03_stream_sliding", "s05_stream_dedup", "s06_stream_stream_join")
      .foreach { name =>
        val df = graft.streaming.Streams.queries(name)(spark, SfDir)
        val files = df.inputFiles
        assert(files.nonEmpty, s"$name: no input files")
        assert(files.forall(_.contains("/tmp/graft-stream/")),
          s"$name reads outside the stream sink: ${files.take(3).mkString(",")}")
      }
  }

  test("windowed streaming agg equals the batch aggregation (s01 semantics)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Lake
    // s01 is append mode, so it reports the watermark-flushed day range
    // [01-01, 01-25]; the batch side states the same bound.
    val streamed = graft.streaming.Streams.windowedCounts(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Lake.table(spark, SfDir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("day") >= "2024-01-01" && col("day") <= "2024-01-25")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("s10 foreachBatch upsert runs multi-batch and converges to the batch aggregate") {
    import org.apache.spark.sql.functions._
    import graft.sources.Lake
    val state = graft.streaming.Streams.foreachBatchUpsert(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    // the merge path must actually run: one generation dir per
    // microbatch, and maxFilesPerTrigger=1 over a >=2-file source
    // means >=2 generations (gen_0 is insert-only; gen_1+ merge)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s10_$tag")
      .listFiles().count(_.getName.startsWith("gen_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = Lake.table(spark, SfDir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    assert(state == batch,
      s"upserted state diverges from the batch aggregate: " +
        s"extra=${state -- batch}, missing=${batch -- state}")
  }

  test("s11 streaming SCD2 runs multi-batch and lands on the batch p08 history exactly") {
    import org.apache.spark.sql.functions._
    import graft.sources.Lake
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.get(3)).map(_.toString), r.getBoolean(4), r.getLong(5))
    val streamed = graft.streaming.Streams.foreachBatchScd2(spark, SfDir)
      .collect().map(key).toSet
    // key-scoped recompute must survive a REAL batch decomposition:
    // maxFilesPerTrigger=1 over a >=2-file source means the runs of
    // users spanning batches were rebuilt at least once
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s11_$tag")
      .listFiles().count(_.getName.startsWith("gen_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.scd2History(
      Lake.table(spark, SfDir, "events")).collect().map(key).toSet
    assert(streamed == batch,
      s"streamed SCD2 diverges from batch p08: " +
        s"extra=${(streamed -- batch).take(3)}, missing=${(batch -- streamed).take(3)}")
  }

  test("streaming histogram maintenance converges to the batch rollup exactly over a real multi-batch run (s12 vs x70)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))
    val streamed = graft.streaming.Streams.foreachBatchHistogram(spark, SfDir)
      .collect().map(key)
    // additive sum-merge must survive a real batch decomposition
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s12_$tag")
      .listFiles().count(_.getName.startsWith("gen_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x70_hist_rollup")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed histogram diverges from batch x70:\n$streamed\nvs\n$batch")
  }

  test("streaming kendall maintenance converges to batch x216 exactly over a real multi-batch run (s40)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    val streamed = graft.streaming.Streams.foreachBatchKendall(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s40_$tag")
      .listFiles().count(_.getName.startsWith("joint_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x216_kendall_tau_b")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed tau_b diverges from batch x216:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming cms maintenance: additively-merged counter grid serves batch x218 exactly (s41)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = graft.streaming.Streams.foreachBatchCms(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s41_$tag")
      .listFiles().count(_.getName.startsWith("grid_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x218_cms_heavy")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed CMS diverges from batch x218:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming kmv maintenance: min-union-merged slates serve batch x219 exactly (s42)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = graft.streaming.Streams.foreachBatchKmv(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s42_$tag")
      .listFiles().count(_.getName.startsWith("slate_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x219_kmv_distinct")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed KMV diverges from batch x219:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming theil-u maintenance: additively-merged contingency cells serve batch x228 exactly (s43)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))
    val streamed = graft.streaming.Streams.foreachBatchTheilU(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s43_$tag")
      .listFiles().count(_.getName.startsWith("cells_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.TextAnalysis.queries("x228_theil_u")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed Theil U diverges from batch x228:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming hll maintenance: max-union-merged registers serve batch x230 exactly (s44)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
    val streamed = graft.streaming.Streams.foreachBatchHll(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s44_$tag")
      .listFiles().count(_.getName.startsWith("regs_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x230_hll_frozen")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed HLL diverges from batch x230:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming ams maintenance: additively-merged signed sums serve batch x231 exactly (s45)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
    val streamed = graft.streaming.Streams.foreachBatchAms(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s45_$tag")
      .listFiles().count(_.getName.startsWith("sums_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x231_ams_f2")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed AMS diverges from batch x231:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming anova maintenance: additively-merged group moments serve batch x234 exactly (s46)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5))
    val streamed = graft.streaming.Streams.foreachBatchAnova(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s46_$tag")
      .listFiles().count(_.getName.startsWith("moments_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.Sampling.queries("x234_anova_f")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq.toString == batch.toSeq.toString,
      s"streamed ANOVA diverges from batch x234:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming degree maintenance is set-semantics: novelty anti-join, not additive merge (s13)") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.Streams.foreachBatchDegrees(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // multi-batch decomposition actually exercised
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s13_$tag")
      .listFiles().count(_.getName.startsWith("deg_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    // ≡ batch COUNT(DISTINCT) — the IVM contract
    val ev = graft.sources.Lake.table(spark, SfDir, "events")
    val batch = ev.groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("deg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    // the distinction this query pins: an edge recurring across
    // batches must count ONCE — an additive merge would land at the
    // raw pair count instead
    val rawPairs = ev.select(col("user_id"), col("event_type")).count()
    assert(streamed.values.sum < rawPairs,
      "degrees equal raw pair volume — set semantics lost")
    // and the maintained edge artifact is exactly the distinct set
    val lastGen = new java.io.File(s"/tmp/graft-stream/s13_$tag")
      .listFiles().filter(_.getName.startsWith("edges_"))
      .map(_.getName.stripPrefix("edges_").toLong).max
    val edgeCount = spark.read
      .parquet(s"/tmp/graft-stream/s13_$tag/edges_$lastGen").count()
    assert(edgeCount == streamed.values.sum)
  }

  test("streaming DQ maintenance equals the batch p12 events section across a multi-batch run (s14)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
    val streamed = graft.streaming.Streams.foreachBatchDq(spark, SfDir)
      .collect().map(key)
    // multi-batch decomposition actually exercised
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s14_$tag")
      .listFiles().count(_.getName.startsWith("ctr_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    // ≡ the events rows of the batch DQ report — the IVM contract;
    // in particular the telescoped uniqueness counter must agree with
    // batch count−countDistinct even though no batch saw all ids
    val batch = graft.pipeline.Views.queries("p12_dq_expectations")(spark, SfDir)
      .collect().map(key).filter(_._1 == "events")
    assert(streamed.toSeq == batch.toSeq,
      s"streamed DQ counters diverge from batch p12:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming PSI monitor equals batch x98 across a multi-batch run (s15)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
    val streamed = graft.streaming.Streams.foreachBatchPsi(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s15_$tag")
      .listFiles().count(_.getName.startsWith("hist_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x98_psi_drift")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed PSI diverges from batch x98:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming KS monitor equals batch x133 across a multi-batch run (s20)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))
    val streamed = graft.streaming.Streams.foreachBatchKs(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s20_$tag")
      .listFiles().count(_.getName.startsWith("hist_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x133_ks_drift")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed KS diverges from batch x133:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming CUSUM monitor equals batch x138 across a multi-batch run (s22)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))
    val streamed = graft.streaming.Streams.foreachBatchCusum(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s22_$tag")
      .listFiles().count(_.getName.startsWith("days_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x138_cusum_anomaly")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed CUSUM diverges from batch x138:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Mann-Whitney monitor equals batch x146 across a multi-batch run (s23)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))
    val streamed = graft.streaming.Streams.foreachBatchMw(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s23_$tag")
      .listFiles().count(_.getName.startsWith("hist_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x146_mannwhitney_drift")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed MW diverges from batch x146:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming chi-square mix monitor equals batch x161 across a multi-batch run (s24)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6), r.getBoolean(7))
    val streamed = graft.streaming.Streams.foreachBatchChisq(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s24_$tag")
      .listFiles().count(_.getName.startsWith("hist_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x161_chisq_drift")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed chi-square diverges from batch x161:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming EWMA smoother equals batch x165 across a multi-batch run (s25)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val streamed = graft.streaming.Streams.foreachBatchEwma(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s25_$tag")
      .listFiles().count(_.getName.startsWith("days_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x165_ewma_smooth")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed EWMA diverges from batch x165:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Mann-Kendall test equals batch x167 across a multi-batch run (s26)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getBoolean(5)))
    val streamed = graft.streaming.Streams.foreachBatchMannKendall(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s26_$tag")
      .listFiles().count(_.getName.startsWith("days_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x167_mann_kendall")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed MK diverges from batch x167:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Friedman equals batch x245 across a multi-batch run (s47)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val streamed = graft.streaming.Streams.foreachBatchFriedman(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s47_$tag")
      .listFiles().count(_.getName.startsWith("days_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x245_friedman")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed Friedman diverges from batch x245:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Pettitt equals batch x255, streaming Kuiper equals batch x256 (s48/s49)") {
    def keyP(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))
    val sp = graft.streaming.Streams.foreachBatchPettitt(spark, SfDir)
      .collect().map(keyP)
    val bp = graft.pipeline.Views.queries("x255_pettitt")(spark, SfDir)
      .collect().map(keyP)
    assert(sp.toSeq == bp.toSeq,
      s"streamed Pettitt diverges:\n${sp.toSeq}\nvs\n${bp.toSeq}")
    def keyK(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val sk = graft.streaming.Streams.foreachBatchKuiper(spark, SfDir)
      .collect().map(keyK)
    val bk = graft.pipeline.Views.queries("x256_kuiper_dow")(spark, SfDir)
      .collect().map(keyK)
    assert(sk.toSeq == bk.toSeq,
      s"streamed Kuiper diverges:\n${sk.toSeq}\nvs\n${bk.toSeq}")
  }

  test("streaming turning points equals batch x276, streaming Bartels equals batch x277 (s53/s54)") {
    def keyT(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val st = graft.streaming.Streams.foreachBatchTurningPoints(spark, SfDir)
      .collect().map(keyT)
    val bt = graft.pipeline.Views.queries("x276_turning_points")(spark, SfDir)
      .collect().map(keyT)
    assert(st.toSeq == bt.toSeq,
      s"streamed turning points diverge:\n${st.toSeq}\nvs\n${bt.toSeq}")
    def keyB(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))
    val sb = graft.streaming.Streams.foreachBatchBartels(spark, SfDir)
      .collect().map(keyB)
    val bb = graft.pipeline.Views.queries("x277_bartels_rvn")(spark, SfDir)
      .collect().map(keyB)
    assert(sb.toSeq == bb.toSeq,
      s"streamed Bartels diverges:\n${sb.toSeq}\nvs\n${bb.toSeq}")
  }

  test("streaming CvM equals batch x281, streaming Mood scale equals batch x282 (s55/s56)") {
    def keyC(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val sc = graft.streaming.Streams.foreachBatchCvm(spark, SfDir)
      .collect().map(keyC)
    val bc = graft.pipeline.Views.queries("x281_cvm_drift")(spark, SfDir)
      .collect().map(keyC)
    assert(sc.toSeq == bc.toSeq,
      s"streamed CvM diverges:\n${sc.toSeq}\nvs\n${bc.toSeq}")
    def keyM(r: org.apache.spark.sql.Row) =
      // m4 publishes as a string (the DECIMAL(38,0) sum stringified
      // so the readout never wraps a BIGINT at lake scale)
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))
    val sm = graft.streaming.Streams.foreachBatchMoodScale(spark, SfDir)
      .collect().map(keyM)
    val bm = graft.pipeline.Views.queries("x282_mood_scale")(spark, SfDir)
      .collect().map(keyM)
    assert(sm.toSeq == bm.toSeq,
      s"streamed Mood scale diverges:\n${sm.toSeq}\nvs\n${bm.toSeq}")
  }

  test("streaming AD/Cucconi/Ansari equal their batch twins (s61/s62/s63)") {
    def keyAd(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val sa = graft.streaming.Streams.foreachBatchAdDrift(spark, SfDir)
      .collect().map(keyAd)
    val ba = graft.pipeline.Views.queries("x293_ad_drift")(spark, SfDir)
      .collect().map(keyAd)
    assert(sa.toSeq == ba.toSeq,
      s"streamed AD diverges:\n${sa.toSeq}\nvs\n${ba.toSeq}")
    def keyCu(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        (3 to 5).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
    val scu = graft.streaming.Streams.foreachBatchCucconi(spark, SfDir)
      .collect().map(keyCu)
    val bcu = graft.pipeline.Views.queries("x294_cucconi")(spark, SfDir)
      .collect().map(keyCu)
    assert(scu.toSeq == bcu.toSeq,
      s"streamed Cucconi diverges:\n${scu.toSeq}\nvs\n${bcu.toSeq}")
    def keyAb(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    val sab = graft.streaming.Streams.foreachBatchAnsari(spark, SfDir)
      .collect().map(keyAb)
    val bab = graft.pipeline.Views.queries("x295_ansari_bradley")(spark, SfDir)
      .collect().map(keyAb)
    assert(sab.toSeq == bab.toSeq,
      s"streamed Ansari diverges:\n${sab.toSeq}\nvs\n${bab.toSeq}")
  }

  test("streaming Page-Hinkley and variance ratio equal their batch twins (s64/s65)") {
    def keyPh(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val sp = graft.streaming.Streams.foreachBatchPageHinkley(spark, SfDir)
      .collect().map(keyPh)
    val bp = graft.pipeline.Views.queries("x296_page_hinkley")(spark, SfDir)
      .collect().map(keyPh)
    assert(sp.toSeq == bp.toSeq,
      s"streamed PH diverges:\n${sp.toSeq}\nvs\n${bp.toSeq}")
    def keyVr(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        (4 to 5).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
    val sv = graft.streaming.Streams.foreachBatchVarianceRatio(spark, SfDir)
      .collect().map(keyVr)
    val bv = graft.pipeline.Views.queries("x297_variance_ratio")(spark, SfDir)
      .collect().map(keyVr)
    assert(sv.toSeq == bv.toSeq,
      s"streamed VR diverges:\n${sv.toSeq}\nvs\n${bv.toSeq}")
  }

  test("streaming Jonckheere equals batch x278 (s60)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    val sj = graft.streaming.Streams.foreachBatchJonckheere(spark, SfDir)
      .collect().map(key)
    val bj = graft.pipeline.Views.queries("x278_jonckheere")(spark, SfDir)
      .collect().map(key)
    assert(sj.toSeq == bj.toSeq,
      s"streamed JT diverges:\n${sj.toSeq}\nvs\n${bj.toSeq}")
  }

  test("streaming signed-rank and sign test equal batch x299/x300 (s67/s68)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))
    val sw = graft.streaming.Streams.foreachBatchSignedRank(spark, SfDir)
      .collect().map(key)
    val bw = graft.pipeline.Views.queries("x299_wilcoxon_signed_rank")(
      spark, SfDir).collect().map(key)
    assert(sw.toSeq == bw.toSeq,
      s"streamed signed-rank diverges:\n${sw.toSeq}\nvs\n${bw.toSeq}")
    val ss = graft.streaming.Streams.foreachBatchSignTest(spark, SfDir)
      .collect().map(key)
    val bs = graft.pipeline.Views.queries("x300_sign_test")(spark, SfDir)
      .collect().map(key)
    assert(ss.toSeq == bs.toSeq,
      s"streamed sign test diverges:\n${ss.toSeq}\nvs\n${bs.toSeq}")
  }

  test("streaming distance correlation equals batch x301 (s69)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val sd = graft.streaming.Streams.foreachBatchDistanceCorr(spark, SfDir)
      .collect().map(key)
    val bd = graft.pipeline.Views.queries("x301_distance_correlation")(
      spark, SfDir).collect().map(key)
    assert(sd.toSeq == bd.toSeq,
      s"streamed dcor diverges:\n${sd.toSeq}\nvs\n${bd.toSeq}")
  }

  test("streaming Good-Turing equals batch x290 (s59)") {
    def key(r: org.apache.spark.sql.Row) =
      ((0 to 4).map(r.getLong),
        (5 to 7).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
    val sg = graft.streaming.Streams.foreachBatchGoodTuring(spark, SfDir)
      .collect().map(key)
    val bg = graft.ext.TextAnalysis.queries("x290_good_turing")(spark, SfDir)
      .collect().map(key)
    assert(sg.toSeq == bg.toSeq,
      s"streamed Good-Turing diverges:\n${sg.toSeq}\nvs\n${bg.toSeq}")
  }

  test("streaming Grubbs equals batch x284, streaming Hurst equals batch x286 (s57/s58)") {
    def keyG(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    val sg = graft.streaming.Streams.foreachBatchGrubbs(spark, SfDir)
      .collect().map(keyG)
    val bg = graft.pipeline.Views.queries("x284_grubbs")(spark, SfDir)
      .collect().map(keyG)
    assert(sg.toSeq == bg.toSeq,
      s"streamed Grubbs diverges:\n${sg.toSeq}\nvs\n${bg.toSeq}")
    def keyH(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        (4 to 7).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
    val sh = graft.streaming.Streams.foreachBatchHurst(spark, SfDir)
      .collect().map(keyH)
    val bh = graft.pipeline.Views.queries("x286_hurst_rs")(spark, SfDir)
      .collect().map(keyH)
    assert(sh.toSeq == bh.toSeq,
      s"streamed Hurst diverges:\n${sh.toSeq}\nvs\n${bh.toSeq}")
  }

  test("streaming Bartlett equals batch x246, streaming richness equals batch x258 (s50/s51)") {
    def keyB(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val sb = graft.streaming.Streams.foreachBatchBartlett(spark, SfDir)
      .collect().map(keyB)
    val bb = graft.ext.Sampling.queries("x246_bartlett")(spark, SfDir)
      .collect().map(keyB)
    assert(sb.toSeq == bb.toSeq,
      s"streamed Bartlett diverges:\n${sb.toSeq}\nvs\n${bb.toSeq}")
    def keyR(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        if (r.isNullAt(8)) None else Some(r.getDouble(8)))
    val sr = graft.streaming.Streams.foreachBatchRichness(spark, SfDir)
      .collect().map(keyR)
    val br = graft.ext.TextAnalysis.queries("x258_lexical_richness")(spark, SfDir)
      .collect().map(keyR)
    assert(sr.toSeq == br.toSeq,
      s"streamed richness diverges:\n${sr.toSeq}\nvs\n${br.toSeq}")
  }

  test("streaming dispersion equals batch x269 across a multi-batch run (s52)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))
    val streamed = graft.streaming.Streams.foreachBatchDispersion(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s52_$tag")
      .listFiles().count(_.getName.startsWith("days_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x269_dispersion")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed dispersion diverges from batch x269:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Gini monitor equals batch x159 across a multi-batch run (s27)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = graft.streaming.Streams.foreachBatchGini(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s27_$tag")
      .listFiles().count(_.getName.startsWith("freq_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.TextAnalysis.queries("x159_gini_length")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed Gini diverges from batch x159:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming control chart equals batch x175 across a multi-batch run (s28)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))
    val streamed = graft.streaming.Streams
      .foreachBatchControlChart(spark, SfDir).collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s28_$tag")
      .listFiles().count(_.getName.startsWith("days_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x175_control_chart")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed chart diverges from batch x175:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Holm screen equals batch x176 across a multi-batch run (s29)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))
    val streamed = graft.streaming.Streams.foreachBatchHolm(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s29_$tag")
      .listFiles().count(_.getName.startsWith("hist_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.pipeline.Views.queries("x176_holm_drift")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed Holm diverges from batch x176:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming hapax monitor equals batch x183 across a multi-batch run (s30)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))
    val streamed = graft.streaming.Streams.foreachBatchHapax(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s30_$tag")
      .listFiles().count(_.getName.startsWith("freq_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.TextAnalysis.queries("x183_hapax_share")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed hapax diverges from batch x183:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming type affinity equals batch c92 across a multi-batch run (s31)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    val streamed = graft.streaming.Streams
      .foreachBatchTypeAffinity(spark, SfDir).collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s31_$tag")
      .listFiles().count(_.getName.startsWith("set_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.queries.Surface.queries("c92_type_affinity")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed affinity diverges from batch c92:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming Simpson diversity equals batch x136 across a multi-batch run (s21)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = graft.streaming.Streams.foreachBatchSimpson(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s21_$tag")
      .listFiles().count(_.getName.startsWith("cells_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.TextAnalysis.queries("x136_simpson_diversity")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed diversity diverges from batch x136:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
  }

  test("streaming join-view maintenance: degree product equals the literal event-grain join across batches (s16)") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.Streams.foreachBatchJoinView(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s16_$tag")
      .listFiles().count(_.getName.startsWith("purch_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    // the literal join the factorization replaces
    val ev = graft.sources.Lake.table(spark, SfDir, "events")
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
    val c = ev.filter(col("event_type") === "click").select(col("user_id"), col("d"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("d").as("d2"))
    val joined = c.join(p, col("user_id") === col("u2") && col("d") === col("d2"))
      .groupBy(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"), col("day"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed.toSeq == joined.toSeq,
      "maintained degree product must equal the event-grain join")
    // fanout actually exercised: some key must pair more than 1×1
    assert(streamed.exists(_._3 > 1), "need a key with real join fanout")
  }

  test("streaming CDC store equals batch x116 across a multi-batch run; re-ingested chunks store once (s17)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val streamed = graft.streaming.Streams.foreachBatchCdc(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s17_$tag")
      .listFiles().count(_.getName.startsWith("ctr_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.ext.TextAnalysis.queries("x116_cdc_savings")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed CDC store diverges from batch x116:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
    // set semantics: the maintained store is exactly the distinct set
    val lastGen = new java.io.File(s"/tmp/graft-stream/s17_$tag")
      .listFiles().filter(_.getName.startsWith("store_"))
      .map(_.getName.stripPrefix("store_").toLong).max
    val storeCount = spark.read
      .parquet(s"/tmp/graft-stream/s17_$tag/store_$lastGen").count()
    assert(storeCount == streamed(0)._2, "store size must equal n_distinct")
  }

  test("streaming BM25 index serves the exact batch ranking across a multi-batch build (s18)") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getDouble(1))
    val streamed = graft.streaming.Streams.foreachBatchBm25(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s18_$tag")
      .listFiles().count(_.getName.startsWith("g_"))
    assert(gens >= 2, s"expected a multi-batch index build, got $gens generation(s)")
    val batch = graft.ext.TextAnalysis.queries("x119_bm25_topk")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"served ranking diverges from batch x119:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
    // the co-maintained stats must agree with the postings they index
    val lastGen = new java.io.File(s"/tmp/graft-stream/s18_$tag")
      .listFiles().filter(_.getName.startsWith("g_"))
      .map(_.getName.stripPrefix("g_").toLong).max
    val g = spark.read.parquet(s"/tmp/graft-stream/s18_$tag/g_$lastGen")
      .collect()(0)
    val lens = spark.read.parquet(s"/tmp/graft-stream/s18_$tag/len_$lastGen")
    assert(g.getLong(0) == lens.count(), "maintained n vs length table")
    assert(g.getLong(1) ==
      lens.agg(org.apache.spark.sql.functions.sum("len")).collect()(0).getLong(0),
      "maintained l vs summed lengths")
  }

  test("streaming RFM segments equal batch c79: the sufficient statistic merges, the report reads out (s19)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))
    val streamed = graft.streaming.Streams.foreachBatchRfm(spark, SfDir)
      .collect().map(key)
    val tag = Integer.toHexString(SfDir.hashCode)
    val gens = new java.io.File(s"/tmp/graft-stream/s19_$tag")
      .listFiles().count(_.getName.startsWith("users_"))
    assert(gens >= 2, s"expected a multi-batch run, got $gens generation(s)")
    val batch = graft.queries.Surface.queries("c79_rfm_segments")(spark, SfDir)
      .collect().map(key)
    assert(streamed.toSeq == batch.toSeq,
      s"streamed segments diverge from batch c79:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
    // segment populations still partition the user population
    import org.apache.spark.sql.functions.{col, countDistinct}
    val users = graft.sources.Lake.table(spark, SfDir, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(streamed.map(_._5).sum == users)
  }

  test("generation commit: a redelivered batch reuses its committed generation, a torn one is recomputed, no batches fails") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.streaming.Streams
    import spark.implicits._
    val base = "/tmp/graft-stream/test_generations"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val gens = new Streams.Generations(spark, "test", base, Seq("rows", "counts"))
    var merges = 0
    // table "rows" keeps every row seen, table "counts" the per-key
    // count — the last-named table, so its marker commits the batch
    def step(batch: DataFrame, prev: Option[Seq[DataFrame]],
        next: Seq[String]): Unit = {
      merges += 1
      prev.fold(batch)(_.head.unionByName(batch))
        .write.mode("overwrite").parquet(next(0))
      val delta = batch.groupBy(col("k")).agg(count(lit(1)).as("d"))
      prev.fold(delta.withColumnRenamed("d", "n"))(p =>
        p(1).join(delta, Seq("k"), "full_outer")
          .select(col("k"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L))).as("n")))
        .write.mode("overwrite").parquet(next(1))
    }
    def counts: Map[Int, Long] =
      gens.read().last.as[(Int, Long)].collect().toMap

    gens.commit(Seq(1, 1, 2).toDF("k"), 0)(step)
    gens.commit(Seq(2, 3).toDF("k"), 1)(step)
    assert(merges == 2 && counts == Map(1 -> 2L, 2 -> 2L, 3 -> 1L))
    // redelivery of a committed batch: reused, not merged again
    gens.commit(Seq(2, 3).toDF("k"), 1)(step)
    assert(merges == 2, "a committed generation was merged again")
    assert(counts == Map(1 -> 2L, 2 -> 2L, 3 -> 1L))
    // torn generation: the first table landed, the last one has data
    // but no _SUCCESS marker (a crash mid-write) — recomputed
    Seq(7).toDF("k").write.parquet(s"$base/rows_2")
    Seq((99, 99L)).toDF("k", "n").write.parquet(s"$base/counts_2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/counts_2/_SUCCESS"), false)
    gens.commit(Seq(3).toDF("k"), 2)(step)
    assert(merges == 3, "a torn generation was taken as committed")
    assert(counts == Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
    assert(spark.read.parquet(s"$base/rows_2").count() == 6)
    // a stream that runs no batch has no generation to read
    val empty = s"$base/empty_src"
    fs.mkdirs(new org.apache.hadoop.fs.Path(empty))
    val err = intercept[RuntimeException] {
      Streams.foldBatches(spark, "test_none", SfDir,
        spark.readStream.schema("k INT").parquet(empty), "t")((_, _, _) => ())
    }
    assert(err.getMessage == "test_none: stream produced no batches")
  }
}
