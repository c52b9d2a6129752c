package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Path-addressed data-lake readers and writers.
  *
  * The reference engine addresses tables by physical parquet path on
  * object storage with no catalog (quack.py:145, README.md:100); hive
  * partitioning is produced by deriving a `date` column from an event
  * timestamp and writing `partition_cols=['date']`
  * (run_me_first.py:95-98) and consumed with partition-pruned scans
  * (benchmark.py:237-238). Spark-first equivalents: `spark.read.parquet`
  * with native partition discovery, `write.partitionBy`, and Catalyst
  * `PruneFileSourcePartitions` doing the pruning the reference does by
  * constructing per-partition paths manually.
  *
  * At 100 TB the same layout holds: one directory per table, hive
  * partitioning on a low-cardinality derived key (date), file sizes
  * governed by `spark.sql.files.maxPartitionBytes` on read and
  * `repartition(n, key)` before write.
  *
  * Caching layers (all cheap, all scale-motivated):
  *  - derived-table paths carry a fingerprint of the source files, so
  *    regenerated inputs invalidate /tmp copies automatically;
  *  - a bounded LRU of resolved DataFrames per (session, path) avoids
  *    re-listing + re-reading parquet footers on every query — at
  *    object-store scale each listing is a round-trip, and the
  *    reference's warm-session design amortizes exactly this;
  *  - corpus row counts come from parquet footer metadata, not a scan
  *    job ([[rowCount]]) — sizing decisions (LSH bits, hot-key caps,
  *    idf N) must not cost a full-table pass per query at 100 TB.
  *
  * Staleness contract (deliberate, documented): `fingerprint`,
  * `doneTargets`, `rowCount`, and the DataFrame LRU are all
  * PER-PROCESS caches that never re-stat the source files — so
  * "regenerated inputs invalidate /tmp copies automatically" holds
  * ACROSS process restarts, not within one. A long-lived server
  * process keeps answering from the derived tables built from the
  * source as it looked at first touch; operators that rewrite a source
  * dataset in place under a live server must restart it (or call
  * [[dropCachesFor]]). This mirrors the reference's warm-Lambda
  * semantics, where a redeploy/cold-start is the invalidation point.
  */
object Lake {

  /** All driver-provisioned testdata tables (TESTDATA.md + FIXTURES.md §2). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val OutTsKey = "spark.sql.parquet.outputTimestampType"

  /** Run `body` with the given session confs set, restoring the previous
    * values (or unsetting) afterwards — derived-table builds must not
    * leave session-global side effects (a later unrelated write would
    * silently inherit TIMESTAMP_MICROS).
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Fingerprint of the source dataset at sfDir: length + mtime of every
    * table file folded into one hex word. Folded into every derived-table
    * path so regenerated inputs can never serve a stale /tmp copy.
    * Cached per sfDir — one listing per process, not per query.
    */
  private val fpCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def fingerprint(spark: SparkSession, sfDir: String): String =
    fpCache.computeIfAbsent(sfDir, _ => {
      val (fs, _) = hadoopFs(spark, sfDir)
      val h = tableNames.foldLeft(17L) { (acc, n) =>
        val p = new org.apache.hadoop.fs.Path(s"$sfDir/$n.parquet")
        val x =
          if (fs.exists(p)) {
            val st = fs.getFileStatus(p)
            st.getLen * 31 + st.getModificationTime
          } else 0L
        acc * 1000003L + x
      }
      java.lang.Long.toHexString(h)
    })

  /** Exact row count of a source table from parquet footer metadata —
    * no Spark job, no data scan. Cached per (sfDir, table). This is how
    * per-query sizing decisions (LSH signature width, document-frequency
    * caps, idf's N) stay O(footers) instead of a full-table count() at
    * every invocation.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    countCache.computeIfAbsent(s"$sfDir/$name", _ => {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sparkContext.hadoopConfiguration
      val (fs, p) = hadoopFs(spark, s"$sfDir/$name.parquet")
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
        else Seq(fs.getFileStatus(p))
      files.map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
    })

  /** Bounded LRU of resolved DataFrames keyed by (session identity,
    * path): `spark.read.parquet` builds a fresh file index (a listing +
    * footer read) per call; reusing the analyzed plan is the in-session
    * analog of the reference's warm engine. Plans are immutable, so
    * sharing is safe; derived paths are fingerprinted, so staleness is
    * keyed away rather than aged out.
    */
  private val ReadCacheMax = 64
  private val dfCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, DataFrame](ReadCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean =
        size() > ReadCacheMax
    })

  /** Unique id per live session (weak keys: a stopped session GCs out).
    * Identity hashes are NOT unique — a hash collision between a
    * stopped session and its replacement would serve a DataFrame bound
    * to the dead session, so the cache key is a real UUID.
    */
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(spark)
    if (id == null) {
      id = java.util.UUID.randomUUID().toString
      sessionIds.put(spark, id)
    }
    id
  }

  private def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val key = sessionId(spark) + "|" + path
    val hit = dfCache.get(key)
    if (hit != null) hit
    else {
      val df = spark.read.parquet(path)
      dfCache.put(key, df)
      df
    }
  }

  /** Explicit invalidation point for a live process after the source
    * dataset at `sfDir` is rewritten in place: forgets its fingerprint,
    * footer row counts, built-target markers, and cached DataFrames
    * (direct and derived). The next touch re-stats the source files and
    * re-derives against the new fingerprint.
    */
  def dropCachesFor(sfDir: String): Unit = {
    val slug = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    fpCache.remove(sfDir)
    countCache.keySet.removeIf(_.startsWith(sfDir + "/"))
    doneTargets.removeIf(_.contains("_" + slug + "_"))
    // iterating a synchronizedMap view requires holding its monitor
    dfCache.synchronized {
      dfCache.keySet.removeIf { k =>
        val path = k.substring(k.indexOf('|') + 1)
        path.startsWith(sfDir + "/") || path.contains("_" + slug + "_")
      }
    }
  }

  /** B1: path-addressed parquet scan.
    *
    * `events` is served from the micros-normalized copy (see
    * [[ensureMicrosEvents]]) so that `ts` is a *stored* TimestampType
    * column: predicates like `ts >= '2024-01-05'` (the reference's
    * canonical query shape, README.md:100) reach the parquet reader as
    * PushedFilters and skip row groups. Reading the raw nanos file and
    * converting in-plan would make every time filter a filter over a
    * computed expression — a full scan of the fact table at 100 TB.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") cachedRead(spark, ensureMicrosEvents(spark, sfDir))
    else cachedRead(spark, s"$sfDir/$name.parquet")

  /** The raw events file under whichever timestamp encoding the
    * provisioner chose — this is THE ingest choke point that pins
    * `ts` to TimestampType for every downstream consumer. Three
    * encodings have been observed across dataset generations:
    *
    *  1. parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects
    *     it outright, so we read nanos as raw longs
    *     (`spark.sql.legacy.parquet.nanosAsLong`) and convert to a
    *     microsecond TimestampType with integer division — the same
    *     truncation DuckDB applies when it narrows ns → µs, so both
    *     engines see identical values. DIV keeps the arithmetic in
    *     64-bit integers (a double round-trip loses precision at
    *     1e18 ns).
    *  2. parquet TIMESTAMP(isAdjustedToUTC=false, µs): Spark 4 infers
    *     TIMESTAMP_NTZ by default, which `unix_micros` rejects
    *     (DATATYPE_MISMATCH) and `withWatermark` refuses as event
    *     time. The session time zone is pinned UTC, so
    *     `cast(TimestampType)` is value-identical (the NTZ wall-clock
    *     IS the UTC instant) and every oracle hash is preserved.
    *  3. parquet TIMESTAMP(isAdjustedToUTC=true, µs) — our own
    *     derived/scaled copies: already TimestampType, pass through.
    *
    * Side-effect-free on session conf: the nanos-as-long conf is
    * scoped here for schema inference only. It must ALSO be set when
    * the returned plan EXECUTES — callers that run an action over this
    * frame wrap it in [[withConf]] ([[ensureMicrosEvents]] does, via
    * [[ensureBuilt]]'s scoped confs; the streaming path sets it for
    * the stream's lifetime, see Streams.rawEventStream).
    */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = withConf(spark, NanosKey -> "true") {
      spark.read.parquet(s"$sfDir/events.parquet")
    }
    normalizeTs(raw)
  }

  /** Normalize a frame's `ts` column to TimestampType under the three
    * source encodings [[rawEvents]] documents. Shared by the batch and
    * streaming ingest paths so the two can never drift.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // UTC session TZ pinned at session build → value-identical
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Targets whose _SUCCESS marker this process has already confirmed —
    * skips the synchronized existence probe on the hot path (at
    * object-store scale each probe is a round-trip).
    */
  private val doneTargets =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Derived-build ledger (VERDICT r17 #5): every build this process
    * actually RAN, target basename -> build seconds, in completion
    * order. The bench emits it per phase so materialization-shifted
    * work (an artifact built inside a warm rep or — worse — inside a
    * timed rep) is stamped in the artifact instead of inferred. A
    * basename carries the sfDir slug + fingerprint, so the ledger also
    * says WHICH scale point paid the build. Never used for gating —
    * observation only.
    */
  private val buildLedger =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Snapshot of the ledger so far (ordered). */
  def buildLedgerSnapshot(): Seq[(String, Double)] = {
    val it = buildLedger.iterator()
    val b = Seq.newBuilder[(String, Double)]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Artifact WRITES keep AQE's parallelism-first coalescing even
    * when the session runs size-first (graft.engine.Tuning r18): a
    * derived table's file count IS its consumers' scan parallelism
    * (a few-MB artifact coalesced to one file hands every downstream
    * compute-dense stage — the 82 M-wedge triangle intersect — to a
    * single task; measured r18: x132 2.8 → 6.0 s through exactly
    * this). Query-side shuffles stay size-coalesced; only the
    * persisted layout keeps width. At cluster scale the same rule
    * holds: artifact files sized by data/parallelism, never below
    * the cluster's width.
    */
  private val ParallelismFirstKey =
    "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  /** Build `target` once, gated on its _SUCCESS marker, holding the
    * given scoped confs during the build; idempotent and side-effect
    * free on session conf. Builds that actually run are timed into
    * [[buildLedgerSnapshot]].
    */
  private def ensureBuilt(spark: SparkSession, target: String,
      confs: Seq[(String, String)])(build: => Unit): String = {
    if (!doneTargets.contains(target)) {
      this.synchronized {
        val (fs, marker) = hadoopFs(spark, s"$target/_SUCCESS")
        if (!fs.exists(marker)) {
          val t0 = System.nanoTime()
          withConf(spark, confs :+ (ParallelismFirstKey -> "true"): _*)(build)
          buildLedger.add(
            (new java.io.File(target).getName, (System.nanoTime() - t0) / 1e9))
        }
      }
      doneTargets.add(target)
    }
    target
  }

  private def derivedPath(spark: SparkSession, sfDir: String,
      name: String, targetRoot: String = "/tmp/graft-lake"): String = {
    val slug = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val fp = fingerprint(spark, sfDir)
    s"$targetRoot/${name}_${slug}_$fp"
  }

  /** Best-effort delete of a retired derived-copy generation (e.g. the
    * pre-clustering `events_micros` once `events_micros_v2` exists) —
    * an existing lake root would otherwise silently carry both copies
    * forever. Probed once per process per path (same round-trip
    * economics as [[doneTargets]]); failure is ignored, the orphan is
    * only wasted disk.
    */
  private[graft] def retireDerived(spark: SparkSession, sfDir: String,
      retiredName: String, targetRoot: String = "/tmp/graft-lake"): Unit = {
    val old = derivedPath(spark, sfDir, retiredName, targetRoot)
    if (doneTargets.add(s"retired:$old"))
      try {
        val (fs, p) = hadoopFs(spark, old)
        if (fs.exists(p)) fs.delete(p, true)
      } catch { case _: Throwable => () }
  }

  /** One-time ingest normalization (the run_me_first.py analog): write
    * `events` once with `ts` as parquet TIMESTAMP(MICROS), RANGE-
    * CLUSTERED on `ts`. At 100 TB this is the standard "normalize at
    * ingest" step — you pay one rewrite so that every later
    * time-bounded query skips whole files/row groups via footer
    * min/max stats. Without the clustering the pushdown still
    * row-filters, but every file spans the whole time range so no
    * row group is ever skippable (measured on the previous layout:
    * each output file covered the full month). `repartitionByRange` +
    * `sortWithinPartitions` gives pairwise-disjoint per-file ts
    * ranges — LakeSpec asserts the disjointness. Idempotent per
    * source fingerprint; gated on the _SUCCESS marker ("v3" in the
    * name retires copies built before the NTZ ingest fix — those
    * carry TIMESTAMP_NTZ in their own footers, so the source-level
    * cast alone cannot heal an existing lake root).
    */
  def ensureMicrosEvents(
      spark: SparkSession, sfDir: String,
      targetRoot: String = "/tmp/graft-lake"): String = {
    val target = derivedPath(spark, sfDir, "events_micros_v3", targetRoot)
    retireDerived(spark, sfDir, "events_micros", targetRoot)
    retireDerived(spark, sfDir, "events_micros_v2", targetRoot)
    // MICROS (not INT96): INT96 timestamps don't support parquet
    // predicate pushdown, which is the whole point of this copy.
    ensureBuilt(spark, target,
      Seq(NanosKey -> "true", OutTsKey -> "TIMESTAMP_MICROS")) {
      rawEvents(spark, sfDir)
        .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
          col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(target)
    }
  }

  /** Raw (unconverted) schema of a table as stored — for readStream,
    * which must declare the on-disk schema before any conversion.
    * Schema inference is eager, so the nanos conf is scoped here; a
    * stream that SCANS the raw file must set it for its own lifetime
    * (see Streams.rawEventStream).
    */
  def rawSchema(spark: SparkSession, sfDir: String, name: String) =
    if (name == "events")
      withConf(spark, NanosKey -> "true") {
        spark.read.parquet(s"$sfDir/$name.parquet").schema
      }
    else spark.read.parquet(s"$sfDir/$name.parquet").schema

  /** Last sfDir registered per session — registerAll is called on every
    * SQL-path query, and re-reading 10 parquet footers per query is 10
    * object-store listing round-trips at scale. Weak keys: dropping a
    * session must not leak it through this cache.
    */
  private val registeredFor =
    new java.util.WeakHashMap[SparkSession, String]()

  /** B13 / dbt-`ref` analog: name -> temp view over the physical path,
    * so `spark.sql` can address tables by name like the oracle does.
    * Idempotent per (session, sfDir): views are (re)created only when
    * the session hasn't seen this sfDir yet.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    this.synchronized {
      if (registeredFor.get(spark) != sfDir) {
        tableNames.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
        registeredFor.put(spark, sfDir)
      }
    }

  /** A16 + A17: derive `date` from the event timestamp and write a
    * hive-partitioned copy (mirror of run_me_first.py:95-98, with
    * `events.ts` standing in for `pickup_at`). Idempotent per source
    * fingerprint; the _SUCCESS marker gates rewrite.
    *
    * We deliberately keep Spark's native partition-column type
    * inference ON: the partition key reads back as DateType (the
    * reference's embedded engine read it as VARCHAR — a quirk of
    * DuckDB 0.7's hive reader, not a semantic we want). Oracle queries
    * are phrased against the unpartitioned source so this choice is
    * invisible to the correctness gate.
    */
  def ensurePartitionedEvents(
      spark: SparkSession, sfDir: String,
      targetRoot: String = "/tmp/graft-lake"): String = {
    val target = derivedPath(spark, sfDir, "events_by_date_v3", targetRoot)
    retireDerived(spark, sfDir, "events_by_date", targetRoot)
    retireDerived(spark, sfDir, "events_by_date_v2", targetRoot)
    // Same MICROS rule as ensureMicrosEvents: keep `ts` pushdown-capable
    // in the partitioned copy too.
    ensureBuilt(spark, target, Seq(OutTsKey -> "TIMESTAMP_MICROS")) {
      table(spark, sfDir, "events")
        .withColumn("date", to_date(col("ts")))
        // Bounded shuffle: hash dates into a fixed number of tasks
        // instead of one task per date (a hot date would otherwise be a
        // single straggler task at scale); maxRecordsPerFile keeps any
        // one output file bounded regardless of date skew. Sorting by
        // ts inside each date file gives intra-day range queries tight
        // row-group min/max stats on top of the partition pruning.
        .repartition(32, col("date"))
        .sortWithinPartitions(col("date"), col("ts"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 5000000)
        .partitionBy("date").parquet(target)
    }
  }

  /** True when the derived target `name` is already built for this
    * source fingerprint (process-local marker cache, falling back to
    * one _SUCCESS existence probe). Lets callers whose build is
    * EAGER (e.g. an iterative loop that runs jobs while constructing
    * the frame) skip construction entirely on the warm path —
    * [[materialize]]'s by-name laziness only helps when building the
    * frame is itself lazy.
    */
  def isBuilt(spark: SparkSession, sfDir: String, name: String): Boolean = {
    val target = derivedPath(spark, sfDir, name)
    doneTargets.contains(target) || {
      val (fs, marker) = hadoopFs(spark, s"$target/_SUCCESS")
      fs.exists(marker)
    }
  }

  /** Materialize a derived table to the lake once per (source
    * fingerprint, name), gated on _SUCCESS like the events copies, and
    * read it back. This is the "checkpoint the expensive intermediate
    * to the lake" step a 100 TB pipeline uses instead of
    * executor-memory caching: durable, shared across sessions, no cache
    * entries pinned for the session's lifetime.
    */
  def materialize(spark: SparkSession, sfDir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val target = derivedPath(spark, sfDir, name)
    ensureBuilt(spark, target, Seq.empty) {
      build.write.mode("overwrite").parquet(target)
    }
    cachedRead(spark, target)
  }

  /** Directory a [[materialize]] call with the same name resolves to —
    * for callers that operate on the files themselves (e.g. Layout's
    * listing-driven compaction) rather than the frame.
    */
  def materializedPath(spark: SparkSession, sfDir: String, name: String): String =
    derivedPath(spark, sfDir, name)

  /** B2/B3: scan of the hive-partitioned copy; a filter on `date`
    * becomes partition pruning (the reference's manual per-day path
    * construction, benchmark.py:227-240, done by Catalyst instead).
    */
  def partitionedEvents(spark: SparkSession, sfDir: String): DataFrame =
    cachedRead(spark, ensurePartitionedEvents(spark, sfDir))

  /** Primary/foreign keys shifted when scaling a source dir up: each
    * extra copy re-keys these columns by `copy * ScaleKeyStride`, so
    * fact/fact joins (orders↔customer, lineitem↔orders) stay
    * referentially intact per copy while key cardinality grows with
    * the data — the shape real corpus growth has (new users, new
    * docs), as opposed to 10× rows per existing key. Dimension tables
    * (region/nation/part/supplier) are NOT multiplied: dims grow
    * slower than facts, and small-dim broadcast joins staying
    * broadcast-able at scale is exactly the design point to preserve.
    */
  private val scaleKeys: Map[String, Seq[String]] = Map(
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    // l_partkey/l_suppkey re-keyed per copy so the part–supplier
    // co-purchase GRAPH grows with the factor (VERDICT r11 §4: a
    // replicated-but-not-re-keyed lineitem left x69's edge set flat
    // across every scale decade — graph operators were never measured
    // on a graph larger than the source's). Scaled lineitem therefore
    // does NOT reference the single-copy part/supplier dims; no
    // scaled-dir query does (the big-point set joins lineitem only to
    // orders, which re-keys in lockstep).
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "customer" -> Seq("c_custkey"))

  /** Key offset between scaled copies — far above any provisioned id
    * (ids are dense from 0; sf0.1's largest table is 600k rows) and
    * long-safe at any plausible factor.
    */
  val ScaleKeyStride: Long = 100000000L

  /** Build a `factor`× scaled derivative of `srcSfDir` under the lake
    * root and return its directory — shaped exactly like a testdata
    * dir (`<table>.parquet` per table) so every Lake reader, the SQL
    * registry, and the bench run against it unchanged. Fact tables
    * are factor re-keyed unions ([[scaleKeys]]); dims pass through
    * single-copy. Text/embedding payloads repeat verbatim across
    * copies — for the dedup/similarity operators that is a STRESS
    * shape (10× corpus where every doc has factor-1 exact near-twins
    * under re-keyed ids), which is the honest way to scale a dedup
    * benchmark. `ts` is written as parquet TIMESTAMP_MICROS (the
    * nanos layout is a quirk of the provisioned files, not a contract
    * — [[rawEvents]] accepts either). Idempotent per source
    * fingerprint via the same _SUCCESS gating as every derived copy.
    */
  def ensureScaledDir(spark: SparkSession, srcSfDir: String, factor: Int,
      targetRoot: String = "/tmp/graft-lake"): String = {
    require(factor >= 1, s"scale factor must be >= 1, got $factor")
    val slug = srcSfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val fp = fingerprint(spark, srcSfDir)
    // v2: l_partkey/l_suppkey joined the re-key set — the version tag
    // retires stale pre-v2 scaled copies (same discipline as derived
    // artifact `_vN` bumps; the _SUCCESS gate would otherwise reuse a
    // flat-graph copy forever)
    val dir = s"$targetRoot/scaled${factor}x_v2_${slug}_$fp"
    tableNames.foreach { name =>
      val target = s"$dir/$name.parquet"
      ensureBuilt(spark, target, Seq(OutTsKey -> "TIMESTAMP_MICROS")) {
        val src =
          if (name == "events") rawEvents(spark, srcSfDir)
          else spark.read.parquet(s"$srcSfDir/$name.parquet")
        val out = scaleKeys.get(name) match {
          case None => src
          case Some(keys) =>
            // preserve each column's stored type (int ids must not
            // widen to long — readers compare schemas), which bounds
            // the factor for int-typed keys: copy i shifts ids by
            // i*ScaleKeyStride, so the largest shift must still fit
            // the column. Guarded here rather than silently wrapping
            // negative at factor >= 22.
            keys.foreach { k =>
              if (src.schema(k).dataType ==
                  org.apache.spark.sql.types.IntegerType)
                // ids sit in [0, stride), so the last copy's largest
                // shifted id approaches factor*stride
                require(factor.toLong * ScaleKeyStride <= Int.MaxValue,
                  s"scale factor $factor overflows int key $name.$k " +
                    s"(max ${Int.MaxValue / ScaleKeyStride} for " +
                    s"stride $ScaleKeyStride)")
            }
            (0 until factor).map { i =>
              keys.foldLeft(src) { (df, k) =>
                df.withColumn(k, (col(k) + lit(i * ScaleKeyStride))
                  .cast(src.schema(k).dataType))
              }
            }.reduce(_ union _)
        }
        out.write.mode("overwrite").parquet(target)
      }
    }
    dir
  }
}
