package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout maintenance operators — the lake-side jobs a 100 TB
  * deployment runs BETWEEN queries so that the queries stay fast:
  *
  *  - [[compact]]: small-file compaction. Streaming ingest and
  *    incremental pipelines fragment a table into thousands of
  *    KB-sized part files; every scan then pays per-file open/footer
  *    costs and the driver pays listing. Compaction rewrites the data
  *    into size-targeted files, re-clustered on a sort key so footer
  *    min/max stats stay tight (fragment merging that interleaves the
  *    sort key would silently destroy range-skipping).
  *  - [[zorderWrite]]: multi-dimensional clustering. A 1-D sort gives
  *    file-level min/max skipping on ONE column only; interleaving
  *    the bits of two bucketed dimensions (a Morton/Z-value) gives
  *    partial skipping on BOTH — the standard OPTIMIZE ZORDER answer
  *    for "we filter by user AND by time".
  *
  * Both are rewrites, not query-time tricks: you pay one pass so that
  * every later scan reads fewer bytes. Correctness is oracle-checked
  * (content equality through the rewrite); the layout evidence
  * (file counts, per-file stat spans) is unit-tested in LayoutSpec.
  */
object Layout {

  private type Q = (SparkSession, String) => DataFrame

  /** Parquet part files directly under `dir` (non-recursive — both
    * operators write unpartitioned layouts). Local-FS listing to match
    * the /tmp lake; an object-store deployment swaps in Hadoop
    * `FileSystem.listStatus` with identical metadata economics (one
    * listing, no data read).
    */
  def partFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  /** Compact `srcDir`'s part files into ≈`targetFileBytes`-sized files
    * range-clustered on `sortCol`. The output file count is derived
    * from the LISTING's total bytes (metadata only — no data read
    * before the one rewrite pass), so a 10 000-small-file input and a
    * 10-big-file input with the same bytes produce the same layout.
    * repartitionByRange + sortWithinPartitions keeps per-file
    * `sortCol` ranges pairwise disjoint — the property that lets
    * footer stats skip whole files on range predicates, and exactly
    * what naive `coalesce` compaction destroys (it concatenates
    * arbitrary fragments, giving every output file the full span).
    */
  def compact(spark: SparkSession, srcDir: String, targetDir: String,
      sortCol: String, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val totalBytes = partFiles(srcDir).map(_.length()).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(srcDir)
      .repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(targetDir)
  }

  /** Morton/Z-value of two bucket ids in [0, 2^bits): bit i of `x`
    * lands at position 2i, bit i of `y` at 2i+1. Pure shift/mask
    * expression tree — codegen'd, no UDF.
    */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Min-max bucket of a numeric column into [0, 2^bits): order-
    * preserving, integer arithmetic only. A constant column maps to
    * bucket 0. For domains wide enough that `(c - mn) * (2^bits - 1)`
    * could overflow a long (e.g. clustering on 64-bit hash values),
    * the multiply is replaced by a quotient bucketing — slightly
    * uneven bucket widths, same ordering, no overflow.
    */
  def bucketed(c: Column, mn: Long, mx: Long, bits: Int): Column = {
    val hi = (1L << bits) - 1
    val span = mx - mn
    if (span <= 0) lit(0L)
    else if (span <= Long.MaxValue / hi)
      ((c.cast("long") - mn) * hi / span).cast("long")
    else {
      val q = span / hi + 1
      ((c.cast("long") - mn) / q).cast("long")
    }
  }

  /** Rewrite `df` clustered by the Z-value of (`colX`, `colY`) into
    * `nFiles` files. One 4-value extent aggregate (bounded 1-row
    * driver read, like the engine's other dimension lookups) sizes the
    * buckets; the rewrite itself is one range shuffle on the Z-value.
    * After the write, every file covers a CONTIGUOUS Z-range = a small
    * rectangle-ish region of the (x, y) plane, so footer min/max on
    * BOTH columns are narrow — a predicate on either dimension (or
    * both) skips most files, where a 1-D sort layout can only skip on
    * its own sort column.
    */
  def zorderWrite(spark: SparkSession, df: DataFrame, colX: String,
      colY: String, targetDir: String, nFiles: Int, bits: Int = 10): Unit = {
    val ext = df.agg(
      min(col(colX).cast("long")), max(col(colX).cast("long")),
      min(col(colY).cast("long")), max(col(colY).cast("long"))).head()
    require(!ext.isNullAt(0) && !ext.isNullAt(2),
      s"zorderWrite: empty input or all-NULL $colX/$colY — nothing to cluster")
    val z = zValue(
      bucketed(col(colX), ext.getLong(0), ext.getLong(1), bits),
      bucketed(col(colY), ext.getLong(2), ext.getLong(3), bits), bits)
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(targetDir)
  }

  /** Fragmented copy of the micros-normalized events table — the
    * "after six months of incremental ingest" starting state for the
    * p03 demo: 64 round-robin writers × no clustering = small files
    * with full-span ts ranges. Built once per source fingerprint
    * ("v2" retires copies materialized before the NTZ ingest fix —
    * their own footers carry TIMESTAMP_NTZ).
    */
  private[graft] def fragmentedEvents(spark: SparkSession, sfDir: String): String = {
    Lake.retireDerived(spark, sfDir, "fragmented_events")
    Lake.materialize(spark, sfDir, FragmentedEvents)
    Lake.materializedPath(spark, sfDir, FragmentedEvents)
  }

  val FragmentedEvents: Lake.Derived = Lake.Derived("fragmented_events_v2")((spark, sfDir) =>
    Lake.table(spark, sfDir, "events").repartition(64))

  /** Snapshot retention — the vacuum/GC half of lake maintenance
    * (p03 rewrites live data; this deletes dead generations): keep
    * the `keep` highest-numbered `v=N` snapshot directories under
    * `base`, delete the rest, return the versions removed. Pure
    * listing + directory-grain deletes — metadata-only, no data read,
    * which is precisely why retention stays O(generations) at 100 TB
    * while the data grows: the unit of GC is a directory rename/
    * delete, never a row scan. Local-FS listing to match the /tmp
    * lake (the [[partFiles]] note applies).
    */
  def retainSnapshots(base: String, keep: Int): Seq[Int] = {
    val d = new java.io.File(base)
    val versions = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.drop(2).toInt)
      .sorted
    val drop = versions.dropRight(keep)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    drop.foreach(v => rm(new java.io.File(s"$base/v=$v")))
    drop
  }

  /** Surgical keyed delete — the right-to-be-forgotten maintenance
    * job: remove every row of one key from a `partCol`-partitioned
    * table by rewriting ONLY the partitions containing the key. The
    * affected-partition list comes from one scan of the victim alone
    * and is driver-collected — a calendar-bounded, metadata-sized
    * list, the same decision set a file-pruned DELETE collects —
    * then each affected partition is rewritten to a staging dir and
    * swapped in (never overwrite-while-reading). Untouched partitions
    * stay byte-identical, so delete cost scales with the key's
    * footprint, never the table. Null-safe predicate: a NULL key row
    * is never the victim. Returns the affected partition values.
    */
  def deleteKey(spark: SparkSession, base: String, keyCol: String,
      key: Long, partCol: String): Seq[String] = {
    val affected = spark.read.parquet(base)
      .filter(col(keyCol) <=> key)
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.foreach { pv =>
      val dir = s"$base/$partCol=$pv"
      val tmp = s"$base/.tmp_delete_$partCol=$pv"
      spark.read.parquet(dir)
        .filter(!(col(keyCol) <=> key))
        .write.mode("overwrite").parquet(tmp)
      // retire-then-swap, never delete-then-rename: a crash between
      // the two steps must leave the previous partition recoverable
      // (the old delete(dir)+rename left a window where a failed
      // rename silently destroyed every bystander row — in a GDPR
      // delete job, exactly the data that must NOT be lost)
      swapIn(fs, new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(tmp))
    }
    affected
  }

  /** Crash-safe directory swap: retire `target` aside by rename,
    * rename `staged` in, then drop the retired copy — each rename's
    * boolean checked, failing LOUDLY (after restoring the original on
    * a failed swap-in) instead of silently losing the only copy. The
    * reader-visible gap is two metadata renames wide; a crash at any
    * point leaves the previous version on disk (at worst under its
    * `.retired_` name, recoverable by hand). This is the strongest
    * swap a raw filesystem offers — a table format with a pointer
    * file (p14's generation layout) is the fully-atomic upgrade.
    */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      staged: org.apache.hadoop.fs.Path): Unit = {
    val retired = new org.apache.hadoop.fs.Path(
      target.getParent, s".retired_${target.getName}")
    fs.delete(retired, true) // leftover from a prior crashed swap
    val hadOld = fs.exists(target)
    if (hadOld)
      require(fs.rename(target, retired), s"retire failed: $target")
    if (!fs.rename(staged, target)) {
      if (hadOld) fs.rename(retired, target) // put the original back
      throw new IllegalStateException(
        s"swap-in failed: $staged -> $target (original restored)")
    }
    fs.delete(retired, true)
  }

  /** Write-audit-publish (the Iceberg/Netflix WAP pattern): a
    * snapshot is WRITTEN to an invisible staging directory, the
    * audit gate runs against the STAGED FILES (what readers would
    * actually see — auditing the in-memory frame would miss a broken
    * write), and only a passing snapshot is swapped into the
    * published location via [[swapIn]] (retire-by-rename, swap-in,
    * drop retired — the previous snapshot survives a crash at any
    * step; the reader-visible gap is two metadata renames wide). A
    * failing audit deletes the staging dir and leaves the published
    * snapshot untouched: the gate's whole contract is that bad data
    * is structurally unable to reach consumers. The audit decision
    * is one driver-collected row off a 1-row aggregate (p07's
    * precedent) — the data itself never leaves executors.
    *
    * Returns true iff the snapshot was published. `audit` maps the
    * staged frame to a 1-row frame with a boolean `ok` column.
    */
  def writeAuditPublish(spark: SparkSession, snapshot: DataFrame,
      base: String, audit: DataFrame => DataFrame): Boolean = {
    val stagePath = s"$base/_staging"
    val pubPath = s"$base/published"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stagePath), true)
    snapshot.write.mode("overwrite").parquet(stagePath)
    val staged = spark.read.parquet(stagePath)
    val ok = audit(staged).collect()(0).getBoolean(0)
    if (ok) {
      swapIn(fs, new org.apache.hadoop.fs.Path(pubPath),
        new org.apache.hadoop.fs.Path(stagePath))
    } else {
      fs.delete(new org.apache.hadoop.fs.Path(stagePath), true)
    }
    ok
  }

  /** Snapshot reconciliation — the lake-ops audit step behind every
    * MERGE/refresh job (p02/p05/s10): given two versions of a keyed
    * table, report what changed. Rows are `added` (key only in new),
    * `removed` (key only in old), or `changed` (key in both, any
    * compared column differs); identical rows are dropped — the diff
    * IS the non-identical part. Scale shape: ONE full-outer sort-merge
    * join on the key (zero-exchange when both generations share a
    * bucketed layout, c44's story); the comparison is null-safe map
    * work (`<=>` so NULL vs value reads as a change, not a match).
    */
  def tableDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select(col(key) +: compareCols.map(c =>
      col(c).as(s"old_$c")): _*)
    val n = newDf.select(col(key) +: compareCols.map(c =>
      col(c).as(s"new_$c")): _*)
    // presence flags from the compared payload can be NULL for a
    // present row; tag each side explicitly instead
    val oTag = o.withColumn("_in_old", lit(true))
    val nTag = n.withColumn("_in_new", lit(true))
    val j = oTag.join(nTag, Seq(key), "full_outer")
    val same = compareCols.map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduce(_ && _)
    j.select(
      col(key) +:
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .otherwise("changed").as("status") +:
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
      .where(col("_in_old").isNull || col("_in_new").isNull || !same)
  }

  val queries: Map[String, Q] = Map(

    // SMALL-FILE COMPACTION: fragment events into 64 unclustered part
    // files (the incremental-ingest failure mode), compact to
    // size-targeted ts-clustered files, and serve a per-day aggregate
    // off the compacted copy. The oracle proves content equality
    // through the rewrite; LayoutSpec pins the layout facts (fewer
    // files, disjoint per-file ts ranges). Write+read per rep by
    // design, like p01/s07.
    "p03_compaction" -> ((spark, sfDir) => {
      val src = fragmentedEvents(spark, sfDir)
      val hash = Integer.toHexString(sfDir.hashCode)
      val target = s"/tmp/graft-views/compacted_events_$hash"
      compact(spark, src, target, sortCol = "ts",
        targetFileBytes = 8L * 1024 * 1024)
      spark.read.parquet(target)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
        .orderBy(col("day"))
    }),

    // Z-ORDER CLUSTERING: rewrite events clustered on the Morton value
    // of (user_id, time) and serve a two-dimensional slice off the
    // copy. The oracle proves the rewrite lost nothing the predicate
    // can see; LayoutSpec pins the pruning evidence — per-file min/max
    // spans on BOTH dimensions shrink, where the ts-sorted copy's
    // user_id span per file is the full domain. Like p01/s07, each
    // invocation times rewrite + read by design: it IS a maintenance
    // job, not a read query.
    "p04_zorder" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val target = s"/tmp/graft-views/zorder_events_$hash"
      val e = Lake.table(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      zorderWrite(spark, e.withColumn("us", expr("unix_micros(ts)")),
        "user_id", "us", target, nFiles = 16)
      spark.read.parquet(target)
        .filter(col("user_id").between(100, 120) &&
          col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-12"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // TABLE DIFF: reconcile the pre-cutoff per-user metrics snapshot
    // against the full-range recompute — the audit read that certifies
    // p05's merge (added = users first seen after the cutoff, changed
    // = users with post-cutoff activity; removed is impossible in an
    // append-only source, and the unit test plants one to prove the
    // branch).
    "p06_table_diff" -> ((spark, sfDir) => {
      val e = Lake.table(spark, sfDir, "events")
      def metrics(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      tableDiff(
        metrics(e.filter(col("ts") < lit("2024-01-25"))),
        metrics(e),
        key = "user_id", compareCols = Seq("n"))
        .orderBy(col("user_id"))
    }),

    // SCHEMA EVOLUTION — the additive-column lake migration: an old
    // ingest generation written WITHOUT `value`, a new generation
    // WITH it, read back as one table via parquet footer merging
    // (mergeSchema) — old rows surface NULL, no rewrite of historical
    // data. The aggregate proves the merged read sees every row of
    // both generations and exactly the new generation's values
    // (count(value) counts only post-cutoff rows). The value sum runs
    // through p07's exact-decimal accumulation so neither engine's
    // order shifts the rounding. At 100 TB the same layout works but
    // the unified schema comes from a metastore/manifest, not a
    // footer sweep per query — mergeSchema's per-file footer read is
    // the part that doesn't scale, the NULL-backfill semantics are.
    "p09_schema_evolution" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val base = s"/tmp/graft-views/evolved_events_$hash"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val e = Lake.table(spark, sfDir, "events")
      val cutoff = lit("2024-01-25")
      e.filter(col("ts") < cutoff)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .write.mode("overwrite").parquet(s"$base/gen0")
      e.filter(col("ts") >= cutoff)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$base/gen1")
      spark.read.option("mergeSchema", "true")
        .parquet(s"$base/gen0", s"$base/gen1")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("value")).as("n_with_value"),
          round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4)
            .as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // SNAPSHOT RETENTION — the GC job of a full-export lake: three
    // cumulative snapshot generations are staged (v=1/2/3, each a
    // longer prefix of events — the nightly-export layout), retention
    // keeps the latest 2 at directory grain (metadata-only deletes,
    // no row ever read by the GC itself), and the readback aggregates
    // per surviving version. The oracle recomputes v2/v3's aggregates
    // from raw events: it fails if retention deleted a live row, kept
    // a dead generation, or the staged snapshots drifted from their
    // cutoff definitions. Like p03/p09, stage + maintain + read per
    // rep by design — it IS a maintenance job.
    "p10_snapshot_retention" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val base = s"/tmp/graft-views/snapshots_$hash"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val e = Lake.table(spark, sfDir, "events")
      Seq(1 -> "2024-01-10", 2 -> "2024-01-18", 3 -> "2099-01-01").foreach {
        case (v, cut) => e.filter(col("ts") < lit(cut))
          .write.mode("overwrite").parquet(s"$base/v=$v")
      }
      retainSnapshots(base, keep = 2)
      spark.read.parquet(base)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("v"))
    }),

    // SURGICAL KEYED DELETE — GDPR/right-to-be-forgotten as a lake
    // operation: user 7's rows removed from a date-partitioned copy
    // by rewriting only the dates they appear in (26 of 30 at
    // sf0.01 — the remaining partitions stay byte-identical, pinned
    // by LayoutSpec). The oracle recomputes the per-day profile from
    // raw events minus the victim: it fails if the delete missed a
    // row, removed a bystander, or corrupted an untouched partition.
    // Stage + delete + read per rep by design, like p03/p10.
    "p11_keyed_delete" -> ((spark, sfDir) => {
      val victim = 7L
      val hash = Integer.toHexString(sfDir.hashCode)
      val base = s"/tmp/graft-views/deletable_events_$hash"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Lake.table(spark, sfDir, "events")
        .withColumn("date", to_date(col("ts")))
        .repartition(col("date"))
        .write.partitionBy("date").parquet(base)
      deleteKey(spark, base, "user_id", victim, "date")
      spark.read.parquet(base)
        .groupBy(date_format(col("date"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    }),

    // PARTITION-SKEW AUDIT — the pre-backfill ops read every
    // partition-maintenance job runs first: per-partition row counts
    // of the hive-partitioned lake copy rolled to ONE skew row
    // (max/mean, the straggler-task predictor at 1000 executors).
    // The Spark side reads the PARTITIONED copy through partition
    // discovery — so a partitioning bug that dropped or duplicated a
    // date directory hash-fails against the oracle's recount from
    // the raw table. Exact integer counts; two fixed divisions.
    "p15_partition_audit" -> ((spark, sfDir) => {
      val part = spark.read.parquet(
        Lake.ensurePartitionedEvents(spark, sfDir))
      val perDay = part
        .groupBy(date_format(col("date"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      def dd(c: String) = col(c).cast("double")
      perDay.agg(count(lit(1)).as("n_partitions"), sum(col("n")).as("total"),
        max(col("n")).as("max_rows"), min(col("n")).as("min_rows"))
        .select(col("n_partitions"), col("total"), col("max_rows"),
          col("min_rows"),
          when(col("total") > 0L && col("n_partitions") > 0L,
            round(dd("max_rows") * dd("n_partitions") / dd("total"), 4))
            .as("skew_ratio"))
    }),

    // TIME-TRAVEL READ — the "query the table AS OF snapshot v"
    // lakehouse read (p10 is the GC side; this is the consumer
    // side): three versioned generations live as v=N partition
    // directories, and an as-of read is a plain filter on the
    // version column that Catalyst turns into PARTITION PRUNING —
    // only v=2's files are opened (pinned file-level in LayoutSpec),
    // so reading any historical snapshot costs that snapshot's
    // bytes, never the table's history. The oracle recomputes the
    // v=2 cut from raw events: a pruning bug that leaked v=1/v=3
    // rows (or dropped v=2 files) hash-fails.
    "p14_time_travel" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val base = s"/tmp/graft-views/timetravel_$hash"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val e = Lake.table(spark, sfDir, "events")
      Seq(1 -> "2024-01-10", 2 -> "2024-01-18", 3 -> "2099-01-01").foreach {
        case (v, cut) => e.filter(col("ts") < lit(cut))
          .write.mode("overwrite").parquet(s"$base/v=$v")
      }
      spark.read.parquet(base)
        .filter(col("v") === 2)
        .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    }),

    // WRITE-AUDIT-PUBLISH — the publication gate itself (see
    // writeAuditPublish scaladoc): the daily-rollup snapshot stages,
    // is audited ON ITS STAGED FILES with p12-style expectations
    // (non-empty, no null day, positive counts, user cardinality
    // bounded by event count), and only then swaps into the
    // published path; the query's result is a read of the PUBLISHED
    // location — the oracle match proves the gate let exactly the
    // right data through. The audit-failure path (publish refused,
    // previous snapshot intact) is pinned by a LayoutSpec test.
    "p13_wap_publish" -> ((spark, sfDir) => {
      val hash = Integer.toHexString(sfDir.hashCode)
      val base = s"/tmp/graft-views/wap_$hash"
      val snap = Lake.table(spark, sfDir, "events")
        .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      val published = writeAuditPublish(spark, snap, base, staged =>
        staged.agg((count(lit(1)) > 0 &&
          sum(when(col("day").isNull, 1L).otherwise(0L)) === 0 &&
          sum(when(col("n_events") <= 0, 1L).otherwise(0L)) === 0 &&
          sum(when(col("n_users") > col("n_events"), 1L).otherwise(0L)) === 0)
          .as("ok")))
      require(published, "p13: the healthy snapshot must pass its audit")
      spark.read.parquet(s"$base/published")
        .orderBy(col("day"), col("event_type"))
    })
  )

  val oracles: Map[String, String] = Map(
    // recount from the raw table: the partitioned copy must carry
    // exactly the per-day masses the source does
    "p15_partition_audit" ->
      ("WITH d AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions, " +
        "CAST(SUM(n) AS BIGINT) AS total, CAST(MAX(n) AS BIGINT) AS max_rows, " +
        "CAST(MIN(n) AS BIGINT) AS min_rows FROM d) " +
        "SELECT n_partitions, total, max_rows, min_rows, " +
        "CASE WHEN total > 0 AND n_partitions > 0 THEN " +
        "ROUND(CAST(max_rows AS DOUBLE) * CAST(n_partitions AS DOUBLE) / " +
        "CAST(total AS DOUBLE), 4) END AS skew_ratio FROM g"),
    // raw events minus the victim, same null-safe exclusion
    "p11_keyed_delete" ->
      ("SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, " +
        "COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events WHERE user_id IS DISTINCT FROM 7 " +
        "GROUP BY 1 ORDER BY 1"),
    // the v=2 cut recomputed from raw events
    "p14_time_travel" ->
      ("SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, " +
        "COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events WHERE ts < TIMESTAMP '2024-01-18' " +
        "GROUP BY 1 ORDER BY 1"),
    // the published snapshot ≡ the rollup computed directly from
    // events — the WAP gate is pass-through for healthy data
    "p13_wap_publish" ->
      ("SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type, " +
        "COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1, 2 ORDER BY day, event_type"),
    // the two SURVIVING generations recomputed from raw events
    "p10_snapshot_retention" ->
      ("SELECT v, n_events, n_users FROM (" +
        "SELECT 2 AS v, COUNT(*) AS n_events, " +
        "COUNT(DISTINCT user_id) AS n_users FROM events " +
        "WHERE ts < TIMESTAMP '2024-01-18' " +
        "UNION ALL SELECT 3, COUNT(*), COUNT(DISTINCT user_id) " +
        "FROM events) t ORDER BY v"),
    "p03_compaction" ->
      ("SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS n, " +
        "COUNT(DISTINCT user_id) AS users FROM events GROUP BY 1 ORDER BY 1"),
    "p04_zorder" ->
      ("SELECT event_id, user_id, event_type FROM events " +
        "WHERE user_id BETWEEN 100 AND 120 " +
        "AND ts >= TIMESTAMP '2024-01-05 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-12 00:00:00' ORDER BY event_id"),
    // null-safe comparison: a row is in the diff iff it is one-sided
    // or any compared column differs
    "p06_table_diff" ->
      ("WITH o AS (SELECT user_id, COUNT(*) AS n FROM events " +
        "WHERE ts < TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1), " +
        "nw AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1) " +
        "SELECT COALESCE(o.user_id, nw.user_id) AS user_id, " +
        "CASE WHEN o.user_id IS NULL THEN 'added' " +
        "WHEN nw.user_id IS NULL THEN 'removed' ELSE 'changed' END AS status, " +
        "o.n AS old_n, nw.n AS new_n " +
        "FROM o FULL JOIN nw ON o.user_id = nw.user_id " +
        "WHERE o.user_id IS NULL OR nw.user_id IS NULL " +
        "OR o.n IS DISTINCT FROM nw.n ORDER BY user_id")
      ,
    // the merged read must see all rows but only the new generation's
    // values; the sum mirrors p07's exact-decimal accumulation
    "p09_schema_evolution" ->
      ("SELECT event_type, COUNT(*) AS n_rows, " +
        "COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-25 00:00:00' THEN value END) AS n_with_value, " +
        "ROUND(CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-25 00:00:00' " +
        "THEN CAST(value AS DECIMAL(30,10)) END) AS DOUBLE), 4) AS sum_value " +
        "FROM events GROUP BY 1 ORDER BY 1")
  )
}
