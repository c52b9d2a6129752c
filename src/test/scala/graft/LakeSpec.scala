package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec.rmTree
import graft.sources.Lake

/** Lake-level contracts: conf hygiene, metadata row counts, and the
  * HLL accuracy bound backing the rows-only c11 entry.
  */
class LakeSpec extends SparkSpec {

  test("table() leaves no session-conf side effects (scoped set/restore)") {
    val keys = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.outputTimestampType")
    // capture whatever the suite's session currently has
    val before = keys.map(k => k -> spark.conf.getOption(k)).toMap
    // force the derived-copy path end-to-end (build may or may not run
    // depending on prior suites — both paths must be side-effect free)
    Lake.table(spark, SfDir, "events").count()
    Lake.partitionedEvents(spark, SfDir).count()
    keys.foreach { k =>
      assert(spark.conf.getOption(k) == before(k),
        s"$k leaked: was ${before(k)}, now ${spark.conf.getOption(k)}")
    }
  }

  test("rawEvents and ensureMicrosEvents leave nanosAsLong untouched") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    Lake.rawEvents(spark, SfDir) // schema inference scopes the conf itself
    assert(spark.conf.getOption(key) == before, "rawEvents leaked nanosAsLong")
    Lake.ensureMicrosEvents(spark, SfDir)
    assert(spark.conf.getOption(key) == before,
      "ensureMicrosEvents leaked nanosAsLong")
  }

  test("dropCachesFor invalidates cleanly — next touch re-derives and reads") {
    val n = Lake.table(spark, SfDir, "events").count()
    Lake.dropCachesFor(SfDir)
    assert(Lake.rowCount(spark, SfDir, "events") == n)
    assert(Lake.table(spark, SfDir, "events").count() == n)
  }

  test("micros copy is range-clustered on ts: per-file ranges are pairwise disjoint") {
    // the point of the one-time ingest rewrite is that footer min/max
    // stats let a time-bounded scan skip whole files/row groups; that
    // only works if files cover DISJOINT ts slices (the pre-v2 layout
    // wrote interleaved files where every file spanned the full month
    // and nothing was ever skippable)
    val dir = Lake.ensureMicrosEvents(spark, SfDir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length > 1, s"expected a multi-file clustered copy in $dir")
    val ranges = files.flatMap { f =>
      // exact integer MICROS, not cast("long") (= seconds): two
      // distinct-micros events inside one shared second would truncate
      // to equal bounds and fail the strict check spuriously
      val r = spark.read.parquet(f)
        .agg(min(expr("unix_micros(ts)")), max(expr("unix_micros(ts)")))
        .collect()(0)
      // a 0-row part file aggregates to NULL min/max — skip it (it
      // constrains no scan) instead of dying on an unboxing NPE
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some((r.getLong(0), r.getLong(1)))
    }.sortBy(_._1)
    assert(ranges.length > 1, "all part files empty — nothing to check")
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        // >= not >: range partitioning may legitimately split rows
        // sharing one exact timestamp across a file boundary
        assert(loB >= hiA, s"overlapping file ts ranges: $hiA > $loB")
      case _ =>
    }
  }

  test("rowCount from parquet footers equals a full count()") {
    // events is TIMESTAMP(NANOS) on disk — the raw comparison read needs
    // the nanos conf (scoped, proving it no longer lingers from table())
    Seq("events", "documents", "embeddings", "lineitem").foreach { t =>
      val exact = Lake.withConf(spark,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        spark.read.parquet(s"$SfDir/$t.parquet").count()
      }
      assert(Lake.rowCount(spark, SfDir, t) === exact, t)
    }
  }

  test("derived paths carry the source fingerprint") {
    val p = Lake.ensureMicrosEvents(spark, SfDir)
    assert(p.contains(Lake.fingerprint(spark, SfDir)),
      s"derived path $p does not embed the source fingerprint")
  }

  test("contended first touch materializes a derived artifact exactly once") {
    // Two queries needing the same unbuilt artifact race through
    // materialize (the HTTP pool's cold-start scenario): the build must
    // run once, and every caller must get the correct result. The sleep
    // widens the race window so all threads really do contend.
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val name = s"testct_${java.util.UUID.randomUUID().toString.take(8)}"
    val derived = Lake.Derived(name) { (_, _) =>
      builds.incrementAndGet()
      Thread.sleep(300)
      Lake.table(spark, SfDir, "region")
    }
    val expected = Lake.table(spark, SfDir, "region").count()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new Callable[Long] {
          def call(): Long = Lake.materialize(spark, SfDir, derived).count()
        })
      }
      futures.foreach(f =>
        assert(f.get() == expected, "a contended caller saw a wrong result"))
      assert(builds.get() == 1,
        s"build ran ${builds.get()} times under contention — must be exactly once")
      assert(Lake.isBuilt(spark, SfDir, derived), "isBuilt must see the built marker")
    } finally {
      pool.shutdown()
      pool.awaitTermination(30, TimeUnit.SECONDS)
      rmTree(new java.io.File(Lake.materializedPath(spark, SfDir, derived)))
    }
  }

  test("a slow build of one artifact does not block another artifact's build") {
    // A's build body waits until B's build has finished. Under one
    // process-wide build lock B cannot start before A returns, so A's
    // wait times out; with per-target locks B builds meanwhile.
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val id = java.util.UUID.randomUUID().toString.take(8)
    val aBuilding = new CountDownLatch(1)
    val bBuilt = new CountDownLatch(1)
    @volatile var sawB = false
    val derivedA = Lake.Derived(s"testlka_$id") { (_, _) =>
      aBuilding.countDown()
      sawB = bBuilt.await(30, TimeUnit.SECONDS)
      Lake.table(spark, SfDir, "region")
    }
    val derivedB = Lake.Derived(s"testlkb_$id") { (_, _) =>
      Lake.table(spark, SfDir, "nation")
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new Callable[Boolean] {
        def call(): Boolean = {
          Lake.materialize(spark, SfDir, derivedA)
          sawB
        }
      })
      assert(aBuilding.await(30, TimeUnit.SECONDS), "A's build never started")
      val b = pool.submit(new Callable[Long] {
        def call(): Long = {
          val n = Lake.materialize(spark, SfDir, derivedB).count()
          bBuilt.countDown()
          n
        }
      })
      assert(a.get(), "B's build waited for A's: different targets serialized")
      assert(b.get() == Lake.table(spark, SfDir, "nation").count())
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
      Seq(derivedA, derivedB).foreach(d =>
        rmTree(new java.io.File(Lake.materializedPath(spark, SfDir, d))))
    }
  }

  /** Temp dirs a build left beside `target`. */
  private def tempDirsOf(target: String): Seq[String] = {
    val t = new java.io.File(target)
    Option(t.getParentFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(t.getName + "._tmp-"))
  }

  test("a build that loses the commit race reads the winner's table and leaves no temp dir") {
    // Another writer commits a complete table (nation, with _SUCCESS)
    // at the target while this build runs; the build's own frame
    // (region) must not overwrite it.
    val name = s"testrace_${java.util.UUID.randomUUID().toString.take(8)}"
    lazy val derived: Lake.Derived = Lake.Derived(name) { (s, dir) =>
      Lake.table(s, dir, "nation").write
        .parquet(Lake.materializedPath(s, dir, derived))
      Lake.table(s, dir, "region")
    }
    val target = Lake.materializedPath(spark, SfDir, derived)
    try {
      val got = Lake.materialize(spark, SfDir, derived)
      assert(got.columns.toSeq == Lake.table(spark, SfDir, "nation").columns.toSeq,
        s"the loser overwrote the winner: ${got.columns.toSeq}")
      assert(got.count() == Lake.table(spark, SfDir, "nation").count())
      assert(tempDirsOf(target).isEmpty, s"temp dirs left: ${tempDirsOf(target)}")
    } finally rmTree(new java.io.File(target))
  }

  test("a build whose job throws leaves no target and no temp dir; the next call builds") {
    @volatile var fail = true
    val name = s"testthrow_${java.util.UUID.randomUUID().toString.take(8)}"
    val derived = Lake.Derived(name) { (s, dir) =>
      val region = Lake.table(s, dir, "region")
      if (fail) region.withColumn("boom",
        when(col("r_regionkey") >= 0, raise_error(lit("planted build failure")))
          .otherwise(lit(1)))
      else region
    }
    val target = Lake.materializedPath(spark, SfDir, derived)
    try {
      intercept[Exception](Lake.materialize(spark, SfDir, derived))
      assert(!new java.io.File(target).exists(), s"a failed build left $target")
      assert(tempDirsOf(target).isEmpty, s"temp dirs left: ${tempDirsOf(target)}")
      assert(!Lake.isBuilt(spark, SfDir, derived))
      fail = false
      assert(Lake.materialize(spark, SfDir, derived).count() ==
        Lake.table(spark, SfDir, "region").count())
      assert(Lake.isBuilt(spark, SfDir, derived))
      assert(tempDirsOf(target).isEmpty, s"temp dirs left: ${tempDirsOf(target)}")
    } finally rmTree(new java.io.File(target))
  }

  test("a torn table left at the target without _SUCCESS is replaced, not read") {
    val name = s"testtorn_${java.util.UUID.randomUUID().toString.take(8)}"
    val derived = Lake.Derived(name)((s, dir) => Lake.table(s, dir, "region"))
    val target = Lake.materializedPath(spark, SfDir, derived)
    try {
      Lake.table(spark, SfDir, "nation").write.parquet(target)
      assert(new java.io.File(target, "_SUCCESS").delete())
      val got = Lake.materialize(spark, SfDir, derived)
      assert(got.columns.toSeq == Lake.table(spark, SfDir, "region").columns.toSeq,
        s"the torn table was read: ${got.columns.toSeq}")
      assert(got.count() == Lake.table(spark, SfDir, "region").count())
      assert(tempDirsOf(target).isEmpty, s"temp dirs left: ${tempDirsOf(target)}")
    } finally rmTree(new java.io.File(target))
  }

  test("on a cold lake s35 then s30 both run: their documents splits are different tables") {
    // A fresh copy of the source is a new slug, hence a cold lake.
    import java.nio.file.{Files, Path, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-coldlake").toString
    def copyTree(src: Path, dst: Path): Unit = {
      val walk = Files.walk(src)
      try walk.iterator.asScala.foreach { p =>
        val q = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
      } finally walk.close()
    }
    copyTree(java.nio.file.Paths.get(SfDir), java.nio.file.Paths.get(dir))
    try {
      Seq("s35_stream_g2_maintain", "s30_stream_hapax").foreach { q =>
        SparkEntry.queries(q)(spark, dir).collect()
      }
    } finally SparkSpec.dropCorpusCopy(dir)
  }

  test("overlapping withConf scopes on one session keep the value until the last closes") {
    // Concurrent builds of different targets open conf scopes that
    // overlap without nesting: A opens, B opens, A closes, B closes.
    // B must keep its value after A closes, and the value from before
    // both must come back after B closes.
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val k = "spark.graft.test.overlappingScopes"
    spark.conf.set(k, "orig")
    val aOpen = new CountDownLatch(1)
    val bOpen = new CountDownLatch(1)
    val aClosed = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new Callable[Boolean] {
        def call(): Boolean = {
          val sawB = Lake.withConf(spark, k -> "scoped") {
            aOpen.countDown()
            bOpen.await(30, TimeUnit.SECONDS)
          }
          aClosed.countDown()
          sawB
        }
      })
      val b = pool.submit(new Callable[String] {
        def call(): String = {
          aOpen.await(30, TimeUnit.SECONDS)
          Lake.withConf(spark, k -> "scoped") {
            bOpen.countDown()
            aClosed.await(30, TimeUnit.SECONDS)
            spark.conf.get(k)
          }
        }
      })
      assert(a.get() && b.get() == "scoped",
        "closing A's scope undid the conf B's scope still holds")
      assert(spark.conf.get(k) == "orig", "the session kept a scoped value")
    } finally {
      spark.conf.unset(k)
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  test("ensureScaledDir multiplies facts with disjoint re-keyed ids, passes dims through") {
    val dir = Lake.ensureScaledDir(spark, SfDir, factor = 3)
    // facts: 3× rows, and keys disjoint across copies so distinct
    // cardinality scales with the data (growth = new users/docs, not
    // 3× density per existing key)
    val srcEvents = Lake.table(spark, SfDir, "events")
    val bigEvents = Lake.table(spark, dir, "events")
    assert(bigEvents.count() == 3 * srcEvents.count())
    assert(bigEvents.select(col("user_id")).distinct().count() ==
      3 * srcEvents.select(col("user_id")).distinct().count())
    // null user ids stay null (offset arithmetic must not invent keys)
    assert(bigEvents.filter(col("user_id").isNull).count() ==
      3 * srcEvents.filter(col("user_id").isNull).count())
    // ts round-trips as a real timestamp with the source's span
    val Array(srcSpan) = srcEvents.agg(min(col("ts")), max(col("ts"))).collect()
    val Array(bigSpan) = bigEvents.agg(min(col("ts")), max(col("ts"))).collect()
    assert(srcSpan == bigSpan, s"ts span changed: $srcSpan vs $bigSpan")
    // copy 2's doc ids sit a full stride band up
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.agg(max(col("doc_id"))).head().getLong(0) >= 2 * Lake.ScaleKeyStride)
    // fact/fact join stays referentially intact per copy
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val dangling = orders.join(cust,
      orders("o_custkey") === cust("c_custkey"), "left_anti").count()
    assert(dangling == 0, s"$dangling orders lost their customer after re-keying")
    // dims: single copy
    assert(spark.read.parquet(s"$dir/nation.parquet").count() ==
      spark.read.parquet(s"$SfDir/nation.parquet").count())
  }

  test("ts is TimestampType under every source encoding (nanos-long, µs-NTZ, µs-LTZ)") {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    // 1. whatever the provisioner currently ships must come out LTZ —
    // this is the regression the r10 testdata drift exposed (µs-NTZ
    // passed through and broke every unix_micros/withWatermark consumer)
    assert(Lake.table(spark, SfDir, "events").schema("ts").dataType == TimestampType)
    assert(Lake.rawEvents(spark, SfDir).schema("ts").dataType == TimestampType)

    // 2. synthetic single-table dirs in each encoding the choke point
    // supports; values must also be IDENTICAL across encodings (the
    // NTZ→LTZ cast under the pinned-UTC session is a no-op on the
    // stored micros; the long branch is the nanos-as-long reader shape)
    val base = Lake.rawEvents(spark, SfDir).select("event_id", "ts").limit(50)
    val expect = base.select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).sorted
    val root = s"/tmp/graft-enc-${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      // µs-LTZ (our own derived-lake layout)
      Lake.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        base.write.parquet(s"$root/ltz/events.parquet")
      }
      // µs-NTZ (the r10+ provisioned layout)
      base.withColumn("ts", col("ts").cast(TimestampNTZType))
        .write.parquet(s"$root/ntz/events.parquet")
      // nanos-as-long: what the legacy reader yields for TIMESTAMP(NANOS)
      base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
        .write.parquet(s"$root/nanos/events.parquet")
      Seq("ltz", "ntz", "nanos").foreach { enc =>
        val got = Lake.rawEvents(spark, s"$root/$enc")
        assert(got.schema("ts").dataType == TimestampType, s"$enc dtype")
        val vals = got.select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).sorted
        assert(vals.sameElements(expect), s"$enc values drifted")
      }
    } finally rmTree(new java.io.File(root))
  }

  test("c11 approx_count_distinct is within 5% of exact per event_type") {
    val e = Lake.table(spark, SfDir, "events")
    val approx = e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"$k: approx $a vs exact $n exceeds 5%")
    }
  }
}
