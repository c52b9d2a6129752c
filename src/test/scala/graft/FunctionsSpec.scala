package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.functions.{GraftExtensions, VectorExpressions}
import graft.sources.Lake

/** Native Catalyst expression semantics: the fused cosine must be
  * bit-identical to the composed-built-ins form, in both whole-stage
  * codegen and interpreted (eval) execution.
  */
class FunctionsSpec extends SparkSpec {

  private def toD(c: org.apache.spark.sql.Column) =
    transform(c, x => x.cast("double"))

  test("native cosine == HOF cosine bit-for-bit on real embeddings (codegen path)") {
    val e = Lake.table(spark, SfDir, "embeddings")
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    val both = e.filter(col("vec_id") =!= 0).join(q)
      .select(
        VectorExpressions.cosineNative(col("embedding"), col("qv")).as("native"),
        Similarity.cosineHof(toD(col("embedding")), toD(col("qv"))).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
  }

  test("native cosine agrees between codegen and interpreted eval") {
    val e = Lake.table(spark, SfDir, "embeddings").limit(50)
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
    def run(): Seq[Double] =
      e.join(q)
        .select(VectorExpressions.cosineNative(col("embedding"), col("qv")))
        .collect().map(_.getDouble(0)).toSeq
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = run()
      assert(withCodegen == interpreted)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("native cosine NULL contract: zero norms and length mismatch") {
    import spark.implicits._
    // separate frames: Catalyst folds expressions over a LocalRelation
    // eagerly, and the HOF Divide under ANSI throws on the zero-norm row
    val good = Seq((1L, Seq(1.0, 2.0), Seq(1.0, 2.0))).toDF("id", "a", "b")
    val rows = good.select(col("id"),
      VectorExpressions.cosineNative(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .collect()
    assert(rows(0).getDouble(1) == rows(0).getDouble(2))
    val edge = Seq(
      (2L, Seq(0.0, 0.0), Seq(1.0, 2.0)),     // zero-norm left -> NULL, not NaN
      (3L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)) // length mismatch -> NULL
    ).toDF("id", "a", "b")
      .select(col("id"), VectorExpressions.cosineNative(col("a"), col("b")).as("native"))
      .orderBy("id").collect()
    assert(edge(0).isNullAt(1), "zero-norm must be NULL (NaN would win desc rankings; " +
      "the composed Divide would throw DIVIDE_BY_ZERO under ANSI)")
    assert(edge(1).isNullAt(1), "length mismatch must be NULL, not a truncated score")
  }

  test("native cosine NULL contract: null element nulls the score (codegen + eval)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0, null)),
      (3L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0))
    ).toDF("id", "a", "b")
    def run(): Seq[(Long, Boolean)] =
      df.select(col("id"), VectorExpressions.cosineNative(col("a"), col("b")))
        .collect().map(r => (r.getLong(0), r.isNullAt(1))).toSeq.sortBy(_._1)
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      assert(run() == codegen, "codegen and eval disagree on null elements")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(codegen == Seq((1L, true), (2L, true), (3L, false)),
      "a null element must NULL the score, not contribute a silent 0.0")
  }

  test("cosine_sim is callable from SQL after registration (idempotent) and via extensions wiring") {
    import graft.functions.GraftExtensions
    GraftExtensions.ensureRegistered(spark)
    GraftExtensions.ensureRegistered(spark) // second call must be a no-op
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same, " +
        "cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS ortho")
      .collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0, s"got $r")
    // wrong arity fails at analysis, not at runtime
    intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0D))").collect()
    }
    // the conf-driven class wires the same entry without throwing
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("spark.sql.extensions=graft.functions.GraftExtensions registers cosine_sim in a user-built session") {
    // The route a user's OWN session takes: spark.sql.extensions is a
    // STATIC conf read off the SparkContext at session construction
    // (SparkSpec sets it on the shared context), so building a fresh
    // SparkSession re-runs extension resolution — conf string → class
    // load → injectFunction — with no graft bootstrap code involved.
    // The fresh session's function registry is independent of the
    // shared one, so ensureRegistered calls made by other suites
    // cannot mask a broken conf route. Clearing the active/default
    // registrations is what forces getOrCreate to build anew.
    import org.apache.spark.sql.SparkSession
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder().getOrCreate()
      assert(fresh ne prior, "getOrCreate returned the old session — extensions never resolved")
      val r = fresh.sql(
        "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS same").collect()(0)
      assert(r.getDouble(0) == 1.0, s"got $r")
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("the constants rule is a columnar rule of both the conf-driven session and a Tuning.session one") {
    // Tuning.session builds with .withExtensions(new GraftExtensions),
    // the same extensions the suite's session takes from its conf; a
    // fresh session over the shared context shows what the builder
    // alone adds (the shared context's conf adds them too, so the
    // fresh session must hold the rule at least once)
    import org.apache.spark.sql.SparkSession
    val rule = graft.engine.ConstantRefs.Columnar
    assert(spark.sessionState.columnarRules.contains(rule))
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = graft.engine.Tuning.session()
      assert(fresh ne prior, "Tuning.session returned the old session")
      assert(fresh.sessionState.columnarRules.contains(rule))
      assert(fresh.sql("SELECT sq_l2_dist(array(1.0D), array(3.0D)) AS d")
        .collect()(0).getDouble(0) == 4.0)
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
      prior.sparkContext.setLogLevel("ERROR")
    }
  }

  test("native cosine rejects non-array inputs at analysis time") {
    val e = Lake.table(spark, SfDir, "embeddings")
    intercept[Exception] {
      e.select(VectorExpressions.cosineNative(col("vec_id"), col("embedding"))).collect()
    }
  }

  test("native sq_l2_dist == HOF form bit-for-bit; codegen == interpreted") {
    val e = Lake.table(spark, SfDir, "embeddings")
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(toD(col("embedding")).as("qv")))
    def both() = e.filter(col("vec_id") =!= 0).join(q)
      .select(
        VectorExpressions.sqL2Native(toD(col("embedding")), col("qv")).as("native"),
        Similarity.sqDistHof(toD(col("embedding")), col("qv")).as("hof"))
      .collect()
    val rows = both()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = both()
      assert(rows.map(_.getDouble(0)).toSeq == interp.map(_.getDouble(0)).toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("native sq_l2_dist NULL contract: length mismatch and null element; zero distance is real") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0, 2.0), Array(1.0, 2.0)),         // identical -> 0.0
      (2L, Array(1.0, 2.0), Array(4.0, 6.0))           // 9 + 16 = 25
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
      VectorExpressions.sqL2Native(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 25.0), s"got $got")
    // length mismatch -> NULL (not a truncated distance)
    val mism = Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
      .select(VectorExpressions.sqL2Native(col("a"), col("b"))).collect()(0)
    assert(mism.isNullAt(0), "length mismatch must be NULL")
    // null element -> NULL (not distance-to-zero)
    val ne = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
      .select(VectorExpressions.sqL2Native(col("a"), col("b"))).collect()(0)
    assert(ne.isNullAt(0), "null element must null the distance")
  }

  test("sq_l2_dist is callable from SQL alongside cosine_sim (both registration routes)") {
    GraftExtensions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT sq_l2_dist(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d, " +
        "cosine_sim(array(1.0D), array(1.0D)) AS c").collect()(0)
    assert(r.getDouble(0) == 25.0 && r.getDouble(1) == 1.0)
  }

  test("native dot_i: exact long products, codegen == interpreted, NULL contract, SQL registration") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1, 2, 3), Array(4, 5, 6)),                     // 4+10+18 = 32
      (2L, Array(255, 255), Array(255, 255)),                   // 130050 — int² territory
      (3L, Array(Int.MaxValue, 1), Array(Int.MaxValue, 0))      // needs long products
    ).toDF("id", "a", "b")
    def run(): Map[Long, Long] = df
      .select(col("id"), VectorExpressions.dotIntNative(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 32L, 2L -> 130050L,
      3L -> Int.MaxValue.toLong * Int.MaxValue)
    assert(run() == expected)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() == expected, "interpreted eval must agree with codegen")
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // NULL contract: length mismatch and null element
    val mism = Seq((Array(1, 2), Array(1))).toDF("a", "b")
      .select(VectorExpressions.dotIntNative(col("a"), col("b"))).collect()(0)
    assert(mism.isNullAt(0), "length mismatch must be NULL")
    val ne = Seq((Seq[Integer](1, null), Seq[Integer](1, 2))).toDF("a", "b")
      .select(VectorExpressions.dotIntNative(col("a"), col("b"))).collect()(0)
    assert(ne.isNullAt(0), "null element must null the product")
    // SQL dialect surface
    GraftExtensions.ensureRegistered(spark)
    val r = spark.sql("SELECT dot_i(array(1, 2), array(3, 4)) AS d").collect()(0)
    assert(r.getLong(0) == 11L)
  }

  test("sorted_intersect == array_intersect on sorted distinct inputs (codegen + eval), NULL contract, SQL") {
    import graft.functions.ArrayExpressions
    import spark.implicits._
    // randomized-but-deterministic sorted distinct pairs, including
    // empty / disjoint / subset / identical shapes
    val rnd = new scala.util.Random(13)
    val cases: Seq[(Long, Seq[Long], Seq[Long])] =
      (Seq(
        (Seq.empty[Long], Seq(1L, 2L)),
        (Seq(1L, 2L), Seq.empty[Long]),
        (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),   // disjoint
        (Seq(1L, 2L, 3L), Seq(2L, 3L)),       // subset
        (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L))  // identical, negatives
      ) ++ (1 to 40).map { _ =>
        def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong)
          .distinct.sorted
        (arr(), arr())
      }).zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
    val df = cases.toDF("id", "a", "b")
    def run(): Map[Long, Seq[Long]] = df
      .select(col("id"),
        ArrayExpressions.sortedIntersect(col("a"), col("b")).as("got"),
        array_intersect(col("a"), col("b")).as("want"))
      .collect().map { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"id ${r.getLong(0)}: merge ${r.getSeq[Long](1)} != hash ${r.getSeq[Long](2)}")
        r.getLong(0) -> r.getSeq[Long](1).toSeq
      }.toMap
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() == codegen, "interpreted eval must agree with codegen")
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // NULL contract: null array -> NULL; null element -> NULL (corrupt
    // adjacency must surface, not shrink the intersection)
    val na = Seq((Option.empty[Seq[Long]], Option(Seq(1L))))
      .toDF("a", "b")
      .select(ArrayExpressions.sortedIntersect(col("a"), col("b"))).collect()(0)
    assert(na.isNullAt(0), "null array must be NULL")
    val ne = Seq((Seq[java.lang.Long](null, 2L), Seq[java.lang.Long](1L, 2L)))
      .toDF("a", "b")
      .select(ArrayExpressions.sortedIntersect(col("a"), col("b"))).collect()(0)
    assert(ne.isNullAt(0), "null element must NULL the result")
    // SQL dialect surface
    GraftExtensions.ensureRegistered(spark)
    val r2 = spark.sql(
      "SELECT sorted_intersect(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS s")
      .collect()(0)
    assert(r2.getSeq[Long](0) == Seq(3L, 5L))
  }

  test("broadcast bloom probe: members always pass, non-members at ~fpp, identical to the literal probe") {
    import org.apache.spark.sql.functions._
    val n = 100000L
    val arcs = spark.range(n)
      .select((col("id") * 2).as("s"), (col("id") * 2 + 1).as("t"))
    val bloom = graft.functions.BloomExpressions.build("FunctionsSpec",
      arcs, struct(col("s"), col("t")), n)
    def probe(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.filter(graft.functions.BloomExpressions.mightContain(
        bloom, struct(col(a), col(b)))).count()
    // no false negatives, ever
    assert(probe(arcs, "s", "t") == n, "broadcast probe dropped members")
    // non-members (reversed arcs) pass at ~1%
    val rev = arcs.select(col("t").as("s"), col("s").as("t"))
    val fp = probe(rev, "s", "t")
    assert(fp < 3000, s"broadcast probe saturated: $fp/100000 false positives")
    // row-identical to Spark's literal probe on the same sketch — the
    // broadcast form changes WHERE the bitmap lives, never a verdict
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val literalProbe = GraftExpressionBridge.column(new BloomFilterMightContain(
      Literal(bloom.get.value, BinaryType),
      GraftExpressionBridge.expression(xxhash64(struct(col("s"), col("t"))))))
    val lit = rev.filter(literalProbe).count()
    assert(fp == lit, s"broadcast $fp vs literal $lit verdicts diverge")
  }
}
