package graft

import org.apache.spark.sql.functions._

import graft.ext.{AudioFeatures, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.functions.BloomExpressions
import graft.sources.Lake

/** Semantics tests for the sketch-based (rows-only-checked) LLM
  * operators, verified against exact references computed in-process.
  */
class ExtSpec extends SparkSpec {

  test("minhash-LSH recalls the exact near-dup pairs (x03 vs x05 ground truth)") {
    val exact = Dedup.queries("x05_dedup_ngram_jaccard")(spark, SfDir)
      .filter(col("jaccard") >= 0.8) // high-similarity pairs: banding must catch these
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sketch = Dedup.queries("x03_dedup_minhash")(spark, SfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val recalled = exact.intersect(sketch)
    assert(recalled.size.toDouble / exact.size >= 0.9,
      s"LSH recall too low: ${recalled.size}/${exact.size}; missed ${exact -- sketch}")
  }

  test("ngramJaccardPairs: exact-text collapse is byte-identical to the doc-grain join on a replicated corpus (x05/x150)") {
    import spark.implicits._
    val base = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i k"), // near-dup of doc 0
      (2L, "z y x w v u t s r q"))
    // replicate every text 3x under fresh ids — the scaled-lake
    // duplicate-density stress the collapse exists for
    val corpus = (base ++ base.map { case (id, t) => (id + 10L, t) }
      ++ base.map { case (id, t) => (id + 20L, t) }).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(corpus, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive doc-grain reference: same (inactive at 9 docs) cap, same
    // set arithmetic, computed in-process
    val sets = Dedup.shingleTable(corpus).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      c = (sets(a) intersect sets(b)).size if c >= 1
      j = r4(c.toDouble / (sets(a).size + sets(b).size - c)) if j >= 0.3
    } yield (a, b, j)).toSet
    assert(got == expected,
      s"collapse changed semantics: extra=${got -- expected} missing=${expected -- got}")
    // replicas of the near-dup pair must carry the canonical jaccard,
    // and replica-replica pairs exactly 1.0
    assert(got.exists { case (a, b, j) => a == 0L && b == 11L && j < 1.0 })
    assert(got.contains((0L, 10L, 1.0)) && got.contains((10L, 20L, 1.0)))
  }

  test("passage dedup counts chunk duplication exactly: short docs, cross-doc and within-doc repeats (x31)") {
    import spark.implicits._
    val w = (1 to 16).map(i => s"w$i")
    val repeated = w.take(8).mkString(" ")          // one full 8-word chunk
    val corpus = Seq(
      // doc 0: two chunks; the first duplicates doc 1's first chunk
      (0L, repeated + " " + w.slice(8, 16).mkString(" ")),
      // doc 1: same first chunk, distinct 3-word trailing short chunk
      (1L, repeated + " x y z"),
      // doc 2: the repeated chunk twice -> WITHIN-doc duplication
      (2L, repeated + " " + repeated),
      // doc 3: 5 words only -> exactly one short passage, unique
      (3L, "a b c d e")
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.passageDupStats(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      0L -> ((2L, 1L)), // chunk1 dup (docs 0,1,2,2), chunk2 unique
      1L -> ((2L, 1L)), // chunk1 dup, "x y z" unique
      2L -> ((2L, 2L)), // both its chunks are the repeated one
      3L -> ((1L, 0L))  // single short passage, unique
    ), s"got $got")
  }

  test("connected components collapse transitive chains to one cluster (x18)") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (one component, min label 1), pair 10-11,
    // isolated-by-construction pair 20-21 via a shared edge with 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
      s"got $got — pairs (1,2),(2,3),(3,4) must collapse transitively")
  }

  test("connected components fail loudly when maxIter is too small for the diameter") {
    import spark.implicits._
    // a 6-vertex path has diameter 5: min-label propagation cannot
    // reach a fixed point in 2 rounds, and a silently non-converged
    // label table must never be returned (it would be materialized)
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same graph collapses to one component
    val ok = Dedup.connectedComponents(path, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(1L) && ok.size == 6)
  }

  test("IVF probe selection stays in executors (broadcast joins in the plan)") {
    val df = Similarity.queries("x16_ann_ivf")(spark, SfDir)
    val plan = df.queryExecution.executedPlan.toString
    // query x centroid scoring is a broadcast nested-loop of the k-row
    // centroid table; the probe table broadcasts into the corpus join —
    // no collect-based probe construction anywhere
    assert(plan.contains("BroadcastNestedLoopJoin"), s"no centroid broadcast in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no probe broadcast join in:\n$plan")
  }

  test("simhash pairs are near-dups by construction (hamming small ⊂ jaccard high)") {
    val pairs = Dedup.queries("x04_dedup_simhash")(spark, SfDir).collect()
    assert(pairs.nonEmpty, "planted near-dups should collide in simhash bands")
    assert(pairs.forall(_.getInt(2) <= 8))
  }

  test("exact dedup keeps exactly one survivor per normalized text (x01/x02)") {
    val survivors = Dedup.queries("x02_dedup_exact_rows")(spark, SfDir).count()
    val distinctTexts = Lake.table(spark, SfDir, "documents")
      .select(lower(trim(col("text")))).distinct().count()
    assert(survivors == distinctTexts)
  }

  test("cosine top-k matches an in-process exact computation (x07)") {
    val rows = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = rows(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = rows.view.filterKeys(_ != 0L)
      .map { case (id, v) => (id, math.rint(cos(q, v) * 10000) / 10000) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val got = Similarity.queries("x07_cosine_topk")(spark, SfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("multi-table LSH recalls planted near-duplicates with bounded candidates (x08/x09)") {
    // The testdata embeddings are near-orthogonal random vectors (no
    // planted near-dups), so recall at high similarity is verified on a
    // planted corpus: 200 gaussian base vectors + 50 noisy copies
    // (cosine ≈ 0.97 to their base).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = Array.fill(200)(Array.fill(64)(rnd.nextGaussian()))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      (0 until 50).map(i => (1000L + i, base(i).map(_ + 0.25 * rnd.nextGaussian()).toSeq))
    val df = rows.toSeq.toDF("vec_id", "vec")
    val n = df.count()
    val bits = ext.Similarity.chooseBits(n)
    val planted = (0 until 50).map(i => (i.toLong, 1000L + i)).toSet
    val found = ext.Similarity.neardupPairs(df, bits, ext.Similarity.DefaultTables, 0.9)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = planted.intersect(found)
    assert(recalled.size.toDouble / planted.size >= 0.9,
      s"LSH recall too low: ${recalled.size}/${planted.size}")
    // scale bound: candidate volume stays O(L·n), nowhere near all-pairs
    val cands = ext.Similarity.annCandidatePairs(df, bits, ext.Similarity.DefaultTables).count()
    assert(cands <= 32L * n, s"candidate volume $cands exceeds 32n (n=$n) — bucket sizing broken")
    assert(cands < n * (n - 1) / 4, s"candidate volume $cands is within 2x of all-pairs")
  }

  test("embedding near-dup pairs carry exact cosines above threshold (x09)") {
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val got = Similarity.queries("x09_embed_neardup")(spark, SfDir).collect()
    assert(got.nonEmpty, "near-dup scaffolding should surface candidate pairs")
    got.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(a < b, s"pair ($a,$b) not canonically ordered")
      assert(c >= 0.2, s"pair ($a,$b) cosine $c below threshold")
      assert(math.abs(c - cos(vecs(a), vecs(b))) <= 1e-4,
        s"pair ($a,$b): reported cosine $c != exact ${cos(vecs(a), vecs(b))}")
    }
  }

  test("hot banding buckets are capped out of candidate generation (x03/x04/x08 guards)") {
    import spark.implicits._
    // minhash: a 3-member bucket over the cap contributes no pairs;
    // the 2-member bucket under it still does
    val bands = Seq(
      (1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L),
      (4L, 1, 200L), (5L, 1, 200L)).toDF("doc_id", "band", "bsig")
    val mh = Dedup.minhashCandidates(bands, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((4L, 5L)), s"minhash guard: got $mh")
    // simhash: docs 1-3 share every chunk of 7 (hot); docs 4-5 share
    // chunk 9999 (bucket of 2, kept); the zero chunks are shared by
    // all five docs and must be capped out
    val sims = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 9999L), (5L, 9999L))
      .toDF("doc_id", "simhash")
    val sh = Dedup.simhashPairs(sims, maxHamming = 8, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh == Set((4L, 5L)), s"simhash guard: got $sh")
    // LSH: same shape through the (tbl, sig) bucket table
    val buckets = Seq(
      (1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L),
      (4L, 1, 200L), (5L, 1, 200L)).toDF("vec_id", "tbl", "sig")
    val lsh = Similarity.candidatesFromBuckets(buckets, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((4L, 5L)), s"lsh guard: got $lsh")
  }

  test("ubiquitous shingles are capped out of the inverted index (x05 hot-key guard)") {
    import spark.implicits._
    // "alpha beta gamma" appears in all 60 docs — document frequency 60
    // exceeds the cap max(50, 60 div 100) = 50, so it must not generate
    // candidate pairs; every other shingle is unique per doc.
    val docs = (0 until 60).map(i => (i.toLong, s"alpha beta gamma token$i tail$i"))
      .toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(docs, 0.0).count() == 0,
      "hot shingle survived the document-frequency cap")
  }

  test("docs shorter than k tokens flow through shingleTable and x50 without crashing") {
    import spark.implicits._
    // regression: sequence(0, size-k) with size < k infers step -1 and
    // yields [0, -1], whose transform hit element_at(tokens, 0) →
    // INVALID_INDEX_OF_ZERO once the pre-filter was dropped in the x50
    // rework. Short docs must contribute zero shingle rows, not throw.
    val docs = Seq(
      (1L, "one"), (2L, "two words"), (3L, "exactly three tokens"),
      (4L, "a longer document with plenty of tokens here"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs)
    val perDoc = sh.groupBy($"doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!perDoc.contains(1L) && !perDoc.contains(2L),
      s"short docs must produce no shingles, got $perDoc")
    assert(perDoc(3L) == 1L && perDoc(4L) == 6L, s"wrong shingle counts: $perDoc")
    // the x50 novelty shape over the same table: short docs are simply
    // absent (no shingles → no novelty row); long docs score normally
    val novel = sh.groupBy($"shingle").agg(min($"doc_id").as("doc_id"))
      .groupBy($"doc_id").count()
    assert(novel.collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("IVF ANN stays within the query's cluster on separated planted clusters (x16)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 4 well-separated clusters in 16 dims: center c = 10·e_c, noise σ=0.5
    val centers = (0 until 4).map(c => Array.tabulate(16)(d => if (d == c) 10.0 else 0.0))
    val rows = for { c <- 0 until 4; i <- 0 until 50 } yield
      ((c * 50 + i).toLong, centers(c).map(_ + 0.5 * rnd.nextGaussian()).toSeq)
    val df = rows.toDF("vec_id", "vec")
    val clusterOf = rows.map { case (id, _) => id -> (id / 50) }.toMap
    // 2 queries per cluster; nprobe=1 on separated clusters means every
    // returned neighbor must come from the query's own cluster
    val res = ext.Similarity.ivfTopK(df, col("vec_id") % 50 < 2,
      k = 4, nprobe = 1, topK = 3).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.size == 8, s"expected 8 queries, got ${byQuery.keySet}")
    res.foreach { r =>
      assert(clusterOf(r.getLong(1)) == clusterOf(r.getLong(0)),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s cluster")
    }
    byQuery.values.foreach(rs =>
      assert(rs.map(_.getInt(2)).toSeq.sorted == (1 to rs.length)))
  }

  test("PQ ANN stays within the query's cluster on separated planted clusters (x29)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // same planted geometry as the IVF test: 4 well-separated clusters
    // in 16 dims; with 4 subspaces × 8 codes the ADC scan must rank
    // same-cluster vectors first despite the lossy compression
    val centers = (0 until 4).map(c => Array.tabulate(16)(d => if (d == c * 4) 10.0 else 0.0))
    val rows = for { c <- 0 until 4; i <- 0 until 50 } yield
      ((c * 50 + i).toLong, centers(c).map(_ + 0.5 * rnd.nextGaussian()).toSeq)
    val df = rows.toDF("vec_id", "vec")
    val clusterOf = rows.map { case (id, _) => id -> (id / 50) }.toMap
    val res = ext.Similarity.pqTopK(df, col("vec_id") % 50 < 2,
      m = 4, ksub = 8, topK = 3).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.size == 8, s"expected 8 queries, got ${byQuery.keySet}")
    res.foreach { r =>
      assert(clusterOf(r.getLong(1)) == clusterOf(r.getLong(0)),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s cluster")
    }
    byQuery.values.foreach(rs =>
      assert(rs.map(_.getInt(2)).toSeq.sorted == (1 to rs.length)))
  }

  test("x212 exact IVF twin: neighbors come only from the query's nprobe probed seed cells") {
    val e = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // independent re-derivation of the seed quantizer with the
    // composed-builtins distance (the query runs the fused native
    // kernel): assignment argmin and per-query probe set
    val cents = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("k"), col("v").as("cv"))
    def d4(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(Similarity.sqDistHof(a, b), 4)
    val cellOf = e.crossJoin(cents)
      .select(col("vec_id"), col("k"), d4(col("v"), col("cv")).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("k"))).getField("k").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = e.filter(col("vec_id") < 5).crossJoin(cents)
      .select(col("vec_id"), col("k"), d4(col("v"), col("cv")).as("d"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (r.getDouble(2), r.getLong(1)))
          .take(2).map(_.getLong(1)).toSet
      }
    val res = Similarity.queries("x212_ivf_probe_exact")(spark, SfDir).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.size == 5, s"expected 5 queries, got ${byQuery.keySet}")
    byQuery.values.foreach(rs =>
      assert(rs.map(_.getInt(3)).toSeq.sorted == (1 to rs.length)))
    res.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      assert(n != q, s"self-neighbor for $q")
      assert(probed(q).contains(cellOf(n)),
        s"neighbor $n (cell ${cellOf(n)}) outside query $q's probe set ${probed(q)}")
    }
  }

  test("x213 exact PQ twin: dense ranks, ADC ascending within query, no self-neighbor") {
    val res = Similarity.queries("x213_pq_adc_exact")(spark, SfDir).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.size == 5, s"expected 5 queries, got ${byQuery.keySet}")
    byQuery.foreach { case (q, rs) =>
      val ordered = rs.sortBy(_.getInt(3))
      assert(ordered.map(_.getInt(3)).toSeq == (1 to rs.length),
        s"ranks not dense for $q")
      val adcs = ordered.map(_.getDouble(2)).toSeq
      assert(adcs == adcs.sorted, s"ADC must ascend with rank for $q: $adcs")
      assert(adcs.forall(_ >= 0.0), s"negative ADC for $q: $adcs")
      assert(ordered.forall(_.getLong(1) != q), s"self-neighbor for $q")
    }
  }

  test("PQ codes are m small ints per vector with codebook-bounded values (x29)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = (0 until 100).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian()))).toDF("vec_id", "vec")
    val books = ext.Similarity.pqFit(df, m = 4, ksub = 8)
    assert(books.count() == 4 * 8, "codebooks must have m*ksub entries")
    val codes = ext.Similarity.pqEncode(df, books, m = 4, subDim = 4).collect()
    assert(codes.length == 100 * 4, "exactly one code per (vector, subspace)")
    codes.foreach { r =>
      val code = r.getInt(2)
      assert(code >= 0 && code < 8, s"code $code outside the codebook")
    }
  }

  test("ANN LSH returns ranked candidates per query (x08)") {
    val df = Similarity.queries("x08_ann_lsh")(spark, SfDir).collect()
    assert(df.nonEmpty)
    val byQuery = df.groupBy(_.getLong(0))
    assert(byQuery.forall { case (_, rs) => rs.map(_.getInt(2)).toSeq.sorted == (1 to rs.length) })
  }

  test("x19 curation = quality-passing docs minus non-survivor near-dups") {
    val curated = Dedup.queries("x19_curation")(spark, SfDir)
      .collect().map(_.getLong(0)).toSet
    val nonSurvivors = Dedup.queries("x18_dedup_components")(spark, SfDir)
      .collect().filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    val toks = split(col("text"), " ")
    val quality = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), size(toks).as("n"),
        (size(filter(toks, t => TextAnalysis.isStopword(t))).cast("double") /
          size(toks)).as("r"))
      .filter(col("r") >= 0.05 && col("n") >= 10)
      .collect().map(_.getLong(0)).toSet
    assert(curated.nonEmpty && nonSurvivors.nonEmpty)
    assert(curated == quality -- nonSurvivors)
  }

  test("x22 quantization maps min to 0, max to 255, everything within range") {
    import spark.implicits._
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val got = Similarity.queries("x22_embed_quantize")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.length == vecs.size)
    got.foreach { case (id, qFirst, qSum) =>
      val v = vecs(id); val mn = v.min; val mx = v.max
      val expFirst = math.round((v(0) - mn) / (mx - mn) * 255).toInt
      assert(qFirst == expFirst, s"vec $id first component")
      // min quantizes to 0 and max to 255, so the checksum is bounded
      assert(qSum >= 255L && qSum <= 255L * v.length, s"vec $id checksum $qSum")
    }
  }

  test("x20 sample equals the exact hash set; x21 fills are budget-bounded prefixes") {
    // x20: the sample must be EXACTLY the rows the Weyl hash admits —
    // recomputed independently here — not a statistical approximation
    val langs = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = langs.filter { case (id, lang) =>
      val thr =
        if (lang == "en") (Sampling.HashMod * 0.5).toLong
        else (Sampling.HashMod * 0.2).toLong
      (id * Sampling.HashMul) % Sampling.HashMod < thr
    }.map(_._1).toSet
    val got = Sampling.queries("x20_stratified_sample")(spark, SfDir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < langs.length)

    // x21: every kept row is under budget, and per source the kept set
    // is a doc_id-order prefix (greedy fill, no holes)
    val rows = Sampling.queries("x21_token_budget")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 <= 20000L))
    rows.groupBy(_._2).foreach { case (src, kept) =>
      val ordered = kept.sortBy(_._1)
      assert(ordered.map(_._3.toLong).scanLeft(0L)(_ + _).tail.toSeq ==
        ordered.map(_._4).toSeq, s"$src running sums inconsistent")
    }
  }

  test("x14 real PNG codec: roundtrip features are exact for known bytes") {
    import graft.ext.{ImageFeatures, Multimodal => M}
    // constant payload: every pixel = 'A' (65) → mean exactly 65.0
    val png = M.ImageCodec.encodePng(Array.fill(10)('A'.toByte))
    // the blob really is a PNG stream (magic bytes), decoded by ImageIO
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    assert(M.ImageCodec.decode(7L, png) == ImageFeatures(7L, 16, 16, 65.0))
    // cycling payload: pixel p = byte[p mod 3] over 256 pixels — mean
    // is the exact integer-sum / 256, no float tolerance needed
    val f2 = M.ImageCodec.decode(1L, M.ImageCodec.encodePng(Array[Byte](10, 20, 30)))
    val s = (0 until 256).map(p => Seq(10, 20, 30)(p % 3)).sum
    assert(f2.mean_byte == s.toDouble / 256)
  }

  test("x94 aHash: brightness-shift invariant, structure-sensitive, matches a hand-computed hash") {
    import graft.ext.{Multimodal => M}
    def hash(bytes: Array[Byte]) = M.ImageCodec.aHashBits(M.ImageCodec.encodePng(bytes))
    // payload whose image is top-half 10s / bottom-half 90s: pixels
    // 0..127 = 10, 128..255 = 90 → blocks rows 0-3 dark, 4-7 bright
    val half = Array.tabulate(256)(p => if (p < 128) 10.toByte else 90.toByte)
    assert(hash(half) == "0" * 32 + "1" * 32, "hand-computed block layout")
    // global brightness shift: every byte +10 → identical hash, while
    // the encoded PNGs differ (what byte-exact dedup would compare)
    val shifted = half.map(b => ((b & 0xff) + 10).toByte)
    assert(hash(shifted) == hash(half), "aHash must ignore exposure shifts")
    assert(!java.util.Arrays.equals(
      M.ImageCodec.encodePng(half), M.ImageCodec.encodePng(shifted)),
      "the twin must be a genuinely different file")
    // structural change (halves swapped) flips every bit
    val swapped = Array.tabulate(256)(p => if (p < 128) 90.toByte else 10.toByte)
    assert(hash(swapped) == "1" * 32 + "0" * 32, "structure must move the hash")
  }

  test("x110 window energies: real WAV roundtrip yields exact per-window sums and the quiet half segments as one island") {
    import graft.ext.{Multimodal => M}
    // 64 quiet bytes ('m' → sample (109−109)·256+109 = 109) then 64
    // loud bytes ('z' → (122−109)·256+122 = 3450): 4 16-sample
    // windows with energies 16·109, 16·109, 16·3450, 16·3450
    val bytes = (Array.fill(64)('m'.toByte) ++ Array.fill(64)('z'.toByte))
    val w = M.AudioCodec.windowEnergies(5L, M.AudioCodec.encodeWav(bytes), 16)
    assert(w.map(x => (x.wi, x.n_samples, x.abs_sum)) ==
      Seq((0, 16, 1744L), (1, 16, 1744L), (2, 16, 55200L), (3, 16, 55200L)))
    // mean-energy gate: 1744·4 < 113888 (quiet), 55200·4 ≥ (loud) —
    // exactly windows 0-1 pass, and they are consecutive: one island
    val total = w.map(_.abs_sum).sum
    val quiet = w.filter(x => x.abs_sum * w.length < total).map(_.wi)
    assert(quiet == Seq(0, 1), s"got $quiet")
  }

  test("x23 nearest resize samples exactly the even-index pixels") {
    import graft.ext.{ImageFeatures, Multimodal => M}
    // payload [10, 200]: source pixel p = byte[p mod 2], so even pixel
    // indices are 10 and odd are 200. The 16→8 nearest map hits source
    // (2x, 2y) = index 32y+2x — always even — so the resized image is
    // all 10s; any off-by-one in the kernel would pull in a 200.
    val png = M.ImageCodec.encodePng(Array[Byte](10, (200 & 0xff).toByte))
    assert(M.ImageCodec.decodeAndResize(3L, png, 8) ==
      ImageFeatures(3L, 8, 8, 10.0))
  }

  test("multimodal decode is deterministic and schema-stable (x14)") {
    val df = Multimodal.queries("x14_multimodal_decode")(spark, SfDir)
    assert(df.columns.toSeq == Seq("doc_id", "width", "height", "mean_byte"))
    val first = df.collect().head
    val again = Multimodal.queries("x14_multimodal_decode")(spark, SfDir).collect().head
    assert(first == again)
    assert(first.getInt(1) == 16 && first.getInt(2) == 16)
  }

  test("redactPii scrubs every email and phone and counts them (x24)") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a@b.io and c.d+e@f-g.org or call +1-555-0100 now"),
      (2L, "no pii here at all"),
      (3L, "+1-222-3333 then +1-444-5555")).toDF("doc_id", "t")
    val out = TextAnalysis.redactPii(df, "t")
      .select("doc_id", "n_emails", "n_phones", "redacted")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((2, 1,
      "mail <EMAIL> and <EMAIL> or call <PHONE> now")))
    assert(out(2L) == ((0, 0, "no pii here at all")))
    assert(out(3L) == ((0, 2, "<PHONE> then <PHONE>")))
  }

  test("contaminationScreen flags exactly the docs sharing an n-gram with the bench set (x25)") {
    import spark.implicits._
    // bench doc 0 = "a b c d"; doc 10 copies its 3-gram "b c d"; doc 11
    // shares only shorter overlaps; doc 0 itself must NOT self-flag
    val corpus = Seq(
      (0L, "a b c d"),
      (10L, "x b c d y"),
      (11L, "b c x d c"),
      (12L, "p q r s")).toDF("doc_id", "text")
    val bench = corpus.filter(col("doc_id") === 0L)
    val out = Dedup.contaminationScreen(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(10L) == ((1L, true)), s"got $out")  // shares "b c d"
    assert(out(11L) == ((0L, false)))
    assert(out(12L) == ((0L, false)))
    assert(out(0L) == ((0L, false)), "benchmark doc self-flagged")
  }

  test("bloom-accelerated contamination screen equals the exact screen frame-for-frame (x32 ≡ x25)") {
    // x32 is x25's screen under its former bloom-variant name, so the
    // two registry names must agree on every row
    val exact = Dedup.queries("x25_contamination_screen")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val bloomed = Dedup.queries("x32_bloom_contamination")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(exact.nonEmpty)
    assert(bloomed.sameElements(exact))
  }

  test("bloom probe has no false negatives and an empty build side contains nothing") {
    import spark.implicits._
    val vals = (0 until 2000).map(i => s"item_$i")
    val df = vals.toDF("v")
    val bloom = BloomExpressions.build("ExtSpec", df, col("v"), expectedItems = 4096)
    // every built value MUST probe true (the exactness argument for
    // x33 and the wedge stream rests on this)
    val missed = df.filter(!BloomExpressions.mightContain(bloom, col("v"))).count()
    assert(missed == 0, s"$missed false negatives")
    // disjoint probes mostly miss (fpp-bounded, generous margin)
    val fp = (5000 until 7000).map(i => s"other_$i").toDF("v")
      .filter(BloomExpressions.mightContain(bloom, col("v"))).count()
    assert(fp < 200, s"false-positive rate implausibly high: $fp/2000")
    val empty = BloomExpressions.build("ExtSpec", df.filter(lit(false)), col("v"), 64)
    assert(df.filter(BloomExpressions.mightContain(empty, col("v"))).count() == 0)
  }

  test("incrementalDedup classifies corpus-dup, batch-dup and survivor; corpus probe is map-side") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Alpha Text "),  // normalizes onto corpus doc 1
      (11L, "gamma text"),   // new, first of an in-batch pair
      (12L, "gamma text"),   // in-batch dup of 11
      (13L, "delta text")    // clean survivor
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch)
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(got(10L) == ((true, false, false)), s"got $got")
    assert(got(11L) == ((false, false, true)))
    assert(got(12L) == ((false, true, false)))
    assert(got(13L) == ((false, false, true)))
    // the scale contract: the corpus side is pruned by a map-side
    // bloom probe, visible in the plan as might_contain. Asserted on
    // the parquet-backed registered query — over the in-memory frames
    // above, ConvertToLocalRelation legitimately evaluates the probe
    // at planning time and leaves only a LocalTableScan behind.
    val plan = Dedup.queries("x33_incremental_dedup")(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"corpus side is not bloom-pruned:\n$plan")
  }

  test("unigram logprob: scores bounded by the model, token counts exact (x34)") {
    val n = Lake.table(spark, SfDir, "documents")
      .select(explode(split(col("text"), " "))).count()
    val rows = TextAnalysis.queries("x34_unigram_logprob")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val toks = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, nTok, lp) =>
      assert(nTok == toks(id), s"doc $id token count $nTok vs ${toks(id)}")
      // every token prob is in [1/N, maxCtf/N] ⊂ (0, 1) → mean log in (ln(1/N), 0)
      assert(lp < 0 && lp > math.log(1.0 / n) - 1e-6,
        s"doc $id avg_logprob $lp outside model bounds (N=$n)")
    }
  }

  test("fingerprint windows count matches token count - k + 1 (x13)") {
    val fp = TextAnalysis.queries("x13_fingerprint")(spark, SfDir)
      .select("doc_id", "n_windows", "n_windows_total").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val toks = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    fp.foreach { case (id, (distinct, total)) =>
      if (toks(id) >= 5) {
        // raw windows = n - 4; distinct ≤ raw
        assert(total == toks(id) - 4, s"doc $id: total $total vs ${toks(id)} tokens")
        assert(distinct <= total && distinct > 0)
      } else assert(total == 1)
    }
  }

  test("hashFingerprint: deterministic, duplicate texts share min_fp, distinct count matches structural") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d e f g"),
      (1L, "a b c d e f g"),   // exact dup of 0
      (2L, "x y z w v u t"),
      (3L, "tiny")             // < k tokens: whole text is the window
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.hashFingerprint(df, "text", k = 5)
      .select("doc_id", "min_fp", "n_windows").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(fp(0L) == fp(1L), "identical texts must share the hashed fingerprint")
    assert(fp(0L)._1 != fp(2L)._1, "different texts should not collide")
    assert(fp(0L)._2 == 3 && fp(3L)._2 == 1)
    // deterministic across invocations (no per-session hash seed)
    val again = TextAnalysis.hashFingerprint(df, "text", k = 5)
      .select("doc_id", "min_fp", "n_windows").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(again == fp)
  }

  test("x41 real WAV codec: roundtrip features are exact for known bytes") {
    import graft.ext.{Multimodal => M}
    // "ab" → one sample (97-109)*256+98 = -2974
    val one = M.AudioCodec.decode(0L, M.AudioCodec.encodeWav("ab".getBytes("UTF-8")))
    assert(one == AudioFeatures(0L, 1, 2974L, 0, 2974.0), s"got $one")
    // "abzz" → samples -2974 then (122-109)*256+122 = 3450: one crossing
    val two = M.AudioCodec.decode(1L, M.AudioCodec.encodeWav("abzz".getBytes("UTF-8")))
    assert(two == AudioFeatures(1L, 2, 2974L + 3450L, 1, (2974.0 + 3450.0) / 2),
      s"got $two")
    // the WAV bytes are a real RIFF container, not raw PCM
    val wav = M.AudioCodec.encodeWav("abzz".getBytes("UTF-8"))
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE",
      "encode must produce a real WAV container")
  }

  test("x35 chunking covers every token: count rule, full-width middles, stride-width tail") {
    val toks = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = TextAnalysis.queries("x35_doc_chunk")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1)
    assert(chunks.keySet == toks.keySet, "every doc must produce chunks")
    chunks.foreach { case (id, cs) =>
      val n = toks(id)
      val expect = if (n <= 32) 1 else 1 + (n - 32 + 23) / 24
      assert(cs.length == expect, s"doc $id: ${cs.length} chunks for $n tokens")
      assert(cs.map(_._2).sorted.toSeq == (0L until expect).toSeq,
        s"doc $id: chunk ids not dense")
      cs.sortBy(_._2).zipWithIndex.foreach { case ((_, ci, w), idx) =>
        val expectW = math.min(32, n - ci.toInt * 24)
        assert(w == expectW, s"doc $id chunk $ci: width $w, expected $expectW")
        assert(idx == ci)
      }
    }
    // overlap sanity on one multi-chunk doc: chunk 1 re-reads tokens
    // 25..32 of chunk 0 (8-token overlap by construction)
    val multi = chunks.find(_._2.length >= 2).get._1
    val texts = TextAnalysis.queries("x35_doc_chunk")(spark, SfDir)
      .filter(col("doc_id") === multi).orderBy(col("chunk_id"))
      .select(col("chunk_text")).collect().map(_.getString(0).split(" ").toSeq)
    assert(texts(0).takeRight(8) == texts(1).take(8),
      s"chunks 0/1 of doc $multi must overlap by 8 tokens")
  }

  test("x36 decontamination = documents minus the exact screen's flagged set") {
    val d = Lake.table(spark, SfDir, "documents")
    val flagged = Dedup.contaminationScreen(
      d.select(col("doc_id"), col("text")),
      d.filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text")),
      n = 8)
      .filter(col("contaminated")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "testdata should contain planted contamination")
    val kept = Dedup.queries("x36_decontaminate")(spark, SfDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = d.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == all -- flagged,
      s"decontaminated set diverges: extra=${kept.intersect(flagged)}, " +
        s"missing=${(all -- flagged) -- kept}")
  }

  test("x37 training shuffle: positions are a permutation in hash order, shards are contiguous slices") {
    val rows = Sampling.queries("x37_training_shuffle")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (0L until n).toSeq,
      "positions must be a dense permutation")
    rows.foreach { case (_, shard, pos) =>
      assert(shard == pos / 100, s"shard must be pos DIV 100: $shard vs $pos")
    }
    // hash order: sorting by the Weyl hash must reproduce pos order
    val byHash = rows.sortBy { case (id, _, _) =>
      (id * Sampling.HashMul) % Sampling.HashMod
    }.map(_._3)
    assert(byHash.toSeq == (0L until n).toSeq,
      "pos must rank docs by the sampling hash")
  }

  test("x93 curriculum interleave: easy-first within source, every kS-prefix domain-balanced, positions injective") {
    val rows = Sampling.queries("x93_curriculum_interleave")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._4).distinct.length == rows.length, "pos must be injective")
    // within each source, rank order is ascending pos and ascending rank
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val byRank = rs.sortBy(_._3)
      assert(byRank.map(_._4).toSeq == byRank.map(_._4).sorted.toSeq,
        s"$src: curriculum pos must grow with rank")
      assert(byRank.map(_._3).toSeq == (1L to rs.length).toSeq,
        s"$src: ranks must be dense from 1")
    }
    // domain balance: while no source is exhausted, each kS-prefix of
    // the pos order holds exactly k docs per source
    val nSrc = rows.map(_._2).distinct.length
    val minSz = rows.groupBy(_._2).values.map(_.length).min
    val k = math.min(5, minSz)
    val prefix = rows.sortBy(_._4).take(k * nSrc)
    val perSrc = prefix.groupBy(_._2).values.map(_.length).toSet
    assert(perSrc == Set(k), s"kS-prefix must hold k=$k per source, got $perSrc")
  }

  test("p12 dq expectations: 11 checks, pass flag consistent, n_rows constant per table, referential checks green") {
    val rows = graft.pipeline.Views.queries("p12_dq_expectations")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.length == 11, s"expected 11 checks, got ${rows.length}")
    rows.foreach { case (t, c, v, n, p) =>
      assert(p == (v == 0L), s"$t/$c: passed flag must mirror violations")
      assert(v >= 0L && v <= n, s"$t/$c: violations within [0, n_rows]")
    }
    // every check against one table reports that table's row count
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(_._4).distinct.length == 1, s"$t: n_rows must be constant")
    }
    // provisioned data is referentially intact in both directions
    val refs = rows.filter(r => r._2 == "doc_has_embedding" || r._2 == "vec_has_document")
    assert(refs.length == 2 && refs.forall(_._5), "referential checks must pass")
  }

  test("x95 domain affinity: S-squared rows, similar sources closer than disjoint ones, disjoint pair maximally distant") {
    import spark.implicits._
    val corpus = Seq(
      ("a", "cat dog cat dog bird"),
      ("b", "dog cat bird cat dog"),      // same vocab profile as a
      ("c", "proton neutron quark boson") // disjoint vocabulary
    ).toDF("source", "text")
    val got = graft.ext.TextAnalysis.domainAffinity(corpus)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(got.size == 9, "expected the full S-squared matrix")
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite && v > 0))
    // a's stream is cheap under b's model, expensive under c's
    assert(got(("a", "b")) < got(("a", "c")),
      s"similar pair must beat disjoint: ${got(("a", "b"))} vs ${got(("a", "c"))}")
    // no shared vocab ⇒ the sum term vanishes: xent(a,c) = ln(Nc + V)
    val v = 7 // cat dog bird proton neutron quark boson
    assert(math.abs(got(("a", "c")) -
      BigDecimal(math.log(4 + v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      "disjoint pair must reduce to ln(Nb + V)")
  }

  test("x96 fertility: BPE fragmentation and byte costs computed from exact sums (handcrafted source)") {
    import spark.implicits._
    // "ab1 cd!" → 2 whitespace tokens; BPE-ish regex yields ab|1|cd|! = 4
    val corpus = Seq(("s1", "ab1 cd!"), ("s1", "xy zz"), ("s2", "plain words here"))
      .toDF("source", "text").withColumn("doc_id", monotonically_increasing_id())
    // route through the same aggregate the query runs (source+text only)
    val got = graft.ext.TextAnalysis.queries("x96_tokenizer_fertility")
    // direct expectation math on s1: chars 7+5=12, ws 2+2=4, bpe 4+2=6
    val rows = corpus.select(col("source"), length(col("text")).as("chars"),
        size(split(col("text"), " ")).as("ws"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("bpe"))
      .groupBy(col("source"))
      .agg(sum("chars").as("c"), sum("ws").as("w"), sum("bpe").as("b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("s1") == ((12L, 4L, 6L)), s"got ${rows("s1")}")
    assert(rows("s2") == ((16L, 3L, 3L)))
    // and the registered query over the real corpus: fertility ≥ 1
    // (the regex never merges across whitespace), ratios consistent
    val real = got(spark, SfDir).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getDouble(5) >= 1.0, s"${r.getString(0)}: fertility < 1")
      assert(r.getLong(4) >= r.getLong(3), "bpe_tokens must be >= ws_tokens")
    }
  }

  test("x97 containment: mid-document embedding found at 1.0 where jaccard and prefix dedup both miss") {
    import spark.implicits._
    val t = (1 to 20).map(i => s"w$i")
    val corpus = Seq(
      (1L, t.mkString(" ")),                 // the long doc
      (2L, t.slice(5, 15).mkString(" ")),    // tokens 6..15: MID-document copy
      (3L, "a1 a2 a3 a4 a5 a6 a7 a8 a9")     // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 2's 8 shingles are all among doc 1's 18 → containment 1.0;
    // jaccard = 8/18 ≈ 0.44 (under x05's 0.5) and doc 2 is not a
    // prefix (x74 blind) — exactly the case this operator exists for
    assert(got == Set((2L, 1L, 1.0)), s"got $got")
    // symmetric direction correctly absent: 1-in-2 coverage is 8/18
  }

  test("x98 PSI drift: per-type report with non-negative PSI, stable flag mirrors the 0.1 band, totals partition the table") {
    val rows = graft.pipeline.Views.queries("x98_psi_drift")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, nr, nc, psi, stable) =>
      assert(psi >= 0.0, s"$t: PSI is a divergence, must be >= 0")
      assert(stable == (psi < 0.1), s"$t: stable flag must mirror the band")
      assert(nr > 0 && nc > 0, s"$t: both windows must be populated")
    }
    val total = rows.map(r => r._2 + r._3).sum
    val events = graft.sources.Lake.table(spark, SfDir, "events").count()
    assert(total == events, "ref + cur must partition the event table")
  }

  test("x99 data recipe: capped languages take all they have, water-fill conserves the budget, both regimes present") {
    val rows = Sampling.queries("x99_data_recipe")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val s = rows.length
    val totalAvail = rows.map(_._2).sum
    val budget = totalAvail * 4 / 5
    rows.foreach { case (lang, avail, alloc, capped, fill) =>
      assert(alloc <= avail, s"$lang: cannot allocate more than exists")
      if (capped) {
        assert(alloc == avail && fill == 1.0, s"$lang: a capped language takes everything it has")
      } else assert(fill < 1.0, s"$lang: uncapped must have headroom left")
    }
    // exact-integer water-fill: the floor divisions drop < s tokens
    val allocated = rows.map(_._3).sum
    assert(allocated <= budget && budget - allocated < s.toLong * 2,
      s"budget conservation: $allocated of $budget")
    // the provisioned skew exercises both regimes
    assert(rows.exists(_._4) && rows.exists(!_._4), "need capped AND water-filled rows")
  }

  test("x101 heavy hitters: the guaranteed-regime token survives a tiny budget under every partitioning, with its exact count") {
    import spark.implicits._
    // one token above the N/m guarantee line ('hot': 60 > 145/4),
    // drowned in a distinct-token tail that fires decrement-all
    // constantly — the adversarial case the pigeonhole argument is
    // for. Tokens BELOW the line carry no survival promise, so the
    // pinned contract is exactly k = 1.
    val words = Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++
      (1 to 60).map(i => s"tail$i")
    for (parts <- Seq(1, 3, 8)) {
      val corpus = words.toDF("text").repartition(parts)
      val got = TextAnalysis.heavyHitters(corpus, m = 4, k = 1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // pass 2 is exact: the winner carries its TRUE count, not the
      // decremented sketch residue
      assert(got == Seq(("hot", 60L)), s"parts=$parts: got $got")
    }
  }

  test("x102 MMR rerank: picks reproduce an independent in-process greedy over the same integer scores") {
    val got = Similarity.queries("x102_mmr_rerank")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    assert(got.map(_._2).distinct.length == 3, "picks must be distinct")
    // independent reference: quantize + greedy MMR in plain Scala
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val mn = vecs.values.flatten.min; val mx = vecs.values.flatten.max
    def quant(v: Array[Double]): Array[Long] =
      v.map(x => math.round((x - mn) / (mx - mn) * 255))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val q = quant(vecs(0L))
    val rel = vecs.view.filterKeys(_ > 0)
      .map { case (id, v) => id -> dot(quant(v), q) }.toMap
    val cands = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(6)
    var picked = List.empty[Long]
    (1 to 3).foreach { _ =>
      val best = cands.filterNot(c => picked.contains(c._1))
        .map { case (id, r) =>
          val pen = if (picked.isEmpty) 0L
            else picked.map(p => dot(quant(vecs(id)), quant(vecs(p)))).max
          (id, r - pen)
        }.minBy { case (id, m) => (-m, id) }
      picked = picked :+ best._1
    }
    assert(got.map(_._2).toSeq == picked,
      s"greedy picks diverge: ${got.map(_._2).toSeq} vs $picked")
  }

  test("x103 medoid election: path cluster elects the middle (not min-id), ties fall to min-id, singletons invisible") {
    import spark.implicits._
    // path A(1)—B(2)—C(3): B touches both edges → weight 12 beats
    // A/C's single edges → the medoid is 2, NOT the min-id survivor
    // x18 would keep; plus a tied pair (10, 11) → min-id 10 wins; and
    // an isolated doc 99 that must not appear
    val wp = Seq((1L, 2L, 7L), (2L, 3L, 5L), (10L, 11L, 4L))
      .toDF("doc_a", "doc_b", "c")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (99L, 99L))
      .toDF("doc_id", "component")
    val got = Dedup.medoidsFromParts(wp, comps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 3L, 12L), (10L, 10L, 2L, 4L)), s"got $got")
    // the registered query agrees with its own oracle arithmetic on
    // the real corpus (hash-gated); here pin the output contract
    val real = Dedup.queries("x103_cluster_medoid")(spark, SfDir).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getLong(2) >= 2L, "only real clusters")
      assert(r.getLong(3) > 0L, "a medoid in a real cluster shares content")
    }
  }

  test("x104 triplets: positive is a thresholded near-dup, negative escapes the cluster, all three distinct") {
    val trip = Dedup.queries("x104_contrastive_triplets")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(trip.nonEmpty)
    val pairs = Dedup.queries("x05_dedup_ngram_jaccard")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val label = Dedup.queries("x18_dedup_components")(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    trip.foreach { case (a, p, n, cos) =>
      assert(a != p && a != n && p != n, s"triplet ($a,$p,$n) must be distinct")
      assert(pairs.contains((a, p)), s"positive ($a,$p) must be a near-dup pair")
      (label.get(a), label.get(n)) match {
        case (Some(la), Some(ln)) =>
          assert(la != ln, s"negative $n must escape $a's cluster ($la)")
        case _ => // a candidate outside the component table has no cluster to escape
      }
      assert(cos <= 1.0 && cos >= -1.0)
    }
  }

  test("c72 corrupt records: every injected line counted, no valid line dropped, totals partition the corpus") {
    val r = graft.queries.Surface.queries("c72_corrupt_records")(spark, SfDir)
      .collect()(0)
    val (nValid, nCorrupt) = (r.getLong(0), r.getLong(1))
    val docs = Lake.table(spark, SfDir, "documents")
    val total = docs.count()
    val expectedCorrupt = docs.filter(col("doc_id") % 50 === 0).count()
    assert(nCorrupt == expectedCorrupt, "silent drop or miscount of corrupt lines")
    assert(nValid + nCorrupt == total, "valid + corrupt must partition the dump")
  }

  test("x105 matryoshka eval: full grid with no silent holes, full-dim recall exactly 1, truncation visibly costs recall") {
    val rows = Similarity.queries("x105_matryoshka_eval")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // 3 queries × 3 dims — zero-overlap cells must be present as 0.0
    assert(rows.length == 9, s"expected the full 3×3 grid, got ${rows.length}")
    rows.foreach { case (q, d, rec) =>
      assert(rec >= 0.0 && rec <= 1.0, s"q$q d$d: recall out of range")
      if (d == 64) assert(rec == 1.0, s"q$q: full-dim ranking must recall itself")
    }
    // the report's whole point: some truncated decade loses recall
    assert(rows.exists { case (_, d, rec) => d < 64 && rec < 1.0 },
      "truncation shows no cost — eval is vacuous on this corpus")
  }

  test("x106 histogram quantiles: monotone per day, each estimate within one bucket of the exact percentile") {
    val rows = Sampling.queries("x106_hist_quantiles")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val byDay = rows.groupBy(_._1)
    byDay.values.foreach { qs =>
      val m = qs.map(q => q._2 -> q._3).toMap
      assert(m(0.5) <= m(0.9) && m(0.9) <= m(0.99), s"quantiles must be monotone: $m")
    }
    // bounded-error contract: the interpolated value sits within the
    // bucket (width 25) that holds the true rank statistic
    val exact = Lake.table(spark, SfDir, "events")
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"), col("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).sorted }
    byDay.foreach { case (day, qs) =>
      val sorted = exact(day)
      qs.foreach { case (_, q, est) =>
        val trueV = sorted(math.min(sorted.length - 1,
          math.ceil(q * sorted.length).toInt - 1).max(0))
        assert(math.abs(est - trueV) <= 25.0 + 1e-9,
          s"$day q$q: est $est vs exact $trueV drifts past one bucket")
      }
    }
  }

  test("x107 leakage-free split: no near-dup cluster straddles a boundary, covers every doc, ratios near 98/1/1") {
    val rows = Dedup.queries("x107_leakage_free_split")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val total = Lake.table(spark, SfDir, "documents").count()
    assert(rows.length == total, "every document must receive a split")
    // the guarantee: one split per split_key — clusters never straddle
    rows.groupBy(_._2).foreach { case (key, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $key straddles splits: ${members.map(_._3).distinct.mkString(",")}")
    }
    // multi-member clusters actually exercised (else the guarantee is vacuous)
    assert(rows.groupBy(_._2).values.exists(_.size >= 2), "need a real cluster")
    val frac = rows.count(_._3 == "train").toDouble / rows.length
    assert(frac > 0.9 && frac < 1.0, s"train fraction $frac out of band")
  }

  test("x108 dedup savings ladder: monotone levels, raw saves zero, cluster level matches the x18 survivor set") {
    val rows = Dedup.queries("x108_dedup_savings")(spark, SfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("1_raw", "2_exact", "3_near_dup"))
    val (rd, rt, rs) = rows("1_raw")
    val (ed, et, _) = rows("2_exact")
    val (nd, nt, ns) = rows("3_near_dup")
    assert(rs == 0.0, "raw saves nothing by definition")
    assert(ed <= rd && et <= rt, "exact dedup cannot grow the corpus")
    assert(nd <= ed && nt <= et, "the ladder is cumulative")
    assert(ns > 0.0, "near-dup level must save on this corpus")
    // level 3 ≡ x18's survivor set extended to unpaired docs (which
    // are their own survivors): total − paired + paired_survivors
    val comp = Dedup.queries("x18_dedup_components")(spark, SfDir).collect()
    val expected = rd - comp.length + comp.count(_.getBoolean(2))
    assert(nd == expected, s"cluster level $nd vs expected $expected")
  }

  test("x109 threshold curve: monotone non-increasing, and a planted mid-band pair separates the buckets") {
    val rows = Dedup.queries("x109_threshold_curve")(spark, SfDir)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(0.5, 0.7, 0.9))
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq,
      "pair counts must fall as the threshold rises")
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.reverse.toSeq,
      "affected docs must fall as the threshold rises")
    // planted geometry: a pair at jaccard 7/13 ≈ 0.5385 is counted at
    // 0.5 but not at 0.7 — the bucketing genuinely separates bands
    import spark.implicits._
    val w = (1 to 12).map(i => s"w$i")
    val corpus = Seq(
      (1L, w.mkString(" ")),
      (2L, (w.take(9) ++ Seq("z1", "z2", "z3")).mkString(" "))
    ).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(corpus, threshold = 0.5)
      .collect().map(_.getDouble(2))
    assert(jac.length == 1 && jac(0) == 0.5385, s"got ${jac.toSeq}")
    assert(Dedup.ngramJaccardPairs(corpus, threshold = 0.7).count() == 0L)
  }

  test("x111 phrase search: overlapping occurrences counted, near-misses invisible, oracle parity on the corpus (x111)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b a b a c"),      // "a b a" at positions 1 AND 3 (overlap)
      (2L, "x a b a y"),        // one occurrence mid-doc
      (3L, "a b c a b"),        // near-miss: no "a b a"
      (4L, "b a a b")           // terms present, order wrong
    ).toDF("doc_id", "text")
    val phrase = broadcast(Seq(Tuple1(Seq("a", "b", "a"))).toDF("q"))
    val got = TextAnalysis.phraseOccurrences(corpus, phrase)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L), s"got $got")
    // and the registered query agrees with the sliding-window oracle
    // (hash-gated); non-vacuity: the phrase exists in the corpus
    val real = TextAnalysis.queries("x111_phrase_search")(spark, SfDir).collect()
    assert(real.nonEmpty && real.forall(_.getLong(1) >= 1L))
  }

  test("x112 power iteration: a planted dominant axis takes loading 1000, orthogonal noise decays, rayleigh brackets the eigenvalue") {
    import spark.implicits._
    // rank-1-ish cloud along dim 1 of 4: every vector ≈ t·e1 with a
    // small dim-3 perturbation — the dominant eigenvector is e1
    val q = Seq(
      (1L, Seq(200L, 2L, 0L, 0L)),
      (2L, Seq(150L, 0L, 3L, 0L)),
      (3L, Seq(250L, 1L, 1L, 0L)),
      (4L, Seq(180L, 0L, 2L, 0L))
    ).toDF("vec_id", "qv")
    val rows = Similarity.principalDirection(q, nRows = 4L, dims = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val byDim = rows.map(r => r._1 -> r._2).toMap
    assert(byDim(0) == 1000L, s"dominant axis must carry full loading: $byDim")
    assert(byDim(1) < 100L && byDim(2) < 100L && byDim(3) < 100L,
      s"noise axes must decay: $byDim")
    // Rayleigh ≈ mean squared projection onto e1 = Σt²/4 in Ḡ units:
    // Ḡ₀₀ = (200²+150²+250²+180²) DIV 4 = 39 306 — the quotient must
    // land within the Ḡ₀₀ ± small-perturbation band
    val ray = rows.head._3
    assert(ray > 39000 && ray < 40000, s"rayleigh $ray outside the planted band")
  }

  test("x113 k-anonymity: histogram partitions the corpus, risk flag mirrors the k=5 bar, risky mass present") {
    val rows = TextAnalysis.queries("x113_k_anonymity")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (size, nClasses, nDocs, risky) =>
      assert(nDocs == size * nClasses, "histogram identity: docs = size × classes")
      assert(risky == (size < 5), "risk flag must mirror the k bar")
    }
    val total = Lake.table(spark, SfDir, "documents").count()
    assert(rows.map(_._3).sum == total, "histogram must partition the corpus")
    // the audit is non-vacuous on this corpus: risky classes exist
    assert(rows.exists(_._4), "no risky classes — audit vacuous")
  }

  test("x114 l-diversity: partitions the corpus, flags mirror the bars, and the homogeneity-attack case is visible") {
    val rows = TextAnalysis.queries("x114_l_diversity")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (l, _, _, _, lSafe) =>
      assert(lSafe == (l >= 2), "l_safe must mirror the l >= 2 bar")
    }
    val total = Lake.table(spark, SfDir, "documents").count()
    assert(rows.map(_._4).sum == total, "histogram must partition the corpus")
    // the reason this audit exists beside x113: classes that pass the
    // k bar but fail the l bar (every member shares the sensitive
    // value) — assert homogeneous classes exist at all, so the l
    // dimension is non-vacuous on this corpus
    assert(rows.exists(_._1 == 1L), "no homogeneous classes — l audit vacuous")
  }

  test("x115 CDC chunks: a prepended token leaves downstream chunks intact where fixed windows shift everything") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tk$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, "inserted " + base)).toDF("doc_id", "text")
    val chunks = TextAnalysis.cdcChunkTable(corpus)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val a = chunks.filter(_._1 == 1L).map(_._2).toSet
    val b = chunks.filter(_._1 == 2L).map(_._2).toSet
    // content-defined boundaries attach to tokens: at most the FIRST
    // chunk of doc 1 can differ (it absorbs the insertion); every
    // later chunk key must reappear verbatim in doc 2
    assert(a.size >= 3, s"need a multi-chunk doc, got ${a.size}")
    assert((a -- b).size <= 1,
      s"insertion broke ${(a -- b).size} of ${a.size} chunks — boundaries not content-defined")
    // contrast: x35-style fixed 8-token windows share NOTHING after a
    // 1-token shift (sanity-check the premise, not the operator)
    val fixedA = base.split(" ").grouped(8).map(_.mkString(" ")).toSet
    val fixedB = ("inserted " + base).split(" ").grouped(8).map(_.mkString(" ")).toSet
    assert((fixedA -- fixedB).size >= fixedA.size - 1,
      "premise broken: fixed windows unexpectedly survived the shift")
  }

  test("x116 CDC savings: token mass conserved, distinct never exceeds instances, chunk-grain dedup non-vacuous") {
    val r = TextAnalysis.queries("x116_cdc_savings")(spark, SfDir).collect()(0)
    val (inst, dist, tt, td, pct) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(dist <= inst && td <= tt, "a content-addressed store cannot grow data")
    assert(pct >= 0.0 && pct < 100.0)
    // the chunk token mass is exactly the corpus token mass — CDC
    // partitions every document, drops nothing
    val corpusTokens = Lake.table(spark, SfDir, "documents")
      .select(size(split(col("text"), " "))).collect().map(_.getInt(0).toLong).sum
    assert(tt == corpusTokens, s"chunking lost tokens: $tt vs $corpusTokens")
    assert(pct > 0.0, "no cross-chunk duplication found — savings vacuous")
  }

  test("x117 generalization ladder: risky mass provably non-increasing down nested widths, consistent with x113 at the base rung") {
    val rows = TextAnalysis.queries("x117_anonymity_ladder")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(50, 100, 200))
    // nested multiples ⇒ coarser classes are unions ⇒ monotone
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.reverse.toSeq,
      s"risky docs must not increase under coarsening: ${rows.toSeq}")
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq,
      "class count must not increase under coarsening")
    // the base rung agrees with x113's histogram
    val x113risky = TextAnalysis.queries("x113_k_anonymity")(spark, SfDir)
      .collect().filter(_.getBoolean(3)).map(_.getLong(2)).sum
    assert(rows.head._3 == x113risky,
      s"base rung ${rows.head._3} vs x113 risky mass $x113risky")
  }

  test("c73 funnel: out-of-order events never advance a stage, drop-offs stop where they stop") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // u1: clean signup → click → purchase
      (1L, "signup", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // u2: purchase BEFORE the click — stage 3 must not count
      (2L, "signup", ts(1)), (2L, "purchase", ts(2)), (2L, "click", ts(3)),
      // u3: click BEFORE signup only — stage 2 must not count
      (3L, "click", ts(1)), (3L, "signup", ts(2)),
      // u4: never signs up — invisible to every stage
      (4L, "click", ts(1)), (4L, "purchase", ts(2))
    ).toDF("user_id", "event_type", "ts")
    val (s1, s2, s3) = graft.queries.Surface.funnelStages(ev)
    assert(s1.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(s2.collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "u3's pre-signup click must not advance the funnel")
    assert(s3.collect().map(_.getLong(0)).toSet == Set(1L),
      "u2's pre-click purchase must not complete the funnel")
  }

  test("c74 retention: offset zero is definitionally 100%, cells never exceed the cohort, churn is visible") {
    val rows = graft.queries.Surface.queries("c74_retention")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (c, off, n, size, pct) =>
      assert(off >= 0, "activity cannot precede the cohort week")
      assert(n <= size, s"cohort $c offset $off: active exceeds cohort")
      if (off == 0) assert(pct == 100.0,
        s"cohort $c: members are active in their own first week by definition")
    }
    // cohort sizes partition the user population
    val users = Lake.table(spark, SfDir, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    val sizes = rows.filter(_._2 == 0).map(r => r._1 -> r._4).distinct.map(_._2).sum
    assert(sizes == users, s"cohorts must partition the population: $sizes vs $users")
    // planted churn (the dense provisioned corpus retains everyone):
    // cohort week 0 = {u1 full, u2 churns after w0, u3 skips w1 and
    // returns w2}; cohort week 1 = {u4}
    import spark.implicits._
    val planted = Seq(
      (1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 0L),
      (3L, 0L), (3L, 2L),
      (4L, 1L)
    ).toDF("user_id", "wk")
    val tri = graft.queries.Surface.retentionTriangle(planted)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(4)))).toMap
    assert(tri((0L, 0L)) == ((3L, 100.0)))
    assert(tri((0L, 1L)) == ((1L, 33.3333)), "only u1 is active in week 1")
    assert(tri((0L, 2L)) == ((2L, 66.6667)), "u3's return must count (retention, not contiguous streaks)")
    assert(tri((1L, 0L)) == ((1L, 100.0)))
    assert(!tri.contains((0L, 3L)), "empty cells are absent, not zero-filled")
  }

  test("x118 boilerplate chunks: one winner per source, threshold respected, winner's count verifies against a recount") {
    val rows = TextAnalysis.queries("x118_boilerplate_chunks")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "one winner per source")
    rows.foreach { case (_, _, n) => assert(n >= 2, "a unique chunk is not a template") }
    // independent recount of one winner through the shared chunker
    val (src, ck, n) = rows.head
    val d = Lake.table(spark, SfDir, "documents")
    val recount = TextAnalysis.cdcChunkTable(d.select(col("doc_id"), col("text")))
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .filter(col("source") === src && col("ck") === ck)
      .select(col("doc_id")).distinct().count()
    assert(recount == n, s"winner count $n vs recount $recount")
  }

  test("c75 stickiness: DAU never exceeds WAU, ratio in (0, 1], trailing window genuinely trails") {
    val rows = graft.queries.Surface.queries("c75_stickiness")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (day, dau, wau, s) =>
      assert(dau <= wau, s"day $day: a daily active is by definition a weekly active")
      assert(s > 0.0 && s <= 1.0, s"day $day: stickiness $s out of (0, 1]")
    }
    // the window trails: once 7 days exist, WAU must exceed some
    // single day's DAU somewhere (users rotate), else the trailing
    // distinct silently degenerated to the daily count
    assert(rows.exists { case (day, dau, wau, _) => day >= 6 && wau > dau },
      "trailing WAU never exceeded DAU — window not trailing")
  }

  test("c76 user features: internal consistency of every feature column on the real corpus") {
    val rows = graft.queries.Surface.queries("c76_user_features")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, nEv, aDays, first, last, idle, last7) =>
      assert(aDays <= nEv, s"u$u: active days cannot exceed events")
      assert(first <= last, s"u$u: first day after last day")
      assert(idle == 24 - last, s"u$u: idle must anchor to the horizon")
      assert(last7 <= nEv, s"u$u: recent events cannot exceed lifetime")
      assert(aDays >= 1 && aDays <= (last - first + 1),
        s"u$u: active days outside the lifetime span")
      if (last >= 18) assert(last7 >= 1, s"u$u: active after day 18 implies recent events")
    }
  }

  test("c77 power users: 15 ranked rows, counts non-increasing, cumulative share monotone and consistent") {
    val rows = graft.queries.Surface.queries("c77_power_users")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 15)
    assert(rows.map(_._1).toSeq == (1 to 15).toSeq, "ranks must be dense from 1")
    val counts = rows.map(_._3)
    assert(counts.toSeq == counts.sorted.reverse.toSeq, "top slice must be ordered")
    val cums = rows.map(_._5)
    assert(cums.toSeq == cums.sorted.toSeq, "cumulative share must be monotone")
    // cumulative at rank 15 ≈ sum of the individual shares (both are
    // rounded from slightly different exact values — one bucket of
    // 4 dp slack per term)
    assert(math.abs(cums.last - rows.map(_._4).sum) < 0.01,
      "cumulative diverges from the share sum")
    assert(cums.last <= 100.0)
  }

  test("x38 ensemble: n_gates sums the booleans, verdict maps tiers, every gate is non-vacuous") {
    val rows = TextAnalysis.queries("x38_quality_ensemble")(spark, SfDir)
      .collect().map(r => (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getInt(4), r.getString(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (gs, gr, gl, n, v) =>
      val expect = Seq(gs, gr, gl).count(identity)
      assert(n == expect, s"n_gates $n vs booleans ($gs,$gr,$gl)")
      val tier = if (n == 3) "keep" else if (n == 2) "review" else "drop"
      assert(v == tier, s"verdict $v for $n gates")
    }
    // the LM gate must actually split the corpus (threshold chosen off
    // the distribution, not vacuously true/false)
    assert(rows.exists(_._3) && rows.exists(!_._3),
      "gate_logprob should be non-vacuous on the test corpus")
  }

  test("x43 source overlap: distinct shared passages per pair, within-source dups collapse") {
    import spark.implicits._
    val p1 = (1 to 8).map(i => s"w$i").mkString(" ")
    val p2 = (1 to 8).map(i => s"v$i").mkString(" ")
    val corpus = Seq(
      (0L, p1),              // source A
      (1L, p1),              // source A again — DISTINCT must collapse
      (2L, p1 + " " + p2),   // source B shares p1, owns p2
      (3L, "u1 u2 u3")       // source C, unrelated short passage
    ).toDF("doc_id", "text")
    val sources = Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "C"))
      .toDF("doc_id", "source")
    val got = Dedup.sourceOverlap(Dedup.passageTable(corpus), sources)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    // A={p1}, B={p1,p2}, C={u1 u2 u3}: only (A,B) overlap, jaccard 1/2
    assert(got.toSeq == Seq(("A", "B", 1L, 0.5)), s"got ${got.toSeq}")
  }

  test("x44 vocab growth: monotone curve whose totals equal the corpus type/token counts") {
    val rows = TextAnalysis.queries("x44_vocab_growth")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // running sums are monotone and internally consistent
    rows.sliding(2).foreach {
      case Array((_, _, _, v1, c1), (_, _, _, v2, c2)) =>
        assert(v2 >= v1 && c2 > c1, s"non-monotone curve: $v1->$v2, $c1->$c2")
      case _ =>
    }
    assert(rows.last._4 == rows.map(_._3).sum, "vocab_size must sum new_types")
    assert(rows.last._5 == rows.map(_._2).sum, "cum_tokens must sum n_tokens")
    // the curve's endpoints equal the corpus-wide truths
    val corpus = Lake.table(spark, SfDir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
    val (types, toks) = (corpus.distinct().count(), corpus.count())
    assert(rows.last._4 == types, s"final vocab ${rows.last._4} != $types")
    assert(rows.last._5 == toks, s"final tokens ${rows.last._5} != $toks")
  }

  test("x46 bigram LM: multiplicity-exact bigram counts, negative smoothed scores, dup texts tie") {
    val scores = TextAnalysis.queries("x46_bigram_logprob")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(scores.nonEmpty)
    // n_bigrams carries multiplicity: exactly tokens - 1 per doc
    val toks = TextAnalysis.queries("x12_token_count")(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    scores.foreach { case (id, nbg, lp) =>
      assert(nbg == toks(id) - 1, s"doc $id: $nbg bigrams vs ${toks(id)} tokens")
      // smoothed conditional probs are < 1 (V >= 2), so means are < 0
      assert(lp < 0.0, s"doc $id score $lp not negative")
    }
    // exact-duplicate texts must score identically (same transitions);
    // sf0.001 may not contain a dup group, so check only when one exists
    Lake.table(spark, SfDir, "documents")
      .groupBy(lower(trim(col("text")))).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2).select(col("ids"))
      .limit(1).collect().headOption.map(_.getSeq[Long](0)).foreach { dupPair =>
        val byId = scores.map(s => s._1 -> s._3).toMap
        // same multiset of terms; partial-sum order may differ per
        // group, so allow one rounding step around the 4 dp grid
        assert(math.abs(byId(dupPair.head) - byId(dupPair(1))) <= 1.0001e-4,
          s"duplicate docs ${dupPair.take(2)} scored differently")
      }
  }

  test("x48 hot keys: ratios against the exact mean, descending deterministic top slice") {
    val rows = Sampling.queries("x48_hot_keys")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq,
      "top keys must be in descending count order")
    val counts = Lake.table(spark, SfDir, "orders")
      .groupBy(col("o_custkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val mean = counts.map(_._2).sum.toDouble / counts.length
    assert(rows.head._2 == counts.map(_._2).max, "head must be the hottest key")
    rows.foreach { case (_, n, ratio) =>
      // HALF_UP mirrors Spark's round()
      val expect = BigDecimal(n / mean)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(ratio - expect) < 1e-9,
        s"ratio $ratio for count $n vs mean $mean")
    }
  }

  test("x49 centroid separation: k-choose-2 pairs, positive distances, matches a direct recompute") {
    val cent = Similarity.queries("x39_embed_centroids")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val k = cent.keys.map(_._1).toSet.size
    val dists = Similarity.queries("x49_centroid_separation")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(dists.size == k * (k - 1) / 2, s"${dists.size} pairs for $k labels")
    dists.foreach { case ((a, b), d) =>
      assert(a < b && d > 0.0, s"pair ($a,$b) dist $d")
      // toSeq: a Set would collapse equal squared terms before the sum
      val dims = cent.keys.filter(_._1 == a).map(_._2).toSeq
      val direct = math.sqrt(dims.map(i =>
        math.pow(cent((a, i)) - cent((b, i)), 2)).sum)
      assert(math.abs(d - direct) < 1e-3,
        s"($a,$b): $d vs direct $direct")
    }
  }

  test("p07 observed metrics equal the plain aggregates over the same relation") {
    val m = graft.pipeline.Views.queries("p07_observe_metrics")(spark, SfDir)
      .collect()(0)
    val direct = Lake.table(spark, SfDir, "events").agg(
      count(lit(1)), sum(col("value")),
      count(when(col("value") > 90, 1)),
      count(when(col("user_id").isNull, 1))).collect()(0)
    assert(m.getLong(0) == direct.getLong(0))
    assert(math.abs(m.getDouble(1) - direct.getDouble(1)) < 1e-3)
    assert(m.getLong(2) == direct.getLong(2) && m.getLong(3) == direct.getLong(3))
    // guard-rail counters must be non-vacuous on the corpus
    assert(m.getLong(2) > 0, "n_high should fire on the test corpus")
  }

  test("x50 novelty: doc 0 is all-novel, novel counts sum to the distinct shingle count") {
    val rows = TextAnalysis.queries("x50_novelty")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // the first document by id can only contain first-seen shingles
    val first = rows.minBy(_._1)
    assert(first._2 == first._3 && first._4 == 1.0,
      s"doc ${first._1}: ${first._3}/${first._2} novel")
    rows.foreach { case (id, n, novel, rate) =>
      assert(novel >= 0 && novel <= n && rate >= 0.0 && rate <= 1.0, s"doc $id")
    }
    // every distinct shingle is novel in exactly one document
    val distinctShingles = Lake.table(spark, SfDir, "documents")
      .withColumn("_toks", split(col("text"), " "))
      .filter(size(col("_toks")) >= 3)
      .select(explode(array_distinct(expr(
        "transform(sequence(1, size(_toks) - 2), " +
          "i -> concat_ws(' ', element_at(_toks, i), " +
          "element_at(_toks, i + 1), element_at(_toks, i + 2)))")))
        .as("s")).select(col("s")).distinct().count()
    assert(rows.map(_._3).sum == distinctShingles,
      s"novel sum ${rows.map(_._3).sum} != $distinctShingles distinct shingles")
  }

  test("x51 quality tiles: quartiles partition the corpus into ordered, roughly equal bins") {
    val rows = TextAnalysis.queries("x51_quality_tiles")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(rows.nonEmpty)
    val byTile = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byTile.keySet.subsetOf(Set(1, 2, 3, 4)), s"tiles ${byTile.keySet}")
    assert(byTile.keySet == Set(1, 2, 3, 4), s"empty quartile: $byTile")
    // interpolated-quantile boundaries put ~25% in each bin (ties can
    // shift a few docs); enforce a loose band, not exact counts
    val n = rows.length
    byTile.values.foreach(c =>
      assert(c > n / 10 && c < n / 2, s"degenerate quartile sizes $byTile"))
    // tiles must be monotone in the score: max(ratio in tile t) <=
    // min(ratio in tile t+1) up to the shared boundary
    val maxByTile = rows.groupBy(_._3).view.mapValues(_.map(_._2).max).toMap
    val minByTile = rows.groupBy(_._3).view.mapValues(_.map(_._2).min).toMap
    for (t <- 1 to 3)
      assert(maxByTile(t) <= minByTile(t + 1) + 1e-9,
        s"tile $t max ${maxByTile(t)} exceeds tile ${t + 1} min ${minByTile(t + 1)}")
  }

  test("x52 vocab coverage: monotone in K, bounded by 1, exact for a K covering the whole vocab") {
    val rows = TextAnalysis.queries("x52_vocab_coverage")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(10, 100, 1000))
    // coverage grows with K and never exceeds 1
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    rows.foreach { case (k, cov, rate) =>
      assert(cov > 0 && rate > 0.0 && rate <= 1.0, s"K=$k covered=$cov rate=$rate")
    }
    // when K >= the whole vocabulary, coverage is exactly total
    val corpus = Lake.table(spark, SfDir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
    val (types, toks) = (corpus.distinct().count(), corpus.count())
    if (types <= 1000)
      assert(rows.last._2 == toks, s"K=1000 covers $types types but ${rows.last._2} != $toks")
  }

  test("x53 train split: deterministic partition of the corpus into ~98/1/1") {
    val rows = Sampling.queries("x53_train_split")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val n = rows.length
    assert(n > 0)
    val bySplit = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")), s"$bySplit")
    // every doc assigned exactly once (rows are per-doc) and the train
    // share is near 98% (hash uniformity at small n leaves slack)
    assert(rows.map(_._1).distinct.length == n)
    val trainShare = bySplit.getOrElse("train", 0).toDouble / n
    assert(trainShare > 0.93 && trainShare < 1.0, s"train share $trainShare")
    // re-running yields the identical assignment (the decontamination
    // property: eval membership never drifts across runs)
    val again = Sampling.queries("x53_train_split")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("x45 SNM near-dup: planted near-identical pair recalled, candidate volume window-bounded") {
    import spark.implicits._
    // label 0: v0 ≈ v1 (cos ≈ 1, adjacent first components), v2 opposed
    // (cos < 0); label 1: the same direction as v0 — MUST NOT pair
    // across labels
    val vecs = Seq(
      (0L, Array(1.0f, 0.1f, 0f, 0f), 0),
      (1L, Array(0.999f, 0.1001f, 0f, 0f), 0),
      (2L, Array(-1.0f, 0.5f, 0f, 0f), 0),
      (3L, Array(1.0f, 0.1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.snmNeardup(vecs, window = 10, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
      s"expected exactly the planted pair, got ${got.toSeq}")
    assert(got.head._3 > 0.999, s"planted pair cos ${got.head._3}")
    // corpus run: candidate volume is n*window by construction, so the
    // verified output can never exceed it (the SNM scale contract)
    val e = Lake.table(spark, SfDir, "embeddings")
    val n = e.count()
    val pairs = Similarity.snmNeardup(e, window = 10, threshold = 0.2).count()
    assert(pairs <= n * 10, s"$pairs pairs exceeds n*window = ${n * 10}")
  }

  test("x57 minhash banding+verify on synthetic sigs: candidates = mod-10 classes, est-jaccard exact") {
    val rows = Dedup.queries("x57_minhash_verify_exact")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = Lake.table(spark, SfDir, "documents")
      .filter(col("doc_id") < 300).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    // band 0 collides ⇔ ≡ mod 10; threshold 0.6 then keeps exactly the
    // pairs also agreeing mod 3 (est 0.75); everything else est 0.5
    val expected = (for {
      a <- ids; b <- ids
      if a < b && a % 10 == b % 10 && a % 3 == b % 3
    } yield (a, b)).toSet
    assert(rows.nonEmpty, "survivor set must be non-empty at every provisioned sf")
    assert(rows.map(p => (p._1, p._2)).toSet == expected,
      s"survivors ${rows.length} vs expected ${expected.size}")
    assert(rows.forall(_._3 == 0.75),
      "every survivor agrees on exactly 6 of 8 signature positions")
  }

  test("ANN recall@10 reports: per-query bounds hold and counts are stable across invocations") {
    for (q <- Seq("x54_ann_lsh_recall", "x55_ann_ivf_recall", "x56_ann_pq_recall")) {
      def run() = Similarity.queries(q)(spark, SfDir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val a = run()
      assert(a.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L), s"$q query ids: ${a.toSeq}")
      a.foreach { case (qid, k, n, rec) =>
        assert(k == 10, s"$q $qid k=$k")
        assert(n >= 0 && n <= 10, s"$q $qid n_recalled=$n out of [0,10]")
        assert(math.abs(rec - n / 10.0) < 1e-9, s"$q $qid recall $rec vs n_recalled $n")
      }
      // seeded hyperplanes/k-means + materialized index ⇒ the driver's
      // rows-only row is a STABLE regression gate, not noise
      assert(a.toSeq == run().toSeq, s"$q not deterministic across invocations")
    }
  }

  test("x58 semantic dedup: witness-independent drop rule, cluster-bounded compares") {
    import spark.implicits._
    // label 0: a=(1,0) keeps; b at 45° to a (cos .7071 ≥ .7) drops with
    // witness a; c orthogonal to a but at 45° to b — c must STILL drop:
    // the rule quantifies over lower-id members, not survivors (no
    // greedy sequential state, the property that makes the survivor
    // set engine-reproducible). label 1: d identical to a but in
    // another cluster — never compared, keeps.
    val e = Seq(
      (1L, 0, Array(1f, 0f)),
      (2L, 0, Array(0.7071f, 0.7071f)),
      (3L, 0, Array(0f, 1f)),
      (4L, 1, Array(1f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val kept = Similarity.semanticDedup(e, "label", threshold = 0.7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), s"kept $kept")
  }

  test("x59 temperature mix sits between x28's flat mix and the natural distribution") {
    val docs = Lake.table(spark, SfDir, "documents")
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val cnt = docs.groupBy(_._2).map { case (l, rs) => l -> rs.length.toLong }
    val minCnt = cnt.values.min
    // independent reference: thresholds recomputed with scala.math.sqrt
    val expected = docs.collect { case (id, l)
      if (id * Sampling.HashMul) % Sampling.HashMod <
        math.floor(Sampling.HashMod.toDouble *
          math.sqrt(minCnt.toDouble / cnt(l))).toLong => id
    }.toSet
    val got = Sampling.queries("x59_temperature_mix")(spark, SfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"mismatch: ${got.size} vs ${expected.size}")
    // sqrt(r) ≥ r on [0,1] ⇒ every x28-admitted doc is x59-admitted,
    // and the admitted share per lang is ≥ the flat-mix share
    val flat = Sampling.queries("x28_domain_mix")(spark, SfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flat.subsetOf(got), s"x28 admitted ${flat.size}, not a subset")
    assert(got.size < docs.length, "temperature mix must subsample the majority domain")
  }

  test("x63 BPE pair counts equal an in-process word-frequency-weighted recount") {
    val words = Lake.table(spark, SfDir, "documents")
      .select("text").collect().flatMap(_.getString(0).split(" "))
    val wf = words.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val pairs = scala.collection.mutable.Map[(String, String), Long]()
    wf.foreach { case (w, n) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        pairs(k) = pairs.getOrElse(k, 0L) + n
      }
    }
    val expected = pairs.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(100)
      .map { case ((a, b), c) => (a, b, c) }
    val got = TextAnalysis.queries("x63_bpe_pair_count")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected,
      s"top pairs diverge: got ${got.take(5)} vs ${expected.take(5)}")
  }

  test("x64 k-means step: every seed anchors its own cluster, counts conserve, assignment is true argmin") {
    val n = Lake.table(spark, SfDir, "embeddings").count()
    val rows = Similarity.queries("x64_kmeans_assign")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // each seed is distance 0 from its own centroid, so all 8 clusters
    // are non-empty and the rollup has exactly 8 rows
    assert(rows.map(_._1).toSeq == (0L until 8L).toSeq, s"clusters ${rows.map(_._1).toSeq}")
    assert(rows.map(_._2).sum == n, "every vector is assigned exactly once")
    rows.foreach { case (k, cnt, inertia) =>
      assert(cnt >= 1 && inertia >= 0.0, s"cluster $k: $cnt, $inertia")
    }
    // full in-process argmin recount: per-cluster membership counts
    // must match the query exactly (same 4 dp round-before-argmin rule)
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val cents = vecs.take(8)
    val expCnt = vecs.map { case (_, v) =>
      cents.map { case (k, c) =>
        val d = BigDecimal(v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (d, k)
      }.min._2
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val gotCnt = rows.map(r => r._1 -> r._2).toMap
    assert(gotCnt == expCnt, s"membership diverges: $gotCnt vs $expCnt")
  }

  test("x65 k-means training: inertia is Lloyd-monotone and membership conserves per iteration") {
    val n = Lake.table(spark, SfDir, "embeddings").count()
    val rows = Similarity.queries("x65_kmeans_train")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byIter = rows.groupBy(_._1)
    assert(byIter.keySet == Set(1, 2), s"iterations ${byIter.keySet}")
    // every vector is assigned exactly once in each iteration
    byIter.foreach { case (it, rs) =>
      assert(rs.map(_._3).sum == n, s"iter $it assigns ${rs.map(_._3).sum} of $n")
      rs.foreach { case (_, k, cnt, in) =>
        assert(cnt >= 0 && in >= 0.0, s"iter $it cluster $k") }
    }
    // Lloyd: recentering to the mean cannot increase total inertia
    // (the 4 dp rounding perturbs by far less than the decrease)
    val total1 = byIter(1).map(_._4).sum
    val total2 = byIter(2).map(_._4).sum
    assert(total2 <= total1 + 1e-6, s"inertia rose: $total1 -> $total2")
    // iteration 1 equals x64's single step (same seed, same argmin)
    val step = Similarity.queries("x64_kmeans_assign")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(byIter(1).map(r => (r._2, r._3, r._4)).toSet == step,
      "iteration 1 diverges from the x64 single step")
  }

  test("x66 fixed stratified sample = the n smallest hashes per stratum, exactly") {
    val n = 50
    val docs = Lake.table(spark, SfDir, "documents")
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs
      .map { case (id, l) => (l, (id * Sampling.HashMul) % Sampling.HashMod, id) }
      .groupBy(_._1)
      .toSeq
      .flatMap { case (_, rs) => rs.sortBy(r => (r._2, r._3)).take(n).toSeq }
      .map(r => (r._1, r._3)).toSet
    val got = Sampling.queries("x66_fixed_stratified")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected, s"sample diverges: ${got.size} vs ${expected.size}")
    // exact per-stratum size contract: min(n, |stratum|)
    val sizes = got.groupBy(_._1).view.mapValues(_.size).toMap
    docs.groupBy(_._2).foreach { case (l, rs) =>
      assert(sizes.getOrElse(l, 0) == math.min(n, rs.length), s"stratum $l")
    }
  }

  test("x68 HLL rollup: merged day-sketches estimate within 2% of exact, deterministically") {
    def run() = Sampling.queries("x68_hll_rollup")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val rows = run()
    assert(rows.nonEmpty)
    rows.foreach { case (et, nDays, est, exact, relErr) =>
      assert(nDays >= 2, s"$et: rollup should merge multiple day partials")
      assert(exact > 0 && est > 0)
      assert(relErr <= 0.02,
        s"$et: estimate $est vs exact $exact (rel_err $relErr)")
    }
    // sketch building and union are deterministic — a re-run (fresh
    // plan, same data) must reproduce the estimates bit-for-bit
    assert(run().toSeq == rows.toSeq, "estimates must be deterministic")
  }

  test("x67 consolidation: survivor rows carry the dup cluster's provenance union") {
    val docs = Lake.table(spark, SfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase,
        r.getString(2), r.getString(3), r.getLong(4)))
    val expected = docs.groupBy(_._2).map { case (_, rs) =>
      (rs.map(_._1).min, rs.length.toLong,
        rs.map(_._4).distinct.sorted.mkString(","),
        rs.map(_._3).distinct.sorted.mkString(","),
        rs.map(_._5).max)
    }.toSet
    val got = graft.ext.Dedup.queries("x67_dedup_consolidate")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got == expected, s"${got.size} clusters vs ${expected.size}")
    // conservation: every document lands in exactly one survivor row
    assert(got.toSeq.map(_._2).sum == docs.length.toLong)
    // planted multi-copy, multi-provenance cluster: the survivor must
    // union the copies' sources and langs, case/trim-insensitively
    import spark.implicits._
    val planted = Seq(
      (10L, "Same Text", "en", "web", 9L),
      (11L, "  same text ", "en", "books", 12L),
      (12L, "same TEXT", "de", "cc", 9L),
      (20L, "other", "fr", "web", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ext.Dedup.consolidate(planted)
      .orderBy(col("keep_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (10L, 3L, "books,cc,web", "de,en", 12L),
      (20L, 1L, "web", "fr", 5L)), rows.toSeq)
  }

  test("p09 schema evolution: merged read backfills NULL for the pre-evolution generation") {
    val out = graft.sources.Layout.queries("p09_schema_evolution")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val e = Lake.table(spark, SfDir, "events")
    val total = e.count()
    val post = e.filter(col("ts") >= lit("2024-01-25")).count()
    assert(out.map(_._2).sum == total, "merged read must see both generations")
    assert(out.map(_._3).sum == post, "only the evolved generation carries values")
    assert(out.forall { case (_, n, nv, _) => nv <= n })
    // the merged frame itself: value is NULL exactly on pre-cutoff rows
    val hash = Integer.toHexString(SfDir.hashCode)
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"/tmp/graft-views/evolved_events_$hash/gen0",
        s"/tmp/graft-views/evolved_events_$hash/gen1")
    assert(merged.schema.fieldNames.contains("value"))
    assert(merged.filter(col("value").isNull).count() == total - post)
  }

  test("p08 SCD2 history: runs partition each user's timeline with one open row") {
    import java.sql.Timestamp
    val hist = graft.pipeline.Views.queries("p08_scd2_history")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.get(3)).map(_.asInstanceOf[Timestamp]),
        r.getBoolean(4), r.getLong(5)))
    val events = Lake.table(spark, SfDir, "events")
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    assert(hist.nonEmpty && events.nonEmpty)
    // conservation: every event lands in exactly one run
    assert(hist.map(_._6).sum == events.length.toLong)
    hist.groupBy(_._1).foreach { case (uid, rs) =>
      val sorted = rs.sortBy(_._3.getTime)
      // exactly one current (open) row per user, and it is the last run
      assert(rs.count(_._5) == 1, s"user $uid: ${rs.count(_._5)} current rows")
      assert(sorted.last._5 && sorted.last._4.isEmpty, s"user $uid: last run not open")
      // half-open intervals chain: valid_to == next run's valid_from,
      // and consecutive runs really change event_type
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $uid: gap ${a._4} -> ${b._3}")
          assert(a._2 != b._2, s"user $uid: adjacent runs share type ${a._2}")
        case _ =>
      }
      // recount the runs from raw events: number of type changes + 1
      val evs = events.filter(_._1 == uid)
        .sortBy(e => (e._3.getTime, e._2)).map(_._4)
      val nRuns = 1 + evs.sliding(2).count { case Array(x, y) => x != y; case _ => false }
      assert(rs.length == nRuns, s"user $uid: ${rs.length} runs vs recount $nRuns")
    }
  }

  test("fixed-point PageRank: star hub dominates, leaves tie exactly, mass is conserved up to floor leak (x69)") {
    import spark.implicits._
    // undirected star: hub 0 — leaves 1..3, both directions materialized
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val ranks = graft.ext.Graph.pageRankFp(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set(0L, 1L, 2L, 3L))
    val hub = ranks(0L)
    val leaves = List(ranks(1L), ranks(2L), ranks(3L))
    // exact determinism: integer arithmetic makes the leaf ranks
    // IDENTICAL, not merely close
    assert(leaves.distinct.size == 1, s"leaves differ: $leaves")
    assert(hub > leaves.head, s"hub $hub not above leaves ${leaves.head}")
    // mass: sums to RankScale minus a deterministic floor leak
    // (< 1 unit per division per node per iteration)
    val total = ranks.values.sum
    assert(total <= graft.ext.Graph.RankScale)
    assert(total > graft.ext.Graph.RankScale - 100L, s"leak too large: $total")
    // hand-rolled recurrence for the hub after one iteration:
    // each leaf sends floor(rank/1), hub gets base + 85% of 3 leaves
    val init = graft.ext.Graph.RankScale / 4
    val base = (graft.ext.Graph.RankScale * 15 / 100) / 4
    val hub1 = base + (85L * (3 * init)) / 100
    val leaf1 = base + (85L * (init / 3)) / 100
    val hub2 = base + (85L * (3 * leaf1)) / 100
    val leaf2 = base + (85L * (hub1 / 3)) / 100
    val hub3 = base + (85L * (3 * leaf2)) / 100
    val leaf3 = base + (85L * (hub2 / 3)) / 100
    assert(hub == hub3, s"hub $hub != recurrence $hub3")
    assert(leaves.head == leaf3, s"leaf ${leaves.head} != recurrence $leaf3")
  }

  test("fixed-point PageRank: a dangling node is ranked and its mass redistributes exactly (VERDICT r11 §7)") {
    import spark.implicits._
    // 1→2, 2→1 cycle feeding dangling sink 3 (only ever a dst): the
    // old contract required the caller to close this; now the node
    // universe is src ∪ dst and the sink's mass returns uniformly
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = graft.ext.Graph.pageRankFp(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"universe ${got.keySet}")
    // pure-Scala reference of the exact integer recurrence
    val scale = graft.ext.Graph.RankScale
    val n = 3L
    val out = Map(1L -> 2L, 2L -> 1L) // out-degrees; 3 dangling
    var rank = Seq(1L, 2L, 3L).map(_ -> scale / n).toMap
    val base = (scale * 15 / 100) / n
    for (_ <- 1 to 3) {
      val dm = rank(3L)
      val in = Map(
        1L -> rank(2L) / out(2L),
        2L -> rank(1L) / out(1L),
        3L -> rank(1L) / out(1L))
      rank = in.map { case (k, m) => k -> (base + (85L * (m + dm / n)) / 100) }
    }
    assert(got == rank, s"got $got vs reference $rank")
    // mass conservation up to floor leak: without redistribution the
    // sink would bleed ~28% of total mass by iteration 3
    val total = got.values.sum
    assert(total > scale * 97 / 100, s"mass lost: $total of $scale")
  }

  test("HITS: two sum-normalized integer rounds match an in-process recompute exactly (x129)") {
    val got = graft.ext.Graph.queries("x129_hits")(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // pure-Scala reference of the exact recurrence (Long division is
    // truncation on non-negatives ≡ DIV)
    val pairs = graft.sources.Lake.table(spark, SfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val S = graft.ext.Graph.HitsScale
    // h0 = 1 (normalized away immediately); BigInt floor division
    // because v * S leaves Long at the 10^12 scale
    val h0 = 1L
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val t = m.values.sum
      m.map { case (k, v) => k -> (BigInt(v) * S / t).toLong }
    }
    val a1n = norm(pairs.groupBy(_._2).map { case (s, es) => s -> es.size * h0 })
    val h1n = norm(pairs.groupBy(_._1).map { case (p, es) =>
      p -> es.map(e => a1n(e._2)).sum })
    val a2n = norm(pairs.groupBy(_._2).map { case (s, es) =>
      s -> es.map(e => h1n(e._1)).sum })
    val expTop = a2n.toSeq.sortBy { case (s, v) => (-v, s) }.take(20)
    assert(got == expTop, s"got $got\nexp $expTop")
    // mass: sum-normalization conserves ≈ HitsScale up to floor leak
    assert(a2n.values.sum <= S && a2n.values.sum > S - a2n.size)
  }

  test("greedy k-center: planted line geometry selects farthest-first with both tiebreaks exercised (x130)") {
    import spark.implicits._
    def v(x: Double) = Array(x, 0.0)
    val e = Seq((0L, v(0)), (1L, v(1)), (2L, v(10)), (3L, v(4)),
      (4L, v(-5)), (5L, v(5)))
      .toDF("vec_id", "v")
    val got = graft.ext.Similarity.kCenterGreedy(e, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    // seed 0; then 2 (d=100); then the 25-tie between 4 and 5 breaks
    // to vec_id 4; then 5 (still 25 to the selected set); then the
    // 1.0-tie between 1 and 3 breaks to vec_id 1
    assert(got == Set((1, 0L, 0.0), (2, 2L, 100.0), (3, 4L, 25.0),
      (4, 5L, 25.0), (5, 1L, 1.0)), s"got $got")
  }

  test("t-closeness: total-variation distance recomputes exactly from integer marginals (x131)") {
    val got = graft.ext.TextAnalysis.queries("x131_t_closeness")(spark, SfDir)
      .collect()
      .map(r => ((r.getString(0), r.get(1).toString.toLong),
        (r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val d = graft.sources.Lake.table(spark, SfDir, "documents")
      .select(col("source"), expr("n_chars DIV 50").as("b"), col("lang"))
      .collect().map(r => (r.getString(0), r.get(1).toString.toLong, r.getString(2)))
    val n = d.length.toLong
    val glob = d.groupBy(_._3).map { case (l, xs) => l -> xs.length.toLong }
    val byClass = d.groupBy(x => (x._1, x._2))
    assert(got.keySet == byClass.keySet)
    byClass.foreach { case (key, xs) =>
      val nG = xs.length.toLong
      val cells = xs.groupBy(_._3).map { case (l, ys) => l -> ys.length.toLong }
      val s1 = cells.map { case (l, c) => (c * n - glob(l) * nG).abs }.sum
      val s2 = cells.keys.map(glob).sum
      val t = BigDecimal((s1 + (n - s2) * nG).toDouble / (2.0 * nG * n))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (cs, gt, safe) = got(key)
      assert(cs == nG && math.abs(gt - t) < 1e-9 && safe == (gt <= 0.5),
        s"$key: got ($cs, $gt, $safe) exp ($nG, $t)")
    }
  }

  test("x69 on the lake graph: every node ranked once, suppliers outrank parts at the top") {
    val top = graft.ext.Graph.queries("x69_pagerank")(spark, SfDir).collect()
    assert(top.length == 20)
    val ranksDesc = top.map(_.getLong(1)).toList
    assert(ranksDesc == ranksDesc.sorted.reverse, "not rank-ordered")
    // suppliers aggregate many parts' mass: the top of the list must
    // be supplier nodes on this bipartite shape
    assert(top.take(5).forall(_.getString(0).startsWith("S")),
      s"expected supplier hubs on top, got ${top.take(5).map(_.getString(0)).mkString(",")}")
  }

  test("truncation pairs: word-boundary prefixes only, transitive chains enumerate, hot keys capped (x74)") {
    import spark.implicits._
    val base = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens, shared key8
    val corpus = Seq(
      (1L, base + " tail one two"),       // prefix: 2; is itself a prefix of 3
      (2L, base),                         // prefix of 1, 3 and 4
      (3L, base + " tail one two three"),
      (4L, base + " tailXtra"),           // char-level but NOT word-boundary ext of 1
      (5L, "short doc only")              // < 8 tokens: out of contract
    ).toDF("doc_id", "text")
    val got = Dedup.truncationPairs(corpus, cap = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (2L, 3L), (2L, 4L), (1L, 3L)), s"got $got")
    // the hot-key cap silences a key shared too widely (loudly
    // documented contract, x03's discipline)
    assert(Dedup.truncationPairs(corpus, cap = 1).count() == 0L)
  }

  test("edit-distance pairs: in-threshold typos recalled with exact distances, cross-block pairs invisible, hot blocks capped (x91)") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta" // 35 chars
    val corpus = Seq(
      (1L, base),
      (2L, base.replace("gamma", "gamba")),  // 1 substitution, same len
      (3L, base.replace("gamma", "gaxba")),  // 2 subs from 1, 1 from 2
      (4L, base.replace(" zeta", " zetaX")), // len 36: different block
      (5L, "alph" + base.substring(4).replace("beta gamma", "XXXX YYYYY")), // dist 9 > k
      (6L, "omega psi")                      // different prefix block
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(corpus, threshold = 4, maxBlock = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // same (len, prefix) block and within threshold: exactly 1-2, 1-3,
    // 2-3 with the true distances; 4 is length-blocked out, 5 is over
    // threshold (banded DP returns -1), 6 never shares a block
    assert(got == Set((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 1)), s"got $got")
    // hot-block cap: a block larger than maxBlock emits nothing
    assert(Dedup.editDistancePairs(corpus, threshold = 4, maxBlock = 2).count() == 0L)
  }

  test("span dedup: shifted excerpt found with exact offsets, exact dups collapse to their representative, short runs below minGrams (x92)") {
    import spark.implicits._
    val t = (1 to 20).map(i => s"t$i")
    val corpus = Seq(
      (1L, t.mkString(" ")),                                     // 20 tokens
      (2L, ("z1 z2 " + t.slice(4, 16).mkString(" ")) + " z3"),   // t5..t16 shifted to pos 3
      (3L, t.mkString(" ")),                                     // exact dup of 1 → collapses into 1
      (4L, t.take(9).mkString(" "))                              // 9-token prefix: run 2 < minGrams
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupPairs(corpus, cap = 64, minGrams = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    // 1-2: A positions 5..9 match B positions 3..7 → span (5, 3, 12).
    // 3 is byte-identical to 1: the exact-class pre-collapse reduces
    // it into representative 1 BEFORE the gram join (its near-dup
    // relations are carried by the rep), so no pair mentions doc 3.
    // 1-4 is a 2-gram run, below minGrams.
    assert(got == Set((1L, 2L, 5, 3, 12L)), s"got $got")
  }

  test("span dedup degrades, never silences: a 100-wide boilerplate span reports its first capEff docs at bounded cost (x92, VERDICT r11 §3)") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    // 100 DISTINCT docs sharing a 10-token boilerplate head: the 3
    // fully-boilerplate grams occur 100× (over the base cap 64), the
    // corpus-wide mean multiplicity stays ~1 (capEff = 64)
    val corpus = (1 to 100).map(i =>
      (i.toLong, boiler + " " + (1 to 8).map(j => s"u${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.spanCapEffective(corpus, cap = 64L) == 64L)
    val got = Dedup.spanDupPairs(corpus, cap = 64, minGrams = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // the old drop-the-key rule emitted ZERO here (every shared gram
    // over cap); keep-first-capEff reports the span among the first
    // 64 docs — C(64,2) pairs, each one (1,1,10) span — and stays
    // silent only beyond the kept rank
    assert(got.length == 64 * 63 / 2, s"got ${got.length} pairs")
    assert(got.forall { case (a, b, s1, s2, n) =>
      a < b && b <= 64L && s1 == 1 && s2 == 1 && n == 10L })
  }

  test("span dedup adaptive cap: pervasive near-dup density raises capEff so a 100-wide class reports ALL members (x92)") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    // 100 near-variants of one 60-token base (unique suffix token):
    // 5400 gram instances over 153 distinct grams → mean multiplicity
    // 35 → capEff = 4×35 = 140 ≥ 100, so every occurrence is kept and
    // the pair (1, 100) exists — the fixed cap 64 would have cut the
    // class at its 64th member
    val corpus = (1 to 100).map(i => (i.toLong, s"$base s$i"))
      .toDF("doc_id", "text")
    assert(Dedup.spanCapEffective(corpus, cap = 64L) == 140L)
    val got = Dedup.spanDupPairs(corpus, cap = 64, minGrams = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(got.length == 100 * 99 / 2, s"got ${got.length} pairs")
    // every pair shares the full 53-gram base run: span (1, 1, 60)
    assert(got.forall { case (_, _, s1, s2, n) => s1 == 1 && s2 == 1 && n == 60L })
    assert(got.exists { case (a, b, _, _, _) => a == 1L && b == 100L })
  }

  test("hyperplane verify gate: every emitted pair collides in a recomputed integer-plane bucket and clears the cosine bar (x75)") {
    val rows = Similarity.queries("x75_hyperplane_verify_exact")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty, "gate query is vacuous on this corpus")
    assert(rows.forall { case (a, b, c) => a < b && b < 300 && c >= 0.2 })
    // recompute the signatures in-process from raw embeddings: the
    // emitted pairs must collide in >= 1 table under the exact
    // integer recurrence the query claims to run
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .filter(col("vec_id") < 300).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => BigDecimal(x.toDouble * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toMap
    def sig(t: Int, q: Seq[Long]): Long =
      (0 until 8).map { p =>
        val dot = q.zipWithIndex.map { case (qd, d) =>
          qd * (((t * 7919 + p * 104729 + d * 1000003) % 2003) - 1001)
        }.sum
        if (dot > 0) 1L << p else 0L
      }.sum
    rows.foreach { case (a, b, _) =>
      val collides = (0 until 2).exists(t => sig(t, vecs(a)) == sig(t, vecs(b)))
      assert(collides, s"pair ($a,$b) emitted without a bucket collision")
    }
  }

  test("character entropy matches an in-process recount exactly and respects the log2(alphabet) bound (x76)") {
    val got = TextAnalysis.queries("x76_char_entropy")(spark, SfDir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val texts = Lake.table(spark, SfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (_, (e, k)) =>
      assert(e >= 0.0 && e <= math.log(k.toDouble) / math.log(2.0) + 1e-4,
        s"entropy $e outside [0, log2($k)]")
    }
    // exact recount on a sample, replicating the term-rounding rule
    texts.keys.toSeq.sorted.take(5).foreach { id =>
      val cs = texts(id).groupBy(identity).values.map(_.length).toSeq
      val n = cs.sum.toDouble
      val sum = cs.map { nc =>
        val p = nc / n
        BigDecimal(p * (math.log(p) / math.log(2.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val expected = BigDecimal(-sum.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 == expected && got(id)._2 == cs.size.toLong,
        s"doc $id: got ${got(id)}, expected ($expected, ${cs.size})")
    }
  }

  test("zipf slope is negative for every source and matches an in-process OLS recount (x77)") {
    val got = TextAnalysis.queries("x77_zipf_slope")(spark, SfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (s, (n, slope, _)) =>
      assert(n <= 100 && slope < 0.0, s"source $s: n=$n slope=$slope")
    }
    val src = got.keys.min
    val words = Lake.table(spark, SfDir, "documents")
      .filter(col("source") === src)
      .select("text").collect().flatMap(_.getString(0).split(" "))
    val top = words.groupBy(identity).map { case (w, g) => (w, g.length) }
      .toSeq.sortBy { case (w, f) => (-f, w) }.take(100)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val terms = top.zipWithIndex.map { case ((_, f), i) =>
      val x = r6(math.log(i + 1.0) / math.log(2.0))
      val y = r6(math.log(f.toDouble) / math.log(2.0))
      (x, y, r6(x.toDouble * y.toDouble), r6(x.toDouble * x.toDouble))
    }
    val n = terms.size.toDouble
    val (sx, sy) = (terms.map(_._1).sum.toDouble, terms.map(_._2).sum.toDouble)
    val (sxy, sxx) = (terms.map(_._3).sum.toDouble, terms.map(_._4).sum.toDouble)
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val slope = BigDecimal(num / den).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(src)._2 == slope, s"slope ${got(src)._2} vs recount $slope")
  }

  test("burstiness stays in [-1, 1) and matches an exact integer recount (x78)") {
    val got = Sampling.queries("x78_burstiness")(spark, SfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (u, (n, mg, b)) =>
      assert(n >= 5 && mg > 0 && b >= -1.0 && b < 1.0, s"user $u: ($n, $mg, $b)")
    }
    val u = got.keys.min
    val times = Lake.table(spark, SfDir, "events")
      .filter(col("user_id") === u)
      .select(unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).map(_._1)
    val d = times.zip(times.tail).map { case (a, b) => BigInt(b - a) }
    val n = d.size
    val s1 = d.sum
    val s2 = d.map(x => x * x).sum
    val mu = s1.toDouble / n // BigInt→double then divide? replicate: cast(s1 as double)/n
    val sigma = math.sqrt((BigInt(n) * s2 - s1 * s1).toDouble / (n.toLong * n))
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(u)._1 == n.toLong)
    assert(got(u)._2 == r4(mu / 1e6), s"${got(u)._2} vs ${r4(mu / 1e6)}")
    assert(got(u)._3 == r4((sigma - mu) / (sigma + mu)))
  }

  test("label-propagation vote round takes the plurality with the (votes desc, label asc) tiebreak (x80)") {
    import spark.implicits._
    // bipartite: P1 — {S1(A), S2(B), S3(B)}, P2 — {S1(A), S2(B)}
    val und = Seq(("S1", "P1"), ("S2", "P1"), ("S3", "P1"),
      ("S1", "P2"), ("S2", "P2"))
    val adj = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(("S1", "A"), ("S2", "B"), ("S3", "B")).toDF("node", "label")
    val r1 = graft.ext.Graph.voteRound(adj, seeds)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // P1: plurality B (2 votes); P2: 1-1 tie -> label asc -> A
    assert(r1("P1") == (("B", 2L)), s"got ${r1("P1")}")
    assert(r1("P2") == (("A", 1L)), s"got ${r1("P2")}")
    // suppliers receive nothing in round 1 (their in-neighbors are unlabeled)
    assert(!r1.contains("S1") && !r1.contains("S2") && !r1.contains("S3"))
    // full query on the lake graph: every node labeled exactly once,
    // seed suppliers carry a non-null agreement flag, parts a null one
    val full = graft.ext.Graph.queries("x80_label_prop")(spark, SfDir).collect()
    assert(full.map(_.getString(0)).distinct.length == full.length)
    full.foreach { r =>
      val isSeed = r.getBoolean(3)
      assert(r.getString(0).startsWith(if (isSeed) "S" else "P"))
      assert(isSeed == !r.isNullAt(4))
    }
  }

  test("feature hashing buckets match an in-process polynomial recount and conserve token counts (x79)") {
    val got = TextAnalysis.queries("x79_hashed_features")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    assert(got.keys.forall { case (_, b) => b >= 0 && b < 64 })
    val texts = Lake.table(spark, SfDir, "documents")
      .filter(col("doc_id") < 100).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = texts.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map { w =>
        val h = w.take(TextAnalysis.HashMaxChars).zipWithIndex.map {
          case (c, i) => c.toLong * TextAnalysis.hashWeights(i)
        }.sum
        (id, h % TextAnalysis.HashP % 64)
      }
    }.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    assert(got == expected,
      s"drift: extra=${(got.keySet -- expected.keySet).take(3)}, missing=${(expected.keySet -- got.keySet).take(3)}")
  }

  test("dup-cluster profile recounts exactly from x18's component table (x73)") {
    val comps = Dedup.queries("x18_dedup_components")(spark, SfDir)
      .collect().map(r => r.getLong(1)) // component label per doc
    val expected = comps.groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (size, cs) =>
        size -> (cs.size.toLong, size * cs.size, (size - 1) * cs.size)
      }
    val got = Dedup.queries("x73_dup_cluster_profile")(spark, SfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, s"profile drift: got $got expected $expected")
    // paired components are ≥2 by construction
    assert(got.keys.forall(_ >= 2L))
  }

  test("canonical dedup collapses each noised twin with its original, mirroring x01's group structure doubled (x71)") {
    val x01 = Dedup.queries("x01_dedup_exact")(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val x71 = Dedup.queries("x71_canonical_dedup")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the word-soup corpus has no case/punct variance, so canonical
    // groups are exactly x01's groups plus each member's noised twin
    assert(x71.map(_._1).toSet == x01.keySet,
      "canonical reps diverge from exact-dedup reps")
    x71.foreach { case (keep, members, rawForms) =>
      assert(members == 2 * x01(keep),
        s"group $keep: $members members vs 2x exact ${x01(keep)}")
      // originals share one raw text per group, twins share another
      assert(rawForms == 2, s"group $keep: $rawForms raw forms")
    }
  }

  test("importance resampling admits exactly the docs whose hash clears the diversity-scaled threshold (x72)") {
    val docs = Lake.table(spark, SfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val w = toks.distinct.length.toDouble / toks.length
      val h = (id * 2654435761L) % 2147483647L
      if (h < math.floor(2147483647L * w).toLong)
        Some(id -> BigDecimal(w).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }.toMap
    val got = graft.ext.Sampling.queries("x72_importance_resample")(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet,
      s"admission drift: extra ${got.keySet -- expected.keySet}, missing ${expected.keySet -- got.keySet}")
    assert(got == expected, "weights drifted from in-process recount")
    // non-vacuous in both directions: some admitted, some rejected
    assert(got.nonEmpty && got.size < docs.length)
  }

  test("histogram rollup: exact bins, boundary lands in the upper bin, cumulative closes at 1.0 (x70)") {
    val rows = graft.ext.Sampling.queries("x70_hist_rollup")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty)
    // bins are the contract: floor(value/25), value at exactly 25.0
    // belongs to bin 1 — pin the expression the query uses
    import spark.implicits._
    val bins = Seq(0.0, 24.999, 25.0, 49.99, 490.02).toDF("value")
      .select(floor(col("value") / lit(25.0)).cast("int").as("bin"))
      .collect().map(_.getInt(0)).toList
    assert(bins == List(0, 0, 1, 1, 19), s"binning drifted: $bins")
    // rollup invariants: cum_n strictly increasing, final share 1.0,
    // per-bin n sums to cum_n's last value
    val cum = rows.map(_.getLong(5)).toList
    assert(cum == cum.sorted && cum.distinct == cum, "cum_n not strictly increasing")
    assert(rows.map(_.getLong(4)).sum == cum.last, "bin counts disagree with cumulative total")
    assert(rows.last.getDouble(6) == 1.0, s"last cum_share ${rows.last.getDouble(6)}")
  }

  test("triangle counting: K4 minus an edge yields per-node counts (1,2,2,1); lake query bounded and ordered (x81)") {
    import spark.implicits._
    // triangles {1,2,3} and {2,3,4}; the missing (1,4) edge kills the rest
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val got = graft.ext.Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L), s"got $got")
    val top = graft.ext.Graph.queries("x81_triangle_count")(spark, SfDir).collect()
    assert(top.nonEmpty && top.length <= 20)
    val tris = top.map(_.getLong(1)).toList
    assert(tris == tris.sortBy(-_), s"not tri-desc ordered: $tris")
    assert(tris.forall(_ >= 1L))
  }

  test("bag-of-words dedup: every reversed twin collapses with its original, clusters pair exactly (x82)") {
    val rows = Dedup.queries("x82_bow_dedup")(spark, SfDir).collect()
    val nDocs = Lake.table(spark, SfDir, "documents").count()
    // the keeper is always an original: twins (ids +2e6) share their
    // original's bag, so no cluster consists of twins alone
    assert(rows.forall(_.getLong(0) < 2000000L), "a twin survived as keeper")
    // reversal is a bag-preserving bijection: every bow class gains
    // exactly one twin per original member -> even sizes, total 2n
    assert(rows.forall(_.getLong(1) % 2 == 0), "cluster sizes must pair up")
    assert(rows.map(_.getLong(1)).sum == 2 * nDocs)
    // at least one cluster records a genuine order-variant
    assert(rows.exists(_.getLong(2) >= 2L), "no order-variant clusters found")
  }

  test("hard negatives: exact in-process brute-force recount with the rounded-cos tiebreak (x83)") {
    val e = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = e.filter(_._1 < 5).sortBy(_._1).flatMap { case (qid, ql, qv) =>
      e.filter(_._2 != ql)
        .map { case (vid, l, v) => (qid, vid, l, r4(cos(v, qv))) }
        .sortBy { case (_, vid, _, c) => (-c, vid) }
        .take(3)
    }.toList
    val got = Similarity.queries("x83_hard_negatives")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toList
    assert(got == expected)
  }

  test("MAD outliers: the doubled-integer grid recount matches row for row (x84)") {
    val base = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // mirror the query's stretched-twin injection: 8x tokens, id +3e6
    val lens = (base ++ base.filter(_._1 % 500 == 0)
      .map { case (id, n) => (id + 3000000L, 8 * n + 0) }).sortBy(_._1)
    // interpolated median of ints doubled = exact integer
    def med2(sorted: Seq[Long]): Long = {
      val n = sorted.length
      if (n % 2 == 1) 2 * sorted(n / 2) else sorted(n / 2 - 1) + sorted(n / 2)
    }
    val m2 = med2(lens.map(_._2.toLong).sorted)
    val dev = lens.map { case (id, n) => (id, n, math.abs(2L * n - m2)) }
    val m4 = med2(dev.map(_._3).sorted)
    val expected = dev.map { case (id, n, d) => (id, n, d, 2 * d > 3 * m4) }.toList
    val got = TextAnalysis.queries("x84_mad_outliers")(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toList
    assert(got == expected)
    // the stretched twins are the planted outliers: every one must trip
    assert(expected.filter(_._1 >= 3000000L).forall(_._4), "a stretched twin escaped the flag")
    assert(expected.exists(_._1 >= 3000000L), "no twins injected")
  }

  test("scene cuts: planted intensity jump trips the flag, frame 0 never cuts, short assets get one frame (x89)") {
    import graft.ext.{Asset, Multimodal => M}
    // two flat 64-byte scenes with a hard boundary: |Δsum| = 64·25
    val blob = (Array.fill(64)('a'.toByte) ++ Array.fill(64)('z'.toByte))
    val fs = M.frameSums(Asset(7L, blob), window = 64)
    assert(fs.map(f => (f.frame_idx, f.frame_sum)) ==
      Seq((0, 64L * 97), (1, 64L * 122)))
    assert(64L * 122 - 64L * 97 > 300, "planted jump under threshold")
    // sub-window payload: one short frame carrying the full sum
    val short = M.frameSums(Asset(8L, Array.fill(10)('b'.toByte)), window = 64)
    assert(short == Seq(graft.ext.FrameFeature(8L, 0, 10L * 98)))
    // empty payload: ZERO frames — the oracle's frame spine vanishes
    // for an empty doc, so a phantom sum-0 frame would hash-fail
    assert(M.frameSums(Asset(9L, Array.emptyByteArray), window = 64).isEmpty)
    // lake query: first frame of every doc uncut; cuts exist (p99
    // threshold) and every flagged frame really jumps > 300
    val rows = Multimodal.queries("x89_scene_cuts")(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.filter(_._2 == 0).forall(!_._4))
    assert(rows.exists(_._4), "no scene cuts on the provisioned corpus")
    val bySeq = rows.groupBy(_._1)
    bySeq.values.foreach { fr =>
      val s = fr.sortBy(_._2)
      s.sliding(2).foreach {
        case Array(p, c) =>
          assert(c._4 == (math.abs(c._3 - p._3) > 300),
            s"cut flag drifted at doc ${c._1} frame ${c._2}")
        case _ =>
      }
    }
  }

  test("scene segments partition the frame stream: counts rebuild from x89's cut flags exactly (x90)") {
    val frames = Multimodal.queries("x89_scene_cuts")(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val segs = Multimodal.queries("x90_scene_segments")(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rebuild segments from the cut stream in-process and compare
    val expected = frames.groupBy(_._1).toSeq.flatMap { case (doc, fr) =>
      val s = fr.sortBy(_._2)
      val ids = s.scanLeft(0L)((acc, f) => acc + (if (f._4) 1 else 0)).tail
      s.zip(ids).groupBy(_._2).toSeq.map { case (sid, grp) =>
        val fs = grp.map(_._1)
        (doc, sid, fs.map(_._2).min, fs.length.toLong,
          r4(fs.map(_._3).sum.toDouble / (fs.length * 64).toDouble))
      }
    }.sortBy(t => (t._1, t._2))
    assert(segs.toList == expected.toList)
    // every doc's scenes tile its frames: Σ n_frames = frame count
    assert(segs.map(_._4).sum == frames.length)
    // cuts exist, so some doc has >1 scene
    assert(segs.groupBy(_._1).values.exists(_.length > 1))
  }

  test("PMI collocations: exact in-process recount of counts, formula, and top-20 ordering (x88)") {
    val ws = Lake.table(spark, SfDir, "documents")
      .select(split(col("text"), " ").as("w"))
      .collect().map(_.getSeq[String](0).toArray).filter(_.length >= 2)
    val uni = ws.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTok = uni.values.sum
    val bgs = ws.flatMap(w => w.sliding(2).map(p => (p(0), p(1))))
    val nBg = bgs.length.toLong
    val ab = bgs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= 5)
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = ab.toSeq.map { case ((a, b), cab) =>
      (a, b, cab, r4(math.log(
        (cab * nTok * nTok).toDouble / (nBg * uni(a) * uni(b)).toDouble)))
    }.sortBy { case (a, b, _, p) => (-p, a, b) }.take(20).toList
    val got = TextAnalysis.queries("x88_pmi_collocations")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toList
    assert(got == expected)
    assert(got.nonEmpty, "no pair cleared the c_ab >= 5 floor")
  }

  test("clustering coefficient: clique corners score 1.0, open centers score by wedge count (x85)") {
    import spark.implicits._
    // K4 minus (1,4): nodes 1,4 sit on one closed triangle out of one
    // possible pair -> cc 1.0; nodes 2,3 close 2 of their 3 pairs
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val got = graft.ext.Graph.clusteringCoeff(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((3L, 2L, 0.6667)),
      3L -> ((3L, 2L, 0.6667)), 4L -> ((2L, 1L, 1.0))), s"got $got")
    // lake query: cc-desc ordered, every cc on [0,1] and consistent
    // with its own (tri, deg) columns
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val top = graft.ext.Graph.queries("x85_clustering_coeff")(spark, SfDir).collect()
    assert(top.nonEmpty && top.length <= 20)
    val ccs = top.map(_.getDouble(3)).toList
    assert(ccs == ccs.sortBy(-_))
    top.foreach { r =>
      val (deg, tri, cc) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(cc >= 0.0 && cc <= 1.0)
      assert(cc == r4(2.0 * tri / (deg * (deg - 1.0))), s"cc drifted for ${r.getLong(0)}")
    }
  }

  test("k-core peel cascades: removing a leaf strands its neighbor next round (x86)") {
    import spark.implicits._
    // triangle {1,2,3} with a tail 3-4-5; k=2 peel: round 1 drops 5
    // (deg 1), round 2 drops the now-stranded 4, triangle survives
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val arcs0 = (und ++ und.map(_.swap)).toDF("src", "dst")
    val e1 = graft.ext.Graph.peel(arcs0, 2)
    val n1 = e1.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(n1 == Set(1L, 2L, 3L, 4L), s"round 1 kept $n1")
    val e2 = graft.ext.Graph.peel(e1, 2)
    val n2 = e2.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(n2 == Set(1L, 2L, 3L), s"round 2 kept $n2")
    // a third round is a fixpoint here
    assert(graft.ext.Graph.peel(e2, 2).count() == e2.count())
    // lake query: nonempty survivor set, strictly smaller than the
    // initial co-purchase node set (the p25 threshold must peel), one
    // row per node
    val full = graft.ext.Graph.queries("x86_kcore_peel")(spark, SfDir).collect()
    assert(full.nonEmpty, "core emptied — p25 peel over-aggressive")
    val nodes = full.map(_.getLong(0))
    assert(nodes.distinct.length == nodes.length)
    val e = graft.ext.Graph.coPurchaseEdges(spark, SfDir)
    val all = e.select(col("u")).union(e.select(col("v"))).distinct().count()
    assert(full.length < all, "p25 peel removed nothing")
  }

  test("link jaccard: square-plus-diagonal scores the diagonal highest (x87)") {
    import spark.implicits._
    // cycle 1-2-3-4-1 with diagonal (1,3): the diagonal's endpoints
    // share BOTH remaining corners -> jac 2/4; every rim edge shares
    // exactly one neighbor -> 1/4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)).toDF("u", "v")
    val got = graft.ext.Graph.linkJaccard(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      (1L, 2L) -> ((1L, 0.25)), (2L, 3L) -> ((1L, 0.25)),
      (3L, 4L) -> ((1L, 0.25)), (1L, 4L) -> ((1L, 0.25)),
      (1L, 3L) -> ((2L, 0.5))), s"got $got")
    // lake query: jac-desc ordered, cn never exceeds either endpoint
    // degree implied by the union bound (jac <= 1)
    val top = graft.ext.Graph.queries("x87_link_jaccard")(spark, SfDir).collect()
    assert(top.nonEmpty && top.length <= 20)
    val jacs = top.map(_.getDouble(3)).toList
    assert(jacs == jacs.sortBy(-_))
    assert(jacs.forall(j => j >= 0.0 && j <= 1.0))
  }

  test("adamic-adar: hub discount beats raw common-neighbor count on planted geometry (x132)") {
    import spark.implicits._
    // square 1-2-3-4-1 with diagonal (1,3): the diagonal shares BOTH
    // corners (each deg 2 -> term round(1e6/ln2) = 1442695); every rim
    // edge shares exactly one corner of degree 3 (term 910239) — the
    // deg-2 witness outweighs the deg-3 one, x87's jac can't see that
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)).toDF("u", "v")
    val got = graft.ext.Graph.adamicAdar(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val t2 = math.round(1000000.0 / math.log(2.0)) // 1442695
    val t3 = math.round(1000000.0 / math.log(3.0)) // 910239
    assert(got == Map(
      (1L, 2L) -> ((1L, t3)), (2L, 3L) -> ((1L, t3)),
      (3L, 4L) -> ((1L, t3)), (1L, 4L) -> ((1L, t3)),
      (1L, 3L) -> ((2L, 2 * t2))), s"got $got")
    // lake query: aa-desc ordered, every score positive and bounded by
    // cn * the max per-witness term (witness degree >= 2)
    val top = graft.ext.Graph.queries("x132_adamic_adar")(spark, SfDir).collect()
    assert(top.nonEmpty && top.length <= 20)
    val aas = top.map(_.getLong(3)).toList
    assert(aas == aas.sortBy(-_))
    top.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(3) > 0 &&
        r.getLong(3) <= r.getLong(2) * t2)
    }
  }

  test("triangle enumeration degrades to the join wedge stream on hub graphs, identically (x132)") {
    import spark.implicits._
    // synthetic hub: node 0 touches 1..12, the rim closes 1-2-…-12-1,
    // plus chords (1,3) and (5,7) — triangles both through and off
    // the hub, so the two enumeration forms have real work to agree
    // on. The hub's oriented degree is what the gate measures.
    val rim = (1L to 12L).map(i => (i, if (i == 12L) 1L else i + 1L))
    val edges = ((1L to 12L).map((0L, _)) ++ rim ++
      Seq((1L, 3L), (5L, 7L))).toDF("u", "v")
    val arcs = graft.ext.Graph.orientByDegree(edges)
    val (maxOd, wedges) = graft.ext.Graph.wedgeStats(arcs)
    assert(maxOd >= 3L && wedges > 0L, s"gate inputs: $maxOd, $wedges")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaArrays = setOf(graft.ext.Graph.triangleEnumArrays(arcs))
    val viaJoin = setOf(graft.ext.Graph.triangleEnumJoin(arcs))
    assert(viaArrays.nonEmpty && viaArrays == viaJoin,
      s"forms diverge:\narrays $viaArrays\njoin   $viaJoin")
    // the measured gate routes a hub past the degree cap down the
    // join path (no per-node array state in the plan) and a tame
    // graph down the array path
    val degraded = graft.ext.Graph.triangleEnum(arcs,
      maxArrayDegree = 2L, maxArrayWedges = Long.MaxValue)
    val degradedPlan = degraded.queryExecution.executedPlan.toString
    assert(!degradedPlan.contains("collect_list"),
      "gate did not take the join path")
    // the wedge stream must pass the map-side bloom probe BEFORE any
    // join closes it — the pre-filter that keeps the fifth-decade
    // stream off the shuffle disk
    assert(degradedPlan.contains("might_contain"),
      s"join path lost its bloom pre-filter:\n$degradedPlan")
    assert(setOf(degraded) == viaArrays, "degraded path diverges")
    val fast = graft.ext.Graph.triangleEnum(arcs,
      maxArrayDegree = 65536L, maxArrayWedges = Long.MaxValue)
    assert(fast.queryExecution.executedPlan.toString
      .contains("collect_list"), "gate did not take the array path")
    // wedge-volume leg of the gate: a tiny wedge cap also degrades
    val byVolume = graft.ext.Graph.triangleEnum(arcs,
      maxArrayDegree = 65536L, maxArrayWedges = 1L)
    assert(!byVolume.queryExecution.executedPlan.toString
      .contains("collect_list"), "wedge cap did not take the join path")
    // r17: a PREBUILT sorted adjacency (the copurchase_adjlist_v1
    // artifact shape) must give identical gate stats and an identical
    // enumeration — and its plan must NOT re-run collect_list
    val adj = arcs.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t").cast("long"))).as("nbrs"))
      .localCheckpoint()
    assert(graft.ext.Graph.adjWedgeStats(adj) == (maxOd, wedges),
      "adjacency-derived gate stats diverge from the arc aggregate")
    val viaPrebuilt = graft.ext.Graph.triangleEnum(arcs, adj)
    assert(!viaPrebuilt.queryExecution.executedPlan.toString
      .contains("collect_list"),
      "prebuilt-adjacency path re-ran the collect_list build")
    assert(setOf(viaPrebuilt) == viaArrays, "prebuilt path diverges")
  }

  test("the wedge-fallback bloom stays effective past Spark's silent size clamps") {
    // 8M arc keys — ABOVE the native aggregate's default 4M item /
    // 64M bit clamps. Without the conf raises the clamped filter
    // saturates and passes ~100% of probes (the r16 probe-attempt
    // disk blow-up); correctly sized at 1% fpp, non-member probes
    // must pass at ~1%.
    val n = 8000000L
    val arcs = spark.range(n)
      .select((col("id") * 2).as("s"), (col("id") * 2 + 1).as("t"))
    val bloom = BloomExpressions.build("ExtSpec", arcs,
      org.apache.spark.sql.functions.struct(col("s"), col("t")), n)
    val bytes = bloom.fold(-1)(_.value.length)
    assert(bytes > 8000000, s"bloom still clamped to $bytes bytes")
    // 1M non-member pairs (reversed arcs are never inserted)
    val probes = spark.range(1000000L)
      .select((col("id") * 2 + 1).as("b"), (col("id") * 2).as("c"))
    val fp = probes.filter(BloomExpressions.mightContain(bloom,
        org.apache.spark.sql.functions.struct(col("b"), col("c"))))
      .count()
    assert(fp < 30000, s"false-positive rate ${fp / 10000.0}% — filter saturated")
    // and every true member passes (no false negatives, ever)
    val tn = arcs.limit(100000)
      .filter(BloomExpressions.mightContain(bloom,
        org.apache.spark.sql.functions.struct(col("s"), col("t"))))
      .count()
    assert(tn == 100000L, s"bloom dropped true members: $tn")
  }

  test("x257 resource allocation: 1/deg terms on the same planted square-with-diagonal (vs x132)") {
    import spark.implicits._
    // same geometry as the x132 fixture: diagonal (1,3) has two
    // deg-2 witnesses (term 500000); rim edges one deg-3 witness
    // (term 333333) — RA separates them harder than AA does
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)).toDF("u", "v")
    val got = graft.ext.Graph.resourceAllocFrom(
      graft.ext.Graph.orientByDegree(edges), graft.ext.Graph.degrees(edges))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      (1L, 2L) -> ((1L, 333333L)), (2L, 3L) -> ((1L, 333333L)),
      (3L, 4L) -> ((1L, 333333L)), (1L, 4L) -> ((1L, 333333L)),
      (1L, 3L) -> ((2L, 1000000L))), s"got $got")
    // corpus: ra-desc ordered; every witness has deg >= 2, so each
    // term <= 500000 and ra_fp <= cn * 500000
    val top = graft.ext.Graph.queries("x257_resource_alloc")(spark, SfDir).collect()
    assert(top.nonEmpty && top.length <= 20)
    val ras = top.map(_.getLong(3)).toList
    assert(ras == ras.sortBy(-_))
    top.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(3) > 0 &&
        r.getLong(3) <= r.getLong(2) * 500000L)
    }
  }

  test("x258 lexical richness: hand-computed constants on a 4-type fixture, all-hapax guards honore") {
    import spark.implicits._
    // freqs {1,1,2,3}: V=4, N=7, V1=2, V2=1 -> C = ln4/ln7 =
    // 0.712414..., R = 4/sqrt(7), S = 0.25, H = 100 ln7 / 0.5
    val wf = Seq(("a", "w1", 1L), ("a", "w2", 1L), ("a", "w3", 2L),
      ("a", "w4", 3L)).toDF("source", "w", "freq")
    val r = graft.ext.TextAnalysis.lexicalRichnessFromFreq(wf).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 7L &&
      r.getLong(3) == 2L && r.getLong(4) == 1L, s"counts: $r")
    assert(math.abs(r.getDouble(5) - math.log(4.0) / math.log(7.0)) < 1e-6,
      s"herdan: $r")
    assert(math.abs(r.getDouble(6) - 4.0 / math.sqrt(7.0)) < 1e-6,
      s"guiraud: $r")
    assert(r.getDouble(7) == 0.25, s"sichel: $r")
    assert(math.abs(r.getDouble(8) - 200.0 * math.log(7.0)) < 1e-3,
      s"honore: $r")
    // all-hapax source: H undefined (v1 = vocab), C/R/S still read
    val hap = graft.ext.TextAnalysis.lexicalRichnessFromFreq(
      Seq(("b", "w1", 1L), ("b", "w2", 1L)).toDF("source", "w", "freq"))
      .collect()(0)
    assert(hap.isNullAt(8) && !hap.isNullAt(5), s"hapax: $hap")
    val c = graft.ext.TextAnalysis.queries("x258_lexical_richness")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.getDouble(5) > 0.0 &&
      r.getDouble(5) < 1.0), s"corpus richness: ${c.toSeq}")
  }

  test("x259 chrf pairs: identical texts read 1, disjoint trigrams read 0, corpus pairs match x239's keys") {
    import spark.implicits._
    val d = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "abcd"), (4L, "abXd"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = graft.ext.Dedup.chrfOnPairs(d, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(got((1L, 2L)) == 1.0 && got((3L, 4L)) == 0.0, s"fixture: $got")
    val c = graft.ext.Dedup.queries("x259_chrf_pairs")(spark, SfDir)
      .collect()
    val bleuKeys = graft.ext.Dedup.queries("x239_bleu_pairs")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c.map(r => (r.getLong(0), r.getLong(1))).toSet == bleuKeys,
      "chrF must grade exactly the x239 pair set")
    assert(c.forall(r => r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0),
      s"corpus chrf range")
  }

  test("pair-grader member gate: skip at full coverage is output-identical, low coverage keeps the semi-join (x239/x259)") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"),
      (4L, "x y z w k")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    // members = all 4 docs of a 4-doc corpus -> coverage 1.0 >= 0.9:
    // the gate drops the semi-join; rows must be identical to the
    // filtered (nDocs unknown) path for every grader
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(graft.ext.Dedup.bleuOnPairs(d, pairs, nDocs = 4L)) ==
      rows(graft.ext.Dedup.bleuOnPairs(d, pairs)),
      "bleu gate changed rows")
    assert(rows(graft.ext.Dedup.chrfOnPairs(d, pairs, nDocs = 4L)) ==
      rows(graft.ext.Dedup.chrfOnPairs(d, pairs)),
      "chrf gate changed rows")
    assert(rows(graft.ext.Dedup.rougeOnPairs(d, pairs, nDocs = 4L)) ==
      rows(graft.ext.Dedup.rougeOnPairs(d, pairs)),
      "rouge gate changed rows")
    // plan form: full coverage has no member semi-join; a corpus whose
    // pairs cover a minority of docs keeps it (the r18 matched A/B:
    // the filter bounds the gram tables both intersection legs scan)
    val skipPlan = graft.ext.Dedup.chrfOnPairs(d, pairs, nDocs = 4L)
      .queryExecution.executedPlan.toString
    assert(!skipPlan.contains("LeftSemi"),
      s"full-coverage gate still member-filters:\n$skipPlan")
    val wide = Seq.tabulate(40)(i => (100L + i, s"filler doc $i body"))
      .toDF("doc_id", "text").unionByName(d)
    val keepPlan = graft.ext.Dedup.chrfOnPairs(wide, pairs, nDocs = 44L)
      .queryExecution.executedPlan.toString
    assert(keepPlan.contains("LeftSemi"),
      s"low-coverage gate dropped the member filter:\n$keepPlan")
  }

  test("x267 lsh s-curve: rates bounded, theory anchored at the bin centers, recall rises with jaccard") {
    val rows = graft.ext.Dedup.queries("x267_lsh_s_curve")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty, "no s-curve bins")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"cand <= pairs: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, s"rate: $r")
      // theory recomputes from the bin center by multiplication
      val s = (r.getInt(0) + 0.5) / 10.0
      val t = 1.0 - s * s
      val exp = BigDecimal(1.0 - t * t * t * t)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == exp, s"theory: $r vs $exp")
    }
    // empirically the curve must RISE: the top populated bin recalls
    // at least as well as the bottom one
    val first = rows.head
    val last = rows.last
    assert(last.getDouble(3) >= first.getDouble(3),
      s"monotone ends: ${first} vs ${last}")
  }

  test("x272 kr20: perfectly correlated gates read 1, zero-covariance gates read 0") {
    import spark.implicits._
    val perfect = Seq((1L, 1L, 1L), (0L, 0L, 0L), (1L, 1L, 1L))
      .toDF("a", "b", "c")
    val p = graft.ext.TextAnalysis.kr20FromItems(perfect).collect()(0)
    assert(p.getDouble(4) == 1.0, s"perfect: $p")
    // pairwise-balanced items with constant-ish totals: num = den
    val zero = Seq((1L, 1L, 0L), (1L, 0L, 1L), (0L, 1L, 1L), (0L, 0L, 0L))
      .toDF("a", "b", "c")
    val z = graft.ext.TextAnalysis.kr20FromItems(zero).collect()(0)
    assert(z.getDouble(4) == 0.0, s"zero: $z")
    // constant totals -> zero variance -> NULL guard
    val const = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L))
      .toDF("a", "b", "c")
    val k = graft.ext.TextAnalysis.kr20FromItems(const).collect()(0)
    assert(k.isNullAt(4), s"const: $k")
    val c = graft.ext.TextAnalysis.queries("x272_kr20_alpha")(spark, SfDir)
      .collect()(0)
    assert(c.getLong(0) > 0L && (!c.isNullAt(4)) &&
      c.getDouble(4) <= 1.0, s"corpus kr20: $c")
  }

  test("x273 fleiss kappa: unanimous votes read 1, split votes read below 0") {
    import spark.implicits._
    val perfect = Seq((1L, 1L, 1L), (0L, 0L, 0L), (1L, 1L, 1L))
      .toDF("a", "b", "c")
    val p = graft.ext.TextAnalysis.fleissKappaFromItems(perfect).collect()(0)
    assert(p.getDouble(2) == 1.0 && p.getDouble(3) == 1.0, s"perfect: $p")
    // every doc splits 2-1: P_i = 1/3 for all, P_e = 1/2 at p = 1/2
    val split = Seq((1L, 1L, 0L), (0L, 0L, 1L)).toDF("a", "b", "c")
    val s = graft.ext.TextAnalysis.fleissKappaFromItems(split).collect()(0)
    assert(math.abs(s.getDouble(2) - 1.0 / 3.0) < 1e-6 &&
      s.getDouble(3) < 0.0, s"split: $s")
    val c = graft.ext.TextAnalysis.queries("x273_fleiss_kappa")(spark, SfDir)
      .collect()(0)
    assert(!c.isNullAt(3) && c.getDouble(3) <= 1.0, s"corpus fleiss: $c")
  }

  test("x274 diversity partition: disjoint equal sources read beta = ln 2 and turnover 2") {
    import spark.implicits._
    val wf = Seq(("a", "w1", 1L), ("a", "w2", 1L),
      ("b", "w3", 1L), ("b", "w4", 1L)).toDF("source", "w", "freq")
    val r = graft.ext.TextAnalysis.diversityPartitionFromFreq(wf).collect()(0)
    assert(math.abs(r.getDouble(1) - math.log(4.0)) < 1e-6, s"gamma: $r")
    assert(math.abs(r.getDouble(2) - math.log(2.0)) < 1e-6, s"alpha: $r")
    assert(math.abs(r.getDouble(3) - math.log(2.0)) < 1e-6 &&
      r.getDouble(4) == 2.0, s"beta/turnover: $r")
    // one source: beta = 0, turnover 1
    val one = graft.ext.TextAnalysis.diversityPartitionFromFreq(
      Seq(("a", "w1", 2L), ("a", "w2", 1L)).toDF("source", "w", "freq"))
      .collect()(0)
    assert(one.getDouble(3) == 0.0 && one.getDouble(4) == 1.0, s"one: $one")
    val c = graft.ext.TextAnalysis.queries("x274_diversity_partition")(spark, SfDir)
      .collect()(0)
    assert(c.getDouble(3) >= 0.0 &&
      c.getDouble(4) >= 1.0 && c.getDouble(4) <= c.getLong(0).toDouble,
      s"corpus diversity: $c")
  }

  test("x133 KS drift: sup distance matches an exact in-process recount, critical-value chain agrees") {
    val rows = graft.pipeline.Views.queries("x133_ks_drift")(spark, SfDir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(rows.nonEmpty)
    // recount from the same projection (the bucket/half mapping is
    // pinned cross-engine by the oracle; this pins the window/sup
    // machinery against a sequential recompute)
    val ev = graft.sources.Lake.table(spark, SfDir, "events")
      .select(col("event_type"),
        when(col("ts") < lit("2024-01-13").cast("timestamp"), lit(1L))
          .otherwise(lit(0L)).as("is_ref"),
        greatest(least(floor(col("value")).cast("long"), lit(499L)), lit(0L)).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.keySet == ev.map(_._1).toSet)
    ev.groupBy(_._1).foreach { case (t, xs) =>
      val nr = xs.count(_._2 == 1L).toLong
      val nc = xs.size - nr
      var (cumR, cumC, dNum) = (0L, 0L, 0L)
      xs.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (_, bs) =>
        cumR += bs.count(_._2 == 1L); cumC += bs.count(_._2 == 0L)
        dNum = math.max(dNum, math.abs(cumR * nc - cumC * nr))
      }
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val ks = r4(dNum.toDouble / (nr * nc).toDouble)
      val crit = r4(1.358 * math.sqrt((nr + nc).toDouble / (nr * nc).toDouble))
      val (gnr, gnc, gks, gcrit, gdrift) = rows(t)
      assert(gnr == nr && gnc == nc, s"$t: totals ($gnr,$gnc) vs ($nr,$nc)")
      assert(math.abs(gks - ks) < 1e-12 && math.abs(gcrit - crit) < 1e-12,
        s"$t: ks/crit ($gks,$gcrit) vs ($ks,$crit)")
      assert(gdrift == (gks > gcrit) && gks >= 0.0 && gks <= 1.0)
    }
  }

  test("x146 mann-whitney: planted separation and ties give the textbook U; the exact flag decides the 1.96 knife-edge") {
    import spark.implicits._
    // "sep": ref {1,2,3} / cur {4,5,6} — total separation, 2U = 18,
    // AUC = 1.0, and z = 9/(2·sqrt(63/12)) = 1.9640 sits just past
    // 1.96: the cross-multiplied flag must fire on exact integers
    // (30000·81 = 2,430,000 > 38416·63 = 2,420,208)
    // "tie": ref {1,2} / cur {2,3} — U = 3.5 via the half-tie, no drift
    val cnt = Seq(
      ("sep", "ref", 1L, 1L), ("sep", "ref", 2L, 1L), ("sep", "ref", 3L, 1L),
      ("sep", "cur", 4L, 1L), ("sep", "cur", 5L, 1L), ("sep", "cur", 6L, 1L),
      ("tie", "ref", 1L, 1L), ("tie", "ref", 2L, 1L),
      ("tie", "cur", 2L, 1L), ("tie", "cur", 3L, 1L)
    ).toDF("event_type", "half", "bucket", "c")
    val got = graft.pipeline.Views.mwReportFromCounts(cnt)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6))).toMap
    assert(got("sep") == (3L, 3L, 18L, 1.0, 1.964, true), s"sep: ${got("sep")}")
    val (tnr, tnc, tu2, tauc, _, tdrift) = got("tie")
    assert((tnr, tnc, tu2, tauc, tdrift) == (2L, 2L, 7L, 0.875, false),
      s"tie: ${got("tie")}")
    // lake surface: per type, AUC in [0,1], u2 inside its hull, and
    // the flag consistent with the published z at 4 dp away from the
    // knife edge
    val lake = graft.pipeline.Views.queries("x146_mannwhitney_drift")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(lake.nonEmpty)
    lake.foreach { case (t, nr, nc, u2, auc, z, drift) =>
      assert(u2 >= 0L && u2 <= 2L * nr * nc, s"$t: u2 hull")
      assert(auc >= 0.0 && auc <= 1.0, s"$t: auc range")
      if (math.abs(math.abs(z) - 1.96) > 0.001)
        assert(drift == (math.abs(z) > 1.96), s"$t: flag vs z")
    }
  }

  test("x147 isotropy: the sum-vector identity reproduces the brute-force pair sum exactly") {
    import spark.implicits._
    // planted: q1=(1,0), q2=(0,1), q3=(1,1) → ‖Σq‖²=8, Σ‖q‖²=4,
    // ordered pair sum = 4 over n(n−1)=6
    val q = Seq((1L, Seq(1L, 0L)), (2L, Seq(0L, 1L)), (3L, Seq(1L, 1L)))
      .toDF("vec_id", "qv")
    val got = Similarity.isotropyReport(q).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getDouble(3), got.getDouble(4)) == (3L, 8L, 4L, 0.6667, 0.5),
      s"got $got")
    // identity cross-check on a second, asymmetric cloud: brute-force
    // all ordered pairs in-process and compare to the linear-pass form
    val vecs = Seq(Seq(3L, 1L, 4L), Seq(1L, 5L, 9L), Seq(2L, 6L, 5L),
      Seq(3L, 5L, 8L))
    val brute = (for {
      a <- vecs; b <- vecs if a != b
    } yield a.zip(b).map { case (x, y) => x * y }.sum).sum
    // a == b compares by content; the planted vectors are distinct so
    // the guard excludes exactly the diagonal
    val q2 = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "qv")
    val r2 = Similarity.isotropyReport(q2).collect().head
    assert(r2.getLong(1) - r2.getLong(2) == brute,
      s"identity: ${r2.getLong(1)} - ${r2.getLong(2)} vs brute $brute")
    // lake surface: one row, n = corpus size, all-positive grid keeps
    // the readouts in (0, 1] territory
    val lake = Similarity.queries("x147_isotropy")(spark, SfDir).collect()
    assert(lake.length == 1)
    val n = graft.sources.Lake.table(spark, SfDir, "embeddings").count()
    assert(lake.head.getLong(0) == n)
    val aniso = lake.head.getDouble(4)
    assert(aniso > 0.0 && aniso <= 1.0, s"anisotropy out of band: $aniso")
  }

  test("x148 kneser-ney: planted continuation counts hit the hand-computed rationals") {
    import spark.implicits._
    // corpus: (the,cat)x2, (the,dog)x1, (san,francisco)x1 →
    // nbi=3, cw1(the)=3, n1f(the)=2, n1p each 1
    val bfd = Seq((1L, "the", "cat", 1L), (3L, "the", "cat", 1L),
      (2L, "the", "dog", 1L), (4L, "san", "francisco", 1L))
      .toDF("doc_id", "w1", "w2", "bf")
    val got = TextAnalysis.knFromBigrams(bfd).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // P(cat|the) = 21/36, P(dog|the) = 9/36, P(francisco|san) = 6/12
    assert(got(1L) == (1L, -0.539), s"doc1 ${got(1L)}")
    assert(got(2L) == (1L, -1.3863), s"doc2 ${got(2L)}")
    assert(got(4L) == (1L, -0.6931), s"doc4 ${got(4L)}")
    // the KN point: same corpus count (1), but the once-seen bigram
    // whose CONTEXT is unambiguous scores above the one competing
    // with a frequent continuation
    assert(got(4L)._2 > got(2L)._2)
    // lake surface: every doc with >= 2 tokens scored, scores <= 0
    val lake = TextAnalysis.queries("x148_kneser_ney")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty)
    lake.foreach(r => assert(r.getDouble(2) <= 0.0 && r.getLong(1) > 0L))
  }

  test("x149 ece: bins partition the events, confidences sit inside their bins, ece is one consistent number") {
    val lake = Sampling.queries("x149_ece_calibration")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(lake.nonEmpty && lake.length <= 10)
    val nEvents = graft.sources.Lake.table(spark, SfDir, "events").count()
    assert(lake.map(_._2).sum == nEvents, "bins must partition the events")
    val eces = lake.map(_._7).distinct
    assert(eces.length == 1 && eces.head >= 0.0 && eces.head <= 1.0)
    lake.foreach { case (bin, n, nPos, conf, acc, gap, _) =>
      assert(bin >= 0L && bin <= 9L)
      assert(nPos <= n && acc >= 0.0 && acc <= 1.0)
      // width-0.1 bins; the top bin also holds 1.0
      assert(conf >= bin * 0.1 - 1e-4 && conf <= (bin + 1) * 0.1 + 1e-4,
        s"bin $bin: conf $conf outside its bin")
      assert(math.abs(gap - (acc - conf)) < 2e-4, s"bin $bin: gap vs acc-conf")
    }
  }

  test("x150 fellegi-sunter: planted marginals hit the hand-computed ln(m/u) weights") {
    import spark.implicits._
    // 4 docs: en/web/0, en/web/0, fr/book/1, en/book/0 → N=4, N²=16,
    // ul=9+1=10, us=4+4=8, ub=9+1=10; confident subset = {(1,2)} with
    // all three fields agreeing → mn=1, m*=1
    val meta = Seq((1L, "en", "web", 0L), (2L, "en", "web", 0L),
      (3L, "fr", "book", 1L), (4L, "en", "book", 0L))
      .toDF("doc_id", "lang", "source", "len_b")
    val cand = Seq((1L, 2L, 0.9), (3L, 4L, 0.3))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.fellegiSunter(cand, meta).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getLong(5)))
      .toMap
    // wA_lang = ln(2·18/(3·11)) → 87011; wA_source = ln(4/3) → 287682;
    // wD_lang = ln(6/7) → −154151 (len shares lang's marginal shape)
    assert(got((1L, 2L)) == (true, true, true, 461704L),
      s"full-agree pair: ${got((1L, 2L))}")
    assert(got((3L, 4L)) == (false, true, false, -20620L),
      s"mixed pair: ${got((3L, 4L))}")
    // lake surface: descending scores, agreement booleans present
    val lake = Dedup.queries("x150_record_linkage")(spark, SfDir)
      .collect().map(_.getLong(5))
    assert(lake.nonEmpty && lake.length <= 20)
    assert(lake.sliding(2).forall(p => p.head >= p.last),
      "scores must be sorted desc")
  }

  test("x151 rich club: the planted clique-plus-leaves graph isolates the hub clique at p50") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus leaves 5→1, 6→2: degrees [4,4,3,3,1,1] →
    // k50=3 (club {1,2}, 1 internal edge, φ=1), k75=k90=4 (empty club)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (2L, 6L)).toDF("u", "v")
    val got = graft.ext.Graph.richClub(edges, graft.ext.Graph.degrees(edges))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(got.toSeq == Seq(("p50", 3L, 2L, 1L, Some(1.0)),
      ("p75", 4L, 0L, 0L, None), ("p90", 4L, 0L, 0L, None)),
      s"got ${got.toSeq}")
    // lake surface: the 3-level spine always reports, φ in [0,1]
    val lake = graft.ext.Graph.queries("x151_rich_club")(spark, SfDir)
      .collect()
    assert(lake.length == 3)
    lake.foreach { r =>
      if (!r.isNullAt(4)) {
        val p = r.getDouble(4); assert(p >= 0.0 && p <= 1.0, s"phi $p")
      }
    }
  }

  test("x240 k-truss: a K4 survives, a pendant triangle peels in round 1") {
    import spark.implicits._
    // K4 on {1,2,3,4}: every edge in 2 triangles → survives 4-truss;
    // triangle {4,5,6}: support 1 per edge → peeled in round 1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val got = graft.ext.Graph.trussRounds(
      graft.ext.Graph.orientByDegree(edges), k = 4).collect()
    assert(got.length == 2, s"two rounds expected: ${got.toSeq}")
    assert(got(0).getLong(2) == 9L && got(0).getLong(3) == 6L,
      s"round 1 must peel the pendant triangle: ${got(0)}")
    assert(got(1).getLong(2) == 6L && got(1).getLong(3) == 6L,
      s"round 2 must be a fixed point on K4: ${got(1)}")
    // corpus: monotone contraction, k recorded
    val c = graft.ext.Graph.queries("x240_ktruss")(spark, SfDir).collect()
    assert(c.length == 2 && c.forall(r => r.getLong(3) <= r.getLong(2)) &&
      c(1).getLong(2) == c(0).getLong(3), s"corpus truss: ${c.toSeq}")
  }

  test("x241 hubness: hand-computed moments on a planted in-degree multiset") {
    import spark.implicits._
    // d = [0,0,3,1]: mu = 1, m2 = 1.5, m3 = 1.5, g1 = 1/sqrt(1.5)
    val r = graft.ext.Similarity.hubnessFromInDegrees(
      Seq(0L, 0L, 3L, 1L).toDF("d")).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 3L,
      s"moments: $r")
    assert(math.abs(r.getDouble(3) - 1.0 / math.sqrt(1.5)) < 1e-6,
      s"g1: $r")
    // corpus: every vec_id < 300 counted (zero-filled), sum of
    // in-degrees = number of graph edges
    val c = graft.ext.Similarity.queries("x241_hubness")(spark, SfDir)
      .collect()(0)
    val nNodes = graft.sources.Lake.table(spark, SfDir, "embeddings")
      .filter(col("vec_id") < 300).count()
    assert(c.getLong(0) == nNodes && c.getLong(1) >= 0L,
      s"corpus hubness: $c vs $nNodes nodes")
  }

  test("x238 yule's k: hand-computed frequency spectrum, K invariant under corpus doubling") {
    import spark.implicits._
    // "a a a b": freqs {3, 1} → S2 = 10, N = 4, K = 10⁴·6/16 = 3750
    val wf = Seq(("s", "a", 3L), ("s", "b", 1L))
    val r = graft.ext.TextAnalysis.yulesKFromFreq(
      wf.toDF("source", "w", "freq")).collect()(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 4L &&
      r.getDouble(3) == 3750.0, s"K fixture: $r")
    // doubling every frequency: {6,2} → S2 = 40, N = 8,
    // K = 10⁴·32/64 = 5000 — K drifts toward its large-N limit
    // (10⁴·S2/N² = 6250 for this spectrum) instead of halving the
    // way TTR does (0.5 → 0.25)
    val doubled = graft.ext.TextAnalysis.yulesKFromFreq(
      wf.map { case (s, w, f) => (s, w, f * 2) }.toDF("source", "w", "freq"))
      .collect()(0)
    assert(doubled.getDouble(3) == 5000.0, s"doubled-freq K: $doubled")
    // corpus: one row per source, K >= 0 on natural-ish text
    val c = graft.ext.TextAnalysis.queries("x238_yules_k")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(_.getDouble(3) >= 0.0), s"corpus K: ${c.toSeq}")
  }

  test("x239 bleu: textbook clipped precisions and brevity penalty on a planted pair") {
    import spark.implicits._
    val d = Seq((1L, "the cat sat on the mat"),
      (2L, "the cat sat on mat")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = graft.ext.Dedup.bleuOnPairs(d, pairs).collect()(0)
    // clip1 = 5 (the:1 cat sat on mat), clip2 = 3 (the cat, cat sat,
    // sat on); BP = e^(1-6/5); bleu = BP·sqrt(1·0.75)
    assert(r.getLong(2) == 6L && r.getLong(3) == 5L &&
      r.getLong(4) == 5L && r.getLong(5) == 3L, s"clip counts: $r")
    val expect = math.exp(1.0 - 6.0 / 5.0) * math.sqrt(1.0 * 0.75)
    assert(math.abs(r.getDouble(6) - expect) < 1e-6, s"bleu: $r vs $expect")
    // identical texts read BLEU 1 exactly
    val same = graft.ext.Dedup.bleuOnPairs(
      Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text"),
      Seq((1L, 2L)).toDF("doc_a", "doc_b")).collect()(0)
    assert(same.getDouble(6) == 1.0, s"identical pair: $same")
    // corpus: every x05 pair graded, bleu in [0, 1]
    val c = graft.ext.Dedup.queries("x239_bleu_pairs")(spark, SfDir)
      .collect()
    val n05 = graft.ext.Dedup.queries("x05_dedup_ngram_jaccard")(spark, SfDir)
      .count()
    assert(c.length.toLong == n05 &&
      c.forall(r => r.isNullAt(6) ||
        (r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0 + 1e-9)),
      s"corpus bleu rows ${c.length} vs x05 $n05")
  }

  test("x236 ljung-box: alternating series reads Q = 16 exactly-ish; constant series guards NULL") {
    import spark.implicits._
    // [1,2,1,2,1,2]: c = ±3, den = 54, num = (-45, 36, -27) →
    // Q = 6·8·(2025/(54²·5) + 1296/(54²·4) + 729/(54²·3)) = 16
    val daily = Seq(("a", 0, 1L), ("a", 1, 2L), ("a", 2, 1L),
      ("a", 3, 2L), ("a", 4, 1L), ("a", 5, 2L),
      ("b", 0, 5L), ("b", 1, 5L), ("b", 2, 5L), ("b", 3, 5L),
      ("b", 4, 5L)).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.ljungBoxReport(daily).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(math.abs(got("a").getDouble(2) - 16.0) < 1e-4 &&
      got("a").getBoolean(3), s"alternating Q: ${got("a")}")
    assert(got("b").isNullAt(2) && got("b").isNullAt(3),
      s"zero-variance series must guard to NULL: ${got("b")}")
    // lake: one row per type, Q >= 0
    val lake = graft.pipeline.Views.queries("x236_ljung_box")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty &&
      lake.forall(r => r.isNullAt(2) || r.getDouble(2) >= 0.0),
      s"lake Q: ${lake.toSeq}")
  }

  test("x237 runs test: hand-counted runs on a planted series, median days dropped") {
    import spark.implicits._
    // values [1,5,2,6,3,7], disc median 3 dropped → signs 0,1,0,1,1:
    // runs = 4, n_pos = 3, n_neg = 2, z = (4-3.4)/sqrt(0.84)
    val daily = Seq(("a", 0, 1L), ("a", 1, 5L), ("a", 2, 2L),
      ("a", 3, 6L), ("a", 4, 3L), ("a", 5, 7L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.runsTestReport(daily).collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 4L,
      s"runs classes: $r")
    assert(math.abs(r.getDouble(4) - 0.654654) < 1e-6, s"z: $r")
    // lake: every type reports, runs >= 1
    val lake = graft.pipeline.Views.queries("x237_runs_test")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty && lake.forall(_.getLong(3) >= 1L),
      s"lake runs: ${lake.toSeq}")
  }

  test("x152 acf: an alternating series hits the textbook lag signs; a constant series takes the NULL guard") {
    import spark.implicits._
    // [1,2,1,2]: c = [-2,2,-2,2], den = 16 → r1 = -12/16, r2 = 8/16,
    // r3 = -4/16; constant series has zero variance → NULL
    val daily = Seq(("a", 0, 1L), ("a", 1, 2L), ("a", 2, 1L), ("a", 3, 2L),
      ("b", 0, 5L), ("b", 1, 5L), ("b", 2, 5L))
      .toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.acfReport(daily).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(("a", 1)) == Some(-0.75) && got(("a", 2)) == Some(0.5) &&
      got(("a", 3)) == Some(-0.25), s"a: $got")
    assert(got(("b", 1)).isEmpty && got(("b", 2)).isEmpty,
      "constant series must guard to NULL")
    // lake surface: every type reports lags 1..3, acf in [-1, 1]
    val lake = graft.pipeline.Views.queries("x152_acf")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty && lake.length % 3 == 0)
    lake.foreach { r =>
      if (!r.isNullAt(3)) {
        val a = r.getDouble(3)
        assert(a >= -1.0001 && a <= 1.0001, s"acf out of range: $a")
      }
    }
  }

  test("x156 benford: planted digits recompute exactly; the grid makes chi2 order-free") {
    import spark.implicits._
    val vals = Seq(1.5, 19.0, 100.0, 2.7, 35.0, 0.5).toDF("value")
    val got = graft.pipeline.Views.benfordReport(vals).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // 0.5 filtered; digits 1×3, 2×1, 3×1 of N=5
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((1, 3L), (2, 1L), (3, 1L)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def p(d: Int) = math.log(1.0 + 1.0 / d) / math.log(10.0)
    def chiFp(n: Long, N: Long, d: Int): Long = {
      val ex = N.toDouble * p(d)
      math.round((n.toDouble - ex) * (n.toDouble - ex) / ex * 1000000.0)
    }
    val expChi2 = r4((chiFp(3, 5, 1) + chiFp(1, 5, 2) + chiFp(1, 5, 3)).toDouble / 1000000.0)
    got.foreach { case (d, n, share, bp, term, chi2) =>
      assert(share == r4(n.toDouble / 5.0))
      assert(bp == r4(p(d)), s"digit $d benford_p")
      assert(term == r4(chiFp(n, 5, d).toDouble / 1000000.0), s"digit $d term")
      assert(chi2 == expChi2, s"digit $d chi2")
    }
    // lake surface: 9 digit rows, shares sum to ~1, one chi2
    val lake = graft.pipeline.Views.queries("x156_benford")(spark, SfDir)
      .collect()
    assert(lake.length == 9)
    val shareSum = lake.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 0.001, s"shares sum to $shareSum")
    assert(lake.map(_.getDouble(5)).distinct.length == 1)
  }

  test("x157 weighted sample: the A-ES keys recompute exactly in-process and the top-20 agrees") {
    val d = graft.sources.Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val exp = d.collect().map { r =>
      val (id, w) = (r.getLong(0), r.getLong(1))
      val h = (id * Sampling.HashMul) % Sampling.HashMod
      val u = (2.0 * h + 1.0) / (2.0 * Sampling.HashMod)
      (id, w, math.round(math.log(u) / w * 1000000000.0))
    }
    val expTop = exp.sortBy { case (id, _, k) => (-k, id) }.take(20).toSeq
    val got = Sampling.queries("x157_weighted_sample")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expTop, s"top-20 mismatch:\n$got\nvs\n$expTop")
    // keys are strictly negative (u < 1): the max key belongs to a
    // heavy doc with a lucky u — both forces visible in the formula
    assert(got.forall(_._3 < 0L))
  }

  test("c85 sequential patterns: triple mass telescopes to sum of max(events_u - 2, 0) and the slice is ranked") {
    val rows = graft.queries.Surface.queries("c85_sequential_patterns")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_._4).sliding(2).forall(p => p.head >= p.last),
      "support must be non-increasing")
    // the top-20 can clip the tail, so check the telescoping identity
    // on the FULL triple frame: every user contributes exactly
    // max(n_u − 2, 0) triples
    val perUser = graft.sources.Lake.table(spark, SfDir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => math.max(r.getLong(1) - 2L, 0L)).sum
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tripleMass = graft.sources.Lake.table(spark, SfDir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull).count()
    assert(tripleMass == perUser,
      s"triple mass $tripleMass vs telescoped $perUser")
  }

  test("x158 mix kl: the divergence recomputes exactly and is zero only for a balanced mix") {
    val got = Sampling.queries("x158_mix_kl")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    // exact in-process recompute of the gridded chain
    val counts = got.map(g => (g._1, g._2))
    val n = counts.map(_._2).sum
    val s = counts.length
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val termFp = counts.map { case (_, c) =>
      c -> math.round(math.log(c.toDouble * s / n.toDouble) * 1000000.0)
    }
    val expKl = r4(termFp.map { case (c, t) => c * t }.sum.toDouble /
      (n.toDouble * 1000000.0))
    got.foreach { case (src, c, share, lr, kl) =>
      assert(share == r4(c.toDouble / n.toDouble), s"$src share")
      assert(kl == expKl, s"$src kl $kl vs $expKl")
    }
    assert(expKl >= 0.0, "KL must be non-negative")
  }

  test("x134 DP counts: hash-seeded Laplace noise recomputes exactly and stays inside the grid's tail bound") {
    val got = TextAnalysis.queries("x134_dp_counts")(spark, SfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val truth = graft.sources.Lake.table(spark, SfDir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == truth.keySet)
    val P = TextAnalysis.HashP
    truth.foreach { case (lang, n) =>
      val h = lang.take(TextAnalysis.HashMaxChars).zipWithIndex
        .map { case (c, i) => c.toInt * TextAnalysis.hashWeights(i) }.sum % P
      val u = (2 * h + 1).toDouble / (2 * P)
      val noise = -math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      val exp = BigDecimal(n.toDouble + noise)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (eps, noisy) = got(lang)
      assert(eps == 1.0 && math.abs(noisy - exp) < 1e-9,
        s"$lang: got $noisy exp $exp")
      // the odd grid's extreme u gives |noise| <= ln(2P) at eps=1
      assert(math.abs(noisy - n) <= math.log(2.0 * P) + 0.01)
    }
    assert(truth.exists { case (l, n) => math.abs(got(l)._2 - n) > 0.005 },
      "the mechanism must actually perturb at least one cell")
  }

  test("x135 gopher rules: planted corpus kill counts match a rule-by-rule recompute") {
    import spark.implicits._
    val docs = Seq(
      "a the " + Seq.fill(60)("word").mkString(" "),              // clean pass
      "a the word",                                               // too short
      "a the " + Seq.fill(60)("extraordinarily").mkString(" "),   // mean word len > 10
      "a the " + (Seq.fill(50)("word") ++ Seq.fill(12)("#tag")).mkString(" "), // symbol ratio
      "a the " + (Seq.fill(40)("word") ++ Seq.fill(20)("12345")).mkString(" "), // non-alpha words
      Seq.fill(60)("word").mkString(" "),                         // no stopwords
      Seq.fill(10)("- a the words words words").mkString("\n"),   // all-bullet lines
      Seq.fill(10)("a the " + Seq.fill(9)("word").mkString(" ") + " etc...")
        .mkString("\n"),                                          // all lines end ...
      ("a the " + Seq.fill(94)("word").mkString(" ") + "\n") * 3 + "a the tail" // multi-line clean
    ).toDF("text")
    // independent recompute of the seven published rules
    case class F(wc: Boolean, mwl: Boolean, sym: Boolean, bul: Boolean,
      ell: Boolean, alpha: Boolean, stop: Boolean)
    val fs = docs.collect().map(_.getString(0)).map { t =>
      val w = t.split(" ", -1)
      val l = t.split("\n", -1)
      val totLen = t.replace(" ", "").length.toLong
      val nW = w.length.toLong
      F(nW < 50 || nW > 100000,
        !(3 * nW <= totLen && totLen <= 10 * nW),
        w.count(x => x.contains("#") || x.contains("...")) * 10 > nW,
        l.count(x => x.startsWith("-") || x.startsWith("*") || x.startsWith("•")) * 10 > l.length * 9L,
        l.count(_.endsWith("...")) * 10 > l.length * 3L,
        w.count(_.exists(_.isLetter)) * 5 < nW * 4,
        TextAnalysis.EnStopwords.count(w.contains) < 2)
    }
    val r = TextAnalysis.gopherReport(docs).collect().head
    assert(r.getLong(0) == fs.length)
    assert(r.getLong(1) == fs.count(_.wc), "word count kills")
    assert(r.getLong(2) == fs.count(_.mwl), "mean word len kills")
    assert(r.getLong(3) == fs.count(_.sym), "symbol ratio kills")
    assert(r.getLong(4) == fs.count(_.bul), "bullet line kills")
    assert(r.getLong(5) == fs.count(_.ell), "ellipsis line kills")
    assert(r.getLong(6) == fs.count(_.alpha), "alpha word kills")
    assert(r.getLong(7) == fs.count(_.stop), "stopword kills")
    assert(r.getLong(8) == fs.count(f =>
      !f.wc && !f.mwl && !f.sym && !f.bul && !f.ell && !f.alpha && !f.stop))
    // every planted rule fires somewhere and the clean docs survive
    assert(fs.count(_.wc) >= 1 && fs.count(_.mwl) >= 1 && fs.count(_.sym) >= 1
      && fs.count(_.bul) >= 1 && fs.count(_.ell) >= 1
      && fs.count(_.alpha) >= 1 && fs.count(_.stop) >= 1)
    assert(r.getLong(8) >= 2)
    // registry surface: report covers the whole corpus
    val lake = TextAnalysis.queries("x135_gopher_rules")(spark, SfDir).collect().head
    val nDocs = graft.sources.Lake.table(spark, SfDir, "documents").count()
    assert(lake.getLong(0) == nDocs && lake.getLong(8) > 0)
  }

  test("c84 kaplan-meier: planted subjects reproduce the hand-computed product-limit curve, censoring respected") {
    import spark.implicits._
    // events at t=5 (x2), 10, 23; censored at 28 (x2) — they thin the
    // risk set without being events, the thing KM exists to get
    // right; a final lone death at 30 exhausts the risk set and must
    // take the ln(0) sentinel to S=0
    val subj = Seq(
      (5L, true), (5L, true), (10L, true), (23L, true),
      (28L, false), (28L, false), (30L, true)
    ).toDF("t_day", "died")
    val got = graft.queries.Surface.kaplanMeier(subj)
      .orderBy(col("t_day")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // S(5)=5/7, S(10)=5/7*4/5, S(23)=...*3/4, S(30)=0 (1/1 dies)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (5L, 7L, 2L, 0L, r4(5.0 / 7)),
      (10L, 5L, 1L, 0L, r4(4.0 / 7)),
      (23L, 4L, 1L, 0L, r4(3.0 / 7)),
      (30L, 1L, 1L, 0L, 0.0)), s"got ${got.toSeq}")
    // lake surface: survival is a non-increasing (0,1] step function
    // over a shrinking risk set
    val lake = graft.queries.Surface.queries("c84_kaplan_meier")(spark, SfDir)
      .collect().map(r => (r.getLong(1), r.getDouble(4)))
    assert(lake.nonEmpty)
    val survs = lake.map(_._2).toList
    assert(survs == survs.sortBy(-_), "S(t) must be non-increasing")
    assert(survs.forall(s => s >= 0.0 && s <= 1.0))
    val risks = lake.map(_._1).toList
    assert(risks == risks.sortBy(-_), "risk set must shrink over time")
  }

  test("x136 simpson diversity: monolingual zero, planted two-lang mix exact, lake report partitions the corpus") {
    import spark.implicits._
    val planted = (Seq.fill(5)(("mono", "en")) ++
      Seq.fill(3)(("mix", "en")) ++ Seq.fill(2)(("mix", "fr")))
      .map { case (s, l) => (s, l, "w") }.toDF("source", "lang", "text")
    val byS = TextAnalysis.queries("x136_simpson_diversity")
    // drive the same aggregation shape directly on the planted frame
    val got = planted.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("n") * (col("n") - 1)).as("pairs_same"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(lit(1.0) - col("pairs_same").cast("double") /
          (col("n_docs") * (col("n_docs") - 1)).cast("double"), 4).as("simpson"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("mono") == ((5L, 1L, 0.0)), s"got ${got("mono")}")
    // mix: 1 - (3*2 + 2*1)/(5*4) = 1 - 8/20 = 0.6
    assert(got("mix") == ((5L, 2L, 0.6)), s"got ${got("mix")}")
    val lake = byS(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = graft.sources.Lake.table(spark, SfDir, "documents").count()
    assert(lake.map(_._2).sum == nDocs, "per-source counts partition the corpus")
    lake.foreach { case (s, n, nl, d) =>
      assert(d >= 0.0 && d < 1.0, s"$s: simpson in [0,1)")
      if (nl == 1) assert(d == 0.0, s"$s: monolingual must read 0")
    }
  }

  test("x137 knn graph: planted clusters link within themselves, symmetry of the undirected candidates holds") {
    import spark.implicits._
    // two tight clusters along orthogonal axes (plus per-id jitter in
    // a third dim so vectors are distinct): every node's nearest
    // neighbors must be its own cluster — orthogonal vectors hash to
    // different signs on most planes AND score cosine ~0 even when
    // they collide
    def v(axis: Int, id: Long) = {
      val base = Array.fill(8)(0.0)
      base(axis) = 1.0
      base(7) = 0.001 * id
      base
    }
    val e = ((0L to 3L).map(i => (i, v(0, i))) ++
      (10L to 13L).map(i => (i, v(3, i)))).toDF("vec_id", "vec")
    val got = Similarity.knnGraph(e, k = 3, nBits = 8, nTables = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val cluster = (id: Long) => if (id < 10) 0 else 1
    got.foreach { case (src, _, dst, cos) =>
      assert(cluster(src) == cluster(dst),
        s"$src -> $dst crosses clusters (cos $cos)")
      assert(cos > 0.99, s"$src -> $dst: intra-cluster cosine must be ~1")
    }
    // per-src ranks are dense from 1 and cos non-increasing
    got.groupBy(_._1).foreach { case (src, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1 to rows.length).toSeq)
      val coss = byRk.map(_._4).toList
      assert(coss == coss.sortBy(-_), s"$src: cos must rank descending")
    }
    // undirected candidate symmetry: if a lists b among its k, b's
    // candidate set contains a (it may fall off b's top-k only when
    // b has more than k candidates — with cluster size 4 and k=3 the
    // reverse edge must be present)
    val edges = got.map(r => (r._1, r._3)).toSet
    edges.foreach { case (a, b) => assert(edges.contains((b, a)),
      s"missing reverse edge ($b, $a)") }
  }

  test("x138 cusum: a planted level shift accumulates to an alarm a per-point threshold never sees") {
    import spark.implicits._
    // 10 days at 10 then 10 days at 20: every single day is close to
    // the overall mean (15), but the drawup accumulates through the
    // second half and crosses the 2-days'-mass bar on day 16
    val daily = ((0L to 9L).map(d => ("a", d, 10L)) ++
      (10L to 19L).map(d => ("a", d, 20L))).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.cusumReport(daily)
      .orderBy(col("day")).collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    // exact recompute: total=300, n_days=20, dev = 20x-300
    var (s, sMin, sMax) = (0L, Long.MaxValue, Long.MinValue)
    val exp = (0L to 19L).map { d =>
      val x = if (d < 10) 10L else 20L
      s += x * 20 - 300
      sMin = math.min(sMin, s); sMax = math.max(sMax, s)
      def r2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      (d, r2((s - sMin) / 20.0), r2((sMax - s) / 20.0), s - sMin > 600)
    }
    assert(got.toSeq == exp, s"got ${got.toSeq}\nexp $exp")
    // the alarm fires in the shifted half only, and not on day one of it
    assert(!exp.take(12).exists(_._4) && exp.drop(16).forall(_._4))
    // registry surface: bounded day frame, both sides non-negative
    val lake = graft.pipeline.Views.queries("x138_cusum_anomaly")(spark, SfDir).collect()
    assert(lake.nonEmpty)
    lake.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(4) >= 0.0)
    }
  }

  test("x139 target encoding: fold-excluded smoothed rates recompute exactly, no fold sees its own rows") {
    val rows = Sampling.queries("x139_target_encoding")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rows.nonEmpty)
    val ev = graft.sources.Lake.table(spark, SfDir, "events")
      .select(col("event_type"), col("user_id"), col("value"))
      .collect().map(r => (r.getString(0),
        ((r.getLong(1) * Sampling.HashMul) % Sampling.HashMod) % 4,
        if (r.getDouble(2) > 90) 1L else 0L))
    val cells = ev.groupBy(e => (e._1, e._2))
      .map { case (k, xs) => k -> (xs.size.toLong, xs.map(_._3).sum) }
    assert(rows.keySet == cells.keySet)
    val nG = ev.size.toLong
    val posG = ev.map(_._3).sum
    val byType = ev.groupBy(_._1).map { case (t, xs) => t -> (xs.size.toLong, xs.map(_._3).sum) }
    val byFold = ev.groupBy(_._2).map { case (f, xs) => f -> (xs.size.toLong, xs.map(_._3).sum) }
    cells.foreach { case (k @ (t, f), (n, pos)) =>
      val (nT, posT) = byType(t)
      val (nF, posF) = byFold(f)
      val num = (posT - pos) * (nG - nF) + 100L * (posG - posF)
      val den = (nT - n + 100L) * (nG - nF)
      val exp = BigDecimal(num.toDouble / den.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (gn, gnEx, gposEx, genc) = rows(k)
      assert(gn == n && gnEx == nT - n && gposEx == posT - pos,
        s"$k: counts ($gn,$gnEx,$gposEx) vs ($n,${nT - n},${posT - pos})")
      assert(math.abs(genc - exp) < 1e-12, s"$k: enc $genc vs $exp")
      assert(genc > 0.0 && genc < 1.0)
    }
  }

  test("x140 bfs: planted star-plus-chain reaches exactly the 2-hop ball from the hub") {
    import spark.implicits._
    // hub 1 (deg 3); chain 4-5-6: hop1 = {2,3,4}, hop2 = {5},
    // node 6 is 3 hops out and must be absent
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L))
      .toDF("u", "v")
    val got = graft.ext.Graph.bfsReach2(edges)
      .orderBy(col("hop")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0, 1L, 1L), (1, 3L, 9L), (2, 1L, 5L)),
      s"got ${got.toSeq}")
    // registry surface: three hops, disjoint frontiers imply the ball
    // bound n(0)=1 and monotone node sums > 0
    val lake = graft.ext.Graph.queries("x140_bfs_reach")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(lake.map(_._1).toSeq == Seq(0, 1, 2))
    assert(lake.head._2 == 1L)
    lake.foreach { case (_, n, s) => assert(n > 0 && s > 0) }
  }

  test("x141 winsorized mean: planted uniform tail clamps to the discrete p05/p95 exactly") {
    import spark.implicits._
    val ev = (1 to 100).map(i => ("a", i.toDouble)).toDF("event_type", "value")
    val got = graft.pipeline.Views.winsorizedReport(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // percentile_disc picks actual members: lo=5, hi=95; clamping
    // moves 1..4 up (+10) and 96..100 down (-15) on a raw sum of 5050
    assert(got.toSeq == Seq(("a", 100L, 5.0, 95.0, 50.5, 50.45)), s"got ${got.toSeq}")
    // lake surface: winsorized mean sits inside [lo, hi] and never
    // drifts far from raw on a tame distribution
    val lake = graft.pipeline.Views.queries("x141_winsorized_mean")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(lake.nonEmpty)
    lake.foreach { case (t, lo, hi, raw, wins) =>
      assert(lo <= hi, s"$t: bounds inverted")
      assert(wins >= lo - 0.01 && wins <= hi + 0.01, s"$t: mean outside clamp range")
    }
  }

  test("x142 assortativity: star hits the textbook -1, a regular cycle takes the guarded NULL") {
    import spark.implicits._
    def run(edges: org.apache.spark.sql.DataFrame) =
      graft.ext.Graph.assortativity(edges, graft.ext.Graph.degrees(edges))
        .collect().head
    // star K1,3: every arc pairs the deg-3 hub with a deg-1 leaf —
    // the canonical perfectly-disassortative graph
    val star = run(Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("u", "v"))
    assert(star.getLong(0) == 6L && star.getDouble(2) == -1.0, s"star: $star")
    // 4-cycle: all degrees equal -> zero variance -> r undefined; the
    // guard must surface NULL, not NaN
    val cyc = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v"))
    assert(cyc.getLong(0) == 8L && cyc.isNullAt(2), s"cycle: $cyc")
    // lake surface: one row, r in [-1, 1]
    val lake = graft.ext.Graph.queries("x142_assortativity")(spark, SfDir)
      .collect()
    assert(lake.length == 1)
    val r = lake.head.getDouble(2)
    assert(r >= -1.0 && r <= 1.0, s"r out of range: $r")
  }

  test("x143 mutual knn: crowding asymmetry filtered, survivors symmetric and inside both top-k lists") {
    import spark.implicits._
    // cluster {0,1,2,3} on axis0 plus a far outlier 9 on axis3 whose
    // nearest neighbors are cluster members (cos ~0 but ranked) while
    // NO cluster member ranks 9 (they have 3 better mates) — the
    // crowding asymmetry mutual-kNN exists to kill (k=3, cluster of
    // 4: each member's top-3 is exactly the other three)
    def v(axis: Int, id: Long) = {
      val b = Array.fill(8)(0.0); b(axis) = 1.0; b(7) = 0.001 * id; b
    }
    val e = ((0L to 3L).map(i => (i, v(0, i))) :+ ((9L, v(3, 9L))))
      .toDF("vec_id", "vec")
    val g = Similarity.knnGraph(e, k = 3, nBits = 8, nTables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val mutual = g.filter { case (a, b) => g.contains((b, a)) && a < b }
    // every cluster pair survives; any edge touching 9 must be
    // one-directional and absent from the mutual set
    val clusterPairs = (for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b)).toSet
    assert(mutual == clusterPairs, s"mutual $mutual vs $clusterPairs")
    assert(!mutual.exists(p => p._1 == 9L || p._2 == 9L))
    // registry surface: symmetric-by-construction pairs, a < b, cos
    // bounded
    val lake = Similarity.queries("x143_mutual_knn")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    lake.foreach { case (a, b, c) =>
      assert(a < b && c >= -1.0001 && c <= 1.0001)
    }
  }

  test("x144 ppr: planted graph matches the exact integer recurrence; mass conserved through the chain") {
    import spark.implicits._
    // hub 1 (deg 3) with leaves 2, 3 and a chain 1-4-5: the seed is
    // the hub, and node 5 only receives mass via 4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L)).toDF("u", "v")
    val got = graft.ext.Graph.personalizedPageRank(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // in-process exact recompute of the same fixed-point recurrence
    val arcs = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 1L), (4L, 5L), (5L, 4L))
    val outdeg = arcs.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    val S = graft.ext.Graph.RankScale
    var rank: Map[Long, Long] =
      Map(1L -> S, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L)
    for (_ <- 1 to 3) {
      val in = arcs.groupBy(_._2).map { case (dst, as) =>
        (dst, as.map(a => rank(a._1) / outdeg(a._1)).sum)
      }
      rank = rank.keys.map(n =>
        n -> ((if (n == 1L) S * 15 / 100 else 0L) +
          85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(got == rank, s"got $got expected $rank")
    // symmetric leaves are exchangeable; mass is conserved up to the
    // deterministic floor leak; the two-hop node holds damped mass
    // (on this near-bipartite star mass OSCILLATES between the seed
    // side and its neighbors per round — no "seed is max" claim holds
    // at a fixed odd iteration count, and that is correct PPR)
    assert(got(2L) == got(3L), "exchangeable leaves must tie")
    assert(got.values.sum <= S && got.values.sum > S * 9 / 10,
      s"mass conservation: ${got.values.sum}")
    assert(got(5L) > 0L && got(5L) < got(4L),
      "two-hop node gets damped mass through the chain")
    // lake surface: 20 rows, non-increasing ranks, positive head
    val lake = graft.ext.Graph.queries("x144_personalized_pagerank")(spark, SfDir)
      .collect().map(_.getLong(1))
    assert(lake.length == 20 && lake.head > 0L)
    assert(lake.sliding(2).forall(p => p.head >= p.last), "ranks must be sorted desc")
  }

  test("x145 modularity: two triangles with a bridge hit the textbook Q; lake q is one consistent number") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("a", "d")).toDF("u", "v")
    val labels = Seq(("a", "A"), ("b", "A"), ("c", "A"), ("d", "B"),
      ("e", "B"), ("f", "B")).toDF("node", "label")
    val got = graft.ext.Graph.modularityReport(edges, labels)
      .orderBy(col("label")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    // m = 7; each community: e = 3, deg_sum = 7 →
    // contrib = (4·7·3 − 49)/(4·49) = 35/196 ≈ 0.1786, Q = 70/196 ≈ 0.3571
    assert(got.toSeq == Seq(("A", 3L, 3L, 7L, 0.1786, 0.3571),
      ("B", 3L, 3L, 7L, 0.1786, 0.3571)), s"got ${got.toSeq}")
    // lake surface: |nations|-bounded, q constant across rows and in
    // the valid [-0.5, 1] band
    val lake = graft.ext.Graph.queries("x145_modularity")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getDouble(5)))
    assert(lake.nonEmpty && lake.length <= 25)
    val qs = lake.map(_._2).distinct
    assert(qs.length == 1 && qs.head >= -0.5 && qs.head <= 1.0,
      s"q inconsistent or out of band: ${qs.toSeq}")
  }

  test("x119 bm25: tf raises, length normalizes, rarity outweighs at equal tf/len") {
    import spark.implicits._
    val d = Seq(
      (1L, "q q q a a"),           // tf 3, len 5
      (2L, "q a a a a"),           // tf 1, len 5
      (3L, "q a a a a a a a a a"), // tf 1, len 10
      (4L, "r a a a a")            // rare term (df 1 vs q's df 3), tf 1, len 5
    ).toDF("doc_id", "text")
    val s = TextAnalysis.bm25Scores(d, Seq("q", "r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L), "higher tf must score higher")
    assert(s(2L) > s(3L), "longer doc with equal tf must score lower")
    assert(s(4L) > s(2L), "rarer term must outweigh a common one at equal tf and length")
    // registry surface: a full top-10, strictly ranked, all positive
    // (the Lucene +1 keeps idf positive even at df > N/2)
    val top = TextAnalysis.queries("x119_bm25_topk")(spark, SfDir).collect()
    assert(top.length == 10)
    val scores = top.map(_.getDouble(1)).toList
    assert(scores == scores.sortBy((x: Double) => -x))
    assert(scores.forall(_ > 0.0))
  }

  test("x120 retrieval metrics: full query grid, bounds hold, hit counts agree with x105's recall") {
    val rows = Similarity.queries("x120_retrieval_metrics")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L), "one row per query, no silent holes")
    rows.foreach { case (q, hits, fr, mrr, ndcg) =>
      assert(hits >= 0 && hits <= 10)
      assert(mrr >= 0.0 && mrr <= 1.0 && ndcg >= 0.0 && ndcg <= 1.0)
      if (hits == 0) assert(fr == 0 && mrr == 0.0 && ndcg == 0.0)
      else {
        assert(fr >= 1 && fr <= 10)
        val mrr4 = BigDecimal(1.0 / fr).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(mrr == mrr4, s"query $q: mrr $mrr vs 1/$fr")
      }
      // a perfect ranking normalizes to exactly 1 (dcg ≡ idcg term-by-term)
      if (hits == 10 && fr == 1) assert(ndcg == 1.0 || ndcg == 0.9999 || ndcg == 1.0001)
    }
    // the set-overlap view must agree with x105's dim-16 recall@10
    val recall = Similarity.queries("x105_matryoshka_eval")(spark, SfDir)
      .collect().filter(_.getInt(1) == 16)
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { case (q, hits, _, _, _) =>
      assert(recall(q) == hits / 10.0, s"query $q: x105 says ${recall(q)}, x120 hits $hits")
    }
  }

  test("x121 bpe training: double-pass merge is run-complete, cascaded rounds count exactly") {
    import spark.implicits._
    // the adjacent-occurrence trap: "a b a b" shares delimiters, a
    // single replace pass merges only the first occurrence
    val run = Seq(("|a|b|a|b|", 1L)).toDF("seq", "wf")
    val merged = TextAnalysis.bpeApply(run,
      Seq(("a", "b")).toDF("a", "b")).collect()(0).getString(0)
    assert(merged == "|ab|ab|", s"got $merged")
    // planted cascade: aaab ×2, aab ×1 → merge1 (a,a,5); round 2 ties
    // (a,b)=2 with (aa,a)=2 and must break to (a,b); the merged "aa"
    // symbol must never be re-split by a substring match
    val wf = Seq(("aaab", 2L), ("aab", 1L)).toDF("w", "wf")
    val got = TextAnalysis.bpeTrainReport(wf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "a", "a", 5L), (2, "a", "b", 2L),
      (3, "aa", "ab", 2L), (3, "aa", "b", 1L)), s"got ${got.toSeq}")
    // registry surface agrees with x63 on the first merge
    val first = TextAnalysis.queries("x121_bpe_train_steps")(spark, SfDir)
      .collect().filter(_.getInt(0) == 1)(0)
    val x63top = TextAnalysis.queries("x63_bpe_pair_count")(spark, SfDir)
      .collect()(0)
    assert(first.getString(1) == x63top.getString(0) &&
      first.getString(2) == x63top.getString(1) &&
      first.getLong(3) == x63top.getLong(2),
      "round-1 merge must be x63's top pair")
  }

  test("x122 hybrid rrf: fused ranks recompute, absent legs contribute zero, order is total") {
    val rows = Similarity.queries("x122_hybrid_rrf")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == 10)
    val rrfs = rows.map(_._4).toList
    assert(rrfs == rrfs.sortBy((x: Double) => -x), "fusion order must be total")
    def term(r: Int): Double =
      if (r == 0) 0.0
      else BigDecimal(1.0 / (r + 60)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (doc, rl, rd, rrf) =>
      assert(rl >= 0 && rl <= 20 && rd >= 0 && rd <= 20)
      assert(rl > 0 || rd > 0, s"doc $doc retrieved by neither leg")
      val want = BigDecimal(term(rl) + term(rd))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == want, s"doc $doc: rrf $rrf vs recomputed $want")
    }
    // a doc ranked by BOTH legs must outrank one ranked by a single
    // leg at any rank (2/61 > 1/61 floor argument holds at k = 60,
    // ranks <= 20)
    val both = rows.filter(r => r._2 > 0 && r._3 > 0)
    val single = rows.filter(r => r._2 == 0 || r._3 == 0)
    if (both.nonEmpty && single.nonEmpty)
      assert(both.map(_._4).min > single.map(_._4).max,
        "dual-leg docs must dominate single-leg docs under RRF at these depths")
  }

  test("c81 twa: intervals telescope to the user's span, the average sits inside the value hull") {
    val rows = graft.queries.Surface.queries("c81_time_weighted_avg")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val ref = Lake.table(spark, SfDir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    rows.foreach { case (u, nInt, span, twa) =>
      val (n, refSpan, lo, hi) = ref(u)
      assert(nInt == n - 1, s"user $u: ${nInt} intervals from $n events")
      assert(span == refSpan, s"user $u: holding intervals must telescope to the span")
      // floor-to-cents shifts each weight < 0.01 downward
      assert(twa >= lo - 0.01 && twa <= hi, s"user $u: twa $twa outside [$lo, $hi]")
    }
  }

  test("x123 churn set: features are point-in-time invariant, labels split, post-cutoff users don't exist") {
    import spark.implicits._
    val planted = Seq(
      (1L, 5, "view"), (1L, 16, "click"), (1L, 20, "purchase"), // returns → 0
      (2L, 3, "purchase"), (2L, 17, "view"), (2L, 20, "view"),  // no post purchase → 1
      (3L, 19, "purchase")                                      // born after cutoff → absent
    ).toDF("user_id", "d", "event_type")
    val got = Sampling.churnTrainingSet(planted, cutoff = 17, labelDays = 7)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6), r.getInt(7))).toMap
    assert(got.keySet == Set(1L, 2L), "a user born after the cutoff must not exist")
    assert(got(1L) == ((2L, 2L, 5, 16, 1, 1L, 0)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 2L, 3, 17, 0, 1L, 1)), s"got ${got(2L)}")
    // the leak test: delete every post-cutoff event — features must
    // be BIT-identical (only the label may change)
    val truncated = Sampling.churnTrainingSet(
      planted.filter(col("d") <= 17), cutoff = 17, labelDays = 7)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6))).toMap
    got.foreach { case (u, full) =>
      assert(truncated(u) == ((full._1, full._2, full._3, full._4, full._5, full._6)),
        s"user $u: post-cutoff events leaked into features")
    }
    // registry surface: one row per pre-cutoff user, no one else
    // (sf0.001's 15 users all buy weekly, so the label only splits at
    // sf0.01+ — the oracle gate shows 6 churners there; both label
    // paths are proven by the planted frame above)
    val snap = Sampling.queries("x123_churn_training_set")(spark, SfDir).collect()
    val preUsers = Lake.table(spark, SfDir, "events")
      .select(col("user_id"),
        expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
      .filter(col("d") <= 17).select(col("user_id")).distinct().count()
    assert(snap.length == preUsers, "snapshot must cover exactly the pre-cutoff users")
    assert(snap.map(_.getInt(7)).forall(c => c == 0 || c == 1))
  }

  test("x124 query likelihood: tf raises, absence penalizes but still scores, length dilutes") {
    import spark.implicits._
    val d = Seq(
      (1L, "q q a a"),         // tf 2, len 4
      (2L, "q a a a"),         // tf 1, len 4
      (3L, "a a a a"),         // tf 0 — smoothing mass only
      (4L, "q a a a a a a a")  // tf 1, len 8
    ).toDF("doc_id", "text")
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val s = TextAnalysis.qlFromTf(tf, Seq("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s.keySet == Set(1L, 2L, 3L, 4L),
      "every doc scores — absent terms smooth, they don't drop rows")
    assert(s(1L) > s(2L), "higher tf must score higher")
    assert(s(2L) > s(3L), "a doc containing the term must beat pure smoothing mass")
    assert(s(2L) > s(4L), "longer doc with equal tf must score lower")
    assert(s.values.forall(_ < 0.0), "log-probabilities are negative")
    // registry surface: full top-10, strictly ranked
    val top = TextAnalysis.queries("x124_query_likelihood")(spark, SfDir).collect()
    assert(top.length == 10)
    val scores = top.map(_.getDouble(1)).toList
    assert(scores == scores.sortBy((x: Double) => -x))
  }

  test("x125 prf: expansion mines the feedback docs and recalls a doc the original query cannot see") {
    import spark.implicits._
    val d = Seq(
      (1L, "q z z"), (2L, "q z z"), (3L, "q y y"),
      (4L, "z z z") // never matches the original query
    ).toDF("doc_id", "text")
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val firstPass = TextAnalysis.bm25FromTf(tf, Seq("q"))
      .collect().map(_.getLong(0)).toSet
    assert(firstPass == Set(1L, 2L, 3L), "pass 1 cannot see doc 4")
    val top3 = TextAnalysis.bm25FromTf(tf, Seq("q"))
      .orderBy(desc("bm25"), col("doc_id")).limit(3).select(col("doc_id"))
    val exp = tf.join(broadcast(top3), "doc_id")
      .filter(col("term") =!= "q")
      .groupBy(col("term")).agg(sum(col("tf")).as("w"))
      .orderBy(desc("w"), col("term")).limit(2).select(col("term"))
    assert(exp.collect().map(_.getString(0)).toSet == Set("z", "y"),
      "expansion must pick the heaviest feedback terms")
    val expanded = TextAnalysis.bm25DynamicFromTf(tf,
      exp.unionByName(Seq("q").toDF("term")))
      .collect().map(_.getLong(0)).toSet
    assert(expanded.contains(4L),
      "the expanded query must recall the doc the original terms missed")
    // registry surface: full top-10, strictly ranked
    val top = TextAnalysis.queries("x125_prf_expansion")(spark, SfDir).collect()
    assert(top.length == 10)
    val scores = top.map(_.getDouble(1)).toList
    assert(scores == scores.sortBy((x: Double) => -x))
  }

  test("c82 cuped: arms partition, adjustment conserves the pooled mean, reduction is a valid ratio") {
    val r = graft.queries.Surface.queries("c82_cuped_adjust")(spark, SfDir).collect()(0)
    val (na, nb) = (r.getLong(0), r.getLong(1))
    val (mya, myb, aja, ajb) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val varRed = r.getDouble(7)
    val nUsers = Lake.table(spark, SfDir, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(na + nb == nUsers, "arms must partition the population")
    assert(varRed >= 0.0 && varRed <= 100.0, s"rho^2 out of range: $varRed")
    // CUPED conserves the pooled mean: Σ(x − x̄) = 0, so the weighted
    // adjusted means equal the weighted raw means (up to 4 dp rounds)
    val raw = na * mya + nb * myb
    val adj = na * aja + nb * ajb
    assert(math.abs(raw - adj) / math.max(math.abs(raw), 1.0) < 1e-4,
      s"adjustment must not move the pooled mean: raw $raw vs adj $adj")
    // the adjustment must actually do something on a corpus where
    // pre-activity predicts spend (both arms shift or theta ~ 0)
    assert(r.getDouble(6) != 0.0, "theta degenerate at exactly 0")
  }

  test("x126 snippets: the densest window wins with earliest-start tiebreak, short docs clamp to one window") {
    import spark.implicits._
    val d = Seq(
      (1L, "a q b q c d e f g h q q q x y z"), // 3-hit cluster at 10-12
      (2L, "q b")                              // shorter than the window
    ).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val got = TextAnalysis.snippetWindows(d, Seq("q"), win = 8)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 5, 3L, "d e f g h q q q")),
      s"densest-cluster window expected, got ${got(0)}")
    assert(got(1) == ((2L, 0, 1L, "q b")), s"short-doc clamp: ${got(1)}")
    // registry surface: one snippet per served doc, every snippet
    // actually contains a query term
    val top = TextAnalysis.queries("x126_snippets")(spark, SfDir).collect()
    assert(top.length == 5)
    top.foreach { r =>
      assert(r.getLong(2) >= 1)
      val words = r.getString(3).split(" ").toSet
      assert(Seq("join", "filter", "vector").exists(words.contains),
        s"snippet without a query term: ${r.getString(3)}")
    }
  }

  test("x127 association rules: ratios recompute from the published counts, support floor holds") {
    val rows = graft.ext.Graph.queries("x127_association_rules")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.nonEmpty && rows.length <= 20)
    val lifts = rows.map(_._8).toList
    assert(lifts == lifts.sortBy((x: Double) => -x))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nOrders = Lake.table(spark, SfDir, "lineitem")
      .select(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
    rows.foreach { case (a, b, nab, na, nb, sup, conf, lift) =>
      assert(nab >= 3, "min-support prune violated")
      assert(nab <= na && nab <= nb, s"rule $a->$b: pair count exceeds item count")
      assert(conf == r4(nab.toDouble / na), s"rule $a->$b: confidence")
      assert(sup == r4(nab.toDouble / nOrders), s"rule $a->$b: support")
      assert(lift == r4(nab.toDouble * nOrders / (na.toDouble * nb)), s"rule $a->$b: lift")
    }
  }

  test("x128 bpe encode: the trained merges strictly compress the corpus, percentages recompute") {
    val rows = TextAnalysis.queries("x128_bpe_encode")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (src, before, after, pct) =>
      assert(after <= before, s"$src: encoding must never lengthen")
      assert(pct == r4(100.0 * (1.0 - after.toDouble / before)), s"$src: pct")
    }
    // the corpus-level top pair occurs somewhere, so globally strict
    assert(rows.map(_._3).sum < rows.map(_._2).sum,
      "two trained merges must compress the corpus strictly")
    // symbols_before is exactly the corpus character mass of its source
    val chars = Lake.table(spark, SfDir, "documents")
      .select(col("source"), expr(
        "aggregate(transform(split(text, ' '), w -> length(w)), 0L, (a, x) -> a + x)")
        .as("c"))
      .groupBy(col("source")).agg(sum(col("c")).as("chars"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (src, before, _, _) =>
      assert(before == chars(src), s"$src: symbols_before vs character mass")
    }
  }

  test("c83 attribution: in-window touch credits, stale and missing touches go direct, latest touch wins") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val planted = Seq(
      (1L, ts(0), 1L, "view", 10.0), (1L, ts(10), 2L, "purchase", 10.0),  // → view
      (2L, ts(5), 3L, "purchase", 10.0),                                  // no prior → direct
      (3L, ts(0), 4L, "click", 10.0), (3L, ts(50), 5L, "purchase", 10.0), // stale → direct
      (4L, ts(0), 6L, "view", 10.0), (4L, ts(5), 7L, "error", 10.0),
      (4L, ts(10), 8L, "purchase", 10.0)                                  // latest → error
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = graft.queries.Surface
      .lastTouchAttribution(planted, windowUs = 1800000000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set("view", "direct", "error"), s"got $got")
    assert(got("view") == ((1L, 1000L, 0.25)))
    assert(got("direct") == ((2L, 2000L, 0.5)), "both no-prior and stale must fall to direct")
    assert(got("error") == ((1L, 1000L, 0.25)), "the LATEST touch gets the credit, not the first")
    // registry surface: shares partition 1, purchases partition the corpus
    val rows = graft.queries.Surface.queries("c83_attribution")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val nPurch = Lake.table(spark, SfDir, "events")
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_._2).sum == nPurch, "every purchase attributes exactly once")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 0.001)
  }

  test("c78 markov: transition mass telescopes to events minus users, rows normalize to 1") {
    val rows = graft.queries.Surface.queries("c78_markov_paths")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // each user's timeline of k events yields exactly k-1 transitions
    val ev = Lake.table(spark, SfDir, "events")
    val nEvents = ev.count()
    val nUsers = ev.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.map(_._3).sum == nEvents - nUsers,
      "every consecutive pair must appear exactly once")
    // probabilities are row-stochastic up to 4 dp rounding residue
    rows.groupBy(_._1).foreach { case (from, g) =>
      val mass = g.map(_._4).sum
      assert(math.abs(mass - 1.0) < 0.001, s"$from row mass $mass")
    }
  }

  test("c79 rfm: segments partition the user population, codes agree with their tile columns") {
    val rows = graft.queries.Surface.queries("c79_rfm_segments")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val nUsers = Lake.table(spark, SfDir, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.map(_._5).sum == nUsers, "every user lands in exactly one segment")
    rows.foreach { case (seg, r, f, m, _) =>
      assert(seg == r * 100 + f * 10 + m, s"segment code $seg vs tiles ($r,$f,$m)")
      assert(Seq(r, f, m).forall(t => t >= 1 && t <= 4))
    }
    // a quartile boundary rule must touch more than one tile per axis
    assert(rows.map(_._2).distinct.length > 1, "recency tiles degenerate")
  }

  test("c80 ab lift: arms partition users, z recomputes from the integer counts") {
    val row = graft.queries.Surface.queries("c80_ab_lift")(spark, SfDir).collect()
    assert(row.length == 1)
    val r = row(0)
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val nUsers = Lake.table(spark, SfDir, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(na + nb == nUsers, "assignment must partition the population")
    assert(ca <= na && cb <= nb)
    assert(ca > 0 && ca < na, "conversion must be non-degenerate for the z-test")
    // the published z must be exactly the two-proportion formula over
    // the published counts (the auditability contract)
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pp = (ca + cb).toDouble / (na + nb)
    val z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    val z4 = BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(7) - z4) < 1e-12,
      s"z ${r.getDouble(7)} vs recomputed $z4")
  }

  test("x159 gini: equal lengths give 0, a one-doc monopoly approaches (n-1)/n, ties need no order contract") {
    import spark.implicits._
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val planted = (
      (1 to 10).map(_ => ("equal", 100L)) ++
      ((1 to 9).map(_ => ("mono", 1L)) :+ ("mono", 901L)) ++
      Seq(("pair", 10L), ("pair", 30L))).toDF("source", "v")
    val got = TextAnalysis.giniReport(planted).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got("equal") == ((10L, 1000L, 0.0)))
    // sorted (1x9, 901): S1 = sum(i*1, i=1..9) + 10*901 = 45 + 9010
    // G = (2*9055 - 11*910) / (10*910)
    assert(got("mono") == ((10L, 910L, r6((2.0 * 9055 - 11 * 910) / 9100.0))))
    // two values: G = (2*(10 + 2*30) - 3*40) / (2*40) = 20/80 = 0.25
    assert(got("pair") == ((2L, 40L, 0.25)))
    // intra-tie order cannot matter: the equal block's value is exact 0
    // (numerator cancels), and the lake query stays inside [0, 1)
    val lake = TextAnalysis.queries("x159_gini_length")(spark, SfDir).collect()
    assert(lake.nonEmpty)
    lake.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0,
        s"${r.getString(0)} gini ${r.getDouble(3)}")
    }
  }

  test("x160 theil-sen: exact linear series recovers the slope, one spiked day cannot drag the median") {
    import spark.implicits._
    val daily = (
      (0L to 9L).map(d => ("lin", d, 3L + 5L * d)) ++
      (0L to 9L).map(d => ("flat", d, 7L)) ++
      // linear at 2/day with day 5 spiked to 1000: an OLS fit moves
      // wildly; the pairwise-slope median stays on the grid at 2e6
      (0L to 9L).map(d => ("spike", d, if (d == 5) 1000L else 2L * d))
      ).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.theilSenReport(daily).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got("lin") == ((10L, 45L, 5000000L, true)))
    assert(got("flat") == ((10L, 45L, 0L, false)))
    assert(got("spike")._3 == 2000000L, s"spike median ${got("spike")}")
    // registry surface: n_pairs is exactly C(n_days, 2) per type
    val lake = graft.pipeline.Views.queries("x160_theil_sen")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty)
    lake.foreach { r =>
      val (nd, np) = (r.getLong(1), r.getLong(2))
      assert(np == nd * (nd - 1) / 2, s"${r.getString(0)}: $np vs C($nd,2)")
    }
  }

  test("x161 chisq drift: identical mixes score 0, a planted swap recomputes exactly, lake total is one number") {
    import spark.implicits._
    val same = Seq(("A", "ref", 50L), ("A", "cur", 50L),
      ("B", "ref", 50L), ("B", "cur", 50L)).toDF("event_type", "half", "c")
    val s = graft.pipeline.Views.chisqReport(same).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4),
        r.getLong(5), r.getBoolean(7)))
    assert(s.forall(t => t._2 == 0.0 && t._3 == 0.0 && t._4 == 1L && !t._5))
    // swap: A 80/20, B 20/80 -> D_A = 80*100-20*100 = 6000,
    // contrib = 6000^2/(100*100*100) = 36.0 each, chi2 = 72 > 3.841
    val swap = Seq(("A", "ref", 80L), ("A", "cur", 20L),
      ("B", "ref", 20L), ("B", "cur", 80L)).toDF("event_type", "half", "c")
    val w = graft.pipeline.Views.chisqReport(swap).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4),
        r.getDouble(6), r.getBoolean(7)))
    assert(w.toSet == Set(("A", 36.0, 72.0, 3.841, true),
      ("B", 36.0, 72.0, 3.841, true)), w.toSeq.toString)
    // lake: one consistent chi2/df across rows; contribs sum to it
    val lake = graft.pipeline.Views.queries("x161_chisq_drift")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty)
    assert(lake.map(_.getDouble(4)).distinct.length == 1)
    assert(lake.map(_.getLong(5)).distinct.head == lake.length - 1L)
    val sumContrib = lake.map(_.getDouble(3)).sum
    // per-term 4 dp rounding can drift the sum by up to k.5e-5
    assert(math.abs(sumContrib - lake.head.getDouble(4)) < 1e-3,
      s"contribs $sumContrib vs chi2 ${lake.head.getDouble(4)}")
  }

  test("x162 silhouette: the per-cluster grid means recompute exactly from the brute-force two-smallest distances") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = vecs.sortBy(_._1).take(8)
    val scores = vecs.map { case (_, v) =>
      val ds = cents.map { case (k, c) =>
        (r4(v.zip(c).map { case (a, b) =>
          (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum), k)
      }.sorted
      val ((a, k), (b, _)) = (ds(0), ds(1))
      (k, if (b > 0.0) math.round((b - a) / b * 1000000.0) else 0L)
    }
    val exp = scores.groupBy(_._1).map { case (k, xs) =>
      val fps = xs.map(_._2)
      k -> (xs.length.toLong, r4(fps.sum.toDouble / (xs.length * 1000000.0)),
        r4(fps.min / 1000000.0), r4(fps.max / 1000000.0))
    }
    val got = Similarity.queries("x162_silhouette")(spark, SfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got == exp, s"got $got\nexp $exp")
    // the centroid seeds themselves sit at a = 0 -> s = 1 exactly,
    // so every seed's cluster must report max_sil = 1.0
    assert(got.values.forall(_._4 == 1.0))
  }

  test("x249 ch index: between+within recompose the brute-force total scatter, CH recomputes from the row") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    // brute-force total scatter about the global mean
    val n = vecs.length
    val dims = vecs(0)._2.length
    val gm = (0 until dims).map(d => vecs.map(_._2(d)).sum / n)
    val totScatter = vecs.map(_._2.zip(gm).map { case (x, m) =>
      (x - m) * (x - m) }.sum).sum
    val row = Similarity.queries("x249_ch_index")(spark, SfDir).collect()(0)
    assert(row.getLong(0) == n.toLong && row.getLong(1) == 8L, s"shape: $row")
    val (b, w, ch) = (row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(math.abs(b + w - totScatter) < 1e-3 * totScatter,
      s"decomposition: b=$b w=$w tot=$totScatter")
    assert(math.abs(ch - (b / 7.0) / (w / (n - 8.0))) < 1e-3 * ch,
      s"ch recompute: $row")
    assert(b > 0.0 && w > 0.0 && ch > 0.0, s"positive: $row")
    r4(0.0) // keep the helper used
    ()
  }

  test("x250 davies-bouldin: per-cluster rows carry one shared index equal to the mean worst-neighbor ratio") {
    val rows = Similarity.queries("x250_davies_bouldin")(spark, SfDir)
      .collect()
    assert(rows.length == 8, s"clusters: ${rows.length}")
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(3) > 0.0),
      s"sigma/rmax: ${rows.toSeq}")
    val dbs = rows.map(_.getDouble(4)).distinct
    assert(dbs.length == 1, s"db must be shared: ${dbs.toSeq}")
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(math.abs(dbs(0) - mean) < 2e-6, s"db=${dbs(0)} mean=$mean")
    // sigma is an RMS about the gridded mean: bounded above by the
    // max pairwise distance scale, sanity-positive for real clusters
    assert(rows.map(_.getLong(1)).sum == Lake.table(spark, SfDir,
      "embeddings").count(), s"membership total: ${rows.toSeq}")
  }

  test("x251 adjusted rand: identical labelings read 1, independent ones read -1/98 on the 2x2 fixture") {
    import spark.implicits._
    val perfect = Seq(("a", "a", 3L), ("b", "b", 3L)).toDF("u", "v", "n_uv")
    val p = Similarity.ariFromContingency(perfect).collect()(0)
    assert(p.getDouble(3) == 1.0, s"perfect ari: $p")
    // 2x2 independent, 25 per cell: ARI = -12.626/1237.374 = -0.010204
    val indep = Seq(("a", "x", 25L), ("a", "y", 25L),
      ("b", "x", 25L), ("b", "y", 25L)).toDF("u", "v", "n_uv")
    val i = Similarity.ariFromContingency(indep).collect()(0)
    assert(math.abs(i.getDouble(3) - (-0.010204)) < 1e-6, s"indep ari: $i")
    val c = Similarity.queries("x251_adjusted_rand")(spark, SfDir)
      .collect()(0)
    assert(!c.isNullAt(3) && c.getDouble(3) >= -1.0 &&
      c.getDouble(3) <= 1.0, s"corpus ari: $c")
  }

  test("x252 nmi: identical labelings read 1 with I = ln 2, independent ones read 0") {
    import spark.implicits._
    val perfect = Seq(("a", "a", 3L), ("b", "b", 3L)).toDF("u", "v", "n_uv")
    val p = Similarity.nmiFromContingency(perfect).collect()(0)
    assert(math.abs(p.getDouble(3) - 0.693147) < 1e-6 &&
      p.getDouble(4) == 1.0, s"perfect nmi: $p")
    val indep = Seq(("a", "x", 25L), ("a", "y", 25L),
      ("b", "x", 25L), ("b", "y", 25L)).toDF("u", "v", "n_uv")
    val i = Similarity.nmiFromContingency(indep).collect()(0)
    assert(i.getDouble(3) == 0.0 && i.getDouble(4) == 0.0, s"indep nmi: $i")
    val c = Similarity.queries("x252_nmi")(spark, SfDir).collect()(0)
    assert(!c.isNullAt(4) && c.getDouble(4) >= 0.0 &&
      c.getDouble(4) <= 1.000001, s"corpus nmi: $c")
  }

  test("x262 intrinsic dim: per-label LID summaries are positive and ordered min <= mean <= max") {
    val rows = Similarity.queries("x262_intrinsic_dim")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty, "no LID rows")
    rows.foreach { r =>
      assert(r.getLong(1) > 0L, s"n_pts: $r")
      assert(r.getDouble(2) > 0.0, s"mean LID must be positive: $r")
      assert(r.getDouble(3) <= r.getDouble(2) + 1e-9 &&
        r.getDouble(2) <= r.getDouble(4) + 1e-9, s"ordering: $r")
    }
  }

  test("x271 weighted jaccard: top-3 matches an exact integer brute-force recount") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val mn = vecs.flatMap(_._2).min
    val mx = vecs.flatMap(_._2).max
    val grid = vecs.map { case (id, v) =>
      id -> v.map(x => math.round((x - mn) / (mx - mn) * 255.0))
    }.toMap
    val exp = (0L until 5L).flatMap { qid =>
      val a = grid(qid)
      grid.toSeq.filter(_._1 != qid).map { case (nid, b) =>
        val mins = a.zip(b).map { case (x, y) => math.min(x, y) }.sum
        val maxs = a.zip(b).map { case (x, y) => math.max(x, y) }.sum
        (qid, nid, mins, maxs, if (maxs > 0) r6(mins.toDouble / maxs) else 0.0)
      }.sortBy(t => (-t._5, t._2)).take(3).zipWithIndex
        .map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, i + 1) }
    }.toSet
    val got = Similarity.queries("x271_weighted_jaccard_topk")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5))).toSet
    assert(got == exp, s"got ${got.toSeq.sorted}\nexp ${exp.toSeq.sorted}")
  }

  test("x163 cramers v: independence scores 0, a diagonal table scores exactly 1, zero cells are charged") {
    import spark.implicits._
    val indep = Seq(("A", "x", 20L), ("A", "y", 20L),
      ("B", "x", 30L), ("B", "y", 30L)).toDF("source", "lang", "n")
    val i = TextAnalysis.cramersVReport(indep).collect()(0)
    assert((i.getLong(0), i.getDouble(3), i.getDouble(4)) == ((100L, 0.0, 0.0)))
    // diagonal 2x2 with zero cells restored: observed and empty cells
    // each contribute 25 -> chi2 = 100 = N*min(R-1,C-1) -> V = 1
    val diag = Seq(("A", "x", 50L), ("B", "y", 50L)).toDF("source", "lang", "n")
    val d = TextAnalysis.cramersVReport(diag).collect()(0)
    assert((d.getLong(0), d.getLong(1), d.getLong(2), d.getDouble(3),
      d.getDouble(4)) == ((100L, 2L, 2L, 100.0, 1.0)))
    // lake readout: one row, V in [0, 1]
    val lake = TextAnalysis.queries("x163_cramers_v")(spark, SfDir).collect()
    assert(lake.length == 1)
    assert(lake(0).getDouble(4) >= 0.0 && lake(0).getDouble(4) <= 1.0)
  }

  test("x164 textrank: a planted hub outranks chain words, short tokens never enter the graph") {
    import spark.implicits._
    val bg = Seq(
      ("kernel", "module"), ("kernel", "driver"), ("kernel", "sched"),
      ("kernel", "memory"), ("kernel", "thread"), ("kernel", "locks"),
      ("module", "driver"), ("the", "kernel"), ("kernel", "ab"))
      .toDF("w1", "w2")
    val edges = TextAnalysis.textrankEdges(bg)
    val nodes = edges.select(col("src")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(!nodes.contains("the") && !nodes.contains("ab"),
      s"short tokens leaked into $nodes")
    val ranks = graft.ext.Graph.pageRankFp(edges, 3)
      .orderBy(desc("rank_fp"), col("node")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(ranks.head._1 == "kernel",
      s"hub not top: ${ranks.toSeq}")
    // floor leak only ever loses mass: sum <= RankScale
    assert(ranks.map(_._2).sum <= graft.ext.Graph.RankScale)
    // lake surface: top-k keywords (the synthetic corpus has only ~15
    // content words), all content-length, ranks descending
    val lake = TextAnalysis.queries("x164_textrank")(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(lake.nonEmpty && lake.length <= 20)
    assert(lake.forall(_._1.length >= 5))
    assert(lake.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("x165 ewma: constant series is a fixed point, planted steps recompute exactly from the integer weights") {
    import spark.implicits._
    val daily = (
      (0L to 9L).map(d => ("const", d, 10L)) ++
      (0L to 9L).map(d => ("step", d, if (d < 5) 0L else 100L)))
      .toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.ewmaReport(daily)
      .orderBy(col("event_type"), col("day")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w = (0 to 7).map(k => math.pow(3, k).toLong *
      math.pow(4, 7 - k).toLong)
    val exp = Seq("const", "step").flatMap { t =>
      (0L to 9L).map { d =>
        def x(dd: Long) = if (t == "const") 10L else if (dd < 5) 0L else 100L
        val ks = (0 to 7).filter(k => d - k >= 0)
        (t, d, r4(ks.map(k => x(d - k) * w(k)).sum.toDouble /
          ks.map(w(_)).sum.toDouble))
      }
    }
    assert(got.toSeq == exp, s"got ${got.toSeq}\nexp $exp")
    // the constant series must be an exact fixed point at every day
    assert(got.filter(_._1 == "const").forall(_._3 == 10.0))
    // lake surface: smoother never leaves the series' global envelope
    val lake = graft.pipeline.Views.queries("x165_ewma_smooth")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(lake.nonEmpty)
    val byType = lake.groupBy(_._1)
    byType.foreach { case (t, xs) =>
      val (lo, hi) = (xs.map(_._2).min.toDouble, xs.map(_._2).max.toDouble)
      assert(xs.forall(e => e._3 >= lo && e._3 <= hi), s"$t ewma escapes envelope")
    }
  }

  test("x166 grid cluster: planted blobs label to their min cell id, diagonal touch connects, sparse cells drop") {
    import spark.implicits._
    val cells = Seq(
      (0L, 0L, 10L), (0L, 1L, 10L), (1L, 0L, 10L), // L-blob at origin
      (10L, 10L, 10L), (11L, 11L, 10L),            // diagonal-touch pair
      (5L, 5L, 2L)                                 // below minPts
      ).toDF("cx", "cy", "n")
    val got = Similarity.gridClusterReport(cells, minPts = 5, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(!got.contains((5L, 5L)), "sparse cell survived")
    assert(got((0L, 0L))._2 == 0L && got((0L, 1L))._2 == 0L &&
      got((1L, 0L))._2 == 0L, s"origin blob split: $got")
    assert(got((10L, 10L))._2 == 170L && got((11L, 11L))._2 == 170L,
      s"diagonal touch not connected: $got")
    // lake surface: every cell is dense, labels are valid cell ids of
    // the same report (a cluster label is always a member cell)
    val lake = Similarity.queries("x166_grid_cluster")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(lake.nonEmpty)
    assert(lake.forall(_._3 >= 5L))
    val ids = lake.map(c => c._1 * 16 + c._2).toSet
    assert(lake.forall(c => ids.contains(c._4)), "label not a member cell")
  }

  test("x167 mann-kendall: monotone series trends with the exact z, constant series guards to NULL") {
    import spark.implicits._
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = (
      (0L to 9L).map(d => ("up", d, d + 1L)) ++
      (0L to 9L).map(d => ("const", d, 5L))).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.mannKendallReport(daily).collect()
      .map(r => r.getString(0) -> r).toMap
    val up = got("up")
    // all 45 pairs rise: S = 45, no ties -> 18Var = 10*9*25 = 2250
    assert((up.getLong(1), up.getLong(2), up.getLong(3)) == ((10L, 45L, 45L)))
    assert(up.getDouble(4) == r4(44.0 / math.sqrt(125.0)))
    assert(up.getBoolean(5), "monotone series must trend")
    val c = got("const")
    assert(c.getLong(3) == 0L && c.isNullAt(4) && c.isNullAt(5),
      "all-tied series must guard to NULL")
    // lake surface: z and the exact-integer flag agree at the 1.96 bar
    val lake = graft.pipeline.Views.queries("x167_mann_kendall")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty)
    lake.filter(r => !r.isNullAt(4)).foreach { r =>
      assert(r.getBoolean(5) == (math.abs(r.getDouble(4)) > 1.96),
        s"${r.getString(0)}: flag and z disagree")
    }
  }

  test("x168 dow seasonality: planted weekly spike recovers the exact rational indices summing to the identity") {
    import spark.implicits._
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = (0L to 13L).map(d =>
      ("w", d, if (d % 7 == 0) 10L else 1L)).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.dowSeasonalityReport(daily)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(0L) == ((2L, 20L, r4(20.0 * 14 / (2 * 32)))))
    (1L to 6L).foreach(dow =>
      assert(got(dow) == ((2L, 2L, r4(2.0 * 14 / (2 * 32)))), s"dow $dow"))
    // weighted identity: sum over dows of (n_dow/n_days)*idx = 1
    val w = got.values.map { case (nd, _, idx) => nd / 14.0 * idx }.sum
    assert(math.abs(w - 1.0) < 1e-3, s"weighted indices sum to $w")
    val lake = graft.pipeline.Views.queries("x168_dow_seasonality")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty && lake.forall(_.getDouble(4) > 0.0))
  }

  test("c86 cem: a planted confound is removed by stratification, off-support strata are pruned") {
    import spark.implicits._
    // treatment concentrates in the high-activity stratum where
    // conversion runs hot in BOTH arms: raw lift reads ~0, the
    // within-stratum ATT reads the true +0.05
    val users = (
      (1 to 10).map(i => ("H", "A", if (i <= 8) 1L else 0L)) ++
      (1 to 10).map(i => ("H", "B", if (i <= 6) 1L else 0L)) ++
      (1 to 30).map(i => ("L", "A", if (i <= 3) 1L else 0L)) ++
      (1 to 10).map(i => ("L", "B", if (i <= 1) 1L else 0L)) ++
      (1 to 5).map(_ => ("onlyT", "A", 1L))).toDF("stratum", "arm", "conv")
    val got = graft.queries.Surface.cemAtt(users).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(!got.contains("onlyT"), "off-support stratum survived")
    assert(got("H") == ((10L, 10L, 8L, 6L, 0.2, 0.05)), got("H").toString)
    assert(got("L") == ((30L, 10L, 3L, 1L, 0.0, 0.05)), got("L").toString)
    // lake surface: one ATT across rows, effects bounded in [-1, 1]
    val lake = graft.queries.Surface.queries("c86_cem_matching")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty)
    assert(lake.map(_.getDouble(6)).distinct.length == 1)
    assert(lake.forall(r => math.abs(r.getDouble(5)) <= 1.0))
  }

  test("c87 shapley: planted paths split by unanimity sets, credit mass telescopes to the purchase count") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      (1L, ts(1), 101L, "click"), (1L, ts(2), 102L, "view"),
      (1L, ts(3), 103L, "purchase"),
      (2L, ts(1), 201L, "click"), (2L, ts(2), 202L, "purchase"),
      (3L, ts(1), 301L, "purchase"),
      (4L, ts(1), 401L, "view"), (4L, ts(2), 402L, "purchase"),
      (4L, ts(3), 403L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.queries.Surface.shapleyAttribution(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(got("click") == ((2L, 1.5, 0.3)), got.toString)
    assert(got("view") == ((3L, 2.5, 0.5)), got.toString)
    assert(got("direct") == ((1L, 1.0, 0.2)), got.toString)
    // lake surface: credit mass conserves to the purchase count (the
    // DIV grid can only leak downward, 1e-6 per k=3 set), shares sum 1
    val lake = graft.queries.Surface
      .queries("c87_shapley_attribution")(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(lake.nonEmpty)
    val nPurch = Lake.table(spark, SfDir, "events")
      .filter(col("event_type") === "purchase").count()
    val mass = lake.map(_._3).sum
    assert(mass <= nPurch + 1e-9 && mass > nPurch - 0.01,
      s"credit mass $mass vs $nPurch purchases")
    assert(math.abs(lake.map(_._4).sum - 1.0) < 1e-3)
  }

  test("x169 gain curve: the cumulative columns recompute exactly from the per-score counts and close at 1.0") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Sampling.queries("x169_gain_curve")(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sliding(2).forall(p => p.head > p.last),
      "scores must be strictly descending")
    val (totN, totPos) = (rows.map(_._2).sum, rows.map(_._3).sum)
    var (cn, cp) = (0L, 0L)
    rows.foreach { case (s, n, np, share, capture, lift) =>
      cn += n; cp += np
      assert(share == r4(cn.toDouble / totN), s"share at $s")
      assert(capture == r4(cp.toDouble / totPos), s"capture at $s")
      assert(lift == r4((cp.toDouble * totN) / (cn.toDouble * totPos)),
        s"lift at $s")
    }
    assert(rows.last._4 == 1.0 && rows.last._5 == 1.0 && rows.last._6 == 1.0)
    // NOTE: no "top lift >= 1" assert — the synthetic labels are
    // nearly flat across cells, so the curve's SHAPE is data, not an
    // invariant; the exact recompute above is the contract.
  }

  test("c88 ips: planted unbalanced propensities recompute exactly and agree with CEM where supports overlap") {
    import spark.implicits._
    val users = (
      (1 to 30).map(i => ("H", "A", if (i <= 15) 1L else 0L)) ++
      (1 to 10).map(i => ("H", "B", if (i <= 2) 1L else 0L)) ++
      (1 to 10).map(i => ("L", "A", if (i <= 1) 1L else 0L)) ++
      (1 to 30).map(i => ("L", "B", if (i <= 3) 1L else 0L)) ++
      (1 to 5).map(_ => ("onlyT", "A", 1L))).toDF("stratum", "arm", "conv")
    val got = graft.queries.Surface.ipsAte(users).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(!got.contains("onlyT"), "positivity-violating stratum survived")
    // H: D = 15*10 - 2*30 = 90, effect = 90/300 = 0.3, p = 0.75
    assert(got("H") == ((30L, 10L, 0.75, 0.3, 0.15)), got.toString)
    // L: D = 1*30 - 3*10 = 0 -> effect 0, p = 0.25
    assert(got("L") == ((10L, 30L, 0.25, 0.0, 0.15)), got.toString)
    // per-stratum effect is CEM's within-stratum effect (the two
    // estimators differ only in WEIGHTS), checked on the lake frame
    val cem = graft.queries.Surface.queries("c86_cem_matching")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    val ips = graft.queries.Surface.queries("c88_ips_weighting")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(cem.keySet == ips.keySet)
    cem.foreach { case (s, e) =>
      assert(math.abs(ips(s) - e) < 1e-3, s"$s: ips ${ips(s)} vs cem $e") }
  }

  test("x170 column profile: ids are unique and non-null, surrogates bound the real ranges") {
    val rows = graft.pipeline.Views.queries("x170_column_profile")(spark, SfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.keySet == Set("event_id", "ts", "user_id", "event_type",
      "value", "props"))
    val n = rows("event_id")._1
    assert(rows.values.forall(_._1 == n), "n_rows must be constant")
    // primary key contract: unique, non-null
    assert(rows("event_id")._2 == 0L && rows("event_id")._3 == n)
    // cross-check one cardinality and one range against direct queries
    val ev = Lake.table(spark, SfDir, "events")
    val ndTypes = ev.select(countDistinct(col("event_type")))
      .collect()(0).getLong(0)
    assert(rows("event_type")._3 == ndTypes)
    val Array(mnId, mxId) = ev.agg(min(col("event_id")), max(col("event_id")))
      .collect().flatMap(r => Array(r.getLong(0), r.getLong(1)))
    assert(rows("event_id")._4 == mnId && rows("event_id")._5 == mxId)
    rows.foreach { case (c, t) => assert(t._4 <= t._5, s"$c range inverted") }
  }

  test("x171 backtest: constant series zeroes both errors, a trending line recomputes exactly and loses to naive") {
    import spark.implicits._
    val daily = (
      (0L to 11L).map(d => ("const", d, 10L)) ++
      (0L to 11L).map(d => ("lin", d, d))).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.forecastBacktestReport(daily).collect()
      .map(r => r.getString(0) -> r).toMap
    val c = got("const")
    assert((c.getLong(1), c.getDouble(2), c.getDouble(3)) == ((4L, 0.0, 0.0)))
    assert(c.isNullAt(4) && !c.getBoolean(5),
      "zero-naive series must NULL the mase")
    // lin: err per scored day = D + sum(j*w_j) exactly; naive err = 1
    val w = (0 to 7).map(k => math.pow(3, k).toLong *
      math.pow(4, 7 - k).toLong)
    val d0 = w.sum
    val s1 = w.zipWithIndex.map { case (wk, j) => j * wk }.sum
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val l = got("lin")
    assert(l.getLong(1) == 4L)
    assert(l.getDouble(2) == r4((d0 + s1).toDouble / d0),
      s"mae_model ${l.getDouble(2)}")
    assert(l.getDouble(3) == 1.0)
    assert(l.getDouble(4) == r4((4.0 * (d0 + s1)) / (d0 * 4.0)))
    assert(!l.getBoolean(5), "a lagging smoother must lose on a trend")
    // lake surface: mase consistent with the exact win flag
    val lake = graft.pipeline.Views
      .queries("x171_forecast_backtest")(spark, SfDir).collect()
    assert(lake.nonEmpty)
    lake.filter(r => !r.isNullAt(4)).foreach { r =>
      assert(r.getBoolean(5) == (r.getDouble(4) < 1.0) ||
        math.abs(r.getDouble(4) - 1.0) < 1e-3,
        s"${r.getString(0)}: win flag vs mase ${r.getDouble(4)}")
    }
  }

  test("c89 power mde: the published MDE recomputes from the published counts") {
    val r = graft.queries.Surface.queries("c89_power_mde")(spark, SfDir)
      .collect()(0)
    val (na, nb, conv) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(na > 0 && nb > 0 && conv > 0)
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p = conv.toDouble / (na + nb)
    val mde = 2.8016 * math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(r.getDouble(3) == r4(p))
    assert(math.abs(r.getDouble(4) - mde) < 1e-4)
    assert(math.abs(r.getDouble(5) - mde / p) < 1e-3)
    // arm counts must partition the population (c80's contract)
    val nUsers = Lake.table(spark, SfDir, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(na + nb == nUsers)
  }

  test("x172 powerlaw: a planted tail recomputes the MLE exactly from the grid terms") {
    import spark.implicits._
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val deg = Seq((10L, 1L), (11L, 1L), (12L, 2L), (13L, 2L),
      (14L, 4L), (15L, 8L)).toDF("n", "deg")
    val r = graft.ext.Graph.powerlawReport(deg).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((6L, 2L, 4L, 8L)))
    val terms = Seq(2L, 2L, 4L, 8L).map(d =>
      math.round(math.log(d * 2.0 / 3.0) * 1000000.0))
    assert(r.getDouble(4) == r4(1.0 + 4.0 * 1000000.0 / terms.sum),
      s"alpha ${r.getDouble(4)}")
    // lake surface: alpha finite and > 1 (the MLE's lower bound)
    val lake = graft.ext.Graph.queries("x172_powerlaw_alpha")(spark, SfDir)
      .collect()(0)
    assert(lake.getDouble(4) > 1.0 && !lake.getDouble(4).isNaN)
  }

  test("x173 bfs diameter: a path graph walks one hop per round, a star collapses to diameter 1") {
    import spark.implicits._
    // path 0-1-2-3-4-5: seed = node 1 (max degree 2, id tiebreak)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val got = graft.ext.Graph.bfsDistHist(path).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((0, 1L), (1, 2L), (2, 1L), (3, 1L), (4, 1L)), got.toSeq.toString)
    assert(got.forall(_._4 == 4), "path eff diameter must be 4")
    assert(got.last._3 == 1.0)
    val star = (1L to 9L).map(l => (0L, l)).toDF("u", "v")
    val s = graft.ext.Graph.bfsDistHist(star).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(3)))
    assert(s.toSeq == Seq((0, 1L, 1), (1, 9L, 1)), s.toSeq.toString)
    // lake surface: shares monotone to 1.0, one eff value
    val lake = graft.ext.Graph.queries("x173_bfs_diameter")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getDouble(2), r.getInt(3)))
    assert(lake.nonEmpty && lake.last._2 == 1.0)
    assert(lake.map(_._3).distinct.length == 1)
  }

  test("x174 token mi: a source-exclusive token scores exactly ln 2, a uniform token scores 0, absent cells count") {
    import spark.implicits._
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tf = Seq((1L, "alpha"), (1L, "common"), (2L, "alpha"),
      (2L, "common"), (3L, "beta"), (3L, "common"),
      (4L, "beta"), (4L, "common")).toDF("doc_id", "term")
    val dsrc = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("doc_id", "source")
    val got = TextAnalysis.tokenMiReport(tf, dsrc).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // binary perfect association = ln 2 nats; the absent B-cell's
    // contribution is half of it — dropping it would halve the score
    val ln2 = r6(math.round(math.log(2.0) * 1000000.0) / 1000000.0)
    assert(got("alpha") == ((2L, ln2)), got.toString)
    assert(got("beta") == ((2L, ln2)), got.toString)
    assert(got("common") == ((4L, 0.0)), got.toString)
    // lake surface: MI is non-negative and the slice is ranked
    val lake = TextAnalysis.queries("x174_token_mi")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(lake.nonEmpty && lake.length <= 20)
    assert(lake.forall(_._2 >= 0.0))
    assert(lake.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("x175 control chart: a planted spike flags by the exact 3-sigma compare, constant series guards to NULL") {
    import spark.implicits._
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = (
      ((0L to 9L).map(d => ("o", d, 10L)) :+ (("o", 10L, 120L))) ++
      (0L to 9L).map(d => ("c", d, 5L))).toDF("event_type", "day", "x")
    val got = graft.pipeline.Views.controlChartReport(daily)
      .orderBy(col("event_type"), col("day")).collect()
    val o = got.filter(_.getString(0) == "o")
    // n=11, T=220, sxx=15400 -> v=121000; spike d=1100 -> d^2 > 9v
    assert(o.count(_.getBoolean(4)) == 1)
    val spike = o.find(_.getLong(1) == 10L).get
    assert(spike.getBoolean(4))
    assert(spike.getDouble(3) == r4(1100.0 / math.sqrt(121000.0)))
    val c = got.filter(_.getString(0) == "c")
    assert(c.forall(r => r.isNullAt(3) && !r.getBoolean(4)),
      "zero-variance series must guard")
    // lake: the z readout and the exact flag agree at the 3.0 bar
    val lake = graft.pipeline.Views.queries("x175_control_chart")(spark, SfDir)
      .collect()
    assert(lake.nonEmpty)
    lake.filter(r => !r.isNullAt(3)).foreach { r =>
      assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 3.0) ||
        math.abs(math.abs(r.getDouble(3)) - 3.0) < 1e-3,
        s"${r.getString(0)} day ${r.get(1)}: flag vs z ${r.getDouble(3)}")
    }
  }

  test("x176 holm: planted shifts recompute through the step-down exactly; the prefix stop holds on the lake frame") {
    import spark.implicits._
    // A hugely shifted, C moderately, B flat; halves balance to 1000
    val cnt = Seq(
      ("A", "ref", 300L), ("A", "cur", 100L),
      ("B", "ref", 350L), ("B", "cur", 345L),
      ("C", "ref", 350L), ("C", "cur", 555L)).toDF("event_type", "half", "c")
    val got = graft.pipeline.Views.holmReport(cnt).collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    // in-process recompute of the whole chain
    val raw = Map("A" -> (300L, 100L), "B" -> (350L, 345L),
      "C" -> (350L, 555L))
    val crits = Map(1 -> 3.841, 2 -> 5.024, 3 -> 5.731)
    val chi = raw.map { case (t, (or, oc)) =>
      val d = (or * 1000L - oc * 1000L).toDouble
      t -> math.round(d * d / ((or + oc).toDouble * 1000.0 * 1000.0) *
        1000000.0)
    }
    val ordered = chi.toSeq.sortBy { case (t, c) => (-c, t) }
    var alive = true
    ordered.zipWithIndex.foreach { case ((t, cFp), i) =>
      val m = 3 - i
      val pass = cFp.toDouble > crits(m) * 1000000.0
      alive = alive && pass
      val (rank, chi1, crit, rejected) = got(t)
      assert(rank == i + 1 && crit == crits(m) && rejected == alive,
        s"$t: got ${got(t)}, expected pass=$pass alive=$alive")
      assert(chi1 == BigDecimal(cFp / 1000000.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got("A")._4 && got("C")._4 && !got("B")._4)
    // lake frame: rejections are a PREFIX of the rank order
    val lake = graft.pipeline.Views.queries("x176_holm_drift")(spark, SfDir)
      .collect().map(r => (r.getInt(1), r.getBoolean(4))).sortBy(_._1)
    assert(lake.nonEmpty)
    val flags = lake.map(_._2)
    assert(!flags.sliding(2).exists(p => !p.head && p.last),
      s"step-down violated: $flags")
  }

  test("x177 embedding drift: the per-dim shifts and l2 recompute exactly from the brute-force grid sums") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val all = vecs.flatMap(_._2.map(_.toDouble))
    val (mn, mx) = (all.min, all.max)
    def q(v: Float) = math.round((v.toDouble - mn) / (mx - mn) * 255)
    val dims = vecs.head._2.indices
    val shifts = dims.map { d =>
      val a = vecs.filter(_._1 % 2 == 0).map(v => q(v._2(d)))
      val b = vecs.filter(_._1 % 2 != 0).map(v => q(v._2(d)))
      d -> math.round((a.sum * b.length - b.sum * a.length).toDouble /
        (a.length.toLong * b.length) * 10000.0)
    }.toMap
    val l2 = r4(math.sqrt(shifts.values.map(s => s * s).sum.toDouble) / 10000.0)
    val expTop = shifts.toSeq
      .sortBy { case (d, s) => (-r4(math.abs(s) / 10000.0), d) }.take(10)
      .map { case (d, s) => (d, r4(s / 10000.0)) }
    val got = Similarity.queries("x177_embedding_drift")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getDouble(3), r.getDouble(4)))
    assert(got.map(g => (g._1, g._2)).toSeq == expTop,
      s"got ${got.toSeq}\nexp $expTop")
    assert(got.forall(_._3 == l2), s"l2 ${got.head._3} vs $l2")
  }

  test("x178 source length ks: every source's sup distance recomputes exactly from the bucketed ECDFs") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Lake.table(spark, SfDir, "documents")
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 50))
    val buckets = docs.map(_._2).distinct.sorted
    val got = TextAnalysis.queries("x178_source_length_ks")(spark, SfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(5))).toMap
    docs.map(_._1).distinct.foreach { src =>
      val cur = docs.filter(_._1 == src).map(_._2)
      val ref = docs.filter(_._1 != src).map(_._2)
      var (cr, cc, dmax) = (0L, 0L, 0L)
      buckets.foreach { bk =>
        cr += ref.count(_ == bk); cc += cur.count(_ == bk)
        dmax = math.max(dmax, math.abs(cr * cur.length - cc * ref.length))
      }
      val (nr, nc, ks, drifted) = got(src)
      assert((nr, nc) == ((ref.length.toLong, cur.length.toLong)), src)
      assert(ks == r4(dmax.toDouble / (nr * nc)), s"$src ks $ks")
      val crit = r4(1.358 * math.sqrt((nr + nc).toDouble / (nr * nc)))
      assert(drifted == (ks > crit), s"$src flag")
    }
  }

  test("x179 multinomial draws: the hash draws partition exactly and recompute in-process with the gridded GOF") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mix = Lake.table(spark, SfDir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val n = mix.map(_._2).sum
    val his = mix.scanLeft(0L)(_ + _._2).tail
    val intervals = mix.zip(his).map { case ((s, ns), hi) =>
      (s, ns, hi - ns, hi) }
    val drawn = (0L until 1024L).map { i =>
      val u = ((i * Sampling.HashMul) % Sampling.HashMod) % 2000L
      intervals.find(t => u * n >= t._3 * 2000L && u * n < t._4 * 2000L)
        .get._1
    }.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    val expGof = r4(intervals.map { case (s, ns, _, _) =>
      val o = drawn.getOrElse(s, 0L)
      val d = (o * n - 1024L * ns).toDouble
      BigDecimal(d * d / (1024.0 * ns * n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sum)
    val got = Sampling.queries("x179_multinomial_draws")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(5)))
    assert(got.map(_._3).sum == 1024L, "draws must partition exactly")
    got.foreach { case (s, ns, nd, gof) =>
      assert(nd == drawn.getOrElse(s, 0L), s"$s drawn $nd")
      assert(math.abs(gof - expGof) < 1e-3, s"gof $gof vs $expGof")
    }
    assert(got.map(_._1).toSet == mix.map(_._1).toSet,
      "every source reports, drawn or not")
  }

  test("x180 upsample: replication factors recompute, copies multiply exactly, shares rebalance toward uniform") {
    val rows = Sampling.queries("x180_class_upsample")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val maxN = rows.map(_._2).max
    rows.foreach { case (lang, nb, rep, na, _, _) =>
      assert(rep == math.max(math.min(maxN / nb, 4L), 1L), s"$lang rep")
      assert(na == nb * rep, s"$lang copies")
    }
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-3)
    assert(math.abs(rows.map(_._6).sum - 1.0) < 1e-3)
    // rebalancing direction: the minority's share never decreases
    val minLang = rows.minBy(_._2)
    assert(minLang._6 >= minLang._5, s"minority share fell: $minLang")
  }

  test("x181 gap histogram: gap mass telescopes to events minus users, buckets are exact powers of two") {
    val rows = graft.pipeline.Views.queries("x181_gap_histogram")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // every event except each user's first contributes exactly one gap
    val ev = Lake.table(spark, SfDir, "events")
    val n = ev.count()
    val u = ev.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.map(_._3).sum == n - u,
      s"gap mass ${rows.map(_._3).sum} vs ${n - u}")
    rows.foreach { case (b, lo, _, _, _) =>
      if (b >= 0) assert(lo == (1L << b.toInt), s"bucket $b lo $lo")
    }
    assert(rows.map(_._1).sliding(2).forall(p => p.head < p.last))
    assert(rows.last._5 == 1.0)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-2)
  }

  test("x182 ngram coverage: snapshots recompute from the exact bigram ranking and the curve is monotone") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bg = TextAnalysis.bigramTable(spark, SfDir)
      .groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ordered = bg.sortBy(t => (-t._3, t._1, t._2)).map(_._3)
    val total = ordered.sum
    val got = TextAnalysis.queries("x182_ngram_coverage")(spark, SfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (k, nd, t, mass, cov) =>
      assert(nd == bg.length.toLong && t == total)
      assert(mass == ordered.take(k).sum, s"top-$k mass")
      assert(cov == r4(mass.toDouble / total), s"top-$k coverage")
    }
    assert(got.map(_._5).sliding(2).forall(p => p.head <= p.last))
  }

  test("x183 hapax share: per-source counts recompute exactly and columns are internally consistent") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val words = Lake.table(spark, SfDir, "documents")
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map(w => (r.getString(0), w)))
    val got = TextAnalysis.queries("x183_hapax_share")(spark, SfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    words.groupBy(_._1).foreach { case (src, ws) =>
      val freq = ws.groupBy(_._2).map(_._2.size)
      val (vocab, nTok, hapax) =
        (freq.size.toLong, ws.length.toLong, freq.count(_ == 1).toLong)
      val (gv, gn, gh, hs, ttr) = got(src)
      assert((gv, gn, gh) == ((vocab, nTok, hapax)), s"$src counts")
      assert(hs == r4(hapax.toDouble / vocab) &&
        ttr == r4(vocab.toDouble / nTok), s"$src ratios")
    }
  }

  test("x184 langid eval: cells partition the corpus and every metric recomputes from the published counts") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = TextAnalysis.queries("x184_langid_eval")(spark, SfDir)
      .collect()(0)
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    val n = Lake.table(spark, SfDir, "documents").count()
    assert(tp + fp + fn + tn == n, "cells must partition the corpus")
    // cross-check the cells against x11's own published predictions
    val preds = TextAnalysis.queries("x11_lang_id")(spark, SfDir)
      .collect().map(x => (x.getString(1) == "en", x.getString(2) == "en"))
    assert(tp == preds.count(p => p._1 && p._2) &&
      fp == preds.count(p => !p._1 && p._2) &&
      fn == preds.count(p => p._1 && !p._2) &&
      tn == preds.count(p => !p._1 && !p._2))
    val f1p = 2.0 * tp / (2.0 * tp + fp + fn)
    val f1n = 2.0 * tn / (2.0 * tn + fn + fp)
    assert(r.getDouble(4) == r4(tp.toDouble / (tp + fp)))
    assert(r.getDouble(5) == r4(tp.toDouble / (tp + fn)))
    assert(r.getDouble(6) == r4(f1p))
    assert(r.getDouble(7) == r4((tp + tn).toDouble / n))
    assert(r.getDouble(8) == r4((f1p + f1n) / 2.0))
  }

  test("x185 threshold sweep: cells partition at every threshold, recall and positives never rise with the cut") {
    val rows = TextAnalysis.queries("x185_threshold_sweep")(spark, SfDir)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(0.02, 0.04, 0.06, 0.08, 0.1))
    val n = Lake.table(spark, SfDir, "documents").count()
    rows.foreach { case (t, tp, fp, fn, tn) =>
      assert(tp + fp + fn + tn == n, s"threshold $t cells") }
    // raising the cut can only move predictions en -> unknown
    val recalls = TextAnalysis.queries("x185_threshold_sweep")(spark, SfDir)
      .collect().map(_.getDouble(6))
    assert(recalls.sliding(2).forall(p => p.head >= p.last),
      s"recall must be non-increasing: ${recalls.toSeq}")
    // raising the cut can only REMOVE positive predictions: tp+fp is
    // non-increasing, and tp alone is too
    val pos = rows.map(r => r._2 + r._3)
    assert(pos.sliding(2).forall(p => p.head >= p.last),
      s"positives must be non-increasing: ${pos.toSeq}")
    assert(rows.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("c91 outlier users: the flagged set recomputes exactly from the population moments") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val counts = Lake.table(spark, SfDir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = counts.length.toLong
    val t = counts.map(_._2).sum
    val sxx = counts.map(c => c._2 * c._2).sum
    val v = n * sxx - t * t
    val expected = counts
      .map { case (u, c) => (u, c, c * n - t) }
      .filter { case (_, _, d) => BigInt(d) * BigInt(d) > BigInt(9) * BigInt(v) }
      .map { case (u, c, d) => (u, c, r4(d.toDouble / math.sqrt(v.toDouble))) }
      .sortBy(e => (-e._3, e._1)).take(20)
    val got = graft.queries.Surface.queries("c91_outlier_users")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == expected.toSeq,
      s"got ${got.toSeq}\nexp ${expected.toSeq}")
    // every survivor is on the heavy side by construction of the data
    assert(got.forall(_._3 > 3.0))
  }

  test("c92 type affinity: pair jaccards recompute exactly from the distinct user sets") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ut = Lake.table(spark, SfDir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = ut.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).toSet }
    val types = sets.keys.toSeq.sorted
    val exp = for {
      a <- types; b <- types if a < b
      both = (sets(a) intersect sets(b)).size.toLong if both > 0
    } yield (a, b, sets(a).size.toLong, sets(b).size.toLong, both,
      r4(both.toDouble / (sets(a).size + sets(b).size - both)))
    val got = graft.queries.Surface.queries("c92_type_affinity")(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == exp.toSeq, s"got ${got.toSeq}\nexp ${exp.toSeq}")
    assert(got.forall(g => g._6 > 0.0 && g._6 <= 1.0))
  }

  test("c93 conversion lag: lag mass telescopes to the converter count and the histogram recomputes exactly") {
    val ev = Lake.table(spark, SfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    val first = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val convs = ev.filter(e => e._3 == "purchase" && e._4 >= 95.0)
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val exp = convs.map { case (u, tc) =>
      val lag = tc - first(u)
      if (lag <= 0) -1L else math.floor(math.log(lag.toDouble) /
        math.log(2.0)).toLong
    }.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val got = graft.queries.Surface.queries("c93_conversion_lag")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(4)))
    assert(got.map(_._3).sum == convs.size.toLong,
      "every converter lands in exactly one bucket")
    got.foreach { case (b, lo, n, _) =>
      assert(n == exp(b), s"bucket $b")
      if (b >= 0) assert(lo == (1L << b.toInt))
    }
    assert(got.last._4 == 1.0)
  }

  test("c90 cohort ltv: weekly cents telescope to the corpus purchase total, curves never decrease") {
    val rows = graft.queries.Surface.queries("c90_cohort_ltv")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // mass conservation: every purchase cent lands in exactly one
    // (cohort, offset) cell
    val total = Lake.table(spark, SfDir, "events")
      .filter(col("event_type") === "purchase")
      .select(sum(floor(col("value") * 100).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(_._4).sum == total,
      s"cents ${rows.map(_._4).sum} vs corpus $total")
    // per cohort: cumulative monotone, final cum = cohort sum, ltv
    // consistent with its own columns
    rows.groupBy(_._1).foreach { case (c0, xs) =>
      val s = xs.sortBy(_._2)
      assert(s.map(_._5).sliding(2).forall(p => p.head <= p.last),
        s"cohort $c0 cum decreases")
      assert(s.last._5 == s.map(_._4).sum, s"cohort $c0 cum tail")
      s.foreach { x =>
        def r4(v: Double) = BigDecimal(v)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(x._6 == r4(x._5.toDouble / (x._3 * 100.0)), s"ltv at $x")
      }
    }
  }

  test("x186 aucFromScoreCells: tie-aware rank-sum matches the hand-computed pairwise AUC") {
    import spark.implicits._
    // positives score {10, 20, 20}, negatives {5, 5, 10}: 9 pairs,
    // 8 wins + 1 tie (10 vs 10) -> AUC = 8.5/9 = 0.944444
    val cells = Seq((10L, 2L, 1L), (20L, 2L, 2L), (5L, 2L, 0L))
      .toDF("enc_fp", "n", "n_pos")
    val rows = graft.ext.Sampling.aucFromScoreCells(cells).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(20L, 10L, 5L))
    rows.foreach(r => assert(r.getDouble(5) == 0.944444, s"auc in $r"))
    // ROC endpoints: at the top score TPR=2/3 FPR=0; at the lowest
    // cut everything is positive -> (1, 1)
    assert(rows.head.getDouble(3) == 0.0 && rows.head.getDouble(4) == 0.6667)
    assert(rows.last.getDouble(3) == 1.0 && rows.last.getDouble(4) == 1.0)
    // degenerate single-class frame: AUC must be NULL, never a
    // div-by-zero crash or a fabricated 0/1
    val onlyPos = Seq((10L, 2L, 2L)).toDF("enc_fp", "n", "n_pos")
    assert(graft.ext.Sampling.aucFromScoreCells(onlyPos)
      .collect()(0).isNullAt(5))
  }

  test("c94 nelsonAalen: hand-computed hazard increments and Breslow survival") {
    import spark.implicits._
    val subj = Seq((1L, true), (1L, false), (2L, true))
      .toDF("t_day", "died")
    val rows = graft.queries.Surface.nelsonAalen(subj)
      .orderBy(col("t_day")).collect()
    // t=1: d=1,c=1 of 3 at risk -> H=1/3; t=2: d=1 of 1 -> H=4/3
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 3L && rows(0).getLong(2) == 1L &&
      rows(0).getLong(3) == 1L)
    assert(rows(0).getDouble(4) == 0.333333 &&
      rows(0).getDouble(5) == 0.7165)
    assert(rows(1).getLong(1) == 1L)
    assert(rows(1).getDouble(4) == 1.333333 &&
      rows(1).getDouble(5) == 0.2636)
  }

  test("x189 Poisson thresholds: monotone, e^-1 head, unit mean within the capped tail's bias") {
    val cum = graft.ext.Sampling.PoisCum
    assert(cum.sliding(2).forall(p => p.head < p.last), "thresholds must increase")
    val mod = graft.ext.Sampling.HashMod.toDouble
    assert(math.abs(cum.head / mod - math.exp(-1.0)) < 1e-8)
    // expected multiplicity from the frozen thresholds themselves
    val probs = cum.map(_ / mod)
    val mean = probs.head * 0 + (1 until probs.length).map(k =>
      k * (probs(k) - probs(k - 1))).sum +
      graft.ext.Sampling.PoisTail * (1.0 - probs.last)
    assert(math.abs(mean - 1.0) < 1e-3, s"capped-tail mean $mean")
  }

  test("x192 isotonic minimax: planted violation pools to the PAV solution") {
    import spark.implicits._
    // score-ascending rates [0.5, 0.0, 1.0] (weights 2,2,2): PAV pools
    // the first two blocks to 0.25 and leaves 1.0 -> [0.25, 0.25, 1.0]
    val cells = Seq((1L, 2L, 1L), (2L, 2L, 0L), (3L, 2L, 2L))
      .toDF("enc_fp", "n", "n_pos")
    // drive the registered operator's stages on the planted frame via
    // the same minimax construction, by swapping scoreCells for the
    // planted cells is not possible through the public map — instead
    // assert on the REGISTERED query that the fit is monotone and
    // within [min raw, max raw], and pin the planted math with a
    // direct minimax recompute here
    def minimax(rates: Seq[(Long, Long)]): Seq[Double] = {
      val cn = rates.map(_._1)
      val cp = rates.map(_._2)
      def mean(j: Int, k: Int): Double = {
        val n = (j to k).map(cn).sum.toDouble
        val p = (j to k).map(cp).sum.toDouble
        p / n
      }
      rates.indices.map(i =>
        (0 to i).map(j => (j until rates.size).map(k => mean(j, k)).min).max)
    }
    val expect = minimax(Seq((2L, 1L), (2L, 0L), (2L, 2L)))
    assert(expect.map(v => math.rint(v * 10000) / 10000) ==
      Seq(0.25, 0.25, 1.0))
    val got = graft.ext.Sampling.queries("x192_isotonic_calibration")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    val isoByScore = got.sortBy(_._1).map(_._3)
    assert(isoByScore.sliding(2).forall(p => p.length < 2 || p.head <= p.last),
      "isotonic fit must be non-decreasing in score")
    assert(isoByScore.max <= got.map(_._2).max + 1e-9 &&
      isoByScore.min >= got.map(_._2).min - 1e-9,
      "fit must stay inside the raw-rate envelope")
    // suppress unused warning for the planted frame (documents intent)
    assert(cells.count() == 3)
  }

  test("x193/x194: McNemar and kappa are exactly the formulas over their own reported cells") {
    val mc = graft.ext.TextAnalysis.queries("x193_mcnemar")(spark, SfDir)
      .collect()(0)
    val (n, n11, n10, n01, n00) = (mc.getLong(0), mc.getLong(1),
      mc.getLong(2), mc.getLong(3), mc.getLong(4))
    assert(n == n11 + n10 + n01 + n00, "cells must partition the corpus")
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (n10 + n01 > 0)
      assert(mc.getDouble(5) ==
        r6((n10 - n01).toDouble * (n10 - n01).toDouble / (n10 + n01).toDouble))
    val ka = graft.ext.TextAnalysis.queries("x194_cohens_kappa")(spark, SfDir)
      .collect()(0)
    val peNum = (ka.getLong(1) + ka.getLong(2)) * (ka.getLong(1) + ka.getLong(3)) +
      (ka.getLong(3) + ka.getLong(4)) * (ka.getLong(2) + ka.getLong(4))
    val kn = ka.getLong(0)
    if (kn * kn > peNum) {
      val kappa = ka.getDouble(7)
      assert(kappa ==
        r6((kn * (ka.getLong(1) + ka.getLong(4)) - peNum).toDouble /
          (kn * kn - peNum).toDouble))
      assert(kappa >= -1.0 && kappa <= 1.0)
    }
  }

  test("x195 smd balance: three covariate rows, hash split reads near-balanced") {
    val rows = graft.ext.Sampling.queries("x195_smd_balance")(spark, SfDir)
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("active_days", "events", "spend_cents"))
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(r.getDouble(3) > 0 && r.getDouble(4) > 0)
      // a deterministic-hash split is as-good-as-random: bound the
      // imbalance by ~3 standard errors of the SMD at the observed
      // arm sizes (sf0.001 has only ~15 users, so the bound must
      // scale with n — a fixed 0.1 bar is an sf0.1+ statement)
      val se = math.sqrt(1.0 / r.getLong(1) + 1.0 / r.getLong(2))
      assert(!r.isNullAt(5) && math.abs(r.getDouble(5)) < 3.0 * se + 0.05,
        s"covariate ${r.getString(0)} imbalanced beyond 3·SE($se): $r")
    }
  }

  test("x196 olsFromSums: a perfectly linear planted set recovers exact coefficients and r2 = 1") {
    import spark.implicits._
    // y = 3 + 2*x1 + 5*x2 on four non-degenerate points
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (2L, 3L))
      .map { case (x1, x2) => (x1, x2, 3L + 2L * x1 + 5L * x2) }
    val sums = Seq((
      pts.size.toLong,
      pts.map(_._1).sum, pts.map(_._2).sum, pts.map(_._3).sum,
      pts.map(p => p._1 * p._1).sum, pts.map(p => p._1 * p._2).sum,
      pts.map(p => p._2 * p._2).sum,
      pts.map(p => p._1 * p._3).sum, pts.map(p => p._2 * p._3).sum,
      pts.map(p => p._3 * p._3).sum))
      .toDF("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")
    val r = graft.ext.Sampling.olsFromSums(sums).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 3.0 && r.getDouble(2) == 2.0 &&
      r.getDouble(3) == 5.0, s"coefficients off: $r")
    assert(r.getDouble(4) == 1.0, s"r2 must be exactly 1 on a perfect fit: $r")
  }

  test("x197 G2 collocations: nonnegative statistic, min-count honored, top-20 bounded") {
    val rows = graft.ext.TextAnalysis.queries("x197_g2_collocations")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= 5L, s"min pair count violated: $r")
      // G2 is nonnegative up to the 1e-6-grid rounding of each cell term
      assert(r.getDouble(4) > -0.01, s"negative G2: $r")
    }
    val fps = rows.map(_.getLong(3))
    assert(fps.sliding(2).forall(p => p.length < 2 || p.head >= p.last),
      "rows must be ranked by the exact fp statistic")
  }

  test("x198 JM bigram LM: proper mixture — scores negative, bigram mass identical to x46's") {
    val jm = graft.ext.TextAnalysis.queries("x198_jm_bigram_lm")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(jm.nonEmpty)
    jm.foreach { case (id, nbg, lp) =>
      assert(nbg > 0 && lp < 0.0, s"doc $id: lp $lp must be a log-probability")
    }
    // the doc-grain bigram mass is the same table x46 scores
    val add1 = graft.ext.TextAnalysis.queries("x46_bigram_logprob")(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jm.map(t => t._1 -> t._2).toMap == add1,
      "JM and add-1 must score the identical bigram table")
    // every observed bigram has c12 >= 1, so the JM mixture sits at or
    // above the pure unigram floor and the mean log-prob above ln of
    // the smallest possible mixture: sanity-bound it away from -inf
    jm.foreach { case (id, _, lp) => assert(lp > -25.0, s"doc $id: $lp") }
  }

  test("x199 sparse cosine pairs: bounded similarity, ordered output, shared-support evidence") {
    val rows = graft.ext.TextAnalysis.queries("x199_sparse_cosine_pairs")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), s"pair must be ordered: $r")
      assert(r.getLong(2) >= 1 && r.getLong(3) > 0, s"shared support: $r")
      val s = r.getDouble(4)
      assert(s > 0.0 && s <= 1.0 + 1e-9, s"cosine out of range: $r")
    }
    val sims = rows.map(_.getDouble(4))
    assert(sims.sliding(2).forall(p => p.length < 2 || p.head >= p.last),
      "rows must be ranked by similarity")
  }

  test("x200 weighted pagerank: unit weights reproduce the unweighted recurrence bit-for-bit; skew pulls rank") {
    import spark.implicits._
    // symmetric triangle, unit weights: (rank*1) DIV wsum == rank DIV
    // outdeg, so the weighted recurrence must equal pageRankFp exactly
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val arcs1 = (edges ++ edges.map(e => (e._2, e._1)))
      .map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w")
    val unw = graft.ext.Graph.pageRankFp(
      (edges ++ edges.map(e => (e._2, e._1))).toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wtd = graft.ext.Graph.weightedPageRankFp(arcs1, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(wtd == unw, s"unit-weight ranks diverge: $wtd vs $unw")
    // skewed weights: node 1 sends 9/10 of its mass to 2, 1/10 to 3
    val skew = Seq((1L, 2L, 9L), (2L, 1L, 9L), (1L, 3L, 1L),
      (3L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    val sk = graft.ext.Graph.weightedPageRankFp(skew, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sk(2L) > sk(3L), s"weight skew must pull rank toward node 2: $sk")
  }

  test("x201 sliced AUC: per-day counts conserve the corpus, AUC bounded, defined where both classes exist") {
    val rows = graft.ext.Sampling.queries("x201_auc_by_slice")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty)
    val total = Lake.table(spark, SfDir, "events").count()
    assert(rows.map(_.getLong(1)).sum == total,
      "day slices must partition the event stream")
    rows.foreach { r =>
      val (n, np) = (r.getLong(1), r.getLong(2))
      if (np > 0 && n > np) {
        assert(!r.isNullAt(3) && r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0,
          s"AUC out of range: $r")
      } else assert(r.isNullAt(3), s"single-class day must read NULL: $r")
    }
  }

  test("x205 spearman: chars-vs-tokens ranks correlate strongly positively; planted inversions read -1") {
    import spark.implicits._
    val r = graft.ext.Sampling.queries("x205_spearman")(spark, SfDir)
      .collect()(0)
    assert(r.getLong(0) > 0 && !r.isNullAt(1))
    assert(r.getDouble(1) > 0.5,
      s"doc char length and token count must rank-correlate: $r")
    // planted perfect inversion through the same doubled-rank math
    val inv = Seq((1L, 1L, 30L), (2L, 2L, 20L), (3L, 3L, 10L))
      .toDF("doc_id", "a", "b")
    def r2(v: String) = {
      val byV = org.apache.spark.sql.expressions.Window.orderBy(col(v))
      inv.groupBy(col(v)).agg(count(lit(1)).as("f"))
        .withColumn("cb", coalesce(sum(col("f")).over(byV.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col(v), (lit(2L) * col("cb") + col("f") + lit(1L)).as(s"r2_$v"))
    }
    val j = inv.join(r2("a"), "a").join(r2("b"), "b")
      .agg(count(lit(1)).as("n"), sum(col("r2_a")).as("sx"),
        sum(col("r2_b")).as("sy"),
        sum(col("r2_a") * col("r2_a")).as("sxx"),
        sum(col("r2_a") * col("r2_b")).as("sxy"),
        sum(col("r2_b") * col("r2_b")).as("syy")).collect()(0)
    val (n, sx, sy, sxx, sxy, syy) = (j.getLong(0).toDouble, j.getLong(1).toDouble,
      j.getLong(2).toDouble, j.getLong(3).toDouble, j.getLong(4).toDouble,
      j.getLong(5).toDouble)
    val rho = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(rho - (-1.0)) < 1e-12, s"inversion must read -1: $rho")
  }

  test("x216 kendall tau_b: planted joints read +1/-1/0 exactly, pair classes partition n0, corpus agrees with spearman's sign") {
    import spark.implicits._
    def kb(rows: Seq[(Long, Long, Long)]) =
      graft.ext.Sampling.kendallFromJoint(
        rows.toDF("n_chars", "n_toks", "f")).collect()(0)
    // perfect concordance, with multiplicities exercising the
    // f-weighted cell algebra: C = 2*3 = 6, ties 4+4, n0 = 10
    val conc = kb(Seq((1L, 1L, 2L), (2L, 2L, 3L)))
    assert(conc.getLong(0) == 5 && conc.getLong(1) == 6 &&
      conc.getLong(2) == 0 && conc.getLong(3) == 4 && conc.getLong(4) == 4,
      s"concordant joint miscounted: $conc")
    assert(conc.getDouble(5) == 1.0, s"tau_b must read +1: $conc")
    // perfect inversion
    val inv = kb(Seq((1L, 3L, 1L), (2L, 2L, 1L), (3L, 1L, 1L)))
    assert(inv.getDouble(5) == -1.0 && inv.getLong(1) == 0 &&
      inv.getLong(2) == 3, s"inversion must read -1: $inv")
    // balanced 2x2 square: C = D = 1, Tx = Ty = 2 -> tau_b = 0
    val sq = kb(Seq((1L, 1L, 1L), (1L, 2L, 1L), (2L, 1L, 1L), (2L, 2L, 1L)))
    assert(sq.getDouble(5) == 0.0 && sq.getLong(1) == 1 && sq.getLong(2) == 1,
      s"tied square must read 0: $sq")
    // degenerate single-bin x axis: denominator collapses -> NULL
    val degen = kb(Seq((1L, 1L, 2L), (1L, 2L, 3L)))
    assert(degen.isNullAt(5), s"single-bin axis must read NULL: $degen")
    // real corpus: pair classes partition n0 (C + D + Tx + Ty - Txy,
    // with Txy recomputed from the binned cells), sign agrees with rho
    val r = graft.ext.Sampling.queries("x216_kendall_tau_b")(spark, SfDir)
      .collect()(0)
    val (n, c, d, tx, ty) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    val joint = graft.ext.Sampling.spearmanJointOf(
      Lake.table(spark, SfDir, "documents"))
    val mx = joint.agg(max(col("n_chars")), max(col("n_toks"))).collect()(0)
    val txy = joint
      .select(expr(s"(n_chars * ${graft.ext.Sampling.KendallBins}) DIV ${mx.getLong(0) + 1}").as("bx"),
        expr(s"(n_toks * ${graft.ext.Sampling.KendallBins}) DIV ${mx.getLong(1) + 1}").as("by"),
        col("f"))
      .groupBy(col("bx"), col("by")).agg(sum(col("f")).as("f"))
      .agg(sum(expr("(f * (f - 1)) DIV 2"))).collect()(0).getLong(0)
    assert(n * (n - 1) / 2 == c + d + tx + ty - txy,
      s"pair classes must partition n0: n=$n c=$c d=$d tx=$tx ty=$ty txy=$txy")
    assert(r.getDouble(5) > 0.5,
      s"chars and tokens must rank-concordantly on the corpus: $r")
  }

  test("x221 readability: syllable heuristic on planted words, per-source readout consistent") {
    import spark.implicits._
    // vowel-group counts: table=2, stream=1, aa=1, b=min 1 -> 5
    val syl = Seq("table stream aa b").toDF("text")
      .select(expr("aggregate(transform(split(text, ' '), t -> " +
        "greatest(1, size(filter(split(t, '[^aeiou]+'), " +
        "s -> s != '')))), 0L, (acc, v) -> acc + v)"))
      .collect()(0).getLong(0)
    assert(syl == 5L, s"planted syllable count: $syl")
    val rows = graft.ext.TextAnalysis.queries("x221_readability")(spark, SfDir)
      .collect()
    val nSrc = Lake.table(spark, SfDir, "documents")
      .select(col("source")).distinct().count()
    assert(rows.length == nSrc)
    rows.foreach { r =>
      val (w, s, y) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(y >= w, s"every word has >= 1 syllable: $r")
      assert(s >= 1 && s <= w, s"sentence chunking out of range: $r")
      def r4(v: Double) = BigDecimal(v)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) ==
        r4(0.39 * w.toDouble / s + 11.8 * y.toDouble / w - 15.59),
        s"grade inconsistent with its own counts: $r")
    }
  }

  test("x222 jsd: matches an in-process reference per source, bounded by ln 2") {
    val texts = Lake.table(spark, SfDir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ").toSeq)
    val cs = texts.flatMap { case (s, ws) => ws.map(s -> _) }
      .groupBy(identity).map { case ((s, w), g) => (s, w) -> g.size.toLong }
    val cw = cs.groupBy(_._1._2).map { case (w, g) => w -> g.values.sum }
    val ns = cs.groupBy(_._1._1).map { case (s, g) => s -> g.values.sum }
    val n = cw.values.sum
    val ln2fp = graft.ext.TextAnalysis.Ln2Fp
    def fp(x: Double) = math.round(math.log(x) * 1e6)
    val expected = ns.map { case (src, nS) =>
      val present = cs.filter(_._1._1 == src)
      val pNum = present.map { case ((_, w), cS) =>
        val den = cS.toDouble * n + cw(w).toDouble * nS
        cS * fp(2.0 * cS * n / den)
      }.sum
      val qPresentNum = present.map { case ((_, w), cS) =>
        val den = cS.toDouble * n + cw(w).toDouble * nS
        cw(w) * fp(2.0 * cw(w) * nS / den)
      }.sum
      val cPresent = present.keys.toSeq.map(k => cw(k._2)).sum
      val jsd = (pNum.toDouble / nS +
        (qPresentNum.toDouble + ln2fp.toDouble * (n - cPresent)) / n) / 2e6
      src -> BigDecimal(jsd).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val got = graft.ext.TextAnalysis.queries("x222_js_divergence")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got == expected, s"\n$got\nvs\n$expected")
    assert(got.values.forall(v => v >= 0.0 && v <= 0.6932),
      s"JSD out of [0, ln2]: $got")
  }

  test("x223 min-span: matches an in-process positional reference exactly") {
    val texts = Lake.table(spark, SfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val expected = texts.flatMap { case (id, ws) =>
      val pos = ws.zipWithIndex.filter(p => p._1 == "key" || p._1 == "stream")
      val gaps = pos.sliding(2).collect {
        case Seq((t1, p1), (t2, p2)) if t1 != t2 => (p2 - p1 + 1).toLong
      }.toSeq
      if (gaps.isEmpty) None
      else Some((id, pos.count(_._1 == "key").toLong,
        pos.count(_._1 == "stream").toLong, gaps.min))
    }.sortBy { case (id, _, _, sp) => (sp, id) }.take(20)
    val got = graft.ext.TextAnalysis
      .queries("x223_min_span_proximity")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expected.toSeq, s"\n$got\nvs\n$expected")
    assert(got.nonEmpty, "fixture should contain co-occurring query terms")
  }

  test("x227 mcc: consistent with x193's shared cells, matches the phi formula exactly") {
    val m = graft.ext.TextAnalysis.queries("x193_mcnemar")(spark, SfDir)
      .collect()(0)
    val r = graft.ext.TextAnalysis.queries("x227_mcc")(spark, SfDir)
      .collect()(0)
    // one cell build serves x193/x194/x227: the 2x2 must be identical
    assert((0 to 4).forall(i => m.getLong(i) == r.getLong(i)),
      s"cells diverge: $m vs $r")
    val (n11, n10, n01, n00) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val expected = BigDecimal((n11 * n00 - n10 * n01).toDouble /
      math.sqrt(((n11 + n10) * (n11 + n01)).toDouble *
        ((n00 + n10) * (n00 + n01)).toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == expected, s"mcc: ${r.getDouble(5)} vs $expected")
    assert(r.getDouble(5) > 0.0,
      "length and token-count rules must correlate positively")
  }

  test("x228 theil u: matches an in-process entropy reference, bounded by [0, 1]") {
    val cells = Lake.table(spark, SfDir, "documents")
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = cells.length.toLong
    val byCell = cells.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val rowN = byCell.groupBy(_._1._1).map { case (s, g) => s -> g.values.sum }
    val colN = byCell.groupBy(_._1._2).map { case (l, g) => l -> g.values.sum }
    def fp(x: Double) = math.round(math.log(x) * 1e6)
    val miNum = byCell.toSeq.map { case ((s, l), c) =>
      c * fp(c.toDouble * n / (rowN(s).toDouble * colN(l).toDouble))
    }.sum
    val hNum = -colN.values.toSeq.map(c => c * fp(c.toDouble / n)).sum
    def r(v: Double, s: Int) = BigDecimal(v)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = graft.ext.TextAnalysis.queries("x228_theil_u")(spark, SfDir)
      .collect()(0)
    assert(row.getLong(0) == n && row.getLong(1) == colN.size.toLong)
    assert(row.getDouble(2) == r(hNum.toDouble / (n * 1e6), 4), s"h: $row")
    assert(row.getDouble(3) == r(miNum.toDouble / (n * 1e6), 4), s"mi: $row")
    assert(row.getDouble(4) == r(miNum.toDouble / hNum, 6), s"u: $row")
    assert(row.getDouble(4) >= -0.001 && row.getDouble(4) <= 1.0,
      s"U out of range: $row")
  }

  test("x229 brown-forsythe: matches an in-process reference off discrete medians") {
    val d = Lake.table(spark, SfDir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    def med(xs: Seq[Long]) = xs.sorted.apply((xs.length - 1) / 2)
    val groups = d.groupBy(_._1).map { case (s, g) =>
      val vals = g.map(_._2).toSeq
      val m = med(vals)
      val zs = vals.map(v => math.abs(v - m))
      (s, vals.length.toLong, m, zs.sum, zs.map(z => z * z).sum)
    }.toSeq.sortBy(_._1)
    val n = groups.map(_._2).sum
    val k = groups.length
    val sb = groups.map(g => g._4.toDouble * g._4 / g._2).sum
    val szTot = groups.map(_._4).sum
    val szzTot = groups.map(_._5).sum
    val between = sb - szTot.toDouble * szTot / n
    val within = szzTot.toDouble - sb
    val expectedF = BigDecimal((between / (k - 1.0)) /
      (within / (n.toDouble - k)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = graft.ext.Sampling.queries("x229_brown_forsythe")(spark, SfDir)
      .collect()
    assert(rows.length == k)
    rows.zip(groups).foreach { case (r, (s, nG, m, sz, _)) =>
      assert(r.getString(0) == s && r.getLong(1) == nG &&
        r.getLong(2) == m, s"group stats: $r vs ($s, $nG, $m)")
      assert(r.getDouble(3) == BigDecimal(sz.toDouble / nG)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"mean abs dev: $r")
      assert(r.getDouble(5) == expectedF, s"F: ${r.getDouble(5)} vs $expectedF")
    }
  }

  test("x225 binseg: planted level shift localized exactly, argmax key integer-decided") {
    import spark.implicits._
    // level 10 for 3 days then 50 for 3 days: split after day 2,
    // gain = 360^2 / (6*3*3) = 2400
    val daily = Seq(("a", 0L, 10L), ("a", 1L, 10L), ("a", 2L, 10L),
      ("a", 3L, 50L), ("a", 4L, 50L), ("a", 5L, 50L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.binsegReport(daily).collect()
    assert(r.length == 1)
    val b = r.head
    assert(b.getLong(1) == 2L && b.getLong(2) == 3L && b.getLong(3) == 3L,
      s"split location: $b")
    assert(b.getDouble(4) == 10.0 && b.getDouble(5) == 50.0 &&
      b.getDouble(6) == 2400.0, s"split readout: $b")
    // flat series: every candidate keys to 0, tiebreak picks day 0
    val flat = Seq(("f", 0L, 7L), ("f", 1L, 7L), ("f", 2L, 7L))
      .toDF("event_type", "day", "x")
    val fr = graft.pipeline.Views.binsegReport(flat).collect().head
    assert(fr.getLong(1) == 0L && fr.getDouble(6) == 0.0,
      s"flat series must tiebreak to the first day: $fr")
    // corpus: one row per type, means bracket the gain direction
    val rows = graft.pipeline.Views
      .queries("x225_binseg_changepoint")(spark, SfDir).collect()
    val nTypes = Lake.table(spark, SfDir, "events")
      .select(col("event_type")).distinct().count()
    assert(rows.length == nTypes && rows.forall(_.getDouble(6) >= 0.0),
      s"corpus binseg: ${rows.toSeq}")
  }

  test("x226 cochran q: matches an in-process reference, shares sufficient statistics with x215") {
    val d = Lake.table(spark, SfDir, "documents")
      .select(col("n_chars"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ")
        (r.getLong(0), toks.length.toLong, toks.distinct.length.toLong)
      }
    def med(xs: Seq[Long]) = xs.sorted.apply((xs.length - 1) / 2)
    val (mc, mt, my) = (med(d.map(_._1).toSeq), med(d.map(_._2).toSeq),
      med(d.map(_._3).toSeq))
    val votes = d.map { case (a, b, c) =>
      (if (a > mc) 1L else 0L, if (b > mt) 1L else 0L,
        if (c > my) 1L else 0L)
    }
    val (c1, c2, c3) = (votes.map(_._1).sum, votes.map(_._2).sum,
      votes.map(_._3).sum)
    val rs = votes.map(v => v._1 + v._2 + v._3)
    val (sr, sr2) = (rs.sum, rs.map(r => r * r).sum)
    val den = 3 * sr - sr2
    val expected = BigDecimal(2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) -
      (c1 + c2 + c3) * (c1 + c2 + c3)).toDouble / den)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = graft.ext.TextAnalysis.queries("x226_cochran_q")(spark, SfDir)
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((c1, c2, c3)),
      s"per-rater totals: $r vs ($c1, $c2, $c3)")
    assert(r.getDouble(4) == expected, s"Q: ${r.getDouble(4)} vs $expected")
    // the shared sufficient statistic: Q's denominator is exactly half
    // x215's doubled disagreement mass
    val alpha = graft.ext.TextAnalysis
      .queries("x215_krippendorff_alpha")(spark, SfDir).collect()(0)
    assert(alpha.getLong(3) == 2 * den,
      s"d_obs must equal 2*(3*sr - sr2): ${alpha.getLong(3)} vs ${2 * den}")
    assert(alpha.getLong(2) == c1 + c2 + c3,
      "positive-vote totals must agree across the two operators")
  }

  test("x224 linear cka: matches an exact BigInt reference, reads near 1 for the coarse-grid twin") {
    val vecs = Lake.table(spark, SfDir, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length
    val d = vecs.head.length
    val xs = vecs.map(_.map(v => math.round(v * 1000)))
    val ys = vecs.map(_.map(v => math.round(v * 100)))
    def moment(a: Array[Array[Long]], b: Array[Array[Long]]) =
      Array.tabulate(d, d)((i, j) =>
        BigInt((0 until n).map(r => a(r)(i) * b(r)(j)).sum))
    val (sxx, sxy, syy) = (moment(xs, xs), moment(xs, ys), moment(ys, ys))
    val sx = Array.tabulate(d)(i => BigInt(xs.map(_(i)).sum))
    val sy = Array.tabulate(d)(i => BigInt(ys.map(_(i)).sum))
    def frob(s: Array[Array[BigInt]], ma: Array[BigInt], mb: Array[BigInt]) =
      (for (i <- 0 until d; j <- 0 until d) yield {
        val c = BigInt(n) * s(i)(j) - ma(i) * mb(j)
        c * c
      }).sum
    val (nxx, nxy, nyy) =
      (frob(sxx, sx, sx), frob(sxy, sx, sy), frob(syy, sy, sy))
    val expected = BigDecimal(nxy.toDouble /
      math.sqrt(nxx.toDouble * nyy.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = graft.ext.Similarity.queries("x224_linear_cka")(spark, SfDir)
      .collect()(0)
    assert(r.getLong(0) == n && r.getLong(1) == d, s"meta: $r")
    assert(r.getDouble(2) == expected,
      s"cka must match the exact reference: ${r.getDouble(2)} vs $expected")
    assert(r.getDouble(2) > 0.9 && r.getDouble(2) <= 1.0,
      s"coarse-grid twin should preserve geometry: $r")
  }

  test("x220 katz: hand-computed walk counts on a path graph, corpus top-20 sane") {
    import spark.implicits._
    // path 1-2-3: w1 = in-degree (1,2,1), w2 = (2,2,2), w3 = (2,4,2)
    val arcs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val got = graft.ext.Graph.katzTruncatedFp(arcs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq((2L, 2L, 2L, 4L, 2.0),
      (1L, 1L, 2L, 2L, 1.25), (3L, 1L, 2L, 2L, 1.25)),
      s"path-graph katz: ${got.toSeq}")
    // corpus: 20 rows, walk counts consistent (w2 > 0 wherever w1 > 0
    // on a symmetric graph), katz matches its own components
    val rows = graft.ext.Graph.queries("x220_katz_centrality")(spark, SfDir)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getDouble(4) ==
        BigDecimal((4 * r.getLong(1) + 2 * r.getLong(2) + r.getLong(3)) / 8.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"katz readout inconsistent with walk counts: $r")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0,
        s"top-20 node with zero short walks: $r")
    }
  }

  test("x217 kruskal-wallis: textbook two-group H, tie correction, degenerate NULL") {
    import spark.implicits._
    def kw(rows: Seq[(String, Long, Long)]) =
      graft.ext.Sampling.kruskalWallisFromCells(
        rows.toDF("grp", "v", "f")).collect()
    // A = {1,2}, B = {3,4}: R_A = 3, R_B = 7, H = 2.4 (no ties)
    val r1 = kw(Seq(("A", 1L, 1L), ("A", 2L, 1L), ("B", 3L, 1L), ("B", 4L, 1L)))
    assert(r1.map(_.getString(0)).toSeq == Seq("A", "B"))
    assert(r1.forall(_.getDouble(4) == 2.4), s"untied H must read 2.4: ${r1.toSeq}")
    assert(r1.forall(r => r.getDouble(5) == 2.4),
      s"no ties -> corrected H equals H: ${r1.toSeq}")
    assert(r1.head.getDouble(2) == 1.5 && r1.last.getDouble(2) == 3.5,
      s"mean ranks: ${r1.toSeq}")
    // A = {1,1}, B = {2,2}: same H, tie mass 12/60 -> H_c = 2.4/0.8 = 3
    val r2 = kw(Seq(("A", 1L, 2L), ("B", 2L, 2L)))
    assert(r2.forall(_.getDouble(4) == 2.4) && r2.forall(_.getDouble(5) == 3.0),
      s"tie-corrected H must read 3.0: ${r2.toSeq}")
    // single group: H undefined, never a crash
    val r3 = kw(Seq(("A", 1L, 2L), ("A", 2L, 3L)))
    assert(r3.length == 1 && r3.head.isNullAt(4), s"single group: ${r3.toSeq}")
    // corpus: one row per source, H >= 0
    val rows = graft.ext.Sampling.queries("x217_kruskal_wallis")(spark, SfDir)
      .collect()
    val nSrc = Lake.table(spark, SfDir, "documents")
      .select(col("source")).distinct().count()
    assert(rows.length == nSrc && rows.forall(_.getDouble(4) >= 0.0),
      s"corpus KW: ${rows.take(3).toSeq}")
  }

  test("x218 count-min: sketch matches an in-process simulation exactly, overestimate-only") {
    import spark.implicits._
    val counts = Seq((3L, 10L), (17L, 7L), (99L, 7L), (1234567L, 3L),
      (2L, 1L), (40L, 1L), (41L, 1L), (42L, 1L))
    val got = graft.ext.Sampling.cmsHeavyFromCounts(counts.toDF("k", "c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // in-process reference: same frozen hashes, same additive counters
    val p = graft.ext.Sampling.CmsP
    val w = graft.ext.Sampling.CmsW
    def slots(k: Long) = graft.ext.Sampling.CmsHashes.map { case (a, b) =>
      ((a * (k % p) + b) % p) % w
    }
    val grid = scala.collection.mutable.Map[(Int, Long), Long]()
    counts.foreach { case (k, c) =>
      slots(k).zipWithIndex.foreach { case (s, r) =>
        grid((r, s)) = grid.getOrElse((r, s), 0L) + c
      }
    }
    val expected = counts.sortBy { case (k, c) => (-c, k) }.map { case (k, c) =>
      (k, c, slots(k).zipWithIndex.map { case (s, r) => grid((r, s)) }.min)
    }
    assert(got.toSeq == expected, s"\n$got\nvs\n$expected")
    assert(got.forall { case (_, c, est) => est >= c },
      "CMS must never underestimate")
    // corpus: top-20 heavy users, overcount >= 0 on every row
    val corpus = graft.ext.Sampling.queries("x218_cms_heavy")(spark, SfDir)
      .collect()
    val nUsers = Lake.table(spark, SfDir, "events")
      .select(col("user_id")).distinct().count()
    assert(corpus.length == math.min(20L, nUsers) &&
      corpus.forall(_.getLong(3) >= 0L),
      s"corpus CMS: ${corpus.take(3).toSeq}")
  }

  test("x219 kmv: small groups are lossless, big groups match the closed-form estimator exactly") {
    import spark.implicits._
    val small = (1L to 3L).map(("tiny", _))
    val big = (1L to 1000L).map(("big", _))
    val got = graft.ext.Sampling.kmvDistinctFromElements(
      (small ++ big).toDF("grp", "k"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("tiny") == ((3L, 3L)), s"sub-K group must be exact: $got")
    // closed-form reference for the big group
    val p = graft.ext.Sampling.CmsP
    val (a, b) = graft.ext.Sampling.CmsHashes.head
    val hk = (1L to 1000L).map(k => (a * (k % p) + b) % p).sorted
      .apply(graft.ext.Sampling.KmvK.toInt - 1)
    val expected = math.round((graft.ext.Sampling.KmvK - 1.0) * p.toDouble / hk)
    assert(got("big") == ((1000L, expected)),
      s"estimator must match closed form: $got vs $expected")
    assert(math.abs(expected - 1000.0) / 1000.0 < 0.5,
      s"estimate implausibly far on uniform keys: $expected")
    // corpus: one row per event_type, error bounded
    val corpus = graft.ext.Sampling.queries("x219_kmv_distinct")(spark, SfDir)
      .collect()
    val nTypes = Lake.table(spark, SfDir, "events")
      .select(col("event_type")).distinct().count()
    assert(corpus.length == nTypes && corpus.forall(_.getDouble(3) < 0.6),
      s"corpus KMV: ${corpus.toSeq}")
  }

  test("x219 kmv sub-K fallback is computed sketch-side, never from the exact control") {
    import spark.implicits._
    // Plant a readout where the sketch state and the exact control
    // DISAGREE (impossible under the injective frozen hash, possible
    // under a colliding one): a 3-hash slate beside a control that
    // claims 999 distincts. A provenance-correct estimator must
    // publish the sketch's own n_seen (3) — an estimator that read
    // the control would silently hide hash collisions.
    val state = Seq(("g", 10L), ("g", 20L), ("g", 30L)).toDF("grp", "h")
    val control = Seq(("g", 999L)).toDF("grp", "exact_distinct")
    val r = graft.ext.Sampling.kmvReadout(state, control).collect()(0)
    assert(r.getLong(1) == 999L && r.getLong(2) == 3L,
      s"sub-K estimate must come from the sketch state: $r")
  }

  test("x232 cliff's delta: hand-computed pair classes, lt falls out of the identity") {
    import spark.implicits._
    // a = {1,2,3}, b = {2,4}: gt = 1 (3>2), lt = 4, ties = 1 (2=2)
    val cells = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L),
      ("b", 2L, 1L), ("b", 4L, 1L))
    val r = graft.ext.Sampling.cliffsDeltaFromCells(
      cells.toDF("grp", "v", "f")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 2L, 1L, 4L, 1L)), s"pair classes: $r")
    assert(r.getDouble(5) == -0.5, s"delta must read (1-4)/6: $r")
    // corpus: delta in [-1, 1]
    val c = graft.ext.Sampling.queries("x232_cliffs_delta")(spark, SfDir)
      .collect()(0)
    assert(math.abs(c.getDouble(5)) <= 1.0, s"corpus delta: $c")
  }

  test("x233 somers' d: perfectly ordered/anti-ordered joints read ±1, corpus agrees with x216's grid") {
    import spark.implicits._
    val ordered = Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L))
    val r1 = graft.ext.Sampling.somersDFromJoint(
      ordered.toDF("n_chars", "n_toks", "f")).collect()(0)
    assert(r1.getDouble(3) == 1.0 && r1.getDouble(4) == 1.0,
      s"ordered joint must read D = 1 both ways: $r1")
    val anti = Seq((1L, 3L, 1L), (2L, 2L, 1L), (3L, 1L, 1L))
    val r2 = graft.ext.Sampling.somersDFromJoint(
      anti.toDF("n_chars", "n_toks", "f")).collect()(0)
    assert(r2.getDouble(3) == -1.0 && r2.getDouble(4) == -1.0,
      s"anti-ordered joint must read D = -1 both ways: $r2")
    // corpus: same (C, D) masses as x216 — the shared-grid contract
    val d = graft.ext.Sampling.queries("x233_somers_d")(spark, SfDir)
      .collect()(0)
    val t = graft.ext.Sampling.queries("x216_kendall_tau_b")(spark, SfDir)
      .collect()(0)
    assert(d.getLong(0) == t.getLong(0) && d.getLong(1) == t.getLong(1) &&
      d.getLong(2) == t.getLong(2),
      s"x233 and x216 must read one grid: $d vs $t")
  }

  test("x242 gk gamma: tie-free joints read gamma = tau, corpus shares the x216 grid") {
    import spark.implicits._
    // perfectly ordered: C = 3, D = 0 → gamma = 1
    val ordered = Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L))
    val r = graft.ext.Sampling.gammaFromJoint(
      ordered.toDF("n_chars", "n_toks", "f")).collect()(0)
    assert(r.getDouble(3) == 1.0, s"ordered gamma: $r")
    // corpus: same (C, D) masses as x216, gamma >= tau_b in
    // magnitude (gamma's denominator drops the tie mass)
    val g = graft.ext.Sampling.queries("x242_gk_gamma")(spark, SfDir)
      .collect()(0)
    val t = graft.ext.Sampling.queries("x216_kendall_tau_b")(spark, SfDir)
      .collect()(0)
    assert(g.getLong(1) == t.getLong(1) && g.getLong(2) == t.getLong(2),
      s"x242 and x216 must read one grid: $g vs $t")
    assert(math.abs(g.getDouble(3)) >= math.abs(t.getDouble(5)) - 1e-9,
      s"|gamma| >= |tau_b|: $g vs $t")
  }

  test("x243 wasserstein: hand-computed mass on a two-source fixture, self-distance is zero-ish") {
    import spark.implicits._
    // source a = {0, 10}, source b = {10, 10}: support {0, 10},
    // F_a(0) = 1/2, F(0) = 1/4, gap = 10 → W1_a = |1/2 - 1/4|·10 =
    // 2.5; W1_b = |0 - 1/4|·10 = 2.5
    val cells = Seq(("a", 0L, 1L), ("a", 10L, 1L), ("b", 10L, 2L))
    val got = graft.ext.Sampling.wassersteinFromCells(
      cells.toDF("grp", "v", "f")).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("a") == 2.5 && got("b") == 2.5, s"W1 fixture: $got")
    // a single-source corpus has W1 = 0 against itself
    val self = graft.ext.Sampling.wassersteinFromCells(
      Seq(("a", 1L, 3L), ("a", 7L, 2L)).toDF("grp", "v", "f")).collect()(0)
    assert(self.getDouble(2) == 0.0, s"self W1: $self")
    // corpus: every source reported, W1 >= 0
    val c = graft.ext.Sampling.queries("x243_wasserstein")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(_.getDouble(2) >= 0.0),
      s"corpus W1: ${c.toSeq}")
  }

  test("x244 cox-stuart: planted monotone series reads all-positive pairs, middle day dropped") {
    import spark.implicits._
    // 5 days ascending: c = 3, pairs (d1,d4), (d2,d5) — both up
    val daily = Seq(("a", 0, 1L), ("a", 1, 2L), ("a", 2, 3L),
      ("a", 3, 4L), ("a", 4, 5L)).toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.coxStuartReport(daily).collect()(0)
    assert(r.getLong(1) == 5L && r.getLong(2) == 2L && r.getLong(3) == 0L,
      s"pairs: $r")
    assert(math.abs(r.getDouble(4) - 2.0 / math.sqrt(2.0)) < 1e-6,
      s"z: $r")
    // corpus: z finite per type
    val c = graft.pipeline.Views.queries("x244_cox_stuart")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(4) ||
      !r.getDouble(4).isNaN), s"corpus cox-stuart: ${c.toSeq}")
  }

  test("x245 friedman: perfect concordance reads chi2 = 2n, W = 1; ties midranked") {
    import spark.implicits._
    // 3 days x 3 types, identical rank order every day -> the
    // textbook no-tie maximum: chi2 = n(k-1) = 6, W = 1
    val daily = Seq(
      ("a", 0, 10L), ("b", 0, 20L), ("c", 0, 30L),
      ("a", 1, 11L), ("b", 1, 21L), ("c", 1, 31L),
      ("a", 2, 12L), ("b", 2, 22L), ("c", 2, 32L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.friedmanReport(daily).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L, s"grid: $r")
    assert(r.getDouble(2) == 6.0 && r.getDouble(3) == 1.0, s"stat: $r")
    // one fully-tied day contributes midranks, shrinking chi2 below
    // the max but keeping it defined
    val tied = daily.union(Seq(("a", 3, 5L), ("b", 3, 5L), ("c", 3, 5L))
      .toDF("event_type", "day", "x"))
    val t = graft.pipeline.Views.friedmanReport(tied).collect()(0)
    assert(t.getLong(0) == 4L && t.getDouble(2) > 0.0 &&
      t.getDouble(2) < 8.0 && t.getDouble(3) < 1.0, s"tied: $t")
    // corpus: single row, defined statistic
    val c = graft.pipeline.Views.queries("x245_friedman")(spark, SfDir)
      .collect()
    assert(c.length == 1 && !c(0).isNullAt(2) &&
      c(0).getDouble(2) >= 0.0, s"corpus friedman: ${c.toSeq}")
  }

  test("x246 bartlett: two-group fixture reads pooled 2.5, chi2 = 0.714059") {
    import spark.implicits._
    // a = {1,2,3} (var 1), b = {2,4,6} (var 4):
    // chi2 = (4 ln 2.5 - 2 ln 4) / (1 + (1 - 1/4)/3) = 0.714059
    val g = Seq(("a", 3L, 6L, 14L), ("b", 3L, 12L, 56L))
      .toDF("grp", "n_g", "s", "ss")
    val r = graft.ext.Sampling.bartlettFromMoments(g).collect()(0)
    assert(r.getDouble(2) == 2.5, s"pooled: $r")
    assert(math.abs(r.getDouble(3) - 0.714059) < 1e-6, s"chi2: $r")
    // corpus: defined, non-negative
    val c = graft.ext.Sampling.queries("x246_bartlett")(spark, SfDir)
      .collect()(0)
    assert(!c.isNullAt(3) && c.getDouble(3) >= 0.0, s"corpus bartlett: $c")
  }

  test("x247 inequality: hand-computed Theil/Atkinson/Hoover on a 4-user fixture") {
    import spark.implicits._
    // counts {1,1,2,4}: mu = 2, Theil = 0.25 ln 2 = 0.173287,
    // Atkinson(1) = 1 - 2^0.75/2 = 0.159104, Hoover = 16/64 = 0.25
    val cells = Seq((1L, 2L), (2L, 1L), (4L, 1L)).toDF("x", "f")
    val r = graft.ext.Sampling.inequalityFromCells(cells).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 8L, s"totals: $r")
    assert(math.abs(r.getDouble(4) - 0.173287) < 1e-6, s"theil: $r")
    assert(math.abs(r.getDouble(5) - 0.159104) < 1e-6, s"atkinson: $r")
    assert(r.getDouble(6) == 0.25, s"hoover: $r")
    // perfectly equal corpus reads zero on all three
    val eq = graft.ext.Sampling.inequalityFromCells(
      Seq((3L, 5L)).toDF("x", "f")).collect()(0)
    assert(eq.getDouble(4) == 0.0 && eq.getDouble(5) == 0.0 &&
      eq.getDouble(6) == 0.0, s"equal: $eq")
    // corpus: all three defined and non-negative
    val c = graft.ext.Sampling.queries("x247_theil_inequality")(spark, SfDir)
      .collect()(0)
    assert(c.getDouble(4) >= 0.0 && c.getDouble(5) >= 0.0 &&
      c.getDouble(6) >= 0.0, s"corpus inequality: $c")
  }

  test("x248 energy distance: point masses read 2|a-b|, identical groups read zero") {
    import spark.implicits._
    // a = delta(0), b = delta(10): D2 = 2 E|X-Y| = 20 for both sides
    val pm = graft.ext.Sampling.energyDistanceFromCells(
      Seq(("a", 0L, 1L), ("b", 10L, 1L)).toDF("grp", "v", "f")).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(pm("a") == 20.0 && pm("b") == 20.0, s"point masses: $pm")
    // identical two-point distributions: D2 = 0 exactly
    val idn = graft.ext.Sampling.energyDistanceFromCells(
      Seq(("a", 0L, 1L), ("a", 10L, 1L), ("b", 0L, 1L), ("b", 10L, 1L))
        .toDF("grp", "v", "f")).collect()
    assert(idn.forall(_.getDouble(3) == 0.0), s"identical: ${idn.toSeq}")
    // corpus: every source reported, D2 >= 0
    val c = graft.ext.Sampling.queries("x248_energy_distance")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(_.getDouble(3) >= -1e-9),
      s"corpus energy: ${c.toSeq}")
  }

  test("x253 durbin-watson: alternating residuals read dw = 3.4 on the hand fixture") {
    import spark.implicits._
    // (0,1),(1,0),(2,1),(3,0): b = -0.2, a = 0.8, residuals
    // {0.2,-0.6,0.6,-0.2}: sse = 0.8, ssd = 2.72 -> dw = 3.4
    val daily = Seq(("a", 0, 1L), ("a", 1, 0L), ("a", 2, 1L), ("a", 3, 0L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.durbinWatsonReport(daily).collect()(0)
    assert(r.getDouble(2) == 0.8 && r.getDouble(3) == 3.4, s"dw: $r")
    // a perfect line has zero residuals -> dw NULL, not a crash
    val line = Seq(("a", 0, 0L), ("a", 1, 2L), ("a", 2, 4L))
      .toDF("event_type", "day", "x")
    val l = graft.pipeline.Views.durbinWatsonReport(line).collect()(0)
    assert(l.getDouble(2) == 0.0 && l.isNullAt(3), s"line: $l")
    val c = graft.pipeline.Views.queries("x253_durbin_watson")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(3) ||
      (r.getDouble(3) >= 0.0 && r.getDouble(3) <= 4.0)), s"corpus dw: ${c.toSeq}")
  }

  test("x254 chow break: a planted level shift reads F = 190.43, split SSRs recompose") {
    import spark.implicits._
    // seg1 = {0,1,2} on y=x (SSR 0), seg2 = {13,14,16} (SSR 1/6),
    // pooled SSR 31.90476 -> F = 190.428571
    val daily = Seq(("a", 0, 0L), ("a", 1, 1L), ("a", 2, 2L),
      ("a", 3, 13L), ("a", 4, 14L), ("a", 5, 16L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.chowReport(daily).collect()(0)
    assert(math.abs(r.getDouble(2) - 31.9048) < 1e-4, s"ssr_p: $r")
    assert(math.abs(r.getDouble(3) - 0.1667) < 1e-4, s"ssr_split: $r")
    assert(math.abs(r.getDouble(4) - 190.428571) < 1e-3, s"f: $r")
    val c = graft.pipeline.Views.queries("x254_chow_break")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(4) || r.getDouble(4) >= 0.0),
      s"corpus chow: ${c.toSeq}")
  }

  test("x255 pettitt: a planted step locates the changepoint at the step with K = 9") {
    import spark.implicits._
    val daily = Seq(("a", 0, 1L), ("a", 1, 1L), ("a", 2, 1L),
      ("a", 3, 9L), ("a", 4, 9L), ("a", 5, 9L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.pettittReport(daily).collect()(0)
    assert(r.getLong(1) == 6L && r.getLong(2) == 9L && r.getInt(3) == 2,
      s"pettitt: $r")
    val expP = BigDecimal(2.0 * math.exp(-6.0 * 81.0 / 252.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == expP, s"p: $r vs $expP")
    val c = graft.pipeline.Views.queries("x255_pettitt")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.getLong(2) >= 0L &&
      r.getDouble(4) >= 0.0), s"corpus pettitt: ${c.toSeq}")
  }

  test("x256 kuiper dow: uniform week reads 0, one-day concentration reads 6/7") {
    import spark.implicits._
    val uniform = (0 to 6).map(d => ("a", d, 10L))
      .toDF("event_type", "day", "x")
    val u = graft.pipeline.Views.kuiperDowReport(uniform).collect()(0)
    assert(u.getDouble(2) == 0.0, s"uniform: $u")
    val conc = Seq(("a", 0, 7L)).toDF("event_type", "day", "x")
    val k = graft.pipeline.Views.kuiperDowReport(conc).collect()(0)
    assert(math.abs(k.getDouble(2) - 0.857143) < 1e-6, s"concentrated: $k")
    val c = graft.pipeline.Views.queries("x256_kuiper_dow")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.getDouble(2) >= 0.0 &&
      r.getDouble(2) <= 1.0), s"corpus kuiper: ${c.toSeq}")
  }

  test("x260 page trend: a monotone week ramp reads L = 140n and z = 28 sqrt(n)/sigma") {
    import spark.implicits._
    // 2 full weeks, counts ascending in dow: L = 280, E = 224,
    // Var = 261.333 -> z = 56/16.1658 = 3.464102
    val daily = (0 until 14).map(d => ("a", d, (10 + d % 7).toLong))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.pageTrendReport(daily).collect()(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 560L, s"page: $r")
    val expZ = BigDecimal(56.0 / math.sqrt(2.0 * 49.0 * 8.0 * 48.0 / 144.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == expZ, s"z: $r vs $expZ")
    // a flat week reads all-tied midranks: L2 = 2n * sum(j+1)*4 =
    // 112n doubled -> z = 0
    val flat = (0 until 7).map(d => ("a", d, 5L))
      .toDF("event_type", "day", "x")
    val f = graft.pipeline.Views.pageTrendReport(flat).collect()(0)
    assert(f.getDouble(3) == 0.0, s"flat z: $f")
    val c = graft.pipeline.Views.queries("x260_page_trend")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => !r.isNullAt(3)), s"corpus page: ${c.toSeq}")
  }

  test("x261 moods median: split groups read chi2 = 6 on the hand fixture") {
    import spark.implicits._
    // a = {1,2,3} (0 above median 3), b = {4,5,6} (3 above):
    // E = 1.5 per cell -> chi2 = 4 * 1.5 = 6
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("grp", "v")
    val r = graft.ext.Sampling.moodsMedian(d).collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L &&
      r.getLong(2) == 3L && r.getLong(3) == 3L, s"counts: $r")
    assert(r.getDouble(4) == 6.0, s"chi2: $r")
    // identical groups read chi2 = 0
    val same = Seq(("a", 1L), ("a", 9L), ("b", 1L), ("b", 9L))
      .toDF("grp", "v")
    val s = graft.ext.Sampling.moodsMedian(same).collect()(0)
    assert(s.getDouble(4) == 0.0, s"same: $s")
    val c = graft.ext.Sampling.queries("x261_moods_median")(spark, SfDir)
      .collect()(0)
    assert(!c.isNullAt(4) && c.getDouble(4) >= 0.0, s"corpus moods: $c")
  }

  test("x263 hl shift: identical samples read 0, a planted +10 shift reads -10 for a-b") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("v", "f")
    val same = graft.ext.Sampling.hlShiftFromCells(a, a).collect()(0)
    assert(same.getLong(0) == 9L && same.getLong(2) == 0L, s"same: $same")
    val b = Seq((11L, 1L), (12L, 1L), (13L, 1L)).toDF("v", "f")
    val sh = graft.ext.Sampling.hlShiftFromCells(a, b).collect()(0)
    assert(sh.getLong(2) == -10L, s"shift: $sh")
    val c = graft.ext.Sampling.queries("x263_hl_shift")(spark, SfDir)
      .collect()(0)
    assert(c.getLong(0) > 0L, s"corpus hl: $c")
  }

  test("x264 dist profile: identical halves read (0, 1, 0), disjoint supports read (1, 0, 1)") {
    import spark.implicits._
    val idn = graft.ext.Sampling.distProfileFromCells(
      Seq(("a", 0L, 1L), ("a", 10L, 1L), ("b", 0L, 1L), ("b", 10L, 1L))
        .toDF("grp", "v", "f")).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4),
        r.getDouble(5))).toMap
    assert(idn("a") == ((0.0, 1.0, 0.0)) && idn("b") == ((0.0, 1.0, 0.0)),
      s"identical: $idn")
    val dis = graft.ext.Sampling.distProfileFromCells(
      Seq(("a", 0L, 2L), ("b", 10L, 3L)).toDF("grp", "v", "f")).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4),
        r.getDouble(5))).toMap
    assert(dis("a") == ((1.0, 0.0, 1.0)) && dis("b") == ((1.0, 0.0, 1.0)),
      s"disjoint: $dis")
    // corpus: all three bounded in [0, 1], every source reported
    val c = graft.ext.Sampling.queries("x264_dist_profile")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.getDouble(3) >= 0.0 &&
      r.getDouble(3) <= 1.0 && r.getDouble(4) >= 0.0 &&
      r.getDouble(4) <= 1.0), s"corpus profile: ${c.toSeq}")
  }

  test("x265 quade: hand-computed F = 1.9 on a 3x3 grid with a fully-tied day") {
    import spark.implicits._
    // day ranges {6,7,0} -> weights {2,3,1}; S table gives A = 26,
    // B = 38/3 -> F = 2*38/40 = 1.9 exactly
    val daily = Seq(("a", 0, 3L), ("b", 0, 1L), ("c", 0, 7L),
      ("a", 1, 2L), ("b", 1, 5L), ("c", 1, 9L),
      ("a", 2, 4L), ("b", 2, 4L), ("c", 2, 4L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.quadeReport(daily).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L, s"grid: $r")
    assert(r.getDouble(2) == 1.9, s"f_quade: $r")
    // an all-tied grid reads NULL, not a crash
    val flat = Seq(("a", 0, 5L), ("b", 0, 5L), ("a", 1, 5L), ("b", 1, 5L))
      .toDF("event_type", "day", "x")
    val f = graft.pipeline.Views.quadeReport(flat).collect()(0)
    assert(f.isNullAt(2), s"flat: $f")
    val c = graft.pipeline.Views.queries("x265_quade")(spark, SfDir)
      .collect()(0)
    assert(!c.isNullAt(2) && c.getDouble(2) >= 0.0, s"corpus quade: $c")
  }

  test("x266 pacf: alternating series reads (-0.75, -0.142857, 0.166667); constant series is NULL") {
    import spark.implicits._
    val daily = Seq(("a", 0, 1L), ("a", 1, 3L), ("a", 2, 1L), ("a", 3, 3L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.pacfReport(daily).collect()(0)
    assert(r.getDouble(2) == -0.75, s"pacf1: $r")
    assert(math.abs(r.getDouble(3) - (-0.142857)) < 1e-6, s"pacf2: $r")
    assert(math.abs(r.getDouble(4) - 0.166667) < 1e-6, s"pacf3: $r")
    val const = Seq(("a", 0, 5L), ("a", 1, 5L), ("a", 2, 5L), ("a", 3, 5L))
      .toDF("event_type", "day", "x")
    val k = graft.pipeline.Views.pacfReport(const).collect()(0)
    assert(k.isNullAt(2) && k.isNullAt(3) && k.isNullAt(4), s"const: $k")
    // corpus: pacf1 must equal x152's lag-1 acf to grid resolution
    val p = graft.pipeline.Views.queries("x266_pacf")(spark, SfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val a = graft.pipeline.Views.queries("x152_acf")(spark, SfDir)
      .collect().filter(_.getInt(1) == 1)
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    p.foreach { case (ty, v) =>
      assert(math.abs(v - a(ty)) < 1e-4, s"pacf1 vs acf1 for $ty: $v vs ${a(ty)}")
    }
  }

  test("x268 stl strength: pure cycle reads seasonal 1, pure line reads trend 1") {
    import spark.implicits._
    // 3 exact weekly cycles, no trend: resid = 0 -> F_S = 1; the
    // deseasonalized series is constant -> F_T guards NULL
    val pat = Seq(5L, 9L, 3L, 7L, 2L, 8L, 4L)
    val cyc = (0 until 21).map(d => ("a", d, pat(d % 7)))
      .toDF("event_type", "day", "x")
    val c = graft.pipeline.Views.stlStrengthReport(cyc).collect()(0)
    assert(c.getDouble(3) == 1.0 && c.isNullAt(2), s"cycle: $c")
    // a pure line: detrending leaves nothing -> F_S guards NULL,
    // F_T reads 1
    val line = (0 until 21).map(d => ("a", d, d.toLong))
      .toDF("event_type", "day", "x")
    val l = graft.pipeline.Views.stlStrengthReport(line).collect()(0)
    assert(l.getDouble(2) == 1.0 && l.isNullAt(3), s"line: $l")
    // a 1-day hole: any center whose ±3-row window straddles it has 7
    // ROWS but an 8-day calendar span — the span guard must drop it.
    // days {0..9, 11..21}: full-window centers are 3..6 and 14..18 → 9
    val holed = ((0 until 22).filterNot(_ == 10))
      .map(d => ("a", d, pat(d % 7))).toDF("event_type", "day", "x")
    val h = graft.pipeline.Views.stlStrengthReport(holed).collect()(0)
    assert(h.getLong(1) == 9L, s"gap guard: $h")
    val corpus = graft.pipeline.Views.queries("x268_stl_strength")(spark, SfDir)
      .collect()
    assert(corpus.nonEmpty && corpus.forall(r =>
      (r.isNullAt(2) || (r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)) &&
      (r.isNullAt(3) || (r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))),
      s"corpus stl: ${corpus.toSeq}")
  }

  test("c100 qini curve: ten deciles partition the users, running curve is consistent") {
    val rows = graft.queries.Surface.queries("c100_qini_curve")(spark, SfDir)
      .collect()
    assert(rows.length == 10 &&
      rows.map(_.getInt(0)).toSeq == (1 to 10), s"deciles: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(3) > 0L, s"decile coverage: $r")
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(4) <= r.getLong(3),
        s"conv bounds: $r")
      // the increment is NULL exactly when the control side is empty
      assert(r.isNullAt(5) == (r.getLong(3) == 0L), s"null contract: $r")
    }
    // the cumulative curve recomputes from CUMULATIVE arm totals —
    // the canonical Q(φ) = conv_t(≤φ) − conv_c(≤φ)·N_t(≤φ)/N_c(≤φ)
    var (cnt, cct, cnc, ccc) = (0L, 0L, 0L, 0L)
    rows.foreach { r =>
      cnt += r.getLong(1); cct += r.getLong(2)
      cnc += r.getLong(3); ccc += r.getLong(4)
      if (!r.isNullAt(6)) {
        val e = cct.toDouble - ccc.toDouble * cnt.toDouble / cnc.toDouble
        assert(math.abs(r.getDouble(6) - e) < 1e-3, s"cum recompute: $r vs $e")
      }
    }
  }

  test("x269 dispersion: a constant series reads D = 0, a planted burst overdisperses") {
    import spark.implicits._
    val const = (0 until 5).map(d => ("a", d, 10L))
      .toDF("event_type", "day", "x")
    val c = graft.pipeline.Views.dispersionReport(const).collect()(0)
    assert(c.getDouble(2) == 10.0 && c.getDouble(3) == 0.0 &&
      c.getDouble(4) == 0.0, s"const: $c")
    // {1,1,1,1,16}: mean 4, s2 = (5*260-400)/(4*20) = 900/80 = 11.25
    val burst = Seq(("a", 0, 1L), ("a", 1, 1L), ("a", 2, 1L),
      ("a", 3, 1L), ("a", 4, 16L)).toDF("event_type", "day", "x")
    val b = graft.pipeline.Views.dispersionReport(burst).collect()(0)
    assert(b.getDouble(3) == 11.25 && b.getDouble(4) == 45.0, s"burst: $b")
    val corpus = graft.pipeline.Views.queries("x269_dispersion")(spark, SfDir)
      .collect()
    assert(corpus.nonEmpty && corpus.forall(_.getDouble(3) >= 0.0),
      s"corpus dispersion: ${corpus.toSeq}")
  }

  test("x270 breusch-pagan: homoskedastic line reads LM ~ 0, fanning residuals trip the flag") {
    import spark.implicits._
    // symmetric residuals of constant magnitude: e2 constant -> R2 = 0
    val homo = Seq(("a", 0, 9L), ("a", 1, 11L), ("a", 2, 9L), ("a", 3, 11L),
      ("a", 4, 9L), ("a", 5, 11L)).toDF("event_type", "day", "x")
    val h = graft.pipeline.Views.breuschPaganReport(homo).collect()(0)
    assert(!h.isNullAt(2) && h.getDouble(2) < 1.5 && !h.getBoolean(3),
      s"homo: $h")
    // residual magnitude growing with day: e2 on day correlates hard
    val fan = Seq(("a", 0, 10L), ("a", 1, 10L), ("a", 2, 11L), ("a", 3, 9L),
      ("a", 4, 16L), ("a", 5, 4L)).toDF("event_type", "day", "x")
    val f = graft.pipeline.Views.breuschPaganReport(fan).collect()(0)
    assert(f.getDouble(2) > h.getDouble(2), s"fan must exceed homo: $f vs $h")
    val corpus = graft.pipeline.Views.queries("x270_breusch_pagan")(spark, SfDir)
      .collect()
    assert(corpus.nonEmpty && corpus.forall(r => r.isNullAt(2) ||
      r.getDouble(2) >= 0.0), s"corpus bp: ${corpus.toSeq}")
  }

  test("x275 seasonal mk: a pure weekly cycle reads S = 0 while a within-dow ramp reads all-positive pairs") {
    import spark.implicits._
    // pure cycle, no trend: every within-dow pair is a tie -> S = 0
    val pat = Seq(5L, 9L, 3L, 7L, 2L, 8L, 4L)
    val cyc = (0 until 21).map(d => ("a", d, pat(d % 7)))
      .toDF("event_type", "day", "x")
    val c = graft.pipeline.Views.seasonalMannKendallReport(cyc).collect()(0)
    assert(c.getLong(1) == 7L && c.getLong(3) == 0L, s"cycle: $c")
    // cycle + within-dow growth: all 21 within-stratum pairs positive
    val ramp = (0 until 21).map(d => ("a", d, pat(d % 7) + 10L * (d / 7)))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.seasonalMannKendallReport(ramp).collect()(0)
    assert(r.getLong(2) == 21L && r.getLong(3) == 21L, s"ramp: $r")
    assert(r.getDouble(4) > 3.0, s"ramp z: $r")
    val corpus = graft.pipeline.Views.queries("x275_seasonal_mk")(spark, SfDir)
      .collect()
    assert(corpus.nonEmpty && corpus.forall(r => r.isNullAt(4) ||
      !r.getDouble(4).isNaN), s"corpus smk: ${corpus.toSeq}")
  }

  test("x234 anova f: textbook two-group fixture reads F = 8, eta2 = 0.8") {
    import spark.implicits._
    // a = {1,3}, b = {5,7}: SB = 16, SW = 4, F = (16/1)/(4/2) = 8
    val g = Seq(("a", 2L, 4L, 10L), ("b", 2L, 12L, 74L))
    val rows = graft.ext.Sampling.anovaFFromMoments(
      g.toDF("grp", "n_g", "s", "ss")).collect()
    assert(rows.length == 2 && rows(0).getDouble(4) == 8.0 &&
      rows(0).getDouble(5) == 0.8, s"ANOVA fixture: ${rows.toSeq}")
    assert(rows(0).getDouble(2) == 2.0 && rows(1).getDouble(2) == 6.0,
      s"group means: ${rows.toSeq}")
    // corpus: one row per source, F shared across rows
    val c = graft.ext.Sampling.queries("x234_anova_f")(spark, SfDir)
      .collect()
    assert(c.map(_.getDouble(4)).distinct.length == 1,
      s"F must be one shared statistic: ${c.toSeq}")
  }

  test("x235 welch t: textbook fixture reads t = -2.828427, df = 2") {
    import spark.implicits._
    val g = Seq(("a", 2L, 4L, 10L), ("b", 2L, 12L, 74L))
    val r = graft.ext.Sampling.welchTFromMoments(
      g.toDF("grp", "n_g", "s", "ss")).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L &&
      r.getDouble(2) == 2.0 && r.getDouble(3) == 6.0, s"moments: $r")
    assert(r.getDouble(4) == -2.828427 && r.getDouble(5) == 2.0 &&
      r.getDouble(6) == -2.828427, s"t/df/d: $r")
    // corpus: en-vs-other split populated on both sides
    val c = graft.ext.Sampling.queries("x235_welch_t")(spark, SfDir)
      .collect()(0)
    assert(c.getLong(0) > 0L && c.getLong(1) > 0L, s"corpus split: $c")
  }

  test("x230 hll: registers and estimate match an in-process simulation, duplicates are free") {
    import spark.implicits._
    val p = graft.ext.Sampling.CmsP
    val m = graft.ext.Sampling.HllM
    val (a, b) = graft.ext.Sampling.CmsHashes(1)
    def mix(h0: Long): Long = {
      val h1 = h0 * 48271L % p
      val h2 = h1 ^ (h1 / 2048)
      val h3 = h2 * 69621L % p
      h3 ^ (h3 / 1024)
    }
    def simulate(keys: Seq[Long]): (Long, Long) = {
      val regs = scala.collection.mutable.Map[Long, Long]()
      keys.foreach { k =>
        val h = mix((a * (k % p) + b) % p)
        val j = h % m
        val w = h / m
        val rank = if (w == 0L) 26L
          else 26L - (64 - java.lang.Long.numberOfLeadingZeros(w))
        regs(j) = math.max(regs.getOrElse(j, 0L), rank)
      }
      val vZero = m - regs.size
      val z = regs.values.map(r => math.pow(0.5, r.toDouble)).sum + vZero
      val raw = graft.ext.Sampling.HllAlpha * (m * m) / z
      val est = if (raw <= 2.5 * m && vZero > 0)
        math.round(m.toDouble * math.log(m.toDouble / vZero))
      else math.round(raw)
      (vZero, est)
    }
    val keys = (1L to 500L)
    // duplicates must not move a register (max is idempotent)
    val withDups = keys ++ keys.take(100) ++ keys.take(7)
    val got = graft.ext.Sampling.hllDistinctFromElements(
      withDups.map(("g", _)).toDF("grp", "k")).collect()
    val (vZero, est) = simulate(keys)
    assert(got.length == 1 && got(0).getLong(1) == 500L &&
      got(0).getLong(2) == vZero && got(0).getLong(3) == est,
      s"HLL vs simulation: ${got.toSeq} vs ($vZero, $est)")
    // estimate plausible on uniform-ish keys (HLL-64 std err ~13%)
    assert(math.abs(est - 500.0) / 500.0 < 0.5,
      s"estimate implausibly far: $est")
    // corpus: one row per event_type, bounded error vs exact
    val corpus = graft.ext.Sampling.queries("x230_hll_frozen")(spark, SfDir)
      .collect()
    val nTypes = Lake.table(spark, SfDir, "events")
      .select(col("event_type")).distinct().count()
    assert(corpus.length == nTypes && corpus.forall(_.getDouble(4) < 0.6),
      s"corpus HLL: ${corpus.toSeq}")
  }

  test("x231 ams: signed sums match an in-process simulation, estimate unbiased-ish on the corpus") {
    import spark.implicits._
    val p = graft.ext.Sampling.CmsP
    val counts = Seq((1L, 10L), (2L, 7L), (3L, 7L), (17L, 3L),
      (99L, 2L), (1234567L, 1L))
    val got = graft.ext.Sampling.amsF2FromCounts(
      counts.map { case (k, c) => ("g", k, c) }.toDF("grp", "k", "c"))
      .collect()
    val f2Exact = counts.map { case (_, c) => c * c }.sum
    def mix(h0: Long): Long = {
      val h1 = h0 * 48271L % p
      val h2 = h1 ^ (h1 / 2048)
      val h3 = h2 * 69621L % p
      h3 ^ (h3 / 1024)
    }
    val estSim = graft.ext.Sampling.AmsHashes.map { case (a, b) =>
      val z = counts.map { case (k, c) =>
        (if (mix((a * (k % p) + b) % p) < p / 2) 1L else -1L) * c
      }.sum
      z * z
    }.sum.toDouble / graft.ext.Sampling.AmsReps
    assert(got.length == 1 && got(0).getLong(1) == counts.length.toLong &&
      got(0).getLong(2) == f2Exact &&
      got(0).getLong(3) == math.round(estSim),
      s"AMS vs simulation: ${got.toSeq} vs ($f2Exact, $estSim)")
    // corpus: one row per event_type; 8 replicates of a 2-universal
    // sign family on ~uniform counts land within a loose band
    val corpus = graft.ext.Sampling.queries("x231_ams_f2")(spark, SfDir)
      .collect()
    val nTypes = Lake.table(spark, SfDir, "events")
      .select(col("event_type")).distinct().count()
    assert(corpus.length == nTypes && corpus.forall(_.getLong(2) > 0L),
      s"corpus AMS: ${corpus.toSeq}")
  }

  test("c98 c-index: hand-computed pair classes on planted subjects, corpus readout sane") {
    import spark.implicits._
    def ci(rows: Seq[(Long, Boolean, Long)]) =
      graft.queries.Surface.cIndexFromSubjects(
        rows.toDF("t_day", "died", "s")).collect()(0)
    // comparable pairs: (A,B)+(A,C)+(B,C) concordant, (A,D) score-tied,
    // (B,D) same-time -> NOT comparable: c = (3 + 0.5)/4
    val base = Seq((1L, true, 5L), (2L, true, 3L), (3L, false, 1L),
      (2L, false, 5L))
    val r1 = ci(base)
    assert(r1.getLong(0) == 4 && r1.getLong(1) == 3 &&
      r1.getLong(2) == 0 && r1.getLong(3) == 1, s"pair classes: $r1")
    assert(r1.getDouble(4) == 0.875, s"c-index must read 0.875: $r1")
    // a bad early converter with the LOWEST score flips 4 pairs to
    // discordant: c = (3 + 0.5)/8
    val r2 = ci(base :+ ((0L, true, 0L)))
    assert(r2.getLong(1) == 3 && r2.getLong(2) == 4 && r2.getLong(3) == 1,
      s"pair classes with planted discordance: $r2")
    assert(r2.getDouble(4) == 0.4375, s"c-index must read 0.4375: $r2")
    // censored-only corpus: no comparable pairs -> NULL, never a crash
    val r3 = ci(Seq((1L, false, 2L), (2L, false, 3L)))
    assert(r3.isNullAt(4) && r3.getLong(0) == 2, s"all-censored: $r3")
    // real corpus: every user is a subject, the index is a probability
    val r = graft.queries.Surface.queries("c98_c_index")(spark, SfDir)
      .collect()(0)
    val users = Lake.table(spark, SfDir, "events")
      .select(col("user_id")).distinct().count()
    assert(r.getLong(0) == users,
      s"every user must be a subject: ${r.getLong(0)} vs $users")
    assert(!r.isNullAt(4) && r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0,
      s"c-index out of range: $r")
  }

  test("c96 interrupted time series: two segments, contrast consistent with its own fits") {
    val rows = graft.queries.Surface.queries("c96_interrupted_ts")(spark, SfDir)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("post", "pre"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val contrast = rows.head.getDouble(5)
    assert(rows.forall(_.getDouble(5) == contrast),
      "level change must be the same scalar on both rows")
    // consistency only up to the 4 dp rounding of the reported fits
    assert(math.abs(contrast - r4(byName("post").getDouble(4) -
      byName("pre").getDouble(4))) <= 0.0002,
      s"contrast inconsistent with the two reported fits: $rows")
  }

  test("x206 permutation test: exact decision arithmetic, sane p-value, observed split reproduced") {
    val r = graft.ext.Sampling.queries("x206_permutation_test")(spark, SfDir)
      .collect()(0)
    val (nUsers, nPerms, nExtreme, p) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))
    assert(nPerms == graft.ext.Sampling.PermReps.toLong)
    assert(nExtreme >= 0 && nExtreme <= nPerms)
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p == r4((nExtreme + 1).toDouble / (nPerms + 1).toDouble),
      s"p-value must be the add-one ratio of its own counts: $r")
    assert(nUsers > 0 && p > 0.0 && p <= 1.0)
  }

  test("c99 mantel-haenszel: arm bookkeeping matches c97, ln_hr recomputes from hr") {
    val hr = graft.queries.Surface.queries("c99_mantel_haenszel_hr")(spark, SfDir)
      .collect()(0)
    val lr = graft.queries.Surface.queries("c97_logrank")(spark, SfDir)
      .collect()(0)
    // same risk spine -> identical arm sizes and event totals
    assert(hr.getLong(0) == lr.getLong(0) && hr.getLong(1) == lr.getLong(1) &&
      hr.getLong(2) == lr.getLong(2) && hr.getLong(3) == lr.getLong(3),
      s"spine bookkeeping: $hr vs $lr")
    assert(hr.getDouble(4) > 0.0, s"hr: $hr")
    assert(math.abs(hr.getDouble(5) - math.log(hr.getDouble(4))) < 1e-4,
      s"ln_hr consistency: $hr")
  }

  test("c101 rmst: both arms bounded by tau, diff consistent with the arm means") {
    val r = graft.queries.Surface.queries("c101_rmst")(spark, SfDir)
      .collect()(0)
    assert(r.getInt(0) == 20, s"tau: $r")
    assert(!r.isNullAt(1) && !r.isNullAt(2), s"arms defined: $r")
    assert(r.getDouble(1) > 0.0 && r.getDouble(1) <= 20.0 &&
      r.getDouble(2) > 0.0 && r.getDouble(2) <= 20.0, s"bounds: $r")
    assert(math.abs(r.getDouble(3) - (r.getDouble(1) - r.getDouble(2))) < 1e-3,
      s"diff recompute: $r")
  }

  test("c97 logrank: arms partition the subjects, events conserve, chi2 nonnegative") {
    val r = graft.queries.Surface.queries("c97_logrank")(spark, SfDir)
      .collect()(0)
    val users = Lake.table(spark, SfDir, "events")
      .select(col("user_id")).distinct().count()
    assert(r.getLong(0) + r.getLong(1) == users,
      s"arms must partition the user base: $r vs $users")
    val converters = Lake.table(spark, SfDir, "events")
      .filter(col("event_type") === "purchase" && col("value") > 90)
      .select(col("user_id")).distinct().count()
    assert(r.getLong(2) + r.getLong(3) == converters,
      s"events must conserve the converter count: $r vs $converters")
    if (!r.isNullAt(5)) assert(r.getDouble(5) >= 0.0, s"chi2 negative: $r")
  }

  test("x207 BH rejects a superset of Holm's rejections on the same statistics") {
    def rejected(name: String): Set[String] =
      graft.pipeline.Views.queries(name)(spark, SfDir)
        .collect().filter(_.getBoolean(4)).map(_.getString(0)).toSet
    val holm = rejected("x176_holm_drift")
    val bh = rejected("x207_bh_drift")
    assert(holm.subsetOf(bh),
      s"step-down FWER rejections must be contained in step-up FDR's: " +
        s"holm=$holm bh=$bh")
    // critical values: monotone increasing as rank rises is FALSE for
    // BH (level grows with i, so crit shrinks) — pin the direction
    val crits = graft.pipeline.Views.queries("x207_bh_drift")(spark, SfDir)
      .collect().map(r => r.getInt(1) -> r.getDouble(3)).sortBy(_._1)
    assert(crits.map(_._2).sliding(2).forall(p =>
      p.length < 2 || p.head >= p.last),
      s"BH critical values must shrink with rank: ${crits.toSeq}")
  }

  test("x208 DeLong: the point estimate agrees with x186's AUC; SE positive and small") {
    val d = graft.ext.Sampling.queries("x208_delong_auc_se")(spark, SfDir)
      .collect()(0)
    val aucRows = graft.ext.Sampling.queries("x186_roc_auc")(spark, SfDir)
      .collect()
    assert(!d.isNullAt(2) && !aucRows.head.isNullAt(5))
    assert(d.getDouble(2) == aucRows.head.getDouble(5),
      s"DeLong point estimate must equal x186's AUC: $d vs ${aucRows.head}")
    assert(d.getDouble(3) > 0.0 && d.getDouble(3) < 0.5,
      s"SE out of plausible band: $d")
  }

  test("x214 split-conformal: planted cells reproduce the hand-computed quantile, coverage, and set size") {
    import spark.implicits._
    // calibration (fold 0): 10 positives at score 0.9 (nonconformity
    // 1000) and 10 negatives at score 0.2 (nonconformity 2000);
    // n_cal = 20 -> k = ceil(0.9 * 21) = 19 -> q̂ = 2000.
    // eval (fold 1): 4 positives at 0.9 -> nc 1000 <= 2000 covered,
    // set {1} (neg side 9000 > 2000); 2 examples at 0.5 (1 pos,
    // 1 neg) -> nc 5000 > 2000 uncovered, empty set.
    val fc = Seq(
      (0L, 9000L, 10L, 10L),
      (0L, 2000L, 10L, 0L),
      (1L, 9000L, 4L, 4L),
      (1L, 5000L, 2L, 1L)
    ).toDF("fold", "enc_fp", "n", "n_pos")
    val r = graft.ext.Sampling.conformalFromFoldCells(fc).collect()(0)
    assert(r.getLong(0) == 20L, s"n_cal: $r")
    assert(r.getLong(1) == 2000L, s"q_fp: $r")
    assert(r.getLong(2) == 6L, s"n_eval: $r")
    assert(r.getDouble(3) == 0.6667, s"coverage: $r")
    assert(r.getDouble(4) == 0.6667, s"avg_set_size: $r")
  }

  test("x214 split-conformal: empty calibration degrades to q̂ = +inf with full coverage, never a crash") {
    import spark.implicits._
    val fc = Seq((1L, 7000L, 3L, 2L), (2L, 4000L, 2L, 0L))
      .toDF("fold", "enc_fp", "n", "n_pos")
    val r = graft.ext.Sampling.conformalFromFoldCells(fc).collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 10001L, s"degenerate: $r")
    assert(r.getDouble(3) == 1.0, s"q=inf must cover everything: $r")
    assert(r.getDouble(4) == 2.0, s"q=inf set is always {0,1}: $r")
  }

  test("x215 krippendorff: perfect agreement gives alpha 1; a planted mixed pattern matches the hand computation") {
    import spark.implicits._
    val perfect = Seq(3L, 3L, 0L, 0L, 0L).toDF("k")
    val p = graft.ext.TextAnalysis.krippendorffFromVotes(perfect).collect()(0)
    assert(p.getDouble(4) == 1.0, s"perfect agreement must score 1: $p")
    // votes k = [3, 2, 1, 0]: d_obs = 0+4+4+0 = 8, n = 12, n1 = 6,
    // n0 = 6 -> alpha = 1 - 11*8/(4*36) = 1 - 0.611111 = 0.388889
    val mixed = Seq(3L, 2L, 1L, 0L).toDF("k")
    val m = graft.ext.TextAnalysis.krippendorffFromVotes(mixed).collect()(0)
    assert(m.getLong(3) == 8L, s"doubled disagreements: $m")
    assert(m.getDouble(4) == 0.388889, s"hand-computed alpha: $m")
    // degenerate all-same-vote corpus: NULL, never a crash
    val degen = Seq(0L, 0L).toDF("k")
    assert(graft.ext.TextAnalysis.krippendorffFromVotes(degen)
      .collect()(0).isNullAt(4))
  }

  test("x209 mahalanobis: top-20 ranked descending, nonnegative distances") {
    val rows = graft.ext.Sampling.queries("x209_mahalanobis_outliers")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(!r.isNullAt(3) && r.getDouble(3) >= 0.0, s"$r"))
    val md = rows.map(_.getDouble(3))
    assert(md.sliding(2).forall(p => p.length < 2 || p.head >= p.last))
  }

  test("x210 RBO: 20 depth rows, monotone prefix overlap, statistic in [0, 1]") {
    val rows = graft.ext.TextAnalysis.queries("x210_rbo_drift")(spark, SfDir)
      .collect()
    assert(rows.length == 20)
    val ov = rows.map(_.getLong(1))
    assert(ov.sliding(2).forall(p => p.length < 2 || p.head <= p.last),
      "prefix overlap cannot shrink with depth")
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), s"overlap exceeds depth: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9,
        s"rbo out of range: $r")
    }
  }

  test("x211 ESS: bounded by n, equals n exactly under equal weights") {
    val rows = graft.ext.Sampling.queries("x211_ess_weights")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ess, ratio) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(ess > 0.0 && ess <= n + 1e-6, s"ESS must sit in (0, n]: $r")
      assert(ratio > 0.0 && ratio <= 1.0 + 1e-6, s"ratio out of range: $r")
    }
    // Kish identity: equal weights give ESS = n exactly — the gridded
    // ratio (k·w)²·n/(n·(k·w)²) cancels to n
    import spark.implicits._
    val eq = Seq(("s", 5L), ("s", 5L), ("s", 5L))
      .toDF("source", "w_fp")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w_fp")).as("sw"),
        sum(col("w_fp") * col("w_fp")).as("sww"))
      .select((col("sw").cast("double") * col("sw").cast("double") /
        col("sww").cast("double")).as("ess"))
      .collect()(0).getDouble(0)
    assert(eq == 3.0, s"equal weights must give ESS = n: $eq")
  }

  test("x191 quantile normalization: single source is the identity; small planted case exact") {
    import spark.implicits._
    import graft.ext.Sampling
    // planted: source A lengths {1,2}, B {10}; N=3
    // A r1 -> ceil(3/2)=2 -> global #2 = 2; A r2 -> 3 -> 10; B r1 -> 3 -> 10
    val q = Sampling.queries("x191_quantile_normalize")
    // identity check runs the real registered query at SfDir with one
    // synthetic source is not possible without a lake; assert the
    // planted math through the same window/interval stages instead
    val d = Seq((1L, "A", 1L), (2L, "A", 2L), (3L, "B", 10L))
      .toDF("doc_id", "source", "n_chars")
    val n = broadcast(d.agg(count(lit(1)).as("n_tot")))
    val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val byLen = org.apache.spark.sql.expressions.Window.orderBy(col("n_chars"))
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val cumFreq = d.groupBy(col("n_chars")).agg(count(lit(1)).as("f"))
      .withColumn("cum", sum(col("f")).over(byLen.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("cum_before", coalesce(sum(col("f")).over(
        byLen.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("n_chars").as("norm_chars"), col("cum"), col("cum_before"))
    val got = d.join(broadcast(srcN), "source").crossJoin(n)
      .withColumn("r", row_number().over(bySrc).cast("long"))
      .withColumn("g_idx", expr("(r * n_tot + n_s - 1) DIV n_s"))
      .join(broadcast(cumFreq),
        col("g_idx") > col("cum_before") && col("g_idx") <= col("cum"))
      .select(col("doc_id"), col("norm_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 10L, 3L -> 10L))
    // and the registered query: every norm_chars must be an existing
    // global length, with per-source rank order preserved
    val full = q(spark, SfDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(full.nonEmpty)
    val lengths = full.map(_._2).toSet
    assert(full.forall(t => lengths.contains(t._3)),
      "norm_chars must be drawn from the corpus's own length support")
    full.groupBy(_._1).foreach { case (src, xs) =>
      val s = xs.sortBy(x => (x._2, x._3))
      assert(s.map(_._3).sliding(2).forall(p =>
        p.length < 2 || p.head <= p.last), s"$src rank order broken")
    }
  }
  test("x276 turning points: oscillating series counts every interior extremum, monotone counts none") {
    import spark.implicits._
    val osc = Seq(("a", 0, 1L), ("a", 1, 3L), ("a", 2, 2L),
      ("a", 3, 5L), ("a", 4, 4L)).toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.turningPointReport(osc).collect()(0)
    assert(r.getLong(1) == 5L && r.getLong(2) == 3L, s"osc: $r")
    val expZ = BigDecimal((3.0 - 2.0 * 3.0 / 3.0) /
        math.sqrt((16.0 * 5.0 - 29.0) / 90.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == expZ, s"z: $r vs $expZ")
    val mono = (0 until 5).map(d => ("a", d, (d + 1).toLong))
      .toDF("event_type", "day", "x")
    val m = graft.pipeline.Views.turningPointReport(mono).collect()(0)
    assert(m.getLong(2) == 0L, s"mono: $m")
    val c = graft.pipeline.Views.queries("x276_turning_points")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.getLong(2) <= r.getLong(1) - 2),
      s"corpus tp: ${c.toSeq}")
  }

  test("x277 bartels RVN: trend reads 0.4, alternation reads 2.6 - exact rationals") {
    import spark.implicits._
    val trend = (0 until 5).map(d => ("a", d, (d + 1).toLong))
      .toDF("event_type", "day", "x")
    val t = graft.pipeline.Views.bartelsRankReport(trend).collect()(0)
    // r2 = 2,4,6,8,10: num2 = 4*4 = 16, den2 = 16+4+0+4+16 = 40
    assert(t.getLong(2) == 16L && t.getLong(3) == 40L &&
      t.getDouble(4) == 0.4, s"trend: $t")
    val alt = Seq(("a", 0, 1L), ("a", 1, 5L), ("a", 2, 2L),
      ("a", 3, 6L), ("a", 4, 3L)).toDF("event_type", "day", "x")
    val a = graft.pipeline.Views.bartelsRankReport(alt).collect()(0)
    // r2 = 2,8,4,10,6: num2 = 36+16+36+16 = 104, den2 = 40
    assert(a.getLong(2) == 104L && a.getDouble(4) == 2.6, s"alt: $a")
    val c = graft.pipeline.Views.queries("x277_bartels_rvn")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(4) || r.getDouble(4) >= 0.0),
      s"corpus rvn: ${c.toSeq}")
  }

  test("x278 jonckheere: fully ordered groups read the maximum 2U with the classical z") {
    import spark.implicits._
    val d = Seq(("a", 0, 1L), ("a", 1, 2L), ("b", 0, 3L), ("b", 1, 4L),
      ("c", 0, 5L), ("c", 1, 6L)).toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.jonckheereReport(d).collect()(0)
    // every cross-group pair is ordered: u2 = 2 * 12 = 24; e2 = 12.
    // No ties, so the tie-corrected variance reduces to the classical
    // form: VarJ = (6*5*17 - 3*2*1*9)/72 = 456/72 = 19/3
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L &&
      r.getLong(2) == 24L && r.getLong(3) == 12L, s"jt: $r")
    val expZ = BigDecimal((24.0 - 12.0) /
        math.sqrt(4.0 * (456.0 / 72.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == expZ, s"z: $r vs $expZ")
    val c = graft.pipeline.Views.queries("x278_jonckheere")(spark, SfDir)
      .collect()(0)
    assert(c.getLong(1) > 0L && c.getLong(2) >= 0L, s"corpus jt: $c")
  }

  test("x278 jonckheere heavy ties: Hollander-Wolfe tie-corrected variance, hand-computed") {
    import spark.implicits._
    // a = {1,1,2}, b = {1,2,2}, c = {2,3,3}: 2U = 12 + 17 + 16 = 45,
    // E[2U] = (81 - 27)/2 = 27. Tie-group sizes pooled: t(1)=3,
    // t(2)=4, t(3)=2 → st1=20, st2=30, st3=240; groups n_g=3 each →
    // sn1=18, sn2=18, sn3=198. Var(U) =
    //   (9·8·23 − 198 − 240)/72 + 18·30/(36·9·8·7) + 18·20/(8·9·8)
    // = 1218/72 + 540/18144 + 360/576 = 17.5714286 (H&W 1999 §6.2
    // tie form); z = 18/√(4·VarU) = 2.147034. The classical no-tie
    // form would read VarU = 20.25 and z = 2.0 — the tie mass
    // UNDERSTATES |z| here, which is why the correction matters.
    val d = Seq(("a", 0, 1L), ("a", 1, 1L), ("a", 2, 2L),
      ("b", 0, 1L), ("b", 1, 2L), ("b", 2, 2L),
      ("c", 0, 2L), ("c", 1, 3L), ("c", 2, 3L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.jonckheereReport(d).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L &&
      r.getLong(2) == 45L && r.getLong(3) == 27L, s"jt tied: $r")
    assert(r.getDouble(4) == 2.147034, s"tie-corrected z: $r")
  }

  test("x299 signed-rank: untied differences read the textbook large-sample z") {
    import spark.implicits._
    // d = xa - xb = [1, -2, 3, -4, 5, 6]: ranks 1..6, W+ = 1+3+5+6
    // = 15 (W2+ = 30), E = n(n+1)/4 = 10.5, Var = 6*7*13/24 = 22.75;
    // z = 4.5/sqrt(22.75) = 0.943456 -> 0.9435 (no continuity corr).
    val d = Seq(("a", 0, 10L), ("a", 1, 10L), ("a", 2, 13L),
      ("a", 3, 10L), ("a", 4, 15L), ("a", 5, 16L),
      ("b", 0, 9L), ("b", 1, 12L), ("b", 2, 10L),
      ("b", 3, 14L), ("b", 4, 10L), ("b", 5, 10L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.wilcoxonSignedRankReport(d).collect()(0)
    assert(r.getString(0) == "a" && r.getString(1) == "b" &&
      r.getLong(2) == 6L && r.getLong(3) == 0L &&
      r.getLong(4) == 30L, s"signed rank: $r")
    assert(r.getDouble(5) == 0.9435, s"z: $r")
  }

  test("x299 signed-rank ties+zeros: doubled midranks and the tie-corrected V48, hand-computed") {
    import spark.implicits._
    // d = [2, 2, -2, 4, 0]: the zero drops (n_zero = 1, n = 4). Tie
    // group |2| (t = 3, midrank 2, m2 = 4), |4| (m2 = 8): W+ = 2+2+4
    // = 8 (W2+ = 16), E = 5, Var = 4*5*9/24 - (27-3)/48 = 7;
    // z = 3/sqrt(7) = 1.133893 -> 1.1339.
    val d = Seq(("a", 0, 12L), ("a", 1, 12L), ("a", 2, 10L),
      ("a", 3, 14L), ("a", 4, 10L),
      ("b", 0, 10L), ("b", 1, 10L), ("b", 2, 12L),
      ("b", 3, 10L), ("b", 4, 10L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.wilcoxonSignedRankReport(d).collect()(0)
    assert(r.getLong(2) == 4L && r.getLong(3) == 1L &&
      r.getLong(4) == 16L, s"signed rank tied: $r")
    assert(r.getDouble(5) == 1.1339, s"tie-corrected z: $r")
  }

  test("x299/x300 pair days over the COMPLETE grid: a one-sided day pairs against 0") {
    import spark.implicits._
    // a fires only on day 0 (x=5), b only on day 1 (x=3): the grid
    // reads d = [5, -3], NOT an empty inner join. Ranks |3|=1,
    // |5|=2 -> W2+ = 4, E2 = 3, V48 = 2*2*3*5 = 60,
    // z = 1*sqrt(12/60) = 0.4472.
    val d = Seq(("a", 0, 5L), ("b", 1, 3L)).toDF("event_type", "day", "x")
    val w = graft.pipeline.Views.wilcoxonSignedRankReport(d).collect()(0)
    assert(w.getLong(2) == 2L && w.getLong(3) == 0L && w.getLong(4) == 4L,
      s"grid w: $w")
    assert(w.getDouble(5) == 0.4472, s"grid z: $w")
    val s = graft.pipeline.Views.signTestReport(d).collect()(0)
    // pos = 1, neg = 1: the signed numerator is exactly 0 (never
    // -0.0 -- the sign folds into the integer before the cast)
    assert(s.getLong(2) == 1L && s.getLong(3) == 1L && s.getLong(4) == 0L,
      s"grid sign: $s")
    assert(s.getDouble(5) == 0.0 &&
      !(1.0 / s.getDouble(5) < 0.0), s"sign z must be +0.0: $s")
  }

  test("x299 signed-rank all-tied pair: stays in the report with n_pairs=0 and NULL z") {
    import spark.implicits._
    // a and b fire identically on every day: every difference is
    // zero, so the pair has NO ranked days — it must still appear
    // (n_pairs = 0, n_zero = 3, W2+ = 0, z NULL), mirroring x300's
    // handling, not silently vanish from the monitored-pair report.
    val d = Seq(("a", 0, 4L), ("a", 1, 7L), ("a", 2, 2L),
      ("b", 0, 4L), ("b", 1, 7L), ("b", 2, 2L))
      .toDF("event_type", "day", "x")
    val w = graft.pipeline.Views.wilcoxonSignedRankReport(d).collect()
    assert(w.length == 1, s"all-tied pair vanished: ${w.toSeq}")
    val r = w(0)
    assert(r.getString(0) == "a" && r.getString(1) == "b" &&
      r.getLong(2) == 0L && r.getLong(3) == 3L && r.getLong(4) == 0L,
      s"all-tied row: $r")
    assert(r.isNullAt(5), s"all-tied z must be NULL: $r")
  }

  test("x300 sign test: continuity-corrected z on a 3-vs-1 split") {
    import spark.implicits._
    // d = [2, 2, -2, 4, 0]: pos = 3, neg = 1, zero dropped (n = 4);
    // num = +(|2*3-4| - 1) = 1, z = 1/sqrt(4) = 0.5.
    val d = Seq(("a", 0, 12L), ("a", 1, 12L), ("a", 2, 10L),
      ("a", 3, 14L), ("a", 4, 10L),
      ("b", 0, 10L), ("b", 1, 10L), ("b", 2, 12L),
      ("b", 3, 10L), ("b", 4, 10L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.signTestReport(d).collect()(0)
    assert(r.getLong(2) == 3L && r.getLong(3) == 1L &&
      r.getLong(4) == 1L, s"sign: $r")
    assert(r.getDouble(5) == 0.5, s"sign z: $r")
    val c = graft.pipeline.Views.queries("x300_sign_test")(spark, SfDir)
      .collect()
    assert(c.length == 10, s"corpus pairs: ${c.length}")
  }

  test("x301 distance correlation: linear coupling reads exactly 1, constants read NULL") {
    import spark.implicits._
    // xb = 2*xa makes every b_ij = 2*a_ij, so dCov2 = 2*dVarX*... and
    // the ratio collapses to exactly 1 in the exact integer algebra.
    val lin = Seq(("a", 0, 1L), ("a", 1, 2L), ("a", 2, 3L),
      ("b", 0, 2L), ("b", 1, 4L), ("b", 2, 6L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.distanceCorrelationReport(lin).collect()(0)
    assert(r.getLong(2) == 3L && r.getDouble(3) == 1.0, s"linear dcor: $r")
    // a constant partner has dVarY = 0: the readout must be NULL,
    // not a divide-by-zero or NaN
    val const = Seq(("a", 0, 1L), ("a", 1, 2L), ("a", 2, 3L),
      ("b", 0, 5L), ("b", 1, 5L), ("b", 2, 5L))
      .toDF("event_type", "day", "x")
    val c = graft.pipeline.Views.distanceCorrelationReport(const).collect()(0)
    assert(c.isNullAt(3), s"constant dcor must be NULL: $c")
  }

  test("x301 distance correlation: the V-statistic integers match a hand computation") {
    import spark.implicits._
    // xa = [10,11,12], xb = [20,21,20] (distances shift-invariant, so
    // this is [0,1,2] vs [0,1,0]): sab=4, sa=8, sb=4, s3=10, saa=12,
    // sbb=4, s3a=22, s3b=6. num = 9*4+8*4-6*10 = 8, dvx = 108+64-132
    // = 40, dvy = 36+16-36 = 16; dcor = sqrt(8/sqrt(640)) = 0.562341.
    val d = Seq(("a", 0, 10L), ("a", 1, 11L), ("a", 2, 12L),
      ("b", 0, 20L), ("b", 1, 21L), ("b", 2, 20L))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.distanceCorrelationReport(d).collect()(0)
    assert(r.getLong(2) == 3L && r.getDouble(3) == 0.562341, s"dcor: $r")
    val corpus = graft.pipeline.Views
      .queries("x301_distance_correlation")(spark, SfDir).collect()
    assert(corpus.length == 10 && corpus.forall(r =>
      r.isNullAt(3) || (r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)),
      s"corpus dcor out of [0,1]: ${corpus.toSeq}")
  }

  test("x279 cochran-armitage: a linear dose-response fixture solves chi2 = 1.25 exactly") {
    import spark.implicits._
    val w = Seq((0L, 10L, 1L), (1L, 10L, 2L), (2L, 10L, 3L))
      .toDF("s", "n", "x")
    val r = graft.pipeline.Views.cochranArmitageReport(w).collect()(0)
    // T = 0 + (2*30 - 10*6) + 2*(3*30 - 10*6) = 60; s_var = 30*50 - 900 = 600
    // chi2 = 60^2 * 30 / (6 * 24 * 600) = 1.25
    assert(r.getLong(0) == 3L && r.getLong(1) == 30L && r.getLong(2) == 6L &&
      r.getLong(3) == 60L && r.getDouble(4) == 1.25, s"ca: $r")
    val c = graft.pipeline.Views.queries("x279_ca_trend")(spark, SfDir)
      .collect()(0)
    assert(c.getLong(1) > 0L && (c.isNullAt(4) || c.getDouble(4) >= 0.0),
      s"corpus ca: $c")
  }

  test("c102 gehan-wilcoxon: exact-integer W on the shared risk spine, chi2 consistent") {
    val r = graft.queries.Surface.queries("c102_gehan_wilcoxon")(spark, SfDir)
      .collect()(0)
    assert(r.getLong(0) > 0L && r.getLong(1) + r.getLong(2) > 0L,
      s"gehan spine: $r")
    // chi2 is W^2/Var: nonnegative whenever defined
    assert(r.isNullAt(4) || r.getDouble(4) >= 0.0, s"gehan chi2: $r")
  }

  test("c103 e-value: E >= RR* >= 1 and the closed form recomputes from hr_mh") {
    val r = graft.queries.Surface.queries("c103_evalue")(spark, SfDir)
      .collect()(0)
    if (!r.isNullAt(0)) {
      val hr = r.getDouble(0)
      val rr = math.max(hr, 1.0 / hr)
      assert(r.getDouble(1) == BigDecimal(rr)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"rr: $r")
      val expE = BigDecimal(rr + math.sqrt(rr * (rr - 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) == expE && r.getDouble(2) >= r.getDouble(1),
        s"evalue: $r vs $expE")
    }
  }

  test("x280 mattr: per-source moving-average TTR lands in (0, 1] over >= one window per doc") {
    val rows = graft.ext.TextAnalysis.queries("x280_mattr")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty, "no sources produced a MATTR window")
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"windows < docs: $r")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0, s"mattr range: $r")
    }
  }

  test("x281 CvM drift: identical halves read 0, a clean shift reads 0.75 exactly") {
    import spark.implicits._
    val same = Seq(("a", "ref", 1L, 2L), ("a", "ref", 2L, 2L),
      ("a", "cur", 1L, 2L), ("a", "cur", 2L, 2L))
      .toDF("event_type", "half", "bucket", "c")
    val s0 = graft.pipeline.Views.cvmReportFromCounts(same).collect()(0)
    assert(s0.getLong(1) == 4L && s0.getLong(2) == 4L &&
      s0.getDouble(3) == 0.0, s"same: $s0")
    val shift = Seq(("a", "ref", 1L, 2L), ("a", "ref", 2L, 2L),
      ("a", "cur", 3L, 2L), ("a", "cur", 4L, 2L))
      .toDF("event_type", "half", "bucket", "c")
    val s1 = graft.pipeline.Views.cvmReportFromCounts(shift).collect()(0)
    // T = (4*4/64) * (2*.25 + 2*1 + 2*.25) = 0.75
    assert(s1.getDouble(3) == 0.75, s"shift: $s1")
    val c = graft.pipeline.Views.queries("x281_cvm_drift")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(3) || r.getDouble(3) >= 0.0),
      s"corpus cvm: ${c.toSeq}")
  }

  test("x282 mood scale: a pure spread change scores the tails, straddling block exact") {
    import spark.implicits._
    // ref = 4 center obs, cur = 4 tail obs: same median, wider scale.
    // Block [3,6] straddles the center: exact S4 = 20 where the naive
    // midrank-squared shortcut reads 0 - the block-sum formula is the test.
    val d = Seq(("a", "cur", 1L, 2L), ("a", "ref", 2L, 4L),
      ("a", "cur", 3L, 2L)).toDF("event_type", "half", "bucket", "c")
    val r = graft.pipeline.Views.moodScaleReportFromCounts(d).collect()(0)
    // M4 = 74 + 0 + 74 = 148; E = 4*63/3 = 84; Var = 768
    // (m4 publishes as a string: the DECIMAL(38,0) sum stringified so
    // the readout never wraps a BIGINT at lake scale)
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L &&
      r.getString(3) == "148", s"m4: $r")
    val expZ = BigDecimal((148.0 - 84.0) / math.sqrt(768.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == expZ, s"z_scale: $r vs $expZ")
    // MW z is 0 on this symmetric shift, so the combo is z_scale^2
    val expCombo = BigDecimal(expZ * expZ)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == expCombo, s"lepage: $r vs $expCombo")
    val c = graft.pipeline.Views.queries("x282_mood_scale")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(5) || r.getDouble(5) >= 0.0),
      s"corpus mood: ${c.toSeq}")
  }

  test("x293/x294/x295 drift-family completions: AD, Cucconi, Ansari-Bradley hand fixtures") {
    import spark.implicits._
    // ref = {1,2,2,3,5,5,5,8}, cur = {2,3,3,6,6,8,9} (nr=8, nc=7,
    // N=15, heavy ties). Exact references (python, Fraction):
    //   AD A² = Σ l·D²/(B(N−B)) / (nr·nc) = 1.196834 (the 10⁻⁶ grid
    //     loses nothing at 6 dp here; exact rational 1.1968344…)
    //   Cucconi quadrupled-midrank sums qr=3011, qs=1667 →
    //     U=1.2244, V=−1.1388, C=0.7551
    //   AB doubled statistic ab2=55 (= 27.5 in score units, the
    //     average-score tie convention), z=−0.5442 (odd-N moments)
    val cnt = Seq(
      ("a", "ref", 1L, 1L), ("a", "ref", 2L, 2L), ("a", "ref", 3L, 1L),
      ("a", "ref", 5L, 3L), ("a", "ref", 8L, 1L),
      ("a", "cur", 2L, 1L), ("a", "cur", 3L, 2L), ("a", "cur", 6L, 2L),
      ("a", "cur", 8L, 1L), ("a", "cur", 9L, 1L))
      .toDF("event_type", "half", "bucket", "c")
    val ad = graft.pipeline.Views.adDriftReportFromCounts(cnt).collect()(0)
    assert(ad.getLong(1) == 8L && ad.getLong(2) == 7L &&
      ad.getDouble(3) == 1.196834, s"ad: $ad")
    val cu = graft.pipeline.Views.cucconiReportFromCounts(cnt).collect()(0)
    assert(cu.getDouble(3) == 1.2244 && cu.getDouble(4) == -1.1388 &&
      cu.getDouble(5) == 0.7551, s"cucconi: $cu")
    val ab = graft.pipeline.Views.ansariReportFromCounts(cnt).collect()(0)
    assert(ab.getString(3) == "55" && ab.getDouble(4) == -0.5442,
      s"ansari: $ab")
    // identical halves: AD reads 0 (D ≡ 0 on every cell), Cucconi's
    // C is a small non-negative number, AB z defined
    val same = Seq(("a", "ref", 1L, 2L), ("a", "ref", 2L, 2L),
      ("a", "cur", 1L, 2L), ("a", "cur", 2L, 2L))
      .toDF("event_type", "half", "bucket", "c")
    val ad0 = graft.pipeline.Views.adDriftReportFromCounts(same).collect()(0)
    assert(ad0.getDouble(3) == 0.0, s"same-halves AD must be 0: $ad0")
    // corpus sanity: one row per event_type, statistics defined
    Seq("x293_ad_drift", "x294_cucconi", "x295_ansari_bradley").foreach { q =>
      val c = graft.pipeline.Views.queries(q)(spark, SfDir).collect()
      assert(c.nonEmpty, s"$q empty on corpus")
    }
  }

  test("x298 k-sample AD: three tied samples match the exact-rational reference") {
    import spark.implicits._
    // a = {1,2,2,5,7}, b = {2,3,5,5,8,8}, c = {1,4,4,6} (N = 15):
    // Scholz–Stephens eq. (3) exact rational A² = 1.4285895…; the
    // 10⁻⁶ grid version reads 1.428585 (each floor loses < 10⁻⁶)
    val cnt = Seq(
      ("a", "ref", 1L, 1L), ("a", "ref", 2L, 2L), ("a", "ref", 5L, 1L),
      ("a", "ref", 7L, 1L),
      ("b", "ref", 2L, 1L), ("b", "ref", 3L, 1L), ("b", "ref", 5L, 2L),
      ("b", "ref", 8L, 2L),
      ("c", "ref", 1L, 1L), ("c", "ref", 4L, 2L), ("c", "ref", 6L, 1L))
      .toDF("event_type", "half", "bucket", "c")
    val r = graft.pipeline.Views.adKsampleReport(cnt).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 15L &&
      r.getDouble(2) == 1.428585 && r.getLong(3) == 2L, s"ad k: $r")
    // identical samples: every D_ij = 0, A² reads exactly 0
    val same = Seq(("a", "ref", 1L, 2L), ("a", "ref", 2L, 2L),
      ("b", "ref", 1L, 2L), ("b", "ref", 2L, 2L))
      .toDF("event_type", "half", "bucket", "c")
    val r0 = graft.pipeline.Views.adKsampleReport(same).collect()(0)
    assert(r0.getDouble(2) == 0.0, s"identical samples: $r0")
    val c = graft.pipeline.Views.queries("x298_ad_ksample")(spark, SfDir)
      .collect()(0)
    assert(c.getLong(0) >= 2L && c.getDouble(2) >= 0.0, s"corpus: $c")
    // the s66 twin reads the same number off the maintained state
    val tw = graft.streaming.Streams.foreachBatchAdKsample(spark, SfDir)
      .collect()(0)
    assert(tw == c, s"s66 twin diverges: $tw vs $c")
  }

  test("x296 page-hinkley: a level shift alarms at the grid-exact peak") {
    import spark.implicits._
    // x = 10,12,11,13,12 then 30,31,29,33,30 (shift at day 5):
    // running-mean deviations on the 10⁻⁶ floor grid cumulate to
    // PH_fp = 64,522,223 with the peak at the last day (the running
    // mean keeps chasing the new level, so m keeps climbing)
    val d = Seq(10L, 12L, 11L, 13L, 12L, 30L, 31L, 29L, 33L, 30L)
      .zipWithIndex.map { case (x, i) => ("a", i, x) }
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.pageHinkleyReport(d).collect()(0)
    assert(r.getLong(1) == 10L && r.getDouble(2) == 64.5222 &&
      r.getLong(3) == 9L, s"ph: $r")
    // a constant series never leaves zero
    val flat = (0 until 6).map(i => ("a", i, 7L))
      .toDF("event_type", "day", "x")
    val r0 = graft.pipeline.Views.pageHinkleyReport(flat).collect()(0)
    assert(r0.getDouble(2) == 0.0, s"flat ph: $r0")
    val c = graft.pipeline.Views.queries("x296_page_hinkley")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(_.getDouble(2) >= 0.0), s"corpus: ${c.toSeq}")
  }

  test("x297 variance ratio: mean-reverting fixture reads VR < 1 with the exact variances") {
    import spark.implicits._
    // same series at q = 3: contiguous increments give exact variance
    // numerators v1 = 2876 (n1=9), vq = 3470 (nq=7) →
    // VR = (3470/49)/(3·2876/81) = 0.664826, z = −0.6745 on the
    // homoskedastic 2(2q−1)(q−1)/(3q(T−1)) band
    val d = Seq(10L, 12L, 11L, 13L, 12L, 30L, 31L, 29L, 33L, 30L)
      .zipWithIndex.map { case (x, i) => ("a", i, x) }
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.varianceRatioReport(d, q = 3).collect()(0)
    assert(r.getLong(1) == 10L && r.getLong(2) == 9L && r.getLong(3) == 7L,
      s"vr counts: $r")
    assert(r.getDouble(4) == 0.664826 && r.getDouble(5) == -0.6745,
      s"vr: $r")
    // a calendar gap must DROP the straddling increments, never read
    // row-adjacent days as calendar-contiguous
    val gap = Seq(("a", 0, 10L), ("a", 1, 12L), ("a", 5, 30L),
      ("a", 6, 31L)).toDF("event_type", "day", "x")
    val rg = graft.pipeline.Views.varianceRatioReport(gap, q = 2).collect()(0)
    assert(rg.getLong(2) == 2L && rg.getLong(3) == 0L,
      s"gap must drop every non-contiguous increment: $rg")
    assert(rg.isNullAt(4) && rg.isNullAt(5),
      s"degenerate frame must publish NULLs, not divide: $rg")
    val c = graft.pipeline.Views.queries("x297_variance_ratio")(spark, SfDir)
      .collect()
    assert(c.nonEmpty, s"corpus: ${c.toSeq}")
  }

  test("x284 grubbs: a planted spike is the peak with the closed-form G") {
    import spark.implicits._
    val d = Seq(("a", 0, 1L), ("a", 1, 1L), ("a", 2, 1L), ("a", 3, 1L),
      ("a", 4, 9L)).toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.grubbsReport(d).collect()(0)
    // n=5, sx=13, sxx=85: dev = |9*5-13| = 32 at day 4
    assert(r.getLong(1) == 5L && r.getLong(2) == 32L && r.getInt(3) == 4,
      s"grubbs: $r")
    val expG = BigDecimal(32.0 * math.sqrt(4.0 / (5.0 * 256.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == expG, s"g: $r vs $expG")
    val c = graft.pipeline.Views.queries("x284_grubbs")(spark, SfDir).collect()
    assert(c.nonEmpty && c.forall(r => r.isNullAt(4) || r.getDouble(4) >= 0.0),
      s"corpus grubbs: ${c.toSeq}")
  }

  test("x286 hurst R/S: a 28-day trend reads full blocks and a persistent H") {
    import spark.implicits._
    val d = (0 until 28).map(i => ("a", i, (i + 1).toLong))
      .toDF("event_type", "day", "x")
    val r = graft.pipeline.Views.hurstRsReport(d).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 1L,
      s"blocks: $r")
    // pure trend: strongly persistent
    assert(!r.isNullAt(7) && r.getDouble(7) > 0.7 && r.getDouble(7) < 1.3,
      s"h: $r")
    // H recomputes from the published ln(R/S) means (rounded cols)
    val recomputed = (r.getDouble(6) - r.getDouble(4)) / 1.3862943611198906
    assert(math.abs(r.getDouble(7) - recomputed) < 1e-4, s"h recompute: $r")
    val c = graft.pipeline.Views.queries("x286_hurst_rs")(spark, SfDir)
      .collect()
    assert(c.nonEmpty, "corpus hurst empty")
  }

  test("x285 rouge pairs: hand-computed recall and F on a planted containment pair") {
    import spark.implicits._
    val d = Seq((1L, "the cat sat on the mat"), (2L, "the cat sat"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = graft.ext.Dedup.rougeOnPairs(d, pairs).collect()(0)
    assert(r.getLong(2) == 3L && r.getLong(3) == 2L, s"overlaps: $r")
    assert(r.getDouble(4) == 0.5, s"rouge1_r: $r")
    assert(r.getDouble(5) == 0.666667, s"rouge1_f: $r")
    assert(r.getDouble(6) == 0.571429, s"rouge2_f: $r")
    val c = graft.ext.Dedup.queries("x285_rouge_pairs")(spark, SfDir)
      .collect()
    assert(c.nonEmpty && c.forall(x => x.getDouble(4) >= 0.0 &&
      x.getDouble(4) <= 1.0), s"corpus rouge: ${c.take(3).toSeq}")
  }

  test("x283 hosmer-lemeshow: ten bins, df = used - 2, nonnegative chi2") {
    val r = graft.ext.Sampling.queries("x283_hosmer_lemeshow")(spark, SfDir)
      .collect()(0)
    assert(r.getLong(0) >= 1L && r.getLong(1) <= r.getLong(0), s"bins: $r")
    assert(r.getLong(2) == r.getLong(1) - 2L, s"df: $r")
    assert(r.isNullAt(3) || r.getDouble(3) >= 0.0, s"hl: $r")
  }

  test("c104 cumulative incidence: CIFs are monotone, bounded, and sum below 1") {
    val rows = graft.queries.Surface.queries("c104_cumulative_incidence")(
      spark, SfDir).collect()
    assert(rows.nonEmpty, "no event days")
    var (p1, p2) = (0.0, 0.0)
    rows.foreach { r =>
      assert(r.getLong(1) > 0L, s"risk: $r")
      if (!r.isNullAt(4) && !r.isNullAt(5)) {
        val (c1, c2) = (r.getDouble(4), r.getDouble(5))
        assert(c1 + 1e-9 >= p1 && c2 + 1e-9 >= p2, s"monotone: $r")
        assert(c1 + c2 <= 1.0 + 1e-6, s"bounded: $r")
        p1 = c1; p2 = c2
      }
    }
  }

  test("x287 participation ratio: effective dimensionality within [1, d], norm within (0, 1]") {
    val r = graft.ext.Similarity.queries("x287_participation_ratio")(
      spark, SfDir).collect()(0)
    assert(r.getLong(0) > 0L && r.getLong(1) > 0L, s"counts: $r")
    assert(r.getDouble(2) >= 1.0 - 1e-9 &&
      r.getDouble(2) <= r.getLong(1).toDouble + 1e-9, s"pr range: $r")
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0 + 1e-9,
      s"pr_norm: $r")
  }

  test("x288 self-bleu: the 200-doc sample scores all ordered pairs in [0, 1]") {
    val r = graft.ext.Dedup.queries("x288_self_bleu")(spark, SfDir)
      .collect()(0)
    val n = graft.ext.Dedup.queries("x01_dedup_exact")(spark, SfDir)
      .sparkSession.read.parquet(s"$SfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 200).count()
    assert(r.getLong(0) == n * (n - 1), s"pairs: $r vs n=$n")
    assert(r.isNullAt(2) || (r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0),
      s"self_bleu: $r")
  }

  test("x289 bigram entropy: conditional entropy is nonnegative and below ln(vocab)") {
    val r = graft.ext.TextAnalysis.queries("x289_bigram_entropy")(
      spark, SfDir).collect()(0)
    assert(r.getLong(0) > 0L && r.getLong(1) >= r.getLong(0), s"counts: $r")
    assert(r.getDouble(2) >= 0.0, s"h: $r")
  }

  test("x290 good-turing: unseen mass recomputes as n1/N, adjusted counts positive") {
    val r = graft.ext.TextAnalysis.queries("x290_good_turing")(spark, SfDir)
      .collect()(0)
    assert(r.getLong(0) > 0L && r.getLong(1) >= r.getLong(0), s"counts: $r")
    val exp = BigDecimal(r.getLong(2).toDouble / r.getLong(1).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == exp, s"p_unseen recompute: $r vs $exp")
    assert(r.isNullAt(6) || r.getDouble(6) >= 0.0, s"r1*: $r")
  }

  test("c105/c106 TPC-H Q3/Q5: top-k revenue ordering exact and descending") {
    val q3 = graft.queries.Surface.queries("c105_tpch_q3")(spark, SfDir)
      .collect()
    assert(q3.nonEmpty && q3.length <= 10, s"q3 rows: ${q3.length}")
    val revs = q3.map(_.getDouble(1))
    assert(revs.sliding(2).forall(p => p.length < 2 || p.head >= p.last - 1e-9),
      s"q3 not descending: ${revs.toSeq}")
    val q5 = graft.queries.Surface.queries("c106_tpch_q5")(spark, SfDir)
      .collect()
    assert(q5.nonEmpty, "q5 empty")
    val r5 = q5.map(_.getDouble(1))
    assert(r5.sliding(2).forall(p => p.length < 2 || p.head >= p.last - 1e-9),
      s"q5 not descending: ${r5.toSeq}")
  }

  test("x291 luhn screen: the planted valid card is accepted, its off-by-one twin rejected") {
    val rows = graft.ext.TextAnalysis.queries("x291_luhn_screen")(spark, SfDir)
      .collect()
    val planted = rows.find(_.getString(0) == "planted")
    assert(planted.isDefined, s"planted source missing: ${rows.toSeq}")
    val p = planted.get
    assert(p.getLong(1) == 2L && p.getLong(2) == 1L && p.getLong(3) == 1L,
      s"luhn: $p")
  }

  test("x292 kmv set ops: estimates track the exact controls within sketch error") {
    val rows = graft.ext.Sampling.queries("x292_kmv_setops")(spark, SfDir)
      .collect()
    assert(rows.nonEmpty, "no type pairs")
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3), s"union < inter: $r")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0, s"jaccard: $r")
      val relU = math.abs(r.getLong(4) - r.getLong(2)).toDouble /
        math.max(1L, r.getLong(2))
      assert(relU < 0.5, s"union est off by ${relU}: $r")
    }
  }

}
